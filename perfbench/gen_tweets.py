"""Seeded Sentiment140-format inputs for the sentiment_serving workload.

`csv` writes a headerless, latin-1, 6-column training CSV (sentiment, id,
date, query, user, tweet) whose tweets mix class-bearing words with filler,
URLs, @mentions, punctuation and latin-1 letters, plus a few neutral (2)
rows the pipeline must filter out. `batches` writes scoring batches, one
tweet per line, one file per batch.

Usage:
  python3 gen_tweets.py csv <out.csv> <rows> <seed>
  python3 gen_tweets.py batches <out_dir> <count> <size> <seed>
"""
import csv
import os
import random
import sys

POSITIVE = ("love great happy awesome thanks good fun best nice excited "
            "amazing cool glad yay win beautiful").split()
NEGATIVE = ("hate sad bad sick tired miss sucks awful worst ugh cry "
            "broken lost angry hurt boring").split()
FILLER = ("today work home night morning just got going the a to my is "
          "with and for this that day week new time back out game school "
          "music movie coffee rain weekend friends phone train").split()
LATIN1 = ["café", "naïve", "über", "señor", "crème", "déjà", "jalapeño", "façade"]
DAYS = ["Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun"]
MONTHS = ["Apr", "May", "Jun"]


def tweet(rng, label):
    own, other = (POSITIVE, NEGATIVE) if label == 4 else (NEGATIVE, POSITIVE)
    words = [rng.choice(FILLER) for _ in range(rng.randint(4, 14))]
    for _ in range(rng.randint(1, 3)):
        if label == 2:
            pool = FILLER
        else:
            pool = own if rng.random() < 0.85 else other
        words.insert(rng.randint(0, len(words)), rng.choice(pool))
    if rng.random() < 0.3:
        words.insert(0, f"@user{rng.randint(1, 5000)}")
    if rng.random() < 0.2:
        words.append(f"http://bit.ly/{rng.randint(10**5, 10**6):x}")
    if rng.random() < 0.15:
        words.insert(rng.randint(0, len(words)), rng.choice(LATIN1))
    text = " ".join(words)
    if rng.random() < 0.5:
        text = text[0].upper() + text[1:]
    return text + rng.choice(["", "!", "!!", "...", " :)", " :(", "?", "."])


def write_csv(path, rows, seed):
    rng = random.Random(seed)
    with open(path, "w", encoding="latin-1", newline="") as f:
        w = csv.writer(f, quoting=csv.QUOTE_ALL)
        for i in range(rows):
            r = rng.random()
            label = 2 if r < 0.02 else (0 if r < 0.51 else 4)
            date = (f"{rng.choice(DAYS)} {rng.choice(MONTHS)} {rng.randint(1, 28):02d} "
                    f"{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:"
                    f"{rng.randint(0, 59):02d} PDT 2009")
            w.writerow([label, 1_467_810_000 + i, date, "NO_QUERY",
                        f"user{rng.randint(1, 50_000)}", tweet(rng, label)])


def write_batches(out_dir, count, size, seed):
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    for b in range(count):
        lines = [tweet(rng, rng.choice((0, 4))) for _ in range(size)]
        with open(os.path.join(out_dir, f"batch-{b:04d}.txt"), "w",
                  encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    if sys.argv[1] == "csv":
        write_csv(sys.argv[2], int(sys.argv[3]), int(sys.argv[4]))
    else:
        write_batches(sys.argv[2], int(sys.argv[3]), int(sys.argv[4]), int(sys.argv[5]))
