#!/usr/bin/env python3
"""Benchmark of the graft Spark library: two workloads, one command.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the library
(src/main/scala) and the harness (perfbench/src) with the Scala compiler
that ships with Spark, and generates the input tables; later runs reuse
both from the build directory (`$CARGO_TARGET_DIR`, else `.bench_build`).
Every run then starts one JVM in a fresh working directory, with its own
warehouse, Spark local and temp directories, so no layout written by one
run is seen by the next. One thread issues operations in a closed loop on
local[k], k = min(4, available cores). Setup (counted in setup_s) is a cold
pass or the training, then one untimed warm-up pass over the workload's
operations; the timed phase then runs whole passes, each in an order the
seed permutes, until --seconds have passed, so every run times the same mix.

Workloads:
  registry           8 read-only Relational and EventQueries registry queries
                     and 4 registry queries that consume session memos, in
                     one session: a cold pass, then warm passes
  sentiment_serving  train five classifiers on a Sentiment140-format CSV, then
                     score tweet batches with every model into a parquet sink

The last line of stdout is one JSON object: `correct`, `attempted`, `failed`
and `metrics` (the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1). Failed operations are listed on the line before it as
[exception class, message] pairs.

Expected results live in perfbench/expected/: registry.json is written by
perfbench/confirm_oracle.py from query results the DuckDB oracle checked;
sentiment_serving.json holds the runs table and the digest of the scored
fixed check batch, as printed by a failing check.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
SRC = os.path.join(ROOT, "src", "main", "scala")

WORKLOADS = ("registry", "sentiment_serving")
TABLE_SF = 0.01           # registry input scale (lineitem: 60k rows)
DATA_SEED = 42            # fixed, so expected digests stay valid
CSV_ROWS = 5_000          # training CSV rows
BATCHES, BATCH_SIZE = 7, 250  # seeded scoring batches, plus one fixed check batch
CHECK_BATCH = "check.txt"
CPUS = min(4, len(os.sched_getaffinity(0)))
HEAP = "3g"
JVM_TIMEOUT_S = 170

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]

# metric name -> unit, as BENCHMARK.json at the repository root declares them
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _DECL = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _DECL["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _DECL["per_layer"]}
# layers that do not run in a workload report 0 and are named on an n/a line
NOT_RUN = {
    "registry": ["sources.write_files", "ml.train_s", "ml.train_jobs", "ml.load_s"],
    "sentiment_serving": ["memo.builds", "memo.build_s", "memo.warm_rebuilds",
                          "operators.relational_op_s", "memo.consumer_op_s"],
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_hash(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def sources(root, ext):
    out = []
    for d, _, fs in os.walk(root):
        out += [os.path.join(d, f) for f in fs if f.endswith(ext)]
    return out


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the unmanagedBase the
    sbt build compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    fail("no Spark jars: set SPARK_HOME or run from the repository root")


def compile_scala(jars, srcs, classpath, out):
    """Compile `srcs` into `out` once; the directory name carries the hash."""
    if os.path.isdir(out):
        return
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.pathsep.join(classpath + [os.path.join(jars, "*")])
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
                        "scala.tools.nsc.Main", "-nowarn", "-classpath", cp, "-d", tmp] + srcs,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compile failed:\n" + r.stdout[-4000:])
    os.rename(tmp, out)


def build(build_dir):
    if not os.path.isdir(SRC):
        fail(f"no library sources at {os.path.relpath(SRC, ROOT)}: run from the repository root")
    jars = spark_jars()
    jar_list = ",".join(sorted(os.listdir(jars)))
    lib_srcs = sources(SRC, ".scala")
    lib = os.path.join(build_dir, "lib-" + tree_hash(lib_srcs, jar_list))
    compile_scala(jars, lib_srcs, [], lib)
    h_srcs = sources(os.path.join(HERE, "src"), ".scala")
    harness = os.path.join(build_dir, "harness-" + tree_hash(h_srcs, lib))
    compile_scala(jars, h_srcs, [lib], harness)
    gen = os.path.join(HERE, "gen_tables.py")
    tables = os.path.join(build_dir, f"tables-sf{TABLE_SF}-" + tree_hash([gen], str(DATA_SEED)))
    if not os.path.isdir(tables):
        shutil.rmtree(tables + ".tmp", ignore_errors=True)
        subprocess.run([sys.executable, gen, tables + ".tmp", str(TABLE_SF), str(DATA_SEED)],
                       check=True)
        os.rename(tables + ".tmp", tables)
    return jars, [lib, harness], tables


def expected_path(workload):
    return os.path.join(HERE, "expected", f"{workload}.json")


def check(workload, res):
    """Marks wrong answers as failed ops; returns (problems, failures)."""
    problems = []
    ops = res["ops"]
    try:
        with open(expected_path(workload)) as f:
            want = json.load(f)
    except OSError:
        fail(f"no expected results at {os.path.relpath(expected_path(workload), ROOT)}")
    if workload == "sentiment_serving":
        # "ok": the sink holds the batch as the trained models score it; a
        # check op carries its digest instead, compared with the stored one
        for o in ops:
            ok = want.get("scored_check_batch") if o["name"] == "check" else "ok"
            if o["error"] is None and o["digest"] != ok:
                o["error"] = ["WrongAnswer", f"digest {o['digest']}, expected {ok}"]
        got = {"dataset_version": res["dataset_version"], "runs": res["runs"]}
        if res["dataset_version"] != res["trained_version"] or res["runs_match"] is not True:
            problems.append("model directory does not round-trip the trained runs table")
        if got != {k: want.get(k) for k in got}:
            problems.append("runs table differs from expected: " + json.dumps(got))
    else:
        for o in ops:
            if o["error"] is None and want.get(o["name"]) != o["digest"]:
                o["error"] = ["WrongAnswer",
                              f"digest {o['digest']}, expected {want.get(o['name'])}"]
    sc = res.get("self_check")
    if sc and sc["recorder_jobs"] != sc["tracker_jobs"]:
        problems.append(f"job recorder saw {sc['recorder_jobs']} jobs for {sc['op']}, "
                        f"the status tracker {sc['tracker_jobs']}")
    setup_failures = [o for o in ops if not o["timed"] and o["error"] is not None]
    if setup_failures:
        problems.append(f"{len(setup_failures)} setup operations failed")
    return problems, [[o["name"]] + o["error"] for o in ops if o["error"] is not None]


def end_to_end(res):
    timed = [o for o in res["ops"] if o["timed"]]
    lat = [o["s"] for o in timed if o["error"] is None]
    # every timed pass issues the same operations; a run's throughput is the
    # median of its passes' throughputs, so a short stall moves one pass only
    size = len(timed) // len(res["pass_s"])
    rates = [sum(o["error"] is None for o in timed[i * size:(i + 1) * size]) / s
             for i, s in enumerate(res["pass_s"])]
    vals = {
        "setup_s": res["setup_s"],
        "ops_per_s": statistics.median(rates),
        "op_p50_s": statistics.median(lat) if lat else 0.0,
        "op_p90_s": statistics.quantiles(lat, n=10, method="inclusive")[-1]
        if len(lat) > 1 else sum(lat),
        "ok_frac": sum(o["error"] is None for o in timed) / len(timed),
        "cache_mb": res["cache_mb"],
    }
    return {k: {"value": vals[k], "unit": u} for k, u in END_TO_END.items()}


def per_layer(workload, res):
    timed = [o for o in res["ops"] if o["timed"]]
    lay = dict(res["layers"])
    if workload == "registry":
        for key, family in (("operators.relational_op_s", "relational"),
                            ("memo.consumer_op_s", "memo_consumers")):
            lat = [o["s"] for o in timed if o["name"] in res[family] and o["error"] is None]
            lay[key] = statistics.median(lat) if lat else 0.0
    else:
        lay.update({"ml.train_s": res["train_s"], "ml.load_s": res["load_s"],
                    "ml.train_jobs": res["train_jobs"], "sources.write_files": res["write_files"]})
    return {k: {"value": 0 if k in NOT_RUN[workload] else lay[k], "unit": u}
            for k, u in PER_LAYER.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    jars, classes, tables = build(build_dir)

    run_dir = os.path.join(build_dir, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("local", "warehouse", "tmp"):
        os.makedirs(os.path.join(run_dir, d))
    trace_dir = os.path.join(build_dir, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    out = os.path.join(run_dir, "result.json")
    kv = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
          "trace": args.trace, "cpus": CPUS, "out": out, "data": tables,
          "local_dir": os.path.join(run_dir, "local"),
          "warehouse_dir": os.path.join(run_dir, "warehouse"),
          "trace_out": os.path.join(trace_dir, f"{args.workload}-{args.seed}.json")}
    if args.workload == "sentiment_serving":
        # the training CSV and the check batch are fixed so that the expected
        # runs table and check digest hold; the other batches follow the seed
        gen = [sys.executable, os.path.join(HERE, "gen_tweets.py")]
        train_csv = os.path.join(run_dir, "train.csv")
        batches = os.path.join(run_dir, "batches")
        fixed = os.path.join(run_dir, "fixed")
        subprocess.run(gen + ["csv", train_csv, str(CSV_ROWS), str(DATA_SEED)], check=True)
        subprocess.run(gen + ["batches", batches, str(BATCHES), str(BATCH_SIZE), str(args.seed)],
                       check=True)
        subprocess.run(gen + ["batches", fixed, "1", str(BATCH_SIZE), str(DATA_SEED)], check=True)
        os.rename(os.path.join(fixed, "batch-0000.txt"), os.path.join(batches, CHECK_BATCH))
        kv.update(csv=train_csv, batches=batches, check_batch=CHECK_BATCH,
                  batch_size=BATCH_SIZE, sink=os.path.join(run_dir, "sink"))
    cmd = (["java", f"-Xmx{HEAP}", "-Xss8m", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", os.pathsep.join(classes + [os.path.join(jars, "*")]), "perfbench.Harness"] +
           [f"{k}={v}" for k, v in kv.items()])
    log = os.path.join(run_dir, "jvm.log")
    try:
        with open(log, "w") as lf:
            p = subprocess.Popen(cmd, cwd=run_dir, stdout=lf, stderr=subprocess.STDOUT)
            try:
                rc = p.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                rc = "timeout"
        if rc != 0 or not os.path.exists(out):
            with open(log, errors="replace") as lf:
                sys.stderr.write(lf.read()[-6000:])
            fail(f"harness JVM exited with {rc}")
        with open(out) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    problems, failures = check(args.workload, res)
    timed = [o for o in res["ops"] if o["timed"]]
    n_failed = sum(o["error"] is not None for o in timed)
    m = per_layer(args.workload, res) if args.trace else end_to_end(res)
    for p in problems:
        print(f"check failed: {p}")
    if args.trace:
        print("n/a (layer does not run in this workload): " + ", ".join(NOT_RUN[args.workload]))
        # compared with untraced runs, this gives the tracing overhead
        print("traced end-to-end: " + json.dumps(
            {k: v["value"] for k, v in end_to_end(res).items()}))
    print("failures: " + json.dumps(failures))
    print(json.dumps({"correct": not problems and n_failed == 0, "attempted": len(timed),
                      "failed": n_failed, "metrics": m}))


if __name__ == "__main__":
    main()
