#!/usr/bin/env python3
"""Writes the expected registry digests from oracle-checked query results.

  python3 perfbench/confirm_oracle.py

Run from the repository root (needs the duckdb Python package). Builds the
library and the benchmark's input tables as run.py does, dumps every
registry-workload query with graft.Verify and diffs the dumps with
tools/check_oracle.py. Only if the oracle passes does it digest each dump
the way the harness digests a live result and write those digests to
perfbench/expected/registry.json, naming every digest that changed and
every query the oracle does not cover. Exits 0 only if the oracle passes.
"""
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def java(jars, classes, *args, **kw):
    cp = os.pathsep.join(classes + [os.path.join(jars, "*")])
    opens = [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return subprocess.run(["java", f"-Xmx{run.HEAP}", "-Xss8m"] + opens + ["-cp", cp] +
                          list(args), check=True, text=True, **kw)


def main():
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    jars, classes, tables = run.build(build_dir)
    names = java(jars, classes, "perfbench.DigestDir", "names",
                 stdout=subprocess.PIPE).stdout.split()
    out = os.path.join(build_dir, "verify")
    shutil.rmtree(out, ignore_errors=True)
    java(jars, classes, "graft.Verify", tables, out, ",".join(names), cwd=build_dir)
    oracle = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "check_oracle.py"),
                             tables, out], text=True, stdout=subprocess.PIPE)
    print(oracle.stdout)
    if oracle.returncode:
        print("oracle failed: expected digests left unchanged")
        return 1
    with open(os.path.join(out, "oracle_sql.json")) as f:
        checked = set(json.load(f))
    path = run.expected_path("registry")
    with open(path) as f:
        old = json.load(f)
    new = {}
    for line in java(jars, classes, "perfbench.DigestDir", "digest", out,
                     stdout=subprocess.PIPE).stdout.splitlines():
        name, digest = line.split()
        qid = name.split("_")[0]
        new[qid] = digest
        if name not in checked:
            print(f"  {qid}: no oracle SQL, digest rests on graft.Verify alone")
        if old.get(qid) != digest:
            print(f"  {qid}: digest {digest}, was {old.get(qid)}")
    missing = [n for n in names if n.split("_")[0] not in new]
    if missing:
        print(f"no dump for {missing}: expected digests left unchanged")
        return 1
    with open(path, "w") as f:
        json.dump(new, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"== {len(new)} digests written, {sum(old.get(k) != v for k, v in new.items())} changed ==")
    return 0


if __name__ == "__main__":
    sys.exit(main())
