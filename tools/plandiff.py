#!/usr/bin/env python3
"""Compare the formatted Spark plans of two scoped bench runs.

    tools/plandiff.py A_DIR B_DIR

A_DIR and B_DIR are bench_runs/bench_<stamp>/ directories, each holding
one <query name>.txt formatted plan per query of a scoped run
(`SPARK_GRAFT_ONLY=... sbt "runMain graft.Bench"`). Before comparing,
every plan drops what changes from run to run without changing the plan:
  - expression ids (`#123`, `#123L`) and exchange ids (`[plan_id=42]`);
  - RDD ids (`ExistingRDD[12]`, `MapPartitionsRDD[7]`, ...);
  - object hashes (`@1a2b3c`);
  - call-site text (`at LlmQueries.scala:1234`);
  - the random suffix of a scratch directory a query writes and reads
    (`/tmp/graft_v8_clean4033...` → `/tmp/graft_v8_clean`).
Prints each query whose plan differs (or that only one side has), with
the first differing line of each side, and exits 1 if any differs.
"""
import os
import re
import sys

VOLATILE = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"@[0-9a-f]+\b"), "@"),
    (re.compile(r"\bat [\w$.<>-]+:\d+"), "at"),
    (re.compile(r"(/graft_[A-Za-z0-9_]*?)\d{6,}"), r"\1"),
]


def normalize(text):
    for pat, rep in VOLATILE:
        text = pat.sub(rep, text)
    return text.splitlines()


def plans(d):
    """Normalized plan lines by query name of one run directory."""
    return {f[:-4]: normalize(open(os.path.join(d, f)).read())
            for f in sorted(os.listdir(d)) if f.endswith(".txt")}


def first_diff(a, b):
    for i, (x, y) in enumerate(zip(a, b)):
        if x != y:
            return i + 1, x, y
    n = min(len(a), len(b))
    return (n + 1, a[n] if n < len(a) else "<end>",
            b[n] if n < len(b) else "<end>")


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    a, b = plans(argv[1]), plans(argv[2])
    differ = 0
    for name in sorted(a.keys() | b.keys()):
        if name not in a or name not in b:
            print(f"{name}: only in {argv[1] if name in a else argv[2]}")
            differ += 1
        elif a[name] != b[name]:
            line, x, y = first_diff(a[name], b[name])
            print(f"{name}: differs at line {line}\n  A: {x}\n  B: {y}")
            differ += 1
    print(f"{len(a.keys() | b.keys()) - differ} same, {differ} differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
