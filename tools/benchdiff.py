#!/usr/bin/env python3
"""Join two bench artifacts by query name and print per-query deltas.

    tools/benchdiff.py A B [--names FILE]

A and B are each either
  - a name-keyed artifact: bench_out.json or a bench_runs/ copy, whose
    "queries" map holds seconds per full query name; or
  - a driver capture (BENCH_rNN.json), whose "parsed" stdout line holds
    "queries_cs", centiseconds in full-name order without the names.
    The names come from FILE (default: bench_out.json at the repo root),
    a name-keyed artifact of the same registry: its sorted names must
    match the array's length, else the tool refuses. Each "retimed_cs"
    value, keyed by short name (qNN), replaces that query's reading.

Prints before, after and ratio (before / after, so > 1 is faster) for
every query both sides timed, then the geometric mean of the ratios.
When both sides carry "layers", each row also names the wall-time layer
(first_gap_s, job_s, gap_s, tail_s) that moved most, and the job count
when it changed.
"""
import argparse
import json
import math
import os
import sys

WALL_LAYERS = ("first_gap_s", "job_s", "gap_s", "tail_s")


def short(name):
    return name.split("_", 1)[0]


def load(path, names_path):
    """(seconds by full name, layers by full name) of one artifact."""
    with open(path) as f:
        art = json.load(f)
    if "parsed" not in art:
        return art["queries"], art.get("layers", {})
    line = art["parsed"]
    with open(names_path) as f:
        names = sorted(json.load(f)["queries"])
    values = line["queries_cs"]
    if len(names) != len(values):
        sys.exit(f"{path}: {len(values)} queries_cs values but "
                 f"{len(names)} names in {names_path}; refusing to zip")
    retimed = line.get("retimed_cs", {})
    return ({n: retimed.get(short(n), cs) / 100 if cs >= 0 else -1.0
             for n, cs in zip(names, values)}, {})


def moved(a, b):
    """The wall-time layer with the largest change, and any job-count move."""
    name = max(WALL_LAYERS, key=lambda k: abs(b[k] - a[k]))
    out = f"{name} {b[name] - a[name]:+.2f}"
    if a["jobs"] != b["jobs"]:
        out += f", jobs {a['jobs']}->{b['jobs']}"
    return out


def main():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--names", default=os.path.join(root, "bench_out.json"))
    args = ap.parse_args()
    qa, la = load(args.before, args.names)
    qb, lb = load(args.after, args.names)
    common = sorted(k for k in qa.keys() & qb.keys() if qa[k] > 0 and qb[k] > 0)
    width = max([len(k) for k in common] + [5])
    print(f"{'query':<{width}} {'before':>8} {'after':>8} {'ratio':>7}  moved")
    logs = []
    for k in common:
        ratio = qa[k] / qb[k]
        logs.append(math.log(ratio))
        layer = moved(la[k], lb[k]) if k in la and k in lb else ""
        print(f"{k:<{width}} {qa[k]:8.2f} {qb[k]:8.2f} {ratio:6.2f}x  {layer}")
    if logs:
        gm = math.exp(sum(logs) / len(logs))
        print(f"{f'geomean ({len(logs)} common)':<{width}} {'':>8} {'':>8} {gm:6.2f}x")
    skipped = (qa.keys() | qb.keys()) - set(common)
    if skipped:
        print(f"not compared (one side only, or errored): {len(skipped)}: "
              + ", ".join(sorted(skipped)))


if __name__ == "__main__":
    main()
