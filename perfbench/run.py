#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the benchmark (see build.py) on first use, then
starts one JVM on local[<cores>] for the workload. --trace 0 prints the
end-to-end metrics. --trace 1 measures the workload twice in that JVM,
untraced and then traced, prints the per-layer metrics, and writes spans,
self time per layer and the tracing overhead to
.bench_build/trace/<workload>-<seed>.json. Workloads and metrics are
described in perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("ingest_live", "ingest_backfill", "produce", "curation")
JVM_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def jvm(jar, args, work, log):
    """Start one benchmark JVM, wait for it, return its result dict."""
    os.makedirs(work, exist_ok=True)
    out = os.path.join(work, "result.json")
    cmd = build.java_cmd(jar, work, [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", args.trace,
        "--cores", str(build.cores()), "--out", out])
    with open(log, "ab") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=fh, cwd=work)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"JVM timed out; log in {log}")
    if code != 0 or not os.path.exists(out):
        with open(log, errors="replace") as fh:
            tail = fh.read()[-3000:]
        fail(f"JVM failed with code {code}:\n{tail}")
    with open(out) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as fh:
        spec = json.load(fh)
    try:
        jar = build.ensure()
    except SystemExit as e:
        fail(str(e))

    runs = os.path.join(build.BUILD_DIR, "runs")
    base = os.path.join(runs, f"{args.workload}-{args.seed}-{os.getpid()}")
    log = base + ".log"
    os.makedirs(runs, exist_ok=True)
    try:
        res = jvm(jar, args, os.path.join(base, "run"), log)
        if args.trace == "0":
            section = spec["end_to_end"]
            values = res["e2e"]
        else:
            plain = res["info"].pop("untraced_e2e")
            overhead = {k: res["e2e"][k] - v for k, v in plain.items() if k in res["e2e"]}
            with open(os.path.join(base, "run", "trace.json")) as fh:
                trace = json.load(fh)
            trace.update(untraced_e2e=plain, traced_e2e=res["e2e"],
                         tracing_overhead=overhead, info=res["info"])
            trace_dir = os.path.join(build.BUILD_DIR, "trace")
            os.makedirs(trace_dir, exist_ok=True)
            trace_file = os.path.join(trace_dir, f"{args.workload}-{args.seed}.json")
            with open(trace_file, "w") as fh:
                json.dump(trace, fh)
            print(json.dumps({"all_layers": res["layers"],
                              "self_ms_by_layer": trace["self_ms_by_layer"],
                              "tracing_overhead": overhead,
                              "spans": len(trace["spans"]),
                              "trace_file": os.path.relpath(trace_file, ROOT)}))
            section = spec["per_layer"]
            values = dict(res["layers"])
            for m in section:
                name = m["name"]
                if name in values:
                    continue
                if name.split(".")[0] in res["layers_run"]:
                    # a layer the workload runs went unrecorded: a failed check
                    res["attempted"] += 1
                    res["failed"] += 1
                    res["correct"] = False
                    res["failures"].append(f"{name}: not recorded")
                # a layer the workload does not run did no work
                values[name] = 0.0
        missing = [m["name"] for m in section if m["name"] not in values]
        if missing:
            fail(f"metrics not measured: {missing}")
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in section}
        print(json.dumps({"workload": args.workload, "info": res["info"],
                          "failures": res["failures"]}))
        print(json.dumps({"correct": bool(res["correct"]),
                          "attempted": int(res["attempted"]),
                          "failed": int(res["failed"]),
                          "metrics": metrics}))
    finally:
        shutil.rmtree(base, ignore_errors=True)
    os.remove(log)


if __name__ == "__main__":
    main()
