#!/usr/bin/env python3
"""Per-query leak table: the persisted RDDs each query leaves, and their
bytes, just before the benchmark's clearCache, from one traced run of each
workload.

    python3 perfbench/leaks.py [workload ...] > perfbench/LEAKS.md

`cold` is the query's first execution in the JVM (its output written as
parquet); `warm` is its first traced warm execution (noop sink).
"""
import json
import os
import sys

import run


def main(argv):
    workloads = run.load_config()
    print("# Cache left before clearCache, per query\n")
    print("Generated by `python3 perfbench/leaks.py`, seed 1, one traced run per workload.\n")
    print("| workload | query | cold left_rdds | cold left_bytes | warm left_rdds | warm left_bytes |")
    print("|---|---|---:|---:|---:|---:|")
    for w in argv or list(workloads):
        context = run.run(w, 1, 1, True, workloads)[0]
        rundir = os.path.join(run.WORK, "runs", f"{w}-seed1-trace1")
        with open(os.path.join(rundir, "trace.json")) as f:
            trace = json.load(f)
        traced = sorted({e["pass"] for e in trace["executions"] if e["traced"] and e["pass"] > 0})
        for q in workloads[w]["queries"]:
            cold = trace["counters"].get(f"{w}/0/{q}", {})
            warm = trace["counters"].get(f"{w}/{traced[0]}/{q}", {})
            print(f"| {w} | {q} | {cold.get('cache.left_rdds', 0):.0f} | "
                  f"{cold.get('cache.left_bytes', 0):.0f} | {warm.get('cache.left_rdds', 0):.0f} | "
                  f"{warm.get('cache.left_bytes', 0):.0f} |")
        sys.stderr.write(f"{w}: canary {context['cpu_canary_s']:.3f} s\n")


if __name__ == "__main__":
    main(sys.argv[1:])
