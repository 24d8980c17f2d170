#!/usr/bin/env python3
"""Repeatability check of the count metrics.

    python3 perfbench/check_repeat.py WORKLOAD SEED

Runs two traced runs of WORKLOAD with SEED and fails unless the counts
of the fixed traced round (exec.jobs, exec.stages, exec.tasks, rows),
VectorStore.files and store_amp are identical. Each run is a fresh JVM
(about a minute).
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
KEYS = ("VectorStore.files", "store_amp")


def traced_run(workload, seed):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", "1", "--trace", "1"],
                         stdout=subprocess.PIPE, text=True, check=True).stdout.splitlines()
    counts = json.loads(next(l for l in out if l.startswith("[perfbench] counts: "))
                        .split(": ", 1)[1])
    metrics = json.loads(out[-1])["metrics"]
    counts.update({k: metrics[k]["value"] for k in KEYS if k in metrics})
    per_op = json.loads(next(l for l in out if l.startswith("[perfbench] op counts: "))
                        .split(": ", 1)[1])
    return counts, per_op


def main(argv):
    workload, seed = argv[0], int(argv[1])
    (a, ops_a), (b, ops_b) = traced_run(workload, seed), traced_run(workload, seed)
    print(json.dumps({"first": a, "second": b}))
    diff = {k for k in set(a) | set(b) if a.get(k) != b.get(k)}
    if diff:
        print(f"NOT REPEATED: {sorted(diff)}")
        for op in sorted(set(ops_a) | set(ops_b)):
            if ops_a.get(op) != ops_b.get(op):
                print(f"  {op}: {ops_a.get(op)} vs {ops_b.get(op)} (jobs, stages, tasks, rows)")
        return 1
    print(f"repeated exactly: {sorted(a)}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
