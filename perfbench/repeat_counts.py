#!/usr/bin/env python3
"""Check that the traced counts meant to repeat exactly do repeat.

    python3 perfbench/repeat_counts.py [--seed N]

Runs the traced unit of every workload twice with one seed and compares
`exec.jobs`, `exec.tasks` and `stream.batches`. The listener bus is
drained before any count is read, so a difference is a real difference
in the work done, not a late event. Exits 1 on a mismatch.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

EXACT = ["exec.jobs", "exec.tasks", "stream.batches"]


def traced_counts(workload, seed):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        capture_output=True, text=True, check=True)
    m = json.loads(p.stdout.splitlines()[-1])["metrics"]
    return {k: m[k]["value"] for k in EXACT}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    ok = True
    for w in run.WORKLOADS:
        first, second = traced_counts(w, a.seed), traced_counts(w, a.seed)
        same = first == second
        ok &= same
        print(json.dumps({"workload": w, "first": first, "second": second,
                          "repeat": same}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
