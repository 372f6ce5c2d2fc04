#!/usr/bin/env python3
"""Smoke test of the benchmark itself: every workload at the tiny scale, untraced and
traced, must pass its checks, exit 0 and print every metric BENCHMARK.json declares.

Usage (from the repository root): python3 bench/smoke_test.py
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def main():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        declared = json.load(f)
    failures = []
    for w in [w["name"] for w in declared["workloads"]]:
        for trace in (0, 1):
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                                "--workload", w, "--seed", "7", "--seconds", "1",
                                "--trace", str(trace), "--scale", "tiny"],
                               cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                               text=True, timeout=600)
            lines = p.stdout.strip().splitlines()
            try:
                result = json.loads(lines[-1])
            except (IndexError, ValueError):
                result = None
            want = {m["name"] for m in declared["per_layer" if trace else "end_to_end"]}
            ok = (p.returncode == 0 and result is not None and result["correct"]
                  and result["failed"] == 0 and set(result["metrics"]) == want)
            print(f"{'ok  ' if ok else 'FAIL'} {w} trace={trace}")
            if not ok:
                failures.append(w)
                sys.stdout.write(p.stdout[-2000:] + p.stderr[-2000:])
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
