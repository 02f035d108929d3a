#!/usr/bin/env python3
"""Smoke test of the benchmark at the tiny input size.

    python3 perfbench/smoke_test.py     # from the root of a checkout, ~4 min

Checks that
  1. every metric BENCHMARK.json names is emitted, with its unit, untraced
     (end_to_end) and traced (per_layer), on every workload;
  2. the Spark-free replay fingerprint equals the Spark pipeline's;
  3. a changed seed changes the inputs but not the metric names.
Exits non-zero on the first failed check.
"""
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
from run import WORKLOADS  # noqa: E402


def bench(workload, seed, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", "2", "--trace", str(trace),
                        "--size", "tiny"], cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"{workload} seed {seed} trace {trace}: exit {p.returncode}\n"
                 f"{p.stdout[-2000:]}\n{p.stderr[-2000:]}")
    inputs = dict(re.findall(r"(\S+)=([0-9a-f]{12})", next(x for x in lines if x.startswith("inputs:"))))
    replay_ok = any(x.startswith("replay:") and "(matches pipeline" in x for x in lines)
    return json.loads(lines[-1]), inputs, replay_ok


def check(cond, what):
    if not cond:
        sys.exit(f"FAIL: {what}")
    print(f"ok: {what}")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for wl in WORKLOADS:
        for trace, listed in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            res, inputs, replay_ok = bench(wl, 1, trace)
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == {m["name"]: m["unit"] for m in listed},
                  f"{wl} trace={trace}: every listed metric is emitted with its unit")
            check(replay_ok and res["correct"] and res["failed"] == 0,
                  f"{wl} trace={trace}: replay fingerprint equals the pipeline's, all ops pass")
            if trace == 0:
                other, other_inputs, _ = bench(wl, 2, 0)
                check(other_inputs != inputs, f"{wl}: seed 2 generates other inputs than seed 1")
                check(other["metrics"].keys() == res["metrics"].keys(),
                      f"{wl}: seed 2 emits the same metric names as seed 1")


if __name__ == "__main__":
    main()
