#!/usr/bin/env python3
"""Smoke test of the benchmark itself.

    python3 perfbench/selftest.py [workload ...]

Runs every workload (or the named ones) at smoke scale (generated tables
at sf0.001, small fixtures, the minimum op count): once untraced and twice
traced with one seed. Fails unless every run exits 0 with a correct
result, prints every metric it must, and the exact counts below repeat
between the two traced runs. Run from the root of a checkout.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

BENCHMARK = os.path.join(ROOT, "BENCHMARK.json")
EXACT = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "plans.dp_memo_entries",
    "manifest.files_read_frac",
    "manifest.write_amp",
)


def run(workload: str, seed: int, trace: int) -> dict:
    env = dict(os.environ, PERFBENCH_SMOKE="1")
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
    ]
    out = subprocess.run(cmd, cwd=ROOT, env=env, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"{workload} trace={trace}: exit {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main(argv: list[str]) -> int:
    with open(BENCHMARK) as fh:
        spec = json.load(fh)
    want = {
        0: {m["name"] for m in spec["end_to_end"]},
        1: {m["name"] for m in spec["per_layer"]},
    }
    problems = []
    for w in argv or WORKLOADS:
        results = {0: run(w, 7, 0), 1: run(w, 7, 1)}
        again = run(w, 7, 1)
        for trace, res in results.items():
            if not res["correct"] or res["failed"]:
                problems.append(f"{w} trace={trace}: not correct: {res}")
            if set(res["metrics"]) != want[trace]:
                problems.append(f"{w} trace={trace}: metrics {sorted(res['metrics'])}")
        for name in EXACT:
            a = results[1]["metrics"][name]["value"]
            b = again["metrics"][name]["value"]
            if a != b:
                problems.append(f"{w}: {name} differs between traced runs: {a} vs {b}")
        print(f"{w}: ok" if not problems else f"{w}: {len(problems)} problem(s)", flush=True)
    for p in problems:
        print(p, file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
