#!/usr/bin/env python3
"""Count-repeatability check and tracing overhead for one workload.

    python3 perfbench/repeat_check.py --workload stock-reconfig [--seed 1]

Runs the workload twice traced and once untraced on the same seed. The
counts below must come out identical in both traced runs; any that do
not are listed with the cause noted in NOT_EXACT. The tracing overhead is
the traced run's cpu_s (and query_total_s, a wall time) over the
untraced one's, minus one.
Exits 1 if a count that is expected to repeat does not.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

COUNTS = [
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "registry.heavy.build_jobs",
    "registry.light.build_jobs",
    "store.files_written",
    "stream.batches",
    "state.rows",
    "controlplane.replayed_rows",
    "controlplane.replay_batches",
    "checkpoint.files",
    "sink.dup_ratio",
]
#: counts known not to repeat exactly, and why
NOT_EXACT: dict[str, str] = {}


def run(workload: str, seed: int, trace: int) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    command, seconds = bench["command"], bench["run_seconds"]
    out = subprocess.run(
        [sys.executable, *command[1:], "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900, check=True,
    ).stdout.strip().splitlines()
    detail = json.loads(out[-2])["detail"]
    metrics = {k: v["value"] for k, v in json.loads(out[-1])["metrics"].items()}
    return {**metrics, "query_total_s": detail["wall"]["query_total_s"]["value"]}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    a = run(args.workload, args.seed, 1)
    b = run(args.workload, args.seed, 1)
    plain = run(args.workload, args.seed, 0)
    bad = []
    for name in COUNTS:
        same = a[name] == b[name]
        note = "" if same else NOT_EXACT.get(name, "UNEXPECTED")
        print(f"{name:30s} {a[name]!s:>12} {b[name]!s:>12}  {'exact' if same else note}")
        if not same and name not in NOT_EXACT:
            bad.append(name)
    for name in ("cpu_s", "query_total_s"):
        overhead = a[f"trace.{name}"] / plain[name] - 1
        print(f"tracing overhead on {name}: {overhead:+.1%}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
