"""Tracing overhead: compare the records of a traced and an untraced run
of the same workload and seed (run both first).

    python3 perfbench/run.py --workload board-pipeline --seed 1 --trace 0
    python3 perfbench/run.py --workload board-pipeline --seed 1 --trace 1
    python3 perfbench/overhead.py --workload board-pipeline --seed 1
"""

from __future__ import annotations

import argparse
import json
import os

RUNS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "out", "runs")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    rec = []
    for trace in (0, 1):
        with open(os.path.join(RUNS, f"{args.workload}-seed{args.seed}-trace{trace}.json")) as f:
            rec.append(json.load(f))
    for section in ("end_to_end", "workload_metrics"):
        for k, plain in rec[0][section].items():
            traced = rec[1][section].get(k)
            if isinstance(plain, (int, float)) and isinstance(traced, (int, float)) and plain:
                print(f"{k:>20} untraced {plain:12.4f} traced {traced:12.4f} overhead {traced - plain:+10.4f} ({traced / plain - 1:+.1%})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
