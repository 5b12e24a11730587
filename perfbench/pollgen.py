"""detect-live's generator process: writes one flow-stats poll file every
``POLL_INTERVAL_S`` seconds into ``--out`` (written beside it, then renamed in,
so the stream never sees a partial file) and logs each poll's creation
time to ``--manifest``.

Poll 0 is written at once; it warms the pipeline. The open loop starts
when the ``--go`` file appears: poll i (i ≥ 1) is due ``(i - 1) ×
POLL_INTERVAL_S`` seconds after the epoch written in it.

    python3 perfbench/pollgen.py --seed 1 --polls 10 --out DIR --manifest FILE --go FILE
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import time

import pyarrow.parquet as pq

from datagen import GO_TIMEOUT_S, POLL_INTERVAL_S, PollPlan

BASE_TS = dt.datetime(2024, 1, 1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--polls", type=int, required=True)
    ap.add_argument("--go", required=True, help="file holding the epoch of poll 1")
    args = ap.parse_args(argv)

    plan = PollPlan(args.seed, n_polls=args.polls)
    staging = args.out.rstrip("/") + ".staging"
    os.makedirs(staging, exist_ok=True)
    os.makedirs(args.out, exist_ok=True)
    with open(args.manifest, "w") as log:
        for i in range(plan.n_polls):
            tbl = plan.poll(i, BASE_TS + dt.timedelta(seconds=POLL_INTERVAL_S * i))
            due = time.time() if i == 0 else start + POLL_INTERVAL_S * (i - 1)
            time.sleep(max(0.0, due - time.time()))
            tmp = os.path.join(staging, f"poll-{i:05d}.parquet")
            pq.write_table(tbl, tmp)
            os.rename(tmp, os.path.join(args.out, f"poll-{i:05d}.parquet"))
            created = time.time()
            log.write(json.dumps({"poll": i, "created": created, "late_ms": (created - due) * 1e3}) + "\n")
            log.flush()
            if i == 0:
                start = _wait_for_go(args.go)
    return 0


def _wait_for_go(path: str) -> float:
    deadline = time.time() + GO_TIMEOUT_S
    while not os.path.exists(path):
        if time.time() > deadline:
            raise SystemExit(f"pollgen: no go signal at {path} after {GO_TIMEOUT_S:g} s")
        time.sleep(0.01)
    with open(path) as f:
        return float(f.read())


if __name__ == "__main__":
    raise SystemExit(main())
