"""Deterministic job-count probe for the ANN index lifecycles.

Runs each lifecycle (save -> append b1 -> append b2 -> retrain -> health) for
the IVF / IVF-PQ / IVF+SQ8 families against a fresh tmp dir, bootstrapped
exactly like the declared incremental-index builder in queries/datapipe3.py
(`_inc_fixture`), and prints the Spark JOB COUNT per step (statusTracker job
ids are monotonically assigned, so count deltas are exact and
box-independent). This is the measurement
behind the r13/r14 lifecycle job trims (guide SS5: each step is a
driver-blocking round trip; the lifecycle wall time is job count x
scheduling latency at bench scale).

Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python scripts/ann_jobcount.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dipa_collaborative_pulsar_idps_spark.queries import clear_all_caches  # noqa: E402
from dipa_collaborative_pulsar_idps_spark.queries.datapipe3 import (  # noqa: E402
    _corpus,
    _inc_fixture,
)
from dipa_collaborative_pulsar_idps_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("dipa-ann-jobcount")
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def njobs() -> int:
        return len(tracker.getJobIdsForGroup(None))

    emb = _corpus(spark, sf_dir)
    emb.count()  # warm the corpus persist outside the counted steps

    from dipa_collaborative_pulsar_idps_spark.functions.ivf import (
        append_batch,
        codec_for,
        index_health,
        retrain_index,
        save_index,
    )

    out: dict[str, dict] = {}
    for family in ("ivf", "ivfpq", "ivfsq"):
        codec = codec_for(family)
        corpus = None if codec.stores_raw else emb
        d = tempfile.mkdtemp(prefix=f"dipa_jobcount_{family}_")
        try:
            trained, b1, b2 = _inc_fixture(emb, family)  # untimed: the build
            steps = [
                ("save", lambda: save_index(codec, *trained, d)),
                ("append_b1", lambda: append_batch(codec, spark, d, b1, "b1")),
                ("append_b2", lambda: append_batch(codec, spark, d, b2, "b2")),
                ("retrain", lambda: retrain_index(codec, spark, d, corpus)),
                ("health", lambda: index_health(spark, d).collect()),
            ]
            rec: dict[str, float | int] = {}
            total0, t_total = njobs(), time.perf_counter()
            for label, fn in steps:
                j0, t0 = njobs(), time.perf_counter()
                fn()
                rec[label] = njobs() - j0
                rec[f"{label}_s"] = round(time.perf_counter() - t0, 2)
            rec["total_jobs"] = njobs() - total0
            rec["total_s"] = round(time.perf_counter() - t_total, 2)
            out[family] = rec
            print(family, json.dumps(rec), flush=True)
        finally:
            shutil.rmtree(d, ignore_errors=True)

    print(json.dumps({"sf_dir": sf_dir, "families": out}))
    clear_all_caches()
    spark.stop()


if __name__ == "__main__":
    main()
