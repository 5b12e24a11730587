"""Sustained-stream soak of `incremental_ann_sink` → SOAK_r13.json.

r12 judge punch #5: the streaming ANN maintenance loop's golden replay is
3 batches; this drives HUNDREDS of micro-batches through the real
foreachBatch body (append → persisted stats → level trigger → in-loop
retrain with atomic generation promotion) and records, per family:

- per-commit wall times split into append commits and retrain commits,
  with the flatness ratio (median of the last-quarter append commits /
  median of the first-quarter append commits) — an O(corpus) append
  path fails the ≤3× bound the tfidf soak uses;
- generation count vs the mass-trigger's EXACT simulated expectation
  (each fold sets base += appended — corpus grows ~×1.5 per generation
  at RETRAIN_MASS=0.5, with discrete batch overshoot);
- exactly-once: distinct served vec_ids == rows ingested;
- post-soak clustered recall@5 vs brute force over everything ingested.

Families: flat IVF (raw-vector lists) and IVF+SQ8 (code deltas + the
sink-maintained `_corpus` raw tree the retrain reads). Batches are fed
to the sink body directly (the tfidf-soak convention) — the engine's
micro-batch framing adds only checkpoint bookkeeping around the same
calls, and the 3-batch streaming goldens in tests/test_streaming.py
already pin that framing end-to-end.

Usage: python scripts/ann_sink_soak.py [n_batches_ivf] [n_batches_ivfsq]
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_CENTERS = 20
BATCH = 250
DIM = 64


def _batch_rows(b: int, centers: list[list[float]]) -> list[tuple[int, list[float]]]:
    rng = random.Random(1000 + b)
    rows = []
    for i in range(BATCH):
        c = centers[(b * BATCH + i) % N_CENTERS]
        rows.append(
            (b * 1_000_000 + i, [x + rng.gauss(0, 0.15) for x in c])
        )
    return rows


def soak_family(spark, family: str, n_batches: int) -> dict:
    from pyspark.sql import functions as F

    from dipa_collaborative_pulsar_idps_spark.functions.ivf import (
        _read_pointer,
        codec_for,
        ivf_search,
        load_index,
    )
    from dipa_collaborative_pulsar_idps_spark.functions.sq import ivf_sq_search
    from dipa_collaborative_pulsar_idps_spark.functions.similarity import (
        cosine_scores,
        recall_at_k,
        topk,
    )
    from dipa_collaborative_pulsar_idps_spark.streaming.pipelines import (
        incremental_ann_sink,
    )

    search_fn = {"ivf": ivf_search, "ivfsq": ivf_sq_search}[family]
    rng = random.Random(11)
    centers = [
        [rng.gauss(0, 1) for _ in range(DIM)] for _ in range(N_CENTERS)
    ]
    path = tempfile.mkdtemp(prefix=f"ann_soak_{family}_")
    fn = incremental_ann_sink(
        index_path=path, dim=DIM, n_list=16, family=family
    )
    append_times: list[float] = []
    retrain_times: list[float] = []
    gens: list[str | None] = []
    try:
        for b in range(n_batches):
            df = spark.createDataFrame(_batch_rows(b, centers), ["vec_id", "e"])
            before = _read_pointer(spark, path)
            t0 = time.perf_counter()
            fn(df, b)
            dt = time.perf_counter() - t0
            after = _read_pointer(spark, path)
            (retrain_times if after != before else append_times).append(dt)
            if after != before:
                gens.append(after)
            if b % 20 == 0:
                print(f"{family} batch {b}/{n_batches} gen={after}", flush=True)

        index = load_index(codec_for(family), spark, path)
        served_ids = index[0].select("vec_id")
        search = lambda q: search_fn(*index, q, k=5, n_probe=4)  # noqa: E731

        ingested = n_batches * BATCH
        n_distinct = served_ids.distinct().count()
        # post-soak serving quality: 50 held-out clustered queries
        qrng = random.Random(999)
        q_rows = [
            (i, [x + qrng.gauss(0, 0.15) for x in centers[i % N_CENTERS]])
            for i in range(50)
        ]
        queries = spark.createDataFrame(q_rows, ["query_id", "qe"])
        all_rows = [r for b in range(n_batches) for r in _batch_rows(b, centers)]
        corpus = spark.createDataFrame(all_rows, ["vec_id", "e"])
        exact = topk(cosine_scores(corpus, queries), 5)
        recall = recall_at_k(search(queries), exact, 5)

        def expected_retrains(n: int) -> int:
            # exact simulation of the mass-trigger recurrence: each fold
            # sets base += appended, so the corpus grows ~x(1+mass) per
            # generation, with discrete batch-size overshoot
            base_n, appended, r = BATCH, 0, 0
            for _ in range(1, n):
                appended += BATCH
                if appended > 0.5 * base_n:
                    base_n += appended
                    appended = 0
                    r += 1
            return r

        quarter = max(3, len(append_times) // 4)
        early = sorted(append_times[:quarter])[quarter // 2]
        late_slice = sorted(append_times[-quarter:])
        late = late_slice[quarter // 2]
        p95 = sorted(append_times)[int(len(append_times) * 0.95) - 1]
        expected_gens = expected_retrains(n_batches)
        result = {
            "family": family,
            "n_batches": n_batches,
            "rows_ingested": ingested,
            "distinct_served": n_distinct,
            "append_commits": len(append_times),
            "retrain_commits": len(retrain_times),
            "generations": gens[-1],
            "append_median_early_sec": round(early, 3),
            "append_median_late_sec": round(late, 3),
            "append_p95_sec": round(p95, 3),
            "flatness_ratio": round(late / early, 3),
            "retrain_median_sec": round(
                sorted(retrain_times)[len(retrain_times) // 2], 3
            )
            if retrain_times
            else None,
            "expected_retrains_simulated": expected_gens,
            "recall_at_5_post_soak": round(recall, 4),
            "pass": bool(
                n_distinct == ingested
                and late <= 3.0 * early
                and abs(len(retrain_times) - expected_gens) <= 1
                and recall >= 0.85
            ),
        }
        return result
    finally:
        shutil.rmtree(path, ignore_errors=True)


def main() -> None:
    n_ivf = int(sys.argv[1]) if len(sys.argv) > 1 else 120
    n_sq = int(sys.argv[2]) if len(sys.argv) > 2 else 60
    from dipa_collaborative_pulsar_idps_spark.session import get_spark

    spark = get_spark("ann-sink-soak")
    spark.sparkContext.setLogLevel("ERROR")
    # the measured micro-batch conf (r10): per-commit cost is dominated
    # by task scheduling across shuffle partitions, not data volume
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    out = {}
    if n_ivf > 0:
        out["ivf"] = soak_family(spark, "ivf", n_ivf)
    if n_sq > 0:
        out["ivfsq"] = soak_family(spark, "ivfsq", n_sq)
    out["pass"] = all(v["pass"] for v in out.values())
    dest = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SOAK_r13.json",
    )
    with open(dest, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
