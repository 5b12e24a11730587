"""board-relational and board-pipeline: declared queries, closed loop,
one client.

Each run takes the board's fixed slate, permutes its order with the
seed, gives every query one first call and then ``WARM_PASSES`` whole
warm passes (the same number of warm samples for every query). The run
is a fixed amount of work, so it ignores ``--seconds``. A call is the
query's builder plus execution to the ``noop`` sink, each in its own
Spark job group. Checks run afterwards, untimed: DuckDB oracles through
``testing.compare_query``, recorded row counts for the queries without
an oracle.
"""

from __future__ import annotations

import json
import os
import random
import time

from common import (
    StatusReader,
    geomean,
    median,
    percentile,
    persisted_rdds,
)

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED_ROWS = os.path.join(HERE, "expected_rows.json")

RELATIONAL_MODULES = (
    "tpch", "tpch2", "relational", "relational_ext", "relational_ext2",
    "analytic", "analytic2", "windows", "warehouse", "detection",
    "thresholds", "scalars",
)
PIPELINE_MODULES = (
    "datapipe", "datapipe2", "datapipe3", "datapipe4", "datapipe5",
    "datapipe6", "datapipe7", "datapipe8", "media",
)
#: The index lifecycles build, append and retrain on first call; their
#: cost is measured by index-churn instead of inside a board slate.
LIFECYCLE = ("ann_topk_ivf_incremental", "ann_topk_ivfpq_incremental", "ann_topk_ivfsq_incremental")

#: board-pipeline's slate, chosen so each layer the workload is for does
#: work in every run: eager builder jobs and Python-worker kernels
#: (ann_topk_lsh_exhaustive), a session-memoized media corpus decoded in
#: Python workers (image_phash_clusters), a numpy hyperplane-LSH kernel
#: (cosine_near_dup_pairs_lsh) and string shingling
#: (duplicate_substring_spans_hashed); the last two have no DuckDB oracle.
#: simhash_fingerprints and gopher_quality_rules were tried and dropped:
#: their warm medians moved by up to 2× between runs of the same code.
PIPELINE_SLATE = (
    "ann_topk_lsh_exhaustive",
    "image_phash_clusters",
    "cosine_near_dup_pairs_lsh",
    "duplicate_substring_spans_hashed",
)
#: board-relational's slate size (evenly spaced over the board's list).
RELATIONAL_SLATE = 24
WARM_PASSES = 5
DECODE_SIDE, DECODE_MIN_S = 96, 0.3


def board_lists() -> dict[str, list[str]]:
    """All declared queries of each board, in registry order."""
    from dipa_collaborative_pulsar_idps_spark.queries import REGISTRY, all_queries

    all_queries()
    out: dict[str, list[str]] = {"board-relational": [], "board-pipeline": []}
    for name, spec in REGISTRY.items():
        mod = spec.fn.__module__.rsplit(".", 1)[1]
        if mod in RELATIONAL_MODULES:
            out["board-relational"].append(name)
        elif mod in PIPELINE_MODULES:
            out["board-pipeline"].append(name)
    return out


def slate(board: str) -> list[str]:
    """The fixed per-run slate. A run is sized to fit the benchmark's time
    budget, so it holds a few queries of the board, never all of them."""
    if board == "board-pipeline":
        return list(PIPELINE_SLATE)
    names = board_lists()[board]
    return [names[(i * len(names)) // RELATIONAL_SLATE] for i in range(RELATIONAL_SLATE)]


def _call(spark, spec, tables: str, tag: str, status: StatusReader | None) -> tuple[float, float, dict | None]:
    """One query call: build then execute to noop, each in a job group.
    Returns (build_s, exec_s, profile or None)."""
    sc = spark.sparkContext
    sc.setJobGroup(f"b:{tag}", spec.name)
    t0 = time.perf_counter()
    df = spec.fn(spark, tables)
    t1 = time.perf_counter()
    sc.setJobGroup(f"x:{tag}", spec.name)
    df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    sc.setJobGroup("idle", "")
    prof = None
    if status is not None:
        prof = {"build": status.profile(f"b:{tag}"), "exec": status.profile(f"x:{tag}")}
        status.mark_read()
    return t1 - t0, t2 - t1, prof


def check(spark, names: list[str], tables: str) -> list[str]:
    """Untimed correctness checks; returns the names that failed."""
    from dipa_collaborative_pulsar_idps_spark.queries import REGISTRY
    from dipa_collaborative_pulsar_idps_spark.testing import compare_query, duckdb_connection

    with open(EXPECTED_ROWS) as f:
        rows = json.load(f)
    con = duckdb_connection(tables)
    spark.sparkContext.setJobGroup("check", "")
    bad = []
    for n in names:
        spec = REGISTRY[n]
        try:
            if spec.oracle is not None:
                ok = compare_query(n, spec.fn(spark, tables), con, spec.oracle).ok
            else:
                ok = spec.fn(spark, tables).count() == rows[n]
        except Exception:  # noqa: BLE001 - a raising query is a failed check
            ok = False
        if not ok:
            bad.append(n)
    con.close()
    return bad


def run(spark, board: str, seed: int, tables: str, traced: bool, tracer) -> dict:
    from dipa_collaborative_pulsar_idps_spark.queries import REGISTRY, all_queries

    all_queries()
    names = slate(board)
    random.Random(seed).shuffle(names)
    status = StatusReader(spark) if traced else None
    if status is not None:
        status.mark_read()
    first: dict[str, float] = {}
    first_build: dict[str, float] = {}
    warm: dict[str, list[tuple[float, float]]] = {n: [] for n in names}
    profiles: dict[str, dict] = {}
    broken: set[str] = set()
    calls = failed_calls = 0

    def one(n: str, tag: str):
        nonlocal calls, failed_calls
        calls += 1
        if n in broken:
            failed_calls += 1
            return None
        with tracer.span("query", n, tag=tag):
            try:
                return _call(spark, REGISTRY[n], tables, f"{n}:{tag}", status)
            except Exception:  # noqa: BLE001 - counted as a failed operation
                broken.add(n)
                failed_calls += 1
                return None

    for n in names:
        r = one(n, "first")
        if r:
            first[n], first_build[n] = r[0] + r[1], r[0]
    memo_first = persisted_rdds(spark)
    for w in range(1, WARM_PASSES + 1):
        for n in names:
            r = one(n, f"w{w}")
            if r:
                warm[n].append((r[0], r[1]))
                if r[2] is not None:
                    profiles[n] = r[2]  # the last warm pass's profile
    memo_last = persisted_rdds(spark)

    with tracer.span("check", board):
        bad = check(spark, names, tables)
    samples = [b + e for n in names for b, e in warm[n] if n not in broken]
    med = {n: median([b + e for b, e in warm[n]]) for n in names if n not in broken and warm[n]}
    try:
        p90 = percentile(samples, 90)
    except ValueError:
        p90 = None
    e2e = {
        "board_s": sum(med.values()),
        "query_p50_s": median(samples) if samples else None,
        "query_p90_s": p90,
        "first_call_s": sum(first.values()),
        "per_query_s": {n: [first.get(n)] + [b + e for b, e in warm[n]] for n in names},
    }
    layers = {}
    if traced:
        def summed(phase: str, key: str) -> float:
            return sum(profiles[n][phase][key] for n in profiles)

        skews = [s for n in profiles for s in profiles[n]["exec"]["task_skew"]]
        layers = {
            "queries.build_s": sum(median([b for b, _ in warm[n]]) for n in med),
            "queries.build_jobs": summed("build", "jobs"),
            "queries.build_first_s": sum(first_build.values()),
            "queries.memo_frames": memo_last[0],
            "queries.memo_bytes": memo_last[1],
            "queries.memo_frames_first": memo_first[0],
            "spark.exec_s": sum(median([e for _, e in warm[n]]) for n in med),
            "spark.task_skew": median(skews) if skews else 1.0,
        }
        for k in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
                  "shuffle_read_bytes", "shuffle_write_bytes", "input_bytes",
                  "spill_bytes", "exchanges"):
            layers[f"spark.{k}"] = summed("exec", k)
        layers["functions.py_worker_s"] = summed("exec", "py_worker_s") + summed("build", "py_worker_s")
        layers["functions.py_bytes_sent"] = summed("exec", "py_bytes_sent") + summed("build", "py_bytes_sent")
        if board == "board-pipeline":
            with tracer.span("decode", board):
                layers.update(decode_rates(seed))
        layers["per_query"] = {
            n: {"first_s": first.get(n), "warm": warm[n], "profile": profiles.get(n)} for n in names
        }
    return {
        "attempted": calls + len(names),
        "failed": failed_calls + len(bad),
        "failed_names": sorted(set(bad) | broken),
        "cold_s": e2e["first_call_s"],
        "op_ms": geomean(list(med.values())) * 1e3 if med else 0.0,
        "total_s": e2e["board_s"],
        "workload_metrics": e2e,
        "layers": layers,
    }


def decode_rates(seed: int) -> dict[str, float]:
    """Megapixels per second of ``multimodal.decode_image`` on one seeded
    ``DECODE_SIDE``-square image per codec, called directly (no Spark) for
    at least ``DECODE_MIN_S``. The GIF copy is cut to 216 colours, GIF's
    palette limit."""
    import numpy as np

    from dipa_collaborative_pulsar_idps_spark.functions.gif import encode_gif
    from dipa_collaborative_pulsar_idps_spark.functions.jpeg import encode_jpeg
    from dipa_collaborative_pulsar_idps_spark.functions.multimodal import decode_image, encode_png

    rng = np.random.default_rng(seed)
    side = DECODE_SIDE
    ramp = np.linspace(0, 200, side)[None, :, None] + np.linspace(0, 50, side)[:, None, None]
    img = np.clip(ramp + rng.normal(0, 12, (side, side, 3)), 0, 255).astype(np.uint8)
    out = {}
    for codec, payload in (("jpeg", encode_jpeg(img)), ("png", encode_png(img)), ("gif", encode_gif(img // 51 * 51))):
        n, t0 = 0, time.perf_counter()
        while (elapsed := time.perf_counter() - t0) < DECODE_MIN_S or n < 3:
            assert decode_image(payload).shape == img.shape
            n += 1
        out[f"functions.decode_mpx_per_s.{codec}"] = n * side * side / elapsed / 1e6
    return out


def record_expected_rows(spark, tables: str) -> dict[str, int]:
    """Row counts of every declared query without a DuckDB oracle, on
    the benchmark tables (run once when the tables change)."""
    from dipa_collaborative_pulsar_idps_spark.queries import REGISTRY, all_queries

    all_queries()
    return {
        n: spec.fn(spark, tables).count()
        for n, spec in sorted(REGISTRY.items())
        if spec.oracle is None
    }
