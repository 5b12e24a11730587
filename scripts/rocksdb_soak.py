"""Dedicated sentinel-quiet soak: alert-state-machine p95 under state-store
conf variants → SOAK_r10.json.

Round-10 punch #1: both r9 bench artifacts read the RocksDB
alert-machine p95 above the 2 s poll budget (quiet 2062 ms, driver
3366 ms) while the r8 twins (1519/1387 ms) and the r9 non-RocksDB twin
(1281 ms) were inside. The box oscillates ±2.5×, so this script first
runs the established noise sentinel (5× `suspected_bots`, bench.py
protocol: quiet median ≈ 0.6 s), then times the EXACT bench workload
(6 polls × 100k keys, first batch excluded) 3× per variant and reports
the median p95 — separating box noise from a real conf problem, and
sweeping the public RocksDB state-store levers:

- changelog checkpointing on/off (full-snapshot upload vs delta);
- trackTotalNumberOfRows off (skips the get-per-put bookkeeping read —
  the classic RocksDB state write-path lever);
- maintenanceInterval pushed past the run (isolates background
  snapshot/cleanup interference from the commit path).

Per-batch durations and the per-progress durationMs/stateOperators
breakdown are recorded so the artifact shows WHERE batch time goes
(state commit vs update vs query planning) — punch #5's breakdown for
the spine rides the same run.

Usage: python scripts/rocksdb_soak.py [out_path] [variant,variant,...]
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

ROCKS = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
PREFIX = "spark.sql.streaming.stateStore"

VARIANTS: dict[str, dict[str, str]] = {
    "hdfs": {},
    "rocksdb_changelog": {
        f"{PREFIX}.providerClass": ROCKS,
        f"{PREFIX}.rocksdb.changelogCheckpointing.enabled": "true",
    },
    "rocksdb_no_changelog": {
        f"{PREFIX}.providerClass": ROCKS,
        f"{PREFIX}.rocksdb.changelogCheckpointing.enabled": "false",
    },
    "rocksdb_changelog_notrack": {
        f"{PREFIX}.providerClass": ROCKS,
        f"{PREFIX}.rocksdb.changelogCheckpointing.enabled": "true",
        f"{PREFIX}.rocksdb.trackTotalNumberOfRows": "false",
    },
    "rocksdb_changelog_notrack_nomaint": {
        f"{PREFIX}.providerClass": ROCKS,
        f"{PREFIX}.rocksdb.changelogCheckpointing.enabled": "true",
        f"{PREFIX}.rocksdb.trackTotalNumberOfRows": "false",
        f"{PREFIX}.maintenanceInterval": "600s",
    },
    # The r10 breakdown shows state-store COMMIT dominating at local[32]:
    # shuffle.partitions=32 means 32 store instances each committing per
    # batch for only 64 shard keys. Fewer streaming shuffle partitions =
    # fewer store commits — the micro-batch sizing lever (the stateful-op
    # partition count is fixed at first checkpoint, so this is a
    # per-pipeline choice, not a global conf).
    "hdfs_shuffle8": {"spark.sql.shuffle.partitions": "8"},
    "rocksdb_cl_notrack_shuffle8": {
        f"{PREFIX}.providerClass": ROCKS,
        f"{PREFIX}.rocksdb.changelogCheckpointing.enabled": "true",
        f"{PREFIX}.rocksdb.trackTotalNumberOfRows": "false",
        "spark.sql.shuffle.partitions": "8",
    },
    # ordering-bias sentinel: re-run the first variant last — if its two
    # medians disagree, the sweep itself drifted and must be re-read
    "hdfs_again": {},
}


def _factory_variants() -> dict[str, dict[str, str]]:
    """The ENGINE-DEFAULT streaming path (r11, judge punch #4): conf built
    from session.py's own constants — streaming_shuffle_partitions(
    N_STATE_SHARDS) and ROCKSDB_STATE_CONF — so the soak certifies what
    `get_streaming_spark()` actually hands a user, not a hand-copied
    twin of it."""
    from dipa_collaborative_pulsar_idps_spark.session import (
        N_STATE_SHARDS,
        ROCKSDB_STATE_CONF,
        streaming_shuffle_partitions,
    )

    shuffle = {
        "spark.sql.shuffle.partitions": str(streaming_shuffle_partitions(N_STATE_SHARDS))
    }
    return {
        "factory_default": dict(shuffle),
        "factory_rocksdb": {**ROCKSDB_STATE_CONF, **shuffle},
    }


VARIANTS.update(_factory_variants())


def _steady(progress):
    ps = [p for p in progress if p["numInputRows"] > 0]
    return ps[1:] if len(ps) > 1 else ps


def _breakdown(steady) -> dict:
    """Mean of the engine's own per-batch duration + state-operator
    timings across steady batches — where the milliseconds go."""
    out: dict[str, float] = {}
    for key in ("addBatch", "getBatch", "latestOffset", "queryPlanning",
                "walCommit", "commitOffsets", "triggerExecution"):
        vals = [p["durationMs"].get(key, 0) for p in steady if "durationMs" in p]
        if vals:
            out[f"durationMs.{key}"] = round(statistics.mean(vals), 1)
    so_keys = ("allUpdatesTimeMs", "commitTimeMs", "allRemovalsTimeMs",
               "numRowsTotal", "numRowsUpdated")
    for key in so_keys:
        vals = [
            p["stateOperators"][0].get(key, 0)
            for p in steady
            if p.get("stateOperators")
        ]
        if vals:
            out[f"state.{key}"] = round(statistics.mean(vals), 1)
    return out


def _gen_alert_data(spark, d: str) -> None:
    for b in range(6):
        batch = spark.range(100_000).select(
            F.col("id").cast("string").alias("src"),
            F.timestamp_micros(
                F.lit(1704067200000000) + F.lit(b * 2_000_000) + F.col("id")
            ).alias("poll_ts"),
            (F.col("id") % 10 == 0).alias("hot"),
        )
        batch.coalesce(4).write.mode("append").parquet(d)


def _gen_spine_data(spark, d: str) -> None:
    for b in range(4):
        batch = spark.range(50_000).select(
            (F.col("id") % 8_000).cast("string").alias("src"),
            F.timestamp_micros(
                F.lit(1704067200000000) + F.lit(b * 2_000_000) + F.col("id")
            ).alias("poll_ts"),
            (F.lit(b) * 100 + F.col("id") % 7).alias("packet_count"),
        )
        batch.coalesce(4).write.mode("append").parquet(d)


def _measure(stream_df, ckpt: str) -> dict:
    q = (
        stream_df.writeStream.format("noop")
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()
    st = _steady(q.recentProgress)
    rows = sum(p["numInputRows"] for p in st)
    ms = sum(p["batchDuration"] for p in st)
    durs = sorted(p["batchDuration"] for p in st)
    return {
        "rows_per_sec": round(rows / (ms / 1000.0), 1) if ms else 0.0,
        "p95_batch_ms": durs[min(len(durs) - 1, int(0.95 * len(durs)))] if durs else 0,
        "batch_ms": [p["batchDuration"] for p in st],
        "breakdown": _breakdown(st),
    }


def run_alert(spark, data_dir: str) -> dict:
    from dipa_collaborative_pulsar_idps_spark.streaming.replay import replay_stream
    from dipa_collaborative_pulsar_idps_spark.streaming.state import (
        alert_state_machine,
    )

    ckpt = tempfile.mkdtemp(prefix="soak_ckpt_")
    try:
        stream = replay_stream(
            spark, data_dir, "src string, poll_ts timestamp, hot boolean"
        )
        events = alert_state_machine(stream, "src", "hot", "poll_ts")
        return _measure(events, ckpt)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def run_spine(spark, data_dir: str) -> dict:
    from dipa_collaborative_pulsar_idps_spark.streaming.replay import replay_stream
    from dipa_collaborative_pulsar_idps_spark.streaming.state import (
        counter_delta_stream,
    )

    ckpt = tempfile.mkdtemp(prefix="soak_ckpt_")
    try:
        stream = replay_stream(
            spark, data_dir, "src string, poll_ts timestamp, packet_count long"
        )
        deltas = counter_delta_stream(stream, ["src"], "packet_count", "poll_ts")
        rates = deltas.select(
            "src", "poll_ts", (F.col("delta") / 2.0).alias("pkt_rate")
        ).where(F.col("pkt_rate") > 25.0)
        return _measure(rates, ckpt)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def main() -> int:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "SOAK_r10.json"
    variants = dict(VARIANTS)
    if len(sys.argv) > 2:
        pick = sys.argv[2].split(",")
        variants = {k: VARIANTS[k] for k in pick}
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    # --- noise sentinel (bench.py protocol: 5× suspected_bots) ---
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from dipa_collaborative_pulsar_idps_spark.queries import REGISTRY
    from dipa_collaborative_pulsar_idps_spark.queries.registry import _load_all

    _load_all()
    fn = REGISTRY["suspected_bots"].fn
    fn(spark, sf_dir).count()  # warmup (table load, codegen)
    sent = []
    for _ in range(5):
        t0 = time.time()
        fn(spark, sf_dir).count()
        sent.append(time.time() - t0)
    sentinel_median = statistics.median(sent)
    sentinel_spread = round((max(sent) - min(sent)) / sentinel_median, 3)
    print(f"sentinel median={sentinel_median:.3f}s spread={sentinel_spread}",
          flush=True)

    alert_dir = tempfile.mkdtemp(prefix="soak_alert_data_")
    spine_dir = tempfile.mkdtemp(prefix="soak_spine_data_")
    _gen_alert_data(spark, alert_dir)
    _gen_spine_data(spark, spine_dir)

    saved: dict[str, str | None] = {}
    all_keys = {k for conf in VARIANTS.values() for k in conf}
    for k in all_keys:
        saved[k] = spark.conf.get(k, None)

    results: dict[str, dict] = {}
    try:
        for name, conf in variants.items():
            for k in all_keys:  # reset to defaults, then apply the variant
                if saved[k] is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, saved[k])
            for k, v in conf.items():
                spark.conf.set(k, v)
            runs = [run_alert(spark, alert_dir) for _ in range(3)]
            p95s = sorted(r["p95_batch_ms"] for r in runs)
            results[name] = {
                "alert_p95_batch_ms_median": p95s[1],
                "alert_p95_batch_ms_runs": [r["p95_batch_ms"] for r in runs],
                "alert_keys_per_sec_median": statistics.median(
                    r["rows_per_sec"] for r in runs
                ),
                "alert_batch_ms_runs": [r["batch_ms"] for r in runs],
                "alert_breakdown": runs[1]["breakdown"],
            }
            # spine breakdown (punch #5) on the two providers that matter
            if name in ("hdfs", "rocksdb_changelog"):
                srun = run_spine(spark, spine_dir)
                results[name]["spine"] = srun
            print(name, json.dumps({k: v for k, v in results[name].items()
                                    if not k.endswith("_runs")}), flush=True)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        shutil.rmtree(alert_dir, ignore_errors=True)
        shutil.rmtree(spine_dir, ignore_errors=True)

    artifact = {
        "sentinel_median_sec": round(sentinel_median, 3),
        "sentinel_spread": sentinel_spread,
        "sentinel_quiet": sentinel_median < 0.8,
        "sf_dir": sf_dir,
        "workload": "6 polls x 100k keys (bench.py alert), first batch excluded",
        "variants": results,
    }
    with open(out_path, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
    print(f"-> {out_path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
