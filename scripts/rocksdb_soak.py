"""Dedicated sentinel-quiet soak: alert-state-machine p95 under state-store
conf variants → SOAK_r10.json.

Round-10 punch #1: both r9 bench artifacts read the RocksDB
alert-machine p95 above the 2 s poll budget (quiet 2062 ms, driver
3366 ms) while the r8 twins (1519/1387 ms) and the r9 non-RocksDB twin
(1281 ms) were inside. The box oscillates ±2.5×, so this script first
runs bench.py's noise sentinel (`bench.noise_sentinel`: quiet median
≈ 0.6 s), then times bench.py's own alert-machine workload
(`bench.write_alert_data` / `alert_stream` / `measure`: 6 polls × 100k
keys, first batch excluded) 3× per variant and reports the median
p95 — separating box noise from a real conf problem, and sweeping the
public RocksDB state-store levers:

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

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import (  # noqa: E402
    alert_stream,
    measure,
    noise_sentinel,
    session_conf,
    spine_stream,
    warm_up,
    write_alert_data,
    write_spine_data,
)

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

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    warm_up(spark, sf_dir)
    sentinel_median, sentinel_spread = noise_sentinel(spark, sf_dir)
    print(f"sentinel median={sentinel_median:.3f}s spread={sentinel_spread}",
          flush=True)

    alert_dir = tempfile.mkdtemp(prefix="soak_alert_data_")
    spine_dir = tempfile.mkdtemp(prefix="soak_spine_data_")
    write_alert_data(spark, alert_dir)
    write_spine_data(spark, spine_dir)

    def run(stream, data_dir: str) -> dict:
        ckpt = tempfile.mkdtemp(prefix="soak_ckpt_")
        try:
            return measure(stream(spark, data_dir), ckpt)
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)

    results: dict[str, dict] = {}
    try:
        for name, conf in variants.items():
            with session_conf(spark, conf):
                runs = [run(alert_stream, alert_dir) for _ in range(3)]
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
                    results[name]["spine"] = run(spine_stream, spine_dir)
            print(name, json.dumps({k: v for k, v in results[name].items()
                                    if not k.endswith("_runs")}), flush=True)
    finally:
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
