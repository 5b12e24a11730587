"""SparkSession factory.

Design notes (100 TB stance):
- AQE on: runtime join-strategy switching, skew-join splitting, partition
  coalescing replace most hand-tuning.
- ``spark.sql.shuffle.partitions`` defaults to 2× local cores here; on a real
  cluster AQE coalesces, and callers override via env.
- Session timezone pinned to UTC so TIMESTAMP (tz-aware) values collected by
  any harness are stable regardless of host timezone.
- ``spark.sql.legacy.parquet.nanosAsLong`` lets us read the nanosecond
  `events.ts` parquet column (Spark has no ns timestamp); `tables.py` converts
  to timestamp_ntz at µs precision.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

#: Runtime-settable confs the engine needs on ANY session (including one the
#: verification driver created without our builder). Applied idempotently by
#: :func:`ensure_runtime_confs`.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for driver<->JVM transfers (guide §6): the engine's tiny
    # driver-local relations (stats rows, centroid/codebook tables, inline
    # dims — see localdf.local_rows_df) ship to the JVM once at creation
    # instead of re-evaluating defaultParallelism pickled-RDD slices on
    # every downstream use (a coalesce(1) write of a 1-row classic-path
    # frame measured 5 s at local[32]; the Arrow path 0.2 s — r14).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Idempotently apply engine-required runtime confs to *spark*."""
    for k, v in RUNTIME_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except AnalysisException:
            # a static or non-modifiable conf: keep the session's own value
            pass
    return spark


#: Large-state streaming: RocksDB-backed state store (bundled with Spark 4).
#: The in-memory HDFS-backed provider keeps every key on-heap — fine for
#: tests, not for 100 TB detection state. Apply to a session running
#: production streaming queries (settable at runtime before query start).
ROCKSDB_STATE_CONF = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
    # r10 soak (SOAK_r10*.json): skipping the get-per-put row-count
    # bookkeeping is a measured p95/throughput win on the alert-machine
    # workload (1503 → 1341 ms, 18.9k → 22.3k keys/s at 32 shuffle
    # partitions) and the standard recommendation for write-heavy large
    # state. Cost: the numRowsTotal METRIC reads 0 — state size is
    # audited by the engine's own emit_state_size probe / the State Data
    # Source (streaming/stateview.py), not this counter. Re-enable per
    # session to restore the metric.
    "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows": "false",
}


def enable_rocksdb_state(spark: SparkSession) -> SparkSession:
    """Switch streaming state to RocksDB (disk-backed, changelog checkpoints)."""
    for k, v in ROCKSDB_STATE_CONF.items():
        spark.conf.set(k, v)
    return spark


#: Hash shards of the sharded-state streaming operators (`counter_delta_stream`,
#: `alert_state_machine`, `pushback_dedupe_stream` in streaming/state.py):
#: each shard is one Python invocation per micro-batch.
N_STATE_SHARDS = 64


def streaming_shuffle_partitions(n_state_shards: int = N_STATE_SHARDS) -> int:
    """The measured shuffle-partition count for MICRO-BATCH STATEFUL
    pipelines holding ``n_state_shards`` shard keys of state: ≈ shards/8,
    floor 2.

    r10 soak (SOAK_r10_shuffle.json): with 64-shard state, 32 shuffle
    partitions means 32 state-store instances each paying open/commit per
    batch for ~2 keys — per-instance COMMIT dominated the batch and 8
    partitions halved p95 on BOTH providers (hdfs 1381→728 ms,
    rocksdb+notrack ~707 ms) at >2× throughput. The stateful-operator
    partition count is fixed at the pipeline's FIRST checkpoint: size it
    to state volume, not core count."""
    return max(2, n_state_shards // 8)


def get_streaming_spark(
    app_name: str = "dipa-streaming",
    rocksdb: bool = False,
    master: str | None = None,
) -> SparkSession:
    """Session factory for STATEFUL STREAMING pipelines — get_spark with
    the measured micro-batch defaults applied (r11, promoting the r10
    soak findings from bench-harness conf to engine default):

    - ``spark.sql.shuffle.partitions`` = :func:`streaming_shuffle_partitions`
      (state-store commits per instance dominate at core-count partitions);
    - ``rocksdb=True`` additionally applies :data:`ROCKSDB_STATE_CONF`
      (disk-backed state + changelog checkpointing — the 100 TB state
      path; includes the measured trackTotalNumberOfRows=false win).

    A user who builds their own session via get_spark gets core-count
    partitions — right for the relational surface, wrong for 64-shard
    micro-batch state; this factory is the one-call way to get the
    measured streaming configuration.

    When a session ALREADY RUNS in this process, the factory returns
    ``active.newSession()`` — same SparkContext, ISOLATED SQLConf — with
    the streaming partition count set only there (r11 advisor: routing
    through get_spark's getOrCreate would re-apply the builder's runtime
    confs to the existing session, silently dropping the already-running
    relational workload's shuffle partitions to shards/8). getActiveSession
    is THREAD-LOCAL, so a session created on another thread would read as
    None here — also consult the process-global default session (the one
    getOrCreate would return; PySpark exposes it as
    ``SparkSession._instantiatedSession`` — the Python API has no public
    getDefaultSession) before concluding no session runs (r12 advisor:
    missing that check re-routed through get_spark and clobbered the
    running workload's confs, the exact bug this branch prevents)."""
    shuffle = streaming_shuffle_partitions()
    active = SparkSession.getActiveSession() or getattr(
        SparkSession, "_instantiatedSession", None
    )
    if active is not None:
        spark = active.newSession()
        ensure_runtime_confs(spark)
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle))
    else:
        spark = get_spark(app_name, master, shuffle_partitions=shuffle)
    if rocksdb:
        enable_rocksdb_state(spark)
    return spark


def get_spark(
    app_name: str = "dipa-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Create (or reuse) the engine SparkSession.

    Env knobs: ``SPARK_GRAFT_CPUS`` (local parallelism, default 32).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return ensure_runtime_confs(builder.getOrCreate())
