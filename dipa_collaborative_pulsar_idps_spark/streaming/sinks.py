"""Side-effect sinks (SURVEY.md §2 A9/A10, I12).

The reference applies mitigations imperatively (flow-rule writes + ovs-vsctl
QoS, DIPA_Controller.py:213-226,376-413) with at-least-once Pulsar delivery
(ack after action :416). The engine's contract: **effective exactly-once**
— checkpointing gives at-least-once micro-batches, and the action sink
deduplicates on an idempotency key, so replays are no-ops.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: An action application function: receives ONLY actions not yet applied.
ActionFn = Callable[[list], None]


#: Sentinel for NULL key fields — concat_ws silently DROPS nulls, so without
#: it two actions differing only in a NULL column would collide on one
#: idempotency key and one would be skipped.
_NULL = "\x00∅"


class MitigationSink:
    """foreachBatch sink with idempotency-key dedup.

    Applied keys persist as parquet under ``ledger_path`` (the analogue of
    the switch's installed-rule table); a replayed micro-batch joins
    anti-style against the ledger, so each (action, target) fires once.

    Ledger hygiene at scale:
    - keys are null-safe (every key column coalesced to a sentinel before
      concat — concat_ws drops nulls);
    - the ledger is hive-partitioned by a key-hash BUCKET: each batch reads
      only the buckets its actions touch (partition-pruned scan), not the
      whole history;
    - every ``compact_every`` appends per bucket, that bucket is rewritten
      to one file (dynamic partition overwrite — other buckets untouched),
      so file count stays O(n_buckets), not O(batches).

    Two application paths:
    - ``apply_fn`` (driver-side, for small action sets — the common IDPS
      case: mitigations are human-scale): capped at ``max_driver_rows`` new
      rows per batch, failing LOUDLY past it rather than silently OOMing
      the driver on a hot batch;
    - ``apply_partition_fn`` (executor-side via ``foreachPartition``): each
      task applies its own slice; nothing lands on the driver, so action
      volume is unbounded. Same effective-exactly-once contract: the
      ledger write follows application, so a mid-batch failure replays the
      whole batch and the anti-join suppresses already-ledgered keys.
    """

    def __init__(
        self,
        ledger_path: str,
        key_cols: list[str],
        apply_fn: ActionFn | None = None,
        n_buckets: int = 16,
        compact_every: int = 8,
        apply_partition_fn: ActionFn | None = None,
        max_driver_rows: int = 10_000,
    ):
        if apply_fn is not None and apply_partition_fn is not None:
            raise ValueError("pass apply_fn OR apply_partition_fn, not both")
        self.ledger_path = ledger_path
        self.key_cols = key_cols
        self.apply_fn = apply_fn
        self.apply_partition_fn = apply_partition_fn
        self.max_driver_rows = max_driver_rows
        self.n_buckets = n_buckets
        self.compact_every = compact_every
        self.applied_batches: list[int] = []
        self._appends_per_bucket: dict[int, int] = {}

    def _key(self):
        return F.concat_ws(
            "§", *[F.coalesce(F.col(c).cast("string"), F.lit(_NULL)) for c in self.key_cols]
        )

    def _bucket_dir(self, b: int) -> str:
        return os.path.join(self.ledger_path, f"bucket={b}")

    def _ledger_buckets(self, spark, buckets: list[int]):
        """Read only the touched buckets (pruned by the hive layout).

        Existence goes through the Hadoop FileSystem API: an os.path
        check sees nothing on HDFS/S3A, which would silently treat the
        whole ledger as absent and REPLAY already-applied side effects —
        the exactly-once contract's worst failure mode.
        """
        jvm = spark._jvm
        root = jvm.org.apache.hadoop.fs.Path(self.ledger_path)
        fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
        present = [
            b
            for b in buckets
            if fs.exists(jvm.org.apache.hadoop.fs.Path(self._bucket_dir(b)))
        ]
        if not present:
            return None
        return spark.read.option("basePath", self.ledger_path).parquet(
            *[self._bucket_dir(b) for b in present]
        )

    def _compact(self, spark, bucket: int) -> None:
        bdir = self._bucket_dir(bucket)
        keys = spark.read.option("basePath", self.ledger_path).parquet(bdir)
        (
            keys.select("__key", "bucket")
            .distinct()
            .repartition(1)
            .write.mode("overwrite")
            .partitionBy("bucket")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(self.ledger_path)
        )
        self._appends_per_bucket[bucket] = 1

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        actions = batch_df.withColumn("__key", self._key()).withColumn(
            "bucket", F.pmod(F.xxhash64(F.col("__key")), F.lit(self.n_buckets)).cast("int")
        )
        touched = [int(r[0]) for r in actions.select("bucket").distinct().collect()]
        ledger = self._ledger_buckets(spark, touched)
        if ledger is not None:
            actions = actions.join(
                ledger.select("__key"), "__key", "left_anti"
            )
        # The only full-batch driver materialization below is the apply_fn
        # path, and it is CAPPED: per-bucket counts (≤ n_buckets rows) decide
        # emptiness and compaction, and the ledger write is a distributed
        # DataFrame write — never routed through the driver.
        actions = actions.persist()
        try:
            bucket_counts = {
                int(r["bucket"]): int(r["n"])
                for r in actions.groupBy("bucket").agg(F.count("*").alias("n")).collect()
            }
            n_new = sum(bucket_counts.values())
            if n_new == 0:
                return
            if self.apply_fn is not None:
                if n_new > self.max_driver_rows:
                    raise RuntimeError(
                        f"MitigationSink: batch {batch_id} has {n_new} new actions, "
                        f"above max_driver_rows={self.max_driver_rows} for the "
                        "driver-side apply_fn path — pass apply_partition_fn to "
                        "apply large action sets on the executors instead"
                    )
                self.apply_fn(actions.collect())  # side effect: rule install / QoS
            elif self.apply_partition_fn is not None:
                fn = self.apply_partition_fn
                # executor-side application: each task applies its own slice,
                # nothing lands on the driver
                actions.foreachPartition(lambda rows: fn(list(rows)))
            actions.select("__key", "bucket").write.mode("append").partitionBy(
                "bucket"
            ).parquet(self.ledger_path)
            self.applied_batches.append(batch_id)
            for b in bucket_counts:
                self._appends_per_bucket[b] = self._appends_per_bucket.get(b, 0) + 1
                if self._appends_per_bucket[b] >= self.compact_every:
                    self._compact(spark, b)
        finally:
            actions.unpersist()


class SummarySink:
    """Streaming materialized-view maintenance: a foreachBatch sink that
    folds each micro-batch into a persisted mergeable summary
    (`operators/incremental.py`) — the streaming twin of the
    `incremental_priority_revenue` refresh query.

    Exactly-once via VERSIONED snapshots: batch N merges its partial into
    the newest snapshot with version < N and overwrites ``v=N``. A
    replayed batch (at-least-once delivery) recomputes from the SAME
    predecessor — double-merging is structurally impossible, no ledger
    needed. Snapshots are summary-sized (one row per group), so the merge
    shuffle never touches stream history; versions older than ``retain``
    snapshots are pruned to bound storage.

    Snapshot discovery and pruning go through the Hadoop FileSystem API
    (whatever filesystem ``summary_path`` resolves to — HDFS/S3A/local),
    matching MitigationSink's Spark-readable ledger; a plain os.listdir
    would silently see nothing on a cluster store. Checkpoint-reset
    safety: if any snapshot version EXCEEDS the incoming batch id, the
    stream was restarted with a fresh checkpoint against a used
    summary_path (batch ids restarted from 0) — merging would silently
    serve/extend stale state, so the sink FAILS FAST and tells the
    operator to clear the path or resume the original checkpoint.

    100 TB shape: per-batch work = O(batch) partial aggregation +
    O(summary) merge — the base "table" (all history) is never rescanned,
    which is the entire point of mergeable summaries.
    """

    def __init__(
        self,
        summary_path: str,
        keys: list[str],
        measure: str,
        retain: int = 3,
    ) -> None:
        self.summary_path = summary_path
        self.keys = keys
        self.measure = measure
        self.retain = retain

    def _fs(self, spark):
        jvm = spark._jvm
        path = jvm.org.apache.hadoop.fs.Path(self.summary_path)
        return path.getFileSystem(spark._jsc.hadoopConfiguration()), path, jvm

    def _versions(self, spark) -> list[int]:
        fs, path, _ = self._fs(spark)
        if not fs.exists(path):
            return []
        out = []
        for st in fs.listStatus(path):
            name = st.getPath().getName()
            if name.startswith("v="):
                try:
                    out.append(int(name.split("=", 1)[1]))
                except ValueError:
                    pass
        return sorted(out)

    def _snapshot(self, spark, version: int) -> DataFrame:
        return spark.read.parquet(f"{self.summary_path}/v={version}")

    def current(self, spark) -> DataFrame:
        """Latest finalized summary (empty-schema None if nothing yet)."""
        from ..operators.incremental import finalize_summary

        vs = self._versions(spark)
        if not vs:
            raise FileNotFoundError(f"no summary snapshots under {self.summary_path}")
        return finalize_summary(self._snapshot(spark, vs[-1]))

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.incremental import merge_summaries, partial_summary

        spark = batch_df.sparkSession
        vs = self._versions(spark)
        # checkpoint-reset guard: within one checkpoint lineage batch ids
        # are monotone and only the LAST batch is ever replayed, so a
        # snapshot version above the incoming id can only mean a fresh
        # checkpoint pointed at a used summary_path. Merging would serve
        # stale state until batch_id passed the old max — fail fast.
        stale = [v for v in vs if v > batch_id]
        if stale:
            raise RuntimeError(
                f"SummarySink at {self.summary_path}: snapshot versions "
                f"{stale} exceed incoming batch id {batch_id} — the stream "
                "was restarted with a fresh checkpoint against an existing "
                "summary. Clear the summary path (or point the sink at a "
                "new one), or resume from the original checkpoint."
            )
        part = partial_summary(batch_df, self.keys, self.measure)
        # replay safety: ONLY versions strictly below this batch id are
        # eligible predecessors — a redelivered batch folds into the same
        # base it used the first time.
        prior = [v for v in vs if v < batch_id]
        merged = merge_summaries(self._snapshot(spark, prior[-1]), part) if prior else part
        merged.write.mode("overwrite").parquet(f"{self.summary_path}/v={batch_id}")
        if len(prior) > self.retain:
            fs, _, jvm = self._fs(spark)
            for v in prior[: -self.retain]:
                fs.delete(
                    jvm.org.apache.hadoop.fs.Path(f"{self.summary_path}/v={v}"), True
                )


def upsert_lake_sink(
    path: str,
    key_cols: tuple[str, ...] = ("dpid", "flow_key", "poll_ts"),
    ts_col: str = "poll_ts",
    seq_col: str | None = None,
):
    """Late-correction MERGE sink: a foreachBatch body that folds each
    micro-batch into the parquet telemetry lake via
    `storage.upsert_telemetry` — a redelivered/corrected reading for the
    same (switch, flow, poll) replaces the earlier row, and only the
    (event_date, dpid) partitions the batch touches are rewritten. The
    row-level complement to :class:`SummarySink` (which maintains
    aggregates): this maintains the raw keyed rows themselves.

    Exactly-once by CONVERGENCE, no ledger: the batch is first compacted
    to one row per key — by ``seq_col`` DESC when the stream carries a
    CDC sequence/version column (the original and its correction can
    share one micro-batch), content-hash tie-break otherwise so the
    winner is the same under replay — and the upsert is key-idempotent — replaying a
    delivered batch anti-joins out the very rows it wrote and reinserts
    identical ones, so any crash/replay interleaving lands on the same
    lake state.

    The key deliberately INCLUDES the poll timestamp: the lake is
    partitioned by event_date(ts), so a key that pins the ts always
    lands corrections in the partition holding the row they supersede.
    Current-state (SCD1, ts-free key) semantics would need a lake
    partitioned by a stable key-derived column instead — with date
    partitions the superseded row could sit in an unread partition and
    survive.
    """
    from ..storage import upsert_telemetry

    def fn(batch: DataFrame, batch_id: int) -> None:
        from pyspark.sql.window import Window

        order = [F.xxhash64(F.struct(*batch.columns)).asc()]
        if seq_col is not None:
            order.insert(0, F.col(seq_col).desc())
        w = Window.partitionBy(*key_cols).orderBy(*order)
        compacted = (
            batch.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
        upsert_telemetry(
            batch.sparkSession, path, compacted, key_cols=key_cols, ts_col=ts_col
        )

    return fn
