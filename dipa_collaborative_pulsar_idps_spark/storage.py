"""Storage layout for telemetry at scale (SURVEY.md §7 Phase 6).

The reference scopes every scan by switch — one stats request per
datapath per poll (DIPA_Controller.py:425-434). At 100 TB the same
scoping comes from the table LAYOUT: hive-partition the event logs by
``(event_date, dpid)`` so queries touching one day / one switch read only
those directories (Catalyst `PruneFileSourcePartitions`), and sort within
files by the poll timestamp so parquet row-group stats prune further.

Partition-count hygiene: date × dpid at 7 switches is ~2.6 k directories
per year — comfortably under the small-files cliff. Do NOT partition by
high-cardinality keys (ipv4_src would create millions of dirs); those
belong in row-group sort order, not the directory tree.

The module also holds the Hadoop FileSystem primitives every persisted
index, ledger and sink in the package goes through (:func:`_fs_path`,
:func:`_exists`, :func:`_read_text`, :func:`_write_text`), so HDFS, S3A
and local paths behave alike, and the batch-stamped dynamic-overwrite
write the exactly-once sinks and indexes share
(:func:`_write_batch_partitions`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: directory keys, lowest→highest cardinality (date first: time-range
#: predicates are the most common pruner).
TELEMETRY_PARTITION_COLS = ("event_date", "dpid")


def write_telemetry(
    df: DataFrame,
    path: str,
    ts_col: str = "poll_ts",
    mode: str = "append",
    target_file_rows: int | None = None,
) -> None:
    """Write a telemetry frame hive-partitioned by (event_date, dpid),
    sorted within each file by *ts_col* for row-group pruning.

    ``sortWithinPartitions`` costs no extra shuffle; the repartition on the
    partition keys makes one task own each output directory, avoiding the
    many-small-files pattern of task-parallel appends."""
    out = df.withColumn("event_date", F.to_date(F.col(ts_col)))
    out = out.repartition("event_date", "dpid").sortWithinPartitions(
        "event_date", "dpid", ts_col
    )
    writer = out.write.mode(mode).partitionBy(*TELEMETRY_PARTITION_COLS)
    if target_file_rows:
        writer = writer.option("maxRecordsPerFile", target_file_rows)
    writer.parquet(path)


def read_telemetry(
    spark: SparkSession,
    path: str,
    date: str | None = None,
    dpid: int | None = None,
) -> DataFrame:
    """Read back with partition predicates expressed as column filters —
    Catalyst turns them into directory pruning (asserted in
    tests/test_scale_strategies.py), never a full listing scan."""
    df = spark.read.parquet(path)
    if date is not None:
        df = df.where(F.col("event_date") == F.lit(date).cast("date"))
    if dpid is not None:
        df = df.where(F.col("dpid") == dpid)
    return df


def telemetry_lake_sink(stream_df: DataFrame, path: str, checkpoint: str, ts_col: str = "poll_ts"):
    """Streaming ingestion into the partitioned lake: every micro-batch is
    appended hive-partitioned via :func:`write_telemetry` (foreachBatch —
    the checkpoint provides effective exactly-once for the append since
    each batch lands atomically per partition directory).

    Returns the started StreamingQuery (availableNow trigger: drains what
    exists then stops — callers wanting continuous ingestion re-trigger or
    swap the trigger)."""
    return (
        stream_df.writeStream.foreachBatch(
            lambda batch, _id: write_telemetry(batch, path, ts_col=ts_col)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def compact_partition(
    spark: SparkSession,
    path: str,
    date: str,
    dpid: int,
    target_files: int = 1,
    ts_col: str = "poll_ts",
) -> int:
    """Small-files remediation for one (event_date, dpid) leaf: streaming
    appends land one file per micro-batch, so a day of 2 s polls is ~43 k
    tiny files per switch — this rewrites the leaf into *target_files*
    ts-sorted files. Returns the row count rewritten.

    Uses dynamic partition overwrite so ONLY the targeted leaf is replaced;
    concurrent reads of other partitions are untouched. Run off-peak per
    leaf (idempotent: rewriting the same leaf twice is a no-op shape-wise).
    """
    leaf = read_telemetry(spark, path, date=date, dpid=dpid)
    n = leaf.count()
    if n == 0:
        return 0
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            leaf.repartition(target_files)
            .sortWithinPartitions(ts_col)
            .write.mode("overwrite")
            .partitionBy(*TELEMETRY_PARTITION_COLS)
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return n


# ---------------------------------------------------------------------------
# Curated-corpus layout: the datapipe twin of the telemetry lake. A trained-on
# corpus is read back over and over (shard export, decontamination re-runs,
# stratified sampling) — the layout must make those scans cheap.
# ---------------------------------------------------------------------------

#: lang first: it is the dominant curation predicate (per-language funnels,
#: stratified sampling) and is low-cardinality — safe as a directory key.
#: doc_id stays in ROW-GROUP sort order (high cardinality — never a dir key);
#: range scans (shard manifests, id-bucket sampling) prune via parquet
#: min/max stats instead.
CORPUS_PARTITION_COLS = ("lang",)


def write_corpus(
    df: DataFrame,
    path: str,
    mode: str = "append",
    target_file_rows: int | None = None,
    n_tasks: int | None = None,
) -> None:
    """Write a curated documents frame hive-partitioned by lang, sorted
    within files by doc_id (row-group stats pruning for id-range reads).

    Write tasks RANGE-partition on (lang, doc_id): repartitioning by lang
    alone would funnel each language's entire corpus through one task —
    at 100 TB an 80%-English corpus would bound the job by one executor
    sorting 80 TB. Range partitioning with an explicit data-proportional
    task count (``n_tasks``; explicit so AQE cannot coalesce it away)
    spreads a big language across many tasks while every task's output
    stays a CONTIGUOUS sorted id run — in-file doc_id sort (and therefore
    row-group range pruning) is preserved, and files per lang stay
    ~tasks-touching-that-lang, not a task-parallel spray."""
    if n_tasks is None:
        from .plans.sizing import sized_partition_count

        n_tasks = sized_partition_count(df)
    out = df.repartitionByRange(
        n_tasks, *CORPUS_PARTITION_COLS, "doc_id"
    ).sortWithinPartitions(*CORPUS_PARTITION_COLS, "doc_id")
    writer = out.write.mode(mode).partitionBy(*CORPUS_PARTITION_COLS)
    if target_file_rows:
        writer = writer.option("maxRecordsPerFile", target_file_rows)
    writer.parquet(path)


def read_corpus(
    spark: SparkSession,
    path: str,
    lang: str | None = None,
    doc_id_range: tuple[int, int] | None = None,
) -> DataFrame:
    """Read back with the pruning predicates expressed as column filters:
    lang prunes directories, the doc_id range prunes row groups via the
    in-file sort (both asserted in tests/test_scale_strategies.py)."""
    df = spark.read.parquet(path)
    if lang is not None:
        df = df.where(F.col("lang") == lang)
    if doc_id_range is not None:
        lo, hi = doc_id_range
        df = df.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
    return df


def delete_docs(
    spark: SparkSession,
    path: str,
    doc_ids: list[int],
    n_tasks: int | None = None,
) -> int:
    """Targeted delete (GDPR / right-to-be-forgotten / takedown) from the
    corpus lake: remove *doc_ids*, rewriting ONLY the lang partitions
    that actually contain them — the delete-shaped sibling of
    :func:`upsert_telemetry`'s MERGE.

    Plain parquet has no DELETE, so the honest primitive is: find the
    touched lang dirs (semi-join the id set, partition-pruned scan) →
    anti-join the ids out of just those dirs → dynamic-overwrite them,
    preserving the in-file doc_id sort (same range-partitioned write as
    :func:`write_corpus`). Cost scales with the touched partitions, not
    the lake. A lang whose every row is deleted can't be cleared by a
    dynamic overwrite (nothing is written for it), so fully-emptied dirs
    are removed through the Hadoop FS API afterwards — HDFS/S3A-correct.

    The survivor set is MATERIALIZED (eager localCheckpoint) before the
    overwrite: a lazy ``kept`` plan would re-read *path* during the very
    overwrite job that is truncating it, and a crash or stage retry
    mid-commit could then permanently lose surviving rows of touched
    partitions (some Spark versions reject the self-read outright).
    As with :func:`upsert_telemetry`, the commit itself is still the
    non-atomic plain-parquet dynamic overwrite: a crash between
    partition commits leaves some langs rewritten and others not —
    re-running the same delete converges (Delta/Iceberg make this
    transactional; the rewrite shape is identical).

    Returns the number of rows deleted."""
    from .localdf import local_rows_df

    ids_df = local_rows_df(
        spark, [(int(i),) for i in doc_ids], "doc_id long"
    ).distinct()
    corpus = spark.read.parquet(path)
    touched = [
        r.lang
        for r in corpus.join(F.broadcast(ids_df), "doc_id", "semi")
        .select("lang")
        .distinct()
        .collect()  # bounded-collect: one row per touched lang partition
    ]
    if not touched:
        return 0
    affected = corpus.where(F.col("lang").isin(touched))
    n_before = affected.count()
    # Eagerly cut the lineage back to the source path BEFORE overwriting
    # that same path (see docstring: self-read-during-overwrite hazard).
    kept = affected.join(F.broadcast(ids_df), "doc_id", "left_anti").localCheckpoint(
        eager=True
    )
    if n_tasks is None:
        from .plans.sizing import sized_partition_count

        n_tasks = sized_partition_count(kept)
    survivors = [r.lang for r in kept.select("lang").distinct().collect()]  # bounded-collect: langs
    n_deleted = n_before - kept.count()
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            kept.repartitionByRange(n_tasks, *CORPUS_PARTITION_COLS, "doc_id")
            .sortWithinPartitions(*CORPUS_PARTITION_COLS, "doc_id")
            .write.mode("overwrite")
            .partitionBy(*CORPUS_PARTITION_COLS)
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    # dynamic overwrite writes nothing for a lang with zero survivors —
    # clear those dirs explicitly or the deleted rows would resurrect
    for lang in set(touched) - set(survivors):
        fs, p = _fs_path(spark, f"{path}/lang={lang}")
        if fs.exists(p):
            fs.delete(p, True)
    return n_deleted


def upsert_telemetry(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: tuple[str, ...] = ("dpid", "flow_key", "poll_ts"),
    ts_col: str = "poll_ts",
) -> int:
    """Keyed upsert (MERGE-equivalent) into the plain-parquet lake:
    last-write-wins on *key_cols*, rewriting ONLY the (event_date, dpid)
    leaves the updates touch.

    Plain parquet has no MERGE, so the honest primitive is
    read-affected-leaves → anti-join out the superseded rows → union the
    updates → dynamic-overwrite those leaves. Cost scales with the
    touched leaves, not the table: the affected-partition set comes from
    the (small) update batch and prunes the read via PartitionFilters —
    a late-correction batch for one day/switch rewrites one directory of
    a year-sized lake. (Delta/Iceberg make this transactional; the
    rewrite SHAPE — touched-partition scoping, key anti-join — is the
    same, which is why it lives here as the layout's upsert story.)
    Returns the number of update rows applied."""
    import os

    ups = updates.withColumn("event_date", F.to_date(F.col(ts_col)))
    touched = [
        (r["event_date"], r["dpid"])
        for r in ups.select("event_date", "dpid").distinct().collect()
    ]  # bounded-collect: one row per touched (day, switch) leaf — the update batch's partition set, not table data
    if not touched:
        return 0
    if not os.path.exists(path):
        # MERGE into an empty target is pure insert — first write creates
        # the lake instead of crashing on a missing base path
        n = ups.count()
        write_telemetry(updates, path, ts_col=ts_col)
        return n
    existing = spark.read.parquet(path).where(
        F.struct("event_date", "dpid").isin(
            [F.struct(F.lit(d).cast("date"), F.lit(s)) for d, s in touched]
        )
    )
    keep = existing.join(
        ups.select(*key_cols).distinct(), list(key_cols), "left_anti"
    )
    merged = keep.select(*ups.columns).unionByName(ups)
    n = ups.count()
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            merged.repartition("event_date", "dpid")
            .sortWithinPartitions(ts_col)
            .write.mode("overwrite")
            .partitionBy(*TELEMETRY_PARTITION_COLS)
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return n


# ---------------------------------------------------------------------------
# Z-order (Morton) layout: multi-dimensional file skipping. A linear sort
# gives perfect min/max pruning on its FIRST column and none on the rest;
# bit-interleaving k scaled dimensions into one sort key gives every file a
# tight bounding BOX over all k columns, so selective predicates on ANY of
# them skip most files — the Delta/Iceberg OPTIMIZE ZORDER technique,
# expressed as plain Catalyst bit arithmetic (whole-stage codegen, no UDF).
# ---------------------------------------------------------------------------


def zorder_key(cols: list, bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of k ALREADY-SCALED non-negative
    int columns into one Morton code (bit j of column c lands at position
    j*k + c). k*bits must fit a signed long. Callers scale real values
    into [0, 2^bits) first — `zorder_scale` does min/max scaling."""
    k = len(cols)
    if k * bits > 62:
        raise ValueError(f"{k} cols x {bits} bits exceeds a signed long")
    z = F.lit(0).cast("long")
    for c_i, c in enumerate(cols):
        col = F.col(c) if isinstance(c, str) else c
        for j in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(col.cast("long"), j).bitwiseAND(F.lit(1)), j * k + c_i)
            )
    return z


def zorder_scale(col, lo, hi, bits: int = 16) -> Column:
    """Min/max-scale a numeric column into [0, 2^bits): the per-column
    quantization step before interleaving. lo/hi come from one cheap
    global agg (or table stats) — exact bounds are not required, only
    monotonicity, so stale stats merely loosen the boxes."""
    col = F.col(col) if isinstance(col, str) else col
    span = max(float(hi) - float(lo), 1e-300)
    scaled = ((col.cast("double") - float(lo)) / span) * ((1 << bits) - 1)
    return F.least(
        F.greatest(F.round(scaled).cast("long"), F.lit(0)),
        F.lit((1 << bits) - 1),
    )


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int,
    bits: int = 16,
    mode: str = "overwrite",
    boundary_sample_per_partition: int = 20_000,
) -> None:
    """Write ``df`` as ``n_files`` files clustered by the Morton code of
    ``cols``: one stats agg for the scale bounds, range-partition on the
    code (contiguous curve runs per file → tight per-file boxes), sort
    within partitions so row groups inherit the clustering too.

    Scale: the stats agg is one partial+final pass; the layout itself is
    exactly one range shuffle — the same cost as any sorted write. Reading
    back needs NO engine support beyond ordinary parquet min/max row-group
    and file pruning on the original columns.

    Boundary determinism: range-exchange boundaries come from a per-input-
    partition reservoir sample whose seed varies with session history (RDD
    id), so the default 100-point sample makes file boxes *statistically*
    tight but run-to-run wobbly. Layout writes are rare and their whole
    value is boundary quality, so we raise the sample hint for the duration
    of this write (Spark caps the total draw at 1e6 rows, so this is
    bounded at any scale); when a partition's row count is under the hint
    the reservoir degenerates to the full partition and the boundaries are
    exact quantiles, independent of seed."""
    bounds = df.agg(
        *[f for c in cols for f in (F.min(c).alias(f"{c}__lo"), F.max(c).alias(f"{c}__hi"))]
    ).first()
    scaled = [
        zorder_scale(c, bounds[f"{c}__lo"], bounds[f"{c}__hi"], bits).alias(f"__z_{c}")
        for c in cols
    ]
    keyed = df.select("*", zorder_key([s for s in scaled], bits).alias("__zkey"))
    spark = df.sparkSession
    sample_key = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    prev = spark.conf.get(sample_key, None)
    spark.conf.set(sample_key, str(boundary_sample_per_partition))
    try:
        (
            keyed.repartitionByRange(n_files, "__zkey")
            .sortWithinPartitions("__zkey")
            .drop("__zkey")
            .write.mode(mode)
            .parquet(path)
        )
    finally:
        if prev is None:
            spark.conf.unset(sample_key)
        else:
            spark.conf.set(sample_key, prev)


# ---------------------------------------------------------------------------
# Hadoop FileSystem primitives and the batch-stamped write. An os.path check
# sees nothing on HDFS/S3A, which would silently treat a ledger or an index
# as absent and replay side effects that were already applied.
# ---------------------------------------------------------------------------


def _fs_path(spark, path: str):
    """(FileSystem, Path) for *path* through Hadoop's FS API."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _exists(spark, path: str) -> bool:
    fs, p = _fs_path(spark, path)
    return bool(fs.exists(p))


def _read_text(spark, path: str) -> str | None:
    """The stripped UTF-8 text of a small file; None when it is absent or
    blank."""
    fs, p = _fs_path(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        # commons-io ships with Spark; py4j can't read into a Python-side
        # byte buffer (arrays pass by value), so let the JVM drain it
        jvm = spark._jvm
        text = jvm.org.apache.commons.io.IOUtils.toString(
            stream, jvm.java.nio.charset.StandardCharsets.UTF_8
        )
        return text.strip() or None
    finally:
        stream.close()


def _write_text(spark, path: str, text: str) -> None:
    """Create (or overwrite) *path* holding *text* as UTF-8."""
    fs, p = _fs_path(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _write_batch_partitions(
    df: DataFrame, path: str, ingest_batch: int, partition_cols=("ingest_batch",)
) -> None:
    """Write *df* stamped with its ingest batch, dynamically overwriting
    ONLY that batch's partitions: a deterministic recompute replayed after
    a mid-commit crash lands byte-equivalent in the same place, never
    appends a duplicate. Other batches' partitions are untouched."""
    (
        df.withColumn("ingest_batch", F.lit(ingest_batch))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )
