"""Incremental TF-IDF inverted index — the sparse-retrieval twin of the
persisted MinHash-LSH band index (functions/dedup.save_lsh_index family).

The batch operator (`queries.datapipe8.tfidf_topk`) re-derives postings,
document frequencies, and norms from the whole corpus on every call; a
continual-ingest pipeline cannot. This module persists the three pieces a
probe needs, each maintainable by appending ONE batch's worth of data:

- ``postings/`` — (doc_id, t) inverted-index entries, hive-partitioned by
  (tb, ingest_batch) where ``tb = pmod(xxhash64(t), n_buckets)``: a probe
  prunes to the token buckets its query terms hash into (the sparse
  analogue of the LSH index's band partitioning), and a crash-replayed
  append dynamic-overwrites only its own (tb, ingest_batch) leaves.
- ``df/`` — per-batch (t, df) document-frequency increments, partitioned
  by ingest_batch; the probe's GLOBAL df is a sum over this small table
  (vocabulary-sized, not corpus-sized).
- ``stats/`` — one (n_docs) row per batch; global N is its sum.
- ``meta/`` — one row pinning n_buckets so probes can't mix bucketings.

Probe strategy (mirrors `incremental_near_dup_pairs`' probe-then-verify):
candidate generation reads ONLY the pruned posting buckets (every neighbor
with a nonzero TF-IDF dot shares ≥1 token with the query, so recall is
exact); scoring then reads the candidate docs' term vectors back out of
the posting lists themselves (they store tf) and computes the exact tfidf
cosine under the CURRENT global (df, N) — the raw corpus store is never
touched at probe time. Result: probing batch B against corpus C returns exactly
``tfidf_topk(C ∪ B, query_ids=B)`` — the equivalence the pytest contract
pins — at O(batch + touched posting lists + candidates) cost, never
O(corpus).

Reference analogue: the per-flow update-topic publication loop
(ryu/testing/global_view_and_timing/TestCase_6/timeStamp.py:305) — new
observations probed against, then merged into, a persisted global view.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..storage import _write_batch_partitions

DEFAULT_N_BUCKETS = 64


def _tokens(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, t, tf) term frequencies — same tokenizer as tfidf_topk."""
    toks = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(toks).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count("*").alias("tf"))
    )


def _write_index_batch(
    tf: DataFrame, n_docs: int, path: str, ingest_batch: int, n_buckets: int
) -> None:
    spark = tf.sparkSession
    postings = tf.withColumn(
        "tb", F.pmod(F.xxhash64("t"), F.lit(n_buckets)).cast("int")
    )
    _write_batch_partitions(
        postings, f"{path}/postings", ingest_batch, partition_cols=("tb", "ingest_batch")
    )
    dfb = tf.groupBy("t").agg(F.count("*").alias("df"))
    _write_batch_partitions(dfb, f"{path}/df", ingest_batch)
    from ..localdf import local_rows_df

    _write_batch_partitions(
        local_rows_df(spark, [(int(n_docs),)], "n_docs long"),
        f"{path}/stats",
        ingest_batch,
    )


def build_tfidf_index_frames(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DEFAULT_N_BUCKETS,
) -> tuple[DataFrame, DataFrame, int]:
    """In-session (postings, df, n_docs) with the exact shapes
    :func:`load_tfidf_index` returns from disk — the declared incremental
    query's stand-in for a persisted index (same pattern as the LSH
    incremental query's in-session band index). Caller owns persisting."""
    tf = _tokens(docs, id_col, text_col)
    postings = tf.withColumn(
        "tb", F.pmod(F.xxhash64("t"), F.lit(n_buckets)).cast("int")
    ).withColumn("ingest_batch", F.lit(0))
    dfb = tf.groupBy("t").agg(F.count("*").alias("df")).withColumn(
        "ingest_batch", F.lit(0)
    )
    n_docs = tf.select("doc_id").distinct().count()
    return postings, dfb, n_docs


def save_tfidf_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DEFAULT_N_BUCKETS,
    ingest_batch: int = 0,
) -> None:
    """Bootstrap the index from *docs* (writes meta + the first batch's
    postings/df/stats partitions)."""
    spark = docs.sparkSession
    tf = _tokens(docs, id_col, text_col).persist()
    try:
        _write_index_batch(
            tf, tf.select("doc_id").distinct().count(), path, ingest_batch, n_buckets
        )
    finally:
        tf.unpersist()
    from ..localdf import local_rows_df

    local_rows_df(spark, [(n_buckets,)], "n_buckets int").write.mode(
        "overwrite"
    ).parquet(f"{path}/meta")


def append_to_tfidf_index(
    docs: DataFrame,
    path: str,
    ingest_batch: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Add one batch to an existing index. Bucketing comes from the
    index's own meta; the write dynamic-overwrites only this batch's
    partitions, so a crash-replay is idempotent."""
    spark = docs.sparkSession
    meta = spark.read.parquet(f"{path}/meta").collect()[0].asDict()  # bounded-collect: meta is ONE row by construction
    tf = _tokens(docs, id_col, text_col).persist()
    try:
        _write_index_batch(
            tf,
            tf.select("doc_id").distinct().count(),
            path,
            ingest_batch,
            meta["n_buckets"],
        )
    finally:
        tf.unpersist()


def load_tfidf_index(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame, DataFrame, dict]:
    """(postings, per-batch df, per-batch stats, meta dict)."""
    meta = spark.read.parquet(f"{path}/meta").collect()[0].asDict()  # bounded-collect: meta is ONE row by construction
    return (
        spark.read.parquet(f"{path}/postings"),
        spark.read.parquet(f"{path}/df"),
        spark.read.parquet(f"{path}/stats"),
        meta,
    )


def tfidf_probe_topk(
    new_docs: DataFrame,
    old_docs: DataFrame,
    postings: DataFrame,
    df_batches: DataFrame,
    n_old: int,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DEFAULT_N_BUCKETS,
    max_df_frac: float = 1.0,
    persisted_out: list | None = None,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Top-*k* TF-IDF neighbors (query_id, neighbor_id, cosine, rk) of
    every *new_docs* doc over the combined corpus — EQUAL to
    ``tfidf_topk(old ∪ new, query_ids=new ids)`` (the pytest contract),
    computed incrementally:

    1. candidate generation: the batch's distinct tokens (with their
       bucket ids) are broadcast and semi-joined on (tb, t) — any
       neighbor with a nonzero dot shares a token, so recall is exact,
       and carrying ``tb`` in the join key lets dynamic partition
       pruning skip the untouched (tb=…) leaves of a disk-resident
       postings tree (r13 opt: this replaces an EAGER driver collect of
       the bucket list — the probe plan is now fully lazy, one action
       instead of a collect job + the main job);
    2. candidate term vectors come from the INDEX ITSELF: the stored
       posting entries already carry (doc_id, t, tf), so the candidate
       ids are semi-joined back to the postings relation — no fetch of
       the raw corpus and no re-tokenize (r13 opt, guide §2.4/§8: the
       index IS the lightweight proxy; the pre-r13 path re-read + re-
       exploded + re-aggregated the candidate documents per probe, a
       full corpus-store scan the posting lists make redundant — the
       tf values are identical because both derive from the same
       deterministic tokenizer);
    3. exact scoring: the tfidf_topk math over (candidates ∪ batch) with
       the query set pinned to the batch ids, with one crucial swap:
       weights use the GLOBAL (df, N) from the incremental df/stats
       tables, never a df re-derived from the restricted frame (the
       candidate restriction may shrink candidate mass, never df). The
       global N rides as a broadcast one-row frame (n_old + the batch's
       distinct-doc count) instead of a driver-collected literal, so no
       eager job runs at build time. r13 job-count fix (guide §1.1/§2.4 —
       the probe is overhead-bound at bench scale, 27 jobs/action, most
       of them broadcast-exchange subqueries re-running the not-yet-
       filled caches): the query side is an ``is_new`` flag carried
       through the union instead of a broadcast semi-join on the batch
       ids, and per-doc norms ride ON the weight rows via a window over
       the persisted frame instead of two broadcast joins against a
       norm aggregate — same ``round(dot/(nq·nc), 6)`` arithmetic, three
       broadcast exchanges (and their upstream re-runs) gone.

    The batch term-frequency frame is persisted (it feeds df, counts,
    candidates, and scoring); the handle is appended to *persisted_out*
    for the caller to release once the result is materialized — the same
    owned-lifecycle contract as ``incremental_near_dup_pairs``."""
    from pyspark.sql.window import Window

    new_tf = _tokens(new_docs, id_col, text_col).persist()
    if persisted_out is not None:
        persisted_out.append(new_tf)
    # global document frequencies = stored per-batch increments + this
    # batch, in ONE keyed aggregate (the per-(t, batch) rows are already
    # partial counts, so pre-aggregating the stored side first would just
    # add a shuffle)
    df_all = (
        df_batches.select("t", "df")
        .unionByName(new_tf.groupBy("t").agg(F.count("*").alias("df")))
        .groupBy("t")
        .agg(F.sum("df").alias("df"))
    )
    # global N as a broadcast ONE-ROW frame: n_old (a driver int the
    # caller already holds) + this batch's distinct-doc count — no eager
    # collect, the count is a subquery stage over the cached batch tf
    n_total_df = new_tf.agg(
        (F.countDistinct("doc_id") + F.lit(int(n_old))).alias("n_total")
    )

    # 1. candidate generation: broadcast the batch's (tb, t) token set
    # into a semi-join — tb in the key drives dynamic partition pruning
    # on a disk-partitioned postings tree; no .distinct() on the
    # candidate ids (the semi-join below already dedupes)
    qtok = new_tf.select("t").distinct().withColumn(
        "tb", F.pmod(F.xxhash64("t"), F.lit(n_buckets)).cast("int")
    )
    cand_ids = (
        postings.join(F.broadcast(qtok), ["tb", "t"], "semi").select("doc_id")
    )
    # 2. candidate term vectors straight from the stored posting lists
    # (they carry tf — same deterministic tokenizer, so identical values)
    cand_tf = postings.select("doc_id", "t", "tf").join(
        cand_ids, "doc_id", "semi"
    )
    # 3. exact tfidf cosine under GLOBAL (df, N) — same math/rounding as
    # tfidf_topk, with df supplied instead of re-derived; N arrives via
    # the broadcast one-row frame (identical double arithmetic: long N
    # cast to double exactly as the old literal was)
    both = cand_tf.withColumn("is_new", F.lit(False)).unionByName(
        new_tf.withColumn("is_new", F.lit(True))
    )
    # df_all is vocabulary-sized by construction (same bound the static
    # twin tfidf_topk broadcasts its df table under)
    w = (
        both.join(F.broadcast(df_all), "t")
        .crossJoin(F.broadcast(n_total_df))
        .where(F.col("df") < F.col("n_total"))
        .where(F.col("df") <= F.lit(float(max_df_frac)) * F.col("n_total"))
        .select(
            "doc_id",
            "t",
            "is_new",
            (
                F.col("tf")
                * F.log(F.col("n_total").cast("double") / F.col("df"))
            ).alias("w"),
        )
        # per-doc norm rides ON the rows (window over the doc key) so the
        # scoring join needs no norm-aggregate broadcasts; same shuffle
        # key the old groupBy("doc_id") aggregate paid
        .withColumn(
            "nrm",
            F.sqrt(
                F.sum(F.col("w") * F.col("w")).over(Window.partitionBy("doc_id"))
            ),
        )
        # two consumers below (both join sides) — without the persist
        # each re-runs the candidate fetch + df join + norm window
        .persist()
    )
    if persisted_out is not None:
        persisted_out.append(w)
    # the query side is the PROBE BATCH's weight rows — bounded by the
    # micro-batch size at any corpus scale, while the candidate side grows
    # with the corpus. The planner can't see that (q is a filter over the
    # persisted w relation, so it inherits w's size estimate and picks a
    # sort-merge join — two exchanges + sorts of the candidate rows); the
    # broadcast hint encodes it (guide §3.1), making the dots join map-side
    # over the candidate weights. `broadcast_queries=False` is the escape
    # hatch for probe batches large enough that shuffling is cheaper.
    q_rows = w.where(F.col("is_new"))
    q = (F.broadcast(q_rows) if broadcast_queries else q_rows).alias("q")
    c = w.alias("c")
    scored = (
        q.join(
            c,
            (F.col("q.t") == F.col("c.t")) & (F.col("q.doc_id") != F.col("c.doc_id")),
        )
        .groupBy(
            F.col("q.doc_id").alias("query_id"), F.col("c.doc_id").alias("neighbor_id")
        )
        .agg(
            F.sum(F.col("q.w") * F.col("c.w")).alias("dot"),
            F.max(F.col("q.nrm")).alias("nq"),
            F.max(F.col("c.nrm")).alias("nc"),
        )
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("dot") / (F.col("nq") * F.col("nc")), 6).alias("cosine"),
        )
    )
    rk = F.row_number().over(
        Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id")
        )
    )
    out = scored.withColumn("rk", rk).where(F.col("rk") <= k)
    if persisted_out is None:
        # no owner offered: the eager counts above already used the cache;
        # release the handles now (the lazy result re-derives them if
        # re-run — callers wanting the fast path pass persisted_out)
        new_tf.unpersist()
        w.unpersist()
    return out
