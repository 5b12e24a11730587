"""Training-data pipeline operators, part 8 (round 7): the prep/tuning
steps that sit between curation and training, extending the
LLM-data-pipeline surface (SURVEY.md §2 "beyond the reference" block):

- `document_chunks_overlap` / `chunk_documents` — the RAG / pretraining
  chunker: fixed token windows with overlap, map-only;
- `quality_retention_sweep` — the threshold-tuning curve for a quality
  signal (what fraction of the corpus survives each candidate cutoff);
- `token_js_divergence` / `js_divergence` — Jensen–Shannon divergence
  between per-source unigram distributions (mixture/drift diagnostic);
- `tfidf_topk_similar_docs` / `tfidf_topk` — lexical sparse retrieval
  via the inverted-index join (the dense-ANN family's sparse twin);
- `curriculum_shard_order` — quality-ordered training-shard packing on
  a sort-key-generalized distributed prefix sum;
- `corpus_snapshot_diff` / `snapshot_diff` — version-to-version corpus
  audit (added/removed/changed/unchanged).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import SCALE
from ..memo import handles, memo
from ..tables import Tables
from .registry import query

_W = SCALE.chunk_tokens
_S = SCALE.chunk_stride


_CHUNK_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, LIST_FILTER(STR_SPLIT(text, ' '), x -> x <> '') AS tk
    FROM documents
), sized AS (
    SELECT doc_id, tk, LEN(tk) AS n,
           CASE WHEN LEN(tk) > {_W}
                THEN (LEN(tk) - {_W} + {_S} - 1) // {_S} ELSE 0 END AS last_k
    FROM toks WHERE LEN(tk) > 0
)
SELECT doc_id,
       CAST(k AS INT) AS chunk_idx,
       CAST(LEN(LIST_SLICE(tk, k * {_S} + 1, LEAST(k * {_S} + {_W}, n))) AS INT)
           AS n_tokens,
       ARRAY_TO_STRING(LIST_SLICE(tk, k * {_S} + 1, LEAST(k * {_S} + {_W}, n)), ' ')
           AS chunk_text
FROM sized, UNNEST(RANGE(0, last_k + 1)) AS u(k)
"""


def chunk_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = _W,
    stride: int = _S,
) -> DataFrame:
    """Context-window chunking operator: each document's token stream is
    cut into windows of *window* tokens advancing by *stride* (overlap =
    window − stride), the standard prep step that turns curated documents
    into model-context-sized training/RAG rows. Output: (id, chunk_idx,
    n_tokens, chunk_text).

    Chunk-count contract (the HF fixed-stride convention): one chunk if
    n ≤ W, else 1 + ceil((n − W)/S) — the final window is the only
    short one and no window is a pure suffix of its predecessor. All
    arithmetic stays in integer space (`DIV`-style ceil), so Spark and
    the DuckDB oracle agree exactly.

    Complements `datapipe6.doc_chunk_windows`, which is the HASH-manifest
    form (chunk content hashes for packing bookkeeping) and emits a
    window at every stride start — including trailing windows that are
    pure suffixes of their predecessor. This operator materializes the
    chunk TEXT (the actual RAG/training input) and stops at the last
    window that contributes new tokens, so no emitted chunk duplicates
    content wholesale.

    100 TB shape: map-only — split, a `sequence` of window starts,
    posexplode, `slice`/`array_join`; no shuffle anywhere, output
    partitioning inherits the scan. The per-doc HOF token filter is the
    same idiom every text query here uses (docs are small; the work is
    proportional to output size).
    """
    if not (0 < stride <= window):
        raise ValueError(f"need 0 < stride <= window, got {stride}/{window}")
    toks = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    d = docs.select(F.col(id_col).alias("doc_id"), toks.alias("tk")).where(
        F.size("tk") > 0
    )
    n = F.size("tk")
    last_k = F.when(
        n > window, F.expr(f"(size(tk) - {window} + {stride} - 1) DIV {stride}")
    ).otherwise(F.lit(0))
    starts = F.sequence(F.lit(0), last_k * stride, F.lit(stride))
    chunk = F.slice(F.col("tk"), F.col("start") + 1, window)
    return (
        d.select("doc_id", "tk", F.posexplode(starts).alias("chunk_idx", "start"))
        .select(
            "doc_id",
            "chunk_idx",
            F.size(chunk).alias("n_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
    )


@query("document_chunks_overlap", survey="ext-curation", oracle=_CHUNK_ORACLE)
def document_chunks_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared form of :func:`chunk_documents` over the documents table
    at the `SCALE.chunk_tokens`/`SCALE.chunk_stride` dials (see the
    operator docstring for the contract and the scale story)."""
    return chunk_documents(Tables(spark, sf_dir).documents)


_SWEEP_THRESHOLDS = (0.0, 0.05, 0.1, 0.15, 0.2, 0.25)

_SWEEP_ORACLE = f"""
WITH d AS (
    SELECT LEN(LIST_FILTER(STR_SPLIT(text, ' '),
                           x -> x IN ('the', 'a', 'of', 'and', 'to'))) * 1.0
           / LEN(LIST_FILTER(STR_SPLIT(text, ' '), x -> x <> '')) AS r
    FROM documents
    WHERE LEN(LIST_FILTER(STR_SPLIT(text, ' '), x -> x <> '')) > 0
), t AS (SELECT CAST(UNNEST([{", ".join(str(x) for x in _SWEEP_THRESHOLDS)}]) AS DOUBLE) AS threshold)
SELECT threshold,
       CAST(SUM(CASE WHEN r >= threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
       SUM(CASE WHEN r >= threshold THEN 1 ELSE 0 END) * 1.0 / COUNT(*) AS frac_retained
FROM d, t GROUP BY threshold
"""


@query("quality_retention_sweep", survey="ext-curation", oracle=_SWEEP_ORACLE)
def quality_retention_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-tuning curve for a quality signal: for each candidate
    stopword-ratio cutoff, how many documents survive and what corpus
    fraction that is — the sweep a pipeline owner runs before pinning a
    filter threshold (the same signal `text_quality_score` emits per
    doc).

    Portability: the ratio is one exact-integer division (bit-identical
    in both engines) and the retained fraction likewise, so no rounding
    is needed anywhere. One map pass + a 6×-explode + one 6-group
    aggregation — scale-free.
    """
    t = Tables(spark, sf_dir)
    stop = ("the", "a", "of", "and", "to")
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    stop_arr = F.array(*[F.lit(s) for s in stop])
    d = t.documents.select(toks.alias("tk")).where(F.size("tk") > 0)
    r = (
        F.size(F.filter(F.col("tk"), lambda x: F.array_contains(stop_arr, x)))
        * F.lit(1.0)
        / F.size("tk")
    ).alias("r")
    th = F.explode(
        F.array(*[F.lit(x) for x in _SWEEP_THRESHOLDS])
    ).alias("threshold")
    retained = F.sum(F.when(F.col("r") >= F.col("threshold"), 1).otherwise(0))
    return (
        d.select(r)
        .select("r", th)
        .groupBy("threshold")
        .agg(
            retained.cast("long").alias("n_retained"),
            (retained * F.lit(1.0) / F.count("*")).alias("frac_retained"),
        )
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """Dataset-version diff: (id, status) for every id in either
    snapshot — ``added`` (new only), ``removed`` (old only), ``changed``
    (both, different content hash), ``unchanged``. The audit step between
    corpus releases (what did this crawl/cleaning pass actually do?).

    100 TB shape: one full-outer join on id with md5 content hashes
    computed map-side — content never crosses the shuffle, only
    (id, 32-byte hash); at scale both sides are id-bucketed so the join
    co-locates."""
    o = old.select(
        F.col(id_col).alias("id"), F.md5(F.col(content_col)).alias("h_old")
    )
    n = new.select(
        F.col(id_col).alias("id"), F.md5(F.col(content_col)).alias("h_new")
    )
    return o.join(n, "id", "full_outer").select(
        "id",
        F.when(F.col("h_old").isNull(), F.lit("added"))
        .when(F.col("h_new").isNull(), F.lit("removed"))
        .when(F.col("h_old") != F.col("h_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )


_DIFF_ORACLE = """
WITH old AS (
    SELECT doc_id, MD5(text) AS h FROM documents WHERE doc_id % 7 <> 0
), new AS (
    SELECT doc_id,
           MD5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END) AS h
    FROM documents WHERE doc_id % 3 <> 0
), d AS (
    SELECT COALESCE(old.doc_id, new.doc_id) AS doc_id,
           CASE WHEN old.h IS NULL THEN 'added'
                WHEN new.h IS NULL THEN 'removed'
                WHEN old.h <> new.h THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
)
SELECT status, CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
FROM d GROUP BY status
"""


@query("corpus_snapshot_diff", survey="ext-curation,F1", oracle=_DIFF_ORACLE)
def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared form of :func:`snapshot_diff` between two deterministic
    synthetic corpus versions (old = ids not ≡0 mod 7; new = ids not ≡0
    mod 3, with ids ≡0 mod 5 content-modified) summarized per status —
    every diff class (added/removed/changed/unchanged) is exercised."""
    t = Tables(spark, sf_dir)
    old = t.documents.where(F.col("doc_id") % 7 != 0)
    new = t.documents.where(F.col("doc_id") % 3 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return (
        snapshot_diff(old, new)
        .groupBy("status")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("id").alias("min_doc_id"),
            F.max("id").alias("max_doc_id"),
        )
    )


_CURR_BUCKETS = 16

_CURRICULUM_ORACLE = f"""
WITH d AS (
    SELECT doc_id,
           LEN(LIST_FILTER(STR_SPLIT(text, ' '),
                           x -> x IN ('the', 'a', 'of', 'and', 'to'))) * 1.0
           / LEN(LIST_FILTER(STR_SPLIT(text, ' '), x -> x <> '')) AS score,
           LEN(LIST_FILTER(STR_SPLIT(text, ' '), x -> x <> '')) AS nt
    FROM documents
    WHERE LEN(LIST_FILTER(STR_SPLIT(text, ' '), x -> x <> '')) > 0
), p AS (
    SELECT doc_id, score, nt,
           SUM(nt) OVER (ORDER BY score DESC, doc_id) - nt AS excl
    FROM d
)
SELECT CAST(excl // {SCALE.shard_tokens} AS BIGINT) AS shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(nt) AS BIGINT) AS shard_tokens,
       ROUND(AVG(score), 6) AS mean_score,
       MIN(doc_id) AS min_doc_id
FROM p GROUP BY shard_id
"""


@query("curriculum_shard_order", survey="ext-curation,G1", oracle=_CURRICULUM_ORACLE)
def curriculum_shard_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum packing: documents ordered by quality (stopword ratio
    DESC — cleanest prose first, doc_id tie-break) are packed greedily
    into `SCALE.shard_tokens`-token training shards, so early shards
    carry the highest-quality data — the ordered-curriculum variant of
    `token_shard_assignment`, summarized per shard.

    The oracle is a global window over the SORT order; the engine
    computes the IDENTICAL result without any corpus-wide serial
    exchange, generalizing the doc_id-range prefix-sum decomposition to
    an arbitrary sort key:

      1. interval-bucket the score domain (`floor(score·B)` — buckets
         are score-contiguous, and tied scores can never straddle one);
      2. per-bucket token totals (B tiny rows) → exclusive prefix
         offsets over buckets in score-DESC order — the only
         single-partition step, over B rows;
      3. per-bucket LOCAL running totals (window partitioned by bucket,
         ordered by score DESC, doc_id) + broadcast offsets = exact
         global exclusive totals → shard ids.

    The static interval grid keeps bucket assignment deterministic and
    oracle-free; production swaps in sampled range boundaries (what
    `repartitionByRange` does) when the score distribution is skewed —
    the decomposition is boundary-agnostic, any score-interval
    partition yields the identical result.
    """
    from pyspark.sql.window import Window

    t = Tables(spark, sf_dir)
    stop_arr = F.array(*[F.lit(s) for s in ("the", "a", "of", "and", "to")])
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    d = (
        t.documents.select("doc_id", toks.alias("tk"))
        .where(F.size("tk") > 0)
        .select(
            "doc_id",
            (
                F.size(F.filter(F.col("tk"), lambda x: F.array_contains(stop_arr, x)))
                * F.lit(1.0)
                / F.size("tk")
            ).alias("score"),
            F.size("tk").alias("nt"),
        )
        .withColumn(
            "bucket",
            F.least(F.floor(F.col("score") * _CURR_BUCKETS), F.lit(_CURR_BUCKETS - 1)),
        )
    )
    totals = d.groupBy("bucket").agg(F.sum("nt").alias("bucket_tokens"))
    w_pfx = (
        Window.orderBy(F.col("bucket").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "bucket",
        F.coalesce(F.sum("bucket_tokens").over(w_pfx), F.lit(0)).alias("tok_offset"),
    )
    w_local = (
        Window.partitionBy("bucket")
        .orderBy(F.col("score").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    packed = (
        d.join(F.broadcast(offsets), "bucket")
        .withColumn(
            "excl", F.col("tok_offset") + F.sum("nt").over(w_local) - F.col("nt")
        )
        .withColumn("shard_id", F.expr(f"excl DIV {SCALE.shard_tokens}"))
    )
    return packed.groupBy("shard_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("nt").alias("shard_tokens"),
        F.round(F.avg("score"), 6).alias("mean_score"),
        F.min("doc_id").alias("min_doc_id"),
    )


_TFIDF_TOPK = 5
_TFIDF_N_QUERIES = 50

_TFIDF_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, UNNEST(LIST_FILTER(STR_SPLIT(text, ' '), x -> x <> '')) AS t
    FROM documents
), tf AS (
    SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY doc_id, t
), stats AS (
    SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tf
), dft AS (
    SELECT t, COUNT(*) AS df FROM tf GROUP BY t
), w AS (
    SELECT tf.doc_id, tf.t, tf.tf * LN(stats.n_docs * 1.0 / dft.df) AS w
    FROM tf JOIN dft USING (t) CROSS JOIN stats
    WHERE dft.df < stats.n_docs
), nrm AS (
    SELECT doc_id, SQRT(SUM(w * w)) AS nrm FROM w GROUP BY doc_id
), dots AS (
    SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id, SUM(q.w * c.w) AS dot
    FROM w q JOIN w c ON q.t = c.t AND q.doc_id <> c.doc_id
    WHERE q.doc_id < {_TFIDF_N_QUERIES}
    GROUP BY q.doc_id, c.doc_id
), scored AS (
    SELECT query_id, neighbor_id,
           ROUND(dot / (nq.nrm * nc.nrm), 6) AS cosine
    FROM dots
    JOIN nrm nq ON nq.doc_id = query_id
    JOIN nrm nc ON nc.doc_id = neighbor_id
)
SELECT query_id, neighbor_id, cosine, CAST(rk AS INT) AS rk
FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
    ) AS rk
    FROM scored
)
WHERE rk <= {_TFIDF_TOPK}
"""


@query("tfidf_topk_similar_docs", survey="ext-sim,ext-text", oracle=_TFIDF_ORACLE)
def tfidf_topk_similar_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical sparse retrieval — the TF-IDF/inverted-index twin of the
    dense `cosine_topk_neighbors` family: for each of the first 50 docs,
    the top-5 most similar OTHER docs by TF-IDF cosine ("more like
    this"). Weights are tf·ln(N/df) in the space of discriminative
    tokens (df < N — a token in every document carries idf 0 and is
    dropped on both the weight and the norm side, which also keeps
    zero-norm divisions out).

    100 TB shape: the dot products come from the classic inverted-index
    join — query postings (bounded: 50 docs) joined to corpus postings
    on token, so candidate mass is Σ_query-tokens posting-length, linear
    in the corpus per query like `bm25_retrieval`; df/N are tiny
    broadcast sides. Degenerate ultra-high-df tokens are the known skew
    axis — production adds a df-fraction cap exactly like the banded
    dedup dials; this corpus' 31-token vocabulary keeps every posting
    list proportional so the cap stays at 1.

    Portability: N/df is an exact int division and SQRT is IEEE
    correctly-rounded; only LN ulps and sum order drift, so the cosine
    is rounded at 6 BEFORE ranking in both engines (neighbor_id breaks
    rounded ties deterministically).
    """
    return tfidf_topk(
        Tables(spark, sf_dir).documents, n_queries=_TFIDF_N_QUERIES, k=_TFIDF_TOPK
    )


def tfidf_topk(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_queries: int = _TFIDF_N_QUERIES,
    k: int = _TFIDF_TOPK,
    max_df_frac: float = 1.0,
    query_ids: list[int] | None = None,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Operator form of :func:`tfidf_topk_similar_docs` over any document
    frame (see the declared query's docstring for the contract and scale
    story). Queries are the docs with id < *n_queries*, or exactly
    *query_ids* when given (the incremental probe's equivalence contract
    needs an arbitrary query set).

    ``max_df_frac`` is the production skew dial: tokens with
    df > max_df_frac·N are dropped from the posting lists entirely (on
    BOTH the weight and norm side, so the metric stays a true cosine in
    the kept-token space). Ubiquitous tokens have near-zero idf — they
    barely move scores but dominate the inverted-index join's candidate
    mass; capping df bounds every posting list at max_df_frac·N rows.
    The default 1.0 keeps everything except df == N (idf exactly 0),
    which is always excluded."""
    from pyspark.sql.window import Window

    toks = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    tf = (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(toks).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count("*").alias("tf"))
    )
    stats = tf.agg(F.countDistinct("doc_id").alias("n_docs"))
    dft = tf.groupBy("t").agg(F.count("*").alias("df"))
    w = (
        tf.join(F.broadcast(dft), "t")
        .crossJoin(F.broadcast(stats))
        .where(F.col("df") < F.col("n_docs"))
        .where(F.col("df") <= F.col("n_docs") * F.lit(float(max_df_frac)))
        .select(
            "doc_id",
            "t",
            (F.col("tf") * F.log(F.col("n_docs") * F.lit(1.0) / F.col("df"))).alias(
                "w"
            ),
        )
    )
    nrm = w.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    q, c = w.alias("q"), w.alias("c")
    q_pred = (
        F.col("q.doc_id").isin([int(i) for i in query_ids])
        if query_ids is not None
        else F.col("q.doc_id") < n_queries
    )
    # the query side is bounded (n_queries docs / the probe's query_ids)
    # while the corpus side grows with the data; the planner can't see
    # that through the self-join of the derived w relation and picks a
    # sort-merge join — shuffling ALL corpus weight rows by token. The
    # broadcast hint (guide §3.1) makes the dots join map-side: the
    # corpus side's only remaining exchange is the (query, neighbor)
    # partial aggregate. `broadcast_queries=False` keeps the shuffle form
    # for callers with unbounded query sets.
    q_side = q.where(q_pred)
    dots = (
        (F.broadcast(q_side) if broadcast_queries else q_side)
        .join(
            c,
            (F.col("q.t") == F.col("c.t"))
            & (F.col("q.doc_id") != F.col("c.doc_id")),
        )
        .groupBy(
            F.col("q.doc_id").alias("query_id"), F.col("c.doc_id").alias("neighbor_id")
        )
        .agg(F.sum(F.col("q.w") * F.col("c.w")).alias("dot"))
    )
    nq = nrm.select(F.col("doc_id").alias("query_id"), F.col("nrm").alias("nq"))
    nc = nrm.select(F.col("doc_id").alias("neighbor_id"), F.col("nrm").alias("nc"))
    scored = (
        dots.join(F.broadcast(nq), "query_id")
        .join(F.broadcast(nc), "neighbor_id")
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
    return scored.withColumn("rk", rk).where(F.col("rk") <= k)


_TFIDF_INC_ORACLE = """
WITH universe AS (
    SELECT doc_id, text FROM documents
    WHERE doc_id % 2 = 0 OR doc_id < 100
), tok AS (
    SELECT doc_id, UNNEST(LIST_FILTER(STR_SPLIT(text, ' '), x -> x <> '')) AS t
    FROM universe
), tf AS (
    SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY doc_id, t
), stats AS (
    SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tf
), dft AS (
    SELECT t, COUNT(*) AS df FROM tf GROUP BY t
), w AS (
    SELECT tf.doc_id, tf.t, tf.tf * LN(stats.n_docs * 1.0 / dft.df) AS w
    FROM tf JOIN dft USING (t) CROSS JOIN stats
    WHERE dft.df < stats.n_docs
), nrm AS (
    SELECT doc_id, SQRT(SUM(w * w)) AS nrm FROM w GROUP BY doc_id
), dots AS (
    SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id, SUM(q.w * c.w) AS dot
    FROM w q JOIN w c ON q.t = c.t AND q.doc_id <> c.doc_id
    WHERE q.doc_id % 2 = 1 AND q.doc_id < 100
    GROUP BY q.doc_id, c.doc_id
), scored AS (
    SELECT query_id, neighbor_id,
           ROUND(dot / (nq.nrm * nc.nrm), 6) AS cosine
    FROM dots
    JOIN nrm nq ON nq.doc_id = query_id
    JOIN nrm nc ON nc.doc_id = neighbor_id
)
SELECT query_id, neighbor_id, cosine, CAST(rk AS INT) AS rk
FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
    ) AS rk
    FROM scored
)
WHERE rk <= 5
"""

def _even_half_tfidf_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, int]:
    """(postings, df, n_docs) over the even-doc_id half, persisted and
    memoized per (session, sf_dir): the incremental query's stand-in for
    the PERSISTED inverted index (save_tfidf_index/load_tfidf_index is the
    disk form, exercised by the streaming sink tests)."""
    import os

    from ..functions.tfidf import build_tfidf_index_frames

    def build() -> tuple[DataFrame, DataFrame, int]:
        even = Tables(spark, sf_dir).documents.where(F.col("doc_id") % 2 == 0)
        postings, dfb, n_docs = build_tfidf_index_frames(even)
        return postings.persist(), dfb.persist(), n_docs

    return memo(spark, ("tfidf_index", os.path.abspath(sf_dir)), build)


@query("tfidf_incremental_topk", survey="ext-sim,ext-text", oracle=_TFIDF_INC_ORACLE)
def tfidf_incremental_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continual-ingest lexical retrieval: treat even doc_ids as the
    already-indexed corpus and odd doc_ids < 100 as the newly crawled
    batch; probe the persisted-index shapes (functions/tfidf.
    tfidf_probe_topk — pruned posting buckets → candidate fetch → exact
    rescoring under the incrementally-maintained global df/N) instead of
    re-deriving postings for the whole corpus. EXACT by construction
    (every nonzero-dot neighbor shares a token with the query), so unlike
    the ANN `_neighbors` family this probe carries a full value-hash
    oracle: the result equals the batch operator over (corpus ∪ batch)
    restricted to the batch's query ids. The streaming twin
    (`streaming.pipelines.incremental_tfidf_sink`) runs the identical
    probe per micro-batch against the on-disk index with exactly-once
    batch-stamped commits.

    Reference analogue: the per-flow update-topic probe/publish loop
    (ryu/testing/global_view_and_timing/TestCase_6/timeStamp.py:305)."""
    from ..functions.tfidf import tfidf_probe_topk

    docs = Tables(spark, sf_dir).documents
    postings, dfb, n_old = _even_half_tfidf_index(spark, sf_dir)
    new = docs.where((F.col("doc_id") % 2 == 1) & (F.col("doc_id") < 100))
    old = docs.where(F.col("doc_id") % 2 == 0)
    return tfidf_probe_topk(
        new, old, postings, dfb, n_old, k=5,
        # only the latest run's probe persists stay live
        persisted_out=handles(spark, ("tfidf_probe",)),
    )


def _source_unigram_dist(spark: SparkSession, sf_dir: str):
    """Per-source unigram distribution (tot, p), persisted and memoized
    per (session, sf_dir): p feeds BOTH sides of the pair self-join, and
    recomputing it re-ran the explode+groupBy per consumer (2.4 s vs
    0.8 s at sf0.1)."""
    import os

    def build() -> tuple[DataFrame, DataFrame]:
        t = Tables(spark, sf_dir)
        toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
        tok = t.documents.select("source", F.explode(toks).alias("tok"))
        cnt = tok.groupBy("source", "tok").agg(F.count("*").alias("c"))
        tot = cnt.groupBy("source").agg(F.sum("c").alias("tot")).persist()
        p = (
            cnt.join(tot, "source")
            .select("source", "tok", (F.col("c") * F.lit(1.0) / F.col("tot")).alias("p"))
            .persist()
        )
        return tot, p

    return memo(spark, ("js_dist", os.path.abspath(sf_dir)), build)


_JS_ORACLE = """
WITH tok AS (
    SELECT source, UNNEST(LIST_FILTER(STR_SPLIT(text, ' '), x -> x <> '')) AS tok
    FROM documents
), cnt AS (
    SELECT source, tok, COUNT(*) AS c FROM tok GROUP BY source, tok
), tot AS (
    SELECT source, SUM(c) AS tot FROM cnt GROUP BY source
), p AS (
    SELECT cnt.source, cnt.tok, cnt.c * 1.0 / tot.tot AS p
    FROM cnt JOIN tot ON cnt.source = tot.source
), shared AS (
    SELECT a.source AS source_a, b.source AS source_b,
           SUM(a.p * LN(2 * a.p / (a.p + b.p))
               + b.p * LN(2 * b.p / (a.p + b.p))) AS sh_term,
           SUM(a.p) AS pa_sh, SUM(b.p) AS pb_sh,
           COUNT(*) AS n_shared_tokens
    FROM p a JOIN p b ON a.tok = b.tok AND a.source < b.source
    GROUP BY a.source, b.source
), pairs AS (
    SELECT s1.source AS source_a, s2.source AS source_b
    FROM tot s1 JOIN tot s2 ON s1.source < s2.source
)
SELECT pairs.source_a, pairs.source_b,
       ROUND(0.5 * COALESCE(sh_term, 0)
             + 0.5 * LN(2) * ((1 - COALESCE(pa_sh, 0)) + (1 - COALESCE(pb_sh, 0))),
             4) AS js_div,
       CAST(COALESCE(n_shared_tokens, 0) AS BIGINT) AS n_shared_tokens
FROM pairs LEFT JOIN shared
  ON pairs.source_a = shared.source_a AND pairs.source_b = shared.source_b
"""


@query("token_js_divergence", survey="ext-curation", oracle=_JS_ORACLE)
def token_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence between every pair of sources' unigram
    token distributions — the drift/mixture diagnostic behind sampling-
    weight decisions (e.g. DoReMi-style reweighting starts from exactly
    this matrix). 0 = identical distributions, ln 2 ≈ 0.6931 = disjoint
    vocabularies.

    Decomposition that needs only the INNER join on token: for tokens in
    one distribution only, the JS contribution is p·ln2/2, and
    Σ_only-a p = 1 − Σ_shared p — so per-pair sums over shared tokens
    recover the exact full-outer result without materializing the union.
    The pair universe is rebuilt from the (tiny) per-source totals so
    disjoint-vocabulary pairs still appear.

    Portability: p is an exact integer division (bit-identical); only
    LN differs by ulps across engines, so the sum is rounded to 4
    decimals on both sides.

    100 TB shape: one explode + two keyed aggregations + one self-join
    on token (the only wide shuffle, on the natural key); per-pair state
    is one row. Source count is assumed dashboard-scale (pairs =
    O(sources²) output rows).
    """
    return js_divergence_from_dist(*_source_unigram_dist(spark, sf_dir))


def js_divergence(
    docs: DataFrame, group_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Operator form of :func:`token_js_divergence` over any document
    frame: pairwise Jensen–Shannon divergence between *group_col* slices'
    unigram distributions (see the declared query's docstring). Builds
    the distribution un-persisted — callers looping over it should build
    once via the memoized path instead."""
    toks = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    tok = docs.select(F.col(group_col).alias("source"), F.explode(toks).alias("tok"))
    cnt = tok.groupBy("source", "tok").agg(F.count("*").alias("c"))
    tot = cnt.groupBy("source").agg(F.sum("c").alias("tot"))
    p = cnt.join(tot, "source").select(
        "source", "tok", (F.col("c") * F.lit(1.0) / F.col("tot")).alias("p")
    )
    return js_divergence_from_dist(tot, p)


def js_divergence_from_dist(tot: DataFrame, p: DataFrame) -> DataFrame:
    """Pairwise JS divergence from a prebuilt (totals, probability)
    distribution pair — the shared tail of the declared query (memoized,
    persisted dist) and the ad-hoc operator (un-persisted dist)."""
    a, b = p.alias("a"), p.alias("b")
    pa, pb = F.col("a.p"), F.col("b.p")
    shared = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(
            F.sum(
                pa * F.log(2 * pa / (pa + pb)) + pb * F.log(2 * pb / (pa + pb))
            ).alias("sh_term"),
            F.sum(pa).alias("pa_sh"),
            F.sum(pb).alias("pb_sh"),
            F.count("*").alias("n_shared_tokens"),
        )
    )
    pairs = (
        tot.select(F.col("source").alias("source_a"))
        .join(
            tot.select(F.col("source").alias("source_b")),
            F.col("source_a") < F.col("source_b"),
        )
    )
    ln2 = float(__import__("math").log(2.0))
    return (
        pairs.join(shared, ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            F.round(
                0.5 * F.coalesce(F.col("sh_term"), F.lit(0.0))
                + 0.5
                * F.lit(ln2)
                * (
                    (1 - F.coalesce(F.col("pa_sh"), F.lit(0.0)))
                    + (1 - F.coalesce(F.col("pb_sh"), F.lit(0.0)))
                ),
                4,
            ).alias("js_div"),
            F.coalesce(F.col("n_shared_tokens"), F.lit(0)).alias("n_shared_tokens"),
        )
    )


_PREP_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, text, LIST_FILTER(STR_SPLIT(text, ' '), x -> x <> '') AS tk
    FROM documents
), gated AS (
    SELECT doc_id, text, tk FROM toks
    WHERE LEN(tk) > 0
      AND LEN(LIST_FILTER(tk, x -> x IN ('the', 'a', 'of', 'and', 'to'))) * 1.0
          / LEN(tk) >= 0.05
), deduped AS (
    SELECT doc_id, tk FROM (
        SELECT doc_id, tk,
               ROW_NUMBER() OVER (PARTITION BY MD5(text) ORDER BY doc_id) AS rn
        FROM gated
    ) WHERE rn = 1
), sized AS (
    SELECT doc_id, tk, LEN(tk) AS n,
           CASE WHEN LEN(tk) > {_W}
                THEN (LEN(tk) - {_W} + {_S} - 1) // {_S} ELSE 0 END AS last_k
    FROM deduped
), chunks AS (
    SELECT doc_id, CAST(k AS BIGINT) AS chunk_idx,
           CAST(LEN(LIST_SLICE(tk, k * {_S} + 1, LEAST(k * {_S} + {_W}, n))) AS BIGINT)
               AS nt
    FROM sized, UNNEST(RANGE(0, last_k + 1)) AS u(k)
), packed AS (
    SELECT doc_id, chunk_idx, nt,
           SUM(nt) OVER (ORDER BY doc_id, chunk_idx) - nt AS excl
    FROM chunks
)
SELECT CAST(excl // {SCALE.shard_tokens} AS BIGINT) AS shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(SUM(nt) AS BIGINT) AS shard_tokens
FROM packed GROUP BY shard_id
"""


@query("pretraining_prep_funnel", survey="ext-curation", oracle=_PREP_ORACLE)
def pretraining_prep_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete docs→training-shards prep pipeline in one declared
    plan, composing four certified pieces: stopword-ratio quality gate
    (≥0.05, `quality_retention_sweep`'s signal) → exact content dedup
    (first doc_id per md5 survives, `dedup_exact_groups` semantics) →
    context-window chunking (:func:`chunk_documents`) → greedy
    shard packing of the CHUNK stream in (doc_id, chunk_idx) order via
    the distributed prefix sum (`token_shard_assignment_scalable`'s
    decomposition on the same doc_id-contiguous ranges — chunk order is
    a refinement of doc order, so range composability holds).

    100 TB shape: the gate is map-side ahead of the one dedup shuffle;
    chunking is map-only; packing adds one range-keyed window + a
    broadcast offsets join — no corpus-wide serial exchange anywhere
    (the oracle IS the global window, value equality certifies the
    decomposition end-to-end through the whole funnel).
    """
    from pyspark.sql.window import Window

    t = Tables(spark, sf_dir)
    stop_arr = F.array(*[F.lit(s) for s in ("the", "a", "of", "and", "to")])
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    gated = (
        t.documents.select("doc_id", "text", toks.alias("tk"))
        .where(F.size("tk") > 0)
        .where(
            F.size(F.filter(F.col("tk"), lambda x: F.array_contains(stop_arr, x)))
            * F.lit(1.0)
            / F.size("tk")
            >= 0.05
        )
    )
    w_dedup = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = (
        gated.withColumn("rn", F.row_number().over(w_dedup))
        .where(F.col("rn") == 1)
        .select("doc_id", "text")
    )
    chunks = chunk_documents(deduped).select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("n_tokens").cast("long").alias("nt"),
        F.expr(f"doc_id DIV {SCALE.pack_range_width}").alias("range_id"),
    )
    totals = chunks.groupBy("range_id").agg(F.sum("nt").alias("range_tokens"))
    w_pfx = Window.orderBy("range_id").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "range_id",
        F.coalesce(F.sum("range_tokens").over(w_pfx), F.lit(0)).alias("tok_offset"),
    )
    w_local = (
        Window.partitionBy("range_id")
        .orderBy("doc_id", "chunk_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    packed = (
        chunks.join(F.broadcast(offsets), "range_id")
        .withColumn(
            "excl", F.col("tok_offset") + F.sum("nt").over(w_local) - F.col("nt")
        )
        .withColumn("shard_id", F.expr(f"excl DIV {SCALE.shard_tokens}"))
    )
    return packed.groupBy("shard_id").agg(
        F.count("*").alias("n_chunks"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum("nt").alias("shard_tokens"),
    )
