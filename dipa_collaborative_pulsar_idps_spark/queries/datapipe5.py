"""Training-data-pipeline operators, batch 5 (round 3): benchmark
decontamination, embedding quantization, scalable global row ids, and
vocabulary/IDF construction — the remaining table-stakes ops of a
pretraining data pipeline, each with a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import SCALE
from ..memo import memo
from ..tables import Tables
from .datapipe import funnel_oracle
from .registry import query

#: Deterministic "benchmark" membership: every 97th doc stands in for an
#: eval set (decontamination needs SOME held-out set; the modulus keeps it
#: reproducible across engines and partitionings).
_BENCH_MOD = 97


def _gram_arrays(
    docs: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(doc_id, grams array<string>): per-doc distinct n-gram arrays,
    compute-spread and persisted once per (session, input plan, dials):
    repeated calls in one session (funnel + standalone query + bench
    reps) reuse ONE cached relation instead of leaking a new persist per
    call."""
    return memo(
        docs.sparkSession,
        ("grams", docs.semanticHash(), id_col, text_col, n),
        lambda: _build_gram_arrays(docs, id_col, text_col, n),
    )


def _build_gram_arrays(docs: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    from ..plans.sizing import right_size

    toks = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    gram = "concat_ws(' ', " + ", ".join(
        f"element_at(tokens, i + {j})" for j in range(n)
    ) + ")"
    grams = (
        f"CASE WHEN size(tokens) >= {n} "
        f"THEN array_distinct(transform(sequence(1, size(tokens) - {n - 1}), i -> {gram})) "
        "ELSE array() END"
    )
    # Spread BEFORE the gram transform: a compact doc file arrives in one
    # split, and tokenize + ~n_tokens string concats per doc is the
    # compute-heavy part (single-tasked, it dominated the whole query);
    # inflate reflects the ~n× gram blowup the optimizer can't see. The
    # gram arrays are computed once and persisted — the lineage feeds
    # several consumers (bench set, training explode, training doc list).
    return (
        right_size(
            docs.select(F.col(id_col).alias("doc_id"), text_col), "doc_id", inflate=5.0
        )
        .select("doc_id", toks.alias("tokens"))
        .select("doc_id", F.expr(grams).alias("grams"))
        .persist()
    )


def _gram_hits(sh: DataFrame, bench_mod: int) -> DataFrame:
    """(doc_id, n_hit) for training docs sharing ≥1 gram with the benchmark
    complement — the broadcast-probe core shared by flags and id-only
    consumers."""
    bench = (
        sh.where(F.col("doc_id") % bench_mod == 0)
        .select(F.explode("grams").alias("g"))
        .distinct()
    )
    ex = sh.where(F.col("doc_id") % bench_mod != 0).select(
        "doc_id", F.explode("grams").alias("g")
    )
    return (
        ex.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit"))
    )


def contaminated_ids(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    bench_mod: int = _BENCH_MOD,
) -> DataFrame:
    """Just the dirty doc ids — the anti-join input a funnel needs. Skips
    `contamination_flags`' corpus-wide train-list left join entirely: the
    dirty set IS the hits set (n_hit > 0 by construction)."""
    sh = _gram_arrays(docs, id_col, text_col, n)
    return _gram_hits(sh, bench_mod).select("doc_id")


def contamination_flags(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    bench_mod: int = _BENCH_MOD,
) -> DataFrame:
    """Reusable decontamination core: (doc_id, n_hit_grams, contaminated)
    for every TRAINING doc (``id % bench_mod != 0``); the benchmark set is
    the complement. Stress-tested with planted overlaps at 20k docs in
    tests/test_scale_stress.py.

    100 TB shape: the benchmark's distinct-gram set is SMALL relative to
    the corpus (eval suites are MBs, corpora are TBs) — Spark broadcasts
    it, so contamination checking is a map-side hash probe over the
    exploded training grams: no corpus-wide shuffle, just the per-doc
    re-aggregation of hit counts. Exactly the C4/Dolma-style n-gram
    decontamination join, with n scaled to the corpus's doc length
    (production uses 10-13-grams).
    """
    sh = _gram_arrays(docs, id_col, text_col, n)
    hits = _gram_hits(sh, bench_mod)
    train = sh.where(F.col("doc_id") % bench_mod != 0).select("doc_id")
    return train.join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit_grams"),
        (F.coalesce(F.col("n_hit"), F.lit(0)) > 0).alias("contaminated"),
    )


@query(
    "benchmark_contamination",
    survey="ext-curation,ext-dedup",
    oracle=f"""
WITH tok AS (
    SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '') AS tokens
    FROM documents
), sh AS (
    SELECT doc_id,
           CASE WHEN LEN(tokens) >= 5 THEN
               LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(tokens) - 3),
                   i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
                        || ' ' || tokens[i+3] || ' ' || tokens[i+4]))
           ELSE [] END AS grams
    FROM tok
), bench AS (
    SELECT DISTINCT UNNEST(grams) AS g FROM sh WHERE doc_id % {_BENCH_MOD} = 0
), ex AS (
    SELECT doc_id, UNNEST(grams) AS g FROM sh WHERE doc_id % {_BENCH_MOD} <> 0
), hits AS (
    SELECT ex.doc_id, COUNT(*) AS n_hit_grams
    FROM ex JOIN bench USING (g)
    GROUP BY ex.doc_id
)
SELECT sh.doc_id,
       CAST(COALESCE(hits.n_hit_grams, 0) AS BIGINT) AS n_hit_grams,
       COALESCE(hits.n_hit_grams, 0) > 0 AS contaminated
FROM sh LEFT JOIN hits ON sh.doc_id = hits.doc_id
WHERE sh.doc_id % {_BENCH_MOD} <> 0
""",
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination over the documents table — see
    `contamination_flags` (every 97th doc stands in for the eval suite)."""
    t = Tables(spark, sf_dir)
    return contamination_flags(t.documents)


@query(
    "embedding_quantize_int8",
    survey="ext-sim",
    oracle="""
WITH v AS (
    SELECT vec_id, label,
           LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e
    FROM embeddings
), scaled AS (
    SELECT vec_id, label,
           LIST_MAX(LIST_TRANSFORM(e, x -> ABS(x))) AS max_abs,
           e
    FROM v
)
SELECT vec_id, label,
       ROUND(max_abs, 6) AS max_abs,
       -- symmetric int8: q_i = floor(x_i * 127/max_abs + 0.5) (explicit
       -- half-up — ROUND() ties-to-even differs between engines)
       CAST(LIST_SUM(LIST_TRANSFORM(e,
           x -> FLOOR(x * 127.0 / max_abs + 0.5))) AS BIGINT) AS q_sum,
       CAST(LIST_MAX(LIST_TRANSFORM(e,
           x -> ABS(FLOOR(x * 127.0 / max_abs + 0.5)))) AS BIGINT) AS q_max_abs
FROM scaled
""",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage/serving dial
    for embedding corpora (4× smaller than float32, 8× smaller than the
    float64 compute form). Declared output carries the scale and integer
    checksums (sum + max|q|) of the quantized vector so the oracle verifies
    the quantized VALUES, not just shapes; q_max_abs ≤ 127 by construction.

    All higher-order-function codegen over the scan — map-only at any
    scale. Explicit floor(x+0.5) half-up rounding: engines disagree on
    ROUND ties, and a quantizer must be bit-reproducible.
    """
    t = Tables(spark, sf_dir)
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    # NOTE: the full-precision scale column is named __max_abs and only the
    # ROUNDED display value takes the output name: projecting
    # round(max_abs).alias("max_abs") beside expressions that reference
    # "max_abs" lets projection collapse rebind those references to the
    # rounded alias — which silently shifted one floor by 1. Distinct names
    # make the dependency unambiguous.
    d = t.embeddings.select("vec_id", "label", e.alias("e")).withColumn(
        "__max_abs", F.array_max(F.transform("e", F.abs))
    )
    q = F.transform(
        "e", lambda x: F.floor(x * F.lit(127.0) / F.col("__max_abs") + F.lit(0.5))
    )
    return d.select(
        "vec_id",
        "label",
        F.round("__max_abs", 6).alias("max_abs"),
        F.aggregate(q, F.lit(0).cast("long"), lambda acc, x: acc + x).alias("q_sum"),
        F.array_max(F.transform(q, F.abs)).alias("q_max_abs"),
    )


@query(
    "global_row_ids_scalable",
    survey="ext-curation,G1",
    oracle="""
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (ORDER BY doc_id) AS BIGINT) AS row_id
FROM documents
""",
)
def global_row_ids_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense global row ids in doc_id order WITHOUT a global window — the
    generic form of the distributed prefix sum behind
    `token_shard_assignment_scalable` (count 1 per row instead of
    n_tokens): per-range counts → broadcast exclusive prefix offsets →
    range-partitioned local row_number + offset.

    Every large-scale pipeline needs this (contiguous example ids for
    shard manifests, stable sample indexing); `monotonically_increasing_id`
    is NOT dense and `zipWithIndex` drops to RDDs. The oracle is the
    global ROW_NUMBER — value equality certifies the decomposition exactly.
    """
    from pyspark.sql.window import Window

    t = Tables(spark, sf_dir)
    d = t.documents.select(
        "doc_id", F.expr(f"doc_id DIV {SCALE.pack_range_width}").alias("range_id")
    )
    totals = d.groupBy("range_id").agg(F.count("*").alias("n"))
    w_pfx = Window.orderBy("range_id").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "range_id", F.coalesce(F.sum("n").over(w_pfx), F.lit(0)).alias("offset")
    )
    w_local = Window.partitionBy("range_id").orderBy("doc_id")
    return (
        d.join(F.broadcast(offsets), "range_id")
        .select(
            "doc_id",
            (F.col("offset") + F.row_number().over(w_local)).alias("row_id"),
        )
    )


@query(
    "vocab_top_terms",
    survey="ext-text,G1,D1",
    oracle="""
WITH ex AS (
    SELECT doc_id, UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '')) AS term
    FROM documents
), stats AS (
    SELECT term,
           CAST(COUNT(*) AS BIGINT) AS collection_freq,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
    FROM ex GROUP BY term
), n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT term, collection_freq, doc_freq,
       ROUND(LN(CAST(n.n_docs AS DOUBLE) / doc_freq), 6) AS idf
FROM stats, n
ORDER BY collection_freq DESC, term
LIMIT 50
""",
)
def vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-50 terms by collection frequency with doc
    frequency and smoothless IDF — the tokenizer-training / TF-IDF
    bootstrap pass. Deterministic tie-break on term.

    100 TB shape: explode → two-level aggregate (the distinct-doc count
    re-shuffles on term only AFTER the per-(term, doc) combine collapses
    repeats map-side), global top-50 via TakeOrderedAndProject (no global
    sort); the 1-row corpus count joins in as a broadcast literal.
    """
    t = Tables(spark, sf_dir)
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    ex = t.documents.select("doc_id", F.explode(toks).alias("term"))
    stats = ex.groupBy("term").agg(
        F.count("*").alias("collection_freq"),
        F.countDistinct("doc_id").alias("doc_freq"),
    )
    n_docs = t.documents.select(F.count("*").alias("n_docs"))
    return (
        stats.join(F.broadcast(n_docs))
        .select(
            "term",
            "collection_freq",
            "doc_freq",
            F.round(
                F.log(F.col("n_docs").cast("double") / F.col("doc_freq")), 6
            ).alias("idf"),
        )
        .orderBy(F.desc("collection_freq"), "term")
        .limit(50)
    )


_DECON_PREFIX_CTES = f"""tokall AS (
    SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '') AS tokens
    FROM documents
), gr AS (
    SELECT doc_id,
           CASE WHEN LEN(tokens) >= 5 THEN
               LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(tokens) - 3),
                   i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
                        || ' ' || tokens[i+3] || ' ' || tokens[i+4]))
           ELSE [] END AS grams
    FROM tokall
), bench AS (
    SELECT DISTINCT UNNEST(grams) AS g FROM gr WHERE doc_id % {_BENCH_MOD} = 0
), dirty AS (
    SELECT DISTINCT gr.doc_id FROM gr, UNNEST(gr.grams) AS u(g)
    WHERE gr.doc_id % {_BENCH_MOD} <> 0 AND u.g IN (SELECT g FROM bench)
), """


@query(
    "curation_funnel_decontaminated",
    survey="ext-curation,ext-text,ext-dedup",
    # shared funnel-tail SQL (datapipe.funnel_oracle) + decontamination
    # prefix CTEs: the oracle twins cannot diverge from the plain funnel's
    oracle=funnel_oracle(
        f"lang = 'en' AND doc_id % {_BENCH_MOD} <> 0 "
        "AND doc_id NOT IN (SELECT doc_id FROM dirty)",
        prefix_ctes=_DECON_PREFIX_CTES,
    ),
)
def curation_funnel_decontaminated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE curation pipeline a pretraining run actually ships:
    benchmark exclusion + decontamination (drop benchmark docs and any
    training doc sharing a 5-gram with them) composed IN FRONT of the
    shared funnel tail (`datapipe.funnel_core`: quality gates → exact
    dedup → split stats — one definition with `curation_funnel`, so a
    gate or split change cannot diverge between the twins).

    100 TB shape: decontamination adds one broadcast semi-join (the
    benchmark gram probe) before the funnel's single wide shuffle — the
    anti-join on contaminated ids is keyed by doc_id against a
    broadcast-scale id list (contaminated docs are rare in a clean
    corpus; `contaminated_ids` skips the corpus-wide train-list join the
    full flags frame would pay), so filter-before-shuffle ordering still
    holds."""
    from .datapipe import funnel_core

    t = Tables(spark, sf_dir)
    dirty = contaminated_ids(t.documents)
    gated = (
        t.documents.where(F.col("lang") == "en")
        .where(F.col("doc_id") % _BENCH_MOD != 0)
        .join(F.broadcast(dirty), "doc_id", "left_anti")
    )
    return funnel_core(gated)
