"""Training-data-pipeline operators, batch 2 (SURVEY.md §7 Phase 6):
language-ID heuristic, document fingerprinting, n-gram Jaccard near-dup
pairs, brute-force cosine top-k similarity search — all with exact DuckDB
oracles. Approximate variants (MinHash-LSH, SimHash, IVF) live in
``functions/`` and register weaker checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..memo import memo
from ..tables import Tables
from .registry import query

_STOPWORDS = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "los", "y", "una", "por"),
}


def _tokens_col():
    return F.filter(F.split(F.col("text"), " "), lambda x: x != "")


# ---------------------------------------------------------------------------
# Language-ID: stopword-hit scoring with fixed precedence argmax.
# ---------------------------------------------------------------------------


def _langid_oracle() -> str:
    scores = ",\n       ".join(
        f"LEN(LIST_FILTER(tokens, x -> x IN "
        f"({', '.join(repr(w) for w in ws)}))) AS score_{lang}"
        for lang, ws in _STOPWORDS.items()
    )
    return f"""
WITH tok AS (
    SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '') AS tokens
    FROM documents
), scored AS (
    SELECT doc_id,
       {scores}
    FROM tok
)
SELECT doc_id, score_en, score_de, score_fr, score_es,
       CASE WHEN score_en >= score_de AND score_en >= score_fr AND score_en >= score_es THEN 'en'
            WHEN score_de >= score_fr AND score_de >= score_es THEN 'de'
            WHEN score_fr >= score_es THEN 'fr'
            ELSE 'es' END AS lang_guess
FROM scored
"""


@query("lang_id_heuristic", survey="ext-text", oracle=_langid_oracle())
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit n-gram heuristic; precedence en>de>fr>es on ties
    (pinned identically in the oracle). JVM-only higher-order funcs."""
    t = Tables(spark, sf_dir)
    d = t.documents.select("doc_id", _tokens_col().alias("tokens"))

    def hit_counter(words: tuple[str, ...]):
        return lambda x: x.isin(*words)

    for lang, ws in _STOPWORDS.items():
        d = d.withColumn(
            f"score_{lang}", F.size(F.filter(F.col("tokens"), hit_counter(ws)))
        )
    guess = (
        F.when(
            (F.col("score_en") >= F.col("score_de"))
            & (F.col("score_en") >= F.col("score_fr"))
            & (F.col("score_en") >= F.col("score_es")),
            "en",
        )
        .when(
            (F.col("score_de") >= F.col("score_fr"))
            & (F.col("score_de") >= F.col("score_es")),
            "de",
        )
        .when(F.col("score_fr") >= F.col("score_es"), "fr")
        .otherwise("es")
    )
    return d.select(
        "doc_id", "score_en", "score_de", "score_fr", "score_es", guess.alias("lang_guess")
    )


# ---------------------------------------------------------------------------
# Document fingerprint: md5 over the sorted distinct token set (order-free
# content identity — robust to token shuffling, unlike raw md5(text)).
# ---------------------------------------------------------------------------


@query(
    "doc_fingerprint",
    survey="ext-text,ext-dedup",
    oracle="""
SELECT doc_id,
       MD5(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(
           LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> ''))), ' ')) AS fingerprint,
       LEN(LIST_DISTINCT(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> ''))) AS vocab_size
FROM documents
""",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    toks = _tokens_col()
    return t.documents.select(
        "doc_id",
        F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " ")).alias("fingerprint"),
        F.size(F.array_distinct(toks)).alias("vocab_size"),
    )


# ---------------------------------------------------------------------------
# N-gram Jaccard near-dup pairs: word-3-gram shingle sets, blocked by lang
# (the deterministic blocking key), exact Jaccard ≥ threshold.
# Scale path: the lang block bounds the quadratic term; at 100 TB the same
# query runs with MinHash-LSH banding as the blocker (functions/dedup.py) and
# this exact Jaccard as the verifier.
# ---------------------------------------------------------------------------

_SHINGLE_SPARK = (
    "transform(sequence(1, greatest(size(tokens) - 2, 0)), "
    "i -> concat_ws(' ', element_at(tokens, i), element_at(tokens, i + 1), "
    "element_at(tokens, i + 2)))"
)


def _shingles(spark: SparkSession, sf_dir: str):
    """The persisted shingle frame, memoized per (session, sf_dir): the
    n-gram and MinHash queries all start from it, and rebuilding it per
    call cost 6.5 s cold against 2.0 s warm at sf0.1."""
    import os

    from ..functions.dedup import shingle_sets

    return memo(
        spark,
        ("shingles", os.path.abspath(sf_dir)),
        lambda: shingle_sets(Tables(spark, sf_dir).documents, "doc_id", "text").persist(),
    )


@query(
    "ngram_jaccard_pairs",
    survey="ext-dedup",
    oracle="""
WITH sh AS (
    SELECT doc_id, lang,
           LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(tokens) - 1, 1)),
               i -> tokens[i] || ' ' || tokens[i + 1] || ' ' || tokens[i + 2])) AS shingles
    FROM (SELECT doc_id, lang,
                 LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '') AS tokens
          FROM documents)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(LEN(LIST_INTERSECT(a.shingles, b.shingles)) AS DOUBLE)
           / (LEN(a.shingles) + LEN(b.shingles) - LEN(LIST_INTERSECT(a.shingles, b.shingles)))
           AS jaccard
FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE LEN(a.shingles) > 0 AND LEN(b.shingles) > 0
  AND CAST(LEN(LIST_INTERSECT(a.shingles, b.shingles)) AS DOUBLE)
      / (LEN(a.shingles) + LEN(b.shingles) - LEN(LIST_INTERSECT(a.shingles, b.shingles))) >= 0.2
""",
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash single-row-band blocker + exact verification (the scale
    form of the lang-blocked O(n²) scan, which took ~170 s at sf0.1):
    candidates are doc pairs sharing ≥1 of 32 per-permutation min-hashes —
    P[candidate] = 1-(1-J)^32 ≥ 0.9992 at the J=0.2 threshold, which is
    what EXACT oracle parity demands (a missed true pair = hash mismatch).
    The flip side: on a shared-vocabulary corpus the low-J tail also
    collides often (this synthetic fixture yields ~290k candidates at
    sf0.1 for 6 true pairs — real web text with diverse vocab is far
    sparser), so the dominant cost is the exact array_intersect
    verification of candidates; still ~40× below the quadratic pair mass,
    and banding (bands × rows_per_band) is the recall/candidate-volume
    dial when exactness is not contractual. False positives are impossible
    (every candidate exact-verified, same-lang block applied); result
    matches the brute-force oracle at every checked SF."""
    return _verified_jaccard_pairs(
        spark, sf_dir, num_perm=32, bands=32, rows_per_band=1, threshold=0.2
    )


def _verified_jaccard_pairs(
    spark: SparkSession,
    sf_dir: str,
    *,
    num_perm: int,
    bands: int,
    rows_per_band: int,
    threshold: float,
) -> DataFrame:
    """Shared MinHash-block → cheap-gate → exact-verify pipeline behind
    both the exact-parity (r=1) and production-banded (r>1) n-gram
    near-dup queries. Output (doc_a, doc_b, jaccard ≥ threshold); every
    emitted pair is exact-verified, so banding only affects RECALL."""
    from ..functions.dedup import lsh_candidate_pairs, minhash_signatures

    t = Tables(spark, sf_dir)
    docs = t.documents
    sh = _shingles(spark, sf_dir)
    sigs = minhash_signatures(sh, num_perm=num_perm)  # empty-shingle drop is internal
    cands = lsh_candidate_pairs(sigs, bands=bands, rows_per_band=rows_per_band)
    # Cheap gates BEFORE the array payload: join only (lang, shingle count)
    # per side — a few bytes vs whole shingle arrays — and drop pairs that
    # (a) cross the lang block (~(1-1/n_langs) of candidates on a mixed
    # corpus) or (b) fail the EXACT size necessary condition
    # J = |∩|/|∪| ≤ min(|a|,|b|)/max(|a|,|b|) < t. Only survivors pay the
    # array_intersect verification — the query's dominant cost.
    meta = docs.select("doc_id", "lang").join(
        sh.select(F.col("id").alias("doc_id"), F.size("shingles").alias("n_sh")),
        "doc_id",
    )
    gated = (
        cands.join(
            meta.select(
                F.col("doc_id").alias("id_a"),
                F.col("lang").alias("lang_a"),
                F.col("n_sh").alias("n_a"),
            ),
            "id_a",
        )
        .join(
            meta.select(
                F.col("doc_id").alias("id_b"),
                F.col("lang").alias("lang_b"),
                F.col("n_sh").alias("n_b"),
            ),
            "id_b",
        )
        .where(F.col("lang_a") == F.col("lang_b"))
        .where((F.col("n_a") > 0) & (F.col("n_b") > 0))
        .where(
            F.least("n_a", "n_b").cast("double") / F.greatest("n_a", "n_b")
            >= F.lit(threshold)
        )
        .select("id_a", "id_b")
    )
    a = sh.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter.cast("double") / union
    return (
        gated.join(a, "id_a")
        .join(b, "id_b")
        .select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            jac.alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


@query("ngram_jaccard_banded", survey="ext-dedup")
def ngram_jaccard_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION n-gram near-dup: real LSH banding (b bands × r rows,
    defaults 8×4 from `config.ScaleConfig`) over the same word-3-gram
    MinHash signatures, exact-Jaccard verification at the near-dup
    threshold (0.8). This is the dial a pretraining pipeline runs at
    100 TB: the 4-row AND inside each band suppresses the low-J collision
    tail that the exact-parity r=1 blocker must tolerate (its contract is
    EXACT oracle equality down to J=0.2), so candidate mass collapses to
    a sliver of the quadratic pair space while recall at J≥0.8 stays
    1-(1-0.8⁴)⁸ ≈ 0.985. No SQL oracle BY DESIGN (banding is
    probabilistic recall); its certifier is `ngram_jaccard_pairs` — every
    emitted pair also appears there with the identical exact jaccard
    (false positives are impossible: same verification), and the planted
    recall ≥0.9 + candidate-mass < 20%-of-quadratic contracts are pinned
    by tests/test_dedup.py at 20k docs."""
    from ..config import SCALE

    return _verified_jaccard_pairs(
        spark,
        sf_dir,
        num_perm=SCALE.ngram_num_perm,
        bands=SCALE.ngram_bands,
        rows_per_band=SCALE.ngram_rows_per_band,
        threshold=SCALE.ngram_near_dup_threshold,
    )


# ---------------------------------------------------------------------------
# Brute-force cosine top-k (the exact ANN baseline; LSH/IVF variants verify
# against this). Dot products in double, sequential order on both sides.
# ---------------------------------------------------------------------------


@query(
    "cosine_topk_neighbors",
    survey="ext-sim",
    oracle="""
WITH v AS (
    SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e
    FROM embeddings WHERE vec_id < 50
), allv AS (
    SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e
    FROM embeddings
), scored AS (
    SELECT v.vec_id AS query_id, allv.vec_id AS neighbor_id,
           LIST_COSINE_SIMILARITY(v.e, allv.e) AS cosine,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY LIST_COSINE_SIMILARITY(v.e, allv.e) DESC,
                                       allv.vec_id ASC) AS rk
    FROM v CROSS JOIN allv
    WHERE v.vec_id <> allv.vec_id
)
SELECT query_id, neighbor_id, ROUND(cosine, 6) AS cosine, rk
FROM scored WHERE rk <= 5
""",
)
def cosine_topk_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for the first 50 query vectors.
    Broadcast the query side; corpus side streams — at scale this is one
    pass over the corpus per query batch (classic brute-force ANN batch)."""
    t = Tables(spark, sf_dir)
    n_part = spark.sparkContext.defaultParallelism
    emb = t.embeddings.repartition(n_part, "vec_id").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    q = emb.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    dot = F.aggregate(
        F.zip_with(F.col("qe"), F.col("e"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )
    scored = (
        F.broadcast(q)
        .join(emb, F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (dot / (norm(F.col("qe")) * norm(F.col("e")))).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
        .withColumn("cosine", F.round("cosine", 6))
    )
