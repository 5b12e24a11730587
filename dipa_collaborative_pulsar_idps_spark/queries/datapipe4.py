"""Embedding-pipeline queries, wave 2: exact cosine near-dup pairs (the
dedup variant the LLM-data-pipeline needs beside MinHash text dedup) and
per-label centroids (the building block IVF list assignment uses).

Scale stance: the exact all-pairs query is the oracle-matched *baseline*;
at 100 TB the same semantics run through the LSH/IVF candidate generators
in functions/similarity.py + functions/ivf.py (queries
``ann_topk_lsh_neighbors`` / ``ann_topk_ivf_neighbors``), which scan a
bucketed fraction of the corpus instead of N².
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.components import connected_components
from ..operators.rangejoin import interval_join
from ..config import SCALE
from ..memo import handles, memo
from ..tables import Tables
from .registry import query


def _embedding_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, component) cluster labels over the embedding corpus,
    memoized per (session, sf_dir): `near_dup_components` and
    `near_dup_keep_canonical` derive views of the SAME clustering, which a
    production dedup pipeline materializes once and joins against. The
    frame is already executor-materialized by connected_components' final
    localCheckpoint, so the memo holds only the reference."""
    import os

    from ..functions.similarity import cosine_pairs_blocked

    def build() -> DataFrame:
        t = Tables(spark, sf_dir)
        pairs = cosine_pairs_blocked(t.embeddings, threshold=0.4)
        return connected_components(
            pairs.select(F.col("keep_id").alias("src"), F.col("dup_id").alias("dst")),
            nodes=t.embeddings.select("vec_id"),
        )

    return memo(spark, ("components", os.path.abspath(sf_dir)), build)


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))


def _cosine_pairs(spark: SparkSession, t: Tables, threshold: float) -> DataFrame:
    """(keep_id, dup_id, cosine) for all pairs ≥ threshold, keep_id < dup_id.
    Exact all-pairs baseline — corpus repartitioned off the single-file scan
    so the 64-dim dot products spread across cores."""
    n_part = spark.sparkContext.defaultParallelism
    v = t.embeddings.repartition(n_part, "vec_id").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    a = v.select(F.col("vec_id").alias("keep_id"), F.col("e").alias("ea"))
    b = v.select(F.col("vec_id").alias("dup_id"), F.col("e").alias("eb"))
    cos = _dot(F.col("ea"), F.col("eb")) / (_norm(F.col("ea")) * _norm(F.col("eb")))
    return (
        a.join(b, F.col("keep_id") < F.col("dup_id"))
        .select("keep_id", "dup_id", cos.alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


@query(
    "cosine_near_dup_pairs",
    survey="ext-dedup,ext-sim",
    oracle="""
WITH v AS (
    SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e
    FROM embeddings
)
SELECT a.vec_id AS keep_id, b.vec_id AS dup_id,
       ROUND(LIST_COSINE_SIMILARITY(a.e, b.e), 6) AS cosine
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE LIST_COSINE_SIMILARITY(a.e, b.e) >= 0.4
""",
)
def cosine_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above a threshold; the lower
    vec_id is the canonical survivor (keep_id), the higher the duplicate.
    Runs on the distributed block self-join (BLAS per block pair, no
    driver materialization — functions/similarity.cosine_pairs_blocked);
    the O(N²) HOF theta join ``_cosine_pairs`` remains as the test-only
    reference implementation."""
    from ..functions.similarity import cosine_pairs_blocked

    return cosine_pairs_blocked(
        Tables(spark, sf_dir).embeddings, threshold=0.4
    ).withColumn("cosine", F.round("cosine", 6))


@query(
    "cosine_near_dup_pairs_lsh_exhaustive",
    survey="ext-dedup,ext-sim",
    oracle="""
WITH v AS (
    SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e
    FROM embeddings
)
SELECT a.vec_id AS keep_id, b.vec_id AS dup_id,
       ROUND(LIST_COSINE_SIMILARITY(a.e, b.e), 6) AS cosine
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE LIST_COSINE_SIMILARITY(a.e, b.e) >= 0.4
""",
)
def cosine_near_dup_pairs_lsh_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH candidate generator with every bucket probed
    (probe_radius = n_planes): candidates degenerate to all pairs, so the
    result must EQUAL the exact pair set — full value-level oracle for the
    bucket/probe/verify machinery (the production config below keeps a
    recall test instead)."""
    from ..functions.similarity import cosine_pairs_lsh

    t = Tables(spark, sf_dir)
    return cosine_pairs_lsh(
        t.embeddings, threshold=0.4, dim=64, n_planes=4, probe_radius=4
    ).withColumn("cosine", F.round("cosine", 6))


@query("cosine_near_dup_pairs_lsh", survey="ext-dedup,ext-sim")
def cosine_near_dup_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION near-dup pair path: hyperplane-LSH candidates (P=8
    planes, multi-probe radius 2 → ~14% of the quadratic candidate mass)
    + exact verify. Deterministic (seeded planes) but approximate —
    declared rows-only; recall ≥ 0.9 on planted near-dups asserted in
    tests/test_scale_stress.py at 20k vectors."""
    from ..functions.similarity import cosine_pairs_lsh

    t = Tables(spark, sf_dir)
    return cosine_pairs_lsh(
        t.embeddings,
        threshold=0.4,
        dim=64,
        n_planes=SCALE.pair_lsh_n_planes,
        probe_radius=SCALE.pair_lsh_probe_radius,
    ).withColumn("cosine", F.round("cosine", 6))


@query("semantic_dedup_pairs", survey="ext-dedup,ext-sim")
def semantic_dedup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) — the cluster-then-prune semantic
    dedup production path: near-dup pairs scanned only WITHIN the
    k-means clusters of the SHARED serving coarse quantizer
    (datapipe3._ivfpq_build's assigned relation — the dedup blocker and
    the ANN index are the same build, the paper's own economy), candidate
    mass ≈ 1/n_list of the quadratic pair space. Every emitted pair is
    exact-verified (precision 1); the only loss is boundary-straddling
    pairs — recall vs the exact blocked self-join plus the measured
    candidate fraction ride PARITY_r* (BANDED_DIALS), and planted
    near-dup recall is pinned in tests/test_dedup.py. Rows-only by
    design (iterative k-means blocker); `semantic_dedup_pairs_exhaustive`
    is the one-cluster full value oracle of the same kernel."""
    from .datapipe3 import _ivfpq_build
    from ..functions.similarity import semantic_dedup_pairs

    assigned = _ivfpq_build(spark, sf_dir)[0]
    return semantic_dedup_pairs(assigned, threshold=0.4).withColumn(
        "cosine", F.round("cosine", 6)
    )


@query(
    "semantic_dedup_pairs_exhaustive",
    survey="ext-dedup,ext-sim",
    oracle="""
WITH v AS (
    SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e
    FROM embeddings
)
SELECT a.vec_id AS keep_id, b.vec_id AS dup_id,
       ROUND(LIST_COSINE_SIMILARITY(a.e, b.e), 6) AS cosine
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE LIST_COSINE_SIMILARITY(a.e, b.e) >= 0.4
""",
)
def semantic_dedup_pairs_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SemDeDup kernel with ONE cluster: the within-cluster scan
    covers every pair, so the cogrouped Gram kernel must equal the exact
    all-pairs self-join — the full value oracle for the per-cluster
    normalize/BLAS/threshold arithmetic the production blocker runs
    (same certifier pattern as the ANN exhaustive twins)."""
    from .datapipe3 import _corpus
    from ..functions.similarity import semantic_dedup_pairs

    one = _corpus(spark, sf_dir).withColumn("list_id", F.lit(0))
    return semantic_dedup_pairs(one, threshold=0.4).withColumn(
        "cosine", F.round("cosine", 6)
    )


@query(
    "embedding_centroid_by_label",
    survey="ext-sim,D1",
    oracle="""
SELECT label, pos, AVG(x) AS centroid
FROM (
    SELECT label,
           UNNEST(LIST_TRANSFORM(embedding, y -> CAST(y AS DOUBLE))) AS x,
           GENERATE_SUBSCRIPTS(embedding, 1) AS pos
    FROM embeddings
)
GROUP BY label, pos
""",
)
def embedding_centroid_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid, one row per (label, dimension). posexplode →
    partial-aggregated mean per (label, pos): the map-side combine keeps the
    shuffle at |labels|×dim rows regardless of corpus size — the same
    access pattern k-means/IVF training uses (functions/ivf.py)."""
    t = Tables(spark, sf_dir)
    n_part = spark.sparkContext.defaultParallelism
    return (
        t.embeddings.repartition(n_part, "vec_id")
        .select(
            "label",
            F.posexplode(
                F.transform("embedding", lambda x: x.cast("double"))
            ).alias("pos0", "x"),
        )
        .groupBy("label", (F.col("pos0") + 1).alias("pos"))
        .agg(F.avg("x").alias("centroid"))
    )


@query(
    "interval_join_error_burst",
    survey="E-ext(range),D11",
    oracle="""
SELECT p.event_id AS purchase_id, COUNT(e.event_id) AS n_errors
FROM events p
LEFT JOIN events e
  ON e.event_type = 'error'
 AND e.ts >= p.ts AND e.ts < p.ts + INTERVAL 30 MINUTE
WHERE p.event_type = 'purchase'
GROUP BY p.event_id
""",
)
def interval_join_error_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Errors observed in the 30 minutes after each purchase — a PURE range
    join (no equi key). Runs through operators/rangejoin.interval_join:
    time-binned equi join + residual, never a nested-loop product
    (asserted in test_plans.py). Zero-match purchases kept via a final
    left join against the interval set."""
    t = Tables(spark, sf_dir)
    ev = t.events
    points = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"), F.col("ts").alias("err_ts")
    )
    intervals = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("win_start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("win_end"),
    )
    hits = interval_join(
        points, "err_ts", intervals, "win_start", "win_end", bin_seconds=1800
    )
    counts = hits.groupBy("purchase_id").agg(F.count("*").alias("n_errors"))
    return (
        intervals.select("purchase_id")
        .join(counts, "purchase_id", "left")
        .select(
            "purchase_id", F.coalesce("n_errors", F.lit(0).cast("long")).alias("n_errors")
        )
    )


@query(
    "near_dup_components",
    survey="ext-dedup",
    oracle="""
WITH RECURSIVE
v AS (
    SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e
    FROM embeddings
),
pairs AS (
    SELECT a.vec_id AS x, b.vec_id AS y
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE LIST_COSINE_SIMILARITY(a.e, b.e) >= 0.4
),
edges AS (SELECT x, y FROM pairs UNION SELECT y, x FROM pairs),
walk(node, reach) AS (
    SELECT vec_id, vec_id FROM embeddings
    UNION
    SELECT w.node, e.y FROM walk w JOIN edges e ON w.reach = e.x
)
SELECT node AS vec_id, MIN(reach) AS component FROM walk GROUP BY node
""",
)
def near_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup cluster formation: transitive closure over the cosine near-dup
    pairs — every vector labeled with its cluster (min vec_id reachable);
    singletons are their own cluster. The canonical survivor of a cluster
    is its component id; dedup = keep rows where vec_id == component.
    Spark: iterated union-find contraction (operators/components.py);
    edges from the blocked-BLAS exact pair path
    (functions/similarity.cosine_pairs_blocked — ~8x the HOF expression
    path on 2k vectors); oracle: DuckDB recursive CTE closure. The labels
    frame is memoized per (appId, sf_dir) — `near_dup_keep_canonical`
    reads the SAME clustering, and production materializes labels once."""
    return _embedding_components(spark, sf_dir).select(
        F.col("node").alias("vec_id"), "component"
    )


@query(
    "salted_event_type_totals",
    survey="D1-scale,ext-skew",
    oracle="""
SELECT event_type,
       -- decimal-quantized terms: the salted two-phase sum changes the
       -- summation order, so double addition would drift by ulps
       CAST(SUM(CAST(value AS DECIMAL(28, 6))) AS DOUBLE) AS total_value,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY event_type
""",
)
def salted_event_type_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-safe aggregation declared as a first-class query: two-phase
    salted sum/count over `event_type` (5 heavy keys — exactly the shape
    where one hot key OOMs a shuffle partition at 100 TB). Result is
    provably identical to the direct groupBy (algebraic aggregates; DuckDB
    oracle runs the direct form); the salt bounds every phase-1 shuffle
    partition at ~1/n_salts of the hot key's mass. Property equivalence is
    also tested in tests/test_scale_strategies.py."""
    from ..operators.skew import salted_sum

    t = Tables(spark, sf_dir)
    ev = t.events.select(
        "event_type", F.col("value").cast("decimal(28,6)").alias("value")
    )
    sums = salted_sum(ev, ["event_type"], "value", n_salts=16, out_col="total_value")
    salt = F.pmod(F.xxhash64("value"), F.lit(16)).alias("__salt")
    counts = (
        ev.select("event_type", salt)
        .groupBy("event_type", "__salt")
        .agg(F.count("*").alias("__p"))
        .groupBy("event_type")
        .agg(F.sum("__p").alias("n_events"))
    )
    return sums.withColumn("total_value", F.col("total_value").cast("double")).join(
        counts, "event_type"
    )


@query(
    "near_dup_keep_canonical",
    survey="ext-dedup",
    oracle="""
WITH RECURSIVE
v AS (
    SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e
    FROM embeddings
),
pairs AS (
    SELECT a.vec_id AS x, b.vec_id AS y
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE LIST_COSINE_SIMILARITY(a.e, b.e) >= 0.4
),
edges AS (SELECT x, y FROM pairs UNION SELECT y, x FROM pairs),
walk(node, reach) AS (
    SELECT vec_id, vec_id FROM embeddings
    UNION
    SELECT w.node, e.y FROM walk w JOIN edges e ON w.reach = e.x
),
comp AS (SELECT node AS vec_id, MIN(reach) AS component FROM walk GROUP BY node)
SELECT component AS keep_id,
       CAST(COUNT(*) AS BIGINT) AS cluster_size,
       CAST(COUNT(*) - 1 AS BIGINT) AS n_dups_removed
FROM comp GROUP BY component
""",
)
def near_dup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's OUTPUT step: collapse each near-dup cluster to
    its canonical survivor (min vec_id = the component label) and report
    how much the corpus shrank per cluster. Downstream, the deduped corpus
    is `embeddings JOIN (survivors) ON vec_id == keep_id` — one broadcast-
    or key-partitioned semi-join; the heavy lifting (pair generation,
    transitive closure) is the SAME memoized labels frame as
    `near_dup_components`, so the materialization adds one |V|-row
    aggregate, nothing corpus-squared."""
    comp = _embedding_components(spark, sf_dir)
    return comp.groupBy(F.col("component").alias("keep_id")).agg(
        F.count("*").alias("cluster_size"),
        (F.count("*") - F.lit(1)).alias("n_dups_removed"),
    )


@query("approx_price_percentiles", survey="D-ext-scale")
def approx_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx (streaming-mergeable sketch) — the 100 TB quantile
    path: the sketch merges map-side, so the shuffle carries one digest per
    partition instead of the column. Scalar columns (one per quantile) so
    the driver's rows-only check canonicalizes cleanly. No SQL oracle
    (DuckDB's approx_quantile is a different sketch by design); the exact
    twin ``exact_price_percentiles`` is fully oracle-checked, and local
    tests assert the sketch lands within 1% of it."""
    t = Tables(spark, sf_dir)
    agg = t.lineitem.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", [0.5, 0.95, 0.99], 10_000).alias("ap")
    )
    return agg.select(
        "l_returnflag",
        F.col("ap")[0].alias("p50_approx"),
        F.col("ap")[1].alias("p95_approx"),
        F.col("ap")[2].alias("p99_approx"),
    )


@query(
    "exact_price_percentiles",
    survey="D-ext",
    oracle="""
SELECT l_returnflag,
       ROUND(PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY l_extendedprice), 4) AS p50,
       ROUND(PERCENTILE_CONT(0.95) WITHIN GROUP (ORDER BY l_extendedprice), 4) AS p95,
       ROUND(PERCENTILE_CONT(0.99) WITHIN GROUP (ORDER BY l_extendedprice), 4) AS p99
FROM lineitem GROUP BY l_returnflag
""",
)
def exact_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (the oracle-checkable twin of the
    sketch path above), computed by distributed selection
    (`operators/selection.grouped_exact_quantiles`): boundary ranges +
    per-(group, range) counts + prefix offsets + a ≤ 2·|qs|·|groups|-row
    index lookup. NO single-buffer ``F.percentile`` aggregate anywhere in
    the plan — that TypedImperativeAggregate concentrates every value in
    one final task and is an executor-OOM at 100 TB. The selection path
    evaluates the same (n-1)·p linear interpolation as DuckDB's
    PERCENTILE_CONT oracle; ROUND(…,4) absorbs last-ulp arithmetic
    differences. Since r6 the strategy is auto-routed
    (`grouped_exact_quantiles_auto`): the max-group-size probe picks the
    per-key window sort at bench scale and flips to the fully-
    distributed range form — no driver dict, per-group offsets a window
    over the (group × range) count frame — when an l_returnflag group
    outgrows a task, as it does at 100 TB."""
    from ..operators.selection import grouped_exact_quantiles_auto

    t = Tables(spark, sf_dir)
    qdf = grouped_exact_quantiles_auto(
        t.lineitem, ["l_returnflag"], "l_extendedprice", [0.5, 0.95, 0.99],
        n_parts=32,  # right-sized for the bench corpus; raise with data scale
        # the query owns the sliver persist across its own action, so
        # the selection runs lazily instead of as an eagerly pinned job
        persisted_out=handles(spark, ("exact_price_percentiles",)),
        memo_key=f"exact_price_percentiles:{sf_dir}",
    )
    return qdf.groupBy("l_returnflag").agg(
        F.round(F.max(F.when(F.col("q") == 0.5, F.col("value"))), 4).alias("p50"),
        F.round(F.max(F.when(F.col("q") == 0.95, F.col("value"))), 4).alias("p95"),
        F.round(F.max(F.when(F.col("q") == 0.99, F.col("value"))), 4).alias("p99"),
    )


@query(
    "bpeish_token_counts",
    survey="ext-text,J10",
    oracle="""
SELECT doc_id,
       LEN(REGEXP_EXTRACT_ALL(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t]+')) AS n_tokens,
       LEN(REGEXP_EXTRACT_ALL(text, '[A-Za-z]+')) AS n_alpha,
       LEN(REGEXP_EXTRACT_ALL(text, '[0-9]+')) AS n_num
FROM documents
""",
)
def bpeish_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-tokenizer token counting the way BPE vocabularies segment raw
    text: alpha runs, digit runs, punctuation runs (whitespace-variant in
    `text_token_stats`). The pattern uses only class/alternation/+ so Java
    regex (Spark) and RE2 (DuckDB oracle) tokenize identically. All
    JVM-side — regexp_extract_all in codegen, no UDF."""
    t = Tables(spark, sf_dir)
    tok = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t]+"
    return t.documents.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(tok), F.lit(0))).alias("n_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[A-Za-z]+"), F.lit(0))).alias(
            "n_alpha"
        ),
        F.size(F.regexp_extract_all("text", F.lit("[0-9]+"), F.lit(0))).alias("n_num"),
    )


@query(
    "deterministic_split",
    survey="ext-curation",
    oracle="""
SELECT split, COUNT(*) AS n_docs,
       -- DuckDB SUM(BIGINT) yields HUGEINT; cast back to match Spark's bigint
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM (
    SELECT n_chars,
           CASE WHEN ((doc_id & 2147483647) * 2654435761) % 100 < 80 THEN 'train'
                WHEN ((doc_id & 2147483647) * 2654435761) % 100 < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
)
GROUP BY split
""",
)
def deterministic_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test assignment by multiplicative (Knuth) hashing
    of the document id — deterministic, engine-portable (plain integer
    arithmetic, no engine hash function), stable under re-runs and across
    partitions/shuffles: the property a training pipeline needs so a
    document never migrates between splits between runs."""
    t = Tables(spark, sf_dir)
    bucket = F.pmod(F.col("doc_id").bitwiseAND(F.lit(2147483647)) * F.lit(2654435761), F.lit(100))
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        t.documents.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )
