"""Relational API surface, extension 2: PIVOT, UNPIVOT (melt), and
fixed-width histogram binning — the reshaping trio every analytics user
reaches for, certified against manual-SQL oracles (the oracle never uses
engine-specific PIVOT syntax, so the check is genuinely cross-engine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..memo import handles
from ..tables import Tables
from .registry import query

_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@query(
    "pivot_user_event_matrix",
    survey="D1,ext-analytic",
    oracle="""
SELECT user_id,
"""
    + ",\n".join(
        f"       CAST(SUM(CASE WHEN event_type = '{t}' THEN CAST(value AS DECIMAL(28,6)) END) AS DOUBLE) AS {t}"
        for t in _EVENT_TYPES
    )
    + """
FROM events GROUP BY user_id
""",
)
def pivot_user_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's `pivot` relational operator: per-user total value spread
    into one column per event type. Pivot values are EXPLICIT (the 5 known
    types) — never inferred, which would add a driver-blocking distinct
    scan and make the output schema data-dependent (the 100 TB trap).
    Sums are decimal-quantized (double addition order is engine-dependent)
    then surfaced as double; a user with no events of a type gets NULL in
    both engines (CASE sum over zero rows ≡ pivot's empty cell).
    """
    t = Tables(spark, sf_dir)
    return (
        t.events.select(
            "user_id", "event_type", F.col("value").cast("decimal(28,6)").alias("v")
        )
        .groupBy("user_id")
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.sum("v").cast("double"))
    )


@query(
    "unpivot_nation_metrics",
    survey="ext-analytic",
    oracle="""
WITH wide AS (
    SELECT n.n_name,
           CAST(COUNT(*) AS DOUBLE) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(28,6))) AS DOUBLE) AS total_acctbal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
)
SELECT n_name, 'n_customers' AS metric, n_customers AS metric_value FROM wide
UNION ALL
SELECT n_name, 'total_acctbal', total_acctbal FROM wide
""",
)
def unpivot_nation_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's `unpivot` (melt): a wide per-nation stats row becomes one
    (nation, metric, value) row per measure — the long form feeds generic
    downstream consumers (charting, metric stores) without per-metric
    code. The oracle is a plain UNION ALL, so equality certifies the melt
    semantics themselves. Narrow post-aggregation op: the unpivot runs on
    25 rows however large the fact side is."""
    t = Tables(spark, sf_dir)
    wide = (
        t.customer.join(
            t.nation, t.customer.c_nationkey == t.nation.n_nationkey
        )
        .groupBy("n_name")
        .agg(
            F.count("*").cast("double").alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(28,6)"))
            .cast("double")
            .alias("total_acctbal"),
        )
    )
    return wide.unpivot(
        ["n_name"], ["n_customers", "total_acctbal"], "metric", "metric_value"
    )


@query(
    "value_histogram",
    survey="D1,ext-analytic",
    oracle="""
SELECT event_type,
       CAST(FLOOR(value / 50) AS BIGINT) * 50 AS bin_start,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(value) AS DOUBLE) AS bin_min,
       CAST(MAX(value) AS DOUBLE) AS bin_max
FROM events GROUP BY event_type, CAST(FLOOR(value / 50) AS BIGINT) * 50
""",
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (width 50) of event values per type — the
    binning aggregation behind every distribution dashboard. The bin id
    is floor of an IEEE-exact division by a power-of-two-free constant:
    identical doubles in, identical bins out, both engines. One
    map-side-combined shuffle on (type, bin)."""
    t = Tables(spark, sf_dir)
    bin_start = (F.floor(F.col("value") / 50) * 50).cast("long")
    return t.events.groupBy(
        "event_type", bin_start.alias("bin_start")
    ).agg(
        F.count("*").alias("n"),
        F.min("value").cast("double").alias("bin_min"),
        F.max("value").cast("double").alias("bin_max"),
    )


@query(
    "heavy_hitter_tokens",
    survey="D4-scale,ext-text",
    oracle="""
WITH tok AS (
    SELECT UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '')) AS token
    FROM documents
), counted AS (
    SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY token
)
SELECT token, n FROM counted ORDER BY n DESC, token LIMIT 10
""",
)
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 most frequent tokens via the bounded-memory SpaceSaving
    two-phase operator (`operators/heavyhitters.py`): per-partition
    candidates (≤128 counters/task, cardinality-independent), broadcast
    semi-join, exact count of candidates only. The oracle runs the plain
    full-cardinality groupBy — equality certifies the pigeonhole
    guarantee end-to-end (exact whenever the 10th frequency > N/128,
    which any real heavy-hitter workload satisfies by definition)."""
    from ..operators.heavyhitters import heavy_hitters_exact

    t = Tables(spark, sf_dir)
    toks = t.documents.select(
        F.explode(
            F.filter(F.split(F.col("text"), " "), lambda x: x != "")
        ).alias("token")
    )
    return heavy_hitters_exact(toks, "token", k=10, m=128)


@query(
    "grouped_median_mode",
    survey="D1,ext-analytic",
    oracle="""
WITH counted AS (
    SELECT event_type, value, COUNT(*) AS cnt
    FROM events GROUP BY event_type, value
), modes AS (
    SELECT event_type, value AS mode_value
    FROM (
        SELECT event_type, value,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY cnt DESC, value ASC) AS rk
        FROM counted
    ) WHERE rk = 1
)
SELECT e.event_type,
       ROUND(MEDIAN(e.value), 6) AS median_value,
       ANY_VALUE(m.mode_value) AS mode_value
FROM events e JOIN modes m USING (event_type)
GROUP BY e.event_type
""",
)
def grouped_median_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group median (interpolating, = percentile 0.5 in both
    engines) and mode with a DETERMINISTIC tie-break (highest count, then
    smallest value — Spark's built-in `mode()` breaks ties arbitrarily,
    which would be flaky cross-engine AND cross-run, so the mode is a
    max_by over per-value counts instead).

    100 TB note: the exact median runs through FULLY-distributed
    selection, auto-routed (`grouped_exact_quantiles_auto`: window sort
    while event_type groups fit a task, range decomposition beyond, no
    driver dict in either regime) — `F.median` is sugar for the exact
    percentile aggregate, whose few-group buffers hold n/|groups| values
    in ONE task each; the mergeable sketch (`approx_price_percentiles`)
    stays the dial when exactness isn't contractual. Mode via counted
    max_by is two map-side-combined aggregations, scale-safe. Modes
    LEFT-join the median frame so a group whose values are entirely NULL
    keeps a NULL median (PERCENTILE_CONT-over-zero-rows semantics)
    instead of being dropped — the selection output only has groups with
    ≥1 non-null value."""
    from ..operators.selection import grouped_exact_quantiles_auto

    t = Tables(spark, sf_dir)
    counted = t.events.groupBy("event_type", "value").agg(F.count("*").alias("cnt"))
    modes = counted.groupBy("event_type").agg(
        F.max_by(
            "value", F.struct(F.col("cnt"), (-F.col("value")).alias("nv"))
        ).alias("mode_value")
    )
    med = grouped_exact_quantiles_auto(
        t.events, ["event_type"], "value", [0.5], n_parts=32,
        # the query owns the sliver persist across its own action, so
        # the selection runs lazily
        persisted_out=handles(spark, ("grouped_median_mode",)),
        memo_key=f"grouped_median_mode:{sf_dir}",
    ).select("event_type", F.col("value").alias("median_raw"))
    return (
        modes.join(F.broadcast(med), "event_type", "left")
        .select(
            "event_type",
            F.round("median_raw", 6).alias("median_value"),
            "mode_value",
        )
    )


@query(
    "regression_value_over_time",
    survey="ext-analytic,K2",
    oracle="""
SELECT event_type,
       ROUND(REGR_SLOPE(value, epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 // 3600), 6)
           AS slope_per_hour,
       ROUND(REGR_INTERCEPT(value, epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 // 3600), 6)
           AS intercept,
       ROUND(CORR(value, epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 // 3600), 6)
           AS corr_vh,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY event_type
""",
)
def regression_value_over_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type ordinary-least-squares trend of event value over time
    (hour index as regressor): regr_slope / regr_intercept / corr — the
    SQL:2016 linear-regression aggregate family. One map-side-combined
    aggregation (the regr_* aggregates fold into sufficient statistics,
    so they scale like any sum); round-6 because the moment accumulation
    order is engine-dependent."""
    t = Tables(spark, sf_dir)
    h = F.expr("unix_seconds(cast(ts as timestamp)) DIV 3600").cast("double")
    return t.events.groupBy("event_type").agg(
        F.round(F.regr_slope(F.col("value"), h), 6).alias("slope_per_hour"),
        F.round(F.regr_intercept(F.col("value"), h), 6).alias("intercept"),
        F.round(F.corr(F.col("value"), h), 6).alias("corr_vh"),
        F.count("*").alias("n"),
    )


@query(
    "grouping_sets_event_traffic",
    survey="D1,ext-analytic",
    oracle="""
SELECT event_type,
       CAST(user_id % 10 AS BIGINT) AS user_bucket,
       CAST(GROUPING(event_type) * 2 + GROUPING(user_id % 10) AS BIGINT) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY GROUPING SETS ((event_type, user_id % 10), (event_type), ())
""",
)
def grouping_sets_event_traffic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with grouping_id: per-(type, user-bucket)
    detail, per-type subtotal, and grand total in ONE pass — completing
    the multi-granularity family beside cube_region_status (CUBE) and
    order_lineitem_rollup (ROLLUP). The gid column disambiguates subtotal
    NULLs from data NULLs (the reason grouping_id exists). Spark expands
    sets with a single expand+aggregate — one shuffle for all three
    granularities; decimal-quantized sums for cross-engine exactness."""
    t = Tables(spark, sf_dir)
    ev = t.events.select(
        "event_type",
        (F.col("user_id") % 10).alias("user_bucket"),
        F.col("value").cast("decimal(28,6)").alias("v"),
    )
    return (
        ev.groupingSets(
            [["event_type", "user_bucket"], ["event_type"], []],
            "event_type",
            "user_bucket",
        )
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n"),
            F.sum("v").cast("double").alias("total_value"),
        )
        .select("event_type", "user_bucket", F.col("gid").cast("long"), "n", "total_value")
    )


_EQD_BUCKETS = 8


@query(
    "equi_depth_price_histogram",
    survey="ext-analytic,D4",
    oracle=f"""
WITH bounds AS (
    SELECT [PERCENTILE_CONT(0.125) WITHIN GROUP (ORDER BY l_extendedprice),
            PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY l_extendedprice),
            PERCENTILE_CONT(0.375) WITHIN GROUP (ORDER BY l_extendedprice),
            PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY l_extendedprice),
            PERCENTILE_CONT(0.625) WITHIN GROUP (ORDER BY l_extendedprice),
            PERCENTILE_CONT(0.75) WITHIN GROUP (ORDER BY l_extendedprice),
            PERCENTILE_CONT(0.875) WITHIN GROUP (ORDER BY l_extendedprice)] AS bs
    FROM lineitem
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(MIN(l_extendedprice), 4) AS lo,
       ROUND(MAX(l_extendedprice), 4) AS hi
FROM (
    SELECT l_extendedprice,
           CAST(LEN(LIST_FILTER(bounds.bs, b -> l_extendedprice > b)) AS BIGINT)
               AS bucket
    FROM lineitem, bounds
)
GROUP BY bucket
""",
)
def equi_depth_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram WITHOUT the global sort NTILE would cost: the
    7 interior boundaries come from one exact-percentile aggregate (a
    1-row frame broadcast into the scan), bucket assignment is the
    map-side count of boundaries below the value, and per-bucket stats
    are one combined shuffle — the optimizer-statistics build shape
    (equi-depth is what CBO histograms store). Boundary semantics
    `value > bound` is engine-portable where NTILE's tie-splitting is
    not; near-equal depths (not exact) on tied data are the standard
    trade. The 7 boundaries come from
    `operators/selection.exact_quantiles` — distributed selection via
    the engine's prefix-sum family, verified identical to
    PERCENTILE_CONT — NOT Spark's exact `percentile` aggregate, whose
    single TypedImperative buffer concentrates every value into one
    final task (an OOM at 100 TB). The boundaries land as a 7-float
    literal array, so bucket assignment is pure map-side codegen with
    no extra join; per-bucket stats are one combined shuffle."""
    from ..operators.selection import exact_quantiles

    import functools

    t = Tables(spark, sf_dir)
    qs = [i / 8 for i in range(1, _EQD_BUCKETS)]
    bs = exact_quantiles(t.lineitem, "l_extendedprice", qs, n_parts=32)
    # sum of codegen'd comparisons, not an array HOF (HOF lambdas are
    # CodegenFallback — interpreted per element on every scanned row)
    bucket = functools.reduce(
        lambda a, b: a + b,
        [(F.col("l_extendedprice") > F.lit(float(b))).cast("long") for b in bs],
    ).cast("long")
    return (
        t.lineitem.select("l_extendedprice")
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("l_extendedprice"), 4).alias("lo"),
            F.round(F.max("l_extendedprice"), 4).alias("hi"),
        )
    )
