"""Relational surface, batch 2: outer joins, distinct aggregates,
percentiles, conditional aggregation, per-group argmax, ratio-of-total at
relational scale, inline dimensions (SURVEY.md §2 D/E extended shapes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..memo import handles
from ..tables import Tables
from .registry import query

# ---------------------------------------------------------------------------
# Full outer join: every customer × order activity, nulls filled.
# ---------------------------------------------------------------------------


@query(
    "full_outer_customer_orders",
    survey="E-outer",
    oracle="""
WITH per_cust AS (
    SELECT o_custkey, COUNT(*) AS n_orders, SUM(o_totalprice) AS spend
    FROM orders GROUP BY o_custkey
)
SELECT COALESCE(c_custkey, o_custkey) AS custkey,
       c_name,
       COALESCE(n_orders, 0) AS n_orders,
       COALESCE(spend, 0.0) AS spend
FROM customer FULL OUTER JOIN per_cust ON c_custkey = o_custkey
""",
)
def full_outer_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    per_cust = t.orders.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"), F.sum("o_totalprice").alias("spend")
    )
    return (
        t.customer.join(per_cust, F.col("c_custkey") == F.col("o_custkey"), "full_outer")
        .select(
            F.coalesce("c_custkey", "o_custkey").alias("custkey"),
            "c_name",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("spend", F.lit(0.0)).alias("spend"),
        )
    )


@query(
    "left_join_null_fill",
    survey="E-outer,B5",
    oracle="""
SELECT s_suppkey, s_name, n_name
FROM supplier LEFT JOIN nation ON s_nationkey = n_nationkey AND n_regionkey < 3
""",
)
def left_join_null_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left join with compound ON (join-condition filter ≠ WHERE filter —
    the null-semantics trap the reference's try/except pattern maps to)."""
    t = Tables(spark, sf_dir)
    return t.supplier.join(
        F.broadcast(t.nation),
        (F.col("s_nationkey") == F.col("n_nationkey")) & (F.col("n_regionkey") < 3),
        "left",
    ).select("s_suppkey", "s_name", "n_name")


# ---------------------------------------------------------------------------
# Distinct aggregates + conditional aggregation (count_if / sum-case).
# ---------------------------------------------------------------------------


@query(
    "distinct_and_conditional_agg",
    survey="D4,D-ext",
    oracle="""
SELECT l_returnflag,
       COUNT(DISTINCT l_suppkey) AS n_suppliers,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_high_disc,
       SUM(CASE WHEN l_tax > 0.04 THEN l_extendedprice ELSE 0 END) AS taxed_price
FROM lineitem
GROUP BY l_returnflag
""",
)
def distinct_and_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return t.lineitem.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count_if(F.col("l_discount") > 0.05).alias("n_high_disc"),
        F.sum(
            F.when(F.col("l_tax") > 0.04, F.col("l_extendedprice")).otherwise(0.0)
        ).alias("taxed_price"),
    )


# ---------------------------------------------------------------------------
# Percentiles (exact interpolated — matches PERCENTILE_CONT).
# ---------------------------------------------------------------------------


@query(
    "price_percentiles_by_brand",
    survey="D-ext",
    oracle="""
SELECT p_brand,
       PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY p_retailprice) AS median_price,
       PERCENTILE_CONT(0.9) WITHIN GROUP (ORDER BY p_retailprice) AS p90_price,
       MIN(p_retailprice) AS min_price,
       MAX(p_retailprice) AS max_price
FROM part
GROUP BY p_brand
""",
)
def price_percentiles_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand exact percentiles via FULLY-distributed selection,
    strategy auto-routed (`grouped_exact_quantiles_auto`): the max-
    group-size probe picks the per-key window sort while brand groups
    fit a task, and flips to range decomposition when they don't
    (n/|brands| rows at 100 TB — the single-buffer `percentile` OOM
    class no declared plan runs). No driver fan-in in either regime.
    min/max stay a plain hash aggregate; the ≤|brands|·2-row
    long-format quantile frame pivots wide and broadcasts back."""
    from ..operators.selection import grouped_exact_quantiles_auto

    t = Tables(spark, sf_dir)
    base = t.part.groupBy("p_brand").agg(
        F.min("p_retailprice").alias("min_price"),
        F.max("p_retailprice").alias("max_price"),
    )
    qdf = grouped_exact_quantiles_auto(
        t.part, ["p_brand"], "p_retailprice", [0.5, 0.9], n_parts=32,
        # the query owns the sliver persist across its own action, so
        # the selection runs lazily
        persisted_out=handles(spark, ("price_percentiles_by_brand",)),
        memo_key=f"price_percentiles_by_brand:{sf_dir}",
    )
    wide = qdf.groupBy("p_brand").agg(
        F.max(F.when(F.col("q") == 0.5, F.col("value"))).alias("median_price"),
        F.max(F.when(F.col("q") == 0.9, F.col("value"))).alias("p90_price"),
    )
    return base.join(F.broadcast(wide), "p_brand", "left").select(
        "p_brand", "median_price", "p90_price", "min_price", "max_price"
    )


@query(
    "per_customer_spend_quantiles",
    survey="D-ext",
    oracle="""
SELECT o_custkey,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY o_totalprice), 6)
           AS p50_spend,
       ROUND(PERCENTILE_CONT(0.9) WITHIN GROUP (ORDER BY o_totalprice), 6)
           AS p90_spend
FROM orders GROUP BY o_custkey
""",
)
def per_customer_spend_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HIGH-cardinality per-key exact quantiles — the shape the dict API
    refuses (its driver fan-in guard). Runs the WINDOW strategy
    (`operators/selection.grouped_exact_quantiles_window`): millions of
    small groups partition cleanly by key, so the optimal plan is ONE
    key-partitioned sort picking the ≤ 2·|qs| bracketing rows per group
    — no driver dict, no boundary metadata, same plan at 1k keys and
    10M keys. Pinned to the manual form deliberately: the shape (a
    per-key analytic — group size bounded by orders-per-customer) is
    known a priori, so `grouped_exact_quantiles_auto`'s max-group-size
    probe would only re-measure a known fact each run (+~50% at bench
    scale); the property test certifies the router lands here anyway.
    ROUND(…,6) on both sides absorbs last-ulp interpolation-order
    differences between engines."""
    from ..operators.selection import grouped_exact_quantiles_window

    t = Tables(spark, sf_dir)
    counts = t.orders.groupBy("o_custkey").agg(F.count("*").alias("n_orders"))
    qdf = grouped_exact_quantiles_window(
        t.orders, ["o_custkey"], "o_totalprice", [0.5, 0.9]
    )
    wide = qdf.groupBy("o_custkey").agg(
        F.round(F.max(F.when(F.col("q") == 0.5, F.col("value"))), 6).alias(
            "p50_spend"
        ),
        F.round(F.max(F.when(F.col("q") == 0.9, F.col("value"))), 6).alias(
            "p90_spend"
        ),
    )
    # LEFT join: a customer whose o_totalprice values are all NULL has no
    # quantile rows, but PERCENTILE_CONT semantics keep the key with NULL
    # p50/p90 (latent in this corpus — o_totalprice is non-null — but the
    # operator contract must not depend on that).
    return counts.join(wide, "o_custkey", "left").select(
        "o_custkey", "n_orders", "p50_spend", "p90_spend"
    )


# ---------------------------------------------------------------------------
# Per-group argmax (D2 generalized): top customer per nation by acctbal.
# ---------------------------------------------------------------------------


@query(
    "argmax_customer_per_nation",
    survey="D2,G3",
    oracle="""
SELECT n_name,
       MAX(c_acctbal) AS top_bal,
       (ARRAY_AGG(c_custkey ORDER BY c_acctbal DESC, c_custkey ASC))[1] AS top_custkey
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
""",
)
def argmax_customer_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.customer.join(F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.max("c_acctbal").alias("top_bal"),
            F.max_by(
                "c_custkey", F.struct(F.col("c_acctbal"), (-F.col("c_custkey")).alias("tb"))
            ).alias("top_custkey"),
        )
    )


# ---------------------------------------------------------------------------
# Ratio-of-total at relational scale (D3 shape on nations).
# ---------------------------------------------------------------------------


@query(
    "nation_revenue_share",
    survey="D3,D5",
    oracle="""
WITH rev AS (
    SELECT n_name, SUM(o_totalprice) AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
)
SELECT n_name, revenue,
       100.0 * revenue / (SELECT SUM(revenue) FROM rev) AS pct_of_total
FROM rev
""",
)
def nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped sum + share of grand total via broadcast of the 1-row total
    (no single-partition window — scale-safe)."""
    t = Tables(spark, sf_dir)
    rev = (
        t.orders.join(F.broadcast(t.customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum("o_totalprice").alias("revenue"))
    )
    total = rev.agg(F.sum("revenue").alias("grand_total"))
    return (
        rev.join(F.broadcast(total))
        .withColumn("pct_of_total", 100.0 * F.col("revenue") / F.col("grand_total"))
        .drop("grand_total")
    )


# ---------------------------------------------------------------------------
# Inline dimension (A8: the reference's in-code dicts as a VALUES dim).
# ---------------------------------------------------------------------------


@query(
    "inline_dim_join",
    survey="A8,E1",
    oracle="""
WITH segment_tier(seg, tier) AS (
    VALUES ('AUTOMOBILE', 'retail'), ('BUILDING', 'industrial'),
           ('FURNITURE', 'retail'), ('MACHINERY', 'industrial'),
           ('HOUSEHOLD', 'retail')
)
SELECT tier, COUNT(*) AS n_customers, SUM(c_acctbal) AS total_bal
FROM customer JOIN segment_tier ON c_mktsegment = seg
GROUP BY tier
""",
)
def inline_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    from ..localdf import local_rows_df

    dim = local_rows_df(
        spark,
        [
            ("AUTOMOBILE", "retail"),
            ("BUILDING", "industrial"),
            ("FURNITURE", "retail"),
            ("MACHINERY", "industrial"),
            ("HOUSEHOLD", "retail"),
        ],
        "seg string, tier string",
    )
    return (
        t.customer.join(F.broadcast(dim), F.col("c_mktsegment") == F.col("seg"))
        .groupBy("tier")
        .agg(F.count("*").alias("n_customers"), F.sum("c_acctbal").alias("total_bal"))
    )


# ---------------------------------------------------------------------------
# UNION ALL (bag semantics — vs F2's distinct union).
# ---------------------------------------------------------------------------


@query(
    "union_all_key_space",
    survey="F2,F-ext",
    oracle="""
SELECT key_kind, COUNT(*) AS n FROM (
    SELECT 'order' AS key_kind, o_custkey AS k FROM orders
    UNION ALL
    SELECT 'customer' AS key_kind, c_custkey AS k FROM customer
) GROUP BY key_kind
""",
)
def union_all_key_space(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    a = t.orders.select(F.lit("order").alias("key_kind"), F.col("o_custkey").alias("k"))
    b = t.customer.select(F.lit("customer").alias("key_kind"), F.col("c_custkey").alias("k"))
    return a.unionAll(b).groupBy("key_kind").agg(F.count("*").alias("n"))


# ---------------------------------------------------------------------------
# Correlated-style filter: customers whose every order is 'F' status (D6 on a
# join), expressed shuffle-once.
# ---------------------------------------------------------------------------


@query(
    "customers_all_orders_final",
    survey="D6,E7",
    oracle="""
SELECT o_custkey, COUNT(*) AS n_orders
FROM orders
GROUP BY o_custkey
HAVING BOOL_AND(o_orderstatus = 'F')
""",
)
def customers_all_orders_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.orders.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.every(F.col("o_orderstatus") == "F").alias("all_final"),
        )
        .where(F.col("all_final"))
        .drop("all_final")
    )
