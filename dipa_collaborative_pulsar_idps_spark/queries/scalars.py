"""Scalar-function surface (SURVEY.md §2 J rows): the reference's string /
date / math repertoire as declared queries, incl. the `@`-delimited Pulsar
message convention (DIPA_Controller.py:333-342,367-373) round-tripped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..memo import handles
from ..tables import Tables
from .registry import query

# ---------------------------------------------------------------------------
# J1/J3/J4: build "<ip>@<KIND>" alert payloads, then parse them back —
# the exact producer/consumer convention of the alert topic.
# ---------------------------------------------------------------------------


@query(
    "alert_message_roundtrip",
    survey="J1,J3,J9,B13",
    oracle="""
WITH msgs AS (
    SELECT event_id,
           printf('10.0.0.%d@%s', CAST(user_id % 8 + 1 AS INTEGER), UPPER(event_type)) AS payload
    FROM events
)
SELECT event_id, payload,
       STRING_SPLIT(payload, '@')[1] AS ip,
       STRING_SPLIT(payload, '@')[2] AS kind,
       STARTS_WITH(payload, '10.0.0.1@') AS from_host1,
       CONTAINS(payload, 'ERROR') AS is_error
FROM msgs
""",
)
def alert_message_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    payload = F.format_string(
        "10.0.0.%d@%s", (F.col("user_id") % 8 + 1).cast("int"), F.upper("event_type")
    )
    d = t.events.select("event_id", payload.alias("payload"))
    return d.select(
        "event_id",
        "payload",
        F.split("payload", "@").getItem(0).alias("ip"),
        F.split("payload", "@").getItem(1).alias("kind"),
        F.col("payload").startswith("10.0.0.1@").alias("from_host1"),
        F.col("payload").contains("ERROR").alias("is_error"),
    )


# ---------------------------------------------------------------------------
# J2: strip-braces/quotes parse (demo3.py:332-337 "{*/\}" cleanup) on the
# JSON props column, then extract the numeric field both ways.
# ---------------------------------------------------------------------------


@query(
    "props_strip_and_json",
    survey="J2,J11,ext-json",
    oracle="""
SELECT event_id,
       TRANSLATE(props, '{}" ', '') AS stripped,
       CAST(STRING_SPLIT(TRANSLATE(props, '{}" ', ''), ':')[2] AS INTEGER) AS k_parsed,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_json
FROM events
""",
)
def props_strip_and_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional string parse (the reference's way) vs from_json (the
    engine's declared upgrade) — both exposed, equality is the test."""
    t = Tables(spark, sf_dir)
    stripped = F.translate("props", '{}" ', "")
    return t.events.select(
        "event_id",
        stripped.alias("stripped"),
        F.split(stripped, ":").getItem(1).cast("int").alias("k_parsed"),
        F.get_json_object("props", "$.k").cast("int").alias("k_json"),
    )


# ---------------------------------------------------------------------------
# J5/J6/J7: timestamp format/parse round-trip + sub-second duration.
# ---------------------------------------------------------------------------


@query(
    "timestamp_roundtrip",
    survey="J5,J7,I9",
    oracle="""
SELECT event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
       strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S') AS ts_parsed,
       (epoch_us(ts) - epoch_us(strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S')))
           / 1e6 AS subsec_s
FROM events
""",
)
def timestamp_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    s = F.date_format("ts", "yyyy-MM-dd HH:mm:ss")
    parsed = F.to_timestamp(s, "yyyy-MM-dd HH:mm:ss").cast("timestamp_ntz")
    sub = (
        F.unix_micros(F.col("ts").cast("timestamp"))
        - F.unix_micros(parsed.cast("timestamp"))
    ) / 1e6
    return t.events.select(
        "event_id",
        s.alias("ts_str"),
        parsed.alias("ts_parsed"),
        sub.alias("subsec_s"),
    )


# ---------------------------------------------------------------------------
# J8: char-extraction host mapping (Controller1.py:469 MAC→host name).
# ---------------------------------------------------------------------------


@query(
    "char_extract_mapping",
    survey="J8,J12",
    oracle="""
SELECT doc_id, source,
       UPPER(SUBSTRING(source, 4, 1)) AS host_char,
       CONCAT('H', SUBSTRING(source, 4, 10)) AS host_name,
       LENGTH(source) * 2 + 1 AS derived_len
FROM documents
""",
)
def char_extract_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return t.documents.select(
        "doc_id",
        "source",
        F.upper(F.substring("source", 4, 1)).alias("host_char"),
        F.concat(F.lit("H"), F.substring("source", 4, 10)).alias("host_name"),
        (F.length("source") * 2 + 1).alias("derived_len"),
    )


# ---------------------------------------------------------------------------
# J15: host-universe generation — spark.range + format_string
# (DIPA_Controller.py:59-60 '10.0.0.{}'.format(i)).
# ---------------------------------------------------------------------------


@query(
    "host_universe",
    survey="J15,J14,A8",
    oracle="""
SELECT i AS host_idx, printf('10.0.0.%d', CAST(i AS INTEGER)) AS host_ip
FROM generate_series(1, 8) t(i)
""",
)
def host_universe(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.range(1, 9).select(
        F.col("id").alias("host_idx"),
        F.format_string("10.0.0.%d", F.col("id").cast("int")).alias("host_ip"),
    )


# ---------------------------------------------------------------------------
# ext-json: from_json into typed struct + aggregate over extracted field.
# ---------------------------------------------------------------------------


@query(
    "json_props_agg",
    survey="ext-json,D1",
    oracle="""
SELECT event_type,
       AVG(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS avg_k,
       MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k,
       COUNT(*) AS n
FROM events
GROUP BY event_type
""",
)
def json_props_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    k = F.from_json("props", "k INT").getField("k")
    return t.events.groupBy("event_type").agg(
        F.avg(k).alias("avg_k"), F.max(k).alias("max_k"), F.count("*").alias("n")
    )


@query(
    "variant_props_metrics",
    survey="ext-json,D1",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(json_extract(props, '$.k')) AS BIGINT) AS n_with_k,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
       ROUND(PERCENTILE_CONT(0.5) WITHIN GROUP (
           ORDER BY CAST(json_extract_string(props, '$.k') AS INTEGER)), 4) AS p50_k
FROM events
GROUP BY event_type
""",
)
def variant_props_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured metrics through Spark 4's VARIANT type: ``props``
    is parsed ONCE into the binary variant encoding and every field
    access is a typed offset read (`try_variant_get`) — the scale answer
    to repeated `get_json_object`/`from_json` calls, each of which
    re-parses the string per access (at 100 TB, per-access re-parsing of
    a k-field struct multiplies scan CPU by the field count). Malformed
    documents become NULL variants instead of task failures
    (`try_parse_json`), mirroring the engine's ANSI-safe parsing stance
    (I11). The oracle reads the same JSON with DuckDB's json_extract.
    The median of the extracted field runs through FULLY-distributed
    selection, strategy chosen by the r6 auto router
    (`grouped_exact_quantiles_auto`: max-group-size probe → per-key
    window sort here at test scale, range decomposition when a group
    outgrows a task — a few-group exact `percentile` buffers n/|groups|
    values in one task at scale, and there is no driver dict either);
    a group whose documents all lack `k` keeps its NULL median via the
    left join, matching PERCENTILE_CONT over zero rows."""
    from ..operators.selection import grouped_exact_quantiles_auto

    # the query owns its persists (the parsed variant sliver and the
    # selection's vals sliver) across its own action, so everything below
    # runs lazily; an eager base pin plus a pinned selection were the
    # dominant per-invocation build cost
    persists = handles(spark, ("variant_props_metrics",))
    t = Tables(spark, sf_dir)
    v = F.try_parse_json("props")
    k = F.try_variant_get(v, "$.k", "int")
    # ONE variant parse serves everything: the projected (group, k)
    # frame is persisted and feeds the base aggregates AND the selection
    # passes (boundary sample + range counts) — re-deriving the parse in
    # each consumer would multiply the dominant cost of this query. The
    # int sum is exact through the double projection (|k| ≪ 2^53). The
    # routing probe inside the auto router fills both caches (its vals
    # sliver nests this frame's scan), so the base aggregate and the
    # selection read cached rows at action time — no re-parse.
    kd = t.events.select("event_type", k.alias("ki")).persist()
    persists.append(kd)
    base = kd.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("ki").alias("n_with_k"),
        F.sum("ki").cast("long").alias("sum_k"),
    )
    qdf = grouped_exact_quantiles_auto(
        kd.select("event_type", F.col("ki").cast("double").alias("kv")),
        ["event_type"],
        "kv",
        [0.5],
        n_parts=32,
        persisted_out=persists,
        memo_key=f"variant_props_metrics:{sf_dir}",
    )
    p50 = qdf.groupBy("event_type").agg(
        F.max(F.col("value")).alias("p50_raw")  # single q=0.5 row per group
    )
    return base.join(F.broadcast(p50), "event_type", "left").select(
        "event_type",
        "n",
        "n_with_k",
        "sum_k",
        F.round("p50_raw", 4).alias("p50_k"),
    )
