"""File-based stream sources for the telemetry formats the reference
exchanges (SURVEY.md §2 A5/A6 transport-agnostic form).

The reference's Pulsar payloads are bare UTF-8 strings (`"<ip>@BOT"`,
`"<src>@<port>@<rate>"` — DIPA_Controller.py:333-342, demo4.py:360-361);
any line-oriented transport carries them. These builders read the same
messages from files — text lines (the `@` convention) or JSON lines (the
declared-schema upgrade) — so every pipeline runs without a broker in
tests, air-gapped replays, and backfills. Swapping to the Pulsar/Kafka
connector is a one-line source change (sources/pulsar.py); the parse and
pipeline layers are identical.

Scale: Spark file streaming tracks seen files in the checkpoint; with
``maxFilesPerTrigger`` it paces backfills. Directories should be
date-partitioned so a 100 TB backlog lists incrementally, not in one
driver-side listing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions.parsing import parse_alert


def text_message_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """Stream of raw message lines: (value string) — the Pulsar consumer's
    `receive().decode('utf-8')` analogue (DIPA_Controller.py:367-368)."""
    r = spark.readStream
    if max_files_per_trigger is not None:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.text(path)


def alert_message_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """Text lines parsed to (ip, kind, pct) via the positional `@`
    convention — feed directly into ep2_collaboration after stamping
    msg_ts."""
    lines = text_message_stream(spark, path, max_files_per_trigger)
    parsed = parse_alert(F.col("value"))
    return lines.select(
        F.col("value"),
        parsed.getField("ip").alias("ip"),
        parsed.getField("kind").alias("kind"),
        parsed.getField("pct").alias("pct"),
    )


def json_lines_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """JSON-lines stream with a DECLARED schema — never schema inference,
    which at scale forces a full pre-scan and drifts across runs."""
    r = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.json(path)
