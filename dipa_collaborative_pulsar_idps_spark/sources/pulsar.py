"""Pulsar (and Kafka-compatible) stream source/sink builders
(SURVEY.md §2 A5-A7).

The reference consumes/produces on Pulsar topics
(`persistent://public/standalone/1/mirai`, `update{i}`, `time{i}` —
DIPA_Controller.py:67-90) with a Shared subscription, 100 ms receive
timeout, async ZLib-compressed producers.

Spark mapping: the StreamNative `pulsar` DSv2 connector (or any
Kafka-API-compatible broker via the built-in `kafka` source). Connector
jars are not bundled in this container, so builders raise a clear error if
the format is unavailable; the rest of the engine is source-agnostic — every
pipeline takes a DataFrame, and tests inject the replay source instead
(streaming/replay.py). Empty-receive/ack semantics (I11/I12) map to empty
micro-batches + checkpointing natively.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.errors.exceptions.captured import CapturedException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class ConnectorUnavailable(RuntimeError):
    pass


#: What a missing streaming format raises: an unknown provider gives
#: ``DATA_SOURCE_NOT_FOUND`` (a ``SparkClassNotFoundException``, which
#: reaches Python as a ``Py4JJavaError``); a built-in name whose jar is not
#: deployed (``kafka``) gives an ``AnalysisException`` "Failed to find data
#: source".
_MISSING_FORMAT = (
    "Failed to find data source",
    "DATA_SOURCE_NOT_FOUND",
    "ClassNotFoundException",
)


def _has_format(spark: SparkSession, fmt: str) -> bool:
    """Whether streaming format *fmt* resolves on this session. An
    option-less load of a present format either raises nothing
    (``pulsarlite``, ``rate``) or a Spark error about the missing options
    (``IllegalArgumentException`` "'path' is not specified" for ``text``,
    as a connector raises for ``service.url``); an error that names no
    missing class means the format is there and the real load will report
    what is wrong."""
    try:
        spark.readStream.format(fmt).load()
    except (CapturedException, Py4JJavaError) as e:
        return not any(m in str(e) for m in _MISSING_FORMAT)
    return True


def pulsar_source_reader(
    spark: SparkSession,
    service_url: str,
    topics_pattern: str,
    *,
    fmt: str = "pulsar",
    starting_offsets: str = "latest",
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Subscribe to topic(s); returns (msg_ts, topic, value string).

    ``topics_pattern`` covers the reference's per-subnet `update{i}`/`time{i}`
    fan-in (A6) — the topic column carries the subnet key. ``latest`` matches
    the reference's live Shared subscription; replays/backfills pass
    ``earliest``. Integration-proven in the sandbox against the loopback
    broker (fmt='pulsarlite', sources/pulsarlite.py) — same options, same
    column surface as the Pulsar connector."""
    if not _has_format(spark, fmt):
        raise ConnectorUnavailable(
            f"streaming format {fmt!r} not on the classpath; add the connector "
            "jar (e.g. io.streamnative.connectors:pulsar-spark-connector) or "
            "use fmt='kafka' against a Kafka-compatible endpoint"
        )
    reader = (
        spark.readStream.format(fmt)
        .option("service.url", service_url)
        .option("topicsPattern", topics_pattern)
        .option("startingOffsets", starting_offsets)
    )
    for k, v in (options or {}).items():
        reader = reader.option(k, v)  # e.g. admin.url (2.x connectors), auth
    raw = reader.load()
    return raw.select(
        F.col("__publishTime").alias("msg_ts"),
        F.col("__topic").alias("topic"),
        F.col("value").cast("string").alias("value"),
    )


def pulsar_backfill_reader(
    spark: SparkSession,
    service_url: str,
    topics_pattern: str,
    *,
    fmt: str = "pulsar",
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Batch read of topics' full history — offline replay/analysis of the
    alert/update topics (same columns as the stream reader). With the real
    connector this is `spark.read.format('pulsar')` with
    startingOffsets=earliest; the loopback broker serves it from the topic
    logs (one partition per topic)."""
    reader = (
        spark.read.format(fmt)
        .option("service.url", service_url)
        .option("topicsPattern", topics_pattern)
        .option("startingOffsets", "earliest")
    )
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    raw = reader.load()
    return raw.select(
        F.col("__publishTime").alias("msg_ts"),
        F.col("__topic").alias("topic"),
        F.col("value").cast("string").alias("value"),
    )


def pulsar_sink_writer(
    df: DataFrame,
    service_url: str,
    topic: str,
    checkpoint: str,
    *,
    fmt: str = "pulsar",
    compression: str = "zlib",
    routing_mode: str = "RoundRobinPartition",
    max_pending: int = 500_000,
    options: dict[str, str] | None = None,
):
    """writeStream builder for an alert topic (A7), configured like the
    reference producer (DIPA_Controller.py:74-80): round-robin partition
    routing over partitioned topics and a 500k pending-message cap.
    Routing is BEHAVIOR-tested against the loopback broker (pulsarlite
    runs the RoundRobinPartition/key-hash/SinglePartition routers for
    real); the pending cap stays a connector option — it shapes the
    real client's async queue, a loopback staged-part writer has no
    queue to bound. Exactly-once-effective delivery comes from
    checkpointing + broker idempotence."""
    writer = (
        df.select(F.col("value").cast("binary").alias("value"))
        .writeStream.format(fmt)
        .option("service.url", service_url)
        .option("topic", topic)
        .option("pulsar.producer.compressionType", compression)
        .option("pulsar.producer.messageRoutingMode", routing_mode)
        .option("pulsar.producer.maxPendingMessages", str(max_pending))
        # the reference caps the ACROSS-partitions queue
        # (max_pending_messages_across_partitions=500000,
        # DIPA_Controller.py:78) — set both client knobs
        .option("pulsar.producer.maxPendingMessagesAcrossPartitions", str(max_pending))
        .option("checkpointLocation", checkpoint)
    )
    for k, v in (options or {}).items():
        writer = writer.option(k, v)
    return writer
