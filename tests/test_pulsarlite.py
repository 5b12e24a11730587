"""A5-A7 integration proof: the pulsar source/sink builders running END TO
END through Spark's streaming engine against the loopback `pulsarlite`
broker (sources/pulsarlite.py) — offset tracking, multi-topic
topicsPattern fan-in, staged producer commit, zlib payloads, replay
idempotence. The builders under test are the REAL ones
(`pulsar_source_reader` / `pulsar_sink_writer`); only the wire format
differs from a production broker.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dipa_collaborative_pulsar_idps_spark.sources import pulsarlite
from dipa_collaborative_pulsar_idps_spark.sources.pulsar import (
    ConnectorUnavailable,
    _has_format,
    pulsar_backfill_reader,
    pulsar_sink_writer,
    pulsar_source_reader,
)


@pytest.fixture()
def broker(spark, tmp_path):
    pulsarlite.register(spark)
    root = tmp_path / "broker"
    root.mkdir()
    return str(root)


def _drain(df, tmp_path, name):
    """Run an availableNow pass of a streaming df into a memory table and
    return the collected rows."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return df.sparkSession.table(name).collect()


def test_has_format_false_for_missing_format(spark):
    """An unknown streaming provider (DATA_SOURCE_NOT_FOUND from the JVM)
    reads as absent, and the source builder says so by name."""
    assert not _has_format(spark, "no_such_stream_format")
    with pytest.raises(ConnectorUnavailable, match="no_such_stream_format"):
        pulsar_source_reader(spark, "pulsar://x", "t", fmt="no_such_stream_format")


def test_has_format_true_for_optionless_pulsarlite_load(spark, broker):
    """An option-less load of the registered loopback format raises
    nothing, so the format reads as present."""
    assert _has_format(spark, "pulsarlite")


@pytest.mark.parametrize("fmt", ["text", "socket"])
def test_has_format_true_when_optionless_load_raises(spark, fmt):
    """A present format whose option-less load raises (``text``:
    IllegalArgumentException "'path' is not specified"; ``socket``:
    AnalysisException asking for a host) reads as present, the way a real
    connector that requires ``service.url`` must."""
    assert _has_format(spark, fmt)


def test_consume_seeded_topic_earliest(spark, broker, tmp_path):
    """A5: single-topic consume through pulsar_source_reader — values,
    topic column, publish timestamps all surface."""
    pulsarlite.seed_topic(broker, "mirai", ["10.0.0.2@BOT", "10.0.0.9@CNC"])
    stream = pulsar_source_reader(
        spark, f"pulsarlite://{broker}", "mirai",
        fmt="pulsarlite", starting_offsets="earliest",
    )
    rows = _drain(stream, tmp_path, "t_consume")
    assert sorted(r["value"] for r in rows) == ["10.0.0.2@BOT", "10.0.0.9@CNC"]
    assert {r["topic"] for r in rows} == {"mirai"}
    assert all(r["msg_ts"] is not None for r in rows)


def test_topics_pattern_multi_topic_fan_in(spark, broker, tmp_path):
    """A6: topicsPattern `update.*` reads update1+update2 but not time1;
    the topic column carries the subnet key (threaded_consumer.py:38-44)."""
    pulsarlite.seed_topic(broker, "update1", ["h1@23@40.0"])
    pulsarlite.seed_topic(broker, "update2", ["h2@23@40.0", "h3@80@9.0"])
    pulsarlite.seed_topic(broker, "time1", ["1700000000.0"])
    stream = pulsar_source_reader(
        spark, f"pulsarlite://{broker}", "update.*",
        fmt="pulsarlite", starting_offsets="earliest",
    )
    rows = _drain(stream, tmp_path, "t_fanin")
    by_topic = {}
    for r in rows:
        by_topic.setdefault(r["topic"], []).append(r["value"])
    assert set(by_topic) == {"update1", "update2"}
    assert len(by_topic["update2"]) == 2


def test_produce_consume_roundtrip_zlib(spark, broker, tmp_path):
    """A7: produce through pulsar_sink_writer (staged parts, driver commit,
    zlib compression honored on the wire) then consume back through
    pulsar_source_reader."""
    src = tmp_path / "outbox"
    src.mkdir()
    (src / "a.txt").write_text("10.0.0.2@BOT\n10.0.0.5@BOT\n")
    alerts = spark.readStream.text(str(src))
    q = (
        pulsar_sink_writer(
            alerts, f"pulsarlite://{broker}", "alerts",
            str(tmp_path / "ckpt_prod"), fmt="pulsarlite", compression="zlib",
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # zlib really on the wire: raw log lines carry codec "c":"zlib"
    log = os.path.join(broker, "alerts.jsonl")
    raw = open(log, encoding="ascii").read()
    assert '"c":"zlib"' in raw and "10.0.0.2@BOT" not in raw

    stream = pulsar_source_reader(
        spark, f"pulsarlite://{broker}", "alerts",
        fmt="pulsarlite", starting_offsets="earliest",
    )
    rows = _drain(stream, tmp_path, "t_roundtrip")
    assert sorted(r["value"] for r in rows) == ["10.0.0.2@BOT", "10.0.0.5@BOT"]


def test_producer_commit_replay_is_idempotent(spark, broker, tmp_path):
    """I12 at the transport layer: re-committing the same epoch (the
    restart-between-commit-and-checkpoint window) must not duplicate
    messages — the .commits marker dedupes."""
    w = pulsarlite.PulsarLiteStreamWriter(
        {"service.url": f"pulsarlite://{broker}", "topic": "alerts"}
    )

    class Row(dict):
        def __getitem__(self, k):  # pyspark Row-ish access used by write()
            return dict.__getitem__(self, k)

        def __contains__(self, k):
            return dict.__contains__(self, k)

    msg = w.write(iter([Row(value=b"10.0.0.2@BOT", __key=None)]))
    w.commit([msg], batchId=7)
    msg2 = w.write(iter([Row(value=b"10.0.0.2@BOT", __key=None)]))
    w.commit([msg2], batchId=7)  # replayed epoch: must be a no-op
    lines = open(os.path.join(broker, "alerts.jsonl"), encoding="ascii").read().splitlines()
    assert len(lines) == 1


def test_starting_offsets_latest_skips_history(spark, broker, tmp_path):
    """A5 semantics: `latest` (the reference's live Shared subscription)
    plans the initial offset at the current end of each topic."""
    pulsarlite.seed_topic(broker, "mirai", ["old1@BOT", "old2@BOT"])
    r = pulsarlite.PulsarLiteStreamReader(
        {"service.url": f"pulsarlite://{broker}", "topicspattern": "mirai"}
    )
    init = r.initialOffset()
    assert init == r.latestOffset() and init["mirai"] > 0
    pulsarlite.seed_topic(broker, "mirai", ["new@BOT"])
    parts = r.partitions(init, r.latestOffset())
    got = [v for p in parts for (_, _, _, v) in r.read(p)]
    assert got == [b"new@BOT"]


def test_ep2_end_to_end_through_pulsar_path(spark, broker, tmp_path):
    """EP2 through the broker transport (not the file twin): alert topic →
    pulsar_source_reader → ep2_collaboration → idempotent MitigationSink.
    Reprocessing the topic from scratch fires no duplicate actions."""
    from dipa_collaborative_pulsar_idps_spark.streaming.fixtures import hosts_dim
    from dipa_collaborative_pulsar_idps_spark.streaming.pipelines import ep2_collaboration
    from dipa_collaborative_pulsar_idps_spark.streaming.sinks import MitigationSink

    pulsarlite.seed_topic(
        broker, "mirai", ["10.0.0.2@BOT", "10.0.0.9@CNC", "10.0.0.2@BOT"]
    )

    def one_pass(name):
        stream = pulsar_source_reader(
            spark, f"pulsarlite://{broker}", "mirai",
            fmt="pulsarlite", starting_offsets="earliest",
        ).select("msg_ts", "topic", "value", F.lit("pulsarlite").alias("producer"))
        actions = ep2_collaboration(stream, hosts_dim(spark))
        sink = MitigationSink(str(tmp_path / "ledger"), key_cols=["action", "ip"])
        q = (
            actions.writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    one_pass("first")
    ledger = spark.read.parquet(str(tmp_path / "ledger"))
    assert ledger.select("__key").distinct().count() == 2

    one_pass("second")  # fresh checkpoint: full topic replay
    ledger2 = spark.read.parquet(str(tmp_path / "ledger"))
    assert ledger2.select("__key").distinct().count() == 2


def test_backfill_batch_read(spark, broker):
    """Offline replay: spark.read over the broker returns every message of
    every matching topic with its topic key — the batch twin of A5/A6."""
    pulsarlite.seed_topic(broker, "update1", ["h1@23@40.0", "h2@23@10.0"])
    pulsarlite.seed_topic(broker, "update2", ["h3@80@9.0"])
    df = pulsar_backfill_reader(
        spark, f"pulsarlite://{broker}", "update.*", fmt="pulsarlite"
    )
    rows = df.collect()
    assert len(rows) == 3
    assert {r["topic"] for r in rows} == {"update1", "update2"}


def test_ep4_global_view_through_pulsar_multi_topic(spark, broker, tmp_path):
    """EP4 riding the broker transport: per-subnet update{i} topics fan in
    via topicsPattern, vm derived from the topic name
    (threaded_consumer.py:38-44), chained windowed aggregates downstream.
    Two availableNow passes share one checkpoint, so this also proves
    offset recovery across restarts on the broker source: pass 1 ingests
    the data window, pass 2 ingests a later flush message whose event time
    closes the window and triggers the append-mode emission."""
    import datetime as dt

    from dipa_collaborative_pulsar_idps_spark.functions.parsing import parse_update
    from dipa_collaborative_pulsar_idps_spark.streaming.pipelines import ep4_global_view

    base_us = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    # two subnets inside window [00:00, 01:00): rates 100/200/300/400
    pulsarlite.seed_topic(broker, "update1", ["h1@23@100.0", "h2@23@200.0"], start_us=base_us)
    pulsarlite.seed_topic(broker, "update2", ["h3@80@300.0", "h4@80@400.0"], start_us=base_us)

    def one_pass(name):
        stream = pulsar_source_reader(
            spark, f"pulsarlite://{broker}", "update[0-9]+",
            fmt="pulsarlite", starting_offsets="earliest",
        )
        upd = parse_update(F.col("value"))
        updates = stream.select(
            F.col("msg_ts"),
            F.regexp_extract("topic", r"update(\d+)", 1).alias("vm"),
            upd.getField("src").alias("src"),
            upd.getField("dst_port").alias("port"),
            upd.getField("rate").alias("rate"),
        )
        gv = ep4_global_view(updates, window="1 hour", watermark="0 seconds")
        out = tmp_path / "ep4_out"

        def emit(batch_df, _bid):
            batch_df.write.mode("append").parquet(str(out))

        q = (
            gv.writeStream.foreachBatch(emit)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_ep4"))  # SHARED
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if not out.exists():
            return []
        return spark.read.parquet(str(out)).collect()

    assert one_pass("t_ep4_a") == []  # watermark not past window end yet

    # two flush batches (one per restart): batch N's events only advance the
    # watermark used by batch N+1, so the first flush raises the watermark
    # past 01:00 and the second triggers the closed-window emission.
    flush_us = base_us + 2 * 3600 * 1_000_000
    pulsarlite.seed_topic(broker, "update1", ["x@0@0.0"], start_us=flush_us)
    one_pass("t_ep4_b")
    pulsarlite.seed_topic(broker, "update1", ["x@0@0.0"], start_us=flush_us + 60_000_000)
    rows = [r for r in one_pass("t_ep4_c") if r["n_keys"] > 1]
    assert len(rows) == 1
    r = rows[0]
    assert r["n_keys"] == 4 and r["global_mean"] == 250.0
    assert abs(r["global_std"] - 111.803) < 0.001


def test_torn_append_never_yields_partial_record(spark, broker):
    """A reader planned while a producer is mid-append must clamp to the
    last complete line: the torn tail is invisible until its newline lands,
    then surfaces whole."""
    pulsarlite.seed_topic(broker, "mirai", ["10.0.0.2@BOT"])
    log = os.path.join(broker, "mirai.jsonl")
    # simulate a producer caught mid-write: append half a record, no newline
    full_line = pulsarlite.encode_message(b"10.0.0.9@CNC", None, "none", 1)
    with open(log, "a", encoding="ascii") as f:
        f.write(full_line[: len(full_line) // 2])
    r = pulsarlite.PulsarLiteStreamReader(
        {"service.url": f"pulsarlite://{broker}", "topicspattern": "mirai"}
    )
    end = r.latestOffset()
    vals = [v for p in r.partitions({}, end) for (_, _, _, v) in r.read(p)]
    assert vals == [b"10.0.0.2@BOT"]  # torn record excluded
    with open(log, "a", encoding="ascii") as f:  # writer finishes the line
        f.write(full_line[len(full_line) // 2 :] + "\n")
    vals2 = [v for p in r.partitions({}, r.latestOffset()) for (_, _, _, v) in r.read(p)]
    assert vals2 == [b"10.0.0.2@BOT", b"10.0.0.9@CNC"]


def test_torn_tail_longer_than_scan_window_does_not_regress_offset(spark, broker):
    """A torn tail line BIGGER than the 4 KiB backward-scan window must not
    make the reader forget the completed prefix: a single fixed-size peek
    would find no newline, report offset 0, and re-deliver the whole topic
    once the line completes."""
    pulsarlite.seed_topic(broker, "bigmsg", ["10.0.0.2@BOT"])
    log = os.path.join(broker, "bigmsg.jsonl")
    committed = pulsarlite._complete_size(log)
    assert committed > 0
    big = pulsarlite.encode_message(b"x" * 20_000, None, "none", 2)  # > 4 KiB encoded
    assert len(big) > 4096
    with open(log, "a", encoding="ascii") as f:  # producer mid-append, no newline
        f.write(big[:-1])
    r = pulsarlite.PulsarLiteStreamReader(
        {"service.url": f"pulsarlite://{broker}", "topicspattern": "bigmsg"}
    )
    end = r.latestOffset()
    assert end["bigmsg"] == committed, "offset regressed below the completed prefix"
    vals = [v for p in r.partitions({}, end) for (_, _, _, v) in r.read(p)]
    assert vals == [b"10.0.0.2@BOT"]
    with open(log, "a", encoding="ascii") as f:
        f.write(big[-1] + "\n")
    end2 = r.latestOffset()
    # consuming FROM the previous end (the committed prefix) yields only the
    # new message — nothing is re-delivered
    vals2 = [v for p in r.partitions(end, end2) for (_, _, _, v) in r.read(p)]
    assert vals2 == [b"x" * 20_000]


def test_latest_offset_is_monotonic_per_reader(spark, broker):
    """Even if the on-disk completed size regressed (e.g. a truncated
    window scan or FS hiccup), a reader never reports an offset below one
    it already returned."""
    pulsarlite.seed_topic(broker, "mono", ["a@BOT", "b@BOT"])
    r = pulsarlite.PulsarLiteStreamReader(
        {"service.url": f"pulsarlite://{broker}", "topicspattern": "mono"}
    )
    first = r.latestOffset()["mono"]
    r._watermarks["mono"] = first + 100  # simulate a higher previously-reported offset
    assert r.latestOffset()["mono"] == first + 100


def test_ep2_skips_malformed_messages(spark, broker, tmp_path):
    """Garbage on the alert topic (no '@', empty payload, unknown kind) must
    not crash the pipeline or fire actions — only well-formed alerts act."""
    from dipa_collaborative_pulsar_idps_spark.streaming.fixtures import hosts_dim
    from dipa_collaborative_pulsar_idps_spark.streaming.pipelines import ep2_collaboration
    from dipa_collaborative_pulsar_idps_spark.streaming.sinks import MitigationSink

    pulsarlite.seed_topic(
        broker,
        "mirai",
        ["garbage-no-delimiter", "", "10.0.0.7@FROB", "@@@", "10.0.0.2@BOT"],
    )
    stream = pulsar_source_reader(
        spark, f"pulsarlite://{broker}", "mirai",
        fmt="pulsarlite", starting_offsets="earliest",
    ).select("msg_ts", "topic", "value", F.lit("t").alias("producer"))
    # malformed/unknown messages surface as auditable IGNORE rows (never a
    # stream crash — parse_alert is ANSI-null-safe); the mitigation sink
    # receives only actionable rows
    actions = ep2_collaboration(stream, hosts_dim(spark)).where(
        F.col("action") != "IGNORE"
    )
    sink = MitigationSink(str(tmp_path / "ledger"), key_cols=["action", "ip"])
    q = (
        actions.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_mal"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    ledger = spark.read.parquet(str(tmp_path / "ledger"))
    keys = {r["__key"] for r in ledger.select("__key").collect()}
    assert len(keys) == 1 and any("10.0.0.2" in k for k in keys)


def test_literal_topic_option_is_not_a_regex(tmp_path):
    """The `topic` option is the connector's LITERAL-name option: a name
    containing regex metachars ('.', '+') must match exactly and never
    over-match lookalike topics ('.' as any-char); `topicsPattern` stays a
    real regex."""
    from dipa_collaborative_pulsar_idps_spark.sources.pulsarlite import (
        PulsarLiteStreamReader,
        seed_topic,
    )

    root = str(tmp_path / "broker")
    literal = "persistent://t/ns.prod/update+1"
    lookalike = "persistent://t/nsXprod/update1"
    seed_topic(root, literal, ["a"])
    seed_topic(root, lookalike, ["b"])

    r = PulsarLiteStreamReader({"service.url": root, "topic": literal})
    assert r._topics() == [literal]

    rx = PulsarLiteStreamReader(
        {"service.url": root, "topicspattern": "persistent://t/ns.prod/.*"}
    )
    assert set(rx._topics()) == {literal, lookalike}  # regex semantics intact


class _Row(dict):
    """pyspark Row-ish access used by PulsarLiteStreamWriter.write()."""

    def __getitem__(self, k):
        return dict.__getitem__(self, k)

    def __contains__(self, k):
        return dict.__contains__(self, k)


def test_partitioned_topic_round_robin_end_to_end(spark, broker, tmp_path):
    """A7 partitioned topics (DIPA_Controller.py:74-80): a producer
    targeting a 3-partition topic round-robins keyless messages across the
    internal `-partition-i` logs, each partition preserves publish order,
    and a consumer subscribing to the BASE name fans all partitions in."""
    pulsarlite.create_partitioned_topic(broker, "alerts", 3)
    src = tmp_path / "outbox"
    src.mkdir()
    (src / "a.txt").write_text("".join(f"m{i:03d}\n" for i in range(300)))
    alerts = spark.readStream.text(str(src))
    q = (
        pulsar_sink_writer(
            alerts, f"pulsarlite://{broker}", "alerts",
            str(tmp_path / "ckpt_part"), fmt="pulsarlite", compression="none",
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # round-robin distribution: one source file = one task, so the split
    # is exact; per-partition wire order must equal publish order
    for i in range(3):
        log = os.path.join(broker, f"alerts-partition-{i}.jsonl")
        vals = [
            pulsarlite.decode_message(line)[2].decode()
            for line in open(log, encoding="ascii").read().splitlines()
        ]
        assert len(vals) == 100, f"partition {i} not balanced: {len(vals)}"
        assert vals == sorted(vals), f"partition {i} order broken"
        assert all(int(v[1:]) % 3 == i for v in vals)

    # consumer fan-in on the BASE topic name
    stream = pulsar_source_reader(
        spark, f"pulsarlite://{broker}", "alerts",
        fmt="pulsarlite", starting_offsets="earliest",
    )
    rows = _drain(stream, tmp_path, "t_part_fanin")
    assert len(rows) == 300
    assert {r["topic"] for r in rows} == {
        f"alerts-partition-{i}" for i in range(3)
    }


def test_partitioned_topic_keyed_and_single_routing(spark, broker, tmp_path):
    """Pulsar router semantics beyond round-robin: keyed messages hash to a
    FIXED partition (per-key order = per-partition order), SinglePartition
    sends every keyless message of the producer to one partition, and the
    epoch commit marker stays idempotent across ALL partition logs."""
    pulsarlite.create_partitioned_topic(broker, "keyed", 4)
    w = pulsarlite.PulsarLiteStreamWriter(
        {"service.url": f"pulsarlite://{broker}", "topic": "keyed"}
    )
    rows = [_Row(value=f"k{i % 5}:{i}".encode(), __key=f"k{i % 5}") for i in range(40)]
    msg = w.write(iter(rows))
    w.commit([msg], batchId=1)

    key_part: dict[str, set[int]] = {}
    for i in range(4):
        log = os.path.join(broker, f"keyed-partition-{i}.jsonl")
        for line in open(log, encoding="ascii").read().splitlines():
            key, _, value = pulsarlite.decode_message(line)
            key_part.setdefault(key, set()).add(i)
    assert set(key_part) == {f"k{j}" for j in range(5)}
    assert all(len(ps) == 1 for ps in key_part.values()), key_part

    # replayed epoch: no partition log grows
    sizes = [
        os.path.getsize(os.path.join(broker, f"keyed-partition-{i}.jsonl"))
        for i in range(4)
    ]
    msg2 = w.write(iter(rows))
    w.commit([msg2], batchId=1)
    assert sizes == [
        os.path.getsize(os.path.join(broker, f"keyed-partition-{i}.jsonl"))
        for i in range(4)
    ]

    pulsarlite.create_partitioned_topic(broker, "single", 4)
    ws = pulsarlite.PulsarLiteStreamWriter(
        {
            "service.url": f"pulsarlite://{broker}",
            "topic": "single",
            "pulsar.producer.messageroutingmode": "SinglePartition".lower(),
        }
    )
    ws.commit([ws.write(iter(_Row(value=f"m{i}".encode(), __key=None) for i in range(12)))], batchId=1)
    occupied = [
        i
        for i in range(4)
        if os.path.getsize(os.path.join(broker, f"single-partition-{i}.jsonl")) > 0
    ]
    assert len(occupied) == 1


def test_plain_topic_unaffected_by_partition_machinery(spark, broker, tmp_path):
    """A topic WITHOUT partition metadata keeps the single-log behavior:
    producer writes one log, consumer subscribes to the literal name."""
    w = pulsarlite.PulsarLiteStreamWriter(
        {"service.url": f"pulsarlite://{broker}", "topic": "plain"}
    )
    w.commit([w.write(iter([_Row(value=b"x", __key=None)]))], batchId=0)
    assert os.path.exists(os.path.join(broker, "plain.jsonl"))
    assert not os.path.exists(os.path.join(broker, "plain-partition-0.jsonl"))


def test_partitioned_sink_checkpoint_restart_no_duplicates(spark, broker, tmp_path):
    """I12 × A7: a partitioned-topic producer resumed from its checkpoint
    processes ONLY new input — across a stop/start cycle no partition log
    gains a duplicate, and the base-name consumer sees exactly the union."""
    pulsarlite.create_partitioned_topic(broker, "alerts", 3)
    src = tmp_path / "outbox"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt_restart")

    def run_once():
        q = (
            pulsar_sink_writer(
                spark.readStream.text(str(src)), f"pulsarlite://{broker}",
                "alerts", ckpt, fmt="pulsarlite", compression="none",
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    (src / "a.txt").write_text("".join(f"a{i:03d}\n" for i in range(90)))
    run_once()
    (src / "b.txt").write_text("".join(f"b{i:03d}\n" for i in range(60)))
    run_once()  # restart from checkpoint: must append ONLY b*

    seen = []
    for i in range(3):
        log = os.path.join(broker, f"alerts-partition-{i}.jsonl")
        seen += [
            pulsarlite.decode_message(line)[2].decode()
            for line in open(log, encoding="ascii").read().splitlines()
        ]
    assert len(seen) == 150 and len(set(seen)) == 150  # no dups anywhere
    assert sorted(seen) == sorted(
        [f"a{i:03d}" for i in range(90)] + [f"b{i:03d}" for i in range(60)]
    )

    stream = pulsar_source_reader(
        spark, f"pulsarlite://{broker}", "alerts",
        fmt="pulsarlite", starting_offsets="earliest",
    )
    rows = _drain(stream, tmp_path, "t_part_restart")
    assert len(rows) == 150
