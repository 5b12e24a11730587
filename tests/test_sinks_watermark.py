"""Mitigation-sink idempotency (I12/A10) and event-time watermark semantics
(SURVEY.md §2.I: late rows beyond watermark dropped — documented divergence
from the reference, which would silently mis-bin them)."""

from __future__ import annotations

import datetime as dt
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from dipa_collaborative_pulsar_idps_spark.localdf import local_rows_df
from dipa_collaborative_pulsar_idps_spark.streaming.replay import (
    replay_stream,
    run_to_memory,
    write_replay_chunks,
)
from dipa_collaborative_pulsar_idps_spark.streaming.sinks import MitigationSink

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


@pytest.fixture()
def tmpdirs():
    ds = [tempfile.mkdtemp(prefix="dipa_t_") for _ in range(3)]
    yield ds
    for d in ds:
        shutil.rmtree(d, ignore_errors=True)


def test_mitigation_sink_idempotent(spark, tmpdirs):
    ledger, _, _ = tmpdirs
    applied = []
    sink = MitigationSink(
        ledger_path=f"{ledger}/ledger",
        key_cols=["action", "ip"],
        apply_fn=lambda rows: applied.extend((r["action"], r["ip"]) for r in rows),
    )
    b1 = local_rows_df(
        spark,
        [("BLOCK", "10.0.0.2"), ("BLOCK", "10.0.0.5")],
        "action string, ip string",
    )
    sink(b1, 0)
    assert sorted(applied) == [("BLOCK", "10.0.0.2"), ("BLOCK", "10.0.0.5")]
    # replay of the same batch (at-least-once delivery) → no re-application
    sink(b1, 1)
    assert len(applied) == 2
    # a new action for a known target still applies
    sink(local_rows_df(spark, [("RATE_LIMIT", "10.0.0.2")], "action string, ip string"), 2)
    assert ("RATE_LIMIT", "10.0.0.2") in applied and len(applied) == 3


def test_mitigation_sink_null_safe_keys(spark, tmpdirs):
    """Two actions differing only in a NULL key column must NOT collide on
    one idempotency key (concat_ws silently drops nulls without the
    sentinel), and both must be applied."""
    ledger, _, _ = tmpdirs
    applied = []
    sink = MitigationSink(
        ledger_path=f"{ledger}/ledger",
        key_cols=["action", "ip", "port"],
        apply_fn=lambda rows: applied.extend((r["action"], r["ip"], r["port"]) for r in rows),
    )
    b = spark.createDataFrame(
        [("BLOCK", "10.0.0.2", None), ("BLOCK", "10.0.0.2", 23)],
        "action string, ip string, port int",
    )
    sink(b, 0)
    assert len(applied) == 2
    sink(b, 1)  # replay → still 2
    assert len(applied) == 2


def test_mitigation_ledger_file_count_bounded(spark, tmpdirs):
    """Many appended batches must not grow the ledger one-file-per-batch:
    periodic per-bucket compaction keeps the parquet file count bounded,
    and idempotency survives compaction."""
    import glob

    ledger, _, _ = tmpdirs
    applied = []
    sink = MitigationSink(
        ledger_path=f"{ledger}/ledger",
        key_cols=["action", "ip"],
        apply_fn=lambda rows: applied.extend(r["__key"] for r in rows),
        n_buckets=2,
        compact_every=3,
    )
    n_batches = 12
    for b in range(n_batches):
        sink(
            local_rows_df(spark, [("BLOCK", f"10.0.0.{b}")], "action string, ip string"),
            b,
        )
    assert len(applied) == n_batches
    # replay every batch → nothing re-applied
    for b in range(n_batches):
        sink(
            local_rows_df(spark, [("BLOCK", f"10.0.0.{b}")], "action string, ip string"),
            100 + b,
        )
    assert len(applied) == n_batches
    files = glob.glob(f"{ledger}/ledger/bucket=*/*.parquet")
    assert len(files) < n_batches, f"ledger not compacted: {len(files)} files"
    # ledger still complete after compaction
    keys = {r["__key"] for r in spark.read.parquet(f"{ledger}/ledger").collect()}
    assert len(keys) == n_batches


def test_mitigation_sink_driver_cap_fails_loudly(spark, tmpdirs):
    """A hot batch above max_driver_rows must raise on the driver-side
    apply_fn path (instead of silently collecting it), and must NOT ledger
    the batch — a retry with a bigger cap still applies every action."""
    ledger, _, _ = tmpdirs
    applied = []
    sink = MitigationSink(
        ledger_path=f"{ledger}/ledger",
        key_cols=["action", "ip"],
        apply_fn=lambda rows: applied.extend(r["__key"] for r in rows),
        max_driver_rows=5,
    )
    hot = local_rows_df(
        spark,
        [("BLOCK", f"10.0.0.{i}") for i in range(20)],
        "action string, ip string",
    )
    with pytest.raises(RuntimeError, match="max_driver_rows"):
        sink(hot, 0)
    assert not applied and not sink.applied_batches
    sink.max_driver_rows = 100  # operator raised the cap → replay applies all
    sink(hot, 1)
    assert len(applied) == 20


def _ledger_keys(spark, path):
    return [r["__key"] for r in spark.read.parquet(path).collect()]


def test_mitigation_sink_foreach_partition_path(spark, tmpdirs, tmp_path):
    """apply_partition_fn applies on the executors (no driver collect, no
    row cap) with the same idempotency contract across replays; a key that
    appears three times in the batch, spread over partitions, is applied
    and ledgered once."""
    ledger, _, _ = tmpdirs
    out = tmp_path / "applied"
    out.mkdir()
    out_dir = str(out)

    def apply_slice(rows):
        # executor-side: record each applied key durably (unique file per task)
        import os
        import uuid

        if rows:
            with open(os.path.join(out_dir, uuid.uuid4().hex), "w") as f:
                f.writelines(r["__key"] + "\n" for r in rows)

    sink = MitigationSink(
        ledger_path=f"{ledger}/ledger",
        key_cols=["action", "ip"],
        apply_partition_fn=apply_slice,
        max_driver_rows=1,  # must be irrelevant on this path
    )
    b = local_rows_df(
        spark,
        [("BLOCK", f"10.0.0.{i}") for i in range(50)] + [("BLOCK", "10.0.0.7")] * 2,
        "action string, ip string",
    ).repartition(4)
    sink(b, 0)

    def applied_keys():
        keys = []
        for p in out.iterdir():
            keys += p.read_text().splitlines()
        return keys

    assert len(applied_keys()) == 50 and len(set(applied_keys())) == 50
    assert len(_ledger_keys(spark, f"{ledger}/ledger")) == 50
    sink(b, 1)  # at-least-once replay → anti-join suppresses everything
    assert len(applied_keys()) == 50
    with pytest.raises(ValueError, match="not both"):
        MitigationSink(f"{ledger}/l2", ["k"], apply_fn=print, apply_partition_fn=print)


def test_mitigation_sink_dedupes_within_batch_driver_path(spark, tmpdirs):
    """A key that appears twice in ONE micro-batch is applied once and
    ledgered once on the driver-side apply_fn path."""
    ledger, _, _ = tmpdirs
    applied = []
    sink = MitigationSink(
        ledger_path=f"{ledger}/ledger",
        key_cols=["action", "ip"],
        apply_fn=applied.extend,
    )
    b = local_rows_df(
        spark,
        [("BLOCK", "10.7.7.7"), ("BLOCK", "10.7.7.7"), ("BLOCK", "10.7.7.8")],
        "action string, ip string",
    )
    sink(b, 0)
    assert sorted(r["ip"] for r in applied) == ["10.7.7.7", "10.7.7.8"]
    assert sorted(_ledger_keys(spark, f"{ledger}/ledger")) == [
        "BLOCK§10.7.7.7",
        "BLOCK§10.7.7.8",
    ]


def test_mitigation_sink_dedupes_within_batch_ledger_only(spark, tmpdirs):
    """The ledger-only mode (neither fn) also ledgers an in-batch
    duplicate key once."""
    ledger, _, _ = tmpdirs
    sink = MitigationSink(f"{ledger}/ledger", ["action", "ip"])
    b = local_rows_df(
        spark,
        [("BLOCK", "10.7.7.7")] * 3 + [("BLOCK", "10.7.7.8")],
        "action string, ip string",
    ).repartition(4)
    sink(b, 0)
    assert sorted(_ledger_keys(spark, f"{ledger}/ledger")) == [
        "BLOCK§10.7.7.7",
        "BLOCK§10.7.7.8",
    ]


def test_mitigation_sink_driver_path_job_count(spark, tmpdirs):
    """With a ledger on disk and the key set warm, a driver-side call is
    one collect of the batch plus one ledger append: at most 3 Spark jobs
    when it applies a new action, at most 2 for a pure replay (the ledger
    is not re-read). Jobs are counted in a statusTracker job group."""
    ledger, _, _ = tmpdirs
    applied = []
    sink = MitigationSink(f"{ledger}/ledger", ["action", "ip"], apply_fn=applied.extend)
    sink(spark.createDataFrame([("BLOCK", "192.0.2.1")], ["action", "ip"]), 0)
    wave = spark.createDataFrame(
        [("BLOCK", f"10.0.{i // 250}.{i % 250}") for i in range(500)], ["action", "ip"]
    )
    sc = spark.sparkContext

    def jobs(df, batch_id):
        group = f"mitigation_sink:{batch_id}"
        sc.setJobGroup(group, group)
        try:
            sink(df, batch_id)
        finally:
            sc.setJobGroup("idle", "")
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs(wave, 1) <= 3
    assert len(applied) == 501
    assert jobs(wave, 2) <= 2
    assert len(applied) == 501


@pytest.mark.parametrize("writer", ["distributed", "driver"])
def test_mitigation_ledger_shared_between_paths(spark, tmpdirs, writer):
    """A ledger written by one path is read by a fresh instance of the
    other: replays are suppressed both ways, and the on-disk layout
    (``bucket=<b>/`` directories, one ``__key`` column) is the same."""
    import glob

    ledger, _, _ = tmpdirs
    path = f"{ledger}/ledger"
    b = local_rows_df(
        spark,
        [("BLOCK", f"10.0.0.{i}") for i in range(6)],
        "action string, ip string",
    )
    applied = []

    def driver_sink():
        return MitigationSink(path, ["action", "ip"], apply_fn=applied.extend)

    def distributed_sink():  # ledger-only mode: the distributed path
        return MitigationSink(path, ["action", "ip"])

    first, second = (
        (distributed_sink, driver_sink)
        if writer == "distributed"
        else (driver_sink, distributed_sink)
    )
    first()(b, 0)
    assert glob.glob(f"{path}/bucket=*/*.parquet")
    assert spark.read.parquet(path).columns == ["__key", "bucket"]
    n_applied = len(applied)
    second()(b, 1)  # replay through a fresh instance of the other path
    assert len(applied) == n_applied
    assert len(_ledger_keys(spark, path)) == 6
    new = local_rows_df(spark, [("BLOCK", "10.0.0.99")], "action string, ip string")
    second()(new, 2)
    assert sorted(_ledger_keys(spark, path)) == sorted(
        [f"BLOCK§10.0.0.{i}" for i in range(6)] + ["BLOCK§10.0.0.99"]
    )


def test_watermark_drops_late_rows(spark, tmpdirs):
    """Windowed count with a 10 s watermark: a row arriving after the
    watermark has passed its window is dropped."""
    _, replay_dir, _ = tmpdirs
    import time

    # three micro-batches: (1) events through ts=80 → watermark will move to
    # 70; (2) ts=90 → the [0,10) window (count 2) is finalized+emitted and
    # its state evicted; (3) a late ts=2 row — beyond watermark → dropped.
    batches = [
        [(T0 + dt.timedelta(seconds=s), "a") for s in (0, 5, 20, 40, 60, 80)],
        [(T0 + dt.timedelta(seconds=90), "a")],
        [(T0 + dt.timedelta(seconds=2), "late")],
    ]
    for rows_ in batches:
        spark.createDataFrame(rows_, ["ts", "tag"]).coalesce(1).write.mode(
            "append"
        ).parquet(replay_dir)
        time.sleep(0.05)
    stream = replay_stream(spark, replay_dir, "ts timestamp, tag string")
    counts = (
        stream.withWatermark("ts", "10 seconds")
        .groupBy(F.window("ts", "10 seconds").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("bucket"), "n")
    )
    run_to_memory(counts, "wm_counts", output_mode="append")
    rows = [
        (r.bucket, r.n)
        for r in spark.sql("SELECT * FROM wm_counts WHERE bucket = TIMESTAMP '2024-01-01 00:00:00'").collect()
    ]
    # exactly one emission of the [0,10) window, with the late row dropped —
    # not 3, and no duplicate/spurious second row for the same window
    assert rows == [(T0, 2)]


def test_file_message_sources_roundtrip(spark, tmp_path):
    """A5/A6 transport-agnostic: the same @-messages the Pulsar topics carry,
    streamed from text files and parsed; JSON-lines with declared schema."""
    import json

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from dipa_collaborative_pulsar_idps_spark.sources.files import (
        alert_message_stream,
        json_lines_stream,
    )
    from dipa_collaborative_pulsar_idps_spark.streaming.replay import run_to_memory

    tdir = tmp_path / "alerts_txt"
    tdir.mkdir()
    (tdir / "m0.txt").write_text("10.0.0.5@BOT\n10.0.0.4@CNC\n")
    (tdir / "m1.txt").write_text("10.0.0.4@62.5\n")
    q = run_to_memory(alert_message_stream(spark, str(tdir)), "file_alerts")
    rows = {(r.ip, r.kind, r.pct) for r in spark.table("file_alerts").collect()}
    q.stop()
    assert rows == {
        ("10.0.0.5", "BOT", None),
        ("10.0.0.4", "CNC", None),
        ("10.0.0.4", "COMPROMISE", 62.5),
    }

    jdir = tmp_path / "updates_json"
    jdir.mkdir()
    schema = StructType(
        [
            StructField("src", StringType(), False),
            StructField("dst_port", LongType(), False),
            StructField("rate", LongType(), False),
        ]
    )
    recs = [
        {"src": "10.0.0.7", "dst_port": 23, "rate": 120},
        {"src": "10.0.0.8", "dst_port": 2323, "rate": 4},
    ]
    (jdir / "u0.json").write_text("\n".join(json.dumps(r) for r in recs))
    q2 = run_to_memory(json_lines_stream(spark, str(jdir), schema), "file_updates")
    got = {(r.src, r.dst_port, r.rate) for r in spark.table("file_updates").collect()}
    q2.stop()
    assert got == {("10.0.0.7", 23, 120), ("10.0.0.8", 2323, 4)}


def test_summary_sink_streaming_mv(spark, tmpdirs):
    """Streaming materialized view: batches fold into a versioned summary;
    final state == direct aggregate over all rows; replayed batches are
    structurally idempotent (same predecessor snapshot)."""
    from decimal import Decimal

    from dipa_collaborative_pulsar_idps_spark.operators.incremental import (
        finalize_summary,
        partial_summary,
    )
    from dipa_collaborative_pulsar_idps_spark.streaming.sinks import SummarySink

    d, _, _ = tmpdirs
    sink = SummarySink(f"{d}/summary", keys=["k"], measure="price", retain=2)

    def mk(rows):
        return spark.createDataFrame(rows, "k string, price decimal(18,2)")

    batches = [
        mk([("a", Decimal("1.00")), ("b", Decimal("2.50"))]),
        mk([("a", Decimal("3.25"))]),
        mk([("b", Decimal("0.25")), ("c", Decimal("9.00")), ("a", Decimal("1.00"))]),
    ]
    for i, b in enumerate(batches):
        sink(b, i)

    allrows = batches[0].unionByName(batches[1]).unionByName(batches[2])
    direct = {
        r.k: r for r in finalize_summary(partial_summary(allrows, ["k"], "price")).collect()
    }
    got = {r.k: r for r in sink.current(spark).collect()}
    assert set(got) == {"a", "b", "c"}
    for k in direct:
        for c in ("n_rows", "m_sum", "m_min", "m_max", "m_avg"):
            assert got[k][c] == direct[k][c], (k, c)

    # at-least-once replay of the LAST batch: recomputes from the same
    # predecessor (v=1), so the summary is unchanged — no double count
    sink(batches[2], 2)
    again = {r.k: r for r in sink.current(spark).collect()}
    assert {k: r.m_sum for k, r in again.items()} == {
        k: r.m_sum for k, r in got.items()
    }

    # drive it through a REAL stream (rate-limited replay, AvailableNow)
    import pyspark.sql.functions as SF

    src_dir = f"{d}/stream_src"
    allrows.withColumn("price", SF.col("price").cast("string")).coalesce(1).write.mode(
        "overwrite"
    ).json(src_dir)
    stream = (
        spark.readStream.schema("k string, price string")
        .option("maxFilesPerTrigger", 1)
        .json(src_dir)
        .withColumn("price", SF.col("price").cast("decimal(18,2)"))
    )
    sink2 = SummarySink(f"{d}/summary2", keys=["k"], measure="price")
    q = (
        stream.writeStream.foreachBatch(sink2)
        .option("checkpointLocation", f"{d}/ckpt2")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got2 = {r.k: r for r in sink2.current(spark).collect()}
    for k in direct:
        assert got2[k].m_sum == direct[k].m_sum, k


def test_summary_sink_fresh_checkpoint_fails_fast(spark, tmpdirs):
    """A fresh checkpoint (batch ids reset to 0) pointed at a USED
    summary_path must fail loudly, not silently serve the stale old
    snapshot; replaying the true last batch (id == existing max) stays
    legal; Hadoop-FS discovery sees the same versions os.listdir did."""
    from decimal import Decimal

    import pytest as _pytest

    from dipa_collaborative_pulsar_idps_spark.streaming.sinks import SummarySink

    d, _, _ = tmpdirs
    sink = SummarySink(f"{d}/summary_reset", keys=["k"], measure="price")
    mk = lambda rows: spark.createDataFrame(rows, "k string, price decimal(18,2)")
    for i in range(3):
        sink(mk([("a", Decimal("1.00"))]), i)
    assert sink._versions(spark) == [0, 1, 2]
    # legal: at-least-once replay of the last batch
    sink(mk([("a", Decimal("1.00"))]), 2)
    # illegal: fresh checkpoint restarts ids at 0 against existing v=1,2
    with _pytest.raises(RuntimeError, match="fresh checkpoint"):
        sink(mk([("a", Decimal("9.99"))]), 0)
    # retained summary still serves the correct (pre-reset) state
    assert sink.current(spark).collect()[0].m_sum == Decimal("3.00")


def test_upsert_lake_sink_applies_late_corrections_and_converges(spark, tmp_path):
    """Streaming MERGE: a corrected reading for the same (dpid, flow_key,
    poll_ts) replaces the earlier row; untouched rows survive; a second
    run of the whole stream (fresh checkpoint, same lake) is a no-op —
    exactly-once by convergence."""
    import datetime as dt

    from dipa_collaborative_pulsar_idps_spark.streaming.replay import (
        replay_stream,
        write_replay_chunks,
    )
    from dipa_collaborative_pulsar_idps_spark.streaming.sinks import upsert_lake_sink

    t0 = dt.datetime(2024, 3, 1, 10, 0, 0)
    t1 = dt.datetime(2024, 3, 2, 10, 0, 0)  # second event_date partition
    rows = [
        # chunk order follows seq; correction (seq 3) arrives after first write
        (0, "s1", "f1", t0, 100),
        (1, "s1", "f2", t0, 200),
        (2, "s2", "f9", t1, 900),
        (3, "s1", "f1", t0, 150),   # late correction: replaces seq-0 row
    ]
    df = spark.createDataFrame(
        rows, "seq long, dpid string, flow_key string, poll_ts timestamp, packet_count long"
    )
    replay = str(tmp_path / "replay")
    write_replay_chunks(df, replay, n_chunks=2, order_col="seq")
    # chunks follow seq: the correction (seq 3) lands in the second batch;
    # if a batch boundary ever groups it with the original, seq_col still
    # picks it deterministically
    lake = str(tmp_path / "lake")
    schema = "seq long, dpid string, flow_key string, poll_ts timestamp, packet_count long"

    def run(ckpt):
        q = (
            replay_stream(spark, replay, schema)
            .writeStream.foreachBatch(upsert_lake_sink(lake, seq_col="seq"))
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run("ck1")
    got = {
        (r.dpid, r.flow_key, r.poll_ts, r.packet_count)
        for r in spark.read.parquet(lake).collect()
    }
    want = {
        ("s1", "f1", t0, 150),   # corrected
        ("s1", "f2", t0, 200),
        ("s2", "f9", t1, 900),
    }
    assert got == want

    run("ck2")  # full replay against the existing lake: converges, no dups
    got2 = {
        (r.dpid, r.flow_key, r.poll_ts, r.packet_count)
        for r in spark.read.parquet(lake).collect()
    }
    assert got2 == want
    assert spark.read.parquet(lake).count() == 3
