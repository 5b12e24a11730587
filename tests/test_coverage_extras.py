"""Tests for the coverage-closing operators: escalation (I5), latch/
change-detection (I7), raw-packet parsing (K1)."""

from __future__ import annotations

import datetime as dt
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from dipa_collaborative_pulsar_idps_spark.functions.packets import (
    build_packet,
    parse_packets,
)
from dipa_collaborative_pulsar_idps_spark.localdf import local_rows_df
from dipa_collaborative_pulsar_idps_spark.streaming.replay import (
    replay_stream,
    run_to_memory,
)
from dipa_collaborative_pulsar_idps_spark.streaming.state import alert_state_machine

T0 = dt.datetime(2024, 1, 1)


@pytest.fixture()
def replay_dir():
    d = tempfile.mkdtemp(prefix="dipa_cx_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_alert_escalation_lifecycle(spark, replay_dir):
    """hot×12 → ALERT at streak 5, ESCALATE at streak 9 (5+4), CLEAR after
    5 calm polls; escalation fires once (latch)."""
    rows = [(T0 + dt.timedelta(seconds=3 * i), "h1", True) for i in range(12)]
    rows += [(T0 + dt.timedelta(seconds=3 * (12 + i)), "h1", False) for i in range(6)]
    spark.createDataFrame(rows, ["poll_ts", "src", "hot"]).coalesce(1).write.mode(
        "append"
    ).parquet(replay_dir)
    stream = replay_stream(spark, replay_dir, "poll_ts timestamp, src string, hot boolean")
    run_to_memory(alert_state_machine(stream), "esc_out")
    got = [
        (r.event, r.streak)
        for r in spark.sql("SELECT * FROM esc_out ORDER BY event_ts").collect()
    ]
    assert got == [("ALERT", 5), ("ESCALATE", 9), ("CLEAR", 5)]


def test_latch_change_detection_stream(spark, replay_dir):
    """I7: CNC change-detect — emit only on change of value per key
    (streaming dropDuplicates as the latch)."""
    import time

    for batch in [[("cnc", "10.0.0.4")], [("cnc", "10.0.0.4")], [("cnc", "10.0.0.7")]]:
        spark.createDataFrame(batch, ["kind", "ip"]).coalesce(1).write.mode(
            "append"
        ).parquet(replay_dir)
        time.sleep(0.05)
    stream = replay_stream(spark, replay_dir, "kind string, ip string")
    dedup = stream.dropDuplicates(["kind", "ip"])
    run_to_memory(dedup, "latch_out")
    got = sorted(r.ip for r in spark.sql("SELECT ip FROM latch_out").collect())
    assert got == ["10.0.0.4", "10.0.0.7"]  # duplicate announcement suppressed


def test_packet_parse_roundtrip(spark):
    pkts = [
        ("p1", build_packet("0a:00:00:00:00:01", "0a:00:00:00:00:02",
                            "10.0.0.1", "10.0.0.2", 6, 51000, 23)),
        ("p2", build_packet("0a:00:00:00:00:03", "0a:00:00:00:00:04",
                            "10.0.0.3", "10.0.0.4", 17, 48101, 48101)),
        ("p3", build_packet("0a:00:00:00:00:05", "0a:00:00:00:00:06",
                            eth_type=0x88CC)),  # LLDP: no IP header
        ("p4", b"\x00\x01"),  # runt frame
    ]
    df = spark.createDataFrame(pkts, ["pkt_id", "payload"])
    out = {r.pkt_id: r for r in parse_packets(df).collect()}
    assert out["p1"].ipv4_src == "10.0.0.1" and out["p1"].l4_dst_port == 23
    assert out["p1"].eth_dst == "0a:00:00:00:00:01"
    assert out["p2"].ip_proto == 17 and out["p2"].l4_src_port == 48101
    assert out["p3"].eth_type == 0x88CC and out["p3"].ipv4_src is None
    assert out["p4"].eth_dst is None  # runt → all-NULL header, no crash


def test_packet_parse_feeds_classifier(spark):
    """K1 output flows into the EP3 classifier unchanged."""
    from dipa_collaborative_pulsar_idps_spark.functions.parsing import protocol_classifier

    df = spark.createDataFrame(
        [("p1", build_packet("0a:00:00:00:00:01", "0a:00:00:00:00:02",
                             "10.0.0.1", "10.0.0.2", 6, 51000, 2323))],
        ["pkt_id", "payload"],
    )
    parsed = parse_packets(df).withColumn(
        "protocol",
        protocol_classifier(F.col("ip_proto"), F.col("l4_dst_port"), F.col("l4_src_port")),
    )
    assert parsed.collect()[0].protocol == "Telnet"


def test_approx_percentiles_track_exact(spark, sf_dir):
    """Sketch percentiles within 1% relative error of the exact ones."""
    from dipa_collaborative_pulsar_idps_spark.queries import REGISTRY
    from dipa_collaborative_pulsar_idps_spark.queries.registry import _load_all

    _load_all()
    approx = {
        r.l_returnflag: (r.p50_approx, r.p95_approx, r.p99_approx)
        for r in REGISTRY["approx_price_percentiles"].fn(spark, sf_dir).collect()
    }
    exact = {
        r.l_returnflag: (r.p50, r.p95, r.p99)
        for r in REGISTRY["exact_price_percentiles"].fn(spark, sf_dir).collect()
    }
    assert approx and set(approx) == set(exact)
    for flag, ap in approx.items():
        for a, e in zip(ap, exact[flag]):
            assert abs(a - e) / e < 0.01, (flag, a, e)


def test_array_agg_arrays_match_csv(spark, sf_dir):
    """The array-typed collect_list variant (local-only: list cells are
    unhashable in the driver's canonicalizer) agrees with the declared
    CSV-serialized form."""
    from dipa_collaborative_pulsar_idps_spark.queries import REGISTRY
    from dipa_collaborative_pulsar_idps_spark.queries.analytic import (
        array_agg_customers_per_nation_arrays,
    )
    from dipa_collaborative_pulsar_idps_spark.queries.registry import _load_all

    _load_all()
    csv = {
        r.n_name: r.names_csv
        for r in REGISTRY["array_agg_customers_per_nation"].fn(spark, sf_dir).collect()
    }
    arrays = {
        r.n_name: ",".join(r.customer_names)
        for r in array_agg_customers_per_nation_arrays(spark, sf_dir).collect()
    }
    assert csv == arrays and len(csv) > 0


def test_bench_headline_names_exist():
    """Every bench headline query must be a declared registry query — a
    rename would otherwise silently shrink the headline metric."""
    import bench

    from dipa_collaborative_pulsar_idps_spark.queries import REGISTRY
    from dipa_collaborative_pulsar_idps_spark.queries.registry import _load_all

    _load_all()
    missing = [n for n in bench.HEADLINE if n not in REGISTRY]
    assert not missing, f"headline names not in registry: {missing}"
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)
    # headline_v2 = legacy + r3/r5 heavy-family extras, same guarantees
    missing_v2 = [n for n in bench.HEADLINE_V2_EXTRA if n not in REGISTRY]
    assert not missing_v2, f"headline_v2 names not in registry: {missing_v2}"
    assert not set(bench.HEADLINE_V2_EXTRA) & set(bench.HEADLINE)
    assert len(set(bench.HEADLINE_V2_EXTRA)) == len(bench.HEADLINE_V2_EXTRA)


def test_weighted_exact_k_sample_matches_independent_reimpl(spark):
    """A-Res weighted exact-k selection equals a from-scratch Python
    recomputation of the same md5-derived keys (independent of Spark AND
    of the DuckDB oracle), and is exact-k per stratum."""
    import hashlib
    import math

    from dipa_collaborative_pulsar_idps_spark.queries.datapipe7 import (
        _WEK_K,
        weighted_exact_k_sample,
    )
    from dipa_collaborative_pulsar_idps_spark.tables import load_table

    sf_dir = "/root/testdata/sf0.001"
    rows = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    ).collect()
    per_lang: dict[str, list] = {}
    for r in rows:
        if r.n_chars <= 0:
            continue
        u = int(hashlib.md5(str(r.doc_id).encode()).hexdigest()[:15], 16) / 2**60
        key = round(math.log(u) / float(r.n_chars), 9)
        per_lang.setdefault(r.lang, []).append((-key, r.doc_id, r.n_chars))
    want = set()
    for lang, ks in per_lang.items():
        for rk, (_, doc_id, n_chars) in enumerate(sorted(ks)[:_WEK_K], start=1):
            want.add((lang, doc_id, n_chars, rk))
    got = {
        (r.lang, r.doc_id, r.n_chars, r.rk)
        for r in weighted_exact_k_sample(spark, sf_dir).collect()
    }
    assert got == want
    by_lang: dict[str, int] = {}
    for lang, *_ in got:
        by_lang[lang] = by_lang.get(lang, 0) + 1
    assert all(n == min(_WEK_K, len(per_lang[lg])) for lg, n in by_lang.items())


def test_coverage_doc_names_every_registry_query():
    """COVERAGE.md is the auditor's map and must never drift from the
    declared surface: every name in queries/registry.py appears verbatim
    somewhere in the document (counts themselves are never hand-pinned
    there — this test IS the completeness gate)."""
    import os

    from dipa_collaborative_pulsar_idps_spark.queries.registry import (
        REGISTRY,
        _load_all,
    )

    _load_all()
    doc = open(
        os.path.join(os.path.dirname(__file__), "..", "COVERAGE.md")
    ).read()
    missing = sorted(n for n in REGISTRY if n not in doc)
    assert not missing, f"COVERAGE.md is missing registry queries: {missing}"


def test_ensure_runtime_confs_skips_a_refused_conf(spark, monkeypatch):
    """A conf the session refuses to change (static SQL conf, Spark core
    conf) is skipped; the settable confs around it are still applied."""
    from pyspark.errors import AnalysisException

    from dipa_collaborative_pulsar_idps_spark import session

    refused = {"spark.sql.warehouse.dir": "/nonexistent-warehouse", "spark.executor.cores": "7"}
    s = spark.newSession()
    for k, v in refused.items():
        with pytest.raises(AnalysisException):
            s.conf.set(k, v)
    s.conf.set("spark.sql.shuffle.partitions", "3")
    monkeypatch.setattr(
        session, "RUNTIME_CONFS", {**refused, "spark.sql.shuffle.partitions": "5"}
    )
    session.ensure_runtime_confs(s)
    assert s.conf.get("spark.sql.shuffle.partitions") == "5"
    assert s.conf.get("spark.sql.warehouse.dir") != "/nonexistent-warehouse"


def test_streaming_session_factory_defaults():
    """get_streaming_spark's measured micro-batch defaults (r11, promoted
    from the r10 soak finding): shuffle partitions sized to state shards
    (shards/8, floor 2), not core count, and the RocksDB conf applied
    only when asked. The derivation function is the single source the
    bench, the soak's factory variants, and the factory itself share."""
    from dipa_collaborative_pulsar_idps_spark.session import (
        ROCKSDB_STATE_CONF,
        streaming_shuffle_partitions,
    )

    assert streaming_shuffle_partitions(64) == 8  # the soak-measured point
    assert streaming_shuffle_partitions(256) == 32
    assert streaming_shuffle_partitions(4) == 2  # floor
    assert streaming_shuffle_partitions(1) == 2
    # the factory's rocksdb leg applies exactly the engine conf (incl.
    # the trackTotalNumberOfRows=false write-path lever)
    assert (
        ROCKSDB_STATE_CONF[
            "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows"
        ]
        == "false"
    )


def test_retrain_pointer_crash_recovery(spark, tmp_path):
    """Exactly-once retrain, crashed-swap leg: the staged generation tree
    is complete BEFORE the pointer swap, so if the swap never lands (the
    pointer file is lost), _resolve_root serves the LATEST complete
    generation — readers never see a half-written index."""
    from dipa_collaborative_pulsar_idps_spark.functions.ivf import (
        _POINTER,
        _read_pointer,
        _resolve_root,
        build_ivf_index,
        ivf_retrain,
        load_ivf_index,
        save_ivf_index,
    )

    import random

    rng = random.Random(7)
    corpus = local_rows_df(
        spark,
        [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(100)],
        "vec_id long, e array<double>",
    )
    path = str(tmp_path / "ivf_crash")
    assigned, centroids = build_ivf_index(corpus, dim=16, n_list=8)
    save_ivf_index(assigned, centroids, path)
    ivf_retrain(spark, path)
    assert _read_pointer(spark, path) == "gen-00001"

    # simulate a crash that lost the pointer after staging completed
    import os

    os.remove(f"{path}/{_POINTER}")
    assert _read_pointer(spark, path) is None
    assert _resolve_root(spark, path).endswith("gen-00001")  # latest gen wins
    a, c = load_ivf_index(spark, path)
    assert a.count() == 100  # fully served from the staged generation

    # a subsequent retrain heals the pointer and stages the next gen
    ivf_retrain(spark, path)
    assert _read_pointer(spark, path) == "gen-00002"
    assert load_ivf_index(spark, path)[0].count() == 100


def test_resolve_root_skips_incomplete_generation(spark, tmp_path):
    """Crash-recovery completeness gate (r11 advisor): a generation
    directory exists as soon as the FIRST retrain job starts writing into
    it, so if that retrain crashes mid-stage — before the ``_COMMITTED``
    marker, before the pointer ever exists — readers must resolve the
    intact flat layout, not the partial gen. And a replayed retrain must
    self-heal: it stages the NEXT generation and promotes it."""
    import os

    from dipa_collaborative_pulsar_idps_spark.functions.ivf import (
        _read_pointer,
        _resolve_root,
        build_ivf_index,
        ivf_retrain,
        load_ivf_index,
        save_ivf_index,
    )

    import random

    rng = random.Random(11)
    corpus = local_rows_df(
        spark,
        [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(80)],
        "vec_id long, e array<double>",
    )
    path = str(tmp_path / "ivf_partial")
    assigned, centroids = build_ivf_index(corpus, dim=16, n_list=4)
    save_ivf_index(assigned, centroids, path)

    # simulate the FIRST retrain crashing mid-stage: the gen dir holds a
    # partial lists tree, no centroids, no stats, no marker, no pointer
    os.makedirs(f"{path}/gen-00001/lists/list_id=0", exist_ok=True)
    with open(f"{path}/gen-00001/lists/list_id=0/part-partial.parquet", "wb") as f:
        f.write(b"not parquet")
    assert _read_pointer(spark, path) is None
    assert _resolve_root(spark, path) == path  # partial gen skipped
    a, _ = load_ivf_index(spark, path)  # serves the intact flat layout
    assert a.count() == 80

    # replayed retrain self-heals: stages gen-00002 past the partial dir
    out = ivf_retrain(spark, path)
    assert out["generation"] == "gen-00002"
    assert _read_pointer(spark, path) == "gen-00002"
    assert load_ivf_index(spark, path)[0].count() == 80


def test_index_health_commit_order_non_padded_ids(spark, tmp_path):
    """The health ledger's cumulative appended_frac runs in COMMIT order
    (the commit_seq stamp), not lexicographic batch_id order — b10 after
    b2 even though 'b10' < 'b2' lexicographically (r11 advisor)."""
    import random

    from dipa_collaborative_pulsar_idps_spark.functions.ivf import (
        build_ivf_index,
        index_health,
        ivf_append_batch,
        save_ivf_index,
    )

    rng = random.Random(3)
    corpus = local_rows_df(
        spark,
        [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(120)],
        "vec_id long, e array<double>",
    )
    base = corpus.where(F.col("vec_id") < 60)
    path = str(tmp_path / "ivf_seq")
    assigned, centroids = build_ivf_index(base, dim=16, n_list=4)
    save_ivf_index(assigned, centroids, path)
    b2 = corpus.where((F.col("vec_id") >= 60) & (F.col("vec_id") < 90))
    b10 = corpus.where(F.col("vec_id") >= 90)
    s2 = ivf_append_batch(spark, path, b2, "b2")
    s10 = ivf_append_batch(spark, path, b10, "b10")

    rows = index_health(spark, path).collect()
    assert [r["batch_id"] for r in rows] == ["base", "b2", "b10"]
    fracs = {r["batch_id"]: r["appended_frac"] for r in rows}
    # running sum follows commit order: b2 = 30/60, b10 = 60/60
    assert fracs["b2"] == pytest.approx(0.5, abs=1e-9)
    assert fracs["b10"] == pytest.approx(1.0, abs=1e-9)
    assert fracs["b2"] == pytest.approx(s2["appended_frac"], abs=1e-9)
    assert fracs["b10"] == pytest.approx(s10["appended_frac"], abs=1e-9)

    # replayed commit keeps its original ledger slot (exactly-once shape)
    ivf_append_batch(spark, path, b2, "b2")
    rows = index_health(spark, path).collect()
    assert [r["batch_id"] for r in rows] == ["base", "b2", "b10"]


def test_streaming_factory_isolates_existing_session(spark):
    """get_streaming_spark on a process that ALREADY runs a session must
    not mutate that session's shuffle partitions (r11 advisor: builder
    confs through getOrCreate silently re-conf the running relational
    workload). It returns a newSession() — same context, isolated
    SQLConf — carrying the streaming partition count."""
    from dipa_collaborative_pulsar_idps_spark.session import get_streaming_spark

    before = spark.conf.get("spark.sql.shuffle.partitions")
    streaming = get_streaming_spark()
    try:
        assert streaming.conf.get("spark.sql.shuffle.partitions") == "8"
        assert spark.conf.get("spark.sql.shuffle.partitions") == before
        assert streaming is not spark
        # same JVM context — no second SparkContext was spun up
        assert streaming.sparkContext is spark.sparkContext
    finally:
        pass  # shared context: nothing to stop


def test_resolve_root_recovers_legacy_unmarked_generation(spark, tmp_path):
    """r12 advisor: generation trees written before the ``_COMMITTED``
    marker existed carry none, so marker-gated pointer-loss recovery must
    fall back to the structural equivalent for legacy layouts — the
    ``stats/batch_id=base`` row, the LAST component of the pre-r12 write
    order. Simulated by stripping the marker AND the pointer from a
    retrained index: recovery must still serve the intact generation,
    not the pruned flat root. A legacy tree missing its stats row (a
    pre-r12 MID-STAGE crash) stays ineligible."""
    import os
    import random
    import shutil

    from dipa_collaborative_pulsar_idps_spark.functions.ivf import (
        _COMMIT_MARK,
        _POINTER,
        _resolve_root,
        build_ivf_index,
        ivf_retrain,
        load_ivf_index,
        save_ivf_index,
    )

    rng = random.Random(7)
    corpus = local_rows_df(
        spark,
        [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(100)],
        "vec_id long, e array<double>",
    )
    path = str(tmp_path / "ivf_legacy")
    assigned, centroids = build_ivf_index(corpus, dim=16, n_list=8)
    save_ivf_index(assigned, centroids, path)
    ivf_retrain(spark, path)

    # make gen-00001 look like a pre-r12 tree with a lost pointer
    os.remove(f"{path}/{_POINTER}")
    os.remove(f"{path}/gen-00001/{_COMMIT_MARK}")
    assert _resolve_root(spark, path).endswith("gen-00001")
    assert load_ivf_index(spark, path)[0].count() == 100

    # a legacy tree whose stats row never landed (mid-stage crash) must
    # NOT be eligible — recovery falls through to the flat root
    shutil.rmtree(f"{path}/gen-00001/stats")
    assert _resolve_root(spark, path) == path


def test_progressive_jpeg_truncation_raises_format_error():
    """r12 advisor: corrupt/truncated PROGRESSIVE entropy data must raise
    the same ValueError('truncated JPEG entropy segment') contract as the
    baseline scan path, not a raw IndexError."""
    import numpy as np
    import pytest as _pytest

    from dipa_collaborative_pulsar_idps_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg_progressive,
    )

    y, x = np.mgrid[0:48, 0:64]
    img = np.stack([(x * 3) % 256, (y * 5) % 256, ((x + y) * 2) % 256], -1).astype(
        np.uint8
    )
    good = encode_jpeg_progressive(img, 85)
    assert decode_jpeg(good).shape == (48, 64, 3)
    # chop inside the FINAL scan's entropy payload (before EOI) so the
    # header/table segments stay intact but the bit stream runs dry —
    # keep the EOI so the decoder reaches the finish path
    torn = good[: int(len(good) * 0.7)] + good[-2:]
    with _pytest.raises(ValueError):
        decode_jpeg(torn)


def test_streaming_session_factory_from_worker_thread(spark):
    """r12 advisor: getActiveSession is thread-local — a worker thread
    must still detect the process-global session via getDefaultSession
    and branch to newSession(), NOT re-route through get_spark's
    getOrCreate (which would re-apply builder confs to the running
    session and clobber its shuffle partitions)."""
    import threading

    from dipa_collaborative_pulsar_idps_spark.session import get_streaming_spark

    before = spark.conf.get("spark.sql.shuffle.partitions")
    result: dict = {}

    def worker():
        s = get_streaming_spark(rocksdb=False)
        result["same_context"] = s.sparkContext is spark.sparkContext
        result["isolated"] = s is not spark
        result["stream_shuffle"] = s.conf.get("spark.sql.shuffle.partitions")

    t = threading.Thread(target=worker)
    t.start()
    t.join()
    assert result["same_context"] and result["isolated"]
    # the caller's session kept its partitions; the streaming session got
    # the measured micro-batch count on its OWN isolated conf
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert int(result["stream_shuffle"]) == 8  # 64 shards / 8 (r10 soak)


def test_char_entropy_kernel_bit_equals_hof_fold(spark, sf_dir):
    """The r14 Arrow entropy kernel must reproduce the array-HOF fold
    BIT-FOR-BIT (unrounded): same first-occurrence distinct order, same
    sequential float64 accumulation, same log2 = log(p)/log(2) shape —
    the round-6 value-hash oracle tolerates zero divergence here."""
    from pyspark.sql import functions as F

    from dipa_collaborative_pulsar_idps_spark.queries.datapipe6 import (
        _char_entropy_hof,
        char_counts_kernel_df,
    )
    from dipa_collaborative_pulsar_idps_spark.tables import Tables

    docs = Tables(spark, sf_dir).documents.select("doc_id", "text")
    hof = {r["doc_id"]: tuple(r) for r in _char_entropy_hof(docs).collect()}
    kernel_full = char_counts_kernel_df(docs).select(
        "doc_id",
        F.col("n").alias("n_chars_counted"),
        "n_distinct_chars",
        (
            -F.expr(
                "aggregate(cnts, cast(0.0 as double), (a, x) -> a + (x/n)*log2(x/n))"
            )
        ).alias("char_entropy_bits"),
    )
    kern = {r["doc_id"]: tuple(r) for r in kernel_full.collect()}
    assert set(hof) == set(kern)
    for doc_id, want in hof.items():
        got = kern[doc_id]
        assert got == want, (
            f"doc {doc_id}: kernel {got!r} != HOF {want!r} "
            f"(entropy bits differ by {got[3] - want[3]!r})"
        )


def test_no_module_level_session_containers():
    """Session state lives in the one memo registry (memo.py), which
    clear_all_caches releases in one call. A module-level `_*_CACHE`,
    `_*_PERSISTS` or `_*_MEMO` container under queries/ or operators/, or
    in tables.py, would be a memo no clear releases. The per-path parquet
    schema cache is session-independent and stays."""
    import pathlib
    import re

    import dipa_collaborative_pulsar_idps_spark as pkg

    root = pathlib.Path(pkg.__path__[0])
    files = [root / "tables.py", *sorted((root / "queries").glob("*.py")),
             *sorted((root / "operators").glob("*.py"))]
    found = [
        f"{py.relative_to(root)}:{name}"
        for py in files
        for name in re.findall(r"^(_[A-Z0-9_]*(?:CACHE|PERSISTS|MEMO))\s*[:=]", py.read_text(), re.M)
        if name != "_SCHEMA_CACHE"
    ]
    assert len(files) > 20 and not found, found


def test_filesystem_lookup_and_batch_marker_live_in_one_place():
    """The Hadoop FileSystem lookup is written once (storage._fs_path) and
    the exactly-once batch marker path once (the index sinks' scaffold,
    streaming.pipelines._exactly_once). A second `getFileSystem(` or
    `_batches/` anywhere in the package is a copied protocol."""
    import inspect
    import pathlib

    import dipa_collaborative_pulsar_idps_spark as pkg
    from dipa_collaborative_pulsar_idps_spark import storage
    from dipa_collaborative_pulsar_idps_spark.streaming import pipelines

    root = pathlib.Path(pkg.__path__[0])
    sources = {py.relative_to(root): py.read_text() for py in sorted(root.rglob("*.py"))}
    for needle, owner in (
        ("getFileSystem(", storage._fs_path),
        ("_batches/", pipelines._exactly_once),
    ):
        found = {str(p): s.count(needle) for p, s in sources.items() if needle in s}
        owned = inspect.getsource(owner).count(needle)
        assert owned >= 1 and sum(found.values()) == owned, (needle, found)


def test_stats_rows_reads_legacy_pre_commit_seq_files(spark, tmp_path):
    """r13 swapped mergeSchema for the explicit _STATS_SCHEMA on stats
    reads, relying on Spark null-filling commit_seq for files written by
    the pre-commit_seq format — but nothing wrote such a file in tests
    (r14, advisor item 3). Pin it: a legacy stats row (n_vectors,
    mean_sq_err only) must read back with commit_seq NULL, coexist with
    new-format rows, and index_health must order it by the base-first
    fallback."""
    from dipa_collaborative_pulsar_idps_spark.functions.ivf import (
        _commit_seq_for,
        _stats_rows,
        _write_stats_row,
        index_health,
    )
    from dipa_collaborative_pulsar_idps_spark.localdf import local_rows_df

    root = str(tmp_path / "idx")
    # legacy base row: the pre-commit_seq on-disk schema, written directly
    local_rows_df(
        spark, [(100, 0.5)], "n_vectors long, mean_sq_err double"
    ).coalesce(1).write.mode("overwrite").parquet(f"{root}/stats/batch_id=base")
    # a modern append row beside it
    rows_before = _stats_rows(spark, root)
    assert len(rows_before) == 1
    assert rows_before[0]["batch_id"] == "base"
    assert rows_before[0]["commit_seq"] is None  # NULL-filled, not dropped
    _write_stats_row(
        spark, root, "b1", 40, 0.6, seq=_commit_seq_for(rows_before, "b1")
    )
    rows = {r["batch_id"]: r for r in _stats_rows(spark, root)}
    assert rows["base"]["commit_seq"] is None
    assert rows["base"]["n_vectors"] == 100
    assert rows["b1"]["commit_seq"] == 1  # len(rows) fallback when no row carries a seq
    health = index_health(spark, root).collect()
    assert [r["batch_id"] for r in health] == ["base", "b1"]
    assert health[1]["appended_frac"] == 0.4


def test_local_rows_df_raises_on_cell_schema_mismatch(spark):
    """A row whose cell does not match the schema is a caller bug: it
    raises instead of coming back as a frame."""
    from dipa_collaborative_pulsar_idps_spark.localdf import local_rows_df

    with pytest.raises((TypeError, ValueError)):
        local_rows_df(spark, [(1, "not-a-double")], "a long, b double")


def test_bench_profile_shape_of_an_ann_query(spark, sf_dir):
    """bench.py's per-query layer profile, measured the way the bench loop
    measures (``bench.measure_query``) on ``ann_topk_ivf_neighbors``:
    build and exec each carry every StatusReader stage field; the warm
    build runs no Spark job (the query batch, centroids and route are
    driver-side memos); the exec runs at least one, and its shuffle stays
    small."""
    import bench
    from perfbench.common import STAGE_KEYS, StatusReader

    from dipa_collaborative_pulsar_idps_spark.queries import REGISTRY
    from dipa_collaborative_pulsar_idps_spark.queries.registry import _load_all

    _load_all()
    rec = bench.measure_query(
        spark, StatusReader(spark), REGISTRY["ann_topk_ivf_neighbors"].fn, sf_dir, reps=2
    )
    for side in ("build", "exec"):
        assert set(STAGE_KEYS) <= set(rec[side]), side
    assert rec["build"]["jobs"] == 0
    assert rec["exec"]["jobs"] >= 1
    # measured at sf0.001 on local[8]: 4,335 bytes written and 4,335 read
    # per warm call. The bound leaves 4x headroom for partitioning and
    # row-size drift; shuffling the index or the corpus would move far
    # more (the index is scanned in place).
    measured = 8_670
    shuffled = rec["exec"]["shuffle_read_bytes"] + rec["exec"]["shuffle_write_bytes"]
    assert shuffled <= 4 * measured, shuffled


def test_measuring_tools_share_one_warm_up_and_one_progress_filter():
    """bench.py is the one measuring tool: the Arrow-UDF worker warm-up
    and the steady-batch filter over a streaming query's recentProgress
    are written once across bench.py and scripts/ (the tests keep their
    own workload copies and are not counted)."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1]
    sources = {
        str(py.relative_to(root)): py.read_text()
        for py in [root / "bench.py", *sorted((root / "scripts").glob("*.py"))]
    }
    for needle in ("pandas_udf(lambda v: v * 1.0", "recentProgress"):
        found = {p: s.count(needle) for p, s in sources.items() if needle in s}
        assert found == {"bench.py": 1}, (needle, found)
