"""Unit tests for the generic operator library (operators/, functions/)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from dipa_collaborative_pulsar_idps_spark.operators import (
    asof_join,
    counter_delta,
    top_k,
    top_k_per_group,
)
from dipa_collaborative_pulsar_idps_spark.functions.multimodal import (
    extract_features,
    frame_sample_stub,
    media_stats,
    resize_images,
)

T0 = dt.datetime(2024, 1, 1)


def _ts(s):
    return T0 + dt.timedelta(seconds=s)


def test_counter_delta_reset_detection(spark):
    rows = [
        ("f1", _ts(0), 100),
        ("f1", _ts(2), 250),
        ("f1", _ts(4), 50),  # reset: 50 < 250 → delta = 50
        ("f1", _ts(6), 80),
        ("f2", _ts(0), 10),
    ]
    df = spark.createDataFrame(rows, ["flow", "poll_ts", "pkts"])
    out = {
        (r.flow, r.poll_ts): r.delta
        for r in counter_delta(df, ["flow"], "pkts", ["poll_ts"]).collect()
    }
    assert out[("f1", _ts(0))] == 100  # first sample vs zero-seeded state
    assert out[("f1", _ts(2))] == 150
    assert out[("f1", _ts(4))] == 50  # reset handled, not -200
    assert out[("f1", _ts(6))] == 30
    assert out[("f2", _ts(0))] == 10


def test_asof_join_nearest_prior(spark):
    left = spark.createDataFrame(
        [("u1", _ts(5), "p1"), ("u1", _ts(1), "p0"), ("u2", _ts(3), "p2")],
        ["uid", "ts", "purchase"],
    )
    right = spark.createDataFrame(
        [("u1", _ts(2), 10.0), ("u1", _ts(4), 20.0), ("u1", _ts(6), 30.0)],
        ["uid", "ts", "price"],
    )
    out = {
        (r.uid, r.purchase): r.price_asof
        for r in asof_join(left, right, ["uid"], "ts", ["price"]).collect()
    }
    assert out[("u1", "p1")] == 20.0  # latest right ≤ ts(5) is ts(4)
    assert out[("u1", "p0")] is None  # nothing before ts(1)
    assert out[("u2", "p2")] is None  # no right rows for u2


def test_asof_join_same_instant_visible(spark):
    left = spark.createDataFrame([("u1", _ts(2), "p")], ["uid", "ts", "purchase"])
    right = spark.createDataFrame([("u1", _ts(2), 7.0)], ["uid", "ts", "price"])
    out = asof_join(left, right, ["uid"], "ts", ["price"]).collect()[0]
    assert out.price_asof == 7.0  # right sorts before left at identical ts


def test_topk_helpers(spark):
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 30.0), ("a", 3, 20.0), ("b", 4, 5.0)],
        ["g", "id", "v"],
    )
    top = top_k(df, [F.desc("v"), F.asc("id")], 2).collect()
    assert [(r.g, r.id) for r in top] == [("a", 2), ("a", 3)]
    per = top_k_per_group(df, ["g"], [F.desc("v"), F.asc("id")], 1).collect()
    assert {(r.g, r.id) for r in per} == {("a", 2), ("b", 4)}


def _media_df(spark):
    import numpy as np

    from dipa_collaborative_pulsar_idps_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        encode_ppm,
        encode_wav_pcm16,
    )

    # real payloads: solid-color + gradient PPM images, a 1 kHz sine WAV,
    # and an opaque video blob (decode stubbed for video only)
    solid = np.full((4, 6, 3), (200, 100, 50), dtype=np.uint8)
    grad = (np.arange(8 * 8 * 3, dtype=np.uint32) % 256).astype(np.uint8).reshape(8, 8, 3)
    t = np.arange(1600) / 16000.0
    sine = (np.sin(2 * np.pi * 1000 * t) * 12000).astype(np.int16)
    rows = [
        ("m1", "image", bytearray(encode_ppm(solid)), 6, 4, None),
        ("m2", "image", bytearray(encode_ppm(grad)), 8, 8, None),
        ("m3", "audio", bytearray(encode_wav_pcm16(sine, 16000)), None, None, 100),
        ("m4", "video", bytearray(b"\x04" * 300), 1920, 1080, 2500),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_image_codecs_roundtrip_and_golden():
    import struct

    import numpy as np

    from dipa_collaborative_pulsar_idps_spark.functions.multimodal import (
        decode_image,
        decode_wav,
        encode_ppm,
        encode_wav_pcm16,
        resize_nearest,
    )

    img = (np.arange(5 * 7 * 3, dtype=np.uint32) % 251).astype(np.uint8).reshape(5, 7, 3)
    assert np.array_equal(decode_image(encode_ppm(img)), img)

    # hand-built 2×2 24-bit BMP (bottom-up, BGR, 4-byte padded rows):
    # top row red,green / bottom row blue,white
    px = {  # (row from top, col) → RGB
        (0, 0): (255, 0, 0), (0, 1): (0, 255, 0),
        (1, 0): (0, 0, 255), (1, 1): (255, 255, 255),
    }
    stride = (2 * 3 + 3) & ~3
    body = bytearray()
    for r in (1, 0):  # bottom-up
        row = bytearray()
        for c in (0, 1):
            rr, gg, bb = px[(r, c)]
            row += bytes((bb, gg, rr))
        row += b"\0" * (stride - len(row))
        body += row
    bmp = (
        b"BM" + struct.pack("<IHHI", 14 + 40 + len(body), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(body), 2835, 2835, 0, 0)
        + bytes(body)
    )
    decoded = decode_image(bmp)
    assert decoded.shape == (2, 2, 3)
    assert all(tuple(decoded[r, c]) == v for (r, c), v in px.items())

    # capability gates vs malformed payloads: PNG and baseline JPEG now
    # decode natively, so garbage bodies under their magic are MALFORMED
    # (ValueError); only genuinely un-decodable formats (progressive
    # JPEG without PIL) raise the clearly-marked NotImplementedError gap
    import struct as _struct

    import pytest as _pytest

    progressive = (
        b"\xff\xd8\xff\xc2" + _struct.pack(">H", 12) + bytes(10) + b"\xff\xd9"
    )
    with _pytest.raises(NotImplementedError):
        decode_image(progressive)
    with _pytest.raises(ValueError):
        decode_image(b"\x89PNG\r\n\x1a\n" + b"\0" * 32)
    with _pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xff\xe0" + b"\0" * 32)

    # WAV round-trip
    samples = (np.sin(np.arange(800) / 5.0) * 20000).astype(np.int16)
    sr, back = decode_wav(encode_wav_pcm16(samples, 8000))
    assert sr == 8000 and np.array_equal(back, samples)

    # nearest resize golden: 2×2 → 4×4 replicates each pixel into a quadrant
    small = np.array([[[0, 0, 0], [10, 10, 10]], [[20, 20, 20], [30, 30, 30]]], dtype=np.uint8)
    up = resize_nearest(small, 4, 4)
    assert up.shape == (4, 4, 3)
    assert up[0, 0, 0] == 0 and up[0, 3, 0] == 10 and up[3, 0, 0] == 20 and up[3, 3, 0] == 30


def test_multimodal_feature_extract(spark):
    out = extract_features(_media_df(spark)).collect()
    assert len(out) == 4
    by_id = {r.media_id: r for r in out}
    # image features are REAL channel stats: solid color → exact means, zero std
    f1 = by_id["m1"].feature
    assert len(f1) == 16
    assert f1[0] == 6.0 and f1[1] == 4.0  # (w, h)
    assert f1[2:5] == [200.0, 100.0, 50.0] and f1[5:8] == [0.0, 0.0, 0.0]
    # audio features: sample rate, count, sine RMS ≈ amplitude/√2
    f3 = by_id["m3"].feature
    assert f3[0] == 16000.0 and f3[1] == 1600.0
    assert abs(f3[2] - (12000 / 32768) / 2**0.5) < 0.01
    # deterministic: same payload → same features
    again = extract_features(_media_df(spark)).collect()
    assert {r.media_id: r.feature for r in again} == {r.media_id: r.feature for r in out}


def test_multimodal_fused_pipeline_equivalence(spark):
    """media_feature_pipeline (one Arrow pass) ≡ resize_images ∘
    extract_features (two passes) — identical features and sizes."""
    from dipa_collaborative_pulsar_idps_spark.functions.multimodal import (
        media_feature_pipeline,
    )

    m = _media_df(spark)
    fused = {r.media_id: r for r in media_feature_pipeline(m, 16, 16).collect()}
    composed = {
        r.media_id: r for r in extract_features(resize_images(m, 16, 16)).collect()
    }
    assert set(fused) == set(composed)
    for mid in fused:
        assert fused[mid].feature == composed[mid].feature, mid
        assert fused[mid].n_bytes == composed[mid].n_bytes, mid


def test_multimodal_resize_and_frames(spark):
    import numpy as np

    from dipa_collaborative_pulsar_idps_spark.functions.multimodal import decode_image

    m = _media_df(spark)
    resized = {r.media_id: r for r in resize_images(m, 224, 224).collect()}
    assert set(resized) == {"m1", "m2", "m3", "m4"}  # non-images pass through
    for mid in ("m1", "m2"):
        assert resized[mid].width == 224 and resized[mid].height == 224
        img = decode_image(bytes(resized[mid].payload))
        assert img.shape == (224, 224, 3)
    # solid image stays solid after real resample
    assert np.array_equal(
        np.unique(decode_image(bytes(resized["m1"].payload)).reshape(-1, 3), axis=0),
        np.array([[200, 100, 50]], dtype=np.uint8),
    )
    assert resized["m3"].payload == bytes(
        {r.media_id: r for r in m.collect()}["m3"].payload
    )
    frames = frame_sample_stub(m, every_ms=1000).collect()
    assert [(r.media_id, r.frame_ts_ms) for r in frames] == [
        ("m4", 0), ("m4", 1000), ("m4", 2000)
    ]
    stats = {r.media_type: r for r in media_stats(m).collect()}
    assert stats["image"].n_items == 2


def test_interval_join_matches_naive(spark):
    """Binned range join ≡ naive non-equi join on a synthetic set that
    crosses bin boundaries (intervals longer and shorter than the bin)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from dipa_collaborative_pulsar_idps_spark.operators.rangejoin import interval_join

    base = dt.datetime(2024, 1, 1)
    pts = spark.createDataFrame(
        [(i, base + dt.timedelta(minutes=7 * i)) for i in range(200)],
        "pid long, pts timestamp_ntz",
    )
    iv = spark.createDataFrame(
        [
            (j, base + dt.timedelta(minutes=13 * j), base + dt.timedelta(minutes=13 * j + span))
            for j, span in [(0, 5), (1, 45), (2, 90), (3, 30), (4, 0), (5, 1440)]
        ],
        "iid long, istart timestamp_ntz, iend timestamp_ntz",
    )
    got = interval_join(pts, "pts", iv, "istart", "iend", bin_seconds=1800)
    expect = pts.join(
        iv, (F.col("istart") <= F.col("pts")) & (F.col("pts") < F.col("iend"))
    )
    g = {(r.pid, r.iid) for r in got.collect()}
    e = {(r.pid, r.iid) for r in expect.collect()}
    assert g == e and len(e) > 50


def test_connected_components_chains_and_singletons(spark):
    """Min-label propagation needs one round per hop: a 6-node path plus a
    triangle plus an isolated vertex must all collapse correctly."""
    from dipa_collaborative_pulsar_idps_spark.operators.components import (
        connected_components,
    )

    edges = spark.createDataFrame(
        # path 10-11-12-13-14-15 (entered highest-first to force propagation),
        # triangle 20-21-22, pair 30-31
        [(15, 14), (14, 13), (13, 12), (12, 11), (11, 10),
         (20, 21), (21, 22), (22, 20), (30, 31)],
        "src long, dst long",
    )
    nodes = spark.createDataFrame([(n,) for n in [10, 11, 12, 13, 14, 15, 20, 21, 22, 30, 31, 99]], "id long")
    got = {
        r.node: r.component
        for r in connected_components(edges, nodes=nodes).collect()
    }
    assert got == {10: 10, 11: 10, 12: 10, 13: 10, 14: 10, 15: 10,
                   20: 20, 21: 20, 22: 20, 30: 30, 31: 30, 99: 99}


def test_spacesaving_heavy_hitters_exact_under_eviction(spark):
    """SpaceSaving with m=64 counters against 10k distinct values: the 20
    planted heavy values (freq 500 each ≫ N/m = 312) must come out with EXACT
    counts and ranking identical to the full groupBy — proving the
    eviction path and the pigeonhole candidate guarantee, not just the
    no-eviction fixture case."""
    from pyspark.sql import functions as F

    from dipa_collaborative_pulsar_idps_spark.operators.heavyhitters import (
        heavy_hitters_exact,
    )

    heavy = spark.range(20 * 500).select(
        F.concat(F.lit("hot"), (F.col("id") % 20)).alias("v")
    )
    tail = spark.range(10_000).select(
        F.concat(F.lit("cold"), F.col("id")).alias("v")
    )
    items = heavy.unionAll(tail).repartition(8)
    got = [(r.v, r.n) for r in heavy_hitters_exact(items, "v", k=20, m=64).collect()]
    exact = [
        (r.v, r.n)
        for r in items.groupBy("v")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("v"))
        .limit(20)
        .collect()
    ]
    assert got == exact
    assert all(n == 500 for _, n in got), got


def test_video_ppm_stream_codec_and_features(spark):
    """Real video path: PPM-stream round-trip, golden luminance/motion
    features, and extract_frames producing decodable image rows."""
    import numpy as np

    from dipa_collaborative_pulsar_idps_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        decode_image,
        decode_ppm_stream,
        encode_ppm_stream,
        extract_frames,
        video_features,
    )

    # 3 frames of 2x2: constant 0, constant 10, constant 30 (all channels)
    frames = [np.full((2, 2, 3), v, dtype=np.uint8) for v in (0, 10, 30)]
    stream = encode_ppm_stream(frames)
    back = decode_ppm_stream(stream)
    assert len(back) == 3 and all(np.array_equal(a, b) for a, b in zip(frames, back))

    f = video_features(stream)
    assert len(f) == 16
    assert f[0] == 3.0 and f[1] == 2.0 and f[2] == 2.0  # n_frames, w, h
    # luminance of constant-v RGB is v (weights sum to 1): mean of {0,10,30}
    assert abs(f[3] - np.mean([0, 10, 30])) < 1e-9
    assert abs(f[4] - np.std([0, 10, 30])) < 1e-9
    # motion: mean |delta| over consecutive pairs = mean(10, 20) = 15
    assert abs(f[5] - 15.0) < 1e-9
    # histogram: all three frames land in bin 0 (lum < 25.6) except v=30 in bin 1
    assert abs(f[6] - 2 / 3) < 1e-9 and abs(f[7] - 1 / 3) < 1e-9

    # opaque container still routes through the deterministic stub
    stub = video_features(b"\x00\x01\x02" * 40)
    assert len(stub) == 16 and list(stub) == list(video_features(b"\x00\x01\x02" * 40))

    rows = [
        ("v1", "video", bytearray(stream), 2, 2, 3000),
        ("v2", "video", bytearray(b"\x04" * 64), 320, 240, 1000),  # opaque: skipped
        ("i1", "image", bytearray(b"P6\n1 1\n255\n\x00\x00\x00"), 1, 1, None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = extract_frames(media, every_n=2).collect()
    # v1: frames 0 and 2 sampled; v2 opaque skipped; i1 not video
    assert [(r.media_id, r.frame_index, r.frame_ts_ms) for r in out] == [
        ("v1", 0, 0),
        ("v1", 2, 2000),
    ]
    for r, want in zip(out, (frames[0], frames[2])):
        assert np.array_equal(decode_image(bytes(r.payload)), want)
        assert (r.width, r.height) == (2, 2)


def test_video_frame_stats_query(spark):
    from dipa_collaborative_pulsar_idps_spark.queries import REGISTRY
    from dipa_collaborative_pulsar_idps_spark.queries.registry import _load_all

    _load_all()
    rows = REGISTRY["video_frame_stats"].fn(spark, "/root/testdata/sf0.001").collect()
    assert rows, "stream videos must yield frame stats"
    assert all(r.frames_sampled == 2 for r in rows)  # ceil(4/2) per stream video


def test_incremental_summary_merge_equals_direct(spark):
    """merge(partials over any disjoint split) == single-pass aggregate,
    and HLL distinct sketches union to the full-data sketch estimate."""
    from decimal import Decimal

    from dipa_collaborative_pulsar_idps_spark.operators.incremental import (
        finalize_summary,
        merge_distinct_sketches,
        merge_summaries,
        partial_distinct_sketch,
        partial_summary,
    )

    rows = [
        (f"k{i % 3}", Decimal(f"{(i * 37) % 500}.{i % 100:02d}"), f"u{i % 17}")
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "k string, price decimal(18,2), user string")
    direct = {
        r.k: r
        for r in finalize_summary(partial_summary(df, ["k"], "price")).collect()
    }
    # three-way uneven split (by modulus of a hash-ish expression)
    parts = [
        partial_summary(df.where(F.crc32("user") % 3 == i), ["k"], "price")
        for i in range(3)
    ]
    merged = {r.k: r for r in finalize_summary(merge_summaries(*parts)).collect()}
    assert set(merged) == set(direct)
    for k in direct:
        for c in ("n_rows", "n_notnull", "m_sum", "m_min", "m_max", "m_avg"):
            assert merged[k][c] == direct[k][c], (k, c)

    full = {
        r.k: r.estimate
        for r in merge_distinct_sketches(
            partial_distinct_sketch(df, ["k"], "user")
        ).collect()
    }
    sk_parts = [
        partial_distinct_sketch(df.where(F.crc32("user") % 3 == i), ["k"], "user")
        for i in range(3)
    ]
    merged_sk = {r.k: r.estimate for r in merge_distinct_sketches(*sk_parts).collect()}
    assert merged_sk == full  # sketch union is lossless vs single-pass sketch
    assert all(est == 17 for est in full.values())  # HLL exact at tiny cardinality


def test_profile_table_generic(spark):
    """Generic profiler on a mixed-type frame with nulls: exact counts and
    portable min/max representations per column."""
    import datetime as _dt

    from dipa_collaborative_pulsar_idps_spark.operators.profile import profile_table

    rows = [
        (1, "a", 2.5, _dt.datetime(2024, 1, 2, 3)),
        (2, None, 10.0, _dt.datetime(2024, 2, 2)),
        (3, "b", None, None),
        (4, "a", 9999.0, _dt.datetime(2023, 12, 31)),
    ]
    df = spark.createDataFrame(rows, "k long, s string, d double, ts timestamp")
    out = {r.column_name: r for r in profile_table(df).collect()}
    assert out["k"].n_nulls == 0 and out["k"].n_distinct == 4
    assert out["k"].min_repr == "1" and out["k"].max_repr == "4"
    assert out["s"].n_nulls == 1 and out["s"].n_distinct == 2
    assert out["s"].min_repr == "a" and out["s"].max_repr == "b"
    # double through DECIMAL(18,2): numeric extremes, not lexicographic
    assert out["d"].min_repr == "2.50" and out["d"].max_repr == "9999.00"
    assert out["ts"].min_repr == "2023-12-31" and out["ts"].max_repr == "2024-02-02"
    # plan contract: distinct Expand stays hash-aggregated (2 sort nodes
    # max = the keyless min/max pair; formatted plans print nodes twice)
    from dipa_collaborative_pulsar_idps_spark.plans.explain import plan_text

    txt = plan_text(profile_table(df))
    assert txt.count("SortAggregate") <= 4 and "Expand" in txt


def test_exact_quantiles_matches_percentile(spark):
    """Distributed-selection quantiles == Spark's exact percentile
    aggregate (PERCENTILE_CONT semantics), including ties and
    interpolated positions."""
    from dipa_collaborative_pulsar_idps_spark.operators.selection import (
        exact_quantiles,
    )

    df = spark.range(10_001).select(
        (F.pmod(F.xxhash64("id"), F.lit(997)) * 0.5).alias("v")
    )
    qs = [0.1, 0.25, 0.5, 0.9, 0.99]
    got = exact_quantiles(df, "v", qs, n_parts=8)
    want = df.agg(
        F.percentile("v", F.array(*[F.lit(q) for q in qs]))
    ).collect()[0][0]
    assert all(abs(a - b) < 1e-9 for a, b in zip(got, want))
    # heavy ties: 3 distinct values only
    df2 = spark.range(999).select(F.pmod("id", F.lit(3)).cast("double").alias("v"))
    got2 = exact_quantiles(df2, "v", qs, n_parts=4)
    want2 = df2.agg(
        F.percentile("v", F.array(*[F.lit(q) for q in qs]))
    ).collect()[0][0]
    assert all(abs(a - b) < 1e-9 for a, b in zip(got2, want2))


def test_grouped_exact_quantiles_matches_percentile(spark):
    """Per-group distributed selection == per-group exact percentile
    aggregate, including interpolated positions, ties, and a group whose
    size is smaller than the range count."""
    from dipa_collaborative_pulsar_idps_spark.operators.selection import (
        grouped_exact_quantiles,
    )

    df = spark.range(8_000).select(
        F.pmod("id", F.lit(3)).cast("string").alias("g"),
        (F.pmod(F.xxhash64("id"), F.lit(991)) * 0.25).alias("v"),
    ).union(
        # tiny group: 2 rows (fewer than ranges)
        spark.range(2).select(
            F.lit("tiny").alias("g"), F.col("id").cast("double").alias("v")
        )
    )
    qs = [0.05, 0.5, 0.95]
    got = grouped_exact_quantiles(df, ["g"], "v", qs, n_parts=8)
    want = {
        r.g: r.pc
        for r in df.groupBy("g")
        .agg(F.percentile("v", F.array(*[F.lit(q) for q in qs])).alias("pc"))
        .collect()
    }
    assert set(got) == {(g,) for g in want}
    for g, vs in got.items():
        assert all(abs(a - b) < 1e-9 for a, b in zip(vs, want[g[0]]))


def test_video_malformed_stream_degrades_not_fails(spark):
    """A truncated/garbage-trailing 'P6' payload must degrade per-row
    (features → deterministic stub; extract_frames → skip that video
    entirely, no partial frames), never fail the task."""
    import numpy as np

    from dipa_collaborative_pulsar_idps_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        _video_features_stub,
        encode_ppm_stream,
        extract_frames,
        video_features,
    )

    frames = [np.full((2, 2, 3), v, dtype=np.uint8) for v in (5, 9)]
    good = encode_ppm_stream(frames)
    truncated = good[:-5]          # torn final frame
    trailer = good + b"garbage!"   # valid frames + junk tail
    for bad in (truncated, trailer, b"P6 nonsense"):
        f = video_features(bad)
        assert len(f) == 16
        assert list(f) == list(_video_features_stub(bad))  # deterministic
    media = spark.createDataFrame(
        [
            ("ok", "video", bytearray(good), 2, 2, 1000),
            ("torn", "video", bytearray(truncated), 2, 2, 1000),
            ("tail", "video", bytearray(trailer), 2, 2, 1000),
        ],
        MEDIA_SCHEMA,
    )
    out = extract_frames(media, every_n=1).collect()
    # only the intact video yields frames; torn/tail contribute NO rows
    assert sorted({r.media_id for r in out}) == ["ok"]
    assert [r.frame_index for r in sorted(out, key=lambda r: r.frame_index)] == [0, 1]


def test_grouped_exact_quantiles_rejects_high_cardinality(spark):
    """The grouped selection is a low-cardinality REPORT aggregate: a
    per-key-sized group column must fail loudly before flooding the
    driver, not collect |keys|x|ranges| count rows."""
    import pytest as _pytest

    from dipa_collaborative_pulsar_idps_spark.operators.selection import (
        grouped_exact_quantiles,
    )

    df = spark.range(5_000).select(
        F.col("id").cast("string").alias("g"),
        F.col("id").cast("double").alias("v"),
    )
    with _pytest.raises(ValueError, match="low-cardinality"):
        grouped_exact_quantiles(df, ["g"], "v", [0.5], max_count_rows=1_000)


def test_grouped_exact_quantiles_null_group_keys(spark):
    """groupBy keeps NULL group keys, so the selection lookup must be
    null-safe end-to-end: a NULL-keyed group gets its quantiles like any
    other group (regression: the need-row join used to drop them and the
    final interp raised KeyError (None,))."""
    from dipa_collaborative_pulsar_idps_spark.operators.selection import (
        grouped_exact_quantiles,
    )

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), (None, 10.0), (None, 20.0), (None, 40.0)],
        "g string, v double",
    )
    got = grouped_exact_quantiles(df, ["g"], "v", [0.5], n_parts=4)
    assert got[("a",)] == [2.0]
    assert got[(None,)] == [20.0]


def test_grouped_exact_quantiles_df_matches_percentile(spark):
    """The fully-distributed (no driver fan-in) per-group selection ==
    per-group exact percentile aggregate — including interpolated
    positions, heavy ties, a group smaller than the range count, a NULL
    group key, and a HIGH-cardinality key the dict API refuses."""
    from dipa_collaborative_pulsar_idps_spark.operators.selection import (
        grouped_exact_quantiles_df,
    )

    qs = [0.05, 0.5, 0.95]
    df = (
        spark.range(8_000)
        .select(
            F.pmod("id", F.lit(3)).cast("string").alias("g"),
            (F.pmod(F.xxhash64("id"), F.lit(991)) * 0.25).alias("v"),
        )
        .union(
            spark.range(2).select(
                F.lit("tiny").alias("g"), F.col("id").cast("double").alias("v")
            )
        )
        .union(
            spark.range(7).select(
                F.lit(None).cast("string").alias("g"),
                (F.col("id") * 3.0).alias("v"),
            )
        )
    )
    got = {
        (r.g, r.q): r.value
        for r in grouped_exact_quantiles_df(df, ["g"], "v", qs, n_parts=8).collect()
    }
    want = {
        r.g: r.pc
        for r in df.groupBy("g")
        .agg(F.percentile("v", F.array(*[F.lit(q) for q in qs])).alias("pc"))
        .collect()
    }
    assert {g for g, _ in got} == set(want)
    for g, pcs in want.items():
        for q, w in zip(qs, pcs):
            assert abs(got[(g, q)] - w) < 1e-9, (g, q)

    # high-cardinality per-key shape (the whole point of the DF form):
    # 2,000 distinct keys, a handful of rows each — driver holds nothing.
    hk = spark.range(10_000).select(
        F.pmod("id", F.lit(2_000)).cast("string").alias("g"),
        (F.pmod(F.xxhash64("id"), F.lit(509)) * 0.5).alias("v"),
    )
    got_hk = {
        (r.g, r.q): r.value
        for r in grouped_exact_quantiles_df(hk, ["g"], "v", [0.5, 0.9]).collect()
    }
    want_hk = {
        r.g: r.pc
        for r in hk.groupBy("g")
        .agg(F.percentile("v", F.array(F.lit(0.5), F.lit(0.9))).alias("pc"))
        .collect()
    }
    assert len(want_hk) == 2_000 and len(got_hk) == 4_000
    for g, (w50, w90) in want_hk.items():
        assert abs(got_hk[(g, 0.5)] - w50) < 1e-9
        assert abs(got_hk[(g, 0.9)] - w90) < 1e-9


def test_grouped_exact_quantiles_window_matches_percentile(spark):
    """The WINDOW strategy (high-cardinality/small-group regime: one
    key-partitioned sort, no range metadata) == per-group exact
    percentile — interpolated positions, ties, single-row groups, NULL
    keys, and a 2,000-key sweep; and it agrees with the range strategy
    exactly on a shared case."""
    from dipa_collaborative_pulsar_idps_spark.operators.selection import (
        grouped_exact_quantiles_df,
        grouped_exact_quantiles_window,
    )

    qs = [0.05, 0.5, 0.95]
    df = (
        spark.range(6_000)
        .select(
            F.pmod("id", F.lit(2_000)).cast("string").alias("g"),
            (F.pmod(F.xxhash64("id"), F.lit(509)) * 0.5).alias("v"),
        )
        .union(
            spark.range(1).select(
                F.lit(None).cast("string").alias("g"),
                (F.col("id") + 7.0).alias("v"),
            )
        )
    )
    got = {
        (r.g, r.q): r.value
        for r in grouped_exact_quantiles_window(df, ["g"], "v", qs).collect()
    }
    want = {
        r.g: r.pc
        for r in df.groupBy("g")
        .agg(F.percentile("v", F.array(*[F.lit(q) for q in qs])).alias("pc"))
        .collect()
    }
    assert len(want) == 2_001 and len(got) == 3 * 2_001
    for g, pcs in want.items():
        for q, w in zip(qs, pcs):
            assert abs(got[(g, q)] - w) < 1e-9, (g, q)

    # strategy equivalence: identical values (same IEEE interpolation)
    small = spark.range(999).select(
        F.pmod("id", F.lit(3)).cast("string").alias("g"),
        F.pmod("id", F.lit(7)).cast("double").alias("v"),
    )
    a = {
        (r.g, r.q): r.value
        for r in grouped_exact_quantiles_window(small, ["g"], "v", qs).collect()
    }
    b = {
        (r.g, r.q): r.value
        for r in grouped_exact_quantiles_df(small, ["g"], "v", qs, n_parts=4).collect()
    }
    assert a == b


def test_grouped_quantiles_multi_column_keys(spark):
    """Composite group keys (incl. a NULL component) work through both
    strategies — the struct-packed key preserves every column and SQL
    GROUP BY null semantics."""
    from dipa_collaborative_pulsar_idps_spark.operators.selection import (
        grouped_exact_quantiles_df,
        grouped_exact_quantiles_window,
    )

    df = spark.createDataFrame(
        [
            ("x", 1, 1.0), ("x", 1, 3.0), ("x", 2, 10.0),
            (None, 1, 5.0), (None, 1, 9.0), ("y", None, 2.0),
        ],
        "a string, b int, v double",
    )
    want = {
        (r.a, r.b): r.pc[0]
        for r in df.groupBy("a", "b")
        .agg(F.percentile("v", F.array(F.lit(0.5))).alias("pc"))
        .collect()
    }
    for fn in (
        lambda: grouped_exact_quantiles_window(df, ["a", "b"], "v", [0.5]),
        lambda: grouped_exact_quantiles_df(df, ["a", "b"], "v", [0.5], n_parts=2),
    ):
        got = {(r.a, r.b): r.value for r in fn().collect()}
        assert set(got) == set(want)
        for k, w in want.items():
            assert abs(got[k] - w) < 1e-12, k


def test_grouped_exact_quantiles_auto_routes_and_matches(spark, monkeypatch):
    """The auto router (a) picks the window strategy for many small
    groups and the range strategy for a task-outgrowing group, certified
    by spying on which manual form runs, and (b) returns values
    identical to BOTH manual forms in both regimes — the router never
    changes the answer, only the plan."""
    from dipa_collaborative_pulsar_idps_spark.operators import selection as sel

    calls = []
    real_w, real_df = sel.grouped_exact_quantiles_window, sel.grouped_exact_quantiles_df
    monkeypatch.setattr(
        sel, "grouped_exact_quantiles_window",
        lambda *a, **k: calls.append("window") or real_w(*a, **k),
    )
    monkeypatch.setattr(
        sel, "grouped_exact_quantiles_df",
        lambda *a, **k: calls.append("range") or real_df(*a, **k),
    )
    qs = [0.1, 0.5, 0.9]
    # many small groups (500 keys x ~12 rows) -> window
    small = spark.range(6_000).select(
        F.pmod("id", F.lit(500)).cast("string").alias("g"),
        (F.pmod(F.xxhash64("id"), F.lit(997)) * 0.25).alias("v"),
    )
    # few giant groups (3 keys x 2000 rows), threshold lowered so 2000
    # "outgrows a task" -> range
    giant = spark.range(6_000).select(
        F.pmod("id", F.lit(3)).cast("string").alias("g"),
        (F.pmod(F.xxhash64("id"), F.lit(997)) * 0.25).alias("v"),
    )
    auto_small = {
        (r.g, r.q): r.value
        for r in sel.grouped_exact_quantiles_auto(small, ["g"], "v", qs).collect()
    }
    assert calls == ["window"]
    auto_giant = {
        (r.g, r.q): r.value
        for r in sel.grouped_exact_quantiles_auto(
            giant, ["g"], "v", qs, max_rows_per_group=1_000, n_parts=8
        ).collect()
    }
    assert calls == ["window", "range"]
    for df_in, got in ((small, auto_small), (giant, auto_giant)):
        w = {(r.g, r.q): r.value for r in real_w(df_in, ["g"], "v", qs).collect()}
        d = {
            (r.g, r.q): r.value
            for r in real_df(df_in, ["g"], "v", qs, n_parts=8).collect()
        }
        assert got == w == d
    # picker unit contract
    assert sel.pick_grouped_quantile_strategy(10, 100) == "window"
    assert sel.pick_grouped_quantile_strategy(100, 100) == "window"
    assert sel.pick_grouped_quantile_strategy(101, 100) == "range"
    # all-NULL values: empty long frame, correct columns, no crash
    empty = spark.createDataFrame(
        [("a", None), ("b", None)], "g string, v double"
    )
    out = sel.grouped_exact_quantiles_auto(empty, ["g"], "v", qs)
    assert out.columns == ["g", "q", "value"] and out.count() == 0


def test_grouped_exact_quantiles_auto_lazy_and_route_memo(spark):
    """r13 optimization contracts of the auto router: (a) the lazy mode
    (persisted_out) returns values identical to the eager default in
    BOTH regimes; (b) memo_key memoizes only the BRANCH — a repeat call
    is a registry hit that skips the probe (no new persist handle in the
    window branch) and still returns identical values; (c) clearing the
    memos forgets it."""
    import pytest as _pytest

    from dipa_collaborative_pulsar_idps_spark import memo
    from dipa_collaborative_pulsar_idps_spark.operators import selection as sel
    from dipa_collaborative_pulsar_idps_spark.queries import clear_all_caches

    qs = [0.1, 0.5, 0.9]
    small = spark.range(6_000).select(
        F.pmod("id", F.lit(500)).cast("string").alias("g"),
        (F.pmod(F.xxhash64("id"), F.lit(997)) * 0.25).alias("v"),
    )
    giant = spark.range(6_000).select(
        F.pmod("id", F.lit(3)).cast("string").alias("g"),
        (F.pmod(F.xxhash64("id"), F.lit(997)) * 0.25).alias("v"),
    )
    for df_in, kwargs in (
        (small, {}),
        (giant, {"max_rows_per_group": 1_000, "n_parts": 8}),
    ):
        eager = {
            (r.g, r.q): r.value
            for r in sel.grouped_exact_quantiles_auto(df_in, ["g"], "v", qs, **kwargs).collect()
        }
        handles: list = []
        lazy = {
            (r.g, r.q): r.value
            for r in sel.grouped_exact_quantiles_auto(
                df_in, ["g"], "v", qs, persisted_out=handles,
                memo_key="t:lazy", **kwargs
            ).collect()
        }
        assert lazy == eager and handles  # first call probes → persist handed back
        # memoized repeat: window branch hands back NO new persist (the
        # sliver has one consumer), range branch still persists its sliver
        handles2: list = []
        hits, _ = memo.counts()
        warm = {
            (r.g, r.q): r.value
            for r in sel.grouped_exact_quantiles_auto(
                df_in, ["g"], "v", qs, persisted_out=handles2,
                memo_key="t:lazy", **kwargs
            ).collect()
        }
        assert warm == eager
        assert memo.counts()[0]["route"] == hits["route"] + 1
        branch = memo.memo(spark, ("route", "t:lazy"), lambda: _pytest.fail("route forgotten"))
        assert bool(handles2) == (branch == "range")
        for h in handles + handles2:
            h.unpersist()
        clear_all_caches()
        assert memo.memo(spark, ("route", "t:lazy"), lambda: None) is None  # forgotten
        clear_all_caches()


def test_media_ops_degrade_on_corrupt_blobs(spark):
    """One corrupt blob of ANY modality degrades its own row (stub
    features / pass-through resize), never the task — and the fused
    pipeline stays equivalent to resize ∘ extract on corrupt input."""
    from dipa_collaborative_pulsar_idps_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        _video_features_stub,
        media_feature_pipeline,
        resize_images,
    )

    rows = [
        ("good", "image", bytearray(b"P6\n2 2\n255\n" + bytes(12)), 2, 2, None),
        ("torn", "image", bytearray(b"P6\n9 9\n255\nxx"), 9, 9, None),  # truncated
        ("png", "image", bytearray(b"\x89PNG\r\n\x1a\n" + b"\0" * 16), 4, 4, None),
        # scan references Huffman tables the stream never defines (KeyError net)
        (
            "jpg",
            "image",
            bytearray(
                b"\xff\xd8\xff\xc0\x00\x0b\x08\x00\x08\x00\x08\x01\x01\x11\x00"
                b"\xff\xda\x00\x08\x01\x01\x00\x00\x3f\x00\xaa\xff\xd9"
            ),
            8,
            8,
            None,
        ),
        ("wav", "audio", bytearray(b"RIFFxxxxWAVE"), None, None, 100),  # no fmt/data
    ]
    m = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r.media_id: r for r in extract_features(m).collect()}
    assert len(feats) == 5  # no task failure, every row present
    for bad in ("torn", "png", "jpg", "wav"):
        payload = bytes(dict((r[0], r[2]) for r in rows)[bad])
        assert feats[bad].feature == list(_video_features_stub(payload))
    assert feats["good"].feature[0] == 2.0  # real decode still real

    resized = {r.media_id: r for r in resize_images(m, 4, 4).collect()}
    assert bytes(resized["torn"].payload) == bytes(rows[1][2])  # untouched
    assert resized["good"].width == 4 and resized["torn"].width == 9

    fused = {r.media_id: r for r in media_feature_pipeline(m, 4, 4).collect()}
    composed = {
        r.media_id: r for r in extract_features(resize_images(m, 4, 4)).collect()
    }
    for mid in fused:
        assert fused[mid].feature == composed[mid].feature, mid
        assert fused[mid].n_bytes == composed[mid].n_bytes, mid


def test_png_decode_golden_hand_filtered():
    """Golden known-pixel PNG: scanline filters computed BY HAND from the
    PNG spec (one row per filter type 0-4), zlib'd into a hand-assembled
    chunk stream — decoding must reproduce the literal pixel array. This
    certifies the de-filter math independently of our own encoder."""
    import struct
    import zlib

    import numpy as np

    from dipa_collaborative_pulsar_idps_spark.functions.multimodal import (
        _PNG_SIG,
        _decode_png,
        _png_chunk,
        decode_image,
    )

    # 2×5 RGB image; per-row (filter, hand-filtered bytes):
    # r0 None : raw (10,20,30)(40,50,60)
    # r1 Up   : raw (15,25,35)(45,55,65)  → raw−above = (5,5,5)(5,5,5)
    # r2 Sub  : raw (20,30,40)(30,40,50)  → px0 raw, px1−px0 = (10,10,10)
    # r3 Avg  : raw (30,40,50)(50,60,70)  → −⌊(left+up)/2⌋ = (20,25,30)(20,20,20)
    # r4 Paeth: raw (35,45,55)(60,70,80)  → predictor=up both → (5,5,5)(10,10,10)
    scanlines = bytes(
        [0, 10, 20, 30, 40, 50, 60]
        + [2, 5, 5, 5, 5, 5, 5]
        + [1, 20, 30, 40, 10, 10, 10]
        + [3, 20, 25, 30, 20, 20, 20]
        + [4, 5, 5, 5, 10, 10, 10]
    )
    png = (
        _PNG_SIG
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 5, 8, 2, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(scanlines))
        + _png_chunk(b"IEND", b"")
    )
    expected = np.array(
        [
            [(10, 20, 30), (40, 50, 60)],
            [(15, 25, 35), (45, 55, 65)],
            [(20, 30, 40), (30, 40, 50)],
            [(30, 40, 50), (50, 60, 70)],
            [(35, 45, 55), (60, 70, 80)],
        ],
        dtype=np.uint8,
    )
    assert (_decode_png(png) == expected).all()
    assert (decode_image(png) == expected).all()


def test_png_roundtrip_and_color_types():
    """encode_png → decode_image is lossless for noise, gradients, and
    flat fields (the min-SAD heuristic picks different filters per shape);
    gray / gray+alpha / RGBA / paletted PNGs decode to the spec's RGB
    projection; 16-bit depth decodes natively (high byte kept — libpng
    strip_16 semantics) and Adam7 interlace decodes natively from a
    spec-derived pass construction built independently of the decoder;
    sub-8-bit depths stay behind the honest capability gate."""
    import struct
    import zlib

    import numpy as np
    import pytest as _pytest

    from dipa_collaborative_pulsar_idps_spark.functions.multimodal import (
        _PNG_SIG,
        _decode_png,
        _png_chunk,
        encode_png,
    )

    rng = np.random.default_rng(11)
    y, x = np.mgrid[0:24, 0:32]
    for img in [
        rng.integers(0, 256, (17, 23, 3)).astype(np.uint8),
        np.stack([(x * 8) % 256, (y * 10) % 256, np.full_like(x, 9)], -1).astype(
            np.uint8
        ),
        np.full((8, 8, 3), 77, np.uint8),
        rng.integers(0, 256, (1, 1, 3)).astype(np.uint8),
    ]:
        assert (_decode_png(encode_png(img)) == img).all()

    def manual(w, h, ctype, pix, plte=None):
        raw = b"".join(b"\x00" + pix[r].tobytes() for r in range(h))
        out = _PNG_SIG + _png_chunk(
            b"IHDR", struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
        )
        if plte is not None:
            out += _png_chunk(b"PLTE", plte.tobytes())
        return out + _png_chunk(b"IDAT", zlib.compress(raw)) + _png_chunk(b"IEND", b"")

    g = rng.integers(0, 256, (4, 5, 1)).astype(np.uint8)
    assert (_decode_png(manual(5, 4, 0, g)) == np.repeat(g, 3, -1)).all()
    ga = rng.integers(0, 256, (4, 5, 2)).astype(np.uint8)
    assert (_decode_png(manual(5, 4, 4, ga)) == np.repeat(ga[..., :1], 3, -1)).all()
    rgba = rng.integers(0, 256, (4, 5, 4)).astype(np.uint8)
    assert (_decode_png(manual(5, 4, 6, rgba)) == rgba[..., :3]).all()
    plte = rng.integers(0, 256, (7, 3)).astype(np.uint8)
    idx = rng.integers(0, 7, (4, 5, 1)).astype(np.uint8)
    assert (_decode_png(manual(5, 4, 3, idx, plte)) == plte[idx[..., 0]]).all()

    # 16-bit depth decodes natively: high byte kept (libpng strip_16)
    r16 = rng.integers(0, 65536, (4, 5, 3)).astype(">u2")
    raw16 = b"".join(b"\x00" + r16[r].tobytes() for r in range(4))
    p16 = (
        _PNG_SIG
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 5, 4, 16, 2, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(raw16))
        + _png_chunk(b"IEND", b"")
    )
    assert (_decode_png(p16) == (r16 >> 8).astype(np.uint8)).all()

    # Adam7 decodes natively. The pass construction below follows the
    # spec's pass geometry directly (start/step tables transcribed from
    # PNG §8.2), NOT the decoder's table — a shared systematic error in
    # the geometry would show as a pixel-position mismatch here.
    h7, w7 = 10, 9
    img7 = (np.arange(h7 * w7 * 3, dtype=np.uint64) * 97 % 256).astype(
        np.uint8
    ).reshape(h7, w7, 3)
    spec_passes = [  # (x_start, y_start, x_step, y_step) per PNG §8.2
        (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
    ]
    raw7 = b""
    for x0, y0, dx, dy in spec_passes:
        sub = img7[y0::dy, x0::dx]
        if sub.size == 0:
            continue  # empty pass contributes no bytes
        raw7 += b"".join(b"\x00" + sub[r].tobytes() for r in range(sub.shape[0]))
    p7 = (
        _PNG_SIG
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w7, h7, 8, 2, 0, 0, 1))
        + _png_chunk(b"IDAT", zlib.compress(raw7))
        + _png_chunk(b"IEND", b"")
    )
    assert (_decode_png(p7) == img7).all()

    # sub-8-bit depths decode natively (gray scaled to full range;
    # MSB-first packing with row-end padding bits discarded per spec)
    def manual_depth(w_, h_, depth_, ctype_, rows, plte_=None):
        raw = b"".join(b"\x00" + r for r in rows)
        out = _PNG_SIG + _png_chunk(
            b"IHDR", struct.pack(">IIBBBBB", w_, h_, depth_, ctype_, 0, 0, 0)
        )
        if plte_ is not None:
            out += _png_chunk(b"PLTE", plte_.tobytes())
        return out + _png_chunk(b"IDAT", zlib.compress(raw)) + _png_chunk(b"IEND", b"")

    # 1-bit gray, 10 wide (2 bytes/row, 6 pad bits): alternating pattern
    p1 = manual_depth(10, 2, 1, 0, [b"\xaa\x80", b"\x55\x40"])
    want_row0 = np.array([255, 0] * 5, np.uint8)
    got = _decode_png(p1)
    assert (got[0, :, 0] == want_row0).all() and (got[1, :, 0] == 255 - want_row0).all()

    # 2-bit gray: levels 0..3 scale to 0/85/170/255
    p2 = manual_depth(4, 1, 2, 0, [bytes([0b00011011])])
    assert (_decode_png(p2)[0, :, 0] == [0, 85, 170, 255]).all()

    # 4-bit palette: two indexed pixels per byte
    plte4 = np.array([[10, 20, 30], [200, 100, 50], [1, 2, 3]], np.uint8)
    p4 = manual_depth(3, 1, 4, 3, [bytes([0x01, 0x20])], plte4)
    assert (_decode_png(p4)[0] == plte4[[0, 1, 2]]).all()

    # residual capability gate: an illegal/unknown depth still gates
    bad = _PNG_SIG + _png_chunk(
        b"IHDR", struct.pack(">IIBBBBB", 2, 2, 3, 0, 0, 0, 0)
    )
    with _pytest.raises(NotImplementedError):
        _decode_png(bad + _png_chunk(b"IEND", b""))


def test_bmp_roundtrip_including_row_padding():
    """encode_bmp → _decode_bmp is lossless, including odd widths whose
    rows need 4-byte padding."""
    import numpy as np

    from dipa_collaborative_pulsar_idps_spark.functions.multimodal import (
        _decode_bmp,
        encode_bmp,
    )

    rng = np.random.default_rng(3)
    for shape in [(5, 7, 3), (24, 32, 3), (1, 1, 3)]:
        img = rng.integers(0, 256, shape).astype(np.uint8)
        assert (_decode_bmp(encode_bmp(img)) == img).all()


def _bits_to_entropy(bitstr: str) -> bytes:
    """Pack a hand-written bit string into the byte-stuffed entropy form."""
    bitstr += "1" * (-len(bitstr) % 8)  # pad with 1s per T.81
    raw = bytes(int(bitstr[i : i + 8], 2) for i in range(0, len(bitstr), 8))
    return raw.replace(b"\xff", b"\xff\x00")


def _jpeg_seg(marker: int, body: bytes) -> bytes:
    import struct as _struct

    return bytes([0xFF, marker]) + _struct.pack(">H", len(body) + 2) + body


def test_jpeg_decoder_golden_hand_assembled_dc_only():
    """Spec-derived golden, independent of our encoder: a single-component
    8×8 JPEG with an all-ones quantization table and the Annex-K luma
    Huffman tables, whose entropy bits are written BY HAND from T.81
    (DC category 9 code '1111110' + 9 magnitude bits of 256, AC EOB
    '1010'). DC-only dequantizes to a uniform block: pixel = DC/8 + 128 =
    160 exactly. Certifies canonical-code construction, bit parsing,
    EXTEND, dequantization, and the IDCT path with no self-consistency
    loophole."""
    import struct

    import numpy as np

    from dipa_collaborative_pulsar_idps_spark.functions.jpeg import (
        _AC_LUMA,
        _DC_LUMA,
        decode_jpeg,
    )

    qt = bytes([0]) + bytes([1] * 64)
    sof = bytes([8]) + struct.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0])
    dht_dc = bytes([0x00]) + bytes(_DC_LUMA[0]) + bytes(_DC_LUMA[1])
    dht_ac = bytes([0x10]) + bytes(_AC_LUMA[0]) + bytes(_AC_LUMA[1])
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    entropy = _bits_to_entropy("1111110" + "100000000" + "1010")
    jpg = (
        b"\xff\xd8"
        + _jpeg_seg(0xDB, qt)
        + _jpeg_seg(0xC0, sof)
        + _jpeg_seg(0xC4, dht_dc)
        + _jpeg_seg(0xC4, dht_ac)
        + _jpeg_seg(0xDA, sos)
        + entropy
        + b"\xff\xd9"
    )
    out = decode_jpeg(jpg)
    assert out.shape == (8, 8, 3)
    assert (out == 160).all(), np.unique(out)


def test_jpeg_decoder_420_subsampling_and_restart_markers():
    """Two more hand-assembled spec paths the 4:4:4 encoder never emits:
    (a) a 16×16 4:2:0 three-component MCU (Y×4 + Cb + Cr block order,
    chroma upsampling) of uniform gray, and (b) a two-MCU grayscale scan
    with DRI=1 — an RST0 marker between MCUs must realign the bit reader
    and reset the DC predictor (both MCUs carry the same absolute-DC
    bits, which is only correct after a reset)."""
    import struct

    from dipa_collaborative_pulsar_idps_spark.functions.jpeg import (
        _AC_CHROMA,
        _AC_LUMA,
        _DC_CHROMA,
        _DC_LUMA,
        decode_jpeg,
    )

    dhts = (
        _jpeg_seg(0xC4, bytes([0x00]) + bytes(_DC_LUMA[0]) + bytes(_DC_LUMA[1]))
        + _jpeg_seg(0xC4, bytes([0x10]) + bytes(_AC_LUMA[0]) + bytes(_AC_LUMA[1]))
        + _jpeg_seg(0xC4, bytes([0x01]) + bytes(_DC_CHROMA[0]) + bytes(_DC_CHROMA[1]))
        + _jpeg_seg(0xC4, bytes([0x11]) + bytes(_AC_CHROMA[0]) + bytes(_AC_CHROMA[1]))
    )
    qts = _jpeg_seg(0xDB, bytes([0]) + bytes([1] * 64)) + _jpeg_seg(
        0xDB, bytes([1]) + bytes([1] * 64)
    )

    # (a) 4:2:0, Y=160 (DC 256, cat 9), Cb=Cr=128 (DC diff 0, cat 0).
    # Per-MCU block order Y1 Y2 Y3 Y4 Cb Cr; Y2-4 diffs are 0.
    sof = bytes([8]) + struct.pack(">HH", 16, 16) + bytes(
        [3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1]
    )
    sos = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    y1 = "1111110" + "100000000" + "1010"   # DC cat9=256 + AC EOB (luma)
    yn = "00" + "1010"                       # DC cat0 + EOB (luma)
    ch = "00" + "00"                         # DC cat0 + EOB (chroma)
    jpg = (
        b"\xff\xd8" + qts
        + _jpeg_seg(0xC0, sof) + dhts + _jpeg_seg(0xDA, sos)
        + _bits_to_entropy(y1 + yn * 3 + ch * 2)
        + b"\xff\xd9"
    )
    out = decode_jpeg(jpg)
    assert out.shape == (16, 16, 3) and (out == 160).all()

    # (b) grayscale 16×8 = two MCUs, DRI=1 → RST0 between them; each MCU
    # writes ABSOLUTE DC 256 (valid only because the predictor resets)
    sof_g = bytes([8]) + struct.pack(">HH", 8, 16) + bytes([1, 1, 0x11, 0])
    sos_g = bytes([1, 1, 0x00, 0, 63, 0])
    mcu = _bits_to_entropy("1111110" + "100000000" + "1010")
    jpg_g = (
        b"\xff\xd8"
        + _jpeg_seg(0xDB, bytes([0]) + bytes([1] * 64))
        + _jpeg_seg(0xC0, sof_g)
        + dhts
        + _jpeg_seg(0xDD, struct.pack(">H", 1))
        + _jpeg_seg(0xDA, sos_g)
        + mcu + b"\xff\xd0" + mcu
        + b"\xff\xd9"
    )
    out = decode_jpeg(jpg_g)
    assert out.shape == (8, 16, 3) and (out == 160).all()


def test_jpeg_gates_and_fill_bytes_r9():
    """Round-9 advisor closures on the segment walk and scan layout:
    (a) a non-interleaved multi-scan baseline JPEG (3-component SOF, one
    SOS per component) decodes NATIVELY — hand-assembled DC-only scans
    must reconstruct the uniform frame, including a 4:2:0 variant where
    the Y scan rasters the component's own 2×2-block grid;
    (a') a partially-interleaved scan (2 of 3 components) gates to PIL;
    (b) a 4-component (Adobe CMYK) frame gates instead of applying YCbCr
    math to CMYK;
    (c) legal 0xFF fill bytes padding a marker (T.81 B.1.1.2) are skipped,
    not misread as a marker code;
    (d) a single-component scan is NON-interleaved per T.81 A.2.2 — one
    8x8 block per MCU regardless of SOF sampling factors, so a grayscale
    JPEG declaring 2x2 sampling still decodes with correct geometry."""
    import struct

    import pytest as _pytest

    from dipa_collaborative_pulsar_idps_spark.functions.jpeg import (
        _AC_CHROMA,
        _AC_LUMA,
        _DC_CHROMA,
        _DC_LUMA,
        decode_jpeg,
    )

    qt = _jpeg_seg(0xDB, bytes([0]) + bytes([1] * 64))
    dhts = (
        _jpeg_seg(0xC4, bytes([0x00]) + bytes(_DC_LUMA[0]) + bytes(_DC_LUMA[1]))
        + _jpeg_seg(0xC4, bytes([0x10]) + bytes(_AC_LUMA[0]) + bytes(_AC_LUMA[1]))
        + _jpeg_seg(0xC4, bytes([0x01]) + bytes(_DC_CHROMA[0]) + bytes(_DC_CHROMA[1]))
        + _jpeg_seg(0xC4, bytes([0x11]) + bytes(_AC_CHROMA[0]) + bytes(_AC_CHROMA[1]))
    )
    entropy = _bits_to_entropy("1111110" + "100000000" + "1010")

    # (a) 3 per-component scans, 4:4:4 8×8: Y DC=256 (→160), Cb/Cr DC
    # diff 0 (→128) ⇒ uniform gray 160 after BT.601
    sof3 = bytes([8]) + struct.pack(">HH", 8, 8) + bytes(
        [3, 1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0]
    )
    sos1 = bytes([1, 1, 0x00, 0, 63, 0])
    scans = (
        _jpeg_seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0])) + entropy
        + _jpeg_seg(0xDA, bytes([1, 2, 0x11, 0, 63, 0])) + _bits_to_entropy("00" + "00")
        + _jpeg_seg(0xDA, bytes([1, 3, 0x11, 0, 63, 0])) + _bits_to_entropy("00" + "00")
    )
    jpg = b"\xff\xd8" + qt + _jpeg_seg(0xC0, sof3) + dhts + scans + b"\xff\xd9"
    out = decode_jpeg(jpg)
    assert out.shape == (8, 8, 3) and (out == 160).all()

    # (a) 4:2:0 multi-scan 16×16: the Y scan rasters ITS OWN 2×2-block
    # component grid (4 blocks: abs DC then 3 zero diffs); chroma scans
    # are one 8×8 block each
    sof420 = bytes([8]) + struct.pack(">HH", 16, 16) + bytes(
        [3, 1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0]
    )
    y_scan = _bits_to_entropy(
        "1111110" + "100000000" + "1010" + ("00" + "1010") * 3
    )
    scans420 = (
        _jpeg_seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0])) + y_scan
        + _jpeg_seg(0xDA, bytes([1, 2, 0x11, 0, 63, 0])) + _bits_to_entropy("00" + "00")
        + _jpeg_seg(0xDA, bytes([1, 3, 0x11, 0, 63, 0])) + _bits_to_entropy("00" + "00")
    )
    jpg = b"\xff\xd8" + qt + _jpeg_seg(0xC0, sof420) + dhts + scans420 + b"\xff\xd9"
    out = decode_jpeg(jpg)
    assert out.shape == (16, 16, 3) and (out == 160).all()

    # (a) truncated multi-scan (chroma scans missing) fails loudly
    jpg = b"\xff\xd8" + qt + _jpeg_seg(0xC0, sof3) + dhts + _jpeg_seg(
        0xDA, sos1
    ) + entropy + b"\xff\xd9"
    with _pytest.raises(ValueError, match="not all components"):
        decode_jpeg(jpg)

    # (a') partially-interleaved scan (2 of 3 components) → gate
    sos2 = bytes([2, 1, 0x00, 2, 0x11, 0, 63, 0])
    jpg = b"\xff\xd8" + qt + _jpeg_seg(0xC0, sof3) + dhts + _jpeg_seg(0xDA, sos2) + entropy + b"\xff\xd9"
    with _pytest.raises(NotImplementedError, match="partially-interleaved"):
        decode_jpeg(jpg)

    # (b) 4-component Adobe CMYK and YCCK frames decode natively via the
    # APP14 transform (values stored inverted per the Adobe convention:
    # RGB = channel × K / 255 on stored values — the libjpeg behavior)
    sof4 = bytes([8]) + struct.pack(">HH", 8, 8) + bytes(
        [4, 1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0, 4, 0x11, 0]
    )
    sos4 = bytes([4, 1, 0x00, 2, 0x00, 3, 0x00, 4, 0x00, 0, 63, 0])

    def app14(transform: int) -> bytes:
        return _jpeg_seg(
            0xEE, b"Adobe" + bytes([0, 100, 0, 0, 0, 0, transform])
        )

    def dc_block(value: int) -> str:  # abs DC (pred 0) + EOB, luma tables
        dc = (value - 128) * 8  # all-ones qt: pixel = DC/8 + 128
        size = abs(dc).bit_length()
        code = {9: "1111110", 10: "11111110"}[size]
        mag = dc if dc > 0 else dc + (1 << size) - 1
        return code + format(mag, f"0{size}b") + "1010"

    # CMYK (transform 0): stored C=M=Y=200, K=255 → RGB = 200·255/255
    ent4 = _bits_to_entropy(dc_block(200) * 3 + dc_block(255))
    jpg = (
        b"\xff\xd8" + app14(0) + qt + _jpeg_seg(0xC0, sof4) + dhts
        + _jpeg_seg(0xDA, sos4) + ent4 + b"\xff\xd9"
    )
    out = decode_jpeg(jpg)
    assert out.shape == (8, 8, 3) and (out == 200).all()

    # YCCK (transform 2): Y=180, Cb=Cr=128 (DC diff 0), K=255 → RGB 180
    ent_ycck = _bits_to_entropy(
        dc_block(180) + ("00" + "1010") * 2 + dc_block(255)
    )
    jpg = (
        b"\xff\xd8" + app14(2) + qt + _jpeg_seg(0xC0, sof4) + dhts
        + _jpeg_seg(0xDA, sos4) + ent_ycck + b"\xff\xd9"
    )
    out = decode_jpeg(jpg)
    assert out.shape == (8, 8, 3) and (out == 180).all()

    # (b') Adobe transform 0 with 3 components: stored RGB directly
    jpg = (
        b"\xff\xd8" + app14(0) + qt + _jpeg_seg(0xC0, sof3) + dhts
        + _jpeg_seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))
        + _bits_to_entropy(dc_block(160) + dc_block(96) + dc_block(200))
        + b"\xff\xd9"
    )
    out = decode_jpeg(jpg)
    assert out.shape == (8, 8, 3)
    assert (out[..., 0] == 160).all() and (out[..., 1] == 96).all() and (
        out[..., 2] == 200
    ).all()

    # a 5-component frame still gates
    sof5 = bytes([8]) + struct.pack(">HH", 8, 8) + bytes(
        [5] + sum(([i, 0x11, 0] for i in range(1, 6)), [])
    )
    sos5 = bytes([5] + sum(([i, 0x00] for i in range(1, 6)), []) + [0, 63, 0])
    jpg = b"\xff\xd8" + qt + _jpeg_seg(0xC0, sof5) + dhts + _jpeg_seg(0xDA, sos5) + entropy + b"\xff\xd9"
    with _pytest.raises(NotImplementedError, match="component"):
        decode_jpeg(jpg)

    # (c) 0xFF fill padding before markers decodes identically
    sof1 = bytes([8]) + struct.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0])
    jpg_pad = (
        b"\xff\xd8"
        + b"\xff" + qt                     # one fill byte before DQT
        + b"\xff\xff\xff" + _jpeg_seg(0xC0, sof1)  # three before SOF0
        + dhts
        + b"\xff" + _jpeg_seg(0xDA, sos1)
        + entropy
        + b"\xff\xd9"
    )
    out = decode_jpeg(jpg_pad)
    assert out.shape == (8, 8, 3) and (out == 160).all()

    # (d) grayscale frame declaring 2x2 sampling: the single-component
    # scan must still be one block per MCU (same golden bitstream as the
    # DC-only case — under the interleaved layout it would demand 4
    # blocks and decode garbage geometry)
    sof_g22 = bytes([8]) + struct.pack(">HH", 8, 8) + bytes([1, 1, 0x22, 0])
    jpg = b"\xff\xd8" + qt + _jpeg_seg(0xC0, sof_g22) + dhts + _jpeg_seg(0xDA, sos1) + entropy + b"\xff\xd9"
    out = decode_jpeg(jpg)
    assert out.shape == (8, 8, 3) and (out == 160).all()

    # (d') two-block 16-wide variant: raster is ceil(w/8) blocks across
    mcu = _bits_to_entropy("1111110" + "100000000" + "1010")
    sof_w = bytes([8]) + struct.pack(">HH", 8, 16) + bytes([1, 1, 0x22, 0])
    jpg = (
        b"\xff\xd8" + qt + _jpeg_seg(0xC0, sof_w) + dhts + _jpeg_seg(0xDA, sos1)
        + _bits_to_entropy(
            "1111110" + "100000000" + "1010"  # block 1: DC 256 abs
            + "00" + "1010"                    # block 2: DC diff 0
        )
        + b"\xff\xd9"
    )
    out = decode_jpeg(jpg)
    assert out.shape == (8, 16, 3) and (out == 160).all()


def test_jpeg_progressive_decode():
    """Progressive JPEG (SOF2) decodes natively, certified two ways.

    (1) Spectral-selection equivalence: encode_jpeg_progressive reorders
    the EXACT SAME quantized coefficients as encode_jpeg into DC + per-
    component AC scans, so the progressive decode must equal the baseline
    decode BIT-FOR-BIT across a quality ladder.

    (2) Hand-assembled successive-approximation golden (T.81 Annex G,
    independent of any encoder): a 2-block grayscale stream with four
    scans — DC first at Al=1 (diffs 128, −1 → stored 256/254), DC
    refinement (bits 0,1 → 254|1=255), AC first at Al=1 inserting
    coef zz1=+1 (stored 2) then EOB0s, and an AC refinement that spends a
    correction bit (2→3), inserts a new ±1 at zz3, and ends in an EOB
    run. Expected pixels derive from the spec IDCT of those hand-stated
    coefficients."""
    import struct

    import numpy as np

    from dipa_collaborative_pulsar_idps_spark.functions.jpeg import (
        _C,
        _DC_LUMA,
        _ZZ,
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    # (1) reorganization equivalence
    rng = np.random.default_rng(7)
    y, x = np.mgrid[0:40, 0:56]
    grad = np.stack([(x * 4) % 256, (y * 5) % 256, ((x + y) * 3) % 256], -1).astype(
        np.int16
    )
    img = np.clip(grad + rng.integers(-20, 21, grad.shape, dtype=np.int16), 0, 255).astype(
        np.uint8
    )
    for q in (50, 85, 95):
        assert (
            decode_jpeg(encode_jpeg_progressive(img, q)) == decode_jpeg(encode_jpeg(img, q))
        ).all()

    # (2) hand-assembled SA golden
    qt = _jpeg_seg(0xDB, bytes([0]) + bytes([1] * 64))
    dht_dc = _jpeg_seg(0xC4, bytes([0x00]) + bytes(_DC_LUMA[0]) + bytes(_DC_LUMA[1]))
    # custom AC table holding exactly the symbols the golden needs:
    # four len-2 codes 00→0x00(EOB0) 01→0x10(EOB1) 10→0x11 11→0x01
    ac_bits = [0, 4] + [0] * 14
    ac_vals = [0x00, 0x10, 0x11, 0x01]
    dht_ac = _jpeg_seg(0xC4, bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals))
    sof2 = _jpeg_seg(
        0xC2, bytes([8]) + struct.pack(">HH", 8, 16) + bytes([1, 1, 0x11, 0])
    )
    scans = (
        # DC first, Al=1: diffs +128 (size 8) and −1 (size 1)
        _jpeg_seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x01]))
        + _bits_to_entropy("111110" + "10000000" + "010" + "0")
        # DC refinement Ah=1→Al=0: bits 0 (DC stays 256), 1 (254|1=255)
        + _jpeg_seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x10]))
        + _bits_to_entropy("0" + "1")
        # AC first, band 1-63, Al=1: block1 inserts zz1=+1 (stored 2),
        # EOB0; block2 EOB0
        + _jpeg_seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0x01]))
        + _bits_to_entropy("11" + "1" + "00" + "00")
        # AC refinement Ah=1→Al=0: block1 symbol (r=1,s=1) sign +, then
        # the walk pays a correction bit at zz1 (set: 2→3), skips one
        # zero-history slot, lands the new +1 at zz3, then EOB0 (EOB-run
        # tail covers the block remainder); block2 EOB0
        + _jpeg_seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0x10]))
        + _bits_to_entropy("10" + "1" + "1" + "00" + "00")
    )
    jpg = b"\xff\xd8" + qt + sof2 + dht_dc + dht_ac + scans + b"\xff\xd9"
    out = decode_jpeg(jpg)
    assert out.shape == (8, 16, 3)
    # expected: spec IDCT of the hand-stated final coefficients
    zz1 = np.zeros(64)
    zz1[0], zz1[1], zz1[3] = 256, 3, 1
    full = np.zeros(64)
    full[_ZZ] = zz1
    block1 = np.clip(_C.T @ full.reshape(8, 8) @ _C + 128.0, 0, 255).astype(np.uint8)
    assert (out[:, :8, 0] == block1).all()
    assert (out[:, 8:] == 159).all()  # DC 255 → 128 + 255/8 → trunc 159
    assert (out[..., 0] == out[..., 1]).all() and (out[..., 0] == out[..., 2]).all()


def test_pil_equivalence_on_golden_corpus_when_present():
    """Production-preference certification (gated: skips without PIL).
    When PIL is importable the decode paths route PNG/JPEG/GIF through
    its C codecs FIRST — this pins that swap to the native decoders'
    outputs on encoder-round-trip payloads: bit-identical pixels for the
    lossless formats (PNG, GIF), and within IDCT-rounding tolerance for
    JPEG (T.81 does not fully pin decoder rounding)."""
    import numpy as np
    import pytest as _pytest

    from dipa_collaborative_pulsar_idps_spark.functions import multimodal as mm

    if mm._PILImage is None:
        _pytest.skip("PIL not installed in this container")

    from dipa_collaborative_pulsar_idps_spark.functions.gif import (
        decode_gif,
        encode_gif,
    )
    from dipa_collaborative_pulsar_idps_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )
    from dipa_collaborative_pulsar_idps_spark.functions.multimodal import (
        decode_image,
        encode_png,
    )
    from dipa_collaborative_pulsar_idps_spark.functions.multimodal import (
        _decode_png,
    )

    y, x = np.mgrid[0:24, 0:32]
    img = np.stack([(x * 7) % 256, (y * 11) % 256, ((x + y) * 5) % 256], -1).astype(
        np.uint8
    )
    png = encode_png(img)
    assert (decode_image(png) == _decode_png(png)).all()  # lossless: exact

    jpg = encode_jpeg(img, 90)
    native = decode_jpeg(jpg)
    via_pref = decode_image(jpg)  # PIL path when present
    assert np.abs(via_pref.astype(int) - native.astype(int)).max() <= 2

    gif = encode_gif(img)
    assert (decode_image(gif) == decode_gif(gif)).all()  # lossless: exact


def test_jpeg_roundtrip_quality_ladder():
    """encode_jpeg → decode_image round trips: solid color within ±1
    (DC-only), smooth content ≥ 40 dB PSNR at q90, PSNR monotone in
    quality, non-multiple-of-8 dimensions preserved, and progressive
    JPEG raises through the honest gate."""
    import numpy as np
    import pytest as _pytest

    from dipa_collaborative_pulsar_idps_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )
    from dipa_collaborative_pulsar_idps_spark.functions.multimodal import decode_image

    def psnr(a, b):
        mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
        return 99.0 if mse == 0 else 10 * np.log10(255**2 / mse)

    solid = np.full((16, 16, 3), (120, 64, 200), np.uint8)
    out = decode_image(encode_jpeg(solid, 90))
    assert np.abs(out.astype(int) - solid.astype(int)).max() <= 1

    y, x = np.mgrid[0:40, 0:56]
    grad = np.stack([(x * 4) % 256, (y * 5) % 256, ((x + y) * 3) % 256], -1).astype(
        np.uint8
    )
    assert psnr(grad, decode_jpeg(encode_jpeg(grad, 90))) > 40

    rng = np.random.default_rng(1)
    img = np.zeros((48, 64, 3))
    yy, xx = np.mgrid[0:48, 0:64]
    for _ in range(6):
        cy, cx = rng.integers(0, 48), rng.integers(0, 64)
        img += np.exp(-((yy - cy) ** 2 + (xx - cx) ** 2) / 200.0)[..., None] * rng.integers(0, 256, 3)
    img = np.clip(img, 0, 255).astype(np.uint8)
    ladder = [psnr(img, decode_jpeg(encode_jpeg(img, q))) for q in (50, 75, 90)]
    assert ladder == sorted(ladder) and ladder[-1] > 40

    odd = rng.integers(0, 256, (17, 23, 3)).astype(np.uint8)
    assert decode_jpeg(encode_jpeg(odd, 90)).shape == (17, 23, 3)

    # progressive (SOF2) stays behind the honest gate
    prog = b"\xff\xd8" + _jpeg_seg(0xC2, bytes(10))
    with _pytest.raises(NotImplementedError):
        decode_jpeg(prog + b"\xff\xd9")


def _pack_lsb(codes: list[tuple[int, int]]) -> bytes:
    """LSB-first bit packing per the GIF spec — independent of gif.py."""
    buf = n = 0
    out = bytearray()
    for code, width in codes:
        buf |= code << n
        n += width
        while n >= 8:
            out.append(buf & 0xFF)
            buf >>= 8
            n -= 8
    if n:
        out.append(buf & 0xFF)
    return bytes(out)


def test_gif_decoder_golden_hand_assembled_lzw():
    """Spec-derived golden, independent of our encoder: a 2×2 two-color
    GIF whose LZW code stream (CLEAR, 0, 1, 1, 0, EOI with the width
    growth at dictionary size 8) and bit packing are written by hand.
    Certifies the variable-width LSB-first reader, dictionary growth,
    and palette mapping with no self-consistency loophole."""
    import struct

    import numpy as np

    from dipa_collaborative_pulsar_idps_spark.functions.gif import decode_gif

    # palette: 0=black, 1=red (table size 4 → size_bits 2, min code size 2)
    palette = bytes([0, 0, 0, 255, 0, 0, 9, 9, 9, 7, 7, 7])
    codes = [(4, 3), (0, 3), (1, 3), (1, 3), (0, 4), (5, 4)]
    lzw = _pack_lsb(codes)
    gif = (
        b"GIF89a"
        + struct.pack("<HH", 2, 2)
        + bytes([0x81, 0, 0])  # GCT present, size bits 1 → 4 entries
        + palette
        + bytes([0x2C])
        + struct.pack("<HHHH", 0, 0, 2, 2)
        + bytes([0x00])  # no LCT, not interlaced
        + bytes([2])     # LZW min code size
        + bytes([len(lzw)]) + lzw + bytes([0])
        + bytes([0x3B])
    )
    out = decode_gif(gif)
    expected = np.array(
        [[[0, 0, 0], [255, 0, 0]], [[255, 0, 0], [0, 0, 0]]], np.uint8
    )
    assert (out == expected).all()


def test_gif_roundtrip_interlace_transparency_and_video_paths(spark):
    """GIF as the second real video format: lossless static + animated
    round trips, 4-pass interlace de-ordering, transparency keeping the
    underlying canvas, and the Spark video ops (extract_frames,
    video_features through extract_features) treating an animated GIF
    exactly like a PPM stream of the same frames."""
    import struct

    import numpy as np
    import pandas as pd

    from dipa_collaborative_pulsar_idps_spark.functions.gif import (
        _lzw_encode,
        decode_gif,
        decode_gif_frames,
        encode_gif,
    )
    from dipa_collaborative_pulsar_idps_spark.functions.multimodal import (
        decode_image,
        encode_ppm_stream,
        extract_features,
        extract_frames,
    )

    rng = np.random.default_rng(4)
    img = (rng.integers(0, 5, (12, 16, 1)) * np.array([(31, 17, 5)])).astype(
        np.uint8
    ).reshape(12, 16, 3)
    assert (decode_gif(encode_gif(img)) == img).all()
    assert (decode_image(encode_gif(img)) == img).all()  # image dispatch

    frames = [np.roll(img, s, axis=0) for s in range(4)]
    back = decode_gif_frames(encode_gif(frames, delay_cs=4))
    assert len(back) == 4 and all((a == b).all() for a, b in zip(frames, back))

    # interlaced: rows written in 4-pass order must come back de-interlaced
    rows8 = (np.arange(8)[:, None, None] * np.array([(30, 1, 2)])).astype(np.uint8)
    plain = np.repeat(rows8, 4, axis=1)  # 8×4, one color per row
    order = [r for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)) for r in range(start, 8, step)]
    idx, palette = np.unique(plain.reshape(-1, 3), axis=0, return_inverse=True)
    grid = palette.astype(np.uint8).reshape(8, 4)[order]  # interlace write order
    pal = np.zeros((8, 3), np.uint8)
    pal[: len(idx)] = idx
    lzw = _lzw_encode(3, grid)
    gif = (
        b"GIF89a" + struct.pack("<HH", 4, 8) + bytes([0x82, 0, 0]) + pal.tobytes()
        + bytes([0x2C]) + struct.pack("<HHHH", 0, 0, 4, 8)
        + bytes([0x40])  # interlaced, no LCT
        + bytes([3]) + bytes([len(lzw)]) + lzw + bytes([0]) + bytes([0x3B])
    )
    assert (decode_gif(gif) == plain).all()

    # transparency: a second 1×1 frame whose only pixel is transparent
    # (index 0, declared transparent in the GCE) leaves the canvas
    # unchanged at that position
    one = np.zeros((1, 1), np.uint8)
    lzw1 = _lzw_encode(3, palette.astype(np.uint8).reshape(8, 4))
    lzw2 = _lzw_encode(2, one)
    gif2 = (
        b"GIF89a" + struct.pack("<HH", 4, 8) + bytes([0x82, 0, 0]) + pal.tobytes()
        + bytes([0x2C]) + struct.pack("<HHHH", 0, 0, 4, 8) + bytes([0x00])
        + bytes([3]) + bytes([len(lzw1)]) + lzw1 + bytes([0])
        + bytes([0x21, 0xF9, 4, 0x01]) + struct.pack("<H", 5) + bytes([0, 0])
        + bytes([0x2C]) + struct.pack("<HHHH", 1, 1, 1, 1) + bytes([0x00])
        + bytes([2]) + bytes([len(lzw2)]) + lzw2 + bytes([0])
        + bytes([0x3B])
    )
    fr = decode_gif_frames(gif2)
    assert len(fr) == 2 and (fr[1] == fr[0]).all()  # transparent overlay = no-op

    # Spark video paths: animated GIF ≡ PPM stream of the same frames
    media = spark.createDataFrame(
        pd.DataFrame(
            [
                ("gifv", "video", encode_gif(frames, delay_cs=25), 16, 12, 1000),
                ("ppmv", "video", encode_ppm_stream(frames), 16, 12, 1000),
            ],
            columns=["media_id", "media_type", "payload", "width", "height", "duration_ms"],
        )
    )
    fx = {r.media_id: r for r in extract_frames(media, every_n=2).collect()}
    assert len(fx) == 0 or True  # dict keyed by id collapses; count below
    got = extract_frames(media, every_n=2).collect()
    by_id = {}
    for r in got:
        by_id.setdefault(r.media_id, []).append(r)
    assert len(by_id["gifv"]) == len(by_id["ppmv"]) == 2
    gif_frames = {r.frame_index: bytes(r.payload) for r in by_id["gifv"]}
    ppm_frames = {r.frame_index: bytes(r.payload) for r in by_id["ppmv"]}
    assert gif_frames == ppm_frames  # identical extracted PPM payloads

    feats = {r.media_id: r.feature for r in extract_features(media).collect()}
    assert feats["gifv"] == feats["ppmv"]  # same 16-dim signature


def test_avi_mjpeg_container_video(spark):
    """AVI/MJPEG as a real CONTAINER video format: RIFF demux finds every
    '00dc' frame as a standalone baseline JPEG, decode round-trips at
    high PSNR, the Spark video ops sample/feature it like any other
    video, and a structurally-valid AVI whose frames are NOT MJPEG
    raises through the honest gate (stub features, never fake frames)."""
    import numpy as np
    import pandas as pd

    from dipa_collaborative_pulsar_idps_spark.functions.avi import (
        decode_avi_frames,
        demux_mjpeg_frames,
        encode_avi_mjpeg,
    )
    from dipa_collaborative_pulsar_idps_spark.functions.multimodal import (
        _video_features_stub,
        extract_features,
        extract_frames,
    )

    y, x = np.mgrid[0:12, 0:16]
    frames = [
        np.stack([(x * 16 + f) % 256, (y * 20) % 256, np.full_like(x, 4 * f)], -1).astype(
            np.uint8
        )
        for f in range(4)
    ]
    avi = encode_avi_mjpeg(frames, fps=4, quality=92)
    jpegs = demux_mjpeg_frames(avi)
    assert len(jpegs) == 4 and all(j[:2] == b"\xff\xd8" for j in jpegs)
    back = decode_avi_frames(avi)
    for a, b in zip(frames, back):
        mse = np.mean((a.astype(float) - b.astype(float)) ** 2)
        assert 10 * np.log10(255**2 / mse) > 35

    media = spark.createDataFrame(
        pd.DataFrame(
            [("avi1", "video", avi, 16, 12, 1000)],
            columns=["media_id", "media_type", "payload", "width", "height", "duration_ms"],
        )
    )
    fx = extract_frames(media, every_n=2).collect()
    assert len(fx) == 2 and {r.frame_index for r in fx} == {0, 2}
    feats = extract_features(media).collect()[0].feature
    assert feats[0] == 4.0 and feats[1] == 16.0 and feats[2] == 12.0  # n, w, h

    # non-MJPEG frames inside a valid AVI: honest gate, stub features
    fake = encode_avi_mjpeg(frames, fps=4)
    first = demux_mjpeg_frames(fake)[0]
    broken = fake.replace(first[:8], b"h264xxxx", 1)
    media2 = spark.createDataFrame(
        pd.DataFrame(
            [("h264", "video", broken, 16, 12, 1000)],
            columns=["media_id", "media_type", "payload", "width", "height", "duration_ms"],
        )
    )
    f2 = extract_features(media2).collect()[0]
    assert f2.feature == list(_video_features_stub(bytes(broken)))
    assert extract_frames(media2).count() == 0  # skipped, no fake frames


def test_avi_dib_uncompressed_video(spark):
    """Raw-DIB AVI (BI_RGB 24-bit: bottom-up, 4-byte-padded BGR frames,
    geometry from the stream's 'strf') is the container's second real
    codec: the round trip is LOSSLESS — including an odd width that
    forces row padding — and the Spark video ops treat it like any other
    video. A sub-24-bit or non-BI_RGB DIB still gates."""
    import numpy as np
    import pandas as pd

    from dipa_collaborative_pulsar_idps_spark.functions.avi import (
        decode_avi_frames,
        encode_avi_dib,
    )
    from dipa_collaborative_pulsar_idps_spark.functions.multimodal import (
        extract_features,
        extract_frames,
    )

    rng = np.random.default_rng(3)
    frames = [rng.integers(0, 256, (12, 17, 3)).astype(np.uint8) for _ in range(4)]
    avi = encode_avi_dib(frames, fps=4)
    back = decode_avi_frames(avi)
    assert len(back) == 4 and all((a == b).all() for a, b in zip(frames, back))

    media = spark.createDataFrame(
        pd.DataFrame(
            [("dib1", "video", avi, 17, 12, 1000)],
            columns=["media_id", "media_type", "payload", "width", "height", "duration_ms"],
        )
    )
    fx = extract_frames(media, every_n=2).collect()
    assert len(fx) == 2 and {r.frame_index for r in fx} == {0, 2}
    feats = extract_features(media).collect()[0].feature
    assert feats[0] == 4.0 and feats[1] == 17.0 and feats[2] == 12.0  # n, w, h


def test_dhash_invariant_across_containers(spark):
    """The same pixels encoded as PPM, BMP, and PNG must produce ONE
    dhash (perceptual identity is about pixels, not bytes) — the property
    the mixed-container synthetic corpus leans on."""
    import numpy as np
    import pandas as pd

    from dipa_collaborative_pulsar_idps_spark.functions.multimodal import (
        encode_bmp,
        encode_png,
        encode_ppm,
        image_dhash,
    )

    rng = np.random.default_rng(5)
    img = rng.integers(0, 240, (24, 32, 3)).astype(np.uint8)
    rows = [
        (f"enc_{name}", "image", enc(img), 32, 24, None)
        for name, enc in [("ppm", encode_ppm), ("bmp", encode_bmp), ("png", encode_png)]
    ]
    media = spark.createDataFrame(
        pd.DataFrame(
            rows,
            columns=["media_id", "media_type", "payload", "width", "height", "duration_ms"],
        )
    )
    hashes = {r.media_id: r.dhash for r in image_dhash(media).collect()}
    assert len(set(hashes.values())) == 1 and len(hashes) == 3


def test_dhash_stable_under_jpeg_for_corpus_family():
    """The synthetic corpus cycles its image slots through LOSSY codecs
    (baseline / progressive / multi-scan / Adobe CMYK+YCCK JPEG, all
    q90); the perceptual-collapse property of image_phash_clusters holds
    only if dHash is bit-stable under that quantization for the corpus
    gradient family (strong slopes → comparison margins ≫ JPEG error).
    Pin it for every image id the corpus can generate × every lossy
    variant it cycles."""
    import numpy as np

    from dipa_collaborative_pulsar_idps_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_adobe,
        encode_jpeg_multiscan,
    )
    from dipa_collaborative_pulsar_idps_spark.functions.multimodal import dhash64

    y, x = np.mgrid[0:24, 0:32]
    for i in range(0, 360, 3):  # every image id the sf0.01 corpus draws
        img = np.stack(
            [(x * 8 + i) % 256, (y * 10 + 2 * i) % 256, np.full_like(x, i % 256)],
            axis=-1,
        ).astype(np.uint8)
        want = dhash64(img)
        assert dhash64(decode_jpeg(encode_jpeg(img, 90))) == want, i
        assert dhash64(decode_jpeg(encode_jpeg_multiscan(img, 90))) == want, i
        assert dhash64(decode_jpeg(encode_jpeg_adobe(img, 90, ycck=True))) == want, i
        assert dhash64(decode_jpeg(encode_jpeg_adobe(img, 90, ycck=False))) == want, i


def test_jpeg_multiscan_and_adobe_encoders():
    """The round-10 in-corpus producers for the decoder's multi-scan and
    Adobe 4-component paths: (a) encode_jpeg_multiscan reorganizes the
    SAME quantized coefficients as encode_jpeg into one SOS per component,
    so decode is BIT-IDENTICAL to the interleaved baseline decode; (b)
    encode_jpeg_adobe(ycck=True) stores BT.601 Y/Cb/Cr + constant K=255
    behind an APP14 transform-2 marker — the decoder's YCCK inverse must
    land bit-identical to the baseline decode too; (c) the CMYK variant
    (transform 0, inverted-ink RGB planes) skips the color transform
    entirely and round-trips CLOSER to the source than baseline."""
    import numpy as np

    from dipa_collaborative_pulsar_idps_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_adobe,
        encode_jpeg_multiscan,
    )

    rng = np.random.default_rng(17)
    img = rng.integers(0, 256, (24, 32, 3)).astype(np.uint8)
    base = decode_jpeg(encode_jpeg(img, 90))

    ms = encode_jpeg_multiscan(img, 90)
    assert ms.count(b"\xff\xda") == 3  # one SOS per component
    assert (decode_jpeg(ms) == base).all()

    ycck = encode_jpeg_adobe(img, 90, ycck=True)
    assert b"Adobe" in ycck[:64]
    assert (decode_jpeg(ycck) == base).all()

    cmyk = encode_jpeg_adobe(img, 90, ycck=False)
    err_cmyk = np.abs(decode_jpeg(cmyk).astype(int) - img.astype(int)).mean()
    err_base = np.abs(base.astype(int) - img.astype(int)).mean()
    assert err_cmyk <= err_base  # no YCbCr round trip → at least as close

    # odd geometry (edge-replicate padding) survives both layouts
    odd = rng.integers(0, 256, (13, 19, 3)).astype(np.uint8)
    assert (
        decode_jpeg(encode_jpeg_multiscan(odd, 85))
        == decode_jpeg(encode_jpeg(odd, 85))
    ).all()
    assert decode_jpeg(encode_jpeg_adobe(odd, 85, ycck=True)).shape == (13, 19, 3)


def test_phash_near_dup_pairs_planted_truth(spark):
    """dHash perceptual dedup: an exact copy AND a uniformly brightened
    re-render pair with the original at Hamming 0 (different payload
    bytes, same perception — the point of pHash over content hashes); a
    visually different image stays out; banding loses nothing at the
    pigeonhole-guaranteed threshold."""
    import numpy as np
    import pandas as pd

    from dipa_collaborative_pulsar_idps_spark.functions.multimodal import (
        dhash64,
        encode_ppm,
        image_dhash,
        phash_near_dup_pairs,
    )

    rng = np.random.default_rng(7)
    base = rng.integers(0, 240, size=(24, 32, 3)).astype(np.uint8)
    bright = (base + 6).clip(0, 255).astype(np.uint8)   # uniform shift, no wrap
    other = rng.integers(0, 240, size=(24, 32, 3)).astype(np.uint8)
    rows = [
        ("orig", "image", encode_ppm(base), 32, 24, None),
        ("copy", "image", encode_ppm(base), 32, 24, None),
        ("bright", "image", encode_ppm(bright), 32, 24, None),
        ("other", "image", encode_ppm(other), 32, 24, None),
        ("aud", "audio", b"RIFF....", None, None, 250),  # non-image: ignored
    ]
    media = spark.createDataFrame(
        pd.DataFrame(
            rows,
            columns=["media_id", "media_type", "payload", "width", "height", "duration_ms"],
        )
    )
    hashes = {r.media_id: r.dhash for r in image_dhash(media).collect()}
    assert set(hashes) == {"orig", "copy", "bright", "other"}
    assert hashes["orig"] == hashes["copy"] == hashes["bright"]
    assert hashes["orig"] != hashes["other"]
    # kernel-level: python dhash64 agrees with the distributed column
    assert hashes["orig"] == dhash64(base)

    got = {
        (r.id_a, r.id_b): r.hamming
        for r in phash_near_dup_pairs(media, max_hamming=3).collect()
    }
    assert got == {
        ("copy", "orig"): 0,
        ("bright", "copy"): 0,
        ("bright", "orig"): 0,
    }
    # 'other' differs far beyond the band guarantee
    far = bin(hashes["orig"] ^ hashes["other"]).count("1")
    assert far > 10


def test_phash_near_dup_pairs_rejects_unsound_banding(spark):
    """max_hamming beyond the pigeonhole bound (n_bands−1) would silently
    lose recall behind an exact-looking Hamming verify — the combination
    must raise, as must a band count that doesn't divide 64."""
    import pytest as _pytest

    from dipa_collaborative_pulsar_idps_spark.functions.multimodal import (
        phash_near_dup_pairs,
    )

    media = spark.createDataFrame(
        [], "media_id string, media_type string, payload binary, "
        "width int, height int, duration_ms int"
    )
    with _pytest.raises(ValueError, match="pigeonhole"):
        phash_near_dup_pairs(media, max_hamming=4, n_bands=4)
    with _pytest.raises(ValueError, match="divide 64"):
        phash_near_dup_pairs(media, max_hamming=2, n_bands=3)
    # the guaranteed regime still constructs
    phash_near_dup_pairs(media, max_hamming=3, n_bands=4)


def test_audio_fingerprint_amplitude_invariant(spark):
    """Same tone at different levels → identical fingerprint near the true
    frequency; a different tone separates; non-audio rows ignored."""
    import numpy as np
    import pandas as pd

    from dipa_collaborative_pulsar_idps_spark.functions.multimodal import (
        audio_fingerprints,
        encode_wav_pcm16,
    )

    t = np.arange(0, 8000) / 16000.0

    def tone(freq, amp):
        return encode_wav_pcm16((np.sin(2 * np.pi * freq * t) * amp).astype(np.int16), 16000)

    rows = [
        ("loud", "audio", tone(440, 12000), None, None, 500),
        ("quiet", "audio", tone(440, 900), None, None, 500),
        ("high", "audio", tone(1000, 12000), None, None, 500),
        ("img", "image", b"P6 junk", 8, 8, None),
    ]
    media = spark.createDataFrame(
        pd.DataFrame(rows, columns=["media_id", "media_type", "payload", "width", "height", "duration_ms"])
    )
    got = {r.media_id: r.freq_hz for r in audio_fingerprints(media).collect()}
    assert set(got) == {"loud", "quiet", "high"}
    assert got["loud"] == got["quiet"]
    assert abs(got["loud"] - 440) <= 2
    assert abs(got["high"] - 1000) <= 3
    assert got["high"] != got["loud"]


def test_png_adam7_and_depth_matrix_roundtrip():
    """Property-style hardening of the PNG pass geometry and bit packing:
    a test-side Adam7 interlacer + sub-8-bit packer (both written from
    the spec, independent of the decoder) generate payloads across edge
    geometries — dimensions smaller than one pass cell (empty passes),
    single-row/column images, non-multiples of 8 — for RGB8, gray16,
    gray 1/2/4-bit and palette; every one must decode to the source."""
    import struct
    import zlib

    import numpy as np

    from dipa_collaborative_pulsar_idps_spark.functions.multimodal import (
        _PNG_SIG,
        _decode_png,
        _png_chunk,
    )

    spec_passes = [
        (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
    ]

    def pack_rows(sub: np.ndarray, depth: int) -> bytes:
        """(rows, width, ch) samples → filter-0 scanline bytes, MSB-first
        packing for sub-8-bit depths (spec 7.2), big-endian for 16."""
        out = b""
        for r in range(sub.shape[0]):
            flat = sub[r].reshape(-1)
            if depth == 8:
                row = flat.astype(np.uint8).tobytes()
            elif depth == 16:
                row = flat.astype(">u2").tobytes()
            else:
                bits = np.unpackbits(
                    flat.astype(np.uint8)[:, None], axis=1, count=8
                )[:, 8 - depth :].reshape(-1)
                pad = (-len(bits)) % 8
                bits = np.concatenate([bits, np.zeros(pad, np.uint8)])
                row = np.packbits(bits).tobytes()
            out += b"\x00" + row
        return out

    def build(img: np.ndarray, depth: int, ctype: int, interlace: int,
              plte: np.ndarray | None = None) -> bytes:
        h_, w_ = img.shape[:2]
        if interlace == 0:
            raw = pack_rows(img, depth)
        else:
            raw = b""
            for x0, y0, dx, dy in spec_passes:
                sub = img[y0::dy, x0::dx]
                if sub.size:
                    raw += pack_rows(sub, depth)
        out = _PNG_SIG + _png_chunk(
            b"IHDR", struct.pack(">IIBBBBB", w_, h_, depth, ctype, 0, 0, interlace)
        )
        if plte is not None:
            out += _png_chunk(b"PLTE", plte.tobytes())
        return out + _png_chunk(b"IDAT", zlib.compress(raw)) + _png_chunk(b"IEND", b"")

    rng = np.random.default_rng(23)
    plte = rng.integers(0, 256, (16, 3)).astype(np.uint8)
    for h_, w_ in [(1, 1), (1, 9), (9, 1), (3, 5), (7, 7), (8, 8), (13, 21)]:
        for interlace in (0, 1):
            # RGB 8-bit
            img = rng.integers(0, 256, (h_, w_, 3)).astype(np.uint8)
            got = _decode_png(build(img, 8, 2, interlace))
            assert (got == img).all(), (h_, w_, interlace, "rgb8")
            # gray 16-bit: high byte kept
            g16 = rng.integers(0, 65536, (h_, w_, 1)).astype(np.uint32)
            got = _decode_png(build(g16, 16, 0, interlace))
            assert (got[..., 0] == (g16[..., 0] >> 8)).all(), (h_, w_, interlace, "g16")
            # gray sub-8-bit: scaled to full range
            for depth in (1, 2, 4):
                mx = (1 << depth) - 1
                g = rng.integers(0, mx + 1, (h_, w_, 1)).astype(np.uint8)
                got = _decode_png(build(g, depth, 0, interlace))
                want = (g[..., 0].astype(np.uint16) * 255 // mx).astype(np.uint8)
                assert (got[..., 0] == want).all(), (h_, w_, interlace, depth)
            # palette 4-bit
            idx = rng.integers(0, 16, (h_, w_, 1)).astype(np.uint8)
            got = _decode_png(build(idx, 4, 3, interlace, plte))
            assert (got == plte[idx[..., 0]]).all(), (h_, w_, interlace, "p4")


def test_jpeg_progressive_restart_markers():
    """Progressive scans honor DRI restart intervals: a two-block
    grayscale stream whose DC-first scan carries an RST0 between MCUs
    (both blocks encode the same ABSOLUTE diff — only correct if the
    predictor resets) and whose AC-first scan carries an RST0 that must
    also reset the EOB run (block 1 emits EOB4, which would wrongly
    swallow block 2's coefficients if the restart didn't clear it)."""
    import struct

    import numpy as np

    from dipa_collaborative_pulsar_idps_spark.functions.jpeg import (
        _C,
        _DC_LUMA,
        _ZZ,
        decode_jpeg,
    )

    qt = _jpeg_seg(0xDB, bytes([0]) + bytes([1] * 64))
    dht_dc = _jpeg_seg(0xC4, bytes([0x00]) + bytes(_DC_LUMA[0]) + bytes(_DC_LUMA[1]))
    ac_bits = [0, 4] + [0] * 14
    ac_vals = [0x00, 0x30, 0x11, 0x01]  # EOB0, EOB4 (r=3), (1,1), (0,1)
    dht_ac = _jpeg_seg(0xC4, bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals))
    sof2 = _jpeg_seg(
        0xC2, bytes([8]) + struct.pack(">HH", 8, 16) + bytes([1, 1, 0x11, 0])
    )
    dri = _jpeg_seg(0xDD, struct.pack(">H", 1))
    # DC first (Al=0): both blocks write ABSOLUTE 256 — valid only after
    # the RST0 resets the predictor
    dc_bits = _bits_to_entropy("1111110" + "100000000")
    scans = (
        dri
        + _jpeg_seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x00]))
        + dc_bits + b"\xff\xd0" + dc_bits
        # AC first (Al=0): block1 emits EOB4 (r=3, +2 extra bits '00' →
        # run of 4 end-of-bands); RST0 must CLEAR it so block2's
        # coefficient zz1=+1 is decoded, not swallowed
        + _jpeg_seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0x00]))
        + _bits_to_entropy("01" + "00")  # EOB4: code '01' + 2 bits
        + b"\xff\xd0"
        + _bits_to_entropy("11" + "1" + "00")  # (0,1) +1 at zz1, EOB0
    )
    jpg = b"\xff\xd8" + qt + sof2 + dht_dc + dht_ac + scans + b"\xff\xd9"
    out = decode_jpeg(jpg)
    assert out.shape == (8, 16, 3)
    assert (out[:, :8] == 160).all()  # block1: DC only
    zz = np.zeros(64)
    zz[0], zz[1] = 256, 1
    full = np.zeros(64)
    full[_ZZ] = zz
    blk2 = np.clip(_C.T @ full.reshape(8, 8) @ _C + 128.0, 0, 255).astype(np.uint8)
    assert (out[:, 8:, 0] == blk2).all()


def test_jpeg_progressive_missing_dc_scan_raises():
    """A progressive stream whose components never receive a first
    (Ah=0) DC scan must raise — not silently render the missing
    component(s) flat mid-gray. Surgery: drop the interleaved DC scan
    (everything from the first SOS to the second) from a real encoded
    progressive stream, leaving only the per-component AC scans."""
    import numpy as np
    import pytest

    from dipa_collaborative_pulsar_idps_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (16, 16, 3)).astype(np.uint8)
    jpg = encode_jpeg_progressive(img, quality=90)
    assert decode_jpeg(jpg).shape == (16, 16, 3)  # control: intact decodes
    first_sos = jpg.index(b"\xff\xda")
    second_sos = jpg.index(b"\xff\xda", first_sos + 2)
    no_dc = jpg[:first_sos] + jpg[second_sos:]
    with pytest.raises(ValueError, match="never.*DC"):
        decode_jpeg(no_dc)


def test_avi_audio_first_stream_and_top_down_dib():
    """Two strf-parsing edges: (1) an AVI whose FIRST 'strl' is an audio
    stream (strh fccType 'auds', 30-byte WAVEFORMATEX 'strf') must not
    have that block misparsed as the video BITMAPINFOHEADER — geometry
    comes from the 'vids' stream; (2) a legal TOP-DOWN DIB (negative
    biHeight, rows already in display order) must decode without the
    bottom-up flip."""
    import struct

    import numpy as np

    from dipa_collaborative_pulsar_idps_spark.functions.avi import (
        _video_strf,
        decode_avi_frames,
        encode_avi_dib,
    )

    rng = np.random.default_rng(7)
    frames = [rng.integers(0, 256, (10, 13, 3)).astype(np.uint8) for _ in range(2)]
    avi = encode_avi_dib(frames, fps=4)
    assert _video_strf(avi) == (13, 10, 24, 0)

    # (1) splice an audio 'strl' BEFORE the video one inside 'hdrl'
    def chunk(cc, data):
        return cc + struct.pack("<I", len(data)) + data + (b"\x00" if len(data) & 1 else b"")

    def lst(tp, body):
        return b"LIST" + struct.pack("<I", len(body) + 4) + tp + body

    strh_a = b"auds" + b"\x00" * 52
    # 30-byte WAVEFORMATEX (MP3-shaped): misparsed as BITMAPINFOHEADER it
    # would read garbage geometry
    strf_a = struct.pack("<HHIIHHH", 0x55, 2, 44100, 176400, 4, 16, 12) + b"\x00" * 12
    audio_strl = lst(b"strl", chunk(b"strh", strh_a) + chunk(b"strf", strf_a))
    hdrl_pos = avi.index(b"LIST") 
    assert avi[hdrl_pos + 8 : hdrl_pos + 12] == b"hdrl"
    (hdrl_size,) = struct.unpack_from("<I", avi, hdrl_pos + 4)
    strl_pos = avi.index(b"strl") - 8  # the video strl's LIST header
    patched = (
        avi[:hdrl_pos + 4]
        + struct.pack("<I", hdrl_size + len(audio_strl))
        + avi[hdrl_pos + 8 : strl_pos]
        + audio_strl
        + avi[strl_pos:]
    )
    (riff_size,) = struct.unpack_from("<I", avi, 4)
    patched = patched[:4] + struct.pack("<I", riff_size + len(audio_strl)) + patched[8:]
    assert _video_strf(patched) == (13, 10, 24, 0)  # still the video strf
    back = decode_avi_frames(patched)
    assert all((a == b).all() for a, b in zip(frames, back))

    # (2) negate biHeight in the video strf → rows are now declared
    # top-down, so the (unchanged, bottom-up-stored) payload must decode
    # as the VERTICAL MIRROR of the originals (no flip applied)
    strf_data = avi.index(b"strf", avi.index(b"vids")) + 8
    td = bytearray(avi)
    struct.pack_into("<i", td, strf_data + 8, -10)
    back_td = decode_avi_frames(bytes(td))
    assert _video_strf(bytes(td)) == (13, -10, 24, 0)
    assert all((a[::-1] == b).all() for a, b in zip(frames, back_td))
