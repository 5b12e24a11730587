"""Property-based tests (SURVEY.md §5: counter-reset robustness, parse
round-trips, operator ≡ naive-model equivalence on randomized inputs).

Spark jobs are expensive per example, so examples are few but each carries
a whole randomized dataset; hypothesis shrinks on failure as usual.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from dipa_collaborative_pulsar_idps_spark.localdf import local_rows_df
from dipa_collaborative_pulsar_idps_spark.operators.deltas import counter_delta
from dipa_collaborative_pulsar_idps_spark.operators.rangejoin import interval_join

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

#: cumulative counters with occasional resets: monotone runs restarting at 0.
_counter_runs = st.lists(
    st.lists(st.integers(min_value=0, max_value=1000), min_size=1, max_size=6).map(
        lambda incs: [sum(incs[: i + 1]) for i in range(len(incs))]
    ),
    min_size=1,
    max_size=4,
)


def _model_deltas(series: list[int]) -> list[int]:
    """Reference semantics (DIPA_Controller.py:461-463 + reset rule §4#1)."""
    out, prev = [], 0
    for c in series:
        d = c - prev
        out.append(c if d < 0 else d)
        prev = c
    return out


@given(runs_by_key=st.dictionaries(st.sampled_from(["a", "b", "c"]), _counter_runs, min_size=1))
@settings(**_SETTINGS)
def test_counter_delta_matches_model_under_resets(spark, runs_by_key):
    rows = []
    for key, runs in runs_by_key.items():
        seq = [c for run in runs for c in run]  # concatenated runs = resets
        rows += [(key, i, c) for i, c in enumerate(seq)]
    df = local_rows_df(spark, rows, "k string, seq int, counter long")
    got = {
        (r.k, r.seq): r.delta
        for r in counter_delta(df, ["k"], "counter", ["seq"]).collect()
    }
    for key, runs in runs_by_key.items():
        seq = [c for run in runs for c in run]
        for i, d in enumerate(_model_deltas(seq)):
            assert got[(key, i)] == d, (key, i, seq)
    # reset robustness: never negative
    assert all(v >= 0 for v in got.values())


@given(
    points=st.lists(st.integers(min_value=0, max_value=5000), min_size=1, max_size=60),
    intervals=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5000),
            st.integers(min_value=0, max_value=4000),
        ),
        min_size=1,
        max_size=12,
    ),
    bin_s=st.sampled_from([60, 600, 1800, 7200]),
)
@settings(**_SETTINGS)
def test_interval_join_equals_naive_model(spark, points, intervals, bin_s):
    base = dt.datetime(2024, 1, 1)
    p = spark.createDataFrame(
        [(i, base + dt.timedelta(seconds=s)) for i, s in enumerate(points)],
        "pid long, pts timestamp_ntz",
    )
    iv = spark.createDataFrame(
        [
            (j, base + dt.timedelta(seconds=s), base + dt.timedelta(seconds=s + span))
            for j, (s, span) in enumerate(intervals)
        ],
        "iid long, istart timestamp_ntz, iend timestamp_ntz",
    )
    got = {
        (r.pid, r.iid)
        for r in interval_join(p, "pts", iv, "istart", "iend", bin_s).collect()
    }
    expect = {
        (i, j)
        for i, s in enumerate(points)
        for j, (lo, span) in enumerate(intervals)
        if lo <= s < lo + span
    }
    assert got == expect


@given(
    ip=st.from_regex(r"10\.(0|1)\.[0-9]{1,2}\.[0-9]{1,2}", fullmatch=True),
    kind=st.sampled_from(["BOT", "CNC", "42"]),
)
@settings(**_SETTINGS)
def test_alert_message_format_parse_roundtrip(spark, ip, kind):
    """J1/J3: format '<ip>@<kind>' then positional split recovers the parts
    — for any address and payload kind the reference emits
    (DIPA_Controller.py:333-352, parse :371-373)."""
    df = spark.createDataFrame([(ip, kind)], "ip string, kind string")
    msg = df.select(F.concat_ws("@", "ip", "kind").alias("value"))
    back = msg.select(
        F.split("value", "@").getItem(0).alias("ip"),
        F.split("value", "@").getItem(1).alias("kind"),
    ).first()
    assert (back.ip, back.kind) == (ip, kind)


def test_knuth_hash_no_overflow_for_huge_doc_ids(spark):
    """The masked Knuth hash ((doc_id & 0x7FFFFFFF) * 2654435761) must not
    overflow int64 under ANSI mode for doc_ids past 2^31 (the unmasked form
    throws ArithmeticException around doc_id ~ 3.5e9 — real at 100 TB)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(2**40 + 7,), (2**62,)], "doc_id long")
    rows = df.select(
        F.pmod(
            F.col("doc_id").bitwiseAND(F.lit(2147483647)) * F.lit(2654435761), F.lit(100)
        ).alias("bucket")
    ).collect()
    assert all(0 <= r.bucket < 100 for r in rows)


def test_shard_packing_invariant_to_range_width(spark, sf_dir, monkeypatch):
    """The distributed prefix-sum decomposition must produce IDENTICAL
    shards for ANY range width — the dial shapes parallelism only. Width 1
    degenerates to one range per doc (offsets do all the work); a width
    larger than the corpus degenerates to the single-range case (local
    window does all the work)."""
    from dipa_collaborative_pulsar_idps_spark import config
    from dipa_collaborative_pulsar_idps_spark.queries import datapipe

    def run(width):
        monkeypatch.setattr(
            datapipe, "SCALE", config.ScaleConfig(pack_range_width=width)
        )
        return {
            tuple(r)
            for r in datapipe.token_shard_assignment_scalable(spark, sf_dir).collect()
        }

    baseline = {
        tuple(r) for r in datapipe.token_shard_assignment(spark, sf_dir).collect()
    }
    for width in (1, 7, 50_000):
        assert run(width) == baseline, f"width={width} changed shard packing"


@given(
    vals=st.lists(
        st.one_of(
            st.integers(min_value=-1000, max_value=1000).map(float),
            st.sampled_from([0.0, 1.0, 1.0, 2.5]),  # force heavy ties
        ),
        min_size=1,
        max_size=400,
    ),
    qs=st.lists(
        st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
        min_size=1,
        max_size=4,
    ),
    n_parts=st.sampled_from([2, 7, 16]),
)
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_exact_quantiles_property_equals_percentile(spark, vals, qs, n_parts):
    """Distributed selection ≡ Spark's exact percentile aggregate on
    randomized data: arbitrary duplicates/ties, arbitrary quantile
    positions, and range counts that don't divide the data evenly."""
    from dipa_collaborative_pulsar_idps_spark.operators.selection import (
        exact_quantiles,
    )

    df = local_rows_df(spark, [(v,) for v in vals], "v double")
    got = exact_quantiles(df, "v", qs, n_parts=n_parts)
    want = df.agg(
        F.percentile("v", F.array(*[F.lit(q) for q in qs]))
    ).collect()[0][0]
    assert all(abs(a - b) < 1e-9 for a, b in zip(got, want)), (got, want)


@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.sampled_from(["a", "b", "c"])),  # nullable key
            st.one_of(
                st.integers(min_value=-1000, max_value=1000).map(float),
                st.sampled_from([0.0, 1.0, 1.0, 2.5]),  # heavy ties
            ),
        ),
        min_size=1,
        max_size=300,
    ),
    qs=st.lists(
        st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
        min_size=1,
        max_size=3,
    ),
    n_parts=st.sampled_from([2, 7]),
)
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_grouped_quantile_strategies_property_equal_percentile(
    spark, rows, qs, n_parts
):
    """BOTH grouped strategies (range decomposition / window) ≡ per-group
    exact percentile on randomized data — nullable group keys, heavy
    ties, arbitrary quantile positions, uneven ranges — and they equal
    EACH OTHER exactly (same IEEE interpolation)."""
    from dipa_collaborative_pulsar_idps_spark.operators.selection import (
        grouped_exact_quantiles_df,
        grouped_exact_quantiles_window,
    )

    df = local_rows_df(spark, rows, "g string, v double")
    want = {
        r.g: r.pc
        for r in df.groupBy("g")
        .agg(F.percentile("v", F.array(*[F.lit(q) for q in qs])).alias("pc"))
        .collect()
    }
    a = {
        (r.g, i): r.value
        for r in grouped_exact_quantiles_df(df, ["g"], "v", qs, n_parts=n_parts).collect()
        for i, q in enumerate(qs)
        if r.q == q
    }
    b = {
        (r.g, i): r.value
        for r in grouped_exact_quantiles_window(df, ["g"], "v", qs).collect()
        for i, q in enumerate(qs)
        if r.q == q
    }
    for g, pcs in want.items():
        for i, w in enumerate(pcs):
            assert abs(a[(g, i)] - w) < 1e-9, ("range", g, qs[i], a[(g, i)], w)
            assert b[(g, i)] == a[(g, i)], ("window≠range", g, qs[i])


@given(
    ns=st.lists(st.integers(min_value=0, max_value=120), min_size=1, max_size=8),
    window=st.integers(min_value=2, max_value=40),
    stride_frac=st.floats(min_value=0.1, max_value=1.0),
)
@settings(**_SETTINGS)
def test_chunking_fixed_stride_contract(spark, ns, window, stride_frac):
    """chunk_documents obeys the HF fixed-stride convention on arbitrary
    token counts: chunk i is EXACTLY tokens[i·S : i·S+W], the chunk count
    is 1 if n ≤ W else 1 + ceil((n−W)/S), the final chunk ends at n (full
    coverage, nothing dropped), and empty docs emit nothing."""
    from dipa_collaborative_pulsar_idps_spark.queries.datapipe8 import (
        chunk_documents,
    )

    stride = max(1, int(round(window * stride_frac)))
    docs = local_rows_df(
        spark,
        [(i, " ".join(f"d{i}t{j}" for j in range(n))) for i, n in enumerate(ns)],
        "doc_id long, text string",
    )
    got = {}
    for r in chunk_documents(docs, window=window, stride=stride).collect():
        got.setdefault(r.doc_id, {})[r.chunk_idx] = (r.n_tokens, r.chunk_text)
    for i, n in enumerate(ns):
        toks = [f"d{i}t{j}" for j in range(n)]
        if n == 0:
            assert i not in got
            continue
        want_nc = 1 if n <= window else 1 + -((n - window) // -stride)  # ceil
        chunks = got[i]
        assert sorted(chunks) == list(range(want_nc)), (n, window, stride)
        for k in range(want_nc):
            want = toks[k * stride : k * stride + window]
            assert chunks[k] == (len(want), " ".join(want)), (n, window, stride, k)
        # final chunk reaches the end of the doc: nothing dropped
        assert (want_nc - 1) * stride + chunks[want_nc - 1][0] == n


def test_js_divergence_identical_disjoint_and_bounds(spark):
    """JS divergence endpoints: identical distributions → 0; disjoint
    vocabularies → ln 2; any pair stays inside [0, ln 2] (rounded). Also
    pairs with NO shared tokens still appear (pair universe is rebuilt
    from totals, not from the shared-token join)."""
    import math

    from dipa_collaborative_pulsar_idps_spark.queries.datapipe8 import js_divergence

    docs = spark.createDataFrame(
        [
            ("s1", "a b b c"),
            ("s2", "a b b c"),        # identical to s1
            ("s3", "x y z x"),        # disjoint from s1/s2
            ("s4", "a b x q q"),      # partial overlap with both
        ],
        "source string, text string",
    )
    got = {
        (r.source_a, r.source_b): (r.js_div, r.n_shared_tokens)
        for r in js_divergence(docs).collect()
    }
    assert set(got) == {(a, b) for a in "s1 s2 s3 s4".split() for b in "s1 s2 s3 s4".split() if a < b}
    ln2 = round(math.log(2.0), 4)
    assert got[("s1", "s2")] == (0.0, 3)          # identical: 3 distinct shared tokens
    assert got[("s1", "s3")] == (ln2, 0)          # disjoint, still present
    assert got[("s2", "s3")] == (ln2, 0)
    for (a, b), (js, _) in got.items():
        assert 0.0 <= js <= ln2, (a, b, js)
    assert 0.0 < got[("s1", "s4")][0] < ln2


def test_tfidf_topk_ranks_planted_near_copy_first(spark):
    """Inverted-index TF-IDF retrieval: a near-copy of the query doc must
    rank #1 for it, docs sharing only ubiquitous (df==N) tokens never
    appear (idf-0 space is dropped), and per-query ranks are dense from
    1 with rounded-score ordering."""
    from dipa_collaborative_pulsar_idps_spark.queries.datapipe8 import tfidf_topk

    common = "the the of"  # appears in EVERY doc -> idf 0 -> excluded
    docs = spark.createDataFrame(
        [
            (0, f"{common} alpha beta gamma delta"),
            (1, f"{common} alpha beta gamma delta epsilon"),  # near-copy of 0
            (2, f"{common} alpha zeta zeta eta"),             # partial overlap
            (3, f"{common} iota kappa mu"),                   # disjoint (minus common)
            (4, common),                                      # ONLY idf-0 tokens
        ],
        "doc_id long, text string",
    )
    rows = tfidf_topk(docs, n_queries=2, k=3).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append((r.rk, r.neighbor_id, r.cosine))
    for q in by_q:
        ranked = sorted(by_q[q])
        assert [rk for rk, _, _ in ranked] == list(range(1, len(ranked) + 1))
        cosines = [c for _, _, c in ranked]
        assert cosines == sorted(cosines, reverse=True)
        assert all(n != q for _, n, _ in ranked)  # self excluded
        assert all(n != 4 for _, n, _ in ranked)  # idf-0-only doc absent
    assert by_q[0][0][1] == 1 and by_q[0][0][2] > 0.6   # near-copy ranks #1
    assert by_q[1][0][1] == 0
    # doc 3 shares no discriminative token with doc 0 -> not a candidate
    assert all(n != 3 for _, n, _ in by_q[0])

    # df-cap skew dial: 'alpha' (df 3/5) is the only token docs 0 and 2
    # share; capping max_df_frac at 0.5 drops it from the posting lists,
    # so doc 2 stops being a candidate for query 0 while the near-copy
    # (sharing beta/gamma/delta at df 2/5) still ranks #1
    capped = tfidf_topk(docs, n_queries=1, k=3, max_df_frac=0.5).collect()
    ns = {r.neighbor_id for r in capped}
    assert 1 in ns and 2 not in ns


@given(
    n=st.integers(min_value=0, max_value=40),
    removed=st.sets(st.integers(min_value=0, max_value=39), max_size=10),
    added=st.sets(st.integers(min_value=40, max_value=49), max_size=5),
    changed=st.sets(st.integers(min_value=0, max_value=39), max_size=10),
)
@settings(**_SETTINGS)
def test_snapshot_diff_matches_set_model(spark, n, removed, added, changed):
    """snapshot_diff ≡ the obvious set model on arbitrary version pairs:
    ids only in new → added; only in old → removed; in both with
    different text → changed; else unchanged. Every id in either version
    appears exactly once."""
    from dipa_collaborative_pulsar_idps_spark.queries.datapipe8 import snapshot_diff

    old_ids = set(range(n))
    new_ids = (old_ids - removed) | added
    old = local_rows_df(
        spark,
        [(i, f"text {i}") for i in sorted(old_ids)] or [(None, None)],
        "doc_id long, text string",
    ).where("doc_id IS NOT NULL")
    new = local_rows_df(
        spark,
        [
            (i, f"text {i} v2" if i in changed else f"text {i}")
            for i in sorted(new_ids)
        ]
        or [(None, None)],
        "doc_id long, text string",
    ).where("doc_id IS NOT NULL")
    got = {r.id: r.status for r in snapshot_diff(old, new).collect()}
    want = {}
    for i in old_ids | new_ids:
        if i not in old_ids:
            want[i] = "added"
        elif i not in new_ids:
            want[i] = "removed"
        elif i in changed:
            want[i] = "changed"
        else:
            want[i] = "unchanged"
    assert got == want
