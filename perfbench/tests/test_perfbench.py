"""The benchmark's own tests. Run from the benchmark's directory:

    cd perfbench && python3 -m pytest tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

import boards
import common
import datagen
import run

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_board_lists_cover_every_declared_query_once():
    from dipa_collaborative_pulsar_idps_spark.queries import REGISTRY, all_queries

    all_queries()
    lists = boards.board_lists()
    names = lists["board-relational"] + lists["board-pipeline"]
    assert len(names) == len(set(names))
    assert sorted(names) == sorted(REGISTRY)
    assert len(REGISTRY) == 198
    assert (len(lists["board-relational"]), len(lists["board-pipeline"])) == (107, 91)
    for board in lists:
        s = boards.slate(board)
        assert len(s) == len(set(s)) and set(s) <= set(lists[board])
        assert not set(s) & set(boards.LIFECYCLE)


def test_expected_rows_cover_the_queries_without_an_oracle():
    from dipa_collaborative_pulsar_idps_spark.queries import REGISTRY, all_queries

    all_queries()
    with open(boards.EXPECTED_ROWS) as f:
        rows = json.load(f)
    assert set(rows) == {n for n, s in REGISTRY.items() if s.oracle is None}


def test_tables_are_deterministic_per_seed():
    a, b = datagen.table_frames(0.001, 7), datagen.table_frames(0.001, 7)
    c = datagen.table_frames(0.001, 8)
    for name in a:
        pd_a, pd_b = a[name], b[name]
        assert pd_a.astype(str).equals(pd_b.astype(str)), name
    assert not a["lineitem"].equals(c["lineitem"])


def test_poll_plan_is_deterministic_per_seed():
    import datetime as dt

    a, b, c = datagen.PollPlan(3), datagen.PollPlan(3), datagen.PollPlan(4)
    assert np.array_equal(a.counters, b.counters) and a.alert_poll == b.alert_poll
    assert not np.array_equal(a.counters, c.counters)
    assert len(a.alert_poll) == 500 and a.n_flows == 7500
    t = dt.datetime(2024, 1, 1)
    assert a.poll(2, t).equals(b.poll(2, t))


def test_planted_bots_are_the_only_hot_flows():
    """Rate = delta / 3 s; hot above 25 pkt/s. Only bots after onset cross
    it, counter resets included (a reset's delta is the new counter)."""
    p = datagen.PollPlan(5)
    prev = np.vstack([np.zeros((1, p.n_flows), dtype=p.counters.dtype), p.counters[:-1]])
    delta = p.counters - prev
    delta = np.where(delta < 0, p.counters, delta)
    hot = delta / 3.0 > 25.0
    polls = np.arange(p.n_polls)[:, None]
    assert np.array_equal(hot, polls >= p.onset[None, :])


def test_ann_batches_are_deterministic_per_seed():
    a = datagen.ann_batches(1, 16, [10, 5])
    b = datagen.ann_batches(1, 16, [10, 5])
    c = datagen.ann_batches(2, 16, [10, 5])
    assert all(np.allclose(np.stack(x["e"]), np.stack(y["e"])) for x, y in zip(a, b))
    assert not np.allclose(np.stack(a[0]["e"]), np.stack(c[0]["e"]))
    assert list(a[1]["vec_id"]) == list(range(10, 15))


def test_percentile_refuses_a_thin_tail():
    assert common.percentile(list(range(100)), 90) == 89
    with pytest.raises(ValueError):
        common.percentile(list(range(99)), 90)
    with pytest.raises(ValueError):
        common.percentile(list(range(199)), 95)
    assert common.percentile(list(range(200)), 95) == 189


def test_sql_metric_parsing():
    assert common.parse_sql_metric("total (min, med, max (stageId: taskId))\n9.5 s (2.3 s)") == 9.5
    assert common.parse_sql_metric("37 ms") == pytest.approx(0.037)
    assert common.parse_sql_metric("795.2 KiB (198.8 KiB)") == pytest.approx(795.2 * 1024)
    assert common.parse_sql_metric("100,000") == 100_000


def test_benchmark_json_matches_the_harness():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
