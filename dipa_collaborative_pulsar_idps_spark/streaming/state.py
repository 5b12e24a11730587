"""Custom stateful streaming operators (SURVEY.md §2 C1-C3, I2-I8, I16).

These are the only operators in the engine that genuinely need
``applyInPandasWithState`` — everything else is built-in. All four
(:func:`counter_delta_stream`, :func:`alert_state_machine`,
:func:`pushback_dedupe_stream`, :func:`heavy_hitters_stream`) run on one
scaffold, :func:`_sharded_state`, under ``GroupStateTimeout.NoTimeout``.
The first three bound their state with an EVENT-TIME TTL applied inside
the shard (the analogue of the reference's flow idle_timeout=60 s
eviction, DIPA_Controller.py:222,225); the heavy-hitter summary is bounded
by construction.

Scale: state lives in the per-partition state store (RocksDB-capable),
keyed by the REAL flow key — fixing the reference's positional-index state
bug (DIPA_Controller.py:462, see SURVEY.md §7 watch list).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..config import DEFAULT, DetectionConfig
from ..session import N_STATE_SHARDS


def _sharded_state(
    df: DataFrame,
    shard_cols: list[str],
    n_shards: int,
    state_fields: list[str],
    out_schema: str,
    step: Callable[[Any, pd.DataFrame, dict], pd.DataFrame | None],
    ttl: tuple[str, int | None] | None = None,
) -> DataFrame:
    """The one ``applyInPandasWithState`` scaffold of this module.

    Throughput design: ``applyInPandasWithState`` pays a Python invocation
    per state GROUP per batch — with one group per flow (8k flows/poll,
    the reference's saturation point) that overhead alone blows the 2 s
    poll budget. So the group key is a hash SHARD,
    ``pmod(xxhash64(shard_cols), n_shards)``, and each shard's state holds
    its keys' fields as parallel arrays, one per ``state_fields`` entry
    ("name element_type"; the first is the key).

    Per shard and batch the scaffold unpacks the arrays into
    ``smap = {key: [field, ...]}`` and concatenates the shard's chunks.
    With ``ttl = (ts_col, idle_timeout_ms)`` it then prunes every key
    whose LAST field (``last_seen_us``) is older than the batch's newest
    ``ts_col`` minus the timeout. ``step(shard, rows, smap)`` updates
    ``smap`` in place and returns the output frame, or None to emit
    nothing; the scaffold repacks ``smap`` into the same arrays.

    The TTL runs on event time, never ProcessingTimeTimeout, which re-arms
    forever and keeps Trigger.AvailableNow scheduling batches.
    """
    state_schema = ", ".join(f"{n} array<{t}>" for n, t in map(str.split, state_fields))
    width = len(state_fields) - 1
    ts_col, idle_timeout_ms = ttl or (None, None)

    def fn(
        key: tuple[Any, ...], pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        smap = {k_: v for k_, *v in zip(*state.get)} if state.exists else {}
        chunks = list(pdfs)
        rows = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
        if idle_timeout_ms and smap:
            horizon = int(rows[ts_col].astype("int64").max()) // 1000 - idle_timeout_ms * 1000
            for k_ in [k_ for k_, v in smap.items() if v[-1] < horizon]:
                del smap[k_]
        out = step(key[0], rows, smap)
        state.update((list(smap), *([v[i] for v in smap.values()] for i in range(width))))
        if out is not None:
            yield out

    shard = F.pmod(F.xxhash64(*shard_cols), F.lit(n_shards)).alias("__shard")
    return (
        df.withColumn("__shard", shard)
        .groupBy("__shard")
        .applyInPandasWithState(fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout)
    )


# ---------------------------------------------------------------------------
# C1-C3: cumulative-counter → delta with reset detection, streaming form.
# State: last counter per key. Negative delta ⇒ counter reset (flow
# re-install / switch reboot) ⇒ delta = current counter (SURVEY.md §4 #1).
# ---------------------------------------------------------------------------


_FLOW_SEP = "\x1f"


def counter_delta_stream(
    df: DataFrame,
    key_cols: list[str],
    counter_col: str = "packet_count",
    ts_col: str = "poll_ts",
    idle_timeout_ms: int | None = None,
) -> DataFrame:
    """Streaming per-key counter deltas, SHARDED state (:func:`_sharded_state`,
    :data:`N_STATE_SHARDS` shards, each holding its flows' last counter and
    last event time).

    Output schema: key_cols + (poll_ts timestamp, counter long, delta long).

    The per-flow delta is a vectorized pandas groupby+shift inside the
    shard, seeded from the flow's last counter in state. Per-flow TTL
    eviction (I2) uses EVENT time and runs BEFORE the deltas: a flow idle
    past ``idle_timeout_ms`` re-installed (reference idle_timeout=60 s),
    so its old counter must not seed the new delta. State size is bounded
    by live flows.
    """
    out_schema = (
        ", ".join(f"{c} string" for c in key_cols)
        + f", {ts_col} timestamp, {counter_col} long, delta long"
    )

    def step(shard: Any, rows: pd.DataFrame, smap: dict) -> pd.DataFrame:
        flow = rows[key_cols[0]].astype(str)
        for c in key_cols[1:]:
            flow = flow + _FLOW_SEP + rows[c].astype(str)
        rows = rows.assign(__flow=flow).sort_values(["__flow", ts_col])
        vals = rows[counter_col].to_numpy(dtype="int64")
        prev = rows.groupby("__flow", sort=False)[counter_col].shift(1)
        first_mask = prev.isna().to_numpy()
        last = {f: v[0] for f, v in smap.items()}
        seed = rows["__flow"].map(last).fillna(0).to_numpy(dtype="int64")
        prev = prev.fillna(0).to_numpy(dtype="int64")
        prev[first_mask] = seed[first_mask]  # carry state across batches
        deltas = vals - prev
        deltas = np.where(deltas < 0, vals, deltas)  # reset detection
        # update per-flow state: last counter + last event-time seen
        us = (rows[ts_col].astype("int64") // 1000).to_numpy()  # ns → µs
        tail = rows.assign(__v=vals, __us=us).groupby("__flow", sort=False).tail(1)
        for f, v, u in zip(tail["__flow"], tail["__v"], tail["__us"]):
            smap[f] = [int(v), int(u)]
        out = pd.DataFrame({c: rows[c].astype(str).values for c in key_cols})
        out[ts_col] = rows[ts_col].values
        out[counter_col] = vals
        out["delta"] = deltas
        return out

    return _sharded_state(
        df,
        key_cols,
        N_STATE_SHARDS,
        ["flow_keys string", "last_counters long", "last_seen_us long"],
        out_schema,
        step,
        (ts_col, idle_timeout_ms),
    )


# ---------------------------------------------------------------------------
# I16: keyed alert lifecycle state machine — sustained-count hysteresis up
# (I3, Controller1.py:419-429), calm-count down (I4, :434-443), latch (I7),
# TTL eviction (I2).
# Emits transition rows only (change-detection, not per-poll spam).
# ---------------------------------------------------------------------------


def _runs(keys: np.ndarray, values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Run-length segmentation: start indices and lengths of maximal runs of
    rows sharing (key, value) — the backbone of the vectorized state
    machines (events are computed per RUN, not per row)."""
    n = len(keys)
    if n == 0:
        return np.array([], dtype=np.int64), np.array([], dtype=np.int64)
    change = np.ones(n, dtype=bool)
    change[1:] = (keys[1:] != keys[:-1]) | (values[1:] != values[:-1])
    starts = np.flatnonzero(change)
    lengths = np.diff(np.append(starts, n))
    return starts, lengths


def _advance_lifecycle(
    st: list,
    is_hot: bool,
    ln: int,
    ts_run,
    sustained: int,
    calm_needed: int,
    escalate_at: int,
) -> list[tuple[str, Any, int]]:
    """Advance one key's lifecycle state ``st = [streak, calm, alerted,
    escalated, last_seen_us]`` (mutated in place) through ONE maximal run
    of ``ln`` consecutive polls of the same hotness; ``ts_run`` holds the
    run's timestamps. Returns the transition events fired inside the run:
    the lifecycle arithmetic of :func:`alert_state_machine`."""
    # only the lifecycle quadruple is read/written here; the machine
    # stamps last_seen_us at [4]
    streak, calm, alerted, escalated = st[0], st[1], st[2], st[3]
    events: list[tuple[str, Any, int]] = []
    if is_hot:
        if not alerted and streak + ln >= sustained:
            p = max(sustained - streak, 1)
            alerted = True
            events.append(("ALERT", ts_run[p - 1], streak + p))
        if alerted and not escalated and streak + ln >= escalate_at:
            p = max(escalate_at - streak, 1)
            if p <= ln:
                escalated = True
                events.append(("ESCALATE", ts_run[p - 1], streak + p))
        streak, calm = streak + ln, 0
    else:
        if alerted and calm + ln >= calm_needed:
            p = max(calm_needed - calm, 1)
            alerted = escalated = False
            events.append(("CLEAR", ts_run[p - 1], calm + p))
        calm, streak = calm + ln, 0
    st[0], st[1], st[2], st[3] = int(streak), int(calm), bool(alerted), bool(escalated)
    return events


def alert_state_machine(
    df: DataFrame,
    key_col: str = "src",
    hot_col: str = "hot",
    ts_col: str = "poll_ts",
    cfg: DetectionConfig = DEFAULT,
    idle_timeout_ms: int | None = None,
    emit_state_size: bool = False,
) -> DataFrame:
    """Per-source alert lifecycle: suspected → ALERT after
    ``cfg.sustained_count`` consecutive hot polls; ALERT → ESCALATE
    (rate-limit → block, I5: TestCase_7/timeStamp2.py:353-359) after
    ``cfg.escalate_persist`` further hot polls; ALERT/ESCALATE → CLEAR after
    ``cfg.calm_count`` calm polls. Output: (key, event, event_ts, streak).

    SHARDED state (:func:`_sharded_state`, :data:`N_STATE_SHARDS` shards,
    each holding its keys' lifecycle tuples). Inside the shard the poll
    timeline is run-length segmented (consecutive hot / calm runs per
    key); transitions are emitted with O(1) arithmetic per RUN — the
    crossing position of sustained / escalate / calm thresholds — so cost
    scales with state changes, not polls. ``idle_timeout_ms`` is an
    EVENT-TIME TTL (entries idle past the horizon are pruned before
    processing).

    ``emit_state_size=True`` adds one observability row per shard per
    batch — (``__shard=<n>``, event=``STATE_SIZE``, batch max ts,
    streak=tracked keys AFTER TTL pruning) — so soak tests/monitors can
    assert the state stays bounded instead of trusting the TTL. The
    sharded layout makes the engine-level ``numRowsTotal`` metric read
    the shard count regardless of key count; this probe is the honest
    signal.
    """
    out_schema = f"{key_col} string, event string, event_ts timestamp, streak int"
    sustained, calm_needed = cfg.sustained_count, cfg.calm_count
    escalate_at = cfg.sustained_count + cfg.escalate_persist

    def step(shard: Any, rows: pd.DataFrame, smap: dict) -> pd.DataFrame | None:
        rows = rows.sort_values([key_col, ts_col])
        keys_a = rows[key_col].astype(str).to_numpy(dtype=object)
        hot_a = rows[hot_col].to_numpy(dtype=bool)
        ts_a = rows[ts_col].to_numpy()
        us_a = rows[ts_col].astype("int64").to_numpy() // 1000  # ns → µs
        starts, lengths = _runs(keys_a, hot_a)
        events: list[tuple[str, str, Any, int]] = []
        for s, ln in zip(starts, lengths):
            k_ = keys_a[s]
            st = smap.get(k_) or [0, 0, False, False, 0]
            for ev, ts, stk in _advance_lifecycle(
                st, bool(hot_a[s]), int(ln), ts_a[s : s + ln],
                sustained, calm_needed, escalate_at,
            ):
                events.append((k_, ev, ts, stk))
            st[4] = int(us_a[s + ln - 1])
            smap[k_] = st
        if emit_state_size:
            events.append((f"__shard={shard}", "STATE_SIZE", ts_a.max(), len(smap)))
        if not events:
            return None
        return pd.DataFrame(
            {
                key_col: [e[0] for e in events],
                "event": [e[1] for e in events],
                "event_ts": [e[2] for e in events],
                "streak": [int(e[3]) for e in events],
            }
        )

    return _sharded_state(
        df,
        [key_col],
        N_STATE_SHARDS,
        [
            "keys string", "streaks int", "calms int",
            "alerteds boolean", "escalateds boolean", "last_seen_us long",
        ],
        out_schema,
        step,
        (ts_col, idle_timeout_ms),
    )


# ---------------------------------------------------------------------------
# I8: pushback sustained dedupe (TestCase_2/Controller1.py:354-363) — a
# per-domain pushback SET must stay identical for N consecutive polls
# before it is sent upstream, and an unchanged set is never re-sent.
# ---------------------------------------------------------------------------


def pushback_dedupe_stream(
    df: DataFrame,
    key_col: str = "vm",
    members_col: str = "members",
    ts_col: str = "poll_ts",
    sustain: int = 5,
    idle_timeout_ms: int | None = None,
) -> DataFrame:
    """Input: one row per (key, poll) carrying the poll's pushback set as an
    array column. Emits (key, sent_ts, members, streak) exactly once per
    sustained run: when the sorted set has been identical for *sustain*
    consecutive polls. A changed set resets the streak; after a send, the
    same set never re-sent until it changes and re-sustains.

    SHARDED state (:func:`_sharded_state`, :data:`N_STATE_SHARDS` shards):
    per-key (sig, streak, sent) tuples held as parallel arrays in the
    shard. The poll timeline is run-length segmented on (key,
    canonical-set signature); a send is the O(1) crossing position of
    ``sustain`` within a run — no per-row loop. ``idle_timeout_ms`` =
    event-time TTL inside the shard.
    """
    out_schema = f"{key_col} string, sent_ts timestamp, members array<string>, streak int"

    def step(shard: Any, rows: pd.DataFrame, smap: dict) -> pd.DataFrame | None:
        rows = rows.sort_values([key_col, ts_col])
        keys_a = rows[key_col].astype(str).to_numpy(dtype=object)
        ts_a = rows[ts_col].to_numpy()
        us_a = rows[ts_col].astype("int64").to_numpy() // 1000
        mem_canon = np.empty(len(rows), dtype=object)
        sig_a = np.empty(len(rows), dtype=object)
        for i, m in enumerate(rows[members_col].to_numpy()):
            canon = sorted(set(m))
            mem_canon[i] = canon
            sig_a[i] = "\x1f".join(canon)
        starts, lengths = _runs(keys_a, sig_a)
        fired: list[tuple[str, Any, list, int]] = []
        for s, ln in zip(starts, lengths):
            k_ = keys_a[s]
            st = smap.get(k_)
            if st is not None and st[0] == sig_a[s]:
                start, sent = st[1], st[2]
            else:
                start, sent = 0, False
            if not sent and mem_canon[s] and start + ln >= sustain:
                p = max(sustain - start, 1)
                sent = True
                fired.append((k_, ts_a[s + p - 1], mem_canon[s], start + p))
            smap[k_] = [sig_a[s], int(start + ln), bool(sent), int(us_a[s + ln - 1])]
        if not fired:
            return None
        return pd.DataFrame(
            {
                key_col: [f[0] for f in fired],
                "sent_ts": [f[1] for f in fired],
                "members": [f[2] for f in fired],
                "streak": [int(f[3]) for f in fired],
            }
        )

    return _sharded_state(
        df,
        [key_col],
        N_STATE_SHARDS,
        ["keys string", "sigs string", "streaks int", "sents boolean", "last_seen_us long"],
        out_schema,
        step,
        (ts_col, idle_timeout_ms),
    )


def heavy_hitters_stream(
    df: DataFrame,
    col: str,
    m: int = 128,
    n_shards: int = 16,
) -> DataFrame:
    """Streaming frequent items: per-shard SpaceSaving state over an
    unbounded stream (the streaming twin of
    `operators/heavyhitters.heavy_hitters_exact`).

    Values are SHARDED BY VALUE HASH (:func:`_sharded_state`), so every
    occurrence of a value lands in the same shard and each shard
    maintains one SpaceSaving summary of ≤ ``m`` counters — state is
    O(m · n_shards) FOREVER, regardless of stream length or value
    cardinality (no watermark or TTL needed: the summary itself is the
    bounded structure, unlike dedup state). Each batch the shard re-emits
    its current candidate set as (value, est_count, err_bound): est
    overestimates the true count by at most err_bound (the count the
    entry inherited at its last eviction) — the standard SpaceSaving
    guarantee, which also means any value with true frequency >
    batch_total/m so far is present.

    Append-mode emission of per-batch snapshots: downstream takes the
    latest batch (or maxes over time) for a live top-k board.
    """
    out_schema = f"{col} string, est_count long, err_bound long"

    def step(shard: Any, rows: pd.DataFrame, smap: dict) -> pd.DataFrame:
        for v in rows[col]:
            entry = smap.get(v)
            if entry is not None:
                entry[0] += 1
            elif len(smap) < m:
                smap[v] = [1, 0]
            else:
                mv = smap.pop(min(smap, key=lambda k2: smap[k2][0]))[0]
                smap[v] = [mv + 1, mv]  # overestimate bound inherited on eviction
        return pd.DataFrame(
            {
                col: list(smap),
                "est_count": [e[0] for e in smap.values()],
                "err_bound": [e[1] for e in smap.values()],
            }
        )

    return _sharded_state(
        df, [col], n_shards, ["vals string", "counts long", "errs long"], out_schema, step
    )
