"""detect-live: the paper's detection pipeline at the reference's
7500-flow load, open loop.

A generator process (pollgen.py) writes one 7500-flow poll every
``POLL_INTERVAL_S`` for ``--seconds`` seconds, after a warm-up poll has
gone through the pipeline. Three chained streaming queries run on the session:

    rates:  poll files → ep1_rates → rate log (parquet)
    alerts: rate log → ep1_alerts → ALERT rows → format_alert → pulsarlite topic
    collab: topic → ep2_collaboration → MitigationSink (timed)

A bot's detection latency runs from the creation of the poll on which it
reaches ``sustained_count`` hot polls to the return of the sink call that
commits its action. Checks: the committed set equals the planted set
plus the warm-up decoy, each action once in the apply log and once in
the ledger, and every poll
was created, no more than one interval late (else the run is not open
loop).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
import uuid

from common import median, percentile
from datagen import POLL_INTERVAL_S, PollPlan

HERE = os.path.dirname(os.path.abspath(__file__))
TOPIC = "mirai"
#: A decoy BOT alert from outside the planted 10.0.0.0/8 flows: it runs
#: the collab query's first batch and the sink's first ledger write before
#: the first real alert arrives. Without it the first wave of bots paid
#: those one-time costs. Its action is checked like a bot's, exactly
#: once, but gives no latency sample.
WARMUP_IP = "192.0.2.1"
WARMUP_MSG = f"{WARMUP_IP}@BOT"
#: Longest wait for the warm-up, and for the last actions after the last
#: poll; it keeps a stalled run inside the 180 s a run may take.
DRAIN_TIMEOUT_S = 45.0
RATES_SCHEMA = "src string, poll_ts timestamp, pkt_rate double, hot boolean"


def _tail(values: list[float], p: float) -> float:
    """p-th percentile, or the max when the run has too few samples for
    one (per-layer streaming figures have one sample per micro-batch)."""
    if not values:
        return 0.0
    try:
        return percentile(values, p)
    except ValueError:
        return max(values)


def _progress_layers(name: str, progress: list, layers: dict) -> None:
    data = [p for p in progress if p.numInputRows > 0]
    if not data:
        return
    dur = [p.durationMs for p in data]
    trig = [d.get("triggerExecution", 0) for d in dur]
    layers[f"streaming.{name}.batch_ms_p50"] = median(trig)
    layers[f"streaming.{name}.batch_ms_p95"] = _tail(trig, 95)
    for key, metric in (("addBatch", "add_batch_ms"), ("walCommit", "wal_commit_ms"), ("queryPlanning", "planning_ms")):
        layers[f"streaming.{name}.{metric}"] = median([d.get(key, 0) for d in dur])
    if name in ("rates", "alerts"):
        upd = [sum(s.allUpdatesTimeMs for s in p.stateOperators) for p in data]
        com = [sum(s.commitTimeMs for s in p.stateOperators) for p in data]
        layers[f"streaming.{name}.state_update_ms"] = median(upd)
        layers[f"streaming.{name}.state_commit_ms"] = median(com)


def run(spark, seed: int, seconds: float, out: str, traced: bool, tracer) -> dict:
    import pyspark.sql.functions as F

    from dipa_collaborative_pulsar_idps_spark.functions.parsing import format_alert
    from dipa_collaborative_pulsar_idps_spark.schemas import FLOW_STATS, HOSTS
    from dipa_collaborative_pulsar_idps_spark.sources import pulsarlite
    from dipa_collaborative_pulsar_idps_spark.sources.pulsar import pulsar_sink_writer, pulsar_source_reader
    from dipa_collaborative_pulsar_idps_spark.streaming.pipelines import (
        ep1_alerts,
        ep1_rates,
        ep2_collaboration,
    )
    from dipa_collaborative_pulsar_idps_spark.streaming.sinks import MitigationSink

    n_polls = 1 + int(seconds // POLL_INTERVAL_S)
    plan = PollPlan(seed, n_polls=n_polls)
    work = os.path.join(out, "detect", uuid.uuid4().hex[:8])
    polls, rates, broker = (os.path.join(work, d) for d in ("polls", "rates", "broker"))
    for d in (polls, rates, broker):
        os.makedirs(d)
    ckpt = lambda q: os.path.join(work, f"ckpt-{q}")  # noqa: E731
    url = f"pulsarlite://{broker}"
    pulsarlite.register(spark)
    pulsarlite.seed_topic(broker, TOPIC, [WARMUP_MSG])
    hosts = spark.createDataFrame(
        [(ip, None, sw, port, True) for ip, sw, port in plan.hosts], HOSTS
    )

    applied: list = []  # rows handed to apply_fn in the current sink call
    commits: list[tuple[str, str, float, float]] = []  # (ip, action, committed, published)
    sink_calls: list[float] = []
    ledger = os.path.join(work, "ledger")
    mitigation = MitigationSink(ledger, key_cols=["action", "ip"], apply_fn=applied.extend)

    def timed_sink(df, batch_id):
        with tracer.span("sink", str(batch_id)) as sp:
            mitigation(df, batch_id)
        sink_calls.append(sp.seconds * 1e3)
        for r in applied:
            commits.append((r["ip"], r["action"], sp.end, r["msg_ts"].timestamp()))
        applied.clear()

    t_start = time.time()
    q_rates = (
        ep1_rates(spark.readStream.schema(FLOW_STATS).parquet(polls))
        .writeStream.format("parquet")
        .option("path", rates)
        .option("checkpointLocation", ckpt("rates"))
        .queryName("rates")
        .start()
    )
    alerts = ep1_alerts(spark.readStream.schema(RATES_SCHEMA).parquet(rates)).where(
        F.col("event") == "ALERT"
    )
    q_alerts = (
        pulsar_sink_writer(
            alerts.select(format_alert(F.col("src"), F.lit("BOT")).alias("value")),
            url, TOPIC, ckpt("alerts"), fmt="pulsarlite",
        )
        .queryName("alerts")
        .start()
    )
    stream = pulsar_source_reader(
        spark, url, TOPIC, fmt="pulsarlite", starting_offsets="earliest"
    ).select("msg_ts", "topic", "value", F.lit("pulsarlite").alias("producer"))
    actions = ep2_collaboration(stream, hosts).where(F.col("action") != "IGNORE")
    q_collab = (
        actions.writeStream.foreachBatch(timed_sink)
        .option("checkpointLocation", ckpt("collab"))
        .queryName("collab")
        .start()
    )
    queries = {"rates": q_rates, "alerts": q_alerts, "collab": q_collab}

    manifest, go = os.path.join(work, "manifest.jsonl"), os.path.join(work, "go")
    gen = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "pollgen.py"), "--seed", str(seed),
         "--polls", str(n_polls),
         "--out", polls, "--manifest", manifest, "--go", go],
    )
    cold_s = None
    expected = set(plan.alert_poll)
    deadline = time.time() + DRAIN_TIMEOUT_S

    def fed(q) -> bool:
        return any(p.numInputRows > 0 for p in q.recentProgress)

    errors: list[str] = []
    try:
        while time.time() < deadline and not errors:
            errors = [f"{q.name}: {q.exception()}" for q in queries.values() if q.exception()]
            if cold_s is None and all(fed(q) for q in queries.values()):
                # the warm-up poll and message went through: start the open loop
                cold_s = time.time() - t_start
                with open(go + ".tmp", "w") as f:
                    f.write(repr(time.time()))
                os.rename(go + ".tmp", go)
                deadline = time.time() + n_polls * POLL_INTERVAL_S + DRAIN_TIMEOUT_S
            if gen.poll() is not None and expected <= {c[0] for c in commits}:
                break
            time.sleep(0.05)
        time.sleep(0.5)  # let a spurious late action show up
    finally:
        progress = {n: q.recentProgress for n, q in queries.items()}
        for q in queries.values():
            q.stop()
        if gen.poll() is None:
            gen.kill()
        gen.wait()
    if cold_s is None:
        cold_s = time.time() - t_start

    created = {}
    if os.path.exists(manifest):  # absent only if the generator died at start
        with open(manifest) as f:
            created = {m["poll"]: m for m in map(json.loads, f)}
    first_commit: dict[str, tuple[float, float]] = {}
    for ip, _action, t_commit, t_pub in commits:
        first_commit.setdefault(ip, (t_commit, t_pub))
    lat, pub_lag, con_lag = [], [], []
    for ip, (t_commit, t_pub) in first_commit.items():
        if ip in plan.alert_poll and plan.alert_poll[ip] in created:
            t_poll = created[plan.alert_poll[ip]]["created"]
            lat.append((t_commit - t_poll) * 1e3)
            pub_lag.append((t_pub - t_poll) * 1e3)
            con_lag.append((t_commit - t_pub) * 1e3)

    # checks: detected == planted, each action exactly once (apply log and ledger)
    with tracer.span("check", "detect-live"):
        counts: dict[str, int] = {}
        for ip, _a, _t, _p in commits:
            counts[ip] = counts.get(ip, 0) + 1
        committed = expected | {WARMUP_IP}
        missed = committed - set(counts)
        spurious = set(counts) - committed
        repeated = {ip for ip, c in counts.items() if c > 1}
        if os.path.isdir(ledger):
            keys = spark.read.parquet(ledger).groupBy("__key").count()
            ledger_n = keys.count()
            ledger_dups = keys.where("count > 1").count()
        else:
            ledger_n, ledger_dups = 0, 0
        # a poll that is missing or came more than one interval late means
        # the generator stalled, so the run was not open loop
        bad_polls = sorted(
            set(range(n_polls)) - {p for p, m in created.items() if m["late_ms"] <= POLL_INTERVAL_S * 1e3}
        )
    failed = (
        len(missed) + len(spurious) + len(repeated) + ledger_dups
        + (ledger_n != len(committed)) + len(bad_polls)
    )
    p95 = _tail(lat, 95) if lat else None

    layers: dict = {}
    if traced:
        for n, prog in progress.items():
            _progress_layers(n, prog, layers)
            for p in prog:
                t = _epoch(p.timestamp)
                tracer.add(
                    f"batch:{n}", t, t + p.durationMs.get("triggerExecution", 0) / 1e3,
                    str(p.batchId), rows=p.numInputRows,
                )
        layers["streaming.sink_call_ms"] = median(sink_calls) if sink_calls else 0.0
        layers["streaming.backlog_polls"] = _backlog(progress["rates"], created, plan.n_flows)
        layers["sources.publish_lag_ms"] = median(pub_lag) if pub_lag else 0.0
        layers["sources.consume_lag_ms"] = median(con_lag) if con_lag else 0.0
        layers["gen.late_ms_p95"] = _tail([m["late_ms"] for m in created.values()], 95)
    shutil.rmtree(work, ignore_errors=True)
    return {
        "attempted": len(expected) + 1 + n_polls,
        "failed": failed,
        "failed_names": errors + [f"poll-{p}" for p in bad_polls] + sorted(missed | spurious | repeated)[:20],
        "cold_s": cold_s,
        "op_ms": median(lat) if lat else 0.0,
        "total_s": p95 / 1e3 if p95 else 0.0,
        "workload_metrics": {
            "detect_p50_ms": median(lat) if lat else None,
            "detect_p95_ms": p95,
            "bots_detected": len(expected & set(first_commit)),
            "polls": len(created),
        },
        "layers": layers,
    }


def _epoch(timestamp: str) -> float:
    """A progress event's ISO-8601 UTC timestamp as epoch seconds."""
    import datetime as dt

    return dt.datetime.fromisoformat(timestamp.replace("Z", "+00:00")).timestamp()


def _backlog(progress: list, created: dict, n_flows: int) -> float:
    """Largest number of polls created but not yet read by the rates
    query, seen at any of its progress events."""
    consumed, worst = 0, 0
    for p in progress:
        consumed += p.numInputRows // n_flows
        t = _epoch(p.timestamp) + p.durationMs.get("triggerExecution", 0) / 1e3
        made = sum(1 for m in created.values() if m["created"] <= t)
        worst = max(worst, made - consumed)
    return float(worst)
