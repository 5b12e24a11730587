"""Streaming pipeline compositions and the index sinks.

The compositions are the Spark equivalents of the reference's three entry
points (SURVEY.md §3 EP1/EP2/EP3) plus the engine's other streaming
operators: the stream-stream alert join, the EP4 global view, and the
document curation, decontamination, window-dedup, sessionization and
quality-gate streams. Each takes streaming (or batch — the operators are
mode-agnostic where possible) DataFrames and returns the transformed
DataFrame; the caller picks the sink (memory for tests,
Pulsar/parquet/foreachBatch in prod).

The index sinks are foreachBatch bodies that keep a persisted index beside
the stream and process only each micro-batch's delta: near-dup detection
(:func:`incremental_dedup_sink`), lexical retrieval
(:func:`incremental_tfidf_sink`), dense-ANN index maintenance
(:func:`incremental_ann_sink`) and online semantic dedup
(:func:`streaming_semantic_dedup_sink`). All four run on one exactly-once
commit protocol, :func:`_exactly_once`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT, DetectionConfig
from ..functions.parsing import parse_alert, protocol_classifier
from ..localdf import local_rows_df
from ..memo import _release
from ..storage import _exists, _fs_path, _read_text, _write_batch_partitions, _write_text
from .state import alert_state_machine, counter_delta_stream

# ---------------------------------------------------------------------------
# EP1 — detection: flow-stats poll stream → classify → per-flow delta →
# rate → sustained-alert state machine.
# (DIPA_Controller.py:452-501 + mirai_checker :323-352.)
# ---------------------------------------------------------------------------


def ep1_rates(
    flow_stats: DataFrame,
    cfg: DetectionConfig = DEFAULT,
    idle_timeout_ms: int | None = None,
) -> DataFrame:
    """EP1 stage 1: flow-stats stream → hot-rate stream.

    Stages (all keyed by the REAL flow identity, not sort position):
      1. priority==detect filter (B1) + telnet/loader null-safe predicate
         (B5/B6) — pushed to the source scan;
      2. per-flow cumulative-counter delta with reset detection (C1);
      3. pkt rate = delta / poll_interval (C5) → hot flag (B7).
    Output: (src, poll_ts, pkt_rate, hot).
    """
    telnet_or_loader = F.col("tcp_dst").isin(*cfg.telnet_ports) | (
        (F.col("udp_dst") == cfg.loader_port) & (F.col("udp_src") == cfg.loader_port)
    )
    detect = flow_stats.where(
        (F.col("priority") == cfg.detect_priority) & telnet_or_loader
    )
    deltas = counter_delta_stream(
        detect.select(
            F.col("ipv4_src").alias("src"),
            F.concat_ws(
                "|", "dpid", "in_port", "ipv4_src", "ipv4_dst", "tcp_dst", "udp_dst"
            ).alias("flow_key"),
            "poll_ts",
            "packet_count",
        ),
        key_cols=["flow_key", "src"],
        counter_col="packet_count",
        ts_col="poll_ts",
        idle_timeout_ms=idle_timeout_ms,
    )
    return deltas.select(
        "src",
        "poll_ts",
        (F.col("delta") / F.lit(cfg.test_poll_interval_s)).alias("pkt_rate"),
    ).withColumn("hot", F.col("pkt_rate") > cfg.pkt_rate_threshold)


def ep1_alerts(hot_rates: DataFrame, cfg: DetectionConfig = DEFAULT) -> DataFrame:
    """EP1 stage 2: per-source sustained-count hysteresis (I3/I4/I16).

    Spark allows one applyInPandasWithState per streaming query, so EP1 is
    two chained queries (stage 1 → intermediate log → stage 2) — the same
    decomposition as the reference's poll thread vs mirai_checker
    (DIPA_Controller.py:308-320 vs :323-352); the intermediate log replaces
    the shared dicts + semaphore (I13).
    """
    return alert_state_machine(
        hot_rates, key_col="src", hot_col="hot", ts_col="poll_ts", cfg=cfg
    )


def ep1_running_totals(
    flow_stats: DataFrame, cfg: DetectionConfig = DEFAULT
) -> DataFrame:
    """Streaming running telnet totals per source — mean_dict as a
    complete-mode aggregate (D1, DIPA_Controller.py:479-481).

    Run with ``outputMode('complete')``: each trigger re-emits the totals
    since stream start. Semantics pinned per SURVEY.md §4 #3: the reference
    argmaxes over mean_dict's RUNNING totals (not a recent window); chain
    :func:`cnc_from_totals` over each emitted snapshot for the CNC pick —
    Spark (rightly) refuses chained stateful aggregates in one query, and
    the reference itself recomputes argmax per poll over the dict snapshot.
    A windowed-recent variant is `groupBy(window(ts, ...), src)` upstream.
    """
    telnet = flow_stats.where(
        (F.col("priority") == cfg.detect_priority)
        & F.col("tcp_dst").isin(*cfg.telnet_ports)
    )
    return telnet.groupBy(F.col("ipv4_src").alias("src")).agg(
        F.sum("packet_count").alias("total_traffic")
    )


def cnc_from_totals(totals: DataFrame) -> DataFrame:
    """Argmax over a totals snapshot (D2/G3): ties broken deterministically
    (hash order). Batch operator — applied per emitted complete-mode table."""
    return totals.agg(
        F.max_by(
            "src", F.struct(F.col("total_traffic"), (-F.xxhash64("src")).alias("tb"))
        ).alias("cnc"),
        F.max("total_traffic").alias("total_traffic"),
    )


# ---------------------------------------------------------------------------
# EP2 — collaboration: alert-message stream → parse → topology lookup →
# mitigation action rows (DIPA_Controller.py:357-421).
# ---------------------------------------------------------------------------


def ep2_collaboration(
    alerts: DataFrame, hosts: DataFrame, cfg: DetectionConfig = DEFAULT
) -> DataFrame:
    """Input: ALERTS-schema stream + hosts dimension (broadcast).
    Output: one action row per alert: (msg_ts, ip, kind, action, switch,
    port_no, priority, match_field, match_value).

    Branching mirrors _monitor2: BOT → per-switch QoS + loader block;
    CNC → telnet block from ip; COMPROMISE ≥50% → network lockdown (B11).
    """
    parsed = alerts.withColumn("p", parse_alert(F.col("value"))).select(
        "msg_ts", F.col("p.ip").alias("ip"), F.col("p.kind").alias("kind"), F.col("p.pct").alias("pct")
    )
    joined = parsed.join(
        F.broadcast(hosts), parsed.ip == hosts.host_ip, "left"
    )
    action = (
        F.when(F.col("kind") == "BOT", "RATE_LIMIT_AND_BLOCK_LOADER")
        .when(F.col("kind") == "CNC", "BLOCK_TELNET_FROM_IP")
        .when(
            (F.col("kind") == "COMPROMISE") & (F.col("pct") >= cfg.compromise_pct),
            "NETWORK_LOCKDOWN",
        )
        .otherwise("IGNORE")
    )
    return joined.select(
        "msg_ts",
        "ip",
        "kind",
        "pct",
        action.alias("action"),
        "switch",
        "port_no",
        F.when(action != "IGNORE", cfg.block_priority).alias("priority"),
        F.when(F.col("kind") == "BOT", F.lit("udp_dst"))
        .when(F.col("kind") == "CNC", F.lit("tcp_dst"))
        .alias("match_field"),
        F.when(F.col("kind") == "BOT", F.lit(cfg.loader_port))
        .when(F.col("kind") == "CNC", F.lit(cfg.telnet_ports[0]))
        .alias("match_value"),
    )


# ---------------------------------------------------------------------------
# EP3 — packet admission: packet_in stream → LLDP drop → classify →
# flow-rule rows (DIPA_Controller.py:230-291).
# ---------------------------------------------------------------------------

_LLDP_ETH_TYPE = 0x88CC


def ep3_packet_admission(
    packet_in: DataFrame, cfg: DetectionConfig = DEFAULT
) -> DataFrame:
    """Input: PACKET_IN-schema stream. Output: flow-rule rows
    (event_ts, dpid, eth_src, eth_dst, protocol, priority, idle_timeout,
    hard_timeout). MAC learning (C6) is a separate last-write aggregate
    (see queries.detection.last_write_upsert for the batch form)."""
    return (
        packet_in.where(
            F.col("eth_type").isNull() | (F.col("eth_type") != _LLDP_ETH_TYPE)
        )
        .withColumn(
            "protocol",
            protocol_classifier(
                F.col("ip_proto"), F.col("l4_dst_port"), F.col("l4_src_port")
            ),
        )
        .select(
            "event_ts",
            "dpid",
            "eth_src",
            "eth_dst",
            "protocol",
            F.lit(cfg.detect_priority).alias("priority"),
            F.lit(cfg.flow_idle_timeout_s).alias("idle_timeout"),
            F.lit(cfg.flow_hard_timeout_s).alias("hard_timeout"),
        )
    )


# ---------------------------------------------------------------------------
# Stream-stream join: correlate two live streams inside a time bound.
# The reference correlates its alert set with per-flow rates through shared
# process dicts (DIPA_Controller.py:323-352 reading state built at :461-489);
# the Spark-native equivalent is a watermarked stream-stream interval join —
# state for both sides is bounded by the watermark, so it runs indefinitely.
# ---------------------------------------------------------------------------


def alert_rate_context(
    rates: DataFrame,
    alerts: DataFrame,
    lookback_s: int = 60,
    watermark: str = "2 minutes",
) -> DataFrame:
    """Join a (src, poll_ts, pkt_rate, hot) rate stream with a parsed alert
    stream (src, alert_ts, kind): each alert is enriched with every rate
    observation for that source in the ``lookback_s`` seconds up to the
    alert — evidence attached to the alert, computed stream-side.

    Both inputs MUST be streaming DataFrames. Watermarks bound the join
    state: a rate row is droppable once the alert-side watermark passes
    ``poll_ts + lookback_s``; Spark derives that from the range condition.
    Inner join ⇒ rows emit as soon as both sides arrive (no watermark
    finalization wait); use left-outer only with the same condition if
    unmatched alerts must also surface (they then wait for the watermark).
    """
    return _alert_rate_join(rates, alerts, lookback_s, watermark, "inner")


def alert_rate_context_outer(
    rates: DataFrame,
    alerts: DataFrame,
    lookback_s: int = 60,
    watermark: str = "2 minutes",
) -> DataFrame:
    """LEFT-OUTER twin of :func:`alert_rate_context`: every alert
    surfaces — enriched with its lookback rate evidence when any exists,
    or once with NULL evidence columns when NO rate observation fell in
    the window (a blind-spot alert, itself a signal: the source alerted
    without the poller ever seeing traffic from it).

    Outer semantics need the watermark: a NULL-padded row can only emit
    once Spark is sure no matching rate row can still arrive, i.e. when
    the rate-side watermark passes ``alert_ts`` — so unmatched alerts
    emit with watermark latency while matched ones stream out as soon as
    both sides arrive (same state bound as the inner form)."""
    return _alert_rate_join(rates, alerts, lookback_s, watermark, "left_outer")


def _alert_rate_join(
    rates: DataFrame,
    alerts: DataFrame,
    lookback_s: int,
    watermark: str,
    how: str,
) -> DataFrame:
    r = rates.withWatermark("poll_ts", watermark).select(
        F.col("src").alias("rate_src"), "poll_ts", "pkt_rate", "hot"
    )
    a = alerts.withWatermark("alert_ts", watermark)
    return a.join(
        r,
        (F.col("src") == F.col("rate_src"))
        & (F.col("poll_ts") >= F.col("alert_ts") - F.expr(f"INTERVAL {lookback_s} SECONDS"))
        & (F.col("poll_ts") <= F.col("alert_ts")),
        how,
    ).drop("rate_src")


# ---------------------------------------------------------------------------
# EP4 — global-view merge (threaded_consumer.py:12-118): N per-subnet update
# streams → per-key recent mean → cross-domain anomaly baseline.
# ---------------------------------------------------------------------------


def ep4_global_view(
    updates: DataFrame,
    window: str = "10 seconds",
    watermark: str = "30 seconds",
) -> DataFrame:
    """Collaborative anomaly baseline as ONE streaming query with chained
    windowed aggregates (Spark ≥3.4 multi-stateful support).

    Input: (msg_ts, vm, src, port, rate) — the parsed update-topic stream,
    `vm` carried from the topic name (threaded_consumer.py:38-44).
    Stage 1 ≙ the per-(vm,src,port) deque mean (:77-93): windowed avg.
    Stage 2 ≙ the cross-population np.mean/np.std (:94-98): avg/stddev_pop
    over the per-key means of the same window.
    Output (append mode, emitted when the watermark closes each window):
    (w, global_mean, global_std, n_keys) — consumers flag a key whose mean
    exceeds global_mean + k·global_std (relational twin:
    `global_view_anomalies`)."""
    per_key = (
        updates.withWatermark("msg_ts", watermark)
        .groupBy(F.window("msg_ts", window).alias("w"), "vm", "src", "port")
        .agg(F.avg("rate").alias("mean_rate"))
    )
    return per_key.groupBy("w").agg(
        F.avg("mean_rate").alias("global_mean"),
        F.stddev_pop("mean_rate").alias("global_std"),
        F.count("*").alias("n_keys"),
    )


# ---------------------------------------------------------------------------
# Streaming curation: the unbounded-log twin of queries/datapipe.py
# curation_funnel — documents arriving as a stream, gated and deduplicated
# online. Beyond the reference (it has no document pipeline); part of the
# engine's LLM-training-data surface.
# ---------------------------------------------------------------------------


def streaming_curation(
    docs: DataFrame,
    *,
    lang: str = "en",
    min_tokens: int = 20,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming curation: language + length gates (stateless codegen) →
    exact content dedup via ``dropDuplicates`` on md5(text) bounded by an
    event-time watermark.

    Input: (ingest_ts timestamp, doc_id long, lang string, text string).
    Output: the surviving rows + content_hash, each content emitted ONCE
    per watermark horizon.

    100 TB notes: the gates discard before the dedup shuffle (same
    filter-before-shuffle ordering as the batch funnel); dedup state is
    keyed by content hash and must be EVICTED as the watermark advances.
    Plain ``dropDuplicates(['content_hash'])`` would NOT do that: Spark
    only cleans streaming-dedup state when the event-time column is part
    of the dedup key set, so key-only dedup under a watermark still grows
    state forever. ``dropDuplicatesWithinWatermark`` exists for exactly
    this shape (key-only dedup, watermark-bounded state): a duplicate
    arriving within the watermark delay of its first sighting is
    suppressed; once the watermark passes the first sighting's event time
    + delay the key is evicted, and a later duplicate RE-EMITS —
    at-least-once dedup over an unbounded stream is inherently
    horizon-bounded; the downstream lake merge (storage.py compaction) is
    the global backstop. RocksDB state store (session.py) carries
    corpus-scale key counts.
    """
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    gated = (
        docs.where(F.col("lang") == lang)
        .withColumn("n_tokens", F.size(toks))
        .where(F.col("n_tokens") >= min_tokens)
        .withColumn("content_hash", F.md5("text"))
    )
    return gated.withWatermark("ingest_ts", watermark).dropDuplicatesWithinWatermark(
        ["content_hash"]
    )


def streaming_decontamination(
    docs: DataFrame, benchmark_docs: DataFrame, *, n: int = 5
) -> DataFrame:
    """Streaming twin of `queries.datapipe5.contamination_flags`: gate an
    unbounded docs stream against a STATIC benchmark corpus, dropping any
    doc that shares an n-gram with it.

    Stream-static and STATELESS: the benchmark's distinct grams collapse
    to a one-row static side (eval suites are MBs — the same broadcast-
    size assumption the batch op makes), the stream cross-joins that one
    row, and `arrays_overlap` filters map-side. No watermark, no state
    store, nothing accumulates — each micro-batch pays one broadcast probe
    per doc, which is the only shape that holds up on an unbounded stream.
    """
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    gram = "concat_ws(' ', " + ", ".join(
        f"element_at(tokens, i + {j})" for j in range(n)
    ) + ")"
    grams = (
        f"CASE WHEN size(tokens) >= {n} "
        f"THEN array_distinct(transform(sequence(1, size(tokens) - {n - 1}), i -> {gram})) "
        "ELSE array() END"
    )

    def gram_col(df: DataFrame) -> DataFrame:
        return df.withColumn("tokens", toks).withColumn(
            "__grams", F.expr(grams)
        ).drop("tokens")

    bench_row = (
        gram_col(benchmark_docs)
        .select(F.explode("__grams").alias("g"))
        .distinct()
        .agg(F.collect_set("g").alias("__bench_grams"))
    )
    return (
        gram_col(docs)
        .join(bench_row)  # stream-static inner join, 1-row static side
        .where(~F.arrays_overlap("__grams", "__bench_grams"))
        .drop("__grams", "__bench_grams")
    )


def streaming_window_dedup(
    docs: DataFrame,
    *,
    win: int = 8,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of `queries/datapipe6.window_dedup_global`: emit each
    {win}-token window's FIRST sighting across the stream, suppressing
    cross-document (and cross-batch) repeats within the watermark horizon.

    Input: (ingest_ts timestamp, doc_id long, text string).
    Output: (ingest_ts, doc_id, pos, win_hash) — the surviving windows; a
    downstream consumer reassembles de-duplicated documents by grouping on
    doc_id and concatenating surviving positions (the batch query keeps
    per-doc stats instead).

    Same state-eviction reasoning as `streaming_curation`: key-only dedup
    under a watermark needs ``dropDuplicatesWithinWatermark`` — plain
    dropDuplicates on the hash would grow state forever and never re-admit
    a window after the horizon. State is keyed by window hash; RocksDB
    (session.enable_rocksdb_state) carries corpus-scale window counts.
    """
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    wins = F.expr(
        f"CASE WHEN size(tokens) >= {win} THEN "
        f"transform(sequence(0, size(tokens) DIV {win} - 1), "
        f"i -> array_join(slice(tokens, i*{win}+1, {win}), ' ')) "
        "ELSE array() END"
    )
    exploded = (
        docs.select("ingest_ts", "doc_id", toks.alias("tokens"))
        .select("ingest_ts", "doc_id", F.posexplode(wins).alias("pos", "win"))
        .select("ingest_ts", "doc_id", "pos", F.md5("win").alias("win_hash"))
    )
    return exploded.withWatermark(
        "ingest_ts", watermark
    ).dropDuplicatesWithinWatermark(["win_hash"])


def streaming_session_counts(
    events: DataFrame,
    *,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Native streaming sessionization: Spark's `session_window` merges a
    user's events into gap-separated sessions AS STATE, finalizing a
    session once the watermark passes its close — the streaming twin of
    the batch `session_windows_30m` (which materializes the same islands
    via a cumulative new-session flag over the full log).

    Input: (ts timestamp, user_id long). Output per CLOSED session:
    (user_id, session_start, session_end, n_events).

    100 TB shape: session state is per (user, open-session) and evicted at
    watermark close — bounded by concurrently-open sessions, not history;
    the merge is Spark's built-in session-window state operator (no
    Python). Late events inside the watermark extend/merge sessions
    correctly — the exact semantics the batch twin can only get by
    re-sorting the whole log.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def streaming_quality_gate(docs: DataFrame, min_score: float = 0.0) -> DataFrame:
    """Model-based quality filter for an unbounded document stream: keep
    docs whose hashed-linear classifier score clears *min_score*. Pure
    stateless map work (functions/classifier.hashed_linear_score_expr) —
    no watermark, no state store, composes in front of
    `streaming_curation`'s dedup the way CCNet/RefinedWeb pipelines gate
    before expensive stages. Token-less docs score NULL and are dropped."""
    from ..functions.classifier import hashed_linear_score_expr

    score = hashed_linear_score_expr("text")
    return docs.withColumn("quality_score", score).where(
        F.col("quality_score") >= min_score
    )


# ---------------------------------------------------------------------------
# Index sinks: foreachBatch bodies that keep a persisted index beside the
# stream and process only each micro-batch's delta, on one exactly-once
# commit protocol (_exactly_once).
# ---------------------------------------------------------------------------


def _exactly_once(index_path: str, body):
    """The foreachBatch body every index sink below runs: the commit
    protocol that turns checkpointing's at-least-once micro-batches into
    exactly-once output (SURVEY.md I12), around the sink's
    ``body(batch, batch_id, persisted_out)``.

    A batch whose marker ``{index_path}/_batches/<id>`` exists was fully
    committed, and its replay is a no-op. An empty batch is marked after
    one emptiness job and ``body`` does not run, so it writes no empty
    partition and cannot bootstrap an index from nothing. Otherwise the
    batch is persisted and ``body`` runs. Every write ``body`` makes is
    stamped with the batch id and overwrites only that batch's partitions
    (``storage._write_batch_partitions``, the index appends), so a replay
    after a crash anywhere before the marker recomputes the same content
    into the same place instead of appending a duplicate. The marker is
    written when ``body`` returns; a step ``body`` returns runs after the
    marker (the ANN retrain, which a replay must not repeat). The batch and
    every handle ``body`` put in ``persisted_out`` are unpersisted at the
    end, also on failure, so no cached block outlives its batch. The
    existence checks go through the Hadoop FileSystem API (``storage``), so
    the protocol holds on HDFS and S3A."""

    def fn(batch: DataFrame, batch_id: int) -> None:
        fs, marker = _fs_path(batch.sparkSession, f"{index_path}/_batches/{batch_id}")
        if fs.exists(marker):
            return  # completed batch replayed after restart — no-op
        if batch.isEmpty():
            fs.mkdirs(marker)
            return
        batch = batch.persist()
        persisted_out: list = []
        try:
            after = body(batch, batch_id, persisted_out)
            fs.mkdirs(marker)
            if after is not None:
                after()
        finally:
            _release([batch, *persisted_out])

    return fn


def _read_stamped_corpus(spark, corpus_path: str, batch: DataFrame, batch_id: int):
    """Read the batch-stamped corpus store with an EXPLICIT schema
    (batch.schema + the ingest_batch partition column), excluding the
    replaying batch's own half-committed partitions.

    The explicit schema matters for crash recovery: a crash during the
    very first corpus ``_write_batch_partitions`` can leave corpus_path
    holding only a ``_temporary`` dir (zero data files). A schema-less
    read then fails inference on EVERY replay — a permanent crash loop —
    while a schema'd read of the same path is simply an empty frame, the
    correct recovery (the index-side replay filters already dropped the
    half-committed batch)."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    schema = StructType(
        list(batch.schema.fields) + [StructField("ingest_batch", IntegerType())]
    )
    if not _exists(spark, corpus_path):
        return local_rows_df(spark, [], schema)
    return (
        spark.read.schema(schema)
        .parquet(corpus_path)
        .where(F.col("ingest_batch") != batch_id)
    )


def _probe_then_index(index_path, corpus_path, out_path, *, probe, bootstrap, append, save):
    """The dedup / TF-IDF sink body over :func:`_exactly_once`. With an
    index on disk (its ``meta`` table), ``probe(batch, batch_id, old,
    persisted_out)`` scores the batch against the index and ``old``, the
    corpus so far; the first non-empty batch runs ``bootstrap(batch,
    persisted_out)``, within-batch only. Write order: the output
    partitions at *out_path*, the index (``append(batch, batch_id)`` or
    ``save(batch, batch_id)``), the batch's corpus rows, then the marker.

    ``probe`` excludes the batch's own index partitions, and ``old``
    excludes its corpus partitions: on a mid-commit replay they already
    hold the batch, which would put a document on both sides of the probe.
    A crash on the bootstrap batch between the index and the corpus write
    replays into ``probe`` with an empty ``old``, the correct recovery."""

    def body(batch: DataFrame, batch_id: int, persisted_out: list) -> None:
        spark = batch.sparkSession
        has_index = _exists(spark, f"{index_path}/meta")
        if has_index:
            old = _read_stamped_corpus(spark, corpus_path, batch, batch_id)
            out = probe(batch, batch_id, old, persisted_out)
        else:
            out = bootstrap(batch, persisted_out)
        _write_batch_partitions(out, out_path, batch_id)
        (append if has_index else save)(batch, batch_id)
        _write_batch_partitions(batch, corpus_path, batch_id)

    return _exactly_once(index_path, body)


def incremental_dedup_sink(
    *,
    index_path: str,
    corpus_path: str,
    pairs_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_perm: int = 16,
    bands: int = 8,
    rows_per_band: int = 2,
):
    """foreachBatch body for STREAMING continual-crawl near-dup detection —
    the online twin of `functions.dedup.incremental_near_dup_pairs`: each
    micro-batch is probed against the persisted LSH band index (O(batch)
    signature work, never O(corpus)), its near-dup pairs are appended to
    ``pairs_path``, and only then is the batch itself indexed and added to
    the corpus store. Every near-dup pair in the whole stream is reported
    exactly once — when its LATER member arrives.

    Wire it as ``stream.writeStream.foreachBatch(fn)`` with a checkpoint;
    the first non-empty batch bootstraps the index (within-batch pairs
    only).
    Delivery is exactly-once (:func:`_exactly_once`).

    100 TB shape: the index is band-partitioned parquet (append = new
    files per band, no rewrite); the corpus store is the verification doc
    fetch target and is read ONLY for the broadcast-semi-joined collision
    candidates of each batch.
    """
    from ..functions.dedup import (
        append_to_lsh_index,
        incremental_near_dup_pairs,
        load_lsh_index,
        minhash_near_dup_pairs,
        save_lsh_index,
        shingle_sets,
    )

    def probe(batch, batch_id, old, persisted_out):
        index, meta = load_lsh_index(batch.sparkSession, index_path)
        return incremental_near_dup_pairs(
            batch,
            old,
            index.where(F.col("ingest_batch") != batch_id),  # partition-pruned
            id_col=id_col,
            text_col=text_col,
            threshold=threshold,
            num_perm=meta["num_perm"],
            bands=meta["bands"],
            rows_per_band=meta["rows_per_band"],
            shingle_n=meta["shingle_n"],
            seed=meta["seed"],
            persisted_out=persisted_out,
        )

    def bootstrap(batch, persisted_out):
        # the shingle frame is persisted here, not inside
        # minhash_near_dup_pairs, so the scaffold can release it
        shingled = shingle_sets(batch, id_col, text_col).persist()
        persisted_out.append(shingled)
        return minhash_near_dup_pairs(
            batch, id_col, text_col, threshold, num_perm, bands, rows_per_band, shingled
        )

    def save(batch, batch_id):
        save_lsh_index(
            batch,
            index_path,
            id_col,
            text_col,
            num_perm=num_perm,
            bands=bands,
            rows_per_band=rows_per_band,
            ingest_batch=batch_id,
        )

    return _probe_then_index(
        index_path,
        corpus_path,
        pairs_path,
        probe=probe,
        bootstrap=bootstrap,
        append=lambda batch, batch_id: append_to_lsh_index(
            batch, index_path, batch_id, id_col, text_col
        ),
        save=save,
    )


def incremental_tfidf_sink(
    *,
    index_path: str,
    corpus_path: str,
    results_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    n_buckets: int = 64,
    max_df_frac: float = 1.0,
):
    """foreachBatch body for STREAMING lexical retrieval — the sparse twin
    of `incremental_dedup_sink`: each micro-batch of new documents is
    probed against the persisted TF-IDF inverted index ("more like this"
    over everything ingested so far, O(batch + touched posting buckets),
    never O(corpus)), its top-k neighbor rows are written to
    ``results_path``, and only then is the batch indexed and added to the
    corpus store. Probe scores use the CURRENT global (df, N) maintained
    incrementally in the index's df/stats tables, so every batch's output
    equals the batch operator `tfidf_topk` run over the corpus-so-far —
    the equivalence the pytest contract pins. Delivery is exactly-once
    (:func:`_exactly_once`); the probe excludes the batch's own postings,
    df and stats partitions.

    Reference analogue: the per-flow update-topic publication loop
    (ryu/testing/global_view_and_timing/TestCase_6/timeStamp.py:305)."""
    from functools import partial

    from ..functions.tfidf import (
        append_to_tfidf_index,
        load_tfidf_index,
        save_tfidf_index,
        tfidf_probe_topk,
    )

    topk = partial(
        tfidf_probe_topk, k=k, id_col=id_col, text_col=text_col, max_df_frac=max_df_frac
    )

    def probe(batch, batch_id, old, persisted_out):
        postings, df_b, stats, meta = load_tfidf_index(batch.sparkSession, index_path)
        prior = F.col("ingest_batch") != batch_id  # partition-pruned
        n_old = stats.where(prior).agg(F.sum("n_docs")).collect()[0][0] or 0  # bounded-collect: one scalar
        return topk(
            batch,
            old,
            postings.where(prior),
            df_b.where(prior),
            n_old,
            n_buckets=meta["n_buckets"],
            persisted_out=persisted_out,
        )

    def bootstrap(batch, persisted_out):
        # no corpus yet: within-batch retrieval only (df and N come
        # entirely from the batch)
        spark = batch.sparkSession
        return topk(
            batch,
            local_rows_df(spark, [], batch.schema),
            local_rows_df(spark, [], "doc_id long, t string, tf long, tb int, ingest_batch int"),
            local_rows_df(spark, [], "t string, df long, ingest_batch int"),
            0,
            n_buckets=n_buckets,
            persisted_out=persisted_out,
        )

    return _probe_then_index(
        index_path,
        corpus_path,
        results_path,
        probe=probe,
        bootstrap=bootstrap,
        append=lambda batch, batch_id: append_to_tfidf_index(
            batch, index_path, batch_id, id_col, text_col
        ),
        save=lambda batch, batch_id: save_tfidf_index(
            batch, index_path, id_col, text_col, n_buckets=n_buckets, ingest_batch=batch_id
        ),
    )


def _ann_protocol(index_path, codec, n_list, *, bootstrap, append, reland=None):
    """The dense-ANN sink body over :func:`_exactly_once`, for a persisted
    index of *codec*'s family at *index_path*; the batch is its
    (vec_id, e) columns. A sink supplies its steps:
    ``bootstrap(batch, batch_id)`` builds and saves the index from the
    first non-empty batch, ``append(batch, batch_id, root)`` appends to the
    active generation at *root* and returns ``ivf.append_batch``'s stats,
    and ``reland(batch, batch_id)`` rewrites the sink's own output for a
    batch whose bootstrap committed but whose marker was lost.

    On top of the scaffold (which marks an empty batch and does nothing
    else):
    - a compressed family (its codes cannot be retrained from) keeps each
      raw batch at ``{index_path}/_corpus/ingest_batch=<id>`` after the
      step, the corpus its in-loop retrain reads; raw IVF holds the
      vectors itself;
    - the bootstrap records its batch id at ``{index_path}/_bootstrap``
      BEFORE building, so a crash after the save but before the marker
      replays into ``reland`` instead of appending the batch a second time,
      and a crash mid-save replays into a clean re-bootstrap (the save
      re-initialises the path);
    - legacy adoption: an index without a ``_bootstrap`` record is appended
      to only if its tree is complete and a batch marker committed; a
      complete tree with no committed marker is indistinguishable from a
      crashed bootstrap and is re-bootstrapped;
    - a tripped ``needs_retrain`` persists ``{index_path}/_pending_retrain``
      BEFORE the marker, since the batch-local drift signal cannot be
      recomputed from later batches. The marker comes next (the append is
      replay-idempotent; the fold is not, and replay-appending a folded
      batch would double its vectors); then any pending flag, including one
      a crashed earlier commit left, is acted on by ``ivf.retrain_index``
      (fresh generation, atomic pointer swap) and cleared."""
    corpus_path = None if codec.stores_raw else f"{index_path}/_corpus"

    def body(batch: DataFrame, batch_id: int, persisted_out: list):
        from ..functions import ivf  # late-bound: retrain_index is looked up per call

        spark = batch.sparkSession
        root = ivf._resolve_root(spark, index_path)
        complete = ivf._is_complete(spark, root)
        boot = _read_text(spark, f"{index_path}/_bootstrap")

        def any_committed() -> bool:
            fs, markers = _fs_path(spark, f"{index_path}/_batches")
            return fs.exists(markers) and len(fs.listStatus(markers)) > 0

        stats = None
        if complete and boot == str(batch_id):
            if reland is not None:
                reland(batch, batch_id)
        elif not (complete and (boot is not None or any_committed())):
            # no index, a mid-save crash, or a legacy crashed bootstrap
            _write_text(spark, f"{index_path}/_bootstrap", str(batch_id))
            bootstrap(batch, batch_id)
        else:
            stats = append(batch, batch_id, root)
        if corpus_path is not None:
            _write_batch_partitions(batch, corpus_path, batch_id)
        if stats is None:
            return None
        fs, pending = _fs_path(spark, f"{index_path}/_pending_retrain")
        if stats["needs_retrain"]:
            fs.create(pending, True).close()

        def retrain() -> None:
            if fs.exists(pending):
                corpus = (
                    spark.read.parquet(corpus_path).select("vec_id", "e")
                    if corpus_path is not None
                    else None
                )
                ivf.retrain_index(codec, spark, index_path, corpus, n_list)
                fs.delete(pending, False)

        return retrain

    fn = _exactly_once(index_path, body)
    return lambda batch, batch_id: fn(batch.select("vec_id", "e"), batch_id)


def incremental_ann_sink(
    *,
    index_path: str,
    dim: int,
    n_list: int = 16,
    family: str = "ivf",
    m: int = 8,
    ksub: int = 32,
):
    """foreachBatch body for STREAMING dense-ANN index maintenance — the
    embedding twin of `incremental_tfidf_sink` and the in-loop driver of
    the incremental-index machinery, parameterized over all three index
    families: each micro-batch of (vec_id, e array<double>) is appended
    to the persisted index through the shared lifecycle
    (`ivf.append_batch` over the family's codec — ``ivf``, ``ivfpq`` or
    ``ivfsq``, each with its own drift trigger and the common mass
    trigger), and a tripped ``needs_retrain`` is ACTED on inside the loop
    via `ivf.retrain_index` while concurrent readers keep a consistent
    view. The first non-empty batch bootstraps the index (build + save);
    ``m`` / ``ksub`` are the IVF-PQ bootstrap geometry. The compressed
    families also keep a raw-vector corpus tree for their retrain.
    Delivery is exactly-once (:func:`_ann_protocol`).

    Reference analogue: the controller's continually-refreshed global
    view (ryu/src/deployed_controller/DIPA_Controller.py) — here the
    refresh loop maintains a serving ANN index instead of log state."""
    from ..functions.ivf import append_batch, codec_for, save_index, train_index

    codec = codec_for(family)
    geometry = {"m": m, "ksub": ksub} if codec.geometry else {}

    def bootstrap(batch, batch_id):
        save_index(codec, *train_index(codec, batch, dim, n_list, **geometry), index_path)

    def append(batch, batch_id, root):
        return append_batch(codec, batch.sparkSession, index_path, batch, f"b{batch_id}")

    return _ann_protocol(index_path, codec, n_list, bootstrap=bootstrap, append=append)


def streaming_semantic_dedup_sink(
    *,
    index_path: str,
    dim: int,
    n_list: int = 16,
    threshold: float = 0.95,
):
    """foreachBatch body for ONLINE SEMANTIC DEDUP at ingest — SemDeDup's
    streaming form (the embedding sibling of `streaming_curation`'s
    MinHash dedup): each micro-batch of (vec_id, e array<double>) drops
    (a) within-batch near-duplicates via the cluster-scoped SemDeDup
    kernel (`similarity.semantic_dedup_pairs` on the batch assigned to
    the SAVED centroids — lower vec_id survives), and (b) rows whose
    nearest-cluster probe of the PERSISTED index (`ivf_search`, k=1,
    n_probe=1 — the same one-cluster scan the batch kernel runs) finds
    an existing member at cosine ≥ ``threshold``. Survivors are appended
    to the index through `ivf_append_batch` and emitted to
    ``{index_path}/_kept/ingest_batch=*`` — the serving ANN index IS the
    dedup state, the same build-economy as the batch SemDeDup sharing
    the serving coarse quantizer. ivf family only: exact cosine verify
    needs raw vectors, which compressed codes cannot provide.

    Boundary loss mirrors batch SemDeDup: a near-dup assigned to a
    different cluster than its source is missed (planted ε-copies share
    an argmin centroid — the pytest contract); the drop rule is the
    PAIRWISE SemDeDup rule, not transitive closure.

    Delivery is exactly-once (:func:`_ann_protocol`). The cross-batch
    probe structurally EXCLUDES the batch's OWN delta partition from the
    index scan, so a replay after a crash mid-append can neither match
    rows against themselves and empty the kept set, nor race the
    overwrite of the directory its own lineage reads. Drops are then a
    deterministic function of (batch, saved quantizer, prior index) on
    every replay; vec_ids are assumed unique across batches (the ingest
    contract every sink here shares).

    Reference analogue: first-seen admission against the continually-
    refreshed global view (ryu/src/deployed_controller/
    DIPA_Controller.py) — here admission is semantic novelty."""
    from ..functions.ivf import IVF_CODEC

    kept_path = f"{index_path}/_kept"

    def dup_ids(assigned: DataFrame) -> DataFrame:
        """Within-batch dup ids: the cluster-scoped pairwise rule."""
        from ..functions.similarity import semantic_dedup_pairs

        return (
            semantic_dedup_pairs(assigned, threshold=threshold)
            .select(F.col("dup_id").alias("vec_id"))
            .distinct()
        )

    def bootstrap(batch, batch_id):
        # within-batch dedup with the batch's own k-means: the index is
        # born already deduped
        from ..functions.ivf import build_ivf_index, save_ivf_index

        assigned, cents = build_ivf_index(batch, dim=dim, n_list=n_list)
        drops = dup_ids(assigned)
        save_ivf_index(
            assigned.join(drops, "vec_id", "left_anti").select("vec_id", "e", "list_id"),
            cents,
            index_path,
        )
        _write_batch_partitions(batch.join(drops, "vec_id", "left_anti"), kept_path, batch_id)

    def reland(batch, batch_id):
        # the index already holds the deduped batch (the build is
        # deterministic): recompute the kept set from it
        from ..functions.ivf import load_ivf_index

        assigned, _ = load_ivf_index(batch.sparkSession, index_path)
        kept = batch.join(assigned.select("vec_id"), "vec_id", "left_semi")
        _write_batch_partitions(kept, kept_path, batch_id)

    def append(batch, batch_id, root):
        import numpy as np

        from ..functions.ivf import _assign_to_centroids, ivf_append_batch, ivf_search

        spark = batch.sparkSession
        cent_rows = (
            spark.read.parquet(f"{root}/centroids").orderBy("list_id").collect()  # bounded-collect: n_list rows
        )
        cents = np.array([r["centroid"] for r in cent_rows], dtype=np.float64)
        within = dup_ids(_assign_to_centroids(batch, cents))
        # self-exclusion is STRUCTURAL: the probe reads base lists + every
        # delta EXCEPT this batch's own partition (its rows are this
        # batch's prior kept set — matching against them on a replay would
        # empty the kept set, and reading the directory the append below
        # overwrites races the overwrite; the partition filter prunes it
        # from the scan entirely)
        existing = spark.read.parquet(f"{root}/lists").select("vec_id", "e", "list_id")
        if _exists(spark, f"{root}/deltas"):
            existing = existing.unionByName(
                spark.read.parquet(f"{root}/deltas")
                .where(F.col("batch_id") != f"b{batch_id}")
                .select("vec_id", "e", "list_id")
            )
        q = batch.select(F.col("vec_id").alias("query_id"), F.col("e").alias("qe"))
        cross = (
            ivf_search(existing, spark.read.parquet(f"{root}/centroids"), q, k=1, n_probe=1)
            .where(F.col("cosine") >= threshold)
            .select(F.col("query_id").alias("vec_id"))
            .distinct()
        )
        kept = batch.join(within.unionByName(cross).distinct(), "vec_id", "left_anti")
        stats = ivf_append_batch(spark, index_path, kept, f"b{batch_id}")
        _write_batch_partitions(kept, kept_path, batch_id)
        return stats

    return _ann_protocol(
        index_path, IVF_CODEC, n_list, bootstrap=bootstrap, append=append, reland=reland
    )
