"""Distributed order statistics: exact interpolated quantiles without a
single-task value buffer.

Spark's exact ``percentile`` aggregate is a TypedImperativeAggregate —
every value lands in ONE final aggregation buffer, which at 100 TB is an
executor-OOM, not a slow path. This operator computes the SAME
PERCENTILE_CONT values (verified to 1e-9 against ``F.percentile`` in
tests) with only scalable pieces: a bounded boundary sketch, per-range
counts, broadcast prefix offsets, and a lookup of the ≤ 2·|qs| rows
sitting at the target sorted positions — the distributed-selection form
of the engine's prefix-sum family (`token_shard_assignment_scalable`,
`global_row_ids_scalable`).

Correctness does NOT depend on physical partitioning: the range id
(``pid``) is a pure *function of the value* — the count of explicit
boundary values below it — so the count branch and the selection branch
agree by construction no matter how Catalyst lays out the exchanges
(earlier drafts leaned on ``spark.sql.exchange.reuse`` to keep two
``repartitionByRange`` branches consistent; that was a silent-wrong-
answer hazard with reuse disabled). Boundaries come from a bounded
value-hash sample and only need to be *balanced*, not exact — exactness
comes from the counts and the final index lookup. Ties are safe:
row_number breaks them arbitrarily but the VALUE at any global sorted
index is unique by definition.

Interpolation uses ``lo + frac·(hi − lo)`` with ``frac`` exactly
representable (it is ((n−1)·q) − floor(·)), the same formula Spark's
``Percentile`` and DuckDB's PERCENTILE_CONT evaluate, so results agree
bit-for-bit with the oracle wherever the engines themselves agree.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _range_ids(df: DataFrame, col: str, n_parts: int, seed: int = 42):
    """Attach a ``pid`` column: how many explicit boundary values sit
    strictly below ``col``. Monotone non-decreasing in the value, so a
    sort by (pid, value) IS the global sort — independent of physical
    partitioning. Returns (tagged_df, n_ranges).

    Boundaries come from a value-hash TakeOrdered sample (~64 points per
    boundary, one cheap heap job — no count needed, layout-independent,
    and far cheaper than a full Greenwald–Khanna sketch pass); they only
    need to BALANCE the ranges, exactness comes from the downstream
    counts + index lookup. The pid expression is a balanced BINARY-SEARCH
    WHEN tree over the sorted boundaries: O(log n_parts) codegen'd
    comparisons per row and an O(n_parts)-node expression — NOT a
    higher-order array filter (HOFs are CodegenFallback: interpreted per
    element, the dominant cost in an earlier draft) and NOT a linear
    comparison chain (O(n_parts) per row, codegen-hostile past a few
    hundred boundaries)."""
    cap = 64 * n_parts
    s = sorted(
        r[0]
        for r in df.select(col)
        .orderBy(F.xxhash64(F.col(col), F.lit(seed)))
        .limit(cap)
        .collect()  # bounded-collect: ≤ cap sample values (TakeOrdered heap)
    )
    bounds = sorted({s[len(s) * i // n_parts] for i in range(1, n_parts)}) if s else []
    if not bounds:
        return df.withColumn("pid", F.lit(0)), 1

    def search(lo: int, hi: int):
        # pid candidates in [lo, hi]; pid(v) = #{j: bounds[j] < v}
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return F.when(
            F.col(col) > F.lit(float(bounds[mid])), search(mid + 1, hi)
        ).otherwise(search(lo, mid))

    return df.withColumn("pid", search(0, len(bounds))), len(bounds) + 1


def _interp(rs: list[float], at: dict[int, float]) -> list[float]:
    out = []
    for r in rs:
        lo, hi = math.floor(r), math.ceil(r)
        out.append(at[lo] + (r - lo) * (at[hi] - at[lo]))
    return out


def exact_quantiles(
    df: DataFrame, col: str, qs: list[float], n_parts: int = 64
) -> list[float]:
    """PERCENTILE_CONT(q) for each q in ``qs`` over ``df[col]``
    (non-null values), returned as driver-side floats (|qs| numbers —
    this is an aggregate result, not a dataset)."""
    from pyspark import StorageLevel

    # The projected value frame is persisted BEFORE the boundary sample,
    # so the sample's TakeOrdered pass is also the cache fill: the
    # source is scanned exactly ONCE however many passes follow (the
    # r4 layout persisted (value, pid) after sampling — two source
    # scans, and on the bench corpus every table is a single file, so
    # each extra scan is a serial single-task read). The pid column is
    # re-evaluated per pass off the cache — a codegen'd O(log n_parts)
    # WHEN tree projected map-side, NOT re-derived inside join keys.
    # One projected column: a sliver of the table; MEMORY_AND_DISK
    # spills rather than fails at scale.
    vals = (
        df.select(F.col(col).alias("p"))
        .where(F.col("p").isNotNull())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    d, _ = _range_ids(vals, "p", n_parts)
    try:
        counts = sorted(
            (r.pid, r.c)
            for r in d.groupBy("pid").agg(F.count(F.lit(1)).alias("c")).collect()
        )  # bounded-collect: ≤ n_parts rows
        n = sum(c for _, c in counts)
        if n == 0:
            return [float("nan")] * len(qs)
        offs, acc = {}, 0
        for pid, c in counts:
            offs[pid] = acc
            acc += c
        rs = [(n - 1) * q for q in qs]
        need = sorted({i for r in rs for i in (math.floor(r), math.ceil(r))})
        # only ranges that CONTAIN a needed sorted position pay the sort:
        # ≤ 2·|qs| of the n_parts ranges survive this filter, so the
        # selection pass sorts ~|need|/n_parts of the rows, not all.
        hit = [
            pid
            for pid, c in counts
            if any(offs[pid] <= i < offs[pid] + c for i in need)
        ]
        off_map = F.create_map(*[F.lit(x) for p_ in hit for x in (p_, offs[p_])])
        wl = Window.partitionBy("pid").orderBy("p")
        sel = (
            d.where(F.col("pid").isin(hit))
            .withColumn("off", off_map[F.col("pid")])
            .withColumn("gidx", F.col("off") + F.row_number().over(wl) - 1)
            .where(F.col("gidx").isin([int(x) for x in need]))
            .select("gidx", "p")
        )
        at = {int(r.gidx): float(r.p) for r in sel.collect()}  # bounded-collect: ≤ 2·|qs| rows
    finally:
        vals.unpersist()
    return _interp(rs, at)


def grouped_exact_quantiles(
    df: DataFrame,
    group_cols: list[str],
    col: str,
    qs: list[float],
    n_parts: int = 64,
    max_count_rows: int = 65_536,
) -> dict[tuple, list[float]]:
    """Per-group PERCENTILE_CONT via the same distributed-selection
    machinery: global boundary ranges (pid stays monotone in the value
    within every group), per-(group, pid) counts, per-group prefix
    offsets, one index-lookup pass. Driver traffic is bounded by
    |groups|·n_parts count rows + 2·|qs|·|groups| value rows — the
    grouped-percentile *report* shape (low-cardinality reporting groups),
    NOT a per-key analytic; ``max_count_rows`` enforces that contract
    LOUDLY (a high-cardinality key would otherwise flood the driver —
    reach for percentile_approx per key instead).
    Returns {group_tuple: [quantiles]}."""
    from pyspark import StorageLevel

    vals = (
        df.select(*group_cols, F.col(col).alias("p"))
        .where(F.col("p").isNotNull())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )  # persist-before-sample: ONE source scan total (see exact_quantiles)
    d, _ = _range_ids(vals, "p", n_parts)
    try:
        counts = (
            d.groupBy(*group_cols, "pid")
            .agg(F.count(F.lit(1)).alias("c"))
            .limit(max_count_rows + 1)
            .collect()
        )  # bounded-collect: ≤ max_count_rows + 1, enforced below
        if len(counts) > max_count_rows:
            raise ValueError(
                f"grouped_exact_quantiles saw > {max_count_rows} (group, range) "
                "count rows — this operator is for low-cardinality reporting "
                "groups; use percentile_approx for per-key quantiles"
            )
        per_group: dict[tuple, list] = {}
        for r in counts:
            g = tuple(r[c] for c in group_cols)
            per_group.setdefault(g, []).append((r.pid, r.c))
        spark = df.sparkSession
        need_rows, meta = [], {}
        for g, pcs in per_group.items():
            pcs.sort(key=lambda pc: pc[0])
            n_g = sum(c for _, c in pcs)
            offs, acc = {}, 0
            for pid, c in pcs:
                offs[pid] = acc
                acc += c
            rs = [(n_g - 1) * q for q in qs]
            need = sorted({i for r in rs for i in (math.floor(r), math.ceil(r))})
            meta[g] = rs
            for pid, c in pcs:
                lo, hi = offs[pid], offs[pid] + c
                wanted = [i for i in need if lo <= i < hi]
                if wanted:
                    need_rows.append((*g, int(pid), int(lo), wanted))
        from ..localdf import local_rows_df

        schema_cols = d.select(*group_cols).schema
        need_df = local_rows_df(
            spark,
            need_rows,
            ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema_cols)
            + ", pid int, off bigint, want array<bigint>",
        )
        # NULL-safe equi-join: groupBy keeps NULL group keys, so the
        # lookup join must match them too (a plain equi-join would drop
        # null-keyed need rows and the final interp would KeyError).
        nd = need_df.alias("nd")
        dd = d.alias("dd")
        cond = [F.col(f"dd.{c}").eqNullSafe(F.col(f"nd.{c}")) for c in group_cols]
        cond.append(F.col("dd.pid") == F.col("nd.pid"))
        wl = Window.partitionBy(
            *[F.col(f"dd.{c}") for c in group_cols], F.col("dd.pid")
        ).orderBy("dd.p")
        sel = (
            dd.join(F.broadcast(nd), cond)
            .withColumn("gidx", F.col("nd.off") + F.row_number().over(wl) - 1)
            .where(F.array_contains(F.col("nd.want"), F.col("gidx")))
            .select(
                *[F.col(f"dd.{c}").alias(c) for c in group_cols], "gidx", "dd.p"
            )
        )
        at: dict[tuple, dict[int, float]] = {}
        for r in sel.collect():  # bounded-collect: ≤ 2·|qs|·|groups| rows
            g = tuple(r[c] for c in group_cols)
            at.setdefault(g, {})[int(r.gidx)] = float(r.p)
        return {g: _interp(meta[g], at[g]) for g in per_group}
    finally:
        vals.unpersist()


def _grouped_vals(df: DataFrame, group_cols: list[str], col: str) -> DataFrame:
    """Shared projection for the grouped-quantile family: struct-packed
    NULL-safe group key + the non-null value column."""
    return df.select(
        F.struct(*[F.col(c) for c in group_cols]).alias("gk"),
        F.col(col).alias("p"),
    ).where(F.col("p").isNotNull())


def grouped_exact_quantiles_window(
    df: DataFrame,
    group_cols: list[str],
    col: str,
    qs: list[float],
    _vals: DataFrame | None = None,
) -> DataFrame:
    """Per-group PERCENTILE_CONT for the HIGH-cardinality/small-group
    regime — one key-partitioned window pass, fully distributed.

    When no single group outgrows a task (per-customer, per-document
    shapes: millions of keys, each small), the optimal plan is simply:
    shuffle once on the group key, sort within key, pick the ≤ 2·|qs|
    bracketing rows per group by row_number, interpolate in a tiny
    follow-up aggregate. No boundary sample, no range metadata, ~2 jobs.
    The range-decomposition form (:func:`grouped_exact_quantiles_df`)
    exists for the OPPOSITE regime — few giant groups, where partitioning
    by key alone would sort n/|groups| rows in ONE task (straggler/OOM).
    Pick by group shape; both return the same long format and the same
    IEEE interpolation (``lo + (r − floor r)·(hi − lo)``).

    NULL group keys flow through (struct-packed key, SQL GROUP BY
    semantics); all-NULL-value groups are absent, as in the other forms.
    """
    vals = _vals if _vals is not None else _grouped_vals(df, group_cols, col)
    w = Window.partitionBy("gk").orderBy("p")
    wc = Window.partitionBy("gk")
    d = vals.select(
        "gk",
        "p",
        (F.row_number().over(w) - 1).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n_g"),
    )
    # keep only rows bracketing SOME target rank — map-side codegen OR
    # chain over the |qs| targets, evaluated on the windowed pass output
    hit = None
    for q in qs:
        r = (F.col("n_g") - 1) * F.lit(float(q))
        c = (F.col("rn") == F.floor(r)) | (F.col("rn") == F.ceil(r))
        hit = c if hit is None else (hit | c)
    e = (
        d.where(hit)
        .select("gk", "p", "rn", "n_g", F.explode(
            F.array(*[F.lit(float(q)) for q in qs])
        ).alias("q"))
        .withColumn("r", (F.col("n_g") - 1) * F.col("q"))
        .where((F.col("rn") == F.floor("r")) | (F.col("rn") == F.ceil("r")))
    )
    lo_val = F.max(F.when(F.col("rn") == F.floor("r"), F.col("p")))
    hi_val = F.max(F.when(F.col("rn") == F.ceil("r"), F.col("p")))
    return (
        e.groupBy("gk", "q")
        .agg(F.max("r").alias("r"), lo_val.alias("lo"), hi_val.alias("hi"))
        .select(
            *[F.col(f"gk.{c}").alias(c) for c in group_cols],
            "q",
            (
                F.col("lo")
                + (F.col("r") - F.floor("r")) * (F.col("hi") - F.col("lo"))
            ).alias("value"),
        )
    )


def grouped_exact_quantiles_df(
    df: DataFrame,
    group_cols: list[str],
    col: str,
    qs: list[float],
    n_parts: int = 64,
    _vals: DataFrame | None = None,
) -> DataFrame:
    """Fully-distributed per-group PERCENTILE_CONT — NO driver fan-in.

    Same decomposition as :func:`grouped_exact_quantiles` (global value
    ranges via a bounded boundary sample, per-(group, range) counts,
    per-group prefix offsets, one index-lookup pass, linear
    interpolation) but every step stays a DataFrame:

    - per-group prefix offsets come from a window over the small
      (group × range) count frame — ``sum(c) rows between unbounded
      preceding and 1 preceding`` ordered by range id, the same
      distributed prefix-sum the engine uses for
      ``token_shard_assignment_scalable``;
    - the needed sorted positions (floor/ceil of ``(n_g − 1)·q``) are a
      derived frame joined back to the count ranges to find which
      (group, range) slices must pay a sort;
    - the big frame is semi-joined to those hit slices, ranked inside
      (group, range) only, and the ≤ 2·|qs| rows per group at target
      positions are joined to the target frame for interpolation.

    Unlike the dict API there is NO cardinality ceiling: 10M groups work
    (driver holds nothing), which makes this the per-key analytic form —
    per-customer spend percentiles, per-document-shard medians — while
    the dict API stays the low-cardinality *reporting* convenience.

    NULL group keys are first-class: group columns are packed into a
    single struct key for every groupBy/join/window, and struct
    equality matches null fields (SQL GROUP BY semantics), so null-keyed
    groups flow through instead of being dropped by join conditions.

    Returns a long-format DataFrame ``(*group_cols, q double,
    value double)`` with one row per (group, quantile); groups whose
    values are entirely NULL are absent (same as the dict API — callers
    needing PERCENTILE_CONT's NULL-for-empty semantics left-join this
    result to their group universe).

    Interpolation arithmetic is the same IEEE sequence as the dict API
    and Spark/DuckDB PERCENTILE_CONT (``lo + ((n−1)·q − floor)·(hi −
    lo)`` in doubles), so values agree bit-for-bit wherever the engines
    themselves do.
    """
    from pyspark import StorageLevel

    owns_vals = _vals is None
    vals = (
        _grouped_vals(df, group_cols, col).persist(StorageLevel.MEMORY_AND_DISK)
        if owns_vals  # persist-before-sample: ONE source scan total
        else _vals  # caller-owned (already persisted by the auto router)
    )
    d, _ = _range_ids(vals, "p", n_parts)
    try:
        counts = d.groupBy("gk", "pid").agg(F.count(F.lit(1)).alias("c"))
        w_off = (
            Window.partitionBy("gk")
            .orderBy("pid")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        ranges = counts.withColumn(
            "off", F.coalesce(F.sum("c").over(w_off), F.lit(0).cast("long"))
        ).withColumn("n_g", F.sum("c").over(Window.partitionBy("gk")))
        # (group, q) targets: rank r = (n_g − 1)·q, bracketing indices.
        # One row per group comes FREE off the windowed count frame (the
        # off==0 row is unique per group) — no extra groupBy/shuffle.
        qarr = F.array(*[F.lit(float(q)) for q in qs])
        targets = (
            ranges.where(F.col("off") == 0)
            .select("gk", "n_g", F.explode(qarr).alias("q"))
            .withColumn("r", (F.col("n_g") - 1) * F.col("q"))
            .withColumn("lo_idx", F.floor("r"))
            .withColumn("hi_idx", F.ceil("r"))
        )
        need = targets.select(
            "gk", F.explode(F.array("lo_idx", "hi_idx")).alias("idx")
        )  # duplicates (lo==hi, shared indices across q's) fold into the
        #    collect_set below — a distinct here would only add a shuffle
        # which (group, range) slices contain a needed index — both sides
        # are |groups|-scale metadata frames, not data. The wanted indices
        # of each slice fold into ONE array row (the distributed twin of
        # the dict API's `want` column), so the big frame pays a single
        # join + an array_contains filter instead of two joins.
        hits = (
            ranges.join(need, "gk")
            .where(
                (F.col("idx") >= F.col("off"))
                & (F.col("idx") < F.col("off") + F.col("c"))
            )
            .groupBy("gk", "pid", "off")
            .agg(F.collect_set("idx").alias("want"))
        )
        wl = Window.partitionBy("gk", "pid").orderBy("p")
        picked = (
            d.join(hits, ["gk", "pid"])
            .withColumn("gidx", F.col("off") + F.row_number().over(wl) - 1)
            .where(F.array_contains("want", F.col("gidx")))
            .select("gk", "gidx", "p")
        )
        # ONE gk-join feeds both interpolation ends (≤ 2·|qs| picked rows
        # per group makes the fan-out tiny); lo/hi land via conditional agg
        out = (
            targets.join(picked, "gk")
            .where(
                (F.col("gidx") == F.col("lo_idx"))
                | (F.col("gidx") == F.col("hi_idx"))
            )
            .groupBy("gk", "q", "r", "lo_idx", "hi_idx")
            .agg(
                F.max(F.when(F.col("gidx") == F.col("lo_idx"), F.col("p"))).alias(
                    "lo_val"
                ),
                F.max(F.when(F.col("gidx") == F.col("hi_idx"), F.col("p"))).alias(
                    "hi_val"
                ),
            )
            .select(
                "gk",
                "q",
                (
                    F.col("lo_val")
                    + (F.col("r") - F.col("lo_idx"))
                    * (F.col("hi_val") - F.col("lo_val"))
                ).alias("value"),
            )
            .select(*[F.col(f"gk.{c}").alias(c) for c in group_cols], "q", "value")
        )
        # materialize before unpersisting d: the result is |groups|·|qs|
        # rows — metadata-scale next to the input — and pinning it lets
        # the caller compose further plans without re-running selection.
        out = out.localCheckpoint(eager=True)
        return out
    finally:
        if owns_vals:
            vals.unpersist()


# Rows one task can sort comfortably (a few hundred MB of (gk, double)
# pairs): above this, a single group would straggle/OOM the per-key window
# sort, so the range-decomposition form takes over.
GROUPED_QUANTILE_TASK_ROWS = 4_000_000


def pick_grouped_quantile_strategy(
    max_group_rows: int, max_rows_per_group: int = GROUPED_QUANTILE_TASK_ROWS
) -> str:
    """Route by the ONE number that separates the regimes: the largest
    group's row count. ≤ threshold → ``"window"`` (one key-partitioned
    sort; optimal for many small groups); > threshold → ``"range"``
    (range decomposition; a giant group's sort is split across value
    ranges instead of landing on one task)."""
    return "range" if max_group_rows > max_rows_per_group else "window"


def grouped_exact_quantiles_auto(
    df: DataFrame,
    group_cols: list[str],
    col: str,
    qs: list[float],
    max_rows_per_group: int = GROUPED_QUANTILE_TASK_ROWS,
    n_parts: int = 64,
    persisted_out: list | None = None,
    memo_key: str | None = None,
) -> DataFrame:
    """Per-group PERCENTILE_CONT with AUTOMATIC strategy choice — callers
    who don't know their group shape get the right plan instead of a
    straggler.

    Probe: persist the (gk, value) sliver, then ONE map-side-combined
    count agg yields the max group size (the probe job doubles as the
    cache fill, so the source is scanned exactly once; the chosen
    strategy reads the cached sliver). Route via
    :func:`pick_grouped_quantile_strategy`:

    - ``"window"`` — many small groups: one key-partitioned sort picking
      the ≤ 2·|qs| bracketing rows per group;
    - ``"range"`` — few giant groups: range decomposition with windowed
      prefix offsets, no single-task sort of a whole group.

    Both return the identical long format ``(*group_cols, q, value)``
    and the same IEEE interpolation, so the router never changes the
    answer — a property test certifies result equality against both
    manual forms in both regimes. By default the result is eagerly
    pinned (|groups|·|qs| rows — metadata scale) so the sliver cache can
    be released before returning. Callers with table stats in hand can
    skip the probe by calling the manual forms directly.

    ``persisted_out`` (r13, guide §1.1 — the eager pin was a large,
    per-invocation build-phase cost at bench scale): when the caller
    owns the sliver cache's lifecycle (appends here, unpersists after
    its action — the engine's standard drained-per-invocation list
    pattern), the WINDOW branch is returned LAZY: the only eager work
    left is the routing probe (one map-side-combined count aggregate,
    which doubles as the cache fill), and the selection itself runs
    inside the caller's own action instead of as an extra pinned job.
    The RANGE branch keeps its eager pin in both modes — it must
    release its internal range-metadata state deterministically, and
    its output is metadata-scale.

    ``memo_key`` (r13): a caller-chosen stable label (e.g. "<query>:
    <sf_dir>") under which the ROUTING DECISION is memoized per session
    (``memo(session, ("route", memo_key), ...)``).
    The probe's only output is the branch choice, and both branches are
    value-identical, so repeat invocations skip the probe job (and, in
    the lazy window branch, the then-single-consumer sliver persist)
    with zero correctness exposure. First invocation still probes."""
    from pyspark import StorageLevel

    from ..memo import memo

    lazy = persisted_out is not None
    vals = None

    def sliver() -> DataFrame:
        nonlocal vals
        vals = _grouped_vals(df, group_cols, col).persist(StorageLevel.MEMORY_AND_DISK)
        if lazy:
            persisted_out.append(vals)
        return vals

    def probe() -> str:
        mx = (
            sliver()
            .groupBy("gk")
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(F.max("c").alias("mx"))
            .first()
            .mx
        )
        # no non-null values anywhere: the window form returns the empty long frame
        return pick_grouped_quantile_strategy(mx or 0, max_rows_per_group)

    try:
        strategy = (
            probe() if memo_key is None else memo(df.sparkSession, ("route", memo_key), probe)
        )
        if strategy == "range":
            # the range form scans the sliver several times and is
            # already localCheckpoint(eager)-pinned
            return grouped_exact_quantiles_df(
                df, group_cols, col, qs, n_parts=n_parts, _vals=sliver() if vals is None else vals
            )
        # after a memoized route the window pass is the sliver's one
        # consumer, so it reads the source directly
        out = grouped_exact_quantiles_window(df, group_cols, col, qs, _vals=vals)
        return out if lazy else out.localCheckpoint(eager=True)
    finally:
        if not lazy and vals is not None:
            vals.unpersist()
