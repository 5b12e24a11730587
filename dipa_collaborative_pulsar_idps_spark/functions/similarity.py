"""Similarity search over embedding columns (SURVEY.md §7 Phase 6).

Two paths:
- exact brute-force cosine top-k (the baseline; queries/datapipe2.py) —
  broadcast the query batch, one pass over the corpus;
- LSH-bucketed ANN: random-hyperplane signatures → bucket join with
  multi-probe expansion → exact cosine only on candidates. At 100 TB the
  corpus side is scanned once and shuffled only on small bucket keys.

All randomness is a fixed-seed hyperplane family — reproducible runs.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _planes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


def as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _cosine_kernel(a: pd.Series, b: pd.Series) -> pd.Series:
    if not len(a):
        return pd.Series([], dtype="float64")
    av = np.array(a.tolist(), dtype=np.float64)
    bv = np.array(b.tolist(), dtype=np.float64)
    num = np.einsum("ij,ij->i", av, bv)
    den = np.linalg.norm(av, axis=1) * np.linalg.norm(bv, axis=1)
    return pd.Series(num / den)


def cosine_cols(a, b):
    """Exact cosine of two fixed-dim array<double> columns, one BLAS
    einsum per Arrow batch. The HOF form (``aggregate∘zip_with``, kept as
    the reference in queries/datapipe4._cosine_pairs) interprets one lambda
    per ELEMENT — ~100× slower on the candidate-scoring hot path; this is
    the vectorized twin (float64, equal in tests to 6-decimal rounding
    against the SQL oracles). Wrapped lazily: pandas_udf needs an active
    session to parse its return type, so the UDF is built per call."""
    return F.pandas_udf(_cosine_kernel, "double")(a, b)


def cosine_scores(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Exact cosine of every (query, corpus) pair.

    corpus: (vec_id, e array<double>); queries: (query_id, qe array<double>).
    Query side is broadcast — corpus streams through one stage, repartitioned
    off the scan so the dot products spread across cores."""
    n_part = corpus.sparkSession.sparkContext.defaultParallelism
    return (
        F.broadcast(queries)
        .join(corpus.repartition(n_part, "vec_id"), F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_cols(F.col("qe"), F.col("e")).alias("cosine"),
        )
    )


def chunked_search(queries: DataFrame, search_fn, chunk_size: int = 4096) -> DataFrame:
    """Serve an arbitrarily large query set through a bounded-batch search
    function without caller-side plumbing: stream the query rows to the
    driver (``toLocalIterator`` — one partition resident at a time), slice
    into ≤ ``chunk_size`` batches, run ``search_fn(chunk_df)`` per batch,
    and union the per-chunk results. Per-query top-k is chunk-local AND
    globally exact because chunk query sets are disjoint — the union IS
    the full answer, no re-ranking needed.

    ``search_fn`` is any (queries: DataFrame) -> DataFrame search — the
    PQ ADC scan (whose LUT is built from a driver-collected batch and
    therefore needs the bound), or the LSH/IVF paths when their broadcast
    query side should be kept small. Driver memory is O(chunk_size) query
    rows plus each chunk's closure state; the corpus-side cost is one scan
    per chunk, so persist the corpus/codes frame across chunks when
    serving many."""
    spark = queries.sparkSession
    schema = queries.schema
    out, buf = None, []

    def flush(buf):
        nonlocal out
        res = search_fn(spark.createDataFrame(buf, schema))
        out = res if out is None else out.unionByName(res)

    for row in queries.toLocalIterator():  # bounded: ≤ chunk_size rows buffered
        buf.append(row)
        if len(buf) >= chunk_size:
            flush(buf)
            buf = []
    if buf or out is None:
        flush(buf)
    return out


def topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


def collect_probe_map(
    probes: DataFrame, key: str
) -> dict[int, tuple[np.ndarray, np.ndarray]]:
    """Collect the BOUNDED probe relation (*key*, query_id, qe) into
    ``{key: (query_ids int64[], query_matrix float64[Q_k, d])}`` for
    closure shipping — the r14 serving shape (guide §2.4/§3.1): the probe
    side is ``n_queries × n_probe`` rows by construction (the serving
    batch), so instead of COGROUPING it with the corpus on the key — an
    Exchange of the whole code/vector relation per probe — the tiny probe
    map rides the scan kernel's closure and the corpus is scanned IN
    PLACE (partition-pruned by the key filter for hive-partitioned
    indexes). Doubles survive the driver round trip bit-exactly, and the
    per-(key, query) scoring arithmetic is row-independent, so scores are
    unchanged. Fields are read by name: the key and ``query_id`` are
    both int64, so a positional read would silently swap them under a
    reordered select."""
    rows = probes.collect()  # bounded-collect: n_queries × n_probe rows
    acc: dict[int, tuple[list, list]] = {}
    for r in rows:
        ids, vecs = acc.setdefault(int(r[key]), ([], []))
        ids.append(r["query_id"])
        vecs.append(r["qe"])
    return {
        key: (np.array(ids, dtype=np.int64), np.array(vecs, dtype=np.float64))
        for key, (ids, vecs) in acc.items()
    }


def probed_scan_topk(
    corpus_keyed: DataFrame,
    probe_map: dict[int, tuple[np.ndarray, np.ndarray]],
    k: int,
    key: str,
    scorer,
) -> DataFrame:
    """Top-k candidate scoring WITHOUT the cogroup exchange: filter
    ``corpus_keyed`` to the probed keys (partition pruning on
    hive-partitioned list/code relations), ``mapInPandas`` over it with
    the probe map in the closure, and score each batch's per-key groups
    with ``scorer(query_ids, query_matrix, key_value, group_pdf) ->
    DataFrame(query_id, neighbor_id, cosine)``. Each group emits only its
    per-group top-k (lossless: top-k of a union is the top-k of per-part
    top-ks under the same (cosine DESC, neighbor_id ASC) order the global
    :func:`topk` window applies), so the final window merges
    ``n_probe · k``-scale id rows per query."""
    spark = corpus_keyed.sparkSession
    if not probe_map:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, rk int"
        )
    keys = sorted(probe_map)

    def scan(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            outs = []
            for kv, grp in pdf.groupby(key, sort=False):
                probe = probe_map.get(int(kv))
                if probe is None:  # key not probed (filter already dropped it)
                    continue
                res = scorer(probe[0], probe[1], int(kv), grp)
                if res is not None and len(res):
                    outs.append(res)
            if outs:
                yield pd.concat(outs, ignore_index=True)

    scored = corpus_keyed.where(F.col(key).isin(keys)).mapInPandas(
        scan, "query_id long, neighbor_id long, cosine double"
    )
    return topk(scored, k)


def raw_topk_scorer(k: int):
    """Per-group exact-cosine top-k scorer for :func:`probed_scan_topk`:
    normalized BLAS matmul, self-excluded, (−score, id) lexsort cut. The
    scoring is pinned by the exhaustive twins' value oracles
    (``scripts/parity_snapshot.py:ANN_EXHAUSTIVE_TWINS``)."""

    def scorer(qid: np.ndarray, qm: np.ndarray, _kv: int, corpus_pdf: pd.DataFrame):
        nid = corpus_pdf["vec_id"].to_numpy(dtype=np.int64)
        em = np.array(corpus_pdf["e"].tolist(), dtype=np.float64)
        sims = (qm / np.linalg.norm(qm, axis=1, keepdims=True)) @ (
            em / np.linalg.norm(em, axis=1, keepdims=True)
        ).T
        out_q, out_n, out_c = [], [], []
        for row, q in enumerate(qid):
            keep = nid != q
            s, ids = sims[row, keep], nid[keep]
            part = np.lexsort((ids, -s))[:k]
            out_q.append(np.full(len(part), q))
            out_n.append(ids[part])
            out_c.append(s[part])
        if not out_q:
            return None
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "cosine": np.concatenate(out_c),
            }
        )

    return scorer


def hyperplane_signature(df: DataFrame, vec_col: str, dim: int, n_planes: int = 8) -> DataFrame:
    """Add a ``bucket`` int column: sign bits of dot(vec, plane_j)."""
    planes = np.array(_planes(dim, n_planes), dtype=np.float64)  # (P, d)

    @F.pandas_udf("int")
    def sig(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype="int32")
        mat = np.array(v.tolist(), dtype=np.float64)  # (n, d)
        bits = (mat @ planes.T) > 0  # (n, P) — all planes in one matmul
        return pd.Series((bits @ (1 << np.arange(n_planes))).astype("int32"))

    return df.withColumn("bucket", sig(F.col(vec_col)))


def _probe_masks(n_planes: int, radius: int) -> list[int]:
    if radius >= n_planes:
        # exhaustive probing: every bucket — ann_topk_lsh degenerates to the
        # exact brute-force result (the oracle-checkable configuration).
        return list(range(1 << n_planes))
    masks = [0]
    if radius >= 1:
        masks += [1 << j for j in range(n_planes)]
    if radius >= 2:
        masks += [
            (1 << i) | (1 << j) for i in range(n_planes) for j in range(i + 1, n_planes)
        ]
    return masks


def ann_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    probe_radius: int = 1,
    corpus_sig: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: hyperplane buckets + multi-probe (flip up to
    *probe_radius* sign bits), exact cosine on candidates only.

    corpus: (vec_id, e); queries: (query_id, qe). Output like :func:`topk`.
    Scanned fraction ≈ Σ C(n_planes, r≤radius) / 2^n_planes of the corpus.
    ``corpus_sig`` lets a caller supply a pre-computed (and typically
    persisted) corpus signature frame — the production 'index once, probe
    many' shape; it must be ``hyperplane_signature(corpus, "e", dim,
    n_planes)`` for the same corpus/geometry (bit-identical by
    construction: the signature is a deterministic function).
    """
    c_sig = (
        corpus_sig
        if corpus_sig is not None
        else hyperplane_signature(corpus, "e", dim, n_planes)
    )
    q_sig = hyperplane_signature(
        queries.withColumnRenamed("qe", "qe").withColumn("e", F.col("qe")), "e", dim, n_planes
    ).drop("e")
    masks = _probe_masks(n_planes, probe_radius)
    # Probe masks are distinct and every corpus vector lives in exactly one
    # bucket, so (query, probe_bucket) pairs are already unique — no
    # distinct() needed. r14 serving shape: the bounded probe relation
    # (n_queries × masks rows) is collected and rides the scan kernel's
    # closure — the bucketed corpus signature is scanned in place instead
    # of cogroup-Exchanged on the bucket per probe (scoring arithmetic
    # unchanged; the exhaustive configuration's value oracle re-proves it).
    probed = q_sig.withColumn(
        "bucket",
        F.explode(F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks])),
    ).select("bucket", "query_id", "qe")
    probe_map = collect_probe_map(probed, "bucket")
    return probed_scan_topk(
        c_sig.select("bucket", "vec_id", "e"),
        probe_map,
        k,
        key="bucket",
        scorer=raw_topk_scorer(k),
    )


def recall_at_k(approx: DataFrame, exact: DataFrame, k: int) -> float:
    """Fraction of exact top-k pairs recovered by the approximate result."""
    e = exact.where(F.col("rk") <= k).select("query_id", "neighbor_id")
    a = approx.where(F.col("rk") <= k).select("query_id", "neighbor_id")
    hits = e.join(a, ["query_id", "neighbor_id"], "left_semi").count()
    total = e.count()
    return hits / total if total else math.nan


def cosine_pairs_blocked(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_blocks: int | None = None,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold via DISTRIBUTED block self-join —
    (keep_id, dup_id, cosine) with keep_id < dup_id.

    The HOF expression path (``zip_with``/``aggregate``) interprets per
    element: N²·d lambda evaluations (~18 s for 2 k×64 at sf0.1). Here:

    1. every vector is hash-assigned to one of B blocks;
    2. each block is gathered into a single row (one ``collect_list``);
    3. each block row is exploded to its B(B+1)/2 unordered block-pair keys
       (left role for (b, j≥b), right role for (i≤b, b)) — a plain hash
       shuffle on the pair key, NO broadcast and NO nested-loop join;
    4. ``applyInPandas`` per pair computes ``A @ Bᵀ`` in BLAS and keeps
       pairs ≥ threshold.

    Nothing touches the driver and no task holds more than two blocks:
    per-task memory = 2·(N/B)·d·8 bytes; each block is shuffled to ≤ B+1
    tasks (the inherent replication of exact all-pairs blocking). At 100 TB
    set ``n_blocks`` so a block fits executor memory (e.g. 1 M rows × 1 k
    dims ≈ 8 GB corpus → B = 64 gives two ~125 MB blocks per task). Exact
    same pair set as the expression path to float precision (tested).
    """
    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    par = spark.sparkContext.defaultParallelism
    B = int(n_blocks) if n_blocks else max(4, math.ceil(math.sqrt(4 * par)))
    thr = float(threshold)

    v = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(B)).cast("int").alias("blk"),
    )
    grouped = v.groupBy("blk").agg(
        F.collect_list(F.struct("id", "vec")).alias("rows")
    )
    left = grouped.select(
        F.col("blk").alias("bi"),
        F.explode(F.sequence(F.col("blk"), F.lit(B - 1))).alias("bj"),
        F.lit("a").alias("role"),
        "rows",
    )
    right = grouped.select(
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("bi"),
        F.col("blk").alias("bj"),
        F.lit("b").alias("role"),
        "rows",
    )
    tasks = left.unionByName(right)

    def compute(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
        empty = pd.DataFrame({"keep_id": [], "dup_id": [], "cosine": []})
        by_role = {r.role: r.rows for r in pdf.itertuples()}
        if "a" not in by_role or "b" not in by_role:
            return empty  # partner block hashed empty
        diagonal = key[0] == key[1]

        def unpack(rows):
            ids = np.fromiter((r["id"] for r in rows), dtype=np.int64, count=len(rows))
            mat = np.array([r["vec"] for r in rows], dtype=np.float64)
            mat /= np.linalg.norm(mat, axis=1, keepdims=True)
            return ids, mat

        aid, amat = unpack(by_role["a"])
        bid, bmat = unpack(by_role["b"])
        sims = amat @ bmat.T
        mask = sims >= thr
        # one unordered pair appears in exactly one block-pair task; within
        # the diagonal task both (x,y) and (y,x) index the same matrix, so
        # keep the strict upper triangle by id there.
        mask &= aid[:, None] < bid[None, :] if diagonal else aid[:, None] != bid[None, :]
        ai, bj = np.nonzero(mask)
        if not len(ai):
            return empty
        x, y = aid[ai], bid[bj]
        return pd.DataFrame(
            {
                "keep_id": np.minimum(x, y),
                "dup_id": np.maximum(x, y),
                "cosine": sims[ai, bj],
            }
        )

    return tasks.groupBy("bi", "bj").applyInPandas(
        compute, "keep_id long, dup_id long, cosine double"
    )


def semantic_dedup_pairs(
    assigned: DataFrame, threshold: float = 0.4
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): near-duplicate
    pairs scanned only WITHIN k-means clusters — (keep_id, dup_id,
    cosine) with keep_id < dup_id, the cluster-then-prune shape
    web-scale semantic dedup uses instead of the exact N² self-join.

    ``assigned``: (vec_id, e, list_id) from `ivf.build_ivf_index` — the
    SAME coarse quantizer the ANN family serves from, reused as the
    dedup blocker. Work is Σ cᵢ² ≈ N²/k (one BLAS Gram per cluster, the
    `cosine_pairs_blocked` kernel arithmetic verbatim, so the one-cluster
    certifier inherits its full value oracle); every emitted pair is
    exact-verified, so precision is 1 and the ONLY loss is pairs
    straddling cluster boundaries — measured as recall vs the exact
    blocked twin in PARITY. Per-task memory is the largest cluster's
    Gram (cᵢ²·8 B): at 100 TB size n_list so clusters fit executors
    (the paper's k scales with corpus for the same reason); clusters are
    independent tasks, so skew salting or recursive re-clustering of an
    oversized cluster composes without changing emitted pairs."""
    import numpy as np
    import pandas as pd

    thr = float(threshold)

    def per_cluster(pdf: "pd.DataFrame") -> "pd.DataFrame":
        if len(pdf) < 2:
            return pd.DataFrame({"keep_id": [], "dup_id": [], "cosine": []})
        ids = pdf["vec_id"].to_numpy(np.int64)
        mat = np.array([v for v in pdf["e"]], dtype=np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        sims = mat @ mat.T
        mask = (sims >= thr) & (ids[:, None] < ids[None, :])
        ai, bj = np.nonzero(mask)
        return pd.DataFrame(
            {"keep_id": ids[ai], "dup_id": ids[bj], "cosine": sims[ai, bj]}
        )

    return assigned.select("vec_id", "e", "list_id").groupBy("list_id").applyInPandas(
        lambda _, pdf: per_cluster(pdf),
        "keep_id long, dup_id long, cosine double",
    )


def cosine_pairs_lsh(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    dim: int = 64,
    n_planes: int = 8,
    probe_radius: int = 2,
) -> DataFrame:
    """Near-dup pairs via hyperplane-LSH candidates + exact verification —
    the SUB-QUADRATIC production path (the blocked-BLAS self-join above is
    the exact baseline and is inherently N²·d, merely well-distributed).

    1. one signature pass buckets every vector (sign bits vs shared seeded
       hyperplanes — one matmul per Arrow batch);
    2. asymmetric multi-probe: each vector probes every bucket within
       Hamming ``probe_radius`` of its own; candidates = probe-side ×
       bucket-side equi join on the bucket id. Every unordered pair whose
       buckets differ in ≤ radius bits appears EXACTLY once (the probing
       side is the smaller id; XOR masks are distinct), so no dedup pass;
    3. exact cosine on candidates only, ≥ threshold kept.

    Scanned fraction ≈ Σ_{h≤radius} C(P,h) / 2^P of all pairs — at P=8,
    r=2 that is 37/256 ≈ 14% of the quadratic work, tunable down with more
    planes. Recall is 1-sided (pairs in far buckets are missed): planted
    near-dups (cos ≥ 0.9) land within radius with high probability
    (recall test in tests/test_scale_stress.py); ``probe_radius >=
    n_planes`` probes every bucket and reproduces the exact pair set
    (the oracle-checkable configuration)."""
    thr = float(threshold)
    v = emb.select(F.col(id_col).alias("vec_id"), as_double(F.col(vec_col)).alias("e"))
    sig = hyperplane_signature(v, "e", dim, n_planes)
    masks = _probe_masks(n_planes, probe_radius)
    probed = sig.select(
        F.explode(
            F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks])
        ).alias("bucket"),
        F.col("vec_id").alias("id_a"),
        F.col("e").alias("ea"),
    )
    other = sig.select("bucket", F.col("vec_id").alias("id_b"), F.col("e").alias("eb"))

    # Verification cogroups on the bucket and runs ONE normalized A @ Bᵀ per
    # bucket (normalized BLAS, as in raw_topk_scorer): each vector crosses Arrow once
    # per probed bucket instead of once per candidate PAIR, and the cosine is
    # BLAS instead of a per-element interpreted HOF — the difference between
    # O(candidates·d) lambda evals and a handful of matmuls.
    def fn(probe_pdf: pd.DataFrame, other_pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "keep_id": pd.Series([], dtype="int64"),
                "dup_id": pd.Series([], dtype="int64"),
                "cosine": pd.Series([], dtype="float64"),
            }
        )
        if not len(probe_pdf) or not len(other_pdf):
            return empty
        aid = probe_pdf["id_a"].to_numpy(dtype=np.int64)
        bid = other_pdf["id_b"].to_numpy(dtype=np.int64)
        am = np.array(probe_pdf["ea"].tolist(), dtype=np.float64)
        bm = np.array(other_pdf["eb"].tolist(), dtype=np.float64)
        sims = (am / np.linalg.norm(am, axis=1, keepdims=True)) @ (
            bm / np.linalg.norm(bm, axis=1, keepdims=True)
        ).T
        mask = (sims >= thr) & (aid[:, None] < bid[None, :])
        ai, bj = np.nonzero(mask)
        if not len(ai):
            return empty
        return pd.DataFrame(
            {"keep_id": aid[ai], "dup_id": bid[bj], "cosine": sims[ai, bj]}
        )

    return (
        probed.groupBy("bucket")
        .cogroup(other.groupBy("bucket"))
        .applyInPandas(fn, "keep_id long, dup_id long, cosine double")
    )
