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


def _cosine_rows(av: np.ndarray, bv: np.ndarray) -> np.ndarray:
    """Cosine of each row pair of two (n, d) float64 matrices."""
    num = np.einsum("ij,ij->i", av, bv)
    den = np.linalg.norm(av, axis=1) * np.linalg.norm(bv, axis=1)
    return num / den


def _cosine_kernel(a: pd.Series, b: pd.Series) -> pd.Series:
    if not len(a):
        return pd.Series([], dtype="float64")
    av = np.array(a.tolist(), dtype=np.float64)
    bv = np.array(b.tolist(), dtype=np.float64)
    return pd.Series(_cosine_rows(av, bv))


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


def topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


def query_batch(
    queries: DataFrame, bound: int | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """(query ids int64[Q], query matrix float64[Q, d]) of a (query_id, qe)
    serving batch, in one bounded collect. With ``bound``, a batch of more
    than ``bound`` rows is refused (at most ``bound + 1`` rows are read).
    Doubles survive the driver round trip bit-exactly."""
    src = queries if bound is None else queries.limit(bound + 1)
    rows = src.select("query_id", "qe").collect()  # bounded-collect: the serving batch
    if bound is not None and len(rows) > bound:
        raise ValueError(f"query batch exceeds {bound}; chunk the serving batch")
    q_ids = np.array([r["query_id"] for r in rows], dtype=np.int64)
    return q_ids, np.array([r["qe"] for r in rows], dtype=np.float64)


def _signature(mat: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """Hyperplane bucket of each row: bit j set where row · plane_j > 0."""
    return ((mat @ planes.T) > 0) @ (1 << np.arange(len(planes)))


def lsh_route(q_mat: np.ndarray, n_planes: int, probe_radius: int) -> np.ndarray:
    """(Q, n_masks) buckets each query probes: its own signature XOR every
    multi-probe mask (up to *probe_radius* flipped bits)."""
    planes = np.array(_planes(q_mat.shape[1], n_planes), dtype=np.float64)
    masks = np.array(_probe_masks(n_planes, probe_radius))
    return _signature(q_mat, planes)[:, None] ^ masks[None, :]


def flat_route(q_mat: np.ndarray) -> np.ndarray:
    """The route of a flat scan: every query probes key 0, the constant
    key column of :func:`flat_keyed`."""
    return np.zeros((len(q_mat), 1), dtype=np.int64)


def flat_keyed(encoded: DataFrame, payload: str) -> DataFrame:
    """(key = 0, vec_id, *payload*): a whole relation as one key."""
    return encoded.select(F.lit(0).alias("key"), "vec_id", payload)


def _cut(qid: np.ndarray, nid: np.ndarray, sims: np.ndarray, k: int) -> pd.DataFrame:
    """Per-query top-k of one scored group, self-match excluded, in the
    (score DESC, id ASC) order of the final :func:`topk` window."""
    out_q, out_n, out_c = [], [], []
    for row, q in enumerate(qid):
        keep = nid != q
        s, ids = sims[row, keep], nid[keep]
        part = np.lexsort((ids, -s))[:k]
        out_q.append(np.full(len(part), q))
        out_n.append(ids[part])
        out_c.append(s[part])
    return pd.DataFrame(
        {
            "query_id": np.concatenate(out_q),
            "neighbor_id": np.concatenate(out_n),
            "cosine": np.concatenate(out_c),
        }
    )


def search(
    scorer,
    keyed: DataFrame,
    key: str,
    q_ids: np.ndarray,
    q_mat: np.ndarray,
    route,
    k: int,
) -> DataFrame:
    """Top-k neighbors of a query batch: the one serving path of every ANN
    family (IVF, IVF-PQ, IVF+SQ8, LSH, flat PQ/OPQ and SQ). Output like
    :func:`topk`.

    The route runs on the driver: ``route(q_mat)`` gives the (Q, r) keys
    each query probes (``ivf.ivf_route``, :func:`lsh_route`,
    :func:`flat_route`). Each key's probing queries ride the scan kernel's
    closure, and ``keyed`` (*key*, vec_id, payload) is scanned in place:
    filtered to the probed keys (partition pruning on a hive-partitioned
    index) and ``mapInPandas``-ed, with no exchange of the index relation.
    ``scorer(q_mat, key_value, group_pdf) -> (neighbor ids, (Q_k, n)
    scores)`` scores one key's rows of a batch; the group then keeps only
    its per-query top-k (:func:`_cut`). That is lossless, because the
    top-k of a union is the top-k of its parts' top-ks under the same
    order, so the final window merges ``r · k``-scale rows per query."""
    probes: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    if len(q_ids):
        keys = route(q_mat)
        for kv in np.unique(keys):
            hit = (keys == kv).any(axis=1)
            probes[int(kv)] = (q_ids[hit], q_mat[hit])
    if not probes:
        return keyed.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, rk int"
        )

    def scan(batches):
        for pdf in batches:
            outs = []
            for kv, grp in pdf.groupby(key, sort=False):
                qid, qm = probes[int(kv)]
                outs.append(_cut(qid, *scorer(qm, int(kv), grp), k))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    scored = keyed.where(F.col(key).isin(sorted(probes))).mapInPandas(
        scan, "query_id long, neighbor_id long, cosine double"
    )
    return topk(scored, k)


def raw_scorer(qm: np.ndarray, _kv: int, pdf: pd.DataFrame):
    """:func:`search` scorer over raw vectors ``e``: exact cosine by one
    normalized BLAS matmul. Pinned by the exhaustive twins' value oracles
    (``scripts/parity_snapshot.py:ANN_EXHAUSTIVE_TWINS``)."""
    em = np.array(pdf["e"].tolist(), dtype=np.float64)
    sims = (qm / np.linalg.norm(qm, axis=1, keepdims=True)) @ (
        em / np.linalg.norm(em, axis=1, keepdims=True)
    ).T
    return pdf["vec_id"].to_numpy(dtype=np.int64), sims


def hyperplane_signature(df: DataFrame, vec_col: str, dim: int, n_planes: int = 8) -> DataFrame:
    """Add a ``bucket`` int column: sign bits of dot(vec, plane_j)."""
    planes = np.array(_planes(dim, n_planes), dtype=np.float64)  # (P, d)

    @F.pandas_udf("int")
    def sig(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype="int32")
        mat = np.array(v.tolist(), dtype=np.float64)  # (n, d)
        return pd.Series(_signature(mat, planes).astype("int32"))

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
    construction: the signature is a deterministic function). The query
    batch is collected once and routed on the driver (:func:`lsh_route`).
    """
    c_sig = (
        corpus_sig
        if corpus_sig is not None
        else hyperplane_signature(corpus, "e", dim, n_planes)
    )
    q_ids, q_mat = query_batch(queries)
    return search(
        raw_scorer,
        c_sig.select("bucket", "vec_id", "e"),
        "bucket",
        q_ids,
        q_mat,
        lambda qm: lsh_route(qm, n_planes, probe_radius),
        k,
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
    # bucket (normalized BLAS, as in raw_scorer): each vector crosses Arrow once
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
