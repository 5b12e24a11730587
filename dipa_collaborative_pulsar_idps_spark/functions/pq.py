"""Product quantization (PQ) — the ANN memory-compression path beside
IVF (functions/ivf.py) and hyperplane LSH (functions/similarity.py).

The FAISS ``IndexPQ`` recipe: split each d-dim vector into ``m`` subspaces
of d/m dims, k-means each subspace to ``ksub`` codewords on a BOUNDED
training sample, then encode the FULL corpus distributed — each vector
becomes ``m`` small integers (m bytes at ksub ≤ 256) instead of d floats,
a 32× compression at d=64/m=8/float32. Search is the ADC (asymmetric
distance computation) scan: per query, a tiny (m × ksub) lookup table of
query-subvector · codeword partial dot products; a vector's approximate
inner product is then m table gathers — no float decode of the corpus.

At 100 TB: the codebooks are tiny (m·ksub·dsub doubles — broadcast in the
UDF closure); training collects ≤ ``sample_cap`` rows regardless of corpus
size (same bounded-collect move as IVF, ivf.py:80); encoding is one Arrow
map pass; the ADC scan reads only the code column (m bytes/row — the point
of PQ) and ships just per-partition top-k up the merge. Compose with IVF
(write codes partitioned by list_id) for the standard IVF-PQ layout — the
probe then prunes partitions AND scans compressed codes.

The IVF-PQ composite is RESIDUAL-encoded (FAISS ``IVFADC``, r11): the PQ
quantizes ``v − centroid[list_id]``, not the raw vector — the coarse
quantizer absorbs the between-list spread, so the product quantizer's
full dynamic range covers only the within-list residual, the standard
recall lever at fixed m/ksub. Train the composite's codebooks with
:func:`train_pq_residual`; :func:`adc_scorer` adds the centroid back per
(query, list) inside the scan kernel. The flat-PQ path
(:func:`pq_search_adc`) stays raw-vector — there is no coarse quantizer
to take a residual against.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ivf import (
    IndexCodec,
    _lloyd,
    append_batch,
    load_index,
    retrain_index,
    save_index,
)
from .similarity import flat_keyed, flat_route, query_batch, search, topk

#: Hard bound on the driver-side query batch for the ADC scan — queries are
#: the small serving-side input by construction (same bound as IVF training).
_MAX_QUERY_BATCH = 4096


def train_pq(
    corpus: DataFrame,
    dim: int,
    m: int = 8,
    ksub: int = 16,
    seed: int = 42,
    sample_cap: int = 4096,
) -> np.ndarray:
    """Train per-subspace codebooks on a bounded, deterministically-sampled
    subset. Returns ``(m, ksub, dim//m)`` float64 codebooks.

    The sample filter is the same id-hash thinning as IVF training: driver
    traffic is ≤ sample_cap rows whether the corpus is 500 rows or 1 B.
    """
    assert dim % m == 0, f"dim {dim} not divisible by m {m}"
    dsub = dim // m
    from .sampling import bounded_sample

    x = bounded_sample(corpus, sample_cap, seed)
    if ksub == len(x):
        # Degenerate certifier config (the exhaustive twins): with one
        # codeword per training point, k-means++ + Lloyd provably fixes
        # every distinct point as its own centroid — skip straight there.
        # Codeword ORDER differs from what Lloyd's random init would pick,
        # which is irrelevant: encode is an argmin over the same set.
        return np.stack([x[:, j * dsub : (j + 1) * dsub] for j in range(m)])
    return np.stack(
        [_lloyd(x[:, j * dsub : (j + 1) * dsub], ksub, seed + j) for j in range(m)]
    )


def _residuals(assigned: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, e, list_id) × (list_id, centroid) → (vec_id, e=v−c,
    list_id): the IVFADC residual relation — one broadcast join + a
    zip_with, all JVM-side (no Python boundary for the subtraction)."""
    return assigned.join(F.broadcast(centroids), "list_id").select(
        "vec_id",
        F.zip_with("e", "centroid", lambda a, b: a - b).alias("e"),
        "list_id",
    )


def train_pq_residual(
    assigned: DataFrame,
    centroids: DataFrame,
    dim: int,
    m: int = 8,
    ksub: int = 16,
    seed: int = 42,
    sample_cap: int = 4096,
) -> np.ndarray:
    """Train the IVF-PQ composite's codebooks on coarse RESIDUALS
    (v − centroid[list_id]) — the FAISS IVFADC recipe. Same bounded
    deterministic sampling as :func:`train_pq`; the residual subtraction
    happens distributed before the sample collect, so driver traffic is
    unchanged (≤ sample_cap rows). The residual relation is persisted
    across the sampler's count+collect pair (two jobs that would
    otherwise each replay the assignment UDF + broadcast join)."""
    res = _residuals(assigned, centroids).persist()
    try:
        return train_pq(res, dim, m, ksub, seed, sample_cap)
    finally:
        res.unpersist()


def random_rotation(dim: int, seed: int = 42) -> np.ndarray:
    """Deterministic random orthogonal matrix (QR of a seeded Gaussian,
    sign-fixed so the factorization is unique) — the data-independent
    rotation the OPQ exhaustive certifier uses to exercise the rotated
    serving path under a full value oracle."""
    rng = np.random.default_rng(seed)
    q, r = np.linalg.qr(rng.standard_normal((dim, dim)))
    return q * np.sign(np.diag(r))


def rotate_vectors(df: DataFrame, rotation: np.ndarray, vec_col: str = "e") -> DataFrame:
    """Replace ``vec_col`` with ``vec @ R`` — one Arrow matmul pass, the
    rotation riding the UDF closure (d² doubles — tiny). All other columns
    pass through the same projection."""
    rot = np.asarray(rotation, dtype=np.float64)

    @F.pandas_udf("array<double>")
    def rr(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype=object)
        return pd.Series(list(np.array(v.tolist(), dtype=np.float64) @ rot))

    others = [c for c in df.columns if c != vec_col]
    return df.select(*others, rr(F.col(vec_col)).alias(vec_col))


def _opq_pca_init(x: np.ndarray, m: int, dsub: int) -> np.ndarray:
    """PCA-permuted OPQ initialization (Ge et al. CVPR'13 §4): eigh of
    the sample covariance (deterministic; sign-fixed so each axis's
    largest-|component| is positive), principal axes sorted by
    eigenvalue and greedily dealt to the m subspace buckets balancing
    each bucket's log-eigenvalue SUM (= eigenvalue product — the
    independence-assumption distortion bound each subspace carries).
    Returns the orthogonal (dim, dim) matrix used as ``x @ R``."""
    xc = x - x.mean(0)
    w, v = np.linalg.eigh(xc.T @ xc / max(len(x), 1))
    order = np.argsort(w)[::-1]
    w, v = w[order], v[:, order]
    flip = np.abs(v).argmax(0)  # sign-fix each eigenvector
    v = v * np.sign(v[flip, np.arange(v.shape[1])])[None, :]
    buckets: list[list[int]] = [[] for _ in range(m)]
    logs = np.zeros(m)
    for i in range(v.shape[1]):
        free = [b for b in range(m) if len(buckets[b]) < dsub]
        b = min(free, key=lambda c: logs[c])
        buckets[b].append(i)
        logs[b] += float(np.log(max(w[i], 1e-12)))
    perm = [i for b in buckets for i in b]
    return v[:, perm]


def train_opq(
    corpus: DataFrame,
    dim: int,
    m: int = 8,
    ksub: int = 16,
    seed: int = 42,
    sample_cap: int = 4096,
    n_iter: int = 10,
) -> tuple[np.ndarray, np.ndarray]:
    """OPQ (Ge et al., "Optimized Product Quantization", CVPR 2013; FAISS
    ``OPQMatrix``): learn an orthogonal rotation R that redistributes
    variance across the m subspaces before PQ, alternating (1) per-subspace
    k-means on the rotated sample and (2) the orthogonal-Procrustes update
    R = UVᵀ from SVD(Xᵀ·Ŷ) against the quantized reconstruction Ŷ — each
    step is non-increasing in ‖XR − Ŷ‖², the PQ distortion after rotation.

    Returns ``(R (dim,dim), codebooks (m, ksub, dim//m))`` — both tiny,
    broadcast in UDF closures. Because R is ORTHOGONAL, cosine in rotated
    space equals raw cosine, so the unchanged ADC machinery serves OPQ:
    ``pq_encode(rotate_vectors(corpus, R), cb)`` +
    ``pq_search_adc(enc, cb, rotate_vectors(queries, R, "qe"), k)``.

    Training is driver-side numpy on the same bounded deterministic sample
    as :func:`train_pq` (≤ sample_cap rows at ANY corpus size); the ksub ==
    sample-size certifier config degenerates to R = I + one-codeword-per-
    point (reconstruction is exact, so rotation changes nothing).

    r13: the rotation starts from the PCA-permuted initialization of
    Ge et al. §4 (OPQ-P / FAISS OPQMatrix's pca_white-free init) instead
    of identity — principal axes allocated to subspaces balancing each
    bucket's eigenvalue PRODUCT (greedy on log-eigenvalues), so the
    alternating refinement descends from an already variance-balanced
    rotation rather than spending its iterations discovering one. Lifts
    the clustered near-tie fixture recall past plain PQ's (the r11
    documented caveat) without regressing the corpus axis."""
    assert dim % m == 0, f"dim {dim} not divisible by m {m}"
    dsub = dim // m
    from .sampling import bounded_sample

    x = bounded_sample(corpus, sample_cap, seed)
    if ksub == len(x):
        return np.eye(dim), np.stack(
            [x[:, j * dsub : (j + 1) * dsub] for j in range(m)]
        )
    rot = _opq_pca_init(x, m, dsub)
    cbs = None
    for _ in range(n_iter):
        y = x @ rot
        cbs = np.stack(
            [_lloyd(y[:, j * dsub : (j + 1) * dsub], ksub, seed + j) for j in range(m)]
        )
        yhat = np.empty_like(y)
        for j in range(m):
            sub = y[:, j * dsub : (j + 1) * dsub]
            cb = cbs[j]
            codes = (-2 * sub @ cb.T + (cb**2).sum(1)[None, :]).argmin(1)
            yhat[:, j * dsub : (j + 1) * dsub] = cb[codes]
        u, _, vt = np.linalg.svd(x.T @ yhat)
        rot = u @ vt
    # codebooks for the FINAL rotation (the loop trains them one R behind)
    y = x @ rot
    cbs = np.stack(
        [_lloyd(y[:, j * dsub : (j + 1) * dsub], ksub, seed + j) for j in range(m)]
    )
    return rot, cbs


def pq_encode(
    corpus: DataFrame, codebooks: np.ndarray, keep: tuple[str, ...] = ()
) -> DataFrame:
    """Encode (vec_id, e) → (vec_id, *keep, codes array<int>), one Arrow
    map pass with the codebooks in the UDF closure. Map-only: no shuffle —
    pass-through columns ride the same projection (``keep``) instead of a
    join-back."""
    m, ksub, dsub = codebooks.shape

    @F.pandas_udf("array<int>")
    def enc(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype=object)
        mat = np.array(v.tolist(), dtype=np.float64)  # (B, d)
        codes = np.empty((len(mat), m), dtype=np.int32)
        for j in range(m):
            sub = mat[:, j * dsub : (j + 1) * dsub]
            cb = codebooks[j]  # (ksub, dsub)
            dist = -2 * sub @ cb.T + (cb**2).sum(1)[None, :]
            codes[:, j] = dist.argmin(1)
        return pd.Series(list(codes))

    return corpus.select("vec_id", *keep, enc(F.col("e")).alias("codes"))


def save_pq(spark, codebooks: np.ndarray, path: str) -> None:
    """Persist trained codebooks so a serving restart reloads the SAME
    quantization instead of retraining (at 100 TB a retrain means a new,
    slightly different encoding of the whole corpus — every stored code
    column would need rebuilding). Same build-once/serve-many contract as
    ``ivf.save_ivf_index`` and the BPE merge tables: written through
    Spark so the path can be any cluster filesystem, not driver-local
    disk. The table is tiny — m·ksub rows of dsub doubles — and parquet
    doubles round-trip bit-exactly."""
    m, ksub, dsub = codebooks.shape
    from ..localdf import local_rows_df

    rows = [
        (int(j), int(c), [float(x) for x in codebooks[j, c]])
        for j in range(m)
        for c in range(ksub)
    ]
    local_rows_df(spark, rows, "j int, c int, centroid array<double>").coalesce(
        1
    ).write.mode("overwrite").parquet(path)


def load_pq(spark, path: str) -> np.ndarray:
    """Load codebooks persisted by :func:`save_pq` — returns the exact
    ``(m, ksub, dsub)`` float64 array ``train_pq`` produced (disk ≡
    memory, pinned in tests), directly usable by ``pq_encode`` /
    ``pq_search_adc`` / ``ivfpq_search``."""
    rows = spark.read.parquet(path).collect()  # bounded-collect: m·ksub codebook rows
    m = max(r.j for r in rows) + 1
    ksub = max(r.c for r in rows) + 1
    cb = np.empty((m, ksub, len(rows[0].centroid)), dtype=np.float64)
    for r in rows:
        cb[r.j, r.c] = r.centroid
    return cb


def save_opq(spark, rotation: np.ndarray, codebooks: np.ndarray, path: str) -> None:
    """Persist an OPQ transform: the rotation (d rows of d doubles —
    tiny) beside the codebooks in :func:`save_pq`'s layout. Same
    train-once/serve-many contract: re-training OPQ yields a different R
    and every stored code column would need rebuilding."""
    from ..localdf import local_rows_df

    save_pq(spark, codebooks, f"{path}/pq")
    rows = [(int(i), [float(x) for x in rotation[i]]) for i in range(len(rotation))]
    local_rows_df(spark, rows, "i int, vals array<double>").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/rotation")


def load_opq(spark, path: str) -> tuple[np.ndarray, np.ndarray]:
    """Load ``(rotation, codebooks)`` persisted by :func:`save_opq` —
    bit-exact round-trip (parquet doubles), directly usable by
    :func:`rotate_vectors` + :func:`pq_encode` / :func:`pq_search_adc`."""
    rows = spark.read.parquet(f"{path}/rotation").collect()  # bounded-collect: d rotation rows
    d = max(r.i for r in rows) + 1
    rot = np.empty((d, len(rows[0].vals)), dtype=np.float64)
    for r in rows:
        rot[r.i] = r.vals
    return rot, load_pq(spark, f"{path}/pq")


def pq_reconstruct(codebooks: np.ndarray, codes: np.ndarray) -> np.ndarray:
    """Decode code rows back to approximate vectors (test/debug helper)."""
    m, ksub, dsub = codebooks.shape
    out = np.empty((len(codes), m * dsub))
    for j in range(m):
        out[:, j * dsub : (j + 1) * dsub] = codebooks[j][codes[:, j]]
    return out


def adc_scorer(codebooks: np.ndarray, cents: np.ndarray | None = None):
    """``similarity.search`` scorer over PQ codes: the ADC scan, cosine
    computed entirely from code gathers against the reconstruction v̂.

    Per probed group a (Q, m, ksub) lookup table of query-subvector ·
    codeword dot products is built, and a code row's score is m gathers:

        q·v̂   = q·c + Σⱼ lut[j, codeⱼ]
        ‖v̂‖² = ‖c‖² + 2·Σⱼ cl[j, codeⱼ] + Σⱼ n2[j, codeⱼ]

    with c = ``cents[list_id]`` for RESIDUAL codes (IVFADC, r11: v̂ =
    c + r̂, cl[j, code] = c_subⱼ · codewordⱼ) and c = 0 for flat PQ,
    where every c term is an exact zero and the sums reduce to the plain
    ADC identity cos(q, v̂) = Σ lut / (‖q‖·sqrt(Σ n2)) (pinned by
    tests/test_dedup.py::test_pq_adc_equals_reconstructed_cosine). The
    arithmetic is elementwise after the small LUT matmuls, so scores do
    not depend on how the scan chunks the rows."""
    m, ksub, dsub = codebooks.shape
    n2 = (codebooks**2).sum(2)

    def score(qm: np.ndarray, lid: int, pdf: pd.DataFrame):
        c = np.zeros(m * dsub) if cents is None else cents[lid]
        qn = np.sqrt((qm**2).sum(1))
        codes = np.array(pdf["codes"].tolist(), dtype=np.int64)
        lut = np.stack(
            [qm[:, j * dsub : (j + 1) * dsub] @ codebooks[j].T for j in range(m)],
            axis=1,
        )
        cl = np.stack([c[j * dsub : (j + 1) * dsub] @ codebooks[j].T for j in range(m)])
        ip = np.repeat((qm @ c)[:, None], len(codes), axis=1)
        vn2 = np.full(len(codes), float(c @ c))
        for j in range(m):
            ip += lut[:, j, :][:, codes[:, j]]
            vn2 += 2.0 * cl[j][codes[:, j]] + n2[j][codes[:, j]]
        cos = ip / np.maximum(qn[:, None] * np.sqrt(np.maximum(vn2, 0.0))[None, :], 1e-12)
        return pdf["vec_id"].to_numpy(dtype=np.int64), cos

    return score


def pq_search_adc(
    encoded: DataFrame,
    codebooks: np.ndarray,
    queries: DataFrame,
    k: int = 5,
    rotate: np.ndarray | None = None,
) -> DataFrame:
    """Flat ADC top-k scan (:func:`adc_scorer`) over encoded (vec_id,
    codes). queries: (query_id, qe), collected under a hard
    ``_MAX_QUERY_BATCH`` bound (the serving batch is the small side by
    construction).

    ``rotate`` (r13 opt): an optional (d, d) rotation applied to the
    collected query matrix on the driver — ``q_mat @ R``, the exact
    numpy product :func:`rotate_vectors` computes inside its Arrow UDF,
    so results are bit-identical without a Python-worker pass.
    """
    q_ids, q_mat = query_batch(queries, _MAX_QUERY_BATCH)
    if rotate is not None and len(q_ids):
        q_mat = q_mat @ np.asarray(rotate, dtype=np.float64)
    return search(
        adc_scorer(codebooks), flat_keyed(encoded, "codes"), "key", q_ids, q_mat, flat_route, k
    )


def ivfpq_search(
    assigned: DataFrame,
    centroids: DataFrame,
    codebooks: np.ndarray,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """IVF-PQ: probe the ``n_probe`` nearest inverted lists (coarse
    quantizer) and ADC-score only their *codes* (product quantizer) — the
    standard billion-scale serving layout (FAISS ``IVFPQ``): scanned
    fraction ≈ n_probe/n_list AND every scanned row is m bytes, not d
    floats. RESIDUAL-encoded (IVFADC): ``codebooks`` must come from
    :func:`train_pq_residual` over the same (assigned, centroids).

    assigned: (vec_id, e, list_id) from ivf.build_ivf_index — encoded
    here (one extra Arrow pass). Serving many batches? Build the code
    column ONCE with :func:`save_ivfpq_index` and search the loaded
    index through :func:`ivfpq_search_encoded` instead — re-encoding
    the corpus per query batch is the build step leaking into serving.
    """
    enc = pq_encode(_residuals(assigned, centroids), codebooks, keep=("list_id",))
    return ivfpq_search_encoded(enc, centroids, codebooks, queries, k, n_probe)


def pq_reconstruction_error(corpus: DataFrame, codebooks: np.ndarray) -> tuple[float, int]:
    """(mean squared PQ reconstruction residual ‖v − decode(encode(v))‖²,
    row count) over (vec_id, e) — one Arrow pass with the codebooks in
    the closure. The PQ index-health number: it rises when incoming
    vectors drift away from the subspace codebooks' training
    distribution, the signal :func:`ivfpq_append_batch` uses to demand a
    retrain."""
    m, ksub, dsub = codebooks.shape

    @F.pandas_udf("double")
    def resid(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype="float64")
        mat = np.array(v.tolist(), dtype=np.float64)
        sq = np.zeros(len(mat))
        for j in range(m):
            sub = mat[:, j * dsub : (j + 1) * dsub]
            cb = codebooks[j]
            dist = sub @ (-2 * cb.T) + (cb**2).sum(1)[None, :]
            code = dist.argmin(1)
            sq += ((sub - cb[code]) ** 2).sum(1)
        return pd.Series(sq)

    row = (
        corpus.select(resid(F.col("e")).alias("sq"))
        .agg(F.avg("sq").alias("err"), F.count("*").alias("n"))
        .collect()[0]  # bounded-collect: one scalar row
    )
    return (float(row["err"] or 0.0), int(row["n"]))


def pq_code_error(
    residuals: DataFrame, committed: DataFrame, codebooks: np.ndarray
) -> tuple[float, int]:
    """(mean squared reconstruction error ‖r − decode(code)‖², row count)
    of COMMITTED codes: the read-back (vec_id, codes) relation joined to
    the batch residuals (vec_id, e) by vec_id, decoded through the
    codebook gathers in one Arrow pass — the append protocol's
    measure-what-serving-scans contract (r11 advisor): the number
    reflects exactly the code bytes serving will scan — a truncated or partial delta commit shows up as a wrong count
    or error, not a silently-healthy in-memory measurement."""
    m, ksub, dsub = codebooks.shape

    @F.pandas_udf("double")
    def sqerr(e: pd.Series, codes: pd.Series) -> pd.Series:
        if not len(e):
            return pd.Series([], dtype="float64")
        mat = np.array(e.tolist(), dtype=np.float64)
        cds = np.array(codes.tolist(), dtype=np.int64)
        sq = np.zeros(len(mat))
        for j in range(m):
            sub = mat[:, j * dsub : (j + 1) * dsub]
            sq += ((sub - codebooks[j][cds[:, j]]) ** 2).sum(1)
        return pd.Series(sq)

    row = (
        residuals.select("vec_id", "e")
        .join(committed.select("vec_id", "codes"), "vec_id")
        .select(sqerr(F.col("e"), F.col("codes")).alias("sq"))
        .agg(F.avg("sq").alias("err"), F.count("*").alias("n"))
        .collect()[0]  # bounded-collect: one scalar row
    )
    return (float(row["err"] or 0.0), int(row["n"]))


#: IVF-PQ (IVFADC): the codebooks quantize coarse RESIDUALS, so the
#: committed-batch error rescores the read-back codes against the
#: (persisted) batch residuals. Drift = reconstruction error over the
#: build baseline — a PQ retrain re-encodes the whole corpus, which is why
#: the trigger is a tracked number and not a per-batch habit. The codes
#: are lossy (that is the 32× point), so a retrain reads raw vectors from
#: the caller's source of truth rather than decoding codes into lossier
#: ones; ``m``/``ksub`` default to the persisted codebooks' geometry.
IVFPQ_CODEC = IndexCodec(
    base_dir="codes",
    delta_dir="codes_deltas",
    quantizer_dir="pq",
    payload="codes",
    encode=lambda res, cb: pq_encode(res, cb, keep=("list_id",)),
    batch_error=lambda res, committed, _c, cb: (*pq_code_error(res, committed, cb), None),
    tree_error=lambda _p, res, _enc, _c, cb: pq_reconstruction_error(
        res.select("vec_id", "e"), cb
    ),
    train=lambda corpus, assigned, centroids, dim, **geometry: train_pq_residual(
        assigned, centroids, dim, **geometry
    ),
    save_quantizer=save_pq,
    load_quantizer=load_pq,
    residuals=_residuals,
    geometry=lambda spark, root: dict(
        zip(("m", "ksub"), load_pq(spark, f"{root}/pq").shape[:2])
    ),
)


def save_ivfpq_index(
    assigned: DataFrame, centroids: DataFrame, codebooks: np.ndarray, path: str
) -> None:
    """:func:`ivf.save_index` for IVF-PQ: residual codes (m small ints per
    vector — the compression is ON DISK too) + centroids + the
    :func:`train_pq_residual` codebooks. Encode-once/serve-many."""
    save_index(IVFPQ_CODEC, assigned, centroids, codebooks, path)


def load_ivfpq_index(spark, path: str) -> tuple[DataFrame, DataFrame, np.ndarray]:
    """:func:`ivf.load_index` for IVF-PQ → (encoded, centroids, codebooks),
    ready for :func:`ivfpq_search_encoded`."""
    return load_index(IVFPQ_CODEC, spark, path)


def ivfpq_append_batch(spark, path: str, batch: DataFrame, batch_id: str) -> dict:
    """:func:`ivf.append_batch` for IVF-PQ (``codes_deltas/batch_id=<id>``)."""
    return append_batch(IVFPQ_CODEC, spark, path, batch, batch_id)


def ivfpq_retrain(
    spark,
    path: str,
    corpus: DataFrame,
    n_list: int | None = None,
    m: int | None = None,
    ksub: int | None = None,
) -> dict:
    """:func:`ivf.retrain_index` for IVF-PQ: fresh centroids + residual
    codebooks over the raw ``corpus`` (vec_id, e); reports ``m``/``ksub``."""
    return retrain_index(IVFPQ_CODEC, spark, path, corpus, n_list, m=m, ksub=ksub)


def ivfpq_search_encoded(
    enc: DataFrame,
    centroids: DataFrame,
    codebooks: np.ndarray,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """IVF-PQ ADC scan over a PRE-encoded corpus (vec_id, codes, list_id)
    — the serving half of the index: no raw-vector column anywhere, no
    per-batch encode pass. Probes like :func:`ivf.ivf_search` and scores
    the residual codes with :func:`adc_scorer` (the centroid matrix rides
    the kernel closure). The query batch and the centroids are collected
    once."""
    from .ivf import centroid_matrix, ivf_route

    cents = centroid_matrix(centroids)
    q_ids, q_mat = query_batch(queries)
    return search(
        adc_scorer(codebooks, cents),
        enc.select("list_id", "vec_id", "codes"),
        "list_id",
        q_ids,
        q_mat,
        lambda qm: ivf_route(qm, cents, n_probe),
        k,
    )


def refine_exact(
    cand: DataFrame, corpus: DataFrame, queries: DataFrame, k: int
) -> DataFrame:
    """Exact re-ranking (FAISS ``IndexRefineFlat``): the bounded candidate
    set (query_id, neighbor_id) is rescored against the RAW vectors of
    ``corpus`` (vec_id, e) and cut back to top-k. Its cost is independent
    of corpus size: one broadcast-hash join of the tiny candidate set
    against the corpus scan (no shuffle of the big side) and an exact
    cosine per candidate row."""
    from .similarity import cosine_cols

    cand = cand.select("query_id", "neighbor_id")
    fetched = corpus.join(
        F.broadcast(cand), corpus["vec_id"] == cand["neighbor_id"]
    ).select("query_id", "neighbor_id", "e")
    rescored = fetched.join(F.broadcast(queries), "query_id").select(
        "query_id",
        "neighbor_id",
        cosine_cols(F.col("qe"), F.col("e")).alias("cosine"),
    )
    return topk(rescored, k)


def ivfpq_search_encoded_refined(
    enc: DataFrame,
    centroids: DataFrame,
    codebooks: np.ndarray,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    refine_factor: int = 4,
) -> DataFrame:
    """IVFADC + exact re-ranking: the ADC scan over-fetches ``k ·
    refine_factor`` candidates per query, then :func:`refine_exact`
    rescores them against the raw vectors.

    Why this is the production serving shape: PQ scores are lossy — at
    fixed (m, ksub) the quantization error reorders near-tied true
    neighbors inside the probed lists, which is exactly the loss refine
    recovers (coarse-probe misses it cannot: a true neighbor in an
    unprobed list never reaches the candidate set — raise ``n_probe``
    for that).

    ``corpus``: (vec_id, e) — the raw vectors, which the (lossy) index
    cannot reconstruct; in a lake deployment this is the embeddings
    table the index was built from, partition-prunable by vec_id."""
    cand = ivfpq_search_encoded(
        enc, centroids, codebooks, queries, k=k * refine_factor, n_probe=n_probe
    )
    return refine_exact(cand, corpus, queries, k)


def ivfpq_search_refined(
    assigned: DataFrame,
    centroids: DataFrame,
    codebooks: np.ndarray,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    refine_factor: int = 4,
) -> DataFrame:
    """Build-path convenience for :func:`ivfpq_search_encoded_refined`:
    ``assigned`` (vec_id, e, list_id) still carries the raw vectors, so it
    is both the encode input and the refine corpus. Serving many batches?
    Persist the index with :func:`save_ivfpq_index` and call the encoded
    variant with the lake's raw-embeddings relation instead."""
    enc = pq_encode(_residuals(assigned, centroids), codebooks, keep=("list_id",))
    return ivfpq_search_encoded_refined(
        enc,
        centroids,
        codebooks,
        assigned.select("vec_id", "e"),
        queries,
        k=k,
        n_probe=n_probe,
        refine_factor=refine_factor,
    )
