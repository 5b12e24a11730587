"""IVF (inverted-file) approximate nearest neighbor — the coarse-quantizer
scale path beside hyperplane LSH (functions/similarity.py) — and the ONE
persisted-index lifecycle the IVF, IVF-PQ and IVF+SQ8 families share.

Build (the FAISS-style recipe): train k-means centroids on a BOUNDED
sample (≤ ``sample_per_list``·n_list rows — driver memory is O(k·d)
regardless of corpus size, the standard coarse-quantizer training move),
then assign the FULL corpus distributed: centroid matrix closed over the
Arrow UDF, one argmin matmul per batch. Search: score a query only against
the vectors in its ``n_probe`` nearest lists — scanned fraction ≈
n_probe / n_list.

At 100 TB: the centroid table is tiny; assignment is one pass; a query
batch is routed to its lists on the driver and nothing is shuffled. Lists
should be written partitioned by list_id so a probe prunes partitions at
scan time.

Index lifecycle. A persisted index is written once, appended to
continually and retrained under serving; the crash-consistent protocol is
written once here over a per-family :class:`IndexCodec`:

- save: re-initialise the path (deltas, stats, generations, pointer and
  marker deleted), then write the tree;
- tree write: encode → base rows hive-partitioned by ``list_id`` →
  centroids → quantizer → base error stamped at ``stats/batch_id=base``
  → ``_COMMITTED`` marker LAST;
- append: reserved-id guard → stats read and baseline check (before
  anything lands) → empty-batch report (nothing committed) → centroid
  read and assignment → overwrite into ``<delta>/batch_id=<id>`` →
  schema-pinned read-back → error measure on the committed rows → stats
  stamp (a replay keeps its ``commit_seq``) → ledger derived from the
  pre-commit rows → trigger;
- load: base ∪ deltas of the active generation;
- retrain: fresh quantizers staged in a new ``gen-NNNNN`` tree → atomic
  ``_CURRENT`` pointer swap → prune of the old root.

A codec holds the family's directory names (base, delta, quantizer), its
stored column, its encode step (optionally over coarse residuals), its
committed-batch and base-tree error measures, its quantizer train / save /
load steps and geometry, and its drift trigger. The mass trigger
(:data:`RETRAIN_MASS`) is common to all three. The twelve
``save_*`` / ``load_*`` / ``*_append_batch`` / ``*_retrain`` functions are
thin bindings of the protocol to :data:`IVF_CODEC`, ``pq.IVFPQ_CODEC`` and
``sq.IVFSQ_CODEC``.
"""
from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..storage import _exists, _fs_path, _read_text, _write_text
from .similarity import _cosine_rows, query_batch, raw_scorer, search

#: Pointer file naming the ACTIVE generation directory under an index
#: root — written by :func:`retrain_index`. An index that has never been
#: retrained has no pointer and serves from the flat root layout
#: :func:`save_index` writes, so pre-retrain indexes load unchanged.
_POINTER = "_CURRENT"

#: Completeness marker written as the LAST step of `_write_tree`
#: (r11 advisor): a generation directory EXISTS as soon
#: as its first list file lands, so pointer-loss recovery must not trust
#: bare existence — only a marked tree (lists + centroids + base stats all
#: committed) is eligible to serve.
_COMMIT_MARK = "_COMMITTED"


def _delete_tree(spark, path: str) -> None:
    """Recursive delete, no-op when absent."""
    fs, jpath = _fs_path(spark, path)
    if fs.exists(jpath):
        fs.delete(jpath, True)


def _write_pointer(spark, path: str, gen: str) -> None:
    """Atomically point ``{path}/_CURRENT`` at generation dir *gen*:
    write ``_CURRENT.tmp`` then OVERWRITING rename over the live pointer
    (FileContext Rename.OVERWRITE — atomic on HDFS and posix-local, no
    delete/rename window). On stores whose FileContext can't overwrite-
    rename, fall back to delete-then-rename: a crash between those two
    steps loses the pointer, which the completeness-CHECKED recovery rule
    in :func:`_resolve_root` (latest ``_COMMITTED`` generation, else the
    flat root) makes safely recoverable (r11 advisor)."""
    _write_text(spark, f"{path}/{_POINTER}.tmp", gen)
    fs, cur = _fs_path(spark, f"{path}/{_POINTER}")
    _, tmp = _fs_path(spark, f"{path}/{_POINTER}.tmp")
    sc = spark.sparkContext
    try:
        jvm = sc._jvm
        qual_cur = fs.makeQualified(cur)
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            qual_cur.toUri(), sc._jsc.hadoopConfiguration()
        )
        rename_opt = jvm.org.apache.hadoop.fs.Options.Rename
        opts = sc._gateway.new_array(rename_opt, 1)
        opts[0] = rename_opt.OVERWRITE
        fc.rename(fs.makeQualified(tmp), qual_cur, opts)
    except Py4JJavaError:  # the store refused overwrite-rename: non-atomic fallback
        if fs.exists(cur):
            fs.delete(cur, False)
        fs.rename(tmp, cur)


def _read_pointer(spark, path: str) -> str | None:
    return _read_text(spark, f"{path}/{_POINTER}")


def _list_generations(spark, path: str) -> list[str]:
    """Existing ``gen-NNNNN`` directory names under *path*, sorted (zero-
    padded → lexicographic == numeric)."""
    fs, root = _fs_path(spark, path)
    if not fs.exists(root):
        return []
    return sorted(
        st.getPath().getName()
        for st in fs.listStatus(root)
        if st.isDirectory() and st.getPath().getName().startswith("gen-")
    )


def _mark_committed(spark, root: str) -> None:
    """Write the empty ``_COMMITTED`` marker — the LAST step of a tree
    write, so marker-presence ⇒ the whole tree landed."""
    fs, mark = _fs_path(spark, f"{root}/{_COMMIT_MARK}")
    fs.create(mark, True).close()


def _is_complete(spark, root: str) -> bool:
    return _exists(spark, f"{root}/{_COMMIT_MARK}")


def _resolve_root(spark, path: str) -> str:
    """The directory actually holding the index trees: the pointer target
    when a retrain has promoted a generation; else the latest COMPLETE
    gen dir — one whose ``_COMMITTED`` marker landed, i.e. the staged
    tree finished before the (crashed) pointer swap — else the flat
    *path* itself (the :func:`save_index` layout). The completeness gate
    (r11 advisor) is what makes a lost pointer always safely recoverable:
    a gen dir exists as soon as its first list file is written, so a
    retrain that crashed MID-STAGE must never shadow the intact previous
    root. Generation trees written BEFORE the marker existed (pre-r12
    layouts) carry no ``_COMMITTED``; for those the structural equivalent
    is the ``stats/batch_id=base`` row — the LAST component the legacy
    write order produced — so a pointer-less index from an older release
    still recovers to its intact latest generation instead of the pruned
    flat root (r12 advisor)."""
    gen = _read_pointer(spark, path)
    if gen is not None:
        return f"{path}/{gen}"
    gens = _list_generations(spark, path)
    for g in reversed(gens):
        if _is_complete(spark, f"{path}/{g}"):
            return f"{path}/{g}"
    for g in reversed(gens):  # legacy (unmarked) trees: stats row was last
        if _exists(spark, f"{path}/{g}/stats/batch_id=base"):
            return f"{path}/{g}"
    return path


def _lloyd(x: np.ndarray, k: int, seed: int, iters: int = 25) -> np.ndarray:
    """Seeded k-means++ init + Lloyd until convergence — pure numpy on the
    (bounded) training sample. Empty clusters are re-seeded to the point
    farthest from its centroid, so exactly k non-degenerate lists emerge."""
    rng = np.random.default_rng(seed)
    n = len(x)
    cents = np.empty((k, x.shape[1]))
    cents[0] = x[rng.integers(n)]
    d2 = ((x - cents[0]) ** 2).sum(1)
    for j in range(1, k):  # k-means++: sample ∝ squared distance
        probs = d2 / d2.sum() if d2.sum() > 0 else np.full(n, 1.0 / n)
        cents[j] = x[rng.choice(n, p=probs)]
        d2 = np.minimum(d2, ((x - cents[j]) ** 2).sum(1))
    for _ in range(iters):
        dist = (x**2).sum(1)[:, None] - 2 * x @ cents.T + (cents**2).sum(1)[None, :]
        labels = dist.argmin(1)
        new = np.empty_like(cents)
        for j in range(k):
            members = x[labels == j]
            if len(members):
                new[j] = members.mean(0)
            else:
                new[j] = x[dist.min(1).argmax()]
        if np.allclose(new, cents):
            break
        cents = new
    return cents


def build_ivf_index(
    corpus: DataFrame,
    dim: int,
    n_list: int = 16,
    seed: int = 42,
    sample_per_list: int = 256,
) -> tuple[DataFrame, DataFrame]:
    """Returns (assigned_corpus, centroids).

    assigned_corpus: (vec_id, e, list_id) — corpus with inverted-list id.
    centroids: (list_id, centroid array<double>) — tiny, broadcastable.

    Training collects at most ``sample_per_list * n_list`` vectors chosen
    by a deterministic id-hash — bounded driver traffic by construction
    (NOT a corpus collect; at 1 B rows this is still ≤ 4096 rows for the
    default n_list=16). Assignment streams the corpus through one Arrow
    pass with the centroid matrix in the UDF closure."""
    from .sampling import bounded_sample

    x = bounded_sample(corpus, sample_per_list * n_list, seed)
    cents = _lloyd(x, n_list, seed)
    assigned = _assign_to_centroids(corpus, cents)
    spark = corpus.sparkSession
    from ..localdf import local_rows_df

    centroids = local_rows_df(
        spark,
        [(i, [float(v) for v in c]) for i, c in enumerate(cents)],
        "list_id int, centroid array<double>",
    )
    return assigned, centroids


def _assign_to_centroids(corpus: DataFrame, cents: np.ndarray) -> DataFrame:
    """(vec_id, e) → (vec_id, e, list_id): nearest-centroid assignment in
    one Arrow pass, the centroid matrix closed over the UDF (tiny —
    O(k·d) — so every executor gets it with the task, no join)."""

    @F.pandas_udf("int")
    def assign(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype="int32")
        mat = np.array(v.tolist(), dtype=np.float64)
        dist = -2 * mat @ cents.T + (cents**2).sum(1)[None, :]  # ‖v‖² constant per row
        return pd.Series(dist.argmin(1).astype("int32"))

    return corpus.select("vec_id", "e", assign(F.col("e")).alias("list_id"))


def centroid_matrix(centroids: DataFrame) -> np.ndarray:
    """The (n_list, d) centroid matrix, row i = list i, from one bounded
    collect of the n_list centroid rows. The sort is driver-side, which
    skips orderBy's range-partitioning sample job."""
    rows = sorted(centroids.collect(), key=lambda r: r["list_id"])  # bounded-collect: n_list rows
    if [r["list_id"] for r in rows] != list(range(len(rows))):
        raise ValueError("centroid list_ids must be 0..n_list-1")
    return np.array([r["centroid"] for r in rows], dtype=np.float64)


def ivf_route(q_mat: np.ndarray, cents: np.ndarray, n_probe: int) -> np.ndarray:
    """(Q, n_probe) ids of each query's ``n_probe`` nearest inverted lists
    by centroid cosine, ties broken by ascending list_id: the coarse
    probe every IVF-family search (raw :func:`ivf_search`, IVF-PQ's ADC
    scan, IVF+SQ8) starts from. Runs on the driver over the query and
    centroid matrices, with ``similarity.cosine_cols``' row arithmetic, so
    the probe sets are the ones a Spark-side ranking gives bit for bit."""
    n_q, n = len(q_mat), len(cents)
    sims = _cosine_rows(np.repeat(q_mat, n, axis=0), np.tile(cents, (n_q, 1)))
    return np.argsort(-sims.reshape(n_q, n), axis=1, kind="stable")[:, :n_probe]


def ivf_search(
    assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """Top-k by cosine, scanning only the n_probe nearest inverted lists.

    queries: (query_id, qe array<double>). Output: like similarity.topk.
    The query batch and the centroids are collected once; the lists are
    scanned in place by ``similarity.search`` (partition-pruned by the
    list filter on a loaded index)."""
    cents = centroid_matrix(centroids)
    q_ids, q_mat = query_batch(queries)
    return search(
        raw_scorer,
        assigned.select("list_id", "vec_id", "e"),
        "list_id",
        q_ids,
        q_mat,
        lambda qm: ivf_route(qm, cents, n_probe),
        k,
    )


def _read_delta_dir(spark, root: str, cols: tuple[str, ...]) -> DataFrame | None:
    """The appended delta batches under *root*, or None when no batch was
    ever appended. Existence is checked through Hadoop's FileSystem API
    (not os.path), so the layout works unchanged on HDFS/S3 at cluster
    scale."""
    if not _exists(spark, root):
        return None
    return spark.read.parquet(root).select(*cols)


#: The stats-row schema every `_write_stats_row` since the commit_seq
#: format stamps (batch_id is the hive partition column). Reading with
#: this EXPLICIT schema skips the mergeSchema footer-merge pass (one
#: extra job per read — r13 opt, guide §5 driver round-trips) while
#: keeping the same legacy tolerance: parquet files written before the
#: ``commit_seq`` column simply read it as NULL, exactly what mergeSchema
#: produced for them.
_STATS_SCHEMA = "n_vectors long, mean_sq_err double, commit_seq long, batch_id string"


def _stats_rows(spark, path: str) -> list:
    """Every committed ``stats/batch_id=*`` row (empty list when no stats
    tree exists). Read with the explicit stats schema so rows written
    before the ``commit_seq`` column coexist with new ones (they read a
    NULL commit_seq) without paying mergeSchema's footer-merge job."""
    if not _exists(spark, f"{path}/stats"):
        return []
    return spark.read.schema(_STATS_SCHEMA).parquet(f"{path}/stats").collect()  # bounded-collect: one row per committed batch


def _base_and_appended(rows: list, path: str) -> tuple[dict, int]:
    """(base stats dict, total appended row count) from collected stats
    rows. Raises a descriptive ValueError when the build baseline is
    missing (index written by a pre-baseline save format, or a partially-
    written stats tree) instead of a bare StopIteration (r10 advisor);
    append paths validate this BEFORE committing a delta."""
    if not rows:
        raise ValueError(
            f"no stats tree at {path}/stats — index predates the baseline "
            "format; re-run save_*_index (or *_retrain) to write the "
            "stats/batch_id=base row before appending"
        )
    base = next((r for r in rows if r["batch_id"] == "base"), None)
    if base is None:
        raise ValueError(
            f"stats tree at {path}/stats has no batch_id=base baseline row "
            "(partially-written index?); re-run save_*_index (or *_retrain) "
            "to restore it before appending"
        )
    appended_n = sum(r["n_vectors"] for r in rows if r["batch_id"] != "base")
    return (
        {"n_vectors": base["n_vectors"], "mean_sq_err": base["mean_sq_err"]},
        appended_n,
    )


def read_index_stats(spark, path: str) -> tuple[dict, int]:
    """(base stats row as a dict, total appended row count) from the
    ``stats/batch_id=*`` commits — the inputs to the retrain triggers."""
    return _base_and_appended(_stats_rows(spark, path), path)


def _post_append_stats(stats_before: list, batch_id: str, batch_n: int) -> int:
    """Total appended row count AFTER committing ``batch_id`` with
    ``batch_n`` rows, derived from the pre-commit stats rows — identical
    by construction to re-reading the stats tree (the tree after the
    commit is exactly ``stats_before`` with this batch's row added or, on
    a replay, overwritten), without the extra read+collect round trip the
    append paths used to pay per commit (r13 opt, guide §5)."""
    prior_n = sum(
        int(r["n_vectors"]) for r in stats_before if r["batch_id"] == batch_id
    )
    appended_before = sum(
        int(r["n_vectors"]) for r in stats_before if r["batch_id"] != "base"
    )
    return appended_before - prior_n + batch_n


def _commit_seq_for(rows: list, batch_id: str) -> int:
    """The commit sequence number for *batch_id*'s stats row: a REPLAYED
    commit (its row already exists) keeps its original slot — the ledger
    order is the order commits first happened, replay-stable — and a new
    commit takes max+1. This is what `index_health`'s cumulative
    appended_frac orders by (r11 advisor: lexicographic batch_id misorders
    non-zero-padded ids, b10 before b2)."""
    seqs = {r["batch_id"]: r.asDict().get("commit_seq") for r in rows}
    prior = seqs.get(batch_id)
    if prior is not None:
        return int(prior)
    known = [int(s) for s in seqs.values() if s is not None]
    return (max(known) + 1) if known else len(rows)


def _drift_ratio(batch_err: float, base_err: float) -> float:
    """batch/base quantization-error ratio. A zero baseline (every trained
    vector sat exactly on its centroid — e.g. n_list ≥ corpus rows) makes
    ANY nonzero batch error infinite drift, not ratio-1.0 business as
    usual (r10 advisor: the trigger was silently disabled there)."""
    if base_err > 0:
        return batch_err / base_err
    return float("inf") if batch_err > 0 else 1.0


def _round_ratio(x: float) -> float:
    import math

    return round(x, 4) if math.isfinite(x) else x


def quantization_error(assigned: DataFrame, centroids: DataFrame) -> tuple[float, int]:
    """(mean squared L2 distance to the assigned centroid, row count) —
    one broadcast join + one aggregate, all JVM-side built-ins. This is
    the FAISS-style index-health number: it rises when incoming data
    drifts away from the trained centroids."""
    sq = F.aggregate(
        F.zip_with("e", "centroid", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    row = (
        assigned.join(F.broadcast(centroids), "list_id")
        .agg(F.avg(sq).alias("err"), F.count("*").alias("n"))
        .collect()[0]  # bounded-collect: one scalar row
    )
    return (float(row["err"] or 0.0), int(row["n"]))


def _write_stats_row(
    spark, path: str, batch_id: str, n: int, err: float, seq: int
) -> None:
    """One (n, mean_sq_err, commit_seq) row at ``stats/batch_id=<id>`` —
    overwrite into the batch's own directory, so a replayed commit rewrites
    the same stamp (including its original ``commit_seq`` slot, via
    :func:`_commit_seq_for`) instead of appending a duplicate (the
    exactly-once shape). ``commit_seq`` records commit ORDER — base is 0 —
    so the health ledger never depends on batch_id lexicographics."""
    from ..localdf import local_rows_df

    local_rows_df(
        spark,
        [(int(n), float(err), int(seq))],
        "n_vectors long, mean_sq_err double, commit_seq long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/stats/batch_id={batch_id}")


def _next_generation(spark, path: str) -> str:
    gens = _list_generations(spark, path)
    nxt = (int(gens[-1].split("-")[1]) + 1) if gens else 1
    return f"gen-{nxt:05d}"


#: Mass trigger shared by every family: an append trips ``needs_retrain``
#: once the appended rows exceed this fraction of the trained corpus
#: (enough new data that k-means would place the centroids differently).
RETRAIN_MASS = 0.5


@dataclass(frozen=True)
class IndexCodec:
    """One index family's part of the lifecycle; the protocol functions
    below (:func:`save_index`, :func:`load_index`, :func:`append_batch`,
    :func:`retrain_index`) are shared. ``quantizer`` is whatever the family
    trains beside the centroids (None for raw IVF)."""

    #: hive-partitioned base rows, appended batches, and the quantizer
    #: tree (None: the centroids are the whole quantizer)
    base_dir: str
    delta_dir: str
    quantizer_dir: str | None
    #: the stored vector column: raw ``e`` or quantized ``codes``
    payload: str
    #: (vectors, quantizer) -> (vec_id, payload, list_id) rows to write
    encode: Callable
    #: (vectors, committed, centroids, quantizer) -> (err, n, clip_frac|None)
    #: measured on the read-back of a committed delta
    batch_error: Callable
    #: (base_path, vectors, encoded, centroids, quantizer) -> (err, n):
    #: the ``stats/batch_id=base`` baseline of a freshly written tree
    tree_error: Callable
    #: (corpus, assigned, centroids, dim, **geometry) -> quantizer
    train: Callable
    save_quantizer: Callable | None = None
    load_quantizer: Callable | None = None
    #: (assigned, centroids) -> the vectors the quantizer encodes; None
    #: encodes the raw assigned vectors
    residuals: Callable | None = None
    #: (spark, root) -> the persisted geometry a retrain defaults to and
    #: reports; None: the family has no geometry knobs
    geometry: Callable | None = None
    #: the per-batch drift signal (an append-result key) and its limit
    trigger: str = "drift_ratio"
    trigger_limit: float = 1.5

    @property
    def stores_raw(self) -> bool:
        """The index holds the raw vectors, so a retrain can read its
        corpus back; lossy codes make the caller supply it."""
        return self.payload == "e"

    @property
    def trees(self) -> tuple[str, ...]:
        """Every tree of one generation (stats included)."""
        qdir = (self.quantizer_dir,) if self.quantizer_dir else ()
        return (self.base_dir, "centroids", *qdir, "stats", self.delta_dir)


def _write_partitioned(rows: DataFrame, path: str) -> None:
    rows.repartition("list_id").write.mode("overwrite").partitionBy(
        "list_id"
    ).parquet(path)


def _write_tree(
    codec: IndexCodec, assigned: DataFrame, centroids: DataFrame, quantizer, root: str
) -> tuple[float, int]:
    """Base rows (hive-partitioned by list_id, so a probe is a
    partition-pruned scan) + centroids + quantizer + the
    ``stats/batch_id=base`` baseline into *root*, ``_COMMITTED`` marker
    LAST. Returns the baseline ``(mean_sq_err, n_vectors)`` it stamped."""
    spark = centroids.sparkSession
    vecs = codec.residuals(assigned, centroids) if codec.residuals else assigned
    enc = codec.encode(vecs, quantizer)
    _write_partitioned(enc, f"{root}/{codec.base_dir}")
    centroids.write.mode("overwrite").parquet(f"{root}/centroids")
    if codec.quantizer_dir:
        codec.save_quantizer(spark, quantizer, f"{root}/{codec.quantizer_dir}")
    err, n = codec.tree_error(f"{root}/{codec.base_dir}", vecs, enc, centroids, quantizer)
    _write_stats_row(spark, root, "base", n, err, seq=0)
    _mark_committed(spark, root)  # LAST: marker-presence ⇒ complete tree
    return err, n


def train_index(
    codec: IndexCodec, corpus: DataFrame, dim: int, n_list: int, **geometry
) -> tuple[DataFrame, DataFrame, object]:
    """(assigned, centroids, quantizer): the coarse k-means over *corpus*
    plus the family quantizer — the inputs :func:`save_index` persists."""
    assigned, centroids = build_ivf_index(corpus, dim=dim, n_list=n_list)
    return assigned, centroids, codec.train(corpus, assigned, centroids, dim, **geometry)


def save_index(
    codec: IndexCodec, assigned: DataFrame, centroids: DataFrame, quantizer, path: str
) -> None:
    """Persist a built index at *path*. (Re)INITIALIZES the path: deltas,
    stale stats rows, retrain generations, the pointer and the marker are
    deleted first, so saving a rebuilt index over an appended one never
    serves duplicate vec_ids, stale deltas under new quantizers, or dead
    batch mass. For retrain-under-serving use :func:`retrain_index`."""
    spark = centroids.sparkSession
    for sub in codec.trees:
        _delete_tree(spark, f"{path}/{sub}")
    for gen in _list_generations(spark, path):
        _delete_tree(spark, f"{path}/{gen}")
    _delete_tree(spark, f"{path}/{_POINTER}")
    _delete_tree(spark, f"{path}/{_COMMIT_MARK}")  # stale marker from a prior save
    _write_tree(codec, assigned, centroids, quantizer, path)


def _load_tree(codec: IndexCodec, spark, root: str) -> tuple:
    cols = ("vec_id", codec.payload, "list_id")
    rows = spark.read.parquet(f"{root}/{codec.base_dir}").select(*cols)
    deltas = _read_delta_dir(spark, f"{root}/{codec.delta_dir}", cols)
    if deltas is not None:
        rows = rows.unionByName(deltas)
    centroids = spark.read.parquet(f"{root}/centroids")
    if not codec.quantizer_dir:
        return rows, centroids
    return rows, centroids, codec.load_quantizer(spark, f"{root}/{codec.quantizer_dir}")


def load_index(codec: IndexCodec, spark, path: str) -> tuple:
    """(rows, centroids[, quantizer]) of the ACTIVE generation, search-
    ready: base rows UNION every appended delta batch — both sides
    hive-partitioned on list_id, so a probe's list filter prunes across
    base AND deltas."""
    return _load_tree(codec, spark, _resolve_root(spark, path))


def _commit_delta(
    codec: IndexCodec, spark, root: str, batch: DataFrame, batch_id: str
) -> tuple[float, int, float | None]:
    # one centroids read serves both the assignment collect and the
    # error/residual join
    centroids = spark.read.parquet(f"{root}/centroids")
    cents = centroid_matrix(centroids)
    quantizer = (
        codec.load_quantizer(spark, f"{root}/{codec.quantizer_dir}")
        if codec.quantizer_dir
        else None
    )
    assigned = _assign_to_centroids(batch.select("vec_id", "e"), cents)
    # residuals feed both the delta write and the committed-row rescore:
    # persisted, so the assignment + join pass runs once
    vecs = (
        codec.residuals(assigned, centroids).persist() if codec.residuals else assigned
    )
    try:
        enc = codec.encode(vecs, quantizer)
        delta = f"{root}/{codec.delta_dir}/batch_id={batch_id}"
        _write_partitioned(enc, delta)
        # measure the COMMITTED rows, so the stat reflects exactly what
        # serving will scan; the explicit schema (the frame just written)
        # skips the footer-inference job
        committed = spark.read.schema(enc.schema).parquet(delta).select(
            "vec_id", codec.payload, "list_id"
        )
        return codec.batch_error(vecs, committed, centroids, quantizer)
    finally:
        if codec.residuals:
            vecs.unpersist()


def append_batch(
    codec: IndexCodec, spark, path: str, batch: DataFrame, batch_id: str
) -> dict:
    """Append (vec_id, e) rows to a PERSISTED index without retraining:
    O(batch) assignment + encoding against the SAVED quantizers, committed
    to ``<delta_dir>/batch_id=<id>/list_id=*`` with mode overwrite — the
    batch's own directory is the idempotent commit stamp (a replayed batch
    rewrites it, never double-appends) — and the committed batch's error
    stamped beside the build baseline.

    Returns the batch stats with ``needs_retrain``: the family's drift
    signal above its limit, or appended mass above :data:`RETRAIN_MASS` ×
    the trained corpus. Acting on it is one :func:`retrain_index` call."""
    if batch_id == "base":
        # "base" is the build baseline's reserved stats slot: an append
        # stamped with it would overwrite the baseline and corrupt every
        # derived drift/mass number
        raise ValueError('batch_id "base" is reserved for the build baseline stats row')
    root = _resolve_root(spark, path)
    # validate the baseline BEFORE committing: a missing base row must not
    # leave a served-but-unaccounted delta behind
    stats_before = _stats_rows(spark, root)
    base, appended_n = _base_and_appended(stats_before, root)
    if batch.isEmpty():
        # nothing to commit: an empty hive delta dir would break schema
        # inference for every later delta read — report against the ledger
        err, n, clip, drift = 0.0, 0, 0.0, 1.0
    else:
        err, n, clip = _commit_delta(codec, spark, root, batch, batch_id)
        _write_stats_row(
            spark, root, batch_id, n, err, seq=_commit_seq_for(stats_before, batch_id)
        )
        # post-commit ledger derived from the pre-commit rows (identical to
        # a re-read by construction, one read+collect cheaper)
        appended_n = _post_append_stats(stats_before, batch_id, n)
        drift = _drift_ratio(err, base["mean_sq_err"])
    frac = appended_n / base["n_vectors"] if base["n_vectors"] else 0.0
    out = {
        "batch_id": batch_id,
        "n_vectors": n,
        "mean_sq_err": err,
        "base_mean_sq_err": base["mean_sq_err"],
        "drift_ratio": _round_ratio(drift),
    }
    if codec.trigger == "clip_frac":
        out["clip_frac"] = _round_ratio(clip)
    signal = clip if codec.trigger == "clip_frac" else drift
    out["appended_frac"] = _round_ratio(frac)
    out["needs_retrain"] = signal > codec.trigger_limit or frac > RETRAIN_MASS
    return out


def retrain_index(
    codec: IndexCodec,
    spark,
    path: str,
    corpus: DataFrame | None = None,
    n_list: int | None = None,
    **geometry,
) -> dict:
    """One-call retrain/compaction: fresh quantizers over the full current
    corpus, staged in a new ``gen-NNNNN`` directory and promoted with an
    atomic ``_CURRENT`` pointer swap. Exactly-once shape: the staged tree
    is complete (base + centroids + quantizer + fresh base stats, NO
    deltas, ``_COMMITTED`` last) before the swap; a crash before the swap
    leaves the old generation serving; a replayed retrain stages another
    generation and swaps again. The old root is pruned only AFTER the
    swap (readers that resolved it kept a consistent view until then).

    ``corpus``: the raw (vec_id, e) source of truth; None reads the
    index's own base ∪ deltas, which only a ``stores_raw`` index holds.
    ``n_list`` and the family geometry default to the current index's.
    Returns {generation, n_vectors, mean_sq_err, n_list, **geometry}."""
    old_root = _resolve_root(spark, path)
    if corpus is None:
        loaded, old_centroids = _load_tree(codec, spark, old_root)[:2]
        corpus = loaded.select("vec_id", "e")
    else:
        old_centroids = spark.read.parquet(f"{old_root}/centroids")
    old_cents = centroid_matrix(old_centroids)
    if n_list is None:
        n_list = len(old_cents)
    geom = codec.geometry(spark, old_root) if codec.geometry else {}
    geom.update({k: v for k, v in geometry.items() if v is not None})
    trained = train_index(codec, corpus, old_cents.shape[1], n_list, **geom)
    gen = _next_generation(spark, path)
    err, n = _write_tree(codec, *trained, f"{path}/{gen}")
    _write_pointer(spark, path, gen)
    if old_root == path:  # flat pre-generation layout
        for sub in codec.trees:
            _delete_tree(spark, f"{path}/{sub}")
    else:
        _delete_tree(spark, old_root)
    # the staged baseline is the stamp _write_tree just wrote — no stats
    # read-back needed
    return {"generation": gen, "n_vectors": n, "mean_sq_err": err, "n_list": n_list, **geom}


def _ivf_tree_error(
    base_path: str, _vecs, enc: DataFrame, centroids: DataFrame, _q
) -> tuple[float, int]:
    """Baseline measured on the READ-BACK of the just-written lists (the
    same measure-what-serving-scans contract as appends, and one pass
    cheaper than re-running the lazy assignment subtree)."""
    spark = centroids.sparkSession
    # empty-corpus guard: a partitioned write of an empty frame lands only
    # _SUCCESS (no list_id=* directories), and reading that back raises
    # AnalysisException — there is nothing serving could scan
    fs, lists_path = _fs_path(spark, base_path)
    if not any(
        st.isDirectory() and st.getPath().getName().startswith("list_id=")
        for st in fs.listStatus(lists_path)
    ):
        return 0.0, 0
    committed = spark.read.schema(enc.schema).parquet(base_path)
    return quantization_error(committed.select("vec_id", "e", "list_id"), centroids)


#: Raw IVF: the lists hold the vectors themselves, so the error is the
#: squared distance to the assigned centroid and a retrain can read its
#: corpus back from the index.
IVF_CODEC = IndexCodec(
    base_dir="lists",
    delta_dir="deltas",
    quantizer_dir=None,
    payload="e",
    encode=lambda vecs, _q: vecs,
    batch_error=lambda _v, committed, centroids, _q: (
        *quantization_error(committed, centroids),
        None,
    ),
    tree_error=_ivf_tree_error,
    train=lambda corpus, assigned, centroids, dim: None,
)


def codec_for(family: str) -> IndexCodec:
    """The codec of index family ``ivf`` / ``ivfpq`` / ``ivfsq``."""
    from .pq import IVFPQ_CODEC
    from .sq import IVFSQ_CODEC

    codecs = {"ivf": IVF_CODEC, "ivfpq": IVFPQ_CODEC, "ivfsq": IVFSQ_CODEC}
    if family not in codecs:
        raise ValueError(f"unknown ANN index family: {family!r}")
    return codecs[family]


def save_ivf_index(assigned: DataFrame, centroids: DataFrame, path: str) -> None:
    """:func:`save_index` for raw IVF: (vec_id, e, list_id) lists + centroids."""
    save_index(IVF_CODEC, assigned, centroids, None, path)


def load_ivf_index(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """:func:`load_index` for raw IVF → (assigned, centroids)."""
    return load_index(IVF_CODEC, spark, path)


def ivf_append_batch(spark, path: str, batch: DataFrame, batch_id: str) -> dict:
    """:func:`append_batch` for raw IVF (``deltas/batch_id=<id>``)."""
    return append_batch(IVF_CODEC, spark, path, batch, batch_id)


def ivf_retrain(spark, path: str, n_list: int | None = None) -> dict:
    """:func:`retrain_index` for raw IVF: new k-means over base ∪ deltas."""
    return retrain_index(IVF_CODEC, spark, path, n_list=n_list)


def index_health(spark, path: str) -> DataFrame:
    """The index-health ledger of a persisted index (any family): one row
    per committed batch (``base`` + every append) with its size and
    quantization/reconstruction error, plus the two derived numbers the
    retrain triggers read — ``drift_ratio`` (batch error / build
    baseline; null when the baseline is 0, where any nonzero batch error
    is infinite drift) and cumulative ``appended_frac`` (appended mass /
    trained corpus, running in COMMIT order — the ``commit_seq`` column
    each stats write stamps, base = 0, so non-zero-padded batch ids like
    b10/b2 can't misorder the running sum; r11 advisor).

    Resolves the ACTIVE generation, so after a :func:`retrain_index` the
    ledger restarts at the fresh baseline — exactly what a serving
    monitor should see. All JVM-side: a broadcast 1-row join against the
    base row + a running-sum window over the (tiny) batch set."""
    from pyspark.sql.window import Window

    root = _resolve_root(spark, path)
    # tiny: one row per batch; the explicit schema tolerates
    # pre-commit_seq rows (they read commit_seq NULL) without
    # mergeSchema's footer-merge job (r13 opt)
    stats = spark.read.schema(_STATS_SCHEMA).parquet(f"{root}/stats")
    base = stats.where(F.col("batch_id") == "base").select(
        F.col("n_vectors").alias("base_n"), F.col("mean_sq_err").alias("base_err")
    )
    is_append = (F.col("batch_id") != "base").cast("int")
    # commit order: the commit_seq stamp (base = 0) when present; rows
    # written by the pre-seq format fall back to base-first + batch_id
    if "commit_seq" in stats.columns:
        ord_key = F.coalesce(
            F.col("commit_seq"),
            F.when(F.col("batch_id") == "base", F.lit(0)).otherwise(F.lit(2**62)),
        )
    else:
        ord_key = is_append
    w = (
        Window.orderBy(ord_key, is_append, F.col("batch_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    appended = F.sum(is_append * F.col("n_vectors")).over(w)
    return (
        stats.join(F.broadcast(base))
        .select(
            "batch_id",
            "n_vectors",
            "mean_sq_err",
            F.when(F.col("base_err") > 0, F.col("mean_sq_err") / F.col("base_err"))
            .alias("drift_ratio"),
            (appended / F.col("base_n")).alias("appended_frac"),
        )
        .orderBy(ord_key, is_append, "batch_id")
    )
