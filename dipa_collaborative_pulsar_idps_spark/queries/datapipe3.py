"""Training-data-pipeline operators, batch 3: approximate dedup/similarity
(MinHash-LSH, SimHash, LSH-ANN). MinHash-LSH carries the exact brute-force
oracle (candidates are exact-verified; recall at threshold 0.8 is
1-(1-0.8²)^16 ≈ 1-3e-8 per pair — and deterministic hashes mean a local
sf0.01 match implies a driver match). SimHash/ANN are genuinely
non-SQL-expressible (xxhash64/hyperplane families) → rows-only checks +
property tests in tests/test_dedup.py.

The 17 ``ann_topk_*`` queries are rows of one table (:data:`_ANN_QUERIES`)
served by one builder over ``similarity.search``. Each row names the
memoized index handles it serves from (the keyed relation plus its
driver-side arrays: centroid matrix, codebooks or bounds), a scorer and
the probe width. The query batch is memoized beside the corpus and routed
on the driver, so once the memos are warm an ANN builder runs no Spark
job: it only assembles the lazy scan (pinned by
tests/test_plans.py::test_warm_ann_builders_run_no_spark_job).
"""

from __future__ import annotations

import os
from typing import Callable, NamedTuple

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.dedup import minhash_near_dup_pairs, simhash_hex_portable, simhash_oracle_sql
from ..functions.ivf import centroid_matrix, codec_for, ivf_route, load_index
from ..functions.pq import (
    _residuals,
    adc_scorer,
    pq_encode,
    random_rotation,
    refine_exact,
    rotate_vectors,
    train_opq,
    train_pq,
    train_pq_residual,
)
from ..functions.similarity import (
    as_double,
    flat_keyed,
    flat_route,
    hyperplane_signature,
    lsh_route,
    query_batch,
    raw_scorer,
    search,
)
from ..functions.sq import sq_scorer
from ..config import SCALE
from ..memo import handles, memo
from ..tables import Tables
from .registry import query


@query(
    "minhash_lsh_near_dups",
    survey="ext-dedup",
    oracle="""
WITH sh AS (
    SELECT doc_id, LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(tokens) - 1, 1)),
        i -> tokens[i] || ' ' || tokens[i + 1] || ' ' || tokens[i + 2])) AS shingles
    FROM (SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '') AS tokens
          FROM documents)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(LEN(LIST_INTERSECT(a.shingles, b.shingles)) AS DOUBLE)
           / (LEN(a.shingles) + LEN(b.shingles) - LEN(LIST_INTERSECT(a.shingles, b.shingles)))
           AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE LEN(a.shingles) > 0 AND LEN(b.shingles) > 0
  AND CAST(LEN(LIST_INTERSECT(a.shingles, b.shingles)) AS DOUBLE)
      / (LEN(a.shingles) + LEN(b.shingles) - LEN(LIST_INTERSECT(a.shingles, b.shingles))) >= 0.8
""",
)
def minhash_lsh_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32 perms) → LSH(16 bands × 2 rows) → exact-Jaccard ≥ 0.8.
    The oracle is the brute-force all-pairs scan; LSH replaces the O(n²)
    join with a bucket join + verification at scale. The shingle frame is
    the session-memoized one shared with the n-gram queries, so repeated
    invocations skip the tokenize/shingle build."""
    from .datapipe2 import _shingles

    t = Tables(spark, sf_dir)
    return minhash_near_dup_pairs(
        t.documents, threshold=0.8, shingled=_shingles(spark, sf_dir)
    )


@query(
    "minhash_lsh_incremental_near_dups",
    survey="ext-dedup",
    oracle="""
WITH sh AS (
    SELECT doc_id, LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(tokens) - 1, 1)),
        i -> tokens[i] || ' ' || tokens[i + 1] || ' ' || tokens[i + 2])) AS shingles
    FROM (SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '') AS tokens
          FROM documents)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(LEN(LIST_INTERSECT(a.shingles, b.shingles)) AS DOUBLE)
           / (LEN(a.shingles) + LEN(b.shingles) - LEN(LIST_INTERSECT(a.shingles, b.shingles)))
           AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE LEN(a.shingles) > 0 AND LEN(b.shingles) > 0
  AND (a.doc_id % 2 = 1 OR b.doc_id % 2 = 1)
  AND CAST(LEN(LIST_INTERSECT(a.shingles, b.shingles)) AS DOUBLE)
      / (LEN(a.shingles) + LEN(b.shingles) - LEN(LIST_INTERSECT(a.shingles, b.shingles))) >= 0.8
""",
)
def minhash_lsh_incremental_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continual-ingest dedup: treat even doc_ids as the already-indexed
    corpus and odd doc_ids as the newly crawled batch; probe the LSH band
    index (functions/dedup.incremental_near_dup_pairs) instead of
    re-signaturing the corpus. Output = every near-dup pair touching the
    new batch — the brute-force oracle filters the all-pairs scan the same
    way. Same hash family as `minhash_lsh_near_dups`, so the union of this
    result with the previously-reported old-old pairs IS the full-batch
    result (the pytest certifier pins that equality). The index build here
    is in-session; `save_lsh_index`/`load_lsh_index` round-trip the same
    relation through band-partitioned parquet (tests/test_dedup.py)."""
    from ..functions.dedup import incremental_near_dup_pairs
    from .datapipe2 import _shingles

    t = Tables(spark, sf_dir)
    sh = _shingles(spark, sf_dir)
    old_sh = sh.where(F.col("id") % 2 == 0)
    new_sh = sh.where(F.col("id") % 2 == 1)
    index = _even_half_lsh_index(spark, sf_dir)
    return incremental_near_dup_pairs(
        t.documents.where(F.col("doc_id") % 2 == 1),
        t.documents.where(F.col("doc_id") % 2 == 0),
        index,
        threshold=0.8,
        shingled_new=new_sh,
        shingled_old=old_sh,
        # only the latest run's band-entry/candidate persists stay live
        persisted_out=handles(spark, ("lsh_probe",)),
    )


@query(
    "approx_distinct_users",
    survey="D4-scale",
    oracle="""
SELECT event_type,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS within_tolerance
FROM events GROUP BY event_type
""",
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) beside the exact D4 — the
    100 TB cardinality path. The HLL value itself is engine-specific, so the
    declared output carries the exact count plus a bounded-error attestation
    (|approx − exact| / exact ≤ 3·rsd): Spark's sketch is deterministic, so
    the boolean is stable and the oracle (which asserts TRUE) verifies both
    the exact counts and that the sketch tracked within tolerance. The raw
    approx value is additionally rsd-bound-tested in tests/test_dedup.py."""
    t = Tables(spark, sf_dir)
    agg = t.events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    ok = (
        F.abs(F.col("approx_users") - F.col("exact_users")) / F.col("exact_users")
    ) <= F.lit(0.06)
    return agg.select("event_type", "exact_users", ok.alias("within_tolerance"))


@query("simhash_fingerprints", survey="ext-dedup", oracle=simhash_oracle_sql())
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document, md5-derived bit family → the full
    fingerprint is oracle-checked bit-for-bit (functions/dedup.py:
    simhash_hex_portable / simhash_oracle_sql). The xxhash64 fast-path
    variant (simhash64) keeps its separation property test in
    tests/test_dedup.py."""
    t = Tables(spark, sf_dir)
    return simhash_hex_portable(t.documents).select(F.col("id").alias("doc_id"), "simhash_hex")


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared ANN corpus prep: data-proportional partitioning (NOT a fixed
    32-way shred — see plans/sizing.py) + persist, because the IVF build
    makes several passes over it (count, bounded training sample, list
    assignment) before the search does its own. One scan, many consumers —
    the 'build once, serve many' shape the persisted-index path
    (functions/ivf.save_ivf_index) takes to disk. Memoized per
    (session, sf_dir), so repeated invocations reuse ONE persisted frame
    instead of stacking a new cache entry per call."""
    from ..plans.sizing import right_size

    def build() -> DataFrame:
        emb = right_size(Tables(spark, sf_dir).embeddings, "vec_id")
        return emb.select("vec_id", as_double(F.col("embedding")).alias("e")).persist()

    return memo(spark, ("corpus", os.path.abspath(sf_dir)), build)


def _queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN serving batch: the first 50 corpus vectors as (query_id, qe)."""
    return _corpus(spark, sf_dir).where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )


def _query_batch(spark: SparkSession, sf_dir: str) -> tuple:
    """(query ids, query matrix) of :func:`_queries`, collected once per
    (session, sf_dir): the batch every ANN query routes on the driver."""
    return memo(
        spark,
        ("ann_queries", os.path.abspath(sf_dir)),
        lambda: query_batch(_queries(spark, sf_dir)),
    )


def _ivf_coarse(spark: SparkSession, sf_dir: str, n_list: int) -> tuple:
    """(assigned persisted, centroids, centroid matrix) for the
    deterministic coarse IVF build over the shared corpus at ``n_list``
    lists, memoized per (session, sf_dir, n_list): the raw IVF, IVF-PQ and
    IVF+SQ8 serving queries share the n_list=16 build and the IVF / IVF-PQ
    certifiers the n_list=8 one, where each used to train its own (seeded
    k-means, so the shared build is bit-identical)."""
    from ..functions.ivf import build_ivf_index

    def build() -> tuple:
        assigned, centroids = build_ivf_index(_corpus(spark, sf_dir), dim=64, n_list=n_list)
        return assigned.persist(), centroids, centroid_matrix(centroids)

    return memo(spark, ("ivf_coarse", os.path.abspath(sf_dir), n_list), build)


def _even_half_lsh_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH band index over the even-doc_id half, memoized per
    (session, sf_dir): the incremental query's stand-in for a persisted
    index, which production never rebuilds per probe
    (save_lsh_index/load_lsh_index is the disk form)."""
    from ..functions.dedup import lsh_band_entries, minhash_signatures
    from .datapipe2 import _shingles

    def build() -> DataFrame:
        old_sh = _shingles(spark, sf_dir).where(F.col("id") % 2 == 0)
        # Pinned to incremental_near_dup_pairs' probe defaults (num_perm=16,
        # bands=8, rows_per_band=2) — an index built with the library's wider
        # 32/16 defaults only matched because permutations 0..15 are a shared
        # prefix, an implicit coupling that doubled index size.
        return lsh_band_entries(
            minhash_signatures(old_sh, num_perm=16), bands=8, rows_per_band=2
        ).persist()

    return memo(spark, ("lsh_index", os.path.abspath(sf_dir)), build)


def _ivfpq_build(spark: SparkSession, sf_dir: str) -> tuple:
    """(assigned persisted, centroids, residual codebooks, encoded
    persisted) at the SCALE geometry (n_list=16, m=16/ksub=64), memoized
    per (session, sf_dir): `ann_topk_ivfpq_neighbors` and
    `ann_topk_ivfpq_refined` serve one index two ways, and production
    never retrains the quantizers per query batch (save_ivfpq_index is the
    disk form). `assigned` is persisted because training, encoding, and
    the refine corpus all re-evaluate it (an Arrow assignment pass each
    time otherwise). `encoded` is the residual PQ code relation
    `save_ivfpq_index` materializes on disk ('encode once, serve many');
    without it every probe re-ran the corpus encode Arrow pass.
    Deterministic encode → bit-identical results."""

    def build() -> tuple:
        assigned, centroids, _cents = _ivf_coarse(spark, sf_dir, SCALE.ivf_n_list)
        cb = train_pq_residual(
            assigned, centroids, dim=64, m=SCALE.ivfpq_m, ksub=SCALE.ivfpq_ksub,
            sample_cap=SCALE.pq_sample_cap,
        )
        enc = pq_encode(_residuals(assigned, centroids), cb, keep=("list_id",)).persist()
        return assigned, centroids, cb, enc

    return memo(spark, ("ivfpq_build", os.path.abspath(sf_dir)), build)


def _ivfsq_build(spark: SparkSession, sf_dir: str) -> tuple:
    """(encoded persisted, centroids, bounds) at the SCALE coarse geometry:
    IVF coarse lists over the corpus + global SQ8 bounds + raw-vector SQ
    codes carrying list_id. Memoized per (session, sf_dir): ONE index
    serves the production probe (n_probe=4) and the exhaustive certifier
    (n_probe=n_list) — SQ training is deterministic min/max, so unlike
    the PQ twins it needs no degenerate certifier geometry. `encoded` is
    persisted because both serving shapes (and the scan-fraction probe in
    PARITY) re-scan it."""
    from ..functions.sq import sq_encode, train_sq

    def build() -> tuple:
        emb = _corpus(spark, sf_dir)
        assigned, centroids, _cents = _ivf_coarse(spark, sf_dir, SCALE.ivf_n_list)
        bounds = train_sq(emb, dim=64)
        return sq_encode(assigned, bounds, keep=("list_id",)).persist(), centroids, bounds

    return memo(spark, ("ivfsq_build", os.path.abspath(sf_dir)), build)


def _inc_fixture(emb: DataFrame, family: str) -> tuple:
    """The incremental fixture's bootstrap, shared with
    scripts/ann_jobcount.py: the family's quantizers trained on the
    even-vec_id half of *emb* (IVF-PQ at the serving geometry), and the
    odd half split into two crawl batches. Returns
    ``((assigned, centroids, quantizer), b1, b2)``."""
    from ..functions.ivf import train_index

    codec = codec_for(family)
    geometry = (
        {"m": SCALE.ivfpq_m, "ksub": SCALE.ivfpq_ksub, "sample_cap": SCALE.pq_sample_cap}
        if codec.geometry
        else {}
    )
    base = emb.where(F.col("vec_id") % 2 == 0)
    odd = emb.where(F.col("vec_id") % 2 == 1)
    trained = train_index(codec, base, 64, SCALE.ivf_n_list, **geometry)
    return trained, odd.where(F.col("vec_id") % 4 == 1), odd.where(F.col("vec_id") % 4 == 3)


def _incremental_index(spark: SparkSession, sf_dir: str, family: str) -> str:
    """Build the family's index on the even-vec_id half, then append the
    odd half as two crawl batches — each an idempotent batch-stamped
    commit against the persisted index. The batches share the base
    distribution, so the drift trigger stays quiet (pinned in tests); the
    second batch's MASS trigger reports the doubled corpus as
    retrain-due. Raw IVF ACTS on it (r11): the retrain folds base + deltas
    into a fresh generation promoted by atomic pointer swap, so its
    declared query serves a post-retrain index end-to-end — trigger AND
    response. IVF-PQ and IVF+SQ8 stay append-only, keeping base+delta
    serving on the graded surface too. The index directory is memoized
    per (session, sf_dir, family) and removed when the memos are
    cleared."""
    import functools
    import shutil
    import tempfile

    from ..functions.ivf import append_batch, retrain_index, save_index

    def build() -> str:
        codec = codec_for(family)
        trained, b1, b2 = _inc_fixture(_corpus(spark, sf_dir), family)
        path = tempfile.mkdtemp(prefix=f"dipa_collaborative_pulsar_idps_{family}_inc_")
        save_index(codec, *trained, path)
        append_batch(codec, spark, path, b1, "b1")
        stats = append_batch(codec, spark, path, b2, "b2")
        if family == "ivf" and stats["needs_retrain"]:  # mass trigger: corpus doubled
            retrain_index(codec, spark, path)
        return path

    return memo(
        spark,
        ("inc_index", os.path.abspath(sf_dir), family),
        build,
        release=functools.partial(shutil.rmtree, ignore_errors=True),
    )


@query("ann_index_stats", survey="ext-sim")
def ann_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index-health ledger behind the ANN retrain triggers
    (`functions/ivf.index_health` over the persisted incremental IVF-PQ
    index): one row per committed batch — base + the two appended crawl
    batches — with size, residual reconstruction error, drift ratio vs
    the build baseline, and cumulative appended mass. This is the
    observability surface a serving loop polls to decide WHEN to call
    `ivfpq_retrain`; the trigger thresholds themselves (drift > 1.5×,
    mass > 0.5×) are asserted in tests/test_dedup.py. Rows-only by
    design (the ledger values come from iterative k-means quantizers),
    deterministic per sf (seeded training, fixed batch split).

    Reading the drift column at fixture scale: with corpus ≤ sample_cap
    the WHOLE base trains the codebooks, so the baseline is training
    error and same-distribution appends read an optimism gap (~2.5 here),
    not distribution shift. At production scale the bounded sample is a
    sliver of the corpus, the baseline is held-out-representative by
    construction, and same-dist appends sit near 1.0 — the calibrated
    contract (same-dist < 1.5 < far-dist, measured 1.25 vs 1550) is
    pinned on the held-out clustered fixture in tests/test_dedup.py.

    Reference analogue: the controller's periodic state-size / staleness
    prints (ryu/src/deployed_controller/DIPA_Controller.py) — here a
    first-class queryable relation instead of log lines."""
    from ..functions.ivf import index_health

    path = _incremental_index(spark, sf_dir, "ivfpq")
    h = index_health(spark, path)
    return h.select(
        "batch_id",
        "n_vectors",
        F.round("mean_sq_err", 6).alias("mean_sq_err"),
        F.round("drift_ratio", 4).alias("drift_ratio"),
        F.round("appended_frac", 4).alias("appended_frac"),
    )


class _Index(NamedTuple):
    """What a declared ANN query serves from: the keyed relation the scan
    reads, its key column, the driver-side router ``(q_mat, n_probe) ->
    keys``, the PQ codebooks or SQ bounds, the coarse centroid matrix
    (a residual PQ index scores against it) and an optional query
    rotation (OPQ)."""

    keyed: DataFrame
    key: str
    route: Callable
    quantizer: np.ndarray | None = None
    cents: np.ndarray | None = None
    rotate: np.ndarray | None = None


def _ivf_index(rows: DataFrame, payload: str, cents: np.ndarray, quantizer=None) -> _Index:
    return _Index(
        rows.select("list_id", "vec_id", payload),
        "list_id",
        lambda q_mat, n_probe: ivf_route(q_mat, cents, n_probe),
        quantizer,
        cents,
    )


def _flat_index(enc: DataFrame, quantizer: np.ndarray, rotate=None) -> _Index:
    return _Index(
        flat_keyed(enc, "codes"), "key", lambda q_mat, _n: flat_route(q_mat), quantizer, rotate=rotate
    )


def _coarse_handles(n_list: int):
    """The shared coarse IVF build at *n_list* lists, raw vectors scored."""

    def handles(spark: SparkSession, sf_dir: str) -> _Index:
        assigned, _centroids, cents = _ivf_coarse(spark, sf_dir, n_list)
        return _ivf_index(assigned, "e", cents)

    return handles


def _inc_handles(family: str):
    """The family's persisted incremental index (`_incremental_index`),
    served from session-memoized loaded handles: a per-probe reload
    re-paid FS checks, footer reads and the quantizer collect, while a
    serving process keeps the index open between probes. The handles are
    lazy disk scans plus driver-side arrays (the centroid matrix among
    them), so probe-time partition pruning is untouched."""

    def handles(spark: SparkSession, sf_dir: str) -> _Index:
        codec = codec_for(family)
        path = _incremental_index(spark, sf_dir, family)

        def load() -> tuple:
            rows, centroids, *quantizer = load_index(codec, spark, path)
            return (rows, centroid_matrix(centroids), *quantizer)

        rows, cents, *quantizer = memo(spark, ("inc_serve", family, path), load)
        return _ivf_index(rows, codec.payload, cents, *quantizer)

    return handles


def _lsh_handles(n_planes: int):
    """The hyperplane-signature corpus at *n_planes*, memoized per
    (session, sf_dir, n_planes): the bucket assignment is the LSH index,
    which production computes once at ingest (`save_lsh_index`-style);
    recomputing it per probe re-ran the signature Arrow pass over the
    corpus. Seeded planes → bit-identical. ``n_probe`` is the
    multi-probe radius."""

    def handles(spark: SparkSession, sf_dir: str) -> _Index:
        sig = memo(
            spark,
            ("lsh_sig", os.path.abspath(sf_dir), n_planes),
            lambda: hyperplane_signature(_corpus(spark, sf_dir), "e", 64, n_planes).persist(),
        )
        return _Index(
            sig.select("bucket", "vec_id", "e"),
            "bucket",
            lambda q_mat, radius: lsh_route(q_mat, n_planes, radius),
        )

    return handles


def _ivfpq_handles(spark: SparkSession, sf_dir: str) -> _Index:
    """The shared `_ivfpq_build`: probes scan its memoized ENCODED relation
    (r13 opt — the build step no longer re-encodes per query batch)."""
    _assigned, _centroids, cb, enc = _ivfpq_build(spark, sf_dir)
    return _ivf_index(enc, "codes", _ivf_coarse(spark, sf_dir, SCALE.ivf_n_list)[2], cb)


def _ivfpq_exh_handles(spark: SparkSession, sf_dir: str) -> _Index:
    """ksub == corpus size over the shared n_list=8 coarse build, encoded
    once into the memo (r13 opt)."""
    emb = _corpus(spark, sf_dir)
    assigned, centroids, cents = _ivf_coarse(spark, sf_dir, 8)

    def build() -> tuple:
        n = emb.count()
        cb = train_pq_residual(assigned, centroids, dim=64, m=SCALE.ivfpq_m, ksub=n, sample_cap=n)
        return pq_encode(_residuals(assigned, centroids), cb, keep=("list_id",)).persist(), cb

    enc, cb = memo(spark, ("ivfpq_exh", os.path.abspath(sf_dir)), build)
    return _ivf_index(enc, "codes", cents, cb)


def _ivfsq_handles(spark: SparkSession, sf_dir: str) -> _Index:
    enc, _centroids, bounds = _ivfsq_build(spark, sf_dir)
    return _ivf_index(enc, "codes", _ivf_coarse(spark, sf_dir, SCALE.ivf_n_list)[2], bounds)


def _sq_handles(spark: SparkSession, sf_dir: str) -> _Index:
    """The flat scan over the shared `_ivfsq_build` codes (r13 opt): its
    bounds are the same full-corpus `train_sq(emb)` and its codes the same
    `sq_encode` output, so the scan is bit-identical to re-training and
    re-encoding per invocation."""
    enc, _centroids, bounds = _ivfsq_build(spark, sf_dir)
    return _flat_index(enc, bounds)


def _flat_pq_handles(name: str, train):
    """A flat PQ index trained by ``train(emb) -> (codebooks, rotation or
    None)`` and encoded ONCE per (session, sf_dir) under memo *name*,
    like production (save_pq / save_opq is the disk form); every build is
    deterministic. A rotation is applied to the driver-side query matrix
    (r13 opt — bit-identical `q @ R`, one less Python-worker round trip)."""

    def handles(spark: SparkSession, sf_dir: str) -> _Index:
        emb = _corpus(spark, sf_dir)

        def build() -> tuple:
            cb, rot = train(emb)
            src = emb if rot is None else rotate_vectors(emb, rot)
            return pq_encode(src, cb).persist(), cb, rot

        enc, cb, rot = memo(spark, (name, os.path.abspath(sf_dir)), build)
        return _flat_index(enc, cb, rot)

    return handles


def _train_pq(emb: DataFrame) -> tuple:
    return train_pq(emb, dim=64, m=SCALE.pq_m, ksub=SCALE.pq_ksub, sample_cap=SCALE.pq_sample_cap), None


def _train_pq_exh(emb: DataFrame) -> tuple:
    n = emb.count()
    return train_pq(emb, dim=64, m=SCALE.pq_m, ksub=n, sample_cap=n), None


def _train_opq(emb: DataFrame) -> tuple:
    # the expensive part: k-means × Procrustes iterations
    rot, cb = train_opq(emb, dim=64, m=SCALE.pq_m, ksub=SCALE.pq_ksub, sample_cap=SCALE.pq_sample_cap)
    return cb, rot


def _train_opq_exh(emb: DataFrame) -> tuple:
    rot = random_rotation(64, seed=7)
    n = emb.count()
    return train_pq(rotate_vectors(emb, rot), dim=64, m=SCALE.pq_m, ksub=n, sample_cap=n), rot


def _raw(_ix: _Index):
    return raw_scorer


def _adc(ix: _Index):
    return adc_scorer(ix.quantizer, ix.cents)


def _sq(ix: _Index):
    return sq_scorer(ix.quantizer)


# Exhaustive-parameter ANN companions: with every list/bucket probed the
# approximate machinery must return EXACTLY the brute-force top-k, so the
# same code paths (centroid ranking, probe routing, candidate scoring,
# top-k) get a full value-level oracle — the deterministic check the
# approximate configurations cannot have.
_BRUTE_TOPK_ORACLE = """
WITH v AS (
    SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e
    FROM embeddings WHERE vec_id < 50
), allv AS (
    SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e
    FROM embeddings
), scored AS (
    SELECT v.vec_id AS query_id, allv.vec_id AS neighbor_id,
           LIST_COSINE_SIMILARITY(v.e, allv.e) AS cosine,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY LIST_COSINE_SIMILARITY(v.e, allv.e) DESC,
                                       allv.vec_id ASC) AS rk
    FROM v CROSS JOIN allv
    WHERE v.vec_id <> allv.vec_id
)
SELECT query_id, neighbor_id, ROUND(cosine, 6) AS cosine, rk
FROM scored WHERE rk <= 5
"""


#: SQ8 is fully deterministic (min/max training, no k-means), so the whole
#: index — train → floor(x+0.5) quantize → dequantized cosine top-k — is
#: SQL-expressible: the PRODUCTION query carries a full value oracle, unique
#: among the ANN paths (everything else certifies via exhaustive twins).
#: The rounding and expression association mirror functions/sq.py exactly
#: so the two sides quantize bit-identically.
_SQ_TOPK_ORACLE = """
WITH allv AS (
    SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings
), dimstats AS (
    SELECT LIST(mn ORDER BY i) AS mns, LIST(sc ORDER BY i) AS scs
    FROM (
        SELECT i, MIN(e[i]) AS mn,
               CASE WHEN MAX(e[i]) = MIN(e[i]) THEN 1.0 ELSE MAX(e[i]) - MIN(e[i]) END AS sc
        FROM allv, RANGE(1, 65) t(i)
        GROUP BY i
    )
), recon AS (
    SELECT vec_id,
           LIST_TRANSFORM(RANGE(1, 65), i ->
               mns[i] + FLOOR((e[i] - mns[i]) / scs[i] * 255.0 + 0.5) / 255.0 * scs[i]) AS e
    FROM allv CROSS JOIN dimstats
), v AS (
    SELECT vec_id, e FROM allv WHERE vec_id < 50
), scored AS (
    SELECT v.vec_id AS query_id, recon.vec_id AS neighbor_id,
           LIST_COSINE_SIMILARITY(v.e, recon.e) AS cosine,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY LIST_COSINE_SIMILARITY(v.e, recon.e) DESC,
                                       recon.vec_id ASC) AS rk
    FROM v CROSS JOIN recon
    WHERE v.vec_id <> recon.vec_id
)
SELECT query_id, neighbor_id, ROUND(cosine, 6) AS cosine, rk
FROM scored WHERE rk <= 5
"""


class _AnnQuery(NamedTuple):
    name: str
    handles: Callable[[SparkSession, str], _Index]
    scorer: Callable[[_Index], Callable]
    n_probe: int | None
    doc: str
    oracle: str | None = None
    refine: int = 1  # > 1: over-fetch k·refine by ADC, re-rank exactly


#: Every declared ANN query serves top-5 for the first 50 corpus vectors
#: (the oracles cut at ``rk <= 5``).
_K = 5

_ANN_QUERIES = [
    _AnnQuery(
        "ann_topk_ivfpq_incremental",
        _inc_handles("ivfpq"),
        _adc,
        SCALE.ivf_n_probe,
        """Continual-ingest COMPRESSED ANN — the IVF-PQ serving sibling of
    `ann_topk_ivfpq_neighbors`: index built (coarse centroids + residual
    PQ codebooks + IVFADC codes) on the even-vec_id half, odd half
    appended as two crawl batches through `functions/pq.ivfpq_append_batch`
    (coarse-assign + residualize + PQ-encode against the SAVED quantizers,
    code deltas
    at ``codes_deltas/batch_id=*/list_id=*`` with idempotent replay,
    reconstruction-error drift + mass retrain triggers), then served
    from the persisted base+delta code union — no raw-vector column
    anywhere at serving time. Rows-only by design; recall-after-appends
    vs the oracle-checked exhaustive twin rides the PARITY_r* gate, and
    the planted/replay/drift contracts live in tests/test_dedup.py.""",
    ),
    _AnnQuery(
        "ann_topk_ivf_incremental",
        _inc_handles("ivf"),
        _raw,
        SCALE.ivf_n_probe,
        """Continual-ingest dense ANN: the IVF serving index is BUILT on the
    even-vec_id half, then the odd half arrives as two crawl batches
    appended through `functions/ivf.ivf_append_batch` — assign-to-saved-
    centroids only (O(batch) Arrow pass), hive-partitioned delta commits
    (``deltas/batch_id=*/list_id=*``, overwrite-into-own-directory =
    idempotent replay), assignment-drift stats against the build baseline
    with a ``needs_retrain`` trigger. The second append's MASS trigger
    fires (corpus doubled) and the fixture ACTS on it through
    `functions/ivf.ivf_retrain` (r11): base + deltas folded into a fresh
    ``gen-*`` generation, promoted by atomic ``_CURRENT`` pointer swap —
    so this query serves the POST-RETRAIN index (the full
    trigger→retrain→serve loop, not just the trigger). Rows-only by
    design (k-means is iterative); recall vs the oracle-checked
    exhaustive twin is recorded in PARITY_r*.json, and the planted-truth/
    idempotence/drift/recall-recovery contracts live in
    tests/test_dedup.py.

    Mirrors `minhash_lsh_incremental_near_dups` (text twin); closes the
    round-9 design gap: dense serving indexes were batch-built only.

    Reference analogue: the controller's continually-updated global-view
    state (ryu/src/deployed_controller/DIPA_Controller.py).""",
    ),
    _AnnQuery(
        "ann_topk_ivf_neighbors",
        _coarse_handles(SCALE.ivf_n_list),
        _raw,
        SCALE.ivf_n_probe,
        """IVF (k-means inverted lists, seeded/deterministic) top-5 neighbors
    for the first 50 query vectors, probing 4 of 16 lists (~25% scan).
    No SQL oracle (approximate + iterative k-means); recall vs the exact
    baseline asserted in tests/test_dedup.py. Serves from the shared
    session-memoized coarse build (r13 opt — production trains once and
    serves many; rebuilding per invocation re-ran training + the
    assignment Arrow pass on every call).""",
    ),
    _AnnQuery(
        "ann_topk_lsh_neighbors",
        _lsh_handles(SCALE.ann_n_planes),
        _raw,
        SCALE.ann_probe_radius,
        """Approximate top-5 cosine neighbors for the first 50 query vectors via
    8 random hyperplanes + multi-probe radius 2. No SQL oracle (approximate
    by design); recall vs the exact baseline is asserted in tests. Probes
    the session-memoized corpus signature (r13 opt — the bucket index is
    computed once, like the persisted-index production path).""",
    ),
    _AnnQuery(
        "ann_topk_ivf_exhaustive",
        _coarse_handles(8),
        _raw,
        8,
        """IVF search with n_probe == n_list: every inverted list is probed, so
    the result must equal brute force exactly — certifies the IVF machinery
    against the SQL oracle (the n_probe<n_list production path keeps its
    recall test). Shares the session-memoized n_list=8 build with the
    IVF-PQ exhaustive certifier (r13 opt; deterministic build →
    bit-identical, and the oracle re-proves it).""",
        _BRUTE_TOPK_ORACLE,
    ),
    _AnnQuery(
        "ann_topk_lsh_exhaustive",
        _lsh_handles(4),
        _raw,
        4,
        """Hyperplane LSH with probe_radius == n_planes: all 2^n buckets probed
    → candidates are the whole corpus and the result equals brute force —
    the oracle-checkable configuration of the LSH path. Probes the
    session-memoized n_planes=4 corpus signature (r13 opt; the oracle
    re-proves bit-identity).""",
        _BRUTE_TOPK_ORACLE,
    ),
    _AnnQuery(
        "ann_topk_pq_neighbors",
        _flat_pq_handles("pq", _train_pq),
        _adc,
        None,
        """Product-quantization ADC top-5 for the first 50 query vectors:
    m=8 subspaces × 16 codewords → 8-byte codes (32× compression over
    float32), scored by LUT gathers without decoding the corpus
    (functions/pq.py). No SQL oracle (k-means codebooks are iterative);
    recall vs brute force and the ADC≡reconstructed-cosine identity are
    asserted in tests/test_dedup.py; the exhaustive twin below carries the
    full value oracle.""",
    ),
    _AnnQuery(
        "ann_topk_pq_exhaustive",
        _flat_pq_handles("pq_exh", _train_pq_exh),
        _adc,
        None,
        """PQ with ksub == corpus size, trained on the full corpus: k-means++
    seeds every distinct vector as its own codeword and Lloyd fixes them
    (singleton clusters), so reconstruction is bit-exact and the ADC scan
    must return EXACTLY the brute-force top-k — the full value-level
    oracle for the encode→LUT→scan machinery (same certifier pattern as
    the IVF/LSH exhaustive twins). Certifier-only config: training
    collects the whole (small) corpus here; the production path above
    keeps the bounded sample cap.""",
        _BRUTE_TOPK_ORACLE,
    ),
    _AnnQuery(
        "ann_topk_ivfpq_neighbors",
        _ivfpq_handles,
        _adc,
        SCALE.ivf_n_probe,
        """IVF-PQ (the billion-scale serving layout): probe 4 of 16 inverted
    lists, ADC-score only their 8-byte codes — ~25% scan fraction AND 32×
    row compression multiply. No SQL oracle (two iterative quantizers);
    recall T in tests/test_dedup.py; the exhaustive twin below is the
    value oracle. Residual-encoded (FAISS IVFADC, r11): the PQ quantizes
    v − centroid[list_id], concentrating codeword range on within-list
    structure — the standard recall lever at fixed m/ksub.""",
    ),
    _AnnQuery(
        "ann_topk_ivfpq_exhaustive",
        _ivfpq_exh_handles,
        _adc,
        8,
        """IVF-PQ with every list probed AND ksub == corpus size: the coarse
    probe covers everything and RESIDUAL reconstruction is bit-exact
    (every residual is its own codeword), so the composed IVFADC path —
    probe ranking, residual decomposition q·c + q·r̂ / ‖c+r̂‖, ADC
    kernel, top-k merge — must equal brute force: the full value
    oracle for the r11 residual-encoding change. The n_list=8 coarse
    build is the shared session memo (r13 opt — also serves
    `ann_topk_ivf_exhaustive`).""",
        _BRUTE_TOPK_ORACLE,
    ),
    _AnnQuery(
        "ann_topk_ivfpq_refined",
        _ivfpq_handles,
        _adc,
        SCALE.ivf_n_probe,
        """IVF-PQ + exact re-ranking (FAISS IndexRefineFlat, r11): same index
    geometry as `ann_topk_ivfpq_neighbors`, but the ADC scan over-fetches
    top-20 (k·4) per query and the bounded candidate set is rescored
    EXACTLY against the raw vectors (broadcast join, codegen cosine) —
    recovering the PQ fine-ranking loss inside the probed lists, the
    measured gap between IVF-PQ and raw IVF at the same n_probe. No SQL
    oracle (two iterative quantizers); recall floors ride the PARITY gate
    vs `ann_topk_ivfpq_exhaustive`, the refined≡brute-force certifier
    (all lists probed + candidate set covering the corpus → exact
    equality) is pinned in tests/test_dedup.py.""",
        refine=4,
    ),
    _AnnQuery(
        "ann_topk_opq_neighbors",
        _flat_pq_handles("opq", _train_opq),
        _adc,
        None,
        """OPQ (Ge et al. CVPR'13 / FAISS OPQMatrix, r11): a learned orthogonal
    rotation redistributes variance across the PQ subspaces before
    encoding — the standard flat-PQ fidelity lever when raw vectors aren't
    kept for refine. Rotation preserves cosine, so the UNCHANGED ADC
    machinery serves it over pre-rotated corpus + queries at the same
    m=8/ksub=32 geometry as `ann_topk_pq_neighbors`. No SQL oracle
    (iterative k-means × Procrustes); recall floors ride the PARITY gate
    vs the exhaustive twin below; orthonormality/distortion/recall
    contracts in tests/test_dedup.py.""",
    ),
    _AnnQuery(
        "ann_topk_sq_neighbors",
        _sq_handles,
        _sq,
        None,
        """Scalar quantization (FAISS IndexScalarQuantizer QT_8bit, r11): each
    dimension linearly quantized to uint8 against per-dim [min,max] bounds
    — the production point between Flat (1×, exact) and PQ (32×, lossy
    ranking): 8× compression at near-exact recall (0.988 vs brute force at
    sf0.01). Training is ONE deterministic distributed agg (no k-means),
    so unlike every other ANN path the production query itself carries a
    full DuckDB value oracle — the SQL mirrors functions/sq.py's
    floor(x+0.5) rounding bit-for-bit.""",
        _SQ_TOPK_ORACLE,
    ),
    _AnnQuery(
        "ann_topk_ivfsq_neighbors",
        _ivfsq_handles,
        _sq,
        SCALE.ivf_n_probe,
        """IVF+SQ8 composite (FAISS ``IVF,SQ8``, r12 — the last structural
    gap in the ANN family): coarse-probe 4 of 16 inverted lists, then
    dequantize-and-exact-cosine only THEIR SQ codes — ~25% scan fraction
    at 8× row compression AND near-exact ranking (SQ8's per-dim error is
    ≤ range/510, vs PQ's lossy subspace codebooks). The sub-linear
    near-exact production point between `ann_topk_sq_neighbors` (exact-ish
    but full-corpus scan) and `ann_topk_ivfpq_neighbors` (sub-linear but
    lossy). Rows-only by design (the coarse quantizer is iterative
    k-means); the exhaustive twin below carries the FULL value oracle —
    with every list probed the composite must equal flat SQ8, which is
    itself SQL-expressible — and clustered/corpus recall floors + the
    measured scan fraction ride PARITY_r12.""",
    ),
    _AnnQuery(
        "ann_topk_ivfsq_exhaustive",
        _ivfsq_handles,
        _sq,
        SCALE.ivf_n_list,
        """IVF+SQ8 with every list probed: the coarse probe covers the whole
    corpus and SQ scoring is deterministic, so the composite must equal
    the flat SQ8 scan EXACTLY — and flat SQ8 is fully SQL-expressible
    (deterministic min/max training), so this certifier carries the same
    full DuckDB value oracle as `ann_topk_sq_neighbors`: the strongest
    oracle any sub-linear ANN path in the family has (every other
    exhaustive twin certifies only the brute-force equality). SAME build
    as the production query (no degenerate certifier geometry needed —
    SQ has no k-means to collapse), so this also pins that the production
    path's loss is coarse-probe misses alone.""",
        _SQ_TOPK_ORACLE,
    ),
    _AnnQuery(
        "ann_topk_ivfsq_incremental",
        _inc_handles("ivfsq"),
        _sq,
        SCALE.ivf_n_probe,
        """Continual-ingest IVF+SQ8 (r13 — closes the last asymmetry in the
    incremental-index family): the composite serving index is BUILT on
    the even-vec_id half (coarse centroids + global SQ bounds + codes),
    the odd half arrives as two crawl batches appended through
    `functions/sq.ivfsq_append_batch` (O(batch): coarse-assign +
    SQ-encode against the SAVED quantizers, hive code deltas with
    idempotent replay, clip-mass drift + mass triggers), then served
    from the persisted base+delta code union — sub-linear scan over
    d-byte rows, near-exact ranking, no raw-vector column at serving
    time. Rows-only by design (the coarse quantizer is iterative
    k-means); recall-after-appends vs the (flat-SQ-value-oracle-checked)
    exhaustive twin plus the appended index's scan fraction ride
    PARITY_r*, and the planted/replay/clip-trigger contracts live in
    tests/test_dedup.py and the streaming sink goldens.

    Reference analogue: the controller's continually-refreshed global
    view (ryu/src/deployed_controller/DIPA_Controller.py:308-320).""",
    ),
    _AnnQuery(
        "ann_topk_opq_exhaustive",
        _flat_pq_handles("opq_exh", _train_opq_exh),
        _adc,
        None,
        """The rotated serving path under a full value oracle: a DETERMINISTIC
    data-independent orthogonal rotation (QR of a seeded Gaussian) + ksub
    == corpus size. One codeword per rotated point makes reconstruction of
    the ROTATED corpus bit-exact, and rotation preserves cosine — so the
    rotated ADC scan must equal brute-force top-k on the RAW vectors: the
    value-level certifier for rotate_vectors + the rotated encode/LUT/scan
    composition (the learned-R production path above differs only in where
    R comes from).""",
        _BRUTE_TOPK_ORACLE,
    ),
]


def _ann_builder(spec: _AnnQuery):
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        ix = spec.handles(spark, sf_dir)
        q_ids, q_mat = _query_batch(spark, sf_dir)
        if ix.rotate is not None:
            q_mat = q_mat @ ix.rotate
        out = search(
            spec.scorer(ix),
            ix.keyed,
            ix.key,
            q_ids,
            q_mat,
            lambda qm: ix.route(qm, spec.n_probe),
            _K * spec.refine,
        )
        if spec.refine > 1:
            out = refine_exact(out, _corpus(spark, sf_dir), _queries(spark, sf_dir), _K)
        return out.select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rk")

    return build


for _spec in _ANN_QUERIES:
    query(_spec.name, survey="ext-sim", oracle=_spec.oracle, doc=_spec.doc)(_ann_builder(_spec))
