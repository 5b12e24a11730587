"""Deduplication library (SURVEY.md §7 Phase 6): exact, MinHash-LSH,
SimHash, n-gram Jaccard.

Design for 100 TB:
- exact dedup = one shuffle on a content hash (queries/datapipe.py);
- MinHash-LSH = shingle→signature (one explode + hash-agg), band→bucket
  join (shuffle on small band keys), exact-Jaccard verification only on
  candidates — the quadratic term never materializes;
- all hashes deterministic (xxhash64 + fixed linear permutations) so
  results are reproducible and oracle-checkable.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..storage import _write_batch_partitions

# Mersenne prime 2^31-1: modulus for the linear permutation family.
# 31-bit space keeps a*h+b < 2^62 — no long overflow under ANSI mode
# (a, h < 2^31), while 2^31 hash values are ample for MinHash collisions.
_PRIME = (1 << 31) - 1


def _permutations(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [(rng.randrange(1, _PRIME), rng.randrange(0, _PRIME)) for _ in range(num_perm)]


def shingle_sets(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, shingles array<bigint>) — distinct word n-grams, each gram
    carried as its 64-bit ``xxhash64`` (seed 42, Spark's default).

    r13 opt (guide §2.3/§8 — shuffle and compare a lightweight proxy,
    not the payload): every downstream consumer uses shingles only
    through set SIZE, intersection COUNTS, and the MinHash base hash
    ``pmod(xxhash64(gram), p)`` — none needs the gram text. Hashing at
    the source makes the persisted frame, both verification shuffle
    sides, and the ``array_intersect`` comparisons operate on 8-byte
    longs instead of ~20-40-byte strings, and MinHash signatures stay
    BIT-IDENTICAL (their base hash is a pure function of this value).
    Jaccard counts are identical absent a 64-bit collision inside a
    compared pair's union (P ≈ |union|²/2⁶⁵ per pair); the exact-parity
    queries' DuckDB oracles re-prove value equality at every checked SF,
    and tests pin hashed-vs-string jaccard equality directly.

    Repartitions straight off the scan: a compact doc file arrives in few
    splits, and tokenize+shingle is the compute-heavy part — it must spread
    across cores before any array work happens."""
    n_part = docs.sparkSession.sparkContext.defaultParallelism
    # The too-short guard matters under ANSI mode: Spark's sequence(1, 0)
    # is DESCENDING ([1, 0]), so without it a 1-2-token doc would drive
    # element_at past the array end and throw, killing the whole job.
    gram = "concat_ws(' ', " + ", ".join(f"element_at(tokens, i + {j})" for j in range(n)) + ")"
    shingle_expr = (
        f"CASE WHEN size(tokens) >= {n} "
        f"THEN transform(sequence(1, size(tokens) - {n - 1}), i -> xxhash64({gram})) "
        "ELSE array() END"
    )
    return (
        docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
        .repartition(n_part, "id")
        .select("id", toks_on("__text").alias("tokens"))
        .select("id", F.array_distinct(F.expr(shingle_expr)).alias("shingles"))
    )


def toks_on(col_name: str):
    return F.filter(F.split(F.col(col_name), " "), lambda x: x != "")


def minhash_signatures(
    shingled: DataFrame, num_perm: int = 32, seed: int = 42
) -> DataFrame:
    """(id, sig array<bigint>) as a PURE map-side pass: base hashes once per
    shingle (``transform``), then one ``array_min(transform(...))`` per
    permutation — h_i(s) = (a_i * (xxhash64(s) mod p) + b_i) mod p,
    p = 2^31-1, all JVM codegen.

    The shingle column already carries ``xxhash64(gram)`` (see
    :func:`shingle_sets`), so the base hash is ``pmod(shingle, p)`` — the
    SAME value the pre-hashed form ``pmod(xxhash64(gram_text), p)``
    produced, making every signature bit-identical to the string-shingle
    implementation (pinned in tests/test_dedup.py).

    Formerly an explode + num_perm min-aggregates; the higher-order form
    computes the identical signatures (verified bit-equal) with ZERO
    shuffle and without materializing the ~100× shingle row blowup — at
    100 TB the signature stage becomes embarrassingly parallel map work
    that chains straight into the band explode.

    Empty shingle arrays are DROPPED here (the explode+groupBy form's
    semantics): array_min over an empty array is NULL, and a NULL sig
    element hashes to a CONSTANT band bucket in lsh_candidate_pairs —
    every empty-shingle doc would land in one bucket and self-join into
    O(k²) candidate pairs. Filtering inside the function makes that
    invariant caller-independent."""
    perms = _permutations(num_perm, seed)
    shingled = shingled.where(F.size("shingles") > 0)
    withh = shingled.withColumn(
        "h", F.transform("shingles", lambda s: F.pmod(s, F.lit(_PRIME)))
    )
    # one parsed SQL string instead of num_perm composed Column trees:
    # identical expressions (bit-equality pinned in tests), but ~1 Py4J
    # call instead of ~8·num_perm — the same driver-build fix as the
    # simhash 64-vote aggregate (measured 2.33→0.78 s there)
    sig = F.expr(
        "array("
        + ",".join(
            f"array_min(transform(h, x -> pmod({a}L * x + {b}L, {_PRIME}L)))"
            for (a, b) in perms
        )
        + ")"
    )
    return withh.select("id", sig.alias("sig"))


def lsh_candidate_pairs(
    signatures: DataFrame, bands: int = 16, rows_per_band: int = 2
) -> DataFrame:
    """(id_a, id_b) candidate pairs: same hashed band bucket in ≥1 band."""
    band_entries = lsh_band_entries(signatures, bands, rows_per_band)
    a = band_entries.alias("a")
    b = band_entries.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def lsh_band_entries(
    signatures: DataFrame, bands: int = 16, rows_per_band: int = 2
) -> DataFrame:
    """(id, band, bucket): one row per (doc, band), bucket = xxhash64 of
    that band's signature slice. This IS the LSH index relation — the
    self-join form (``lsh_candidate_pairs``) and the incremental
    index-probe form (``incremental_near_dup_pairs``) both join on
    (band, bucket) over it."""
    return signatures.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.element_at("sig", b * rows_per_band + r + 1)
                                for r in range(rows_per_band)
                            ]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_perm: int = 16,
    bands: int = 8,
    rows_per_band: int = 2,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH candidates + exact-Jaccard verification ≥ *threshold*.

    Output (doc_a, doc_b, jaccard) equals the brute-force all-pairs result
    whenever LSH recall holds (P[miss] = (1-t^r)^b = 0.36^8 ≈ 3e-4 at
    t=0.8, ~1e-8 at the 0.95+ similarities real near-dups show;
    verification removes all false positives exactly).

    The shingle sets feed three consumers (signatures + both verify sides)
    — persisted so the tokenize/shingle stage runs once, not three times.
    MEMORY_AND_DISK: spills rather than recomputes at large scale. Pass an
    already-persisted ``shingled`` frame to share one shingle build across
    repeated calls / sibling queries (queries/datapipe2._shingles is the
    session-memoized one for the documents table)."""
    sh = shingled if shingled is not None else shingle_sets(docs, id_col, text_col).persist()
    sigs = minhash_signatures(sh, num_perm)  # empty-shingle drop is internal now
    cands = lsh_candidate_pairs(sigs, bands, rows_per_band)
    a = sh.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            (inter.cast("double") / union).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# Incremental MinHash-LSH: persist the band index once, dedup each new crawl
# batch against it without re-signaturing the old corpus. This is the
# continual-ingest shape a 100 TB training-data pipeline actually runs —
# the full-batch form recomputes O(corpus) signatures per batch; this form
# does O(batch) signature work + an index probe.
# ---------------------------------------------------------------------------


def save_lsh_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    seed: int = 42,
    ingest_batch: int = 0,
) -> None:
    """Persist the LSH band index for *docs*: ``bands/`` parquet
    (id, bucket) hive-partitioned by band, plus a one-row ``meta/``
    parquet pinning the hash-family parameters so a later probe cannot
    silently mix incompatible signatures.

    Partitioning by (band, ingest_batch) means an incremental probe that
    shuffles on (band, bucket) reads each band partition straight into its
    join bucket, and appending batch N is a DYNAMIC-OVERWRITE of only the
    (band, ingest_batch=N) partitions — re-running an append (crash-replay)
    rewrites the same partitions with the same deterministic content
    instead of duplicating them, so index maintenance is idempotent."""
    spark = docs.sparkSession
    sh = shingle_sets(docs, id_col, text_col, shingle_n)
    entries = lsh_band_entries(
        minhash_signatures(sh, num_perm, seed), bands, rows_per_band
    )
    _write_batch_partitions(
        entries, f"{path}/bands", ingest_batch, partition_cols=("band", "ingest_batch")
    )
    from ..localdf import local_rows_df

    local_rows_df(
        spark,
        [(num_perm, bands, rows_per_band, shingle_n, seed)],
        "num_perm int, bands int, rows_per_band int, shingle_n int, seed int",
    ).write.mode("overwrite").parquet(f"{path}/meta")


def append_to_lsh_index(
    docs: DataFrame,
    path: str,
    ingest_batch: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Add a new batch's band entries to an existing index — the second
    half of the continual-ingest loop (probe the batch, then index it).
    Hash-family parameters come from the index's own meta, so an append
    can never mix incompatible signatures; the write dynamically
    overwrites only this batch's (band, ingest_batch) partitions, so a
    crash-replay of the same batch is idempotent rather than duplicating
    entries. Callers pass their batch/epoch id as *ingest_batch*."""
    spark = docs.sparkSession
    meta = spark.read.parquet(f"{path}/meta").collect()[0].asDict()  # bounded-collect: meta is ONE row by construction
    sh = shingle_sets(docs, id_col, text_col, meta["shingle_n"])
    entries = lsh_band_entries(
        minhash_signatures(sh, meta["num_perm"], meta["seed"]),
        meta["bands"],
        meta["rows_per_band"],
    )
    _write_batch_partitions(
        entries, f"{path}/bands", ingest_batch, partition_cols=("band", "ingest_batch")
    )


def load_lsh_index(spark, path: str) -> tuple[DataFrame, dict]:
    """(band entries DataFrame, meta dict) for an index written by
    :func:`save_lsh_index`."""
    meta = spark.read.parquet(f"{path}/meta").collect()[0].asDict()  # bounded-collect: meta is ONE row by construction
    return spark.read.parquet(f"{path}/bands"), meta


def incremental_near_dup_pairs(
    new_docs: DataFrame,
    old_docs: DataFrame,
    index_bands: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_perm: int = 16,
    bands: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    seed: int = 42,
    shingled_new: DataFrame | None = None,
    shingled_old: DataFrame | None = None,
    persisted_out: list | None = None,
) -> DataFrame:
    """Near-dup pairs INVOLVING the new batch: (old, new) via an index
    probe plus (new, new) via standard LSH — output (doc_a, doc_b,
    jaccard), doc_a < doc_b, exact-verified ≥ *threshold*.

    Equals the full-batch :func:`minhash_near_dup_pairs` result filtered
    to pairs touching the new batch (same hash family ⇒ identical band
    buckets ⇒ identical candidates), with O(new) signature work instead
    of O(corpus):

    - new batch: shingle → signature → band entries (map-side only);
    - probe: join new band entries to the persisted index on
      (band, bucket) — the index side is partitioned by band, so the
      shuffle moves only the new batch;
    - verification fetch: exact Jaccard needs the OLD candidate docs'
      shingles, so the distinct candidate old-ids (a small set — LSH
      collisions, not the corpus) are broadcast-semi-joined back to the
      old corpus and only those docs are re-shingled. At scale the old
      corpus is id-bucketed parquet, so this fetch prunes to the touched
      buckets.

    ``old_docs`` must be the corpus the index was built from (ids
    disjoint from the new batch); pass ``shingled_new``/``shingled_old``
    to reuse already-built shingle frames. The result is lazy, so the
    internal persists cannot be released here; pass ``persisted_out`` (a
    list) to receive the persisted handles and unpersist them once the
    result is materialized — `streaming.pipelines.incremental_dedup_sink`
    does this per micro-batch so cached blocks never accumulate across
    the life of a stream."""
    sh_new = (
        shingled_new
        if shingled_new is not None
        else shingle_sets(new_docs, id_col, text_col, shingle_n).persist()
    )
    if persisted_out is not None and shingled_new is None:
        persisted_out.append(sh_new)
    # The band-entry frame feeds TWO consumers (index probe + within-batch
    # self-join) and the probe result feeds THREE (pair union, and both
    # sides of the candidate-id fetch) — persist both or the signature
    # map stage re-runs once per consumer (measured 4.4 s vs 1.9 s at
    # sf0.1). Both frames are bands-per-doc small, far under the shingle
    # frame already persisted upstream.
    sigs_new = minhash_signatures(sh_new, num_perm, seed)
    be_new = lsh_band_entries(sigs_new, bands, rows_per_band).persist()
    if persisted_out is not None:
        persisted_out.append(be_new)

    # (old, new) candidates: probe the index. The pair is oriented by id
    # so output matches the full-batch convention (doc_a < doc_b).
    idx = index_bands.select(
        F.col("id").alias("old_id"), "band", "bucket"
    )
    cross = (
        be_new.join(idx, ["band", "bucket"])
        .where(F.col("old_id") != F.col("id"))  # ids are disjoint by contract
        .select(
            F.least("old_id", "id").alias("id_a"),
            F.greatest("old_id", "id").alias("id_b"),
        )
        .distinct()
        .persist()
    )
    if persisted_out is not None:
        persisted_out.append(cross)

    # Fetch + shingle ONLY the old docs that collided (broadcast the small
    # candidate-id set into the semi-join so the corpus scan prunes).
    old_cand_ids = (
        cross.select(F.explode(F.array("id_a", "id_b")).alias("cid"))
        .distinct()
    )
    if shingled_old is not None:
        sh_old = shingled_old.join(
            F.broadcast(old_cand_ids), F.col("id") == F.col("cid"), "semi"
        )
    else:
        old_hit = old_docs.join(
            F.broadcast(old_cand_ids), F.col(id_col) == F.col("cid"), "semi"
        )
        sh_old = shingle_sets(old_hit, id_col, text_col, shingle_n)

    sh_all = sh_old.unionByName(sh_new)
    # within-batch pairs: self-join the already-persisted band entries
    # (lsh_candidate_pairs would rebuild them from the signatures).
    wa, wb = be_new.alias("a"), be_new.alias("b")
    within = (
        wa.join(
            wb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    cands = cross.unionByName(within).distinct()

    a = sh_all.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sh_all.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            (inter.cast("double") / union).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def simhash64(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, simhash bigint): 64-bit SimHash over word tokens.

    Bit j of xxhash64(token) votes +1/−1; simhash bit j = majority > 0.
    One explode + 64 conditional sums — single shuffle on id.

    The 64 vote aggregates and the 63-term assembly are built as SQL
    strings (one parser round-trip each) rather than composed Column
    objects: the Column form cost ~500 Py4J calls of pure driver-side
    build time per invocation (measured seconds under load, r7) for a
    plan that executes in well under a second."""
    n_part = docs.sparkSession.sparkContext.defaultParallelism
    ex = (
        docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
        .repartition(n_part, "id")
        .select("id", F.explode(toks_on("__text")).alias("tok"))
        .withColumn("h", F.xxhash64("tok"))
    )
    # assemble: sum of 2^j for positive-vote bits (bit 63 kept zero to stay
    # in signed-long range — 63 effective bits). The 63 vote SUMs ride
    # inline in ONE aggregate expression — a single parser round-trip;
    # Catalyst extracts the aggregates into the HashAggregate as usual.
    def vote(j: int) -> str:
        return f"SUM(IF((shiftright(h, {j}) & 1) = 1, 1, -1))"

    sim = " + ".join(f"IF({vote(j)} > 0, {1 << j}L, 0L)" for j in range(63))
    return ex.groupBy("id").agg(
        F.expr(f"CAST(({sim}) AS BIGINT) AS simhash")
    )


def hamming64(a, b):
    """Hamming distance between two 64-bit signatures (Column expr)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_hex_portable(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, simhash_hex string): 64-bit SimHash with an md5-derived bit
    family, emitted as a 16-char hex fingerprint.

    Same algorithm as :func:`simhash64` but the per-token hash is the first
    64 bits of md5(token) — md5 is bit-identical in every engine, so the
    FULL fingerprint is expressible in ANSI SQL and oracle-checkable
    (``simhash_oracle_sql`` generates the DuckDB twin). The xxhash64
    variant stays the throughput path; this one certifies semantics.
    Still one explode + 64 conditional sums, all JVM codegen (md5/conv/
    shift/sum) — single shuffle on id.

    Like :func:`simhash64`, the wide vote/assembly expressions are built
    as SQL strings — the composed-Column form spent seconds of
    driver-side Py4J build time (~900 calls) on a sub-second plan."""
    n_part = docs.sparkSession.sparkContext.defaultParallelism
    ex = (
        docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
        .repartition(n_part, "id")
        .select("id", F.explode(toks_on("__text")).alias("tok"))
        # TWO conv calls per token, not sixteen: each 8-hex-char half
        # parses to a 32-bit word once, and every bit extraction is then a
        # shift on the word (~35% faster end-to-end, output bit-identical
        # to the per-digit form — A/B'd at sf0.1, r6).
        .selectExpr(
            "id",
            "CAST(conv(substring(md5(tok), 1, 8), 16, 10) AS BIGINT) AS hhi",
            "CAST(conv(substring(md5(tok), 9, 8), 16, 10) AS BIGINT) AS hlo",
        )
    )

    def vote(j: int) -> str:
        # bit s of hex digit d (digit 0 = first md5 char = the word's most
        # significant nibble) = bit 4*(7 - d%8) + s of the d<8 ? hi : lo word
        d, s = j // 4, j % 4
        word = "hhi" if d < 8 else "hlo"
        bit = f"(shiftright({word}, {4 * (7 - d % 8) + s}) & 1)"
        return f"SUM(IF({bit} = 1, 1, -1))"

    # All 64 vote SUMs ride inline in ONE aggregate expression (single
    # parser round-trip; Catalyst pulls the aggregates into the
    # HashAggregate and the digit arithmetic into the result projection).
    digits = ", ".join(
        "substring('0123456789abcdef', 1 + "
        + " + ".join(f"IF({vote(4 * d + s)} > 0, {1 << s}, 0)" for s in range(4))
        + ", 1)"
        for d in range(16)
    )
    return ex.groupBy("id").agg(F.expr(f"concat({digits}) AS simhash_hex"))


def simhash_oracle_sql(table: str = "documents", id_col: str = "doc_id") -> str:
    """DuckDB SQL computing simhash_hex_portable bit-for-bit (md5 hash
    family + the same vote/majority/hex assembly)."""
    votes = ",\n           ".join(
        f"SUM(CASE WHEN (((strpos('0123456789abcdef', substr(h, {j // 4 + 1}, 1)) - 1)"
        f" >> {j % 4}) & 1) = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(64)
    )
    digits = "\n       || ".join(
        "substr('0123456789abcdef', 1 + "
        + " + ".join(f"{1 << s} * (CASE WHEN v{4 * d + s} > 0 THEN 1 ELSE 0 END)" for s in range(4))
        + ", 1)"
        for d in range(16)
    )
    return f"""
WITH tok AS (
    SELECT {id_col}, UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '')) AS tok
    FROM {table}
), h AS (
    SELECT {id_col}, substr(md5(tok), 1, 16) AS h FROM tok
), votes AS (
    SELECT {id_col},
           {votes}
    FROM h GROUP BY {id_col}
)
SELECT {id_col}, {digits} AS simhash_hex FROM votes
"""


def trim_duplicate_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_len: int = 8,
) -> DataFrame:
    """The REMOVE half of exact-substring dedup (Lee et al. 2022):
    (id, text_trimmed, n_tokens_before, n_tokens_after) with every token
    covered by a cross-document duplicated *span_len*-token window cut,
    except the globally FIRST occurrence (lowest (doc_id, pos)), which
    survives verbatim. Within-doc-only repeats are out of scope here
    (text_repetition_score owns that signal) — a span must appear in >= 2
    distinct docs to be trimmed, the same criterion the
    `duplicate_substring_spans` profile reports.

    Plan shape (the same codegen-window discipline as the profile query —
    queries/datapipe7._substring_span_profile): posexplode + lead() grams,
    then THREE window functions (distinct-doc dense_rank+max, first-
    occurrence row_number) sharing ONE shuffle on the gram, a masked-
    position explode (span_len rows per trimmed span), and one doc-key
    re-aggregation. No HOF over corpus-scale arrays, no Python."""
    L = span_len
    toks = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    tok = docs.select(
        F.col(id_col).alias("id"), F.posexplode(toks).alias("pos", "tok")
    )
    wd = Window.partitionBy("id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", i).over(wd) for i in range(1, L)]
    gram = F.when(
        F.lead("tok", L - 1).over(wd).isNotNull(), F.concat_ws(" ", *parts)
    )
    spans = tok.select("id", "pos", gram.alias("gram")).where(
        F.col("gram").isNotNull()
    )
    w_docs = Window.partitionBy("gram").orderBy("id")
    w_gram = Window.partitionBy("gram")
    w_first = Window.partitionBy("gram").orderBy("id", "pos")
    flagged = (
        spans.withColumn("dr", F.dense_rank().over(w_docs))
        .withColumn("nd", F.max("dr").over(w_gram))
        .withColumn("rn", F.row_number().over(w_first))
    )
    masked_pos = (
        flagged.where((F.col("nd") >= 2) & (F.col("rn") > 1))
        .select("id", F.explode(F.sequence("pos", F.col("pos") + (L - 1))).alias("pos"))
        .distinct()
    )
    kept = tok.join(masked_pos, ["id", "pos"], "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.count("*").alias("n_tokens_after"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("text_trimmed"),
    )
    # n_tokens_before is size(tokens) — computed MAP-SIDE on the base
    # relation (was a third consumer of the exploded frame: a whole extra
    # explode + keyed aggregate + shuffle for a number the source row
    # already knows).
    return (
        # greatest(size, 0): size() is -1 (NULL under ANSI) for a null
        # text column, but the old explode+count path returned 0 there.
        docs.select(
            F.col(id_col).alias("id"),
            F.greatest(F.coalesce(F.size(toks), F.lit(0)), F.lit(0)).alias(
                "n_tokens_before"
            ),
        )
        .join(rebuilt, "id", "left")
        .select(
            "id",
            F.coalesce("text_trimmed", F.lit("")).alias("text_trimmed"),
            "n_tokens_before",
            F.coalesce("n_tokens_after", F.lit(0)).alias("n_tokens_after"),
        )
    )
