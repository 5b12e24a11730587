"""Declared multimodal queries: the binary-column pipeline (decode →
resize → feature-extract → aggregate) over a deterministic synthetic media
corpus sized by the scale factor.

Rows-only checks (no SQL oracle: binary codecs aren't SQL-expressible);
the codec kernels themselves are golden-tested in tests/test_operators.py
(known-pixel images, sine-wave WAVs, hand-built BMP).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.multimodal import media_feature_pipeline, synthetic_media
from ..memo import memo
from ..tables import Tables
from .registry import query


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media corpus scaled like the documents table (¼ of its rows) so the
    query grows with sf; payloads are real encoded PPM/WAV bytes rendered
    distributed (mapInPandas over spark.range — no driver blobs).

    Rendered once, persisted and memoized per (session, sf_dir): the
    corpus is these queries' INPUT TABLE (a production deployment reads
    encoded media from storage; the render exists only because the
    testdata tree carries no binary blobs), so one render per session
    makes it a stable relation like the disk-backed tables, and the
    documents count that sizes it runs once. The decode/resize/feature
    operators still execute in full per query. Deterministic render →
    bit-identical results."""
    import os

    def build() -> DataFrame:
        n_docs = Tables(spark, sf_dir).documents.count()
        return synthetic_media(spark, max(60, n_docs // 4)).persist()

    return memo(spark, ("media_corpus", os.path.abspath(sf_dir)), build)


@query("media_feature_stats", survey="ext-multimodal,K1,K2")
def media_feature_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full multimodal pipeline: resize images to 16×16 (real decode +
    nearest resample + re-encode), extract per-modality features (real
    channel stats / audio RMS / PPM-stream video luminance+motion; opaque
    containers through the marked stub), aggregate per media_type.
    Uses the FUSED decode→resize→feature operator (one Arrow pass; the
    composed resize_images∘extract_features form is proven equivalent in
    tests/test_operators.py). avg_feat0 doubles as an embedded correctness
    probe: for images it is the post-resize width (16.0), for audio the
    sample rate (16000.0)."""
    feats = media_feature_pipeline(_corpus(spark, sf_dir), 16, 16)
    return feats.groupBy("media_type").agg(
        F.count("*").alias("n_items"),
        F.round(F.avg(F.element_at("feature", 1)), 6).alias("avg_feat0"),
        F.round(F.avg("n_bytes"), 2).alias("avg_bytes"),
    )


@query("video_frame_stats", survey="ext-multimodal,K1")
def video_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame pipeline: demux-free PPM-stream videos →
    every-2nd-frame extraction (`extract_frames`, one frame in memory at
    a time) → per-frame image features over the extracted frames → one
    summary row per video. frames_sampled is exactly ⌈4/2⌉ = 2 for every
    stream video (a built-in correctness probe); opaque-container videos
    are absent by design (no demuxer — the honest gate). Rows-only (binary
    codecs aren't SQL-expressible); codec kernels golden-tested in
    tests/test_operators.py."""
    from ..functions.multimodal import extract_features, extract_frames

    frames = extract_frames(_corpus(spark, sf_dir), every_n=2)
    as_media = frames.select(
        F.concat_ws("#", "media_id", "frame_index").alias("media_id"),
        F.lit("image").alias("media_type"),
        "payload",
        "width",
        "height",
        F.lit(None).cast("int").alias("duration_ms"),
    )
    # video_id rides inside the composite media_id — no join needed
    feats = extract_features(as_media).withColumn(
        "video_id", F.split("media_id", "#").getItem(0)
    )
    return feats.groupBy("video_id").agg(
        F.count("*").alias("frames_sampled"),
        F.round(F.avg(F.element_at("feature", 3)), 4).alias("avg_mean_r"),
    )


@query("image_phash_clusters", survey="ext-multimodal,ext-dedup")
def image_phash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup front end: 64-bit dHash per image (real
    PPM/BMP/PNG decode + integer luminance + 9×8 resample, Arrow-batched) →
    cluster by hash. The synthetic gradient corpus collapses into a few
    texture classes (same slope, shifted phase — the CORRECT perceptual
    statement; exact byte hashes would call them all distinct), making
    cluster counts a built-in probe of the kernel. Linear output; the
    pairwise near-dup form (`functions/multimodal.phash_near_dup_pairs`,
    banded + Hamming-verified) is planted-truth-tested in pytest —
    declaring it here would emit the degenerate corpus' quadratic
    cliques. Rows-only: binary decode isn't SQL-expressible."""
    from ..functions.multimodal import image_dhash

    h = image_dhash(_corpus(spark, sf_dir))
    return h.groupBy("dhash").agg(
        F.count("*").alias("n_images"),
        F.min("media_id").alias("canonical_id"),
    )


@query("audio_fingerprint_clusters", survey="ext-multimodal,ext-dedup")
def audio_fingerprint_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio dedup front end: integer zero-crossing frequency fingerprint
    per clip (amplitude-invariant — a re-levelled copy of the same tone
    collides, different tones separate; the corpus' 440+i Hz sines give
    one cluster per distinct tone, a built-in kernel probe), clustered
    by fingerprint. Rows-only: binary decode isn't SQL-expressible."""
    from ..functions.multimodal import audio_fingerprints

    f = audio_fingerprints(_corpus(spark, sf_dir))
    return f.groupBy("freq_hz").agg(
        F.count("*").alias("n_clips"),
        F.min("media_id").alias("canonical_id"),
    )
