"""Multimodal-column queries (SURVEY.md §2 K5).

The catalog's tables carry no real media, so the queries construct
the binary modality the way an ingest job would. The two
oracle-paired queries encode document text as a ``binary`` content
column (UTF-8 — deterministic, both engines agree byte-for-byte) and
work on it JVM-side: digests, byte-length stats, kind-grained rollups,
exact binary dedup (operators/multimodal.media_dedup). The seven
rows-only queries build real media bytes per document with
``multimodal.synthesize_media`` and one of its encoders, then run them
through the real codecs of operators/multimodal: decode, featurize,
resize, frame-sample and container parsing. tests/test_multimodal.py
rebuilds the same bytes to check each of their rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from post_modern_stack_spark.operators import multimodal as mm
from post_modern_stack_spark.plans.entryflow import query
from post_modern_stack_spark.registry import load_table
from post_modern_stack_spark.operators.skew import widen_narrow_scan


def _as_media(docs: DataFrame) -> DataFrame:
    """documents → MEDIA_SCHEMA-shaped frame: the text's bytes as
    content (source plays the role of media kind)."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.col("source").alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
    )


@query(
    "media_inventory",
    oracle="""
    SELECT source                                   AS kind,
           count(*)                                 AS n_media,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           CAST(max(octet_length(encode(text))) AS BIGINT) AS max_bytes,
           count(DISTINCT sha256(text))     AS distinct_contents
    FROM documents
    GROUP BY source
    """,
)
def q_media_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5 inventory rollup: per-kind media counts, byte volumes, and
    distinct-content cardinality — the storage-planning query every
    multimodal corpus needs before 100 TB layout decisions.

    All binary ops (octet_length, sha2) are JVM built-ins on the
    binary column — the bytes never cross into Python. The digest
    dedup count is a two-phase distinct aggregate (map-side partial
    dedup), so it survives fact-scale media tables.
    """
    media = _as_media(load_table(spark, sf_dir, "documents"))
    return media.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum(F.octet_length("content")).alias("total_bytes"),
        F.max(F.octet_length("content")).cast("long").alias("max_bytes"),
        F.count_distinct(F.sha2("content", 256)).alias("distinct_contents"),
    )


@query(
    "media_dedup_groups",
    oracle="""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT -(doc_id + 1) AS doc_id, text
        FROM documents WHERE doc_id % 50 = 0
    )
    SELECT sha256(text) AS content_sha,
           min(doc_id)          AS media_id,
           count(*)             AS n_copies
    FROM corpus
    GROUP BY sha256(text)
    HAVING count(*) > 1
    """,
)
def q_media_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1-on-binary (K5 dedup): duplicate media groups by content
    digest — keeper id + copy count for every digest seen twice.

    The documents table is duplicate-free at sf<=0.01, which made the
    round-1 green row vacuous (0 rows matched on both engines — the
    sha2 grouping itself was never value-checked). The corpus now
    plants deterministic exact copies (every doc_id % 50 == 0
    re-ingested as -(doc_id+1) — the re-crawl/re-upload scenario), so
    dup groups exist at every SF and the digest values themselves
    hash-compare. Replay ids live in the negative namespace so they
    can NEVER collide with real ids at any SF (ADVICE r04: a fixed
    +1e6 offset collided once documents exceeded 1M rows); keeper
    media_id = min(doc_id) is therefore always the replay id for
    planted groups, which also makes them identifiable downstream.

    Exercises operators/multimodal.media_dedup unchanged: sha2 over
    the binary column groups JVM-side; only digests shuffle (32 bytes
    per row regardless of media size), which is what makes exact
    binary dedup viable at 100 TB.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.unionAll(
        docs.filter(F.col("doc_id") % 50 == 0).select(
            (-(F.col("doc_id") + 1)).alias("doc_id"), "text"
        )
    )
    media = _as_media(
        corpus.withColumn("source", F.lit("replay")).select("doc_id", "source", "text")
    )
    return mm.media_dedup(media).filter(F.col("n_copies") > 1)


@query("media_real_features")  # rows-only: BMP byte assembly + FFT math
def q_media_real_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5 with the REAL codec path (no external libs): a deterministic
    4×4 RGB image per document (``mm.digest_rgb``), encoded as a
    genuine 24-bit BMP, then decoded + featurized by the pure-numpy
    codec (decode_bmp → image_features). extract_features has no
    fallback, so a codec failure fails the query. Rows-only: BMP byte
    assembly isn't SQL-expressible."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    media = mm.synthesize_media(docs, "text", mm.digest_bmp, "image")
    return mm.extract_features(media).select(
        "media_id",
        "n_bytes",
        "content_sha",
        F.round(F.element_at("features", 3), 6).alias("mean_r"),
        F.round(F.element_at("features", 6), 6).alias("std_r"),
    )


def _thumbnails(media: DataFrame, side: int) -> DataFrame:
    return mm.resize_media(media, out_h=side, out_w=side).select(
        "media_id",
        "out_h",
        "out_w",
        F.length("content").alias("n_bytes"),
        F.sha2("content", 256).alias("thumb_sha"),
    )


@query("media_thumbnails")  # rows-only: binary assembly not SQL-expressible
def q_media_thumbnails(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5 resize surface with the REAL codec: the same 4×4 BMPs as
    media_real_features, thumbnailed to 2×2 via
    decode→nearest-neighbor-resize→re-encode (mm.resize_media) and
    fingerprinted — a byte-identical sha2 per input proves the whole
    decode/resize/encode chain is deterministic through Arrow
    batching."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    media = mm.synthesize_media(docs, "text", mm.digest_bmp, "image")
    return _thumbnails(media, 2)


@query("media_png_pipeline")  # rows-only: PNG byte assembly not SQL-expressible
def q_media_png_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5 with a REAL compressed codec (PNG = zlib DEFLATE, stdlib):
    per document, a deterministic 8×8 RGB image (digest noise over a
    row gradient — the gradient makes the encoder's Up-filter branch
    fire, so decode exercises filter reconstruction, not just
    filter-0 passthrough) is encoded as a genuine PNG, thumbnailed
    2×2 by resize_media (decode → NN-resize → re-encode PNG), and
    fingerprinted."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    media = mm.synthesize_media(docs, "text", mm.gradient_png, "image")
    return _thumbnails(media, 2)


@query("media_g711_audio")  # rows-only: G.711 byte assembly not SQL-expressible
def q_media_g711_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5 with the REAL G.711 µ-law codec (ITU-T companding tables,
    2:1 compressed telephony audio): per document, a deterministic
    sine (``mm.sine_wave``) is µ-law-compressed into a fmt=7 WAV, then
    decoded + featurized (expand table → float PCM →
    duration/RMS/ZCR/spectrum features). Emits stable rounded scalars
    so the driver's rows-only check sees a deterministic frame."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    media = mm.synthesize_media(docs, "text", mm.g711_sine, "audio")
    return mm.extract_features(media).select(
        "media_id",
        "n_bytes",
        F.round(F.element_at("features", 1), 6).alias("duration_s"),
        F.round(F.element_at("features", 5), 5).alias("rms"),
        F.round(F.element_at("features", 6), 5).alias("zcr"),
    )


@query("media_video_frames")  # rows-only: GIF byte assembly not SQL-expressible
def q_media_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5 video surface with a REAL compressed codec end-to-end: per
    document a 4-frame animated GIF (LZW-encoded, palette from the doc
    digest) is assembled, then mm.sample_frames decodes it and emits
    the frame visible at each 40 ms tick with mean luma + frame
    fingerprint — the video keyframe-extraction pattern with the pixel
    data never entering a shuffle (only scalars and hashes leave the
    task)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    media = mm.synthesize_media(docs, "text", mm.gif_video, "video")
    return mm.sample_frames(media, every_ms=40)


@query("media_jpeg_pipeline")  # rows-only: JPEG byte assembly not SQL-expressible
def q_media_jpeg_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5 with the REAL baseline JPEG codec (T.81 Huffman + DCT, pure
    numpy — operators/jpeg.py): per document, a deterministic 16×16
    RGB image (digest noise over a gradient) is encoded as genuine
    4:2:0 baseline JPEG, thumbnailed 8×8 by resize_media
    (decode → NN-resize → re-encode JPEG), and fingerprinted.

    Bounded to 2000 docs: the Huffman entropy coder is per-image
    Python (correctness surface, not a throughput path — a production
    run would decode with a native library behind the same dispatch),
    so the query demonstrates the plumbing at a fixed cost per SF."""
    # the 2000 survivors sit in 1-2 parquet row groups; the per-image
    # Python coder is the cost, so spread rows across all cores
    docs = widen_narrow_scan(
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 2000)
    )
    media = mm.synthesize_media(docs, "text", mm.gradient_jpeg, "image")
    return _thumbnails(media, 8)


@query("media_container_info")  # rows-only: binary container assembly
def q_media_container_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5 container-inventory pass: REAL MP3 frame-walk and MP4 box-walk
    parsing (mm.parse_mp3_info/parse_mp4_info — header arithmetic
    only, constant work per file) over synthesized spec-conformant
    containers (``mm.container_bytes``; one id in ten gets junk
    bytes). Sample DECODE for these formats is not implemented; the
    inventory fields every media pipeline reads first — duration,
    frame/track counts, bitrate — are parsed for real."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = mm.synthesize_media(docs, "doc_id", mm.container_bytes, mm.container_kind)
    return mm.container_info(media)
