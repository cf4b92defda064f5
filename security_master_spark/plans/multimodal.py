"""Multimodal-column queries (SURVEY.md §2.12): binary payloads with
typed metadata, feature extraction and frame sampling via
Arrow-batched mapInPandas (multimodal/binary.py).

The payloads are deterministic (UTF-8 bytes of the document text), so
the byte-level pipeline is fully oracle-checked: DuckDB recomputes the
same features with ENCODE/HEX/OCTET_LENGTH — every byte the Python
side touches is certified, not just row counts.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.multimodal.binary import (
    FRAME_HOP,
    FRAME_LEN,
    TILE_PX,
    attach_payload,
    audio_frame_stats,
    audio_sample_stats,
    extract_features,
    image_pixel_stats,
    image_tile_stats,
    sample_frames,
)
from security_master_spark.plans.registry import register


@register(
    "m1_multimodal_features",
    oracle="""
    SELECT doc_id,
           CASE CAST(doc_id % 3 AS INT)
                WHEN 0 THEN 'image/png'
                WHEN 1 THEN 'image/jpeg'
                ELSE 'video/mp4' END          AS mime,
           OCTET_LENGTH(ENCODE(text))         AS n_bytes,
           LOWER(SUBSTRING(HEX(ENCODE(text)), 1, 8)) AS header_hex,
           CAST(doc_id % 640 + 16 AS INT)     AS width,
           CAST(doc_id % 480 + 16 AS INT)     AS height
    FROM documents
    """,
)
def m1_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → binary payload + metadata → mapInPandas feature
    extraction (size, 4-byte header magic, metadata passthrough)."""
    docs = load_table(spark, sf_dir, "documents")
    return extract_features(attach_payload(docs))


@register(
    "m2_frame_sample",
    oracle="""
    WITH f AS (
        SELECT doc_id,
               LOWER(HEX(ENCODE(text))) AS h,
               CAST(CEIL(OCTET_LENGTH(ENCODE(text)) / 32.0) AS BIGINT) AS n_frames
        FROM documents
        WHERE doc_id < 200
    )
    SELECT f.doc_id,
           t.i AS frame_idx,
           SUBSTRING(f.h, CAST(t.i * 64 + 1 AS INT), 64) AS frame_hex,
           f.n_frames
    FROM f, UNNEST(generate_series(0, f.n_frames - 1, 3)) AS t(i)
    """,
)
def m2_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fake-video frame sampling: payload sliced into 32-byte frames,
    every 3rd frame emitted (1 row → N rows through mapInPandas). The
    oracle re-derives each sampled frame's bytes from the hex dump."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return sample_frames(attach_payload(docs), stride=3)


@register(
    "m3_embedding_batch_score",
    oracle=f"""
    SELECT vec_id, label,
           {sql_dround(
               "SQRT(list_sum(list_transform(embedding,"
               " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))", 6)}
               AS l2_norm
    FROM embeddings
    """,
)
def m3_embedding_batch_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-scored column stand-in: a pandas UDF consuming the
    ``array<float>`` embedding column as numpy batches (the exact
    calling convention of a real encoder/scorer; here the 'model' is an
    L2 norm so DuckDB can certify the values)."""

    def l2_norm(vecs: pd.Series) -> pd.Series:
        return vecs.map(
            lambda v: float(np.sqrt((np.asarray(v, dtype="float64") ** 2).sum()))
        )

    norm_udf = pandas_udf(l2_norm, "double")
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", "label", dround(norm_udf("embedding"), 6).alias("l2_norm")
    )


@register(
    "m4_modality_accounting",
    oracle=f"""
    WITH feat AS (
        SELECT CASE CAST(doc_id % 3 AS INT)
                    WHEN 0 THEN 'image/png'
                    WHEN 1 THEN 'image/jpeg'
                    ELSE 'video/mp4' END AS mime,
               CAST(OCTET_LENGTH(ENCODE(text)) AS DOUBLE) AS n_bytes,
               CAST(doc_id % 640 + 16 AS INT) * CAST(doc_id % 480 + 16 AS INT)
                   AS pixels
        FROM documents
    )
    SELECT mime,
           CAST(COUNT(*) AS BIGINT) AS n_assets,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           {sql_dround("AVG(n_bytes)", 4)} AS avg_bytes,
           {sql_dround("QUANTILE_CONT(n_bytes, 0.95)", 4)} AS p95_bytes,
           {sql_dround("AVG(CAST(pixels AS DOUBLE))", 4)} AS avg_pixels
    FROM feat
    GROUP BY mime
    """,
)
def m4_modality_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modality accounting: per-MIME asset counts, byte totals/
    averages/p95 and average pixel area — the storage-and-compute
    budgeting panel a multimodal corpus pipeline runs before any
    decode pass is scheduled (p95 bytes sizes the Arrow batch budget;
    pixel area sizes the resize stage). Pure rollup of m1's
    byte-certified feature stream: the mapInPandas extraction runs
    once, the shuffle carries O(mime types) keys, and the exact p95
    uses the a10-proven percentile pairing."""
    docs = load_table(spark, sf_dir, "documents")
    feat = extract_features(attach_payload(docs))
    return feat.groupBy("mime").agg(
        F.count("*").cast("bigint").alias("n_assets"),
        F.sum(F.col("n_bytes").cast("double")).cast("bigint").alias(
            "total_bytes"
        ),
        dround(F.avg(F.col("n_bytes").cast("double")), 4).alias("avg_bytes"),
        dround(
            F.percentile(F.col("n_bytes").cast("double"), 0.95), 4
        ).alias("p95_bytes"),
        dround(
            F.avg((F.col("width") * F.col("height")).cast("double")), 4
        ).alias("avg_pixels"),
    )


#: image dimensions derived from doc_id: width 8..23, height 8..19 —
#: small enough that the oracle's pixel grid stays tiny, large enough
#: to exercise every BMP row-padding case (3*w % 4 cycles 0,1,2,3).
_N_DOCS = 300


@register(
    "m5_image_decode_stats",
    oracle=f"""
    WITH d AS (
        SELECT doc_id,
               CAST(doc_id % 16 + 8 AS INT) AS width,
               CAST(doc_id % 12 + 8 AS INT) AS height
        FROM documents WHERE doc_id < {_N_DOCS}
    ), px AS (
        SELECT d.doc_id, d.width, d.height,
               (3 * x.range + 7 * y.range + d.doc_id) % 256 AS r,
               (5 * x.range + 11 * y.range + 2 * d.doc_id) % 256 AS g,
               (x.range * y.range + 3 * d.doc_id) % 256 AS b
        FROM d, range(24) x, range(20) y
        WHERE x.range < d.width AND y.range < d.height
    )
    SELECT doc_id, width, height,
           CAST(COUNT(*) AS BIGINT) AS n_pixels,
           CAST(SUM(r) AS BIGINT) AS sum_r,
           CAST(SUM(g) AS BIGINT) AS sum_g,
           CAST(SUM(b) AS BIGINT) AS sum_b,
           {sql_dround("SUM(r) / CAST(COUNT(*) AS DOUBLE)", 6)} AS mean_r,
           {sql_dround("SUM(g) / CAST(COUNT(*) AS DOUBLE)", 6)} AS mean_g,
           {sql_dround("SUM(b) / CAST(COUNT(*) AS DOUBLE)", 6)} AS mean_b
    FROM px
    GROUP BY doc_id, width, height
    """,
)
def m5_image_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image decode, for real: documents → per-doc test-card BMP bytes
    (mapInPandas encode) → Arrow batch of binary blobs → pure-Python
    BMP parse (mapInPandas decode) → per-channel pixel sums → means.

    The oracle never decodes anything — it regenerates the pixel
    lattice algebraically — so agreement proves the BYTES round-trip:
    BGR ordering, bottom-up rows, and 4-byte row padding (width 8..23
    cycles through all four padding residues) all have to be exactly
    right for the sums to match.

    Scale: two map-only Arrow stages, zero shuffles before the final
    narrow projection; decode cost is per-row bounded and the blob
    column prunes away for queries that don't touch it."""
    docs = load_table(spark, sf_dir, "documents")
    dims = docs.filter(F.col("doc_id") < _N_DOCS).select(
        "doc_id",
        (F.col("doc_id") % 16 + 8).cast("int").alias("width"),
        (F.col("doc_id") % 12 + 8).cast("int").alias("height"),
    )
    stats = image_pixel_stats(dims)
    n = F.col("n_pixels").cast("double")  # >= 64 by construction
    return stats.select(
        "doc_id",
        "width",
        "height",
        "n_pixels",
        "sum_r",
        "sum_g",
        "sum_b",
        dround(F.col("sum_r") / n, 6).alias("mean_r"),
        dround(F.col("sum_g") / n, 6).alias("mean_g"),
        dround(F.col("sum_b") / n, 6).alias("mean_b"),
    )


@register(
    "m6_audio_decode_stats",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, CAST(400 + doc_id % 100 AS BIGINT) AS n
        FROM documents WHERE doc_id < {_N_DOCS}
    ), idx AS (
        SELECT doc_id, n, UNNEST(generate_series(0, n - 1)) AS i FROM d
    ), samp AS (
        SELECT doc_id, n, (7 * i + 13 * doc_id) % 65536 - 32768 AS s
        FROM idx
    )
    SELECT doc_id,
           CAST(8000 AS INT) AS sample_rate,
           CAST(MAX(n) AS BIGINT) AS n_samples,
           CAST(SUM(s) AS BIGINT) AS sum_amp,
           CAST(SUM(s * s) AS BIGINT) AS sum_sq,
           CAST(MAX(ABS(s)) AS INT) AS peak
    FROM samp
    GROUP BY doc_id
    """,
)
def m6_audio_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio decode, for real — the WAV twin of m5: documents →
    deterministic int16 test tone → RIFF/WAVE PCM bytes (mapInPandas
    encode) → Arrow batch of binary blobs → chunk-walking WAV parse
    (mapInPandas decode) → exact integer sample statistics. The
    oracle regenerates every sample closed-form, so a hash match
    certifies the RIFF chunk walk, the little-endian int16 layout,
    and the Arrow transport — never trusting the encoder.

    Exact-integer outputs (sum, sum of squares, peak) rather than
    float RMS keep the cross-engine compare bit-exact; a consumer
    derives rms = sqrt(sum_sq/n) driver-side for free.

    Scale: identical posture to m5 — two map-only Arrow stages, no
    shuffle, memory bounded by batch height × blob size."""
    docs = load_table(spark, sf_dir, "documents")
    lens = docs.filter(F.col("doc_id") < _N_DOCS).select(
        "doc_id",
        (F.lit(400) + F.col("doc_id") % 100).cast("long").alias("n_samples"),
    )
    return audio_sample_stats(lens)


#: doc slice (same as m5 — keeps the tiled pixel lattice bounded)


@register(
    "m7_image_tiling",
    oracle=f"""
    WITH d AS (
        SELECT doc_id,
               CAST(doc_id % 16 + 8 AS INT) AS width,
               CAST(doc_id % 12 + 8 AS INT) AS height
        FROM documents WHERE doc_id < {_N_DOCS}
    ), px AS (
        SELECT d.doc_id,
               CAST(x.range // {TILE_PX} AS INT) AS tile_x,
               CAST(y.range // {TILE_PX} AS INT) AS tile_y,
               (3 * x.range + 7 * y.range + d.doc_id) % 256 AS r,
               (5 * x.range + 11 * y.range + 2 * d.doc_id) % 256 AS g,
               (x.range * y.range + 3 * d.doc_id) % 256 AS b
        FROM d, range(24) x, range(20) y
        WHERE x.range < d.width AND y.range < d.height
    )
    SELECT doc_id, tile_x, tile_y,
           CAST(COUNT(*) AS BIGINT) AS n_px,
           CAST(SUM(r) AS BIGINT) AS sum_r,
           CAST(SUM(g) AS BIGINT) AS sum_g,
           CAST(SUM(b) AS BIGINT) AS sum_b,
           {sql_dround("SUM(r) / CAST(COUNT(*) AS DOUBLE)", 6)}
               AS mean_r
    FROM px
    GROUP BY doc_id, tile_x, tile_y
    """,
)
def m7_image_tiling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image tiling: documents → test-card BMP bytes (mapInPandas
    encode) → pure-Python decode → 4×4 ViT-style patch grid with
    per-patch channel sums — the preprocessing plumbing under every
    vision-transformer ingest job. Edge patches are PARTIAL (widths
    8..23 and heights 8..19 are mostly not multiples of 4), and the
    oracle regenerates the whole tiled lattice closed-form, so tile
    boundary arithmetic, BGR ordering, bottom-up rows, and row
    padding must all be exactly right for ~20k patch rows to hash.

    Scale: two map-only Arrow stages (no shuffle before the final
    projection); the patch reduce happens INSIDE the decode batch, so
    what leaves Python is the (doc, tile) grid — ~35× smaller than
    the pixel lattice — never raw pixels."""
    docs = load_table(spark, sf_dir, "documents")
    dims = docs.filter(F.col("doc_id") < _N_DOCS).select(
        "doc_id",
        (F.col("doc_id") % 16 + 8).cast("int").alias("width"),
        (F.col("doc_id") % 12 + 8).cast("int").alias("height"),
    )
    tiles = image_tile_stats(dims)
    return tiles.select(
        "doc_id",
        "tile_x",
        "tile_y",
        "n_px",
        "sum_r",
        "sum_g",
        "sum_b",
        dround(
            F.col("sum_r") / F.col("n_px").cast("double"), 6
        ).alias("mean_r"),
    )


#: doc slice (same as m6 — tones of 400..499 samples → 2 full frames)


@register(
    "m8_audio_framing",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, CAST(400 + doc_id % 100 AS BIGINT) AS n
        FROM documents WHERE doc_id < {_N_DOCS}
    ), frames AS (
        SELECT doc_id, n,
               UNNEST(generate_series(0,
                   (n - {FRAME_LEN}) // {FRAME_HOP})) AS f
        FROM d WHERE n >= {FRAME_LEN}
    ), samp AS (
        SELECT fr.doc_id, fr.f,
               (7 * (fr.f * {FRAME_HOP} + i.i) + 13 * fr.doc_id)
                   % 65536 - 32768 AS s
        FROM frames fr,
             (SELECT UNNEST(generate_series(0, {FRAME_LEN - 1})) AS i) i
    )
    SELECT doc_id,
           CAST(f AS INT) AS frame_idx,
           CAST({FRAME_LEN} AS INT) AS n_samp,
           CAST(SUM(s) AS BIGINT) AS sum_amp,
           CAST(SUM(s * s) AS BIGINT) AS sum_sq,
           CAST(MAX(ABS(s)) AS INT) AS peak,
           {sql_dround(
               f"SQRT(SUM(s * s) / CAST({FRAME_LEN} AS DOUBLE))", 6
           )} AS rms
    FROM samp
    GROUP BY doc_id, f
    """,
)
def m8_audio_framing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio framing: documents → test-tone WAV bytes (mapInPandas
    encode) → RIFF chunk-walk decode → overlapping 256-sample frames
    at hop 128 (50% overlap, the STFT default) with exact integer
    energy stats + RMS per frame — the front end of every
    spectrogram/VAD/diarization pipeline, and the audio twin of m7's
    patch grid. Full frames only; the oracle regenerates every frame
    closed-form from the tone formula, so hop arithmetic, overlap
    membership, and tail truncation must all be exactly right.

    Scale: two map-only Arrow stages, zero shuffles; what leaves
    Python is the frame grid (~2 rows/doc here; at 16 kHz speech,
    ~125 rows/s of audio), never raw samples. Integer sums are exact
    — only the final RMS touches floats, IEEE-pinned on both
    engines."""
    docs = load_table(spark, sf_dir, "documents")
    lens = docs.filter(F.col("doc_id") < _N_DOCS).select(
        "doc_id",
        (F.lit(400) + F.col("doc_id") % 100)
        .cast("long")
        .alias("n_samples"),
    )
    frames = audio_frame_stats(lens)
    return frames.select(
        "doc_id",
        "frame_idx",
        "n_samp",
        "sum_amp",
        "sum_sq",
        "peak",
        dround(
            F.sqrt(
                F.col("sum_sq").cast("double") / F.lit(float(FRAME_LEN))
            ),
            6,
        ).alias("rms"),
    )
