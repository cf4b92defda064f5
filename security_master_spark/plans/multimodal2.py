"""Round-6 multimodal batch 2 (SURVEY.md §2.12): REAL image decode in
the Arrow pipeline — the seam that was a NotImplementedError stub for
two rounds is now a working pure-Python 24-bit BMP / P6 PPM codec
(multimodal/binary.py:decode_image), certified end-to-end: Spark
renders a deterministic RGB test card per document, encodes it to
real BMP bytes, ships the bytes through an Arrow batch boundary,
decodes them back, and reduces to per-channel pixel sums — while the
DuckDB oracle recomputes every pixel closed-form in SQL without ever
seeing a byte of BMP. A hash match certifies the decoder, the
encoder, the padding/row-order handling, and the Arrow plumbing in
one shot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.multimodal.binary import (
    audio_sample_stats,
    image_pixel_stats,
)
from security_master_spark.plans.registry import register

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
