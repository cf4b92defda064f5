"""Round-7 multimodal batch (SURVEY.md §2.12): image tiling — the
ViT-style decode → patch-grid → per-patch-statistics pipeline, with
the tile grid (including PARTIAL edge tiles) certified closed-form by
the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.multimodal.binary import (
    TILE_PX,
    image_tile_stats,
)
from security_master_spark.plans.registry import register

#: doc slice (same as m5 — keeps the tiled pixel lattice bounded)
_N_DOCS = 300


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
