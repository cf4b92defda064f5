"""Round-7 LLM-pipeline batch 2 (SURVEY.md §2.12): embedding-norm
quality audit — the vector-store ingest gate that catches collapsed,
blown-up, or un-normalized embeddings before they poison retrieval.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.functions.vector import norm
from security_master_spark.plans.registry import register


@register(
    "l67_embedding_norm_audit",
    oracle=f"""
    WITH n AS (
        SELECT label, vec_id,
               SQRT(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                   AS nrm
        FROM embeddings
    ), z AS (
        SELECT label, vec_id, nrm,
               AVG(nrm) OVER (PARTITION BY label) AS mu,
               STDDEV_SAMP(nrm) OVER (PARTITION BY label) AS sd
        FROM n
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           {sql_dround("AVG(nrm)", 6)} AS mean_norm,
           {sql_dround("STDDEV_SAMP(nrm)", 6)} AS std_norm,
           {sql_dround("MIN(nrm)", 6)} AS min_norm,
           {sql_dround("MAX(nrm)", 6)} AS max_norm,
           CAST(SUM(CASE WHEN ABS(nrm - mu) > 3 * sd
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(SUM(CASE WHEN nrm < 1e-9 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_degenerate
    FROM z
    GROUP BY label
    """,
)
def l67_embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-norm quality audit per label: L2-norm distribution
    (mean/std/min/max), |z| > 3 outlier count, and degenerate
    (≈zero-norm) vector count — the ingest gate every vector store
    needs, because a batch of collapsed or exploded embeddings
    silently wrecks cosine retrieval (l5/l13/l21) long before any
    recall metric notices. Complements l47 (covariance structure) and
    l40 (quantization error) with the first-order sanity check.

    Shape: the norm folds JVM-side (zip_with/aggregate over the float
    array — no Python), one label-key shuffle serves the
    mean/std window AND the final rollup; shuffled rows carry
    (label, norm) doubles, never the vectors. Float32 values are
    widened to double BEFORE squaring on BOTH engines, so the sums
    are bit-comparable at 6dp."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.select(
        "label", "vec_id", norm(F.col("embedding")).alias("nrm")
    )
    w = Window.partitionBy("label")
    z = n.select(
        "label",
        "nrm",
        F.avg("nrm").over(w).alias("mu"),
        F.stddev_samp("nrm").over(w).alias("sd"),
    )
    return z.groupBy(F.col("label").cast("bigint").alias("label")).agg(
        F.count("*").cast("bigint").alias("n_vectors"),
        dround(F.avg("nrm"), 6).alias("mean_norm"),
        dround(F.stddev_samp("nrm"), 6).alias("std_norm"),
        dround(F.min("nrm"), 6).alias("min_norm"),
        dround(F.max("nrm"), 6).alias("max_norm"),
        F.sum(
            F.when(
                F.abs(F.col("nrm") - F.col("mu")) > 3 * F.col("sd"), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_outliers"),
        F.sum(F.when(F.col("nrm") < 1e-9, 1).otherwise(0))
        .cast("bigint")
        .alias("n_degenerate"),
    )
