"""Round-7 IO batch 4 (SURVEY.md §2.1): parquet schema-merge read —
two generations of files with DIFFERENT schemas in one dataset,
unified by ``mergeSchema`` (io7 evolves the declared read schema;
this exercises footer-level union across heterogeneous files).
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register


# Register-free shared helper — importing io_scratch (unlike
# sources_io) registers nothing, so registry order is safe.
from security_master_spark.plans.io_scratch import _scratch


#: orderkey split point between the "old" and "new" file generations.
_GEN_SPLIT = 30000


@register(
    "io23_parquet_merge_schema",
    oracle=f"""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN o_orderkey < {_GEN_SPLIT}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_legacy,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS total_price_cents,
           CAST(SUM(CASE WHEN o_orderkey >= {_GEN_SPLIT}
                    THEN CAST(FLOOR((o_totalprice * 0.1) * 1000 + 0.5)
                              AS BIGINT) END) AS BIGINT)
               AS total_fee_mils
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def io23_parquet_merge_schema(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Parquet schema-merge read: the dataset's "legacy" generation
    (orderkey < split) is written WITHOUT the fee column, the "new"
    generation with it; ``mergeSchema`` unifies the footers so legacy
    rows surface NULL fees — the additive-column evolution every
    long-lived lake table goes through, here at the FILE level rather
    than io7's declared-schema level. The aggregate exercises exactly
    the NULL semantics evolution creates (fee sums skip legacy rows;
    counts include them), certified against the original table. Sums
    are EXACT integers (cents for price, mils for the 10% fee —
    fee×1000 = price×100, an integer): at sf0.1 per-status double
    sums exceed what a 4dp round absorbs in summation-order noise.

    Scale note: mergeSchema reads EVERY file's footer at planning
    time — fine per-partition-directory, expensive over 10⁶ loose
    files; the production posture is evolution tracked in a catalog
    (or io7's declared schema) with mergeSchema as the ad-hoc tool.
    Data reads stay splittable and column-pruned either way."""
    orders = load_table(spark, sf_dir, "orders")
    legacy = orders.filter(F.col("o_orderkey") < _GEN_SPLIT).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    modern = orders.filter(F.col("o_orderkey") >= _GEN_SPLIT).select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        (F.col("o_totalprice") * 0.1).alias("o_fee"),
    )
    path = _scratch(sf_dir, "merge_schema")
    legacy.write.mode("overwrite").parquet(f"{path}/gen=legacy")
    modern.write.mode("overwrite").parquet(f"{path}/gen=modern")
    back = spark.read.option("mergeSchema", "true").parquet(
        f"{path}/gen=legacy", f"{path}/gen=modern"
    )
    return back.groupBy("o_orderstatus").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(F.when(F.col("o_fee").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_legacy"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
        )
        .cast("bigint")
        .alias("total_price_cents"),
        F.sum(
            F.floor(F.col("o_fee") * 1000 + 0.5).cast("bigint")
        )
        .cast("bigint")
        .alias("total_fee_mils"),
    )
