"""Round-5 API-surface candidate (SURVEY.md §2.13 adjunct): the
pandas API on Spark (`pyspark.pandas`) — the drop-in pandas dialect
that compiles to the same Catalyst plans as the DataFrame API, so a
pandas-fluent user of the reference can keep their idioms and still
get distributed execution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register


@register(
    "u12_pandas_api_on_spark",
    oracle=f"""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sql_dround("SUM(o_totalprice)", 4)} AS revenue,
           {sql_dround("AVG(o_totalprice)", 4)} AS avg_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def u12_pandas_api_on_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas API on Spark: `ps.read_parquet` → `groupby().agg()` →
    `to_spark()`, hash-certified against the SQL oracle. The pandas
    dialect COMPILES to Catalyst — the executed plan is the same scan
    → partial/final hash aggregate as the DataFrame spelling, with no
    pandas materialization anywhere (only expressions that genuinely
    need total order, like default sequential indexes, cost extra —
    avoided here by aggregating straight off the grouped frame). This
    is the migration surface for pandas-idiom users of the reference:
    same code shape, distributed plan."""
    import warnings

    import pyspark.pandas as ps

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        psdf = ps.read_parquet(f"{sf_dir}/orders.parquet")
        out = (
            psdf.groupby("o_orderstatus")
            .agg(
                n_orders=("o_orderkey", "count"),
                revenue=("o_totalprice", "sum"),
                avg_price=("o_totalprice", "mean"),
            )
            .reset_index()
        )
        sdf = out.to_spark()
    return sdf.select(
        "o_orderstatus",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        dround(F.col("revenue"), 4).alias("revenue"),
        dround(F.col("avg_price"), 4).alias("avg_price"),
    )
