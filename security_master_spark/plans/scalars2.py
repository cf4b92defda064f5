"""Round-5 scalar-surface candidates (SURVEY.md §2.8): the Spark 4
VARIANT type for semi-structured data and string collations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register


@register(
    "s18_variant_type",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(props::JSON ->> 'k' AS INT)) AS BIGINT) AS sum_k,
           {sql_dround("AVG(CAST(props::JSON ->> 'k' AS INT))", 6)} AS avg_k,
           CAST(COUNT(CAST(props::JSON ->> 'missing' AS INT)) AS BIGINT)
               AS n_missing
    FROM events
    GROUP BY event_type
    """,
)
def s18_variant_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT: parse the JSON props column ONCE into the
    binary variant encoding, then extract typed fields with
    try_variant_get — the schema-on-read path that replaces
    per-extraction JSON string re-parsing (the s7 get_json_object
    style re-tokenizes the string per field; variant parses once and
    navigates an encoded tree, the same trade Parquet VARIANT
    shredding banks on at scale). A missing path returns NULL rather
    than erroring (n_missing certifies that on every row), and the
    extraction + aggregation stay in one codegen hash-agg pass."""
    events = load_table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.try_variant_get(v, "$.k", "int")
    missing = F.try_variant_get(v, "$.missing", "int")
    return events.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(k).cast("bigint").alias("sum_k"),
        dround(F.avg(k), 6).alias("avg_k"),
        F.count(missing).cast("bigint").alias("n_missing"),
    )


#: mixed-case segment dim — the case mismatch vs the fixture's
#: uppercase c_mktsegment is the POINT: only a case-insensitive
#: comparison matches anything.
_SEGMENT_TIERS = [
    ("Building", "brick"),
    ("Automobile", "mobile"),
    ("Machinery", "industrial"),
    ("Household", "consumer"),
    ("Furniture", "consumer"),
]


@register(
    "s19_collation",
    oracle=f"""
    WITH tiers(label, tier) AS (
        VALUES {", ".join(f"('{label}', '{tier}')" for label, tier in _SEGMENT_TIERS)}
    )
    SELECT t.tier,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           {sql_dround("AVG(c.c_acctbal)", 6)} AS avg_acctbal
    FROM customer c
    JOIN tiers t ON lower(c.c_mktsegment) = lower(t.label)
    GROUP BY t.tier
    """,
)
def s19_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 collations: join the fixture's UPPERCASE market
    segments against a Mixed-Case dimension under UTF8_LCASE — the
    collation does real work here (a case-sensitive join would match
    ZERO rows), and unlike a lower()-both-sides rewrite the collated
    comparison keeps the join an ordinary equi-join the planner can
    broadcast, with the case rule carried by the TYPE rather than
    re-spelled at every call site (exactly how analysts stop writing
    lower() bugs). The oracle mirrors with lower() since DuckDB
    expresses the same rule functionally."""
    cust = load_table(spark, sf_dir, "customer")
    tiers = spark.createDataFrame(_SEGMENT_TIERS, ["label", "tier"])
    joined = cust.join(
        F.broadcast(tiers),
        F.collate(cust.c_mktsegment, "UTF8_LCASE")
        == F.collate(tiers.label, "UTF8_LCASE"),
    )
    return joined.groupBy("tier").agg(
        F.count("*").cast("bigint").alias("n_customers"),
        dround(F.avg("c_acctbal"), 6).alias("avg_acctbal"),
    )
