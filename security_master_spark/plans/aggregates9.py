"""Round-7 aggregate batch 2 (SURVEY.md §2.4): ordered-set
aggregates — PERCENTILE_DISC / PERCENTILE_CONT with the SQL:2008
``WITHIN GROUP (ORDER BY ...)`` syntax (a22's LISTAGG is the string
member of this family; these are the numeric ones).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import sql_dround
from security_master_spark.plans.registry import register


@register(
    "a31_ordered_set_aggregates",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           quantile_disc(value, 0.5) AS p50_disc,
           quantile_disc(value, 0.9) AS p90_disc,
           {sql_dround("quantile_cont(value, 0.5)", 6)} AS p50_cont,
           quantile_disc(value, 0.5) <= quantile_cont(value, 0.5)
               OR quantile_cont(value, 0.5) - quantile_disc(value, 0.5)
                  < 1e-9 AS disc_le_cont_plus_eps
    FROM events
    GROUP BY event_type
    """,
)
def a31_ordered_set_aggregates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Ordered-set aggregates through the SQL:2008 surface:
    ``PERCENTILE_DISC(f) WITHIN GROUP (ORDER BY v)`` — the DISCRETE
    percentile, which returns an ACTUAL data value (no interpolation),
    so unlike the continuous form it is hash-exact with zero rounding
    concern — next to the continuous form for contrast, plus an
    in-row sanity bound (disc p50 ≤ cont p50, up to epsilon). a10
    covers the function-call spelling; this certifies the WITHIN
    GROUP parse surface and the disc-vs-cont semantic split
    (DuckDB's quantile_disc picks the same lower-median element,
    certified by the hash on raw doubles).

    Shape: one map-side-combined groupBy; the exact percentile sort
    is per-group (the dq12 audit-cost note applies — a13's t-digest
    is the screening sibling)."""
    events = load_table(spark, sf_dir, "events")
    events.createOrReplaceTempView("events_a31")
    return spark.sql(f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY value)
               AS p50_disc,
           PERCENTILE_DISC(0.9) WITHIN GROUP (ORDER BY value)
               AS p90_disc,
           {sql_dround(
               "PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY value)", 6
           )} AS p50_cont,
           PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY value)
               <= PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY value)
           OR PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY value)
              - PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY value)
              < 1e-9 AS disc_le_cont_plus_eps
    FROM events_a31
    GROUP BY event_type
    """)
