"""Round-5 streaming batch-twin batch 2 (SURVEY.md §2.10): watermark
late-data accounting.

t1/t2/t4 certify the WINDOWING side of the streaming surface in batch
form; t5 certifies the WATERMARK side — which rows a
``withWatermark(delay)`` stream would drop, and by how much they miss.
streaming/jobs.py proves the live behavior (rate source + memory
sink); this query pins the exact arithmetic against the SQL oracle so
the drop rule itself is value-checked, not just exercised.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register

_DELAY_S = 600  # withWatermark("10 minutes") equivalent


@register(
    "t5_late_data_accounting",
    oracle=f"""
    WITH arr AS (
        SELECT event_type, ts,
               MAX(ts) OVER (PARTITION BY event_type ORDER BY event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS seen_max
        FROM events
    ), flagged AS (
        SELECT event_type,
               CASE WHEN seen_max IS NOT NULL AND
                    EPOCH(seen_max) - EPOCH(ts) > {_DELAY_S}
                    THEN 1 ELSE 0 END AS is_late,
               CASE WHEN seen_max IS NOT NULL AND
                    EPOCH(seen_max) - EPOCH(ts) > {_DELAY_S}
                    THEN EPOCH(seen_max) - EPOCH(ts) - {_DELAY_S}
                    ELSE NULL END AS miss_s
        FROM arr
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(is_late) AS BIGINT) AS n_dropped,
           {sql_dround("SUM(is_late) / CAST(COUNT(*) AS DOUBLE)", 6)}
               AS drop_frac,
           {sql_dround("MAX(miss_s)", 3)} AS max_miss_s,
           {sql_dround("AVG(miss_s)", 3)} AS avg_miss_s
    FROM flagged
    GROUP BY event_type
    """,
)
def t5_late_data_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data accounting: replaying each event stream in
    ARRIVAL order (event_id), a row is dropped when its event time
    trails the maximum event time already seen by more than the
    watermark delay — exactly Structured Streaming's
    ``withWatermark('10 minutes')`` drop rule, evaluated per source
    stream. Reports drop counts and how far past the watermark the
    dropped rows missed (the number you tune the delay with: if
    max_miss_s is 30 s, a 11-minute delay would have kept
    everything).

    The running "max event time seen so far" is the 1-PRECEDING
    cummax frame — one WindowExec per stream partition, the same
    single-pass posture as d51's running peak. Watermark simulation
    is per-key (as if each event_type were its own source, the
    per-partition watermark model); a GLOBAL watermark would need a
    single-partition sort — the l34 anti-pattern — and is exactly
    what the live streaming tests in streaming/jobs.py already cover
    engine-side."""
    events = load_table(spark, sf_dir, "events")
    win = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    arr = events.select(
        "event_type",
        "ts",
        F.max("ts").over(win).alias("seen_max"),
    )
    # CAST(ts AS DOUBLE) keeps fractional seconds (micros), matching
    # the oracle's EPOCH() — whole-second unix_timestamp truncation
    # would misclassify rows straddling the delay boundary.
    gap = F.col("seen_max").cast("double") - F.col("ts").cast("double")
    late = F.col("seen_max").isNotNull() & (gap > _DELAY_S)
    flagged = arr.select(
        "event_type",
        F.when(late, 1).otherwise(0).alias("is_late"),
        F.when(late, gap - _DELAY_S).alias("miss_s"),
    )
    return flagged.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("is_late").cast("bigint").alias("n_dropped"),
        dround(
            F.sum("is_late") / F.count("*").cast("double"), 6
        ).alias("drop_frac"),
        dround(F.max("miss_s").cast("double"), 3).alias("max_miss_s"),
        dround(F.avg("miss_s"), 3).alias("avg_miss_s"),
    )
