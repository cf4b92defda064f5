"""Round-5 window batch 2 (SURVEY.md §2.5): portable emulations of
the two window-frame features Spark's engine lacks — `EXCLUDE
CURRENT ROW` and `GROUPS` frames.

w7's oracle runs DuckDB's NATIVE `EXCLUDE CURRENT ROW` — the
strongest kind of oracle in the repo: the engines run genuinely
different formulations (Spark = algebraic rewrite, DuckDB = the
SQL:2011 frame clause itself), so the hash match proves the rewrite
law. w8's GROUPS frame is unimplemented in BOTH engines (DuckDB
parser-verified), so its oracle derives the semantics by a third
route (LAG/LEAD over collapsed groups). SURVEY.md's
engine-limitations note points here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register

_HALF = 10  # ±10 rows → 21-row centered frame


@register(
    "w7_exclude_current_row",
    oracle=f"""
    SELECT event_id, event_type,
           {sql_dround(
               f"AVG(value) OVER (PARTITION BY event_type"
               f" ORDER BY ts, event_id"
               f" ROWS BETWEEN {_HALF} PRECEDING AND {_HALF} FOLLOWING"
               f" EXCLUDE CURRENT ROW)", 6)} AS peer_mean,
           {sql_dround(
               f"value - AVG(value) OVER (PARTITION BY event_type"
               f" ORDER BY ts, event_id"
               f" ROWS BETWEEN {_HALF} PRECEDING AND {_HALF} FOLLOWING"
               f" EXCLUDE CURRENT ROW)", 6)} AS self_vs_peers
    FROM events
    """,
)
def w7_exclude_current_row(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`EXCLUDE CURRENT ROW` frames (SQL:2011), which Spark's window
    engine does not implement: the leave-one-out peer mean — compare
    each observation to its neighborhood WITHOUT letting it pull the
    average toward itself (the standard form for peer-deviation
    signals and leave-one-out baselines). Portable rewrite: the
    excluded mean is algebra over the plain frame, (sum −
    coalesce(x,0))/(cnt − [x not null]), so Spark evaluates one
    ordinary 21-row frame computing sum and count — same single
    WindowExec, no second pass. The null-aware form matters:
    count('value') already excludes null rows, so a NULL current row
    must subtract nothing from either side — the naive (sum−x)/(cnt−1)
    would go NULL and double-discount while the frame clause still
    averages the peers. The oracle runs DuckDB's NATIVE `EXCLUDE
    CURRENT ROW`, so the hash match certifies the rewrite law
    itself."""
    events = load_table(spark, sf_dir, "events")
    frame = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-_HALF, _HALF)
    )
    x = F.col("value")
    loo = F.try_divide(
        F.sum("value").over(frame) - F.coalesce(x, F.lit(0.0)),
        F.count("value").over(frame)
        - F.when(x.isNotNull(), 1).otherwise(0),
    )
    return events.select(
        "event_id",
        "event_type",
        dround(loo, 6).alias("peer_mean"),
        dround(F.col("value") - loo, 6).alias("self_vs_peers"),
    )


@register(
    "w8_groups_frame",
    oracle=f"""
    WITH daily AS (
        SELECT event_type,
               CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
               SUM(value) AS s, COUNT(*) AS c
        FROM events
        GROUP BY event_type, DATE_TRUNC('day', ts)
    ), neigh AS (
        SELECT event_type, day,
               COALESCE(LAG(s) OVER w, 0) + s
                   + COALESCE(LEAD(s) OVER w, 0) AS g_sum,
               COALESCE(LAG(c) OVER w, 0) + c
                   + COALESCE(LEAD(c) OVER w, 0) AS g_cnt
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT event_type, day,
           {sql_dround("g_sum / CAST(g_cnt AS DOUBLE)", 6)} AS grouped_avg,
           CAST(g_cnt AS BIGINT) AS grouped_cnt
    FROM neigh
    """,
)
def w8_groups_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`GROUPS` frames (SQL:2011 — frame bounds count DISTINCT order
    values, not rows), also absent from Spark: the 3-day neighborhood
    average where each day is one 'group' regardless of how many
    ticks it holds. Portable rewrite: collapse to one row per (key,
    day) carrying (sum, cnt) — after which GROUPS≡ROWS — run the ±1
    ROWS frame over the collapsed table, and divide the summed sums
    by the summed counts. This is also the SCALE-right form: the
    window input shrinks from ticks to days before any sort, so the
    per-partition sort is O(days), not O(ticks). (This DuckDB build
    also lacks GROUPS — parser-verified — so the oracle derives the
    same semantics a third way: LAG/LEAD + COALESCE over the
    collapsed days. Different formulation, one hash.)"""
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.groupBy(
            "event_type", F.date_trunc("day", "ts").alias("day")
        )
        .agg(F.sum("value").alias("s"), F.count("*").alias("c"))
    )
    frame = (
        Window.partitionBy("event_type").orderBy("day").rowsBetween(-1, 1)
    )
    return daily.select(
        "event_type",
        "day",
        dround(
            F.sum("s").over(frame) / F.sum("c").over(frame), 6
        ).alias("grouped_avg"),
        F.sum("c").over(frame).cast("bigint").alias("grouped_cnt"),
    )
