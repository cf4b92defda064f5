"""Round-3 securities-master additions (SURVEY.md §2.11): TWAP,
bucketed as-of join (the dense-right-side scale path, driver-proven
here), and linear interpolation of gapped series.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.operators.asof import asof_join_bucketed
from security_master_spark.plans.registry import register


@register(
    "d12_twap",
    oracle=f"""
    WITH seg AS (
        SELECT event_type,
               CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
               value,
               EPOCH(LEAD(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id))
                   - EPOCH(ts) AS dur
        FROM events
    )
    SELECT event_type, day,
           {sql_dround("SUM(value * dur) / SUM(dur)", 6)} AS twap
    FROM seg
    WHERE dur IS NOT NULL
    GROUP BY event_type, day
    HAVING SUM(dur) > 0
    """,
)
def d12_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average price per (event_type, day): each
    observation is weighted by how long it was the prevailing value
    (until the next event in the same series). One window pass for the
    durations (lead), one shuffle for the rollup — the standard
    TWAP/VWAP shape. Segments belong to the day they start in; the last
    observation of a series has no duration and is excluded on both
    sides."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seg = events.select(
        "event_type",
        F.date_trunc("day", "ts").alias("day"),
        "value",
        (
            F.lead("ts").over(w).cast("double") - F.col("ts").cast("double")
        ).alias("dur"),
    ).filter(F.col("dur").isNotNull())
    return (
        seg.groupBy("event_type", "day")
        .agg(
            dround(
                F.try_divide(F.sum(F.col("value") * F.col("dur")), F.sum("dur")), 6
            ).alias("twap"),
            F.sum("dur").alias("__total_dur"),
        )
        .filter(F.col("__total_dur") > 0)
        .drop("__total_dur")
    )


_BUCKET_SECONDS = 7 * 86400


@register(
    "d13_asof_bucketed",
    oracle=f"""
    WITH p AS (
        SELECT event_id, user_id, ts, value FROM events
        WHERE event_type = 'purchase'
    ), v AS (
        SELECT user_id, ts AS view_ts, value AS view_value FROM events
        WHERE event_type = 'view'
    )
    SELECT p.event_id, p.user_id, p.ts, p.value, v.view_ts, v.view_value
    FROM p JOIN v
      ON p.user_id = v.user_id
     AND v.view_ts <= p.ts
     AND EPOCH(v.view_ts) >=
         (FLOOR(EPOCH(p.ts) / {_BUCKET_SECONDS}) - 1) * {_BUCKET_SECONDS}
    QUALIFY row_number() OVER (
        PARTITION BY p.event_id
        ORDER BY v.view_ts DESC, v.view_value DESC
    ) = 1
    """,
)
def d13_asof_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucketed as-of join (operators/asof.py:asof_join_bucketed) on
    the d1 fixture slices, 7-day buckets: for each purchase, the latest
    prior view by the same user *no older than the preceding time
    bucket*. The bucket id joins the shuffle key, so a 100 TB as-of
    co-locates by (key, time-range) and bounds per-task fan-out to ~2
    buckets of right rows (see the crossover table in operators/asof.py).
    The oracle states the bucket restriction explicitly — matches the
    operator's semantics, not just its fixture output."""
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    views = events.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("view_ts"),
        F.col("value").alias("view_value"),
    )
    return asof_join_bucketed(
        purchases,
        views,
        on=["user_id"],
        left_ts="ts",
        right_ts="view_ts",
        bucket_seconds=_BUCKET_SECONDS,
        # same duplicate-(user, ts) pin as d1: without it the pick
        # among same-instant views is engine/partition-arbitrary
        tiebreak=[F.col("view_value").desc()],
    ).select("event_id", "user_id", "ts", "value", "view_ts", "view_value")


@register(
    "d14_linear_interpolation",
    oracle=f"""
    WITH gapped AS (
        SELECT event_id, user_id, ts,
               CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
        FROM events
    ), ctx AS (
        SELECT event_id, user_id, ts, v,
               LAST_VALUE(v IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS pv,
               LAST_VALUE(CASE WHEN v IS NOT NULL THEN ts END IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS pts,
               FIRST_VALUE(v IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
               ) AS nv,
               FIRST_VALUE(CASE WHEN v IS NOT NULL THEN ts END IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
               ) AS nts
        FROM gapped
    )
    SELECT event_id, user_id, ts,
           {sql_dround(
               "CASE WHEN v IS NOT NULL THEN v "
               "WHEN pv IS NULL THEN nv "
               "WHEN nv IS NULL THEN pv "
               "ELSE pv + (nv - pv) * (EPOCH(ts) - EPOCH(pts)) "
               "/ (EPOCH(nts) - EPOCH(pts)) END",
               6,
           )} AS value_interp
    FROM ctx
    """,
)
def d14_linear_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap repair by linear interpolation: error events (no valid
    quote) get the time-proportional blend of the neighboring observed
    values per user; leading/trailing gaps fall back to the one
    available neighbor. Two window passes (backward-looking last,
    forward-looking first, both IGNORE NULLS) — no self-join, no UDF;
    same ordering contract as d3_forward_fill (ts, event_id)."""
    events = load_table(spark, sf_dir, "events")
    gapped = events.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type") == "error", None)
        .otherwise(F.col("value"))
        .alias("v"),
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    obs_ts = F.when(F.col("v").isNotNull(), F.col("ts"))
    ctx = gapped.select(
        "event_id",
        "user_id",
        "ts",
        "v",
        F.last("v", ignorenulls=True).over(wb).alias("pv"),
        F.last(obs_ts, ignorenulls=True).over(wb).alias("pts"),
        F.first("v", ignorenulls=True).over(wf).alias("nv"),
        F.first(obs_ts, ignorenulls=True).over(wf).alias("nts"),
    )
    frac = F.try_divide(
        F.col("ts").cast("double") - F.col("pts").cast("double"),
        F.col("nts").cast("double") - F.col("pts").cast("double"),
    )
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(F.col("pv") + (F.col("nv") - F.col("pv")) * frac)
    )
    return ctx.select(
        "event_id", "user_id", "ts", dround(interp, 6).alias("value_interp")
    )


@register(
    "d15_max_drawdown",
    oracle=f"""
    WITH cum AS (
        SELECT user_id, ts, event_id,
               SUM(value) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS equity
        FROM events WHERE event_type = 'purchase'
    ), dd AS (
        SELECT user_id,
               MAX(equity) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS peak,
               equity
        FROM cum
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_obs,
           {sql_dround("MAX(peak - equity)", 6)} AS max_drawdown
    FROM dd
    GROUP BY user_id
    """,
)
def d15_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per user over the cumulative purchase series:
    running equity (window cumsum in time order), running peak over the
    same order, and the deepest peak-to-trough gap. Two stacked window
    passes over ONE partitioning — Spark plans a single Exchange on
    user_id and evaluates the windows back-to-back without
    re-shuffling; the final rollup reuses the same hash partitioning.
    The window order is pinned (ts, event_id) so the float summation
    sequence — and therefore the result — is identical across
    engines."""
    events = load_table(spark, sf_dir, "events")
    w_time = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        "event_id",
        F.sum("value").over(w_time).alias("equity"),
    )
    dd = cum.select(
        "user_id",
        F.max("equity").over(w_time).alias("peak"),
        "equity",
    )
    return dd.groupBy("user_id").agg(
        F.count("*").alias("n_obs"),
        dround(F.max(F.col("peak") - F.col("equity")), 6).alias("max_drawdown"),
    )
