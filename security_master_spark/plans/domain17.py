"""Round-6 securities/behavioral-domain batch 5 (SURVEY.md §2.11):
multi-touch conversion attribution, Markov event-transition matrix,
and the Kaplan-Meier survival estimator — the journey-analytics and
survival-statistics primitives of an event master.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.ordering import (
    sql_tick_order_key,
    tick_order_key,
)
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register

#: touch channels credited by the attribution models; 'purchase' is
#: the conversion event.
_TOUCH_TYPES = ("view", "click", "signup", "error")
_TOUCH_SQL = ", ".join(f"'{t}'" for t in _TOUCH_TYPES)


@register(
    "d72_touch_attribution",
    oracle=f"""
    WITH stream AS (
        SELECT user_id, ts, event_id, event_type,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cum_p
        FROM events
    ), touches AS (
        SELECT user_id, ts, event_id, event_type,
               cum_p + 1 AS conv_id
        FROM stream WHERE event_type IN ({_TOUCH_SQL})
    ), convs AS (
        SELECT user_id, cum_p AS conv_id
        FROM stream WHERE event_type = 'purchase'
    ), journeys AS (
        SELECT t.user_id, t.conv_id, t.event_type, t.ts, t.event_id,
               COUNT(*) OVER (PARTITION BY t.user_id, t.conv_id)
                   AS n_touches,
               ROW_NUMBER() OVER (PARTITION BY t.user_id, t.conv_id
                                  ORDER BY t.ts, t.event_id) AS rn_first,
               ROW_NUMBER() OVER (PARTITION BY t.user_id, t.conv_id
                                  ORDER BY t.ts DESC, t.event_id DESC)
                   AS rn_last
        FROM touches t JOIN convs c
          ON c.user_id = t.user_id AND c.conv_id = t.conv_id
    )
    SELECT event_type AS channel,
           CAST(SUM(CASE WHEN rn_first = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS first_touch,
           CAST(SUM(CASE WHEN rn_last = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS last_touch,
           {sql_dround("SUM(1.0 / n_touches)", 6)} AS linear_credit
    FROM journeys
    GROUP BY event_type
    """,
)
def d72_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch conversion attribution: every purchase is a
    conversion; the touches since the user's previous purchase form
    its journey, and each channel is credited under three standard
    models at once — first-touch (1 to the journey's first touch),
    last-touch (1 to its last), and linear (1/n to every touch).
    Credits across channels sum to the number of attributed
    conversions under each model — the accounting identity BI teams
    reconcile against.

    Journey assembly is pure windows, no self-join on time: one
    cumulative purchase count over the user's ordered stream gives
    every touch its NEXT conversion id (cum_p + 1) and every purchase
    its own id (cum_p, which already counts itself), so journeys are
    an equi-join of touches to conversions on (user, conv_id) —
    touches after the last purchase fall out (unconverted), purchases
    with no prior touch fall out (unattributable), both engines
    identically.

    Scale: one (user, time) window shuffle + one (user, conv_id)
    equi-join + per-journey windows on the same key + one channel
    rollup of counts — nothing wider than the event stream ever
    shuffles, and the final frame is |channels| rows."""
    events = load_table(spark, sf_dir, "events")
    wcum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    stream = events.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .over(wcum)
        .alias("cum_p"),
    )
    touches = stream.filter(F.col("event_type").isin(*_TOUCH_TYPES)).select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        (F.col("cum_p") + 1).alias("conv_id"),
    )
    convs = stream.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("cum_p").alias("conv_id")
    )
    wj = Window.partitionBy("user_id", "conv_id")
    wf = wj.orderBy("ts", "event_id")
    wl = wj.orderBy(F.desc("ts"), F.desc("event_id"))
    journeys = touches.join(convs, ["user_id", "conv_id"]).select(
        "event_type",
        F.count("*").over(wj).alias("n_touches"),
        F.row_number().over(wf).alias("rn_first"),
        F.row_number().over(wl).alias("rn_last"),
    )
    return journeys.groupBy(F.col("event_type").alias("channel")).agg(
        F.sum(F.when(F.col("rn_first") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("first_touch"),
        F.sum(F.when(F.col("rn_last") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("last_touch"),
        dround(F.sum(F.lit(1.0) / F.col("n_touches")), 6).alias(
            "linear_credit"
        ),
    )


@register(
    "d73_markov_transitions",
    oracle=f"""
    WITH pairs AS (
        SELECT user_id,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS from_type,
               event_type AS to_type
        FROM events
    ), counts AS (
        SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM pairs WHERE from_type IS NOT NULL
        GROUP BY from_type, to_type
    )
    SELECT from_type, to_type, n,
           {sql_dround(
               "n / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE)",
               6,
           )} AS prob
    FROM counts
    """,
)
def d73_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of the event stream:
    P(next type | current type) estimated per user-ordered adjacent
    pair — the model behind journey simulation, removal-effect
    attribution, and anomaly scoring of improbable paths. Each
    user's first event has no predecessor and drops out.

    Scale: one (user, time) window pass over the stream, then the
    transition counting collapses everything to a |types|² frame —
    the row-normalizing window runs on those ≤ 25 rows. The heavy
    lifting (lag) shares the d69/d72 partitioning; at 100 TB this is
    one shuffle of the fact table and map-side-combined counts."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = events.select(
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).filter(F.col("from_type").isNotNull())
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count("*").cast("bigint").alias("n")
    )
    wrow = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        dround(
            F.col("n") / F.sum("n").over(wrow).cast("double"), 6
        ).alias("prob"),
    )


@register(
    "d74_kaplan_meier",
    oracle=f"""
    WITH lifetimes AS (
        SELECT user_id,
               DATE_DIFF('day', CAST(MIN(ts) AS DATE),
                         CAST(MAX(ts) AS DATE)) AS dur,
               CASE WHEN ARG_MAX(event_type, {sql_tick_order_key()})
                         = 'purchase'
                    THEN 1 ELSE 0 END AS observed
        FROM events
        GROUP BY user_id
    ), by_t AS (
        SELECT dur AS t,
               CAST(SUM(observed) AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS m
        FROM lifetimes GROUP BY dur
    ), risk AS (
        SELECT t, d, m,
               CAST((SELECT COUNT(*) FROM lifetimes) -
                    COALESCE(SUM(m) OVER (ORDER BY t
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0)
                    AS BIGINT) AS n_risk
        FROM by_t
    ), death_times AS (
        SELECT t, d, n_risk,
               SUM(CASE WHEN d < n_risk
                        THEN LN(1 - d / CAST(n_risk AS DOUBLE))
                        ELSE 0 END)
                   OVER (ORDER BY t) AS log_s,
               MAX(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
                   OVER (ORDER BY t) AS died_out
        FROM risk WHERE d > 0
    )
    SELECT t AS duration_days, d AS n_deaths, n_risk,
           {sql_dround(
               "CASE WHEN died_out = 1 THEN 0.0 ELSE EXP(log_s) END", 6
           )} AS survival
    FROM death_times
    """,
)
def d74_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve over user lifetimes: duration =
    days between a user's first and last event; the lifetime is an
    observed 'death' if the final event is a purchase (exit) and
    right-censored otherwise. S(t) = Π_{death times ≤ t} (1 − d/n)
    with n = at-risk count — the product expressed as exp of a
    running LOG sum (the d66 log-space cumprod, here with genuinely
    non-dyadic factors). The d = n boundary (everyone at risk dies)
    would be ln(0): both engines route it through a CASE — the term
    is excluded from the log sum and a running died-out flag pins
    S = 0 from that time on (DuckDB's ln ERRORS on zero; the CASE is
    the documented guard).

    Scale: one groupBy collapses the fact table to O(users), a second
    to O(distinct durations) — the curve frame. The at-risk suffix
    count and the log-sum run on that tiny ordered frame (the
    single-partition window is |curve| rows by construction). The
    censoring indicator uses max_by on the same (ts, event_id) total
    order as every stream operator."""
    events = load_table(spark, sf_dir, "events")
    # the shared (ts, event_id) total order — see
    # functions/ordering.py (this module pioneered the pattern; the
    # round-9 adversarial sweep promoted it to a shared helper)
    ordkey = tick_order_key()
    lifetimes = events.groupBy("user_id").agg(
        F.datediff(
            F.max("ts").cast("date"), F.min("ts").cast("date")
        ).alias("dur"),
        F.when(F.max_by("event_type", ordkey) == "purchase", 1)
        .otherwise(0)
        .alias("observed"),
    )
    by_t = lifetimes.groupBy(F.col("dur").alias("t")).agg(
        F.sum("observed").cast("bigint").alias("d"),
        F.count("*").cast("bigint").alias("m"),
    )
    n_total = lifetimes.agg(F.count("*").alias("n_total"))
    wprev = (
        Window.orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wcum = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = (
        by_t.join(F.broadcast(n_total))
        .select(
            "t",
            "d",
            (
                F.col("n_total")
                - F.coalesce(F.sum("m").over(wprev), F.lit(0))
            ).alias("n_risk"),
        )
        .filter(F.col("d") > 0)
    )
    log_term = F.when(
        F.col("d") < F.col("n_risk"),
        F.log(1 - F.col("d") / F.col("n_risk").cast("double")),
    ).otherwise(F.lit(0.0))
    died = F.max(
        F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0)
    ).over(wcum)
    curve = risk.select(
        "t",
        "d",
        "n_risk",
        F.sum(log_term).over(wcum).alias("log_s"),
        died.alias("died_out"),
    )
    return curve.select(
        F.col("t").alias("duration_days"),
        F.col("d").alias("n_deaths"),
        "n_risk",
        dround(
            F.when(F.col("died_out") == 1, F.lit(0.0)).otherwise(
                F.exp(F.col("log_s"))
            ),
            6,
        ).alias("survival"),
    )
