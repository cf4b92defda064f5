"""Time-window aggregations (SURVEY.md §2.10) in batch mode — the same
``F.window``/``session_window`` expressions run under readStream with a
watermark (see streaming/jobs.py); batch execution makes them
oracle-checkable.

Window-origin note: Spark's tumbling/sliding windows align to the Unix
epoch. The oracles reproduce bucket starts with explicit epoch
arithmetic (FLOOR(epoch/width)*width) rather than DuckDB time_bucket,
so alignment is identical by construction.

Dtype note: DuckDB ``TO_TIMESTAMP`` returns TIMESTAMPTZ, which reaches
the driver's pandas canonicalizer as ``datetime64[us, Etc/UTC]`` and
schema-mismatches Spark's naive ``window.start``. Every generated
timestamp is therefore wrapped in ``CAST(... AS TIMESTAMP)`` — same
pattern as d10_calendar_align.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register


@register(
    "t1_tumbling_window",
    oracle=f"""
    SELECT CAST(TO_TIMESTAMP(FLOOR(EPOCH(ts) / 86400) * 86400) AS TIMESTAMP) AS bucket,
           event_type,
           COUNT(*) AS n_events,
           {sql_dround("SUM(value)", 4)} AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def t1_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily tumbling windows per event type. In streaming: identical
    groupBy(window(...)) under withWatermark."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 day"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            dround(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("bucket"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "t2_sliding_window",
    oracle=f"""
    WITH slid AS (
        SELECT e.*,
               CAST(TO_TIMESTAMP(FLOOR(EPOCH(ts) / 21600) * 21600 - k.k * 21600) AS TIMESTAMP) AS w_start
        FROM events e,
             (SELECT unnest(generate_series(0, 3)) AS k) k
    )
    SELECT w_start, COUNT(*) AS n_events,
           {sql_dround("AVG(value)", 4)} AS avg_value
    FROM slid
    WHERE w_start + INTERVAL 1 DAY > ts
    GROUP BY w_start
    """,
)
def t2_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-day windows sliding every 6h: each event lands in 4 windows.
    Spark expands this internally the same way the oracle does
    (explode over k∈0..3)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 day", "6 hours"))
        .agg(
            F.count("*").alias("n_events"),
            dround(F.avg("value"), 4).alias("avg_value"),
        )
        .select(
            F.col("window.start").alias("w_start"), "n_events", "avg_value"
        )
    )


@register(
    "t3_session_window_native",
    oracle=f"""
    WITH gapped AS (
        -- integer-µs boundary math (EPOCH would do it in double
        -- seconds, whose ~2.4e-7 s ulp at epoch magnitude can flip an
        -- event within ~1 µs of the exact 30-min boundary) — mirrors
        -- operators/trailing.py's exact-integer-units rule
        SELECT user_id, ts, value,
               MAX(EPOCH_US(ts) + 1800000000) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS prev_max_end
        FROM events
    ), marked AS (
        SELECT user_id, ts, value,
               CASE WHEN prev_max_end IS NULL
                         OR EPOCH_US(ts) >= prev_max_end
                    THEN 1 ELSE 0 END AS new_session
        FROM gapped
    ), sessions AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, new_session DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_id
        FROM marked
    )
    SELECT user_id, MIN(ts) AS session_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_dround("SUM(value)", 4)} AS total_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def t3_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` (30-min gap). Weak-checked r2-r7;
    since round 8 it carries a full hash oracle — the t4 lag/cumsum
    sessionization specialized to a fixed gap. The ``new_session
    DESC`` tiebreak on the cumsum pins equal-timestamp events into the
    session their earliest twin opened, matching Spark's time-only
    session assignment; session intervals are half-open (an event at
    exactly prev_end starts a new session: ``>= prev_max_end``)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("n_events"), dround(F.sum("value"), 4).alias("total_value"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
            "total_value",
        )
    )


@register(
    "t4_dynamic_session_window",
    oracle=f"""
    WITH gapped AS (
        -- integer-µs boundary math, exactly as t3's oracle (round-10
        -- fix): EPOCH would compare in double seconds, whose ~2.4e-7 s
        -- ulp at epoch magnitude can flip an event within ~1 µs of a
        -- dynamic-gap boundary — the round-11 close of the last
        -- double-seconds session oracle (operators/trailing.py
        -- exact-integer-units rule).
        SELECT user_id, ts, value,
               MAX(EPOCH_US(ts) + CASE WHEN event_type = 'purchase'
                                       THEN 3600000000
                                       ELSE 1800000000 END) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS prev_max_end
        FROM events
    ), marked AS (
        SELECT user_id, ts, value,
               CASE WHEN prev_max_end IS NULL
                         OR EPOCH_US(ts) >= prev_max_end
                    THEN 1 ELSE 0 END AS new_session
        FROM gapped
    ), sessions AS (
        -- new_session DESC tiebreak (t3's equal-ts rule): a tied
        -- opener must precede its same-ts peers in the cumsum, else
        -- an engine-arbitrary intra-ts order can strand a peer in the
        -- PREVIOUS session even though its opener's interval covers it
        SELECT user_id, ts, value,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, new_session DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_id
        FROM marked
    )
    SELECT user_id, MIN(ts) AS session_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_dround("SUM(value)", 4)} AS total_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def t4_dynamic_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC-gap session windows (Spark's `session_window` with a
    gap EXPRESSION): a purchase keeps the session alive for an hour,
    anything else for 30 minutes — the per-event-importance
    sessionization real attribution models use, and a surface the
    fixed-gap t3 can't express. Unlike t3 (weak by design), the
    dynamic form IS SQL-expressible through the lag/cumsum
    sessionization recipe — so the native operator gets a FULL
    value-level oracle: same session boundaries, counts, and sums,
    hash-checked. The semantics the oracle pins (and the sf0.01 gate
    caught getting wrong on the first cut): sessions are the UNION of
    per-event intervals [ts, ts + own_gap), so a new session starts
    iff ts ≥ the running MAX window end over all earlier session rows
    — NOT iff the gap to the previous ROW is exceeded. With mixed
    gaps a long-gap event can bridge over a short-gap successor, and
    two rows at sf0.01 did exactly that. Round 11: the oracle's
    boundary math moved from double-second EPOCH to integer-µs
    EPOCH_US (+3_600_000_000 / +1_800_000_000), and its session cumsum
    gained t3's ``new_session DESC`` equal-ts tiebreak — the last
    session oracle carrying either hazard."""
    events = load_table(spark, sf_dir, "events")
    gap = F.when(F.col("event_type") == "purchase", F.lit("1 hour")).otherwise(
        F.lit("30 minutes")
    )
    return (
        events.groupBy("user_id", F.session_window("ts", gap))
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            dround(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
            "total_value",
        )
    )


# t1/t2/t4 certify the WINDOWING side of the streaming surface in batch
# form; t5 certifies the WATERMARK side — which rows a
# ``withWatermark(delay)`` stream would drop, and by how much they miss.
# streaming/jobs.py proves the live behavior (rate source + memory
# sink); this query pins the exact arithmetic against the SQL oracle so
# the drop rule itself is value-checked, not just exercised.


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


#: tumbling window width (seconds) and leaderboard depth.
_T6_BUCKET_S = 21600  # 6 hours
_T6_TOP_K = 3


@register(
    "t6_windowed_topk_trending",
    oracle=f"""
    WITH bucketed AS (
        SELECT CAST(TO_TIMESTAMP(FLOOR(EPOCH(ts) / {_T6_BUCKET_S})
                                 * {_T6_BUCKET_S}) AS TIMESTAMP) AS bucket,
               user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events
        GROUP BY 1, 2
    ), ranked AS (
        SELECT bucket, user_id, n_events,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY bucket
                   ORDER BY n_events DESC, user_id ASC) AS BIGINT) AS rank,
               SUM(n_events) OVER (PARTITION BY bucket) AS bucket_total
        FROM bucketed
    )
    SELECT bucket, rank, user_id, n_events,
           {sql_dround(
               "n_events / CAST(bucket_total AS DOUBLE)", 6
           )} AS share
    FROM ranked
    WHERE rank <= {_T6_TOP_K}
    """,
)
def t6_windowed_topk_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window trending leaderboard: top-3 users by event count in
    each 6-hour tumbling window, with each leader's share of the
    window's total traffic. This is the streaming "what's hot right
    now" job: in production the SAME groupBy(window(...), user_id)
    runs under readStream + withWatermark in update mode, and the
    rank/share stage runs in foreachBatch over each micro-batch's
    completed windows (rank is not a streaming-incremental operator —
    splitting the plan exactly there is the point being certified).

    Determinism: rank carries the user_id tie-break; share divides
    two exact counts.

    Scale: the window-bucket aggregate shuffles (bucket, user) keyed
    partial counts — map-side combined, never raw events; the rank
    and share windows partition by bucket over the collapsed
    O(buckets·active-users) frame. Skewed buckets (flash events)
    salt on user ranges like any d11-style hot key."""
    events = load_table(spark, sf_dir, "events")
    bucketed = (
        events.groupBy(
            F.window("ts", f"{_T6_BUCKET_S} seconds"), "user_id"
        )
        .agg(F.count("*").cast("bigint").alias("n_events"))
        .select(
            F.col("window.start").alias("bucket"),
            "user_id",
            "n_events",
        )
    )
    wrank = Window.partitionBy("bucket").orderBy(
        F.desc("n_events"), F.asc("user_id")
    )
    wtot = Window.partitionBy("bucket")
    return (
        bucketed.select(
            "bucket",
            F.row_number().over(wrank).cast("bigint").alias("rank"),
            "user_id",
            "n_events",
            dround(
                F.col("n_events")
                / F.sum("n_events").over(wtot).cast("double"),
                6,
            ).alias("share"),
        )
        .filter(F.col("rank") <= _T6_TOP_K)
    )
