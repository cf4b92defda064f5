"""Round-5 securities-master batch 5 (SURVEY.md §2.11): volume bars,
drawdown-spell durations, and Kyle's lambda price impact.

d5/d34 aggregate by CLOCK time; d50 adds the event-time alternative
quant desks actually sample on — bars closed by traded volume, so
information arrives at a constant rate per bar. d15 reported max
drawdown DEPTH; d51 adds the duration dimension (how LONG the series
stays underwater). d52 closes the microstructure set: the regression
of price change on signed volume that d35 (slippage) and d43 (Amihud)
bracket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register

_BAR_VOLUME = 500  # shares per volume bar (k ∈ 0..99, ~50 avg → ~10 ticks/bar)


@register(
    "d50_volume_bars",
    oracle=f"""
    WITH t AS (
        SELECT event_type, ts, event_id, value,
               CAST(props->>'$.k' AS INT) AS qty,
               ROW_NUMBER() OVER win AS rn,
               SUM(CAST(props->>'$.k' AS INT)) OVER
                   (win ROWS UNBOUNDED PRECEDING) AS cum_qty
        FROM events
        WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id)
    ), bars AS (
        SELECT event_type,
               CAST(FLOOR((cum_qty - qty) / {_BAR_VOLUME}.0) AS BIGINT)
                   AS bar_id,
               qty, value, rn
        FROM t
    )
    SELECT event_type, bar_id,
           {sql_dround("ARG_MIN(value, rn)", 6)} AS open,
           {sql_dround("MAX(value)", 6)} AS high,
           {sql_dround("MIN(value)", 6)} AS low,
           {sql_dround("ARG_MAX(value, rn)", 6)} AS close,
           {sql_dround(
               "SUM(value * qty) / NULLIF(SUM(qty), 0)", 6)} AS vwap,
           CAST(SUM(qty) AS BIGINT) AS volume,
           COUNT(*) AS n_ticks
    FROM bars
    GROUP BY event_type, bar_id
    """,
)
def d50_volume_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume bars: OHLC + VWAP sampled every ``_BAR_VOLUME`` shares of
    traded quantity instead of every N minutes (the event-time bars of
    López de Prado's 'Advances in Financial ML' ch. 2 — constant
    information per bar, robust to intraday activity bursts that make
    clock bars heteroskedastic). A tick belongs to the bar its volume
    STARTS in (bar_id = floor(exclusive-prefix-volume / threshold)),
    so the assignment is a pure function of the running sum — no
    iterative bar-closing loop.

    Plan: one WindowExec per series computes (row_number, cumulative
    volume) in a single pass, then a hash aggregate on (series,
    bar_id) with ARG_MIN/ARG_MAX by tick order for open/close. Two
    shuffles total, both on series keys; the window state is one
    running sum. At 100 TB the per-series sort is the honest cost of
    event-time sampling — identical posture to d5 daily OHLC."""
    events = load_table(spark, sf_dir, "events")
    win = Window.partitionBy("event_type").orderBy("ts", "event_id")
    # Parse the JSON qty ONCE in a projection below the window; window
    # expressions don't CSE with each other, so referencing the raw
    # get_json_object both as a column and inside the running sum
    # parses every props payload twice (measured 15.2s → 5.2s warm on
    # the 6M-tick stress corpus for this single-parse form).
    parsed = events.select(
        "event_type",
        "value",
        "ts",
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("qty"),
    )
    t = parsed.select(
        "event_type",
        "value",
        "qty",
        F.row_number().over(win).alias("rn"),
        F.sum("qty").over(win.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum_qty"),
    )
    bar = F.floor((F.col("cum_qty") - F.col("qty")) / float(_BAR_VOLUME))
    return (
        t.withColumn("bar_id", bar.cast("bigint"))
        .groupBy("event_type", "bar_id")
        .agg(
            dround(F.min_by("value", "rn"), 6).alias("open"),
            dround(F.max("value"), 6).alias("high"),
            dround(F.min("value"), 6).alias("low"),
            dround(F.max_by("value", "rn"), 6).alias("close"),
            dround(
                F.try_divide(F.sum(F.col("value") * F.col("qty")),
                             F.sum("qty")), 6
            ).alias("vwap"),
            F.sum("qty").cast("bigint").alias("volume"),
            F.count("*").alias("n_ticks"),
        )
    )


@register(
    "d51_drawdown_duration",
    oracle=f"""
    WITH t AS (
        SELECT event_type, value,
               ROW_NUMBER() OVER win AS rn,
               MAX(value) OVER (win ROWS UNBOUNDED PRECEDING) AS runmax
        FROM events
        WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id)
    ), flagged AS (
        SELECT event_type, rn,
               CASE WHEN value < runmax THEN 1 ELSE 0 END AS uw,
               rn - ROW_NUMBER() OVER (
                   PARTITION BY event_type,
                       CASE WHEN value < runmax THEN 1 ELSE 0 END
                   ORDER BY rn) AS grp
        FROM t
    ), spells AS (
        SELECT event_type, grp, COUNT(*) AS spell_len
        FROM flagged WHERE uw = 1
        GROUP BY event_type, grp
    ), totals AS (
        SELECT event_type, COUNT(*) AS n_ticks FROM t GROUP BY event_type
    )
    SELECT totals.event_type,
           totals.n_ticks,
           CAST(COALESCE(COUNT(spells.spell_len), 0) AS BIGINT) AS n_spells,
           CAST(COALESCE(MAX(spells.spell_len), 0) AS BIGINT)
               AS max_spell_len,
           {sql_dround(
               "COALESCE(SUM(spells.spell_len), 0)"
               " / CAST(totals.n_ticks AS DOUBLE)", 6)} AS underwater_frac
    FROM totals
    LEFT JOIN spells ON spells.event_type = totals.event_type
    GROUP BY totals.event_type, totals.n_ticks
    """,
)
def d51_drawdown_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drawdown SPELL statistics per series: number of underwater
    spells (maximal runs of ticks strictly below the running peak),
    the longest spell, and the fraction of time spent underwater —
    the duration complement to d15's max-drawdown depth. Spells are
    found with the classic gaps-and-islands subtraction (global row
    number minus per-state row number is constant within a run), so
    the whole operator is two window passes over one per-series sort
    plus two tiny aggregates — no self-join, no iteration. The final
    LEFT JOIN is per-series rows only (5 rows here, broadcast; at any
    scale it is |symbols|, never |ticks|)."""
    events = load_table(spark, sf_dir, "events")
    win = Window.partitionBy("event_type").orderBy("ts", "event_id")
    t = events.select(
        "event_type",
        "value",
        F.row_number().over(win).alias("rn"),
        F.max("value")
        .over(win.rowsBetween(Window.unboundedPreceding, 0))
        .alias("runmax"),
    )
    flagged = t.select(
        "event_type",
        "rn",
        F.when(F.col("value") < F.col("runmax"), 1).otherwise(0).alias("uw"),
    ).withColumn(
        "grp",
        F.col("rn")
        - F.row_number().over(
            Window.partitionBy("event_type", "uw").orderBy("rn")
        ),
    )
    spell_stats = (
        flagged.filter(F.col("uw") == 1)
        .groupBy("event_type", "grp")
        .agg(F.count("*").alias("spell_len"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_spells"),
            F.max("spell_len").cast("bigint").alias("max_spell_len"),
            F.sum("spell_len").alias("uw_ticks"),
        )
    )
    totals = t.groupBy("event_type").agg(F.count("*").alias("n_ticks"))
    return totals.join(F.broadcast(spell_stats), "event_type", "left").select(
        "event_type",
        "n_ticks",
        F.coalesce(F.col("n_spells"), F.lit(0)).cast("bigint")
        .alias("n_spells"),
        F.coalesce(F.col("max_spell_len"), F.lit(0)).cast("bigint")
        .alias("max_spell_len"),
        dround(
            F.coalesce(F.col("uw_ticks"), F.lit(0))
            / F.col("n_ticks").cast("double"),
            6,
        ).alias("underwater_frac"),
    )


@register(
    "d52_kyle_lambda",
    oracle=f"""
    WITH t AS (
        SELECT event_type,
               value - LAG(value) OVER win AS dp,
               CAST(props->>'$.k' AS INT) AS qty
        FROM events
        WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id)
    ), signed AS (
        SELECT event_type, dp,
               CASE WHEN dp > 0 THEN qty
                    WHEN dp < 0 THEN -qty
                    ELSE 0 END AS signed_vol
        FROM t WHERE dp IS NOT NULL
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_obs,
           {sql_dround("REGR_SLOPE(dp, signed_vol)", 10)} AS kyle_lambda,
           {sql_dround("REGR_R2(dp, signed_vol)", 8)} AS r2
    FROM signed
    GROUP BY event_type
    """,
)
def d52_kyle_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kyle's lambda: per-series OLS slope of price change on signed
    volume (tick-rule signed, Lee-Ready without quotes) — the
    standard price-impact coefficient bridging d35 (realized
    slippage) and d43 (Amihud illiquidity, the |return|/volume
    ratio). One lag window pass to difference prices, then a single
    hash aggregate: ``regr_slope``/``regr_r2`` are algebraic
    (sum/sum-of-products sketches), so partial aggregation happens
    map-side and the shuffle carries five doubles per series. Same
    two-shuffle posture as d6; scale is bounded by the per-series
    sort."""
    events = load_table(spark, sf_dir, "events")
    win = Window.partitionBy("event_type").orderBy("ts", "event_id")
    qty = F.get_json_object("props", "$.k").cast("int")
    t = events.select(
        "event_type",
        (F.col("value") - F.lag("value").over(win)).alias("dp"),
        qty.alias("qty"),
    ).filter(F.col("dp").isNotNull())
    signed = t.select(
        "event_type",
        "dp",
        F.when(F.col("dp") > 0, F.col("qty"))
        .when(F.col("dp") < 0, -F.col("qty"))
        .otherwise(0)
        .alias("signed_vol"),
    )
    return signed.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_obs"),
        dround(F.regr_slope("dp", "signed_vol"), 10).alias("kyle_lambda"),
        dround(F.regr_r2("dp", "signed_vol"), 8).alias("r2"),
    )


@register(
    "d53_cusip_sedol_validation",
    oracle="""
    WITH p AS (
        SELECT p_partkey,
               LPAD(CAST(p_partkey AS VARCHAR), 6, '0') AS body,
               p_partkey % 5 = 0 AS corrupt,
               CAST(FLOOR(p_partkey / 100000) % 10 AS BIGINT) AS d1,
               CAST(FLOOR(p_partkey / 10000) % 10 AS BIGINT) AS d2,
               CAST(FLOOR(p_partkey / 1000) % 10 AS BIGINT) AS d3,
               CAST(FLOOR(p_partkey / 100) % 10 AS BIGINT) AS d4,
               CAST(FLOOR(p_partkey / 10) % 10 AS BIGINT) AS d5,
               p_partkey % 10 AS d6
        FROM part
    ), pc AS (
        -- closed-form CUSIP mod-10 double-add-double for the FIXED
        -- template 'S''M' dddddd: 'S'=28 (odd pos, digit-sum 10),
        -- 'M'=22 (even pos, doubled 44 -> 8); digit positions 3..8
        -- alternate single/double starting single.
        SELECT p_partkey, body, corrupt, d6,
               (10 - (10 + 8
                      + d1 + CASE WHEN d2 < 5 THEN 2*d2 ELSE 2*d2 - 9 END
                      + d3 + CASE WHEN d4 < 5 THEN 2*d4 ELSE 2*d4 - 9 END
                      + d5 + CASE WHEN d6 < 5 THEN 2*d6 ELSE 2*d6 - 9 END
                     ) % 10) % 10 AS check_digit
        FROM p
    ), cusips AS (
        SELECT 'CUSIP' AS id_type, p_partkey AS entity_key,
               'SM' || CASE WHEN corrupt
                            THEN SUBSTR(body, 1, 5)
                                 || CAST((d6 + 1) % 10 AS VARCHAR)
                            ELSE body END
                    || CAST(check_digit AS VARCHAR) AS identifier,
               NOT corrupt AS is_valid
        FROM pc
    ), s AS (
        SELECT s_suppkey,
               LPAD(CAST(s_suppkey AS VARCHAR), 5, '0') AS body,
               s_suppkey % 4 = 0 AS corrupt,
               CAST(FLOOR(s_suppkey / 10000) % 10 AS BIGINT) AS d1,
               CAST(FLOOR(s_suppkey / 1000) % 10 AS BIGINT) AS d2,
               CAST(FLOOR(s_suppkey / 100) % 10 AS BIGINT) AS d3,
               CAST(FLOOR(s_suppkey / 10) % 10 AS BIGINT) AS d4,
               s_suppkey % 10 AS d5
        FROM supplier
    ), sc AS (
        -- closed-form SEDOL weighted mod-10 for the FIXED template
        -- 'B' ddddd: 'B'=11 at weight 1; digit weights 3,1,7,3,9.
        SELECT s_suppkey, body, corrupt, d5,
               (10 - (11 + 3*d1 + d2 + 7*d3 + 3*d4 + 9*d5) % 10) % 10
                   AS check_digit
        FROM s
    ), sedols AS (
        SELECT 'SEDOL' AS id_type, s_suppkey AS entity_key,
               'B' || CASE WHEN corrupt
                           THEN SUBSTR(body, 1, 4)
                                || CAST((d5 + 1) % 10 AS VARCHAR)
                           ELSE body END
                   || CAST(check_digit AS VARCHAR) AS identifier,
               NOT corrupt AS is_valid
        FROM sc
    )
    SELECT * FROM cusips UNION ALL SELECT * FROM sedols
    """,
)
def d53_cusip_sedol_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSIP (ANSI X9.6) and SEDOL check-digit validation — the two
    remaining identifier layers of a securities master next to d46's
    ISIN. Synthetic identifiers are minted on fixed templates (CUSIP
    'SM'+6 digits from part keys, SEDOL 'B'+5 digits from supplier
    keys), deterministic subsets get a digit corrupted AFTER the
    check digit is computed, and the GENERIC expression-level
    validators (functions/identifiers.py — transform/zip_with +
    aggregate folds, no UDF) must flag exactly the corrupted ones.
    The oracle derives validity from INDEPENDENT closed-form
    specializations of each algorithm to its template — the generic
    folds are cross-checked digit-by-digit, not self-certified. All
    JVM expressions in the scan projections; the union is two
    dimension scans, zero shuffles."""
    from security_master_spark.functions.identifiers import (
        cusip_check_digit,
        cusip_is_valid,
        sedol_check_digit,
        sedol_is_valid,
    )

    part = load_table(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    pbody = F.lpad(pk.cast("string"), 6, "0")
    pcorrupt = pk % 5 == 0
    pd6 = (pk % 10).cast("int")
    pcheck = cusip_check_digit(F.concat(F.lit("SM"), pbody))
    pbody_out = F.when(
        pcorrupt,
        F.concat(F.substring(pbody, 1, 5), ((pd6 + 1) % 10).cast("string")),
    ).otherwise(pbody)
    cusip = F.concat(F.lit("SM"), pbody_out, pcheck.cast("string"))
    cusips = part.select(
        F.lit("CUSIP").alias("id_type"),
        pk.alias("entity_key"),
        cusip.alias("identifier"),
        cusip_is_valid(cusip).alias("is_valid"),
    )

    supp = load_table(spark, sf_dir, "supplier")
    sk = F.col("s_suppkey")
    sbody = F.lpad(sk.cast("string"), 5, "0")
    scorrupt = sk % 4 == 0
    sd5 = (sk % 10).cast("int")
    scheck = sedol_check_digit(F.concat(F.lit("B"), sbody))
    sbody_out = F.when(
        scorrupt,
        F.concat(F.substring(sbody, 1, 4), ((sd5 + 1) % 10).cast("string")),
    ).otherwise(sbody)
    sedol = F.concat(F.lit("B"), sbody_out, scheck.cast("string"))
    sedols = supp.select(
        F.lit("SEDOL").alias("id_type"),
        sk.alias("entity_key"),
        sedol.alias("identifier"),
        sedol_is_valid(sedol).alias("is_valid"),
    )
    return cusips.unionByName(sedols)
