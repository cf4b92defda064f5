"""Round-5 statistical data-quality candidates (SURVEY.md §2.11
quality surface, extending dq1/dq2): two-sample Kolmogorov–Smirnov,
chi-square independence, and population-stability-index drift — the
three screens a production feed-monitoring layer runs between an
incoming batch and its reference distribution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround

from security_master_spark.plans.registry import register


@register(
    "dq4_ks_test",
    oracle=f"""
    WITH s AS (
        SELECT CAST(o.o_totalprice AS DOUBLE) AS price,
               SUM(CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END)
                   AS ca,
               SUM(CASE WHEN c.c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END)
                   AS cb
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
        GROUP BY o.o_totalprice
    ), e AS (
        SELECT SUM(ca) OVER (ORDER BY price) AS cuma,
               SUM(cb) OVER (ORDER BY price) AS cumb,
               SUM(ca) OVER () AS na,
               SUM(cb) OVER () AS nb
        FROM s
    ), d AS (
        SELECT CAST(MAX(na) AS DOUBLE) AS na,
               CAST(MAX(nb) AS DOUBLE) AS nb,
               MAX(ABS(CAST(cuma AS DOUBLE) / na
                       - CAST(cumb AS DOUBLE) / nb)) AS kd
        FROM e
    )
    SELECT CAST(na AS BIGINT) AS n_a,
           CAST(nb AS BIGINT) AS n_b,
           {sql_dround("kd", 8)} AS ks_d,
           {sql_dround("SQRT(na * nb / (na + nb)) * kd", 6)} AS ks_stat
    FROM d
    """,
)
def dq4_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test between the BUILDING and
    MACHINERY segments' order-price distributions: D = max over x of
    |F_a(x) − F_b(x)|, plus the sqrt(na·nb/(na+nb))·D test statistic.

    Collapse-first discipline: prices are grouped to DISTINCT values
    (with per-sample counts) BEFORE any ordered pass, so the global
    cumulative window runs over |distinct prices| rows, not |orders|
    rows. Both engines' default RANGE window frame includes ties, which
    is exactly the ≤x ECDF semantics — no off-by-one at tied prices.
    The unpartitioned window on the collapsed table is the honest exact
    form at this cardinality; at true 100 TB distinct-value counts the
    production screen switches to a fixed-grid binned ECDF (the dq6 PSI
    shape, fully parallel) or the segmented-scan prefix-sum machinery
    of d38 — exactness traded per monitoring budget."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    s = (
        # no forced broadcast: customer scales with SF, and a raw-table
        # projection carries accurate file-size stats, so the planner
        # broadcasts it while small and shuffle-joins past the
        # threshold (round-12 broadcast-site audit, PLANS.md)
        orders.join(
            cust.select("c_custkey", "c_mktsegment"),
            orders.o_custkey == F.col("c_custkey"),
        )
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .groupBy(F.col("o_totalprice").cast("double").alias("price"))
        .agg(
            F.sum(
                F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0)
            ).alias("ca"),
            F.sum(
                F.when(F.col("c_mktsegment") == "MACHINERY", 1).otherwise(0)
            ).alias("cb"),
        )
    )
    w_cum = Window.orderBy("price")
    w_all = Window.partitionBy()
    e = s.select(
        F.sum("ca").over(w_cum).alias("cuma"),
        F.sum("cb").over(w_cum).alias("cumb"),
        F.sum("ca").over(w_all).alias("na"),
        F.sum("cb").over(w_all).alias("nb"),
    )
    d = e.agg(
        F.max("na").cast("double").alias("na"),
        F.max("nb").cast("double").alias("nb"),
        F.max(
            F.abs(
                F.col("cuma").cast("double") / F.col("na")
                - F.col("cumb").cast("double") / F.col("nb")
            )
        ).alias("kd"),
    )
    return d.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        dround(F.col("kd"), 8).alias("ks_d"),
        dround(
            F.sqrt(F.col("na") * F.col("nb") / (F.col("na") + F.col("nb")))
            * F.col("kd"),
            6,
        ).alias("ks_stat"),
    )


@register(
    "dq5_chisq_independence",
    oracle=f"""
    WITH obs AS (
        SELECT l_returnflag AS f, l_linestatus AS s,
               CAST(COUNT(*) AS DOUBLE) AS c
        FROM lineitem GROUP BY l_returnflag, l_linestatus
    ), m AS (
        SELECT f, s, c,
               SUM(c) OVER (PARTITION BY f) AS rc,
               SUM(c) OVER (PARTITION BY s) AS cc,
               SUM(c) OVER () AS n
        FROM obs
    ), stat AS (
        SELECT MAX(n) AS n,
               SUM(POW(c - rc * cc / n, 2) / (rc * cc / n)) AS chi2,
               CAST(COUNT(DISTINCT f) AS BIGINT) AS nr,
               CAST(COUNT(DISTINCT s) AS BIGINT) AS nc
        FROM m
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
           {sql_dround("chi2", 6)} AS chi2,
           (nr - 1) * (nc - 1) AS dof,
           {sql_dround(
               "SQRT(chi2 / (n * LEAST(nr - 1, nc - 1)))", 8
           )} AS cramers_v
    FROM stat
    """,
)
def dq5_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test between l_returnflag and
    l_linestatus (the categorical-drift screen: is the joint
    distribution the product of its marginals?), with degrees of
    freedom and Cramér's V effect size.

    One hash aggregate over the fact table produces the contingency
    cells; marginals and the grand total are WINDOW functions over
    that tiny cell table (|flags|×|statuses| rows), not re-scans or
    scalar joins — after the first aggregate everything is O(cells).
    The expected count rc·cc/n is recomputed inside each summand from
    exactly-agreed doubles, so both engines evaluate the identical
    IEEE expression tree."""
    li = load_table(spark, sf_dir, "lineitem")
    obs = li.groupBy(
        F.col("l_returnflag").alias("f"), F.col("l_linestatus").alias("s")
    ).agg(F.count("*").cast("double").alias("c"))
    m = obs.select(
        "f",
        "s",
        "c",
        F.sum("c").over(Window.partitionBy("f")).alias("rc"),
        F.sum("c").over(Window.partitionBy("s")).alias("cc"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )
    exp = F.col("rc") * F.col("cc") / F.col("n")
    stat = m.agg(
        F.max("n").alias("n"),
        F.sum(F.pow(F.col("c") - exp, 2) / exp).alias("chi2"),
        F.countDistinct("f").cast("bigint").alias("nr"),
        F.countDistinct("s").cast("bigint").alias("nc"),
    )
    return stat.select(
        F.col("n").cast("bigint").alias("n_rows"),
        dround(F.col("chi2"), 6).alias("chi2"),
        ((F.col("nr") - 1) * (F.col("nc") - 1)).alias("dof"),
        dround(
            # try_divide: a dimension collapsing to ONE category makes
            # least(nr-1, nc-1) = 0 — Cramér's V is undefined (NULL),
            # not a job crash.
            F.sqrt(
                F.try_divide(
                    F.col("chi2"),
                    F.col("n") * F.least(F.col("nr") - 1, F.col("nc") - 1),
                )
            ),
            8,
        ).alias("cramers_v"),
    )


_PSI_BINS = 10


@register(
    "dq6_psi_drift",
    oracle=f"""
    WITH ext AS (
        SELECT MIN(CAST(o_totalprice AS DOUBLE)) AS lo,
               MAX(CAST(o_totalprice AS DOUBLE)) AS hi
        FROM orders
    ), binned AS (
        SELECT LEAST(CAST(FLOOR((CAST(o_totalprice AS DOUBLE) - ext.lo)
                           / ((ext.hi - ext.lo) / {_PSI_BINS})) AS BIGINT),
                     {_PSI_BINS - 1}) AS bin,
               SUM(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS ca,
               SUM(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END) AS cb
        FROM orders CROSS JOIN ext
        GROUP BY 1
    ), p AS (
        SELECT bin, ca, cb,
               (CAST(ca AS DOUBLE) + 0.5)
                   / (SUM(CAST(ca AS DOUBLE)) OVER () + 0.5 * {_PSI_BINS})
                   AS pa,
               (CAST(cb AS DOUBLE) + 0.5)
                   / (SUM(CAST(cb AS DOUBLE)) OVER () + 0.5 * {_PSI_BINS})
                   AS pb
        FROM binned
    )
    SELECT bin,
           CAST(ca AS BIGINT) AS n_a,
           CAST(cb AS BIGINT) AS n_b,
           {sql_dround("pa", 8)} AS p_a,
           {sql_dround("pb", 8)} AS p_b,
           {sql_dround("(pa - pb) * LN(pa / pb)", 8)} AS psi_contrib
    FROM p
    ORDER BY bin
    """,
)
def dq6_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two deployment cohorts
    (even / odd order keys — a skew-free deterministic A/B split) over
    the order-price distribution: {_PSI_BINS} equal-width bins from the
    global extent, Laplace-smoothed shares (+0.5 per bin, so empty
    bins stay finite), per-bin PSI contribution (pa−pb)·ln(pa/pb).
    Sum of psi_contrib > 0.2 is the conventional "investigate" alarm.

    The a15-histogram shape: the 1-row global (min, max) extent
    broadcasts onto the scan (allowlisted BNLJ), binning and the
    cohort split are pure map-side JVM arithmetic, and the only
    shuffle carries {_PSI_BINS} bin keys. The share normalizations are
    windows over the {_PSI_BINS}-row bin table. Fully parallel at any
    scale — this is the shape dq4's exact KS degrades to when distinct
    cardinality explodes."""
    orders = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("double")
    ext = orders.agg(
        F.min(price).alias("lo"), F.max(price).alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / _PSI_BINS
    binned = (
        orders.crossJoin(F.broadcast(ext))
        .select(
            # try_divide: constant column -> width 0 (see a15)
            F.least(
                F.floor(F.try_divide(price - F.col("lo"), width)).cast(
                    "bigint"
                ),
                F.lit(_PSI_BINS - 1).cast("bigint"),
            ).alias("bin"),
            (F.col("o_orderkey") % 2 == 0).alias("is_a"),
        )
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("is_a"), 1).otherwise(0)).alias("ca"),
            F.sum(F.when(~F.col("is_a"), 1).otherwise(0)).alias("cb"),
        )
    )
    w_all = Window.partitionBy()
    pa = (F.col("ca").cast("double") + 0.5) / (
        F.sum(F.col("ca").cast("double")).over(w_all) + 0.5 * _PSI_BINS
    )
    pb = (F.col("cb").cast("double") + 0.5) / (
        F.sum(F.col("cb").cast("double")).over(w_all) + 0.5 * _PSI_BINS
    )
    return (
        binned.select(
            "bin",
            F.col("ca").cast("bigint").alias("n_a"),
            F.col("cb").cast("bigint").alias("n_b"),
            pa.alias("pa"),
            pb.alias("pb"),
        )
        .select(
            "bin",
            "n_a",
            "n_b",
            dround(F.col("pa"), 8).alias("p_a"),
            dround(F.col("pb"), 8).alias("p_b"),
            dround(
                (F.col("pa") - F.col("pb"))
                * F.log(F.col("pa") / F.col("pb")),
                8,
            ).alias("psi_contrib"),
        )
        .orderBy("bin")
    )


@register(
    "dq7_message_rate_spike",
    oracle=f"""
    WITH rate AS (
        SELECT event_type,
               CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS bucket,
               CAST(COUNT(*) AS DOUBLE) AS n
        FROM events GROUP BY 1, 2
    ), stats AS (
        SELECT event_type, bucket, n,
               AVG(n) OVER (PARTITION BY event_type) AS mu,
               STDDEV_SAMP(n) OVER (PARTITION BY event_type) AS sigma
        FROM rate
    )
    SELECT event_type, bucket,
           CAST(n AS BIGINT) AS n_messages,
           {sql_dround("(n - mu) / NULLIF(sigma, 0)", 6)} AS zscore,
           (n > mu + 3 * sigma) AS is_spike
    FROM stats
    """,
)
def dq7_message_rate_spike(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed-health message-rate monitor: hourly message counts per
    event type with a per-type z-score and a 3-sigma spike flag — the
    screen that catches replay storms, duplicate feeds, and upstream
    retries before they poison downstream aggregates. One hash
    aggregate collapses the stream to O(types×hours) rows; mean and
    sigma are WINDOWS over that collapsed frame (the dq5 discipline —
    no re-scan, no scalar join). In streaming this same shape runs as
    t1's tumbling count with the stats maintained by foreachBatch."""
    events = load_table(spark, sf_dir, "events")
    rate = events.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(F.count("*").cast("double").alias("n"))
    w = Window.partitionBy("event_type")
    stats = rate.select(
        "event_type",
        "bucket",
        "n",
        F.avg("n").over(w).alias("mu"),
        F.stddev_samp("n").over(w).alias("sigma"),
    )
    return stats.select(
        "event_type",
        "bucket",
        F.col("n").cast("bigint").alias("n_messages"),
        dround(
            F.try_divide(
                F.col("n") - F.col("mu"), F.nullif(F.col("sigma"), F.lit(0.0))
            ),
            6,
        ).alias("zscore"),
        (F.col("n") > F.col("mu") + 3 * F.col("sigma")).alias("is_spike"),
    )


@register(
    "dq8_duplicate_events",
    oracle="""
    WITH dup AS (
        SELECT user_id, ts, event_type, CAST(COUNT(*) AS BIGINT) AS n_copies
        FROM events
        GROUP BY user_id, ts, event_type
        HAVING COUNT(*) > 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_dup_groups,
           CAST(COALESCE(SUM(n_copies), 0) AS BIGINT) AS n_dup_rows,
           CAST(COALESCE(MAX(n_copies), 0) AS BIGINT) AS worst_fanout
    FROM dup
    """,
)
def dq8_duplicate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed-duplication screen: (user, timestamp, type) groups
    delivered more than once — the signature of an upstream replay or
    a doubled subscription, and the precondition check before any
    sum-based aggregate can be trusted. One hash aggregate on the
    natural key, HAVING keeps only offenders, and the summary is
    O(1); the remediation is l2's fingerprint dedup / streaming's
    dropDuplicatesWithinWatermark, both already certified. COALESCE
    keeps the zero-duplicates case (this fixture) well-defined rather
    than null — an empty screen must read 'clean', not 'unknown'."""
    events = load_table(spark, sf_dir, "events")
    dup = (
        events.groupBy("user_id", "ts", "event_type")
        .agg(F.count("*").cast("bigint").alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )
    return dup.agg(
        F.count("*").cast("bigint").alias("n_dup_groups"),
        F.coalesce(F.sum("n_copies"), F.lit(0)).cast("bigint").alias("n_dup_rows"),
        F.coalesce(F.max("n_copies"), F.lit(0)).cast("bigint").alias("worst_fanout"),
    )
