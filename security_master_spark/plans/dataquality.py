"""Data-quality screens (SURVEY.md §2.11 quality surface):
distribution drift and independence tests, referential integrity,
reconciliation, completeness, staleness and sequence audits.
"""

from __future__ import annotations

from functools import reduce

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


# dq1 profiles columns in isolation; dq9 is the CROSS-TABLE contract
# check — orphan detection over every FK edge of the schema, the audit
# every warehouse load gate runs before publishing a snapshot.


# (edge label, child table, child FK col, parent table, parent PK col,
#  parent is dimension-sized → broadcast the anti-join build side)
_FK_EDGES = [
    ("lineitem.orderkey->orders", "lineitem", "l_orderkey",
     "orders", "o_orderkey", False),
    ("lineitem.partkey->part", "lineitem", "l_partkey",
     "part", "p_partkey", True),
    ("lineitem.suppkey->supplier", "lineitem", "l_suppkey",
     "supplier", "s_suppkey", True),
    ("orders.custkey->customer", "orders", "o_custkey",
     "customer", "c_custkey", True),
    ("customer.nationkey->nation", "customer", "c_nationkey",
     "nation", "n_nationkey", True),
    ("events.user_id->customer", "events", "user_id",
     "customer", "c_custkey", True),
]


def _edge_sql(label: str, child: str, fk: str, parent: str, pk: str) -> str:
    return f"""
    SELECT '{label}' AS fk_edge,
           (SELECT COUNT(*) FROM {child}) AS n_child_rows,
           COUNT(*) AS n_orphan_rows,
           {sql_dround(
               f"COUNT(*) / CAST((SELECT COUNT(*) FROM {child}) AS DOUBLE)",
               8)} AS orphan_frac,
           CAST(COUNT(DISTINCT c.{fk}) AS BIGINT) AS n_orphan_keys
    FROM {child} c
    WHERE c.{fk} IS NOT NULL
      AND NOT EXISTS (SELECT 1 FROM {parent} p WHERE p.{pk} = c.{fk})
    """


@register(
    "dq9_referential_integrity",
    oracle=" UNION ALL ".join(
        _edge_sql(label, child, fk, parent, pk)
        for label, child, fk, parent, pk, _ in _FK_EDGES
    ),
)
def dq9_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: for every FK edge of the schema,
    count child rows whose key has no parent (orphans), as rows and
    as distinct keys. The TPC-H-shaped edges should audit clean (the
    zero rows ARE the assertion); events.user_id→customer is the
    deliberately dirty edge — the events feed references users
    outside the customer dimension, which is what this audit exists
    to catch before a snapshot publishes.

    Shape per edge: the child's FK column LEFT-joins the parent's
    deduped key set (the dedup makes the join row-preserving even if
    a parent ever violated its PK), and ONE aggregate reads off total
    rows, orphan rows (matched-null), and distinct orphan keys — no
    separate COUNT pass, no driver-side action. Dimension parents
    broadcast (part / supplier / customer / nation); the one
    fact-fact edge (lineitem→orders) shuffles on the key like any
    big join. Each edge collapses to a single accounting row, so the
    union is |edges| rows; the child scan is pruned to the FK column
    (ReadSchema shows the single column)."""
    summaries = []
    for label, child, fk, parent, pk, small_parent in _FK_EDGES:
        c = load_table(spark, sf_dir, child).select(fk)
        p = (
            load_table(spark, sf_dir, parent)
            .select(F.col(pk).alias("__pk"))
            .distinct()
        )
        if small_parent:
            p = F.broadcast(p)
        j = c.join(p, F.col(fk) == F.col("__pk"), "left")
        orphan = F.col(fk).isNotNull() & F.col("__pk").isNull()
        summaries.append(
            j.agg(
                F.lit(label).alias("fk_edge"),
                F.count("*").alias("n_child_rows"),
                F.sum(F.when(orphan, 1).otherwise(0))
                .cast("bigint")
                .alias("n_orphan_rows"),
                dround(
                    F.sum(F.when(orphan, 1).otherwise(0))
                    / F.count("*").cast("double"),
                    8,
                ).alias("orphan_frac"),
                F.count_distinct(F.when(orphan, F.col(fk)))
                .cast("bigint")
                .alias("n_orphan_keys"),
            )
        )
    return reduce(DataFrame.unionByName, summaries)


# dq9 audits KEYS (referential integrity); dq10 audits VALUES: does the
# order header's total equal the TPC-H invariant recomputed from its
# lines, Σ extendedprice·(1−discount)·(1+tax)? On this synthetic
# fixture the answer is deliberately "no, never" (the generator draws
# totals independently — verified: 0 of 14,743 orders match at sf0.01),
# which is exactly what a reconciliation report is FOR: the operator's
# output is the mismatch distribution a controller actually reads.


_TOL = 0.01  # relative tolerance for "reconciled"


@register(
    "dq10_order_reconciliation",
    oracle=f"""
    WITH li AS (
        SELECT l_orderkey,
               SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax))
                   AS computed
        FROM lineitem GROUP BY l_orderkey
    ), j AS (
        SELECT o.o_orderstatus, o.o_totalprice, li.computed,
               ABS(o.o_totalprice - li.computed) AS adiff
        FROM orders o LEFT JOIN li ON li.l_orderkey = o.o_orderkey
    )
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN computed IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_no_lines,
           CAST(SUM(CASE WHEN adiff <= {_TOL} * o_totalprice
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_reconciled,
           {sql_dround("AVG(adiff)", 4)} AS mean_abs_diff,
           {sql_dround("MAX(adiff)", 4)} AS max_abs_diff
    FROM j
    GROUP BY o_orderstatus
    """,
)
def dq10_order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-vs-detail reconciliation: per order status, how many
    order totals match the line-item recomputation within 1 %, the
    mismatch magnitude distribution, and headers with no lines at
    all. The classic overnight-batch control report (and the TPC-H
    consistency check the spec itself defines for o_totalprice).

    Shape: one hash agg collapses lineitem to per-order sums (the
    shuffle carries (orderkey, double) — map-side partials do the
    heavy lifting), one key join against headers, one tiny rollup.
    At 100 TB this is the same two-shuffle posture as any fact-fact
    key join; AQE handles residual skew on hot orders."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.sum(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
            ).alias("computed")
        )
    )
    orders = load_table(spark, sf_dir, "orders")
    j = orders.join(
        li, orders.o_orderkey == li.l_orderkey, "left"
    ).select(
        "o_orderstatus",
        "o_totalprice",
        "computed",
        F.abs(F.col("o_totalprice") - F.col("computed")).alias("adiff"),
    )
    return j.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.when(F.col("computed").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_no_lines"),
        # multiply form, not adiff/total: a zero-total header crashed
        # ANSI division on the adversarial fixture; the predicate is
        # the same expression tree in the oracle (d19 associativity
        # rule), and a zero-total zero-diff header counts reconciled
        F.sum(
            F.when(F.col("adiff") <= _TOL * F.col("o_totalprice"), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("n_reconciled"),
        dround(F.avg("adiff"), 4).alias("mean_abs_diff"),
        dround(F.max("adiff"), 4).alias("max_abs_diff"),
    )


#: scaled-MAD consistency constant (Φ⁻¹(0.75) reciprocal), the d19
#: convention — written identically in both engines.
_MAD_K = 0.6745


@register(
    "dq11_volume_anomaly",
    oracle=f"""
    WITH daily AS (
        SELECT event_type,
               CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
               CAST(COUNT(*) AS DOUBLE) AS n
        FROM events
        GROUP BY event_type, DATE_TRUNC('day', ts)
    ), med AS (
        SELECT event_type, day, n,
               MEDIAN(n) OVER (PARTITION BY event_type) AS med
        FROM daily
    ), mad AS (
        SELECT event_type, day, n, med,
               MEDIAN(ABS(n - med)) OVER (PARTITION BY event_type) AS mad
        FROM med
    )
    SELECT event_type, day,
           CAST(n AS BIGINT) AS n_events,
           {sql_dround(f"{_MAD_K} * (n - med) / NULLIF(mad, 0)", 6)}
               AS robust_z,
           COALESCE(
               ABS({_MAD_K} * (n - med) / NULLIF(mad, 0)) > 3, FALSE
           ) AS is_anomaly
    FROM mad
    """,
)
def dq11_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-volume anomaly panel: per (stream, day) row counts
    scored with the robust z (scaled MAD deviation from the stream's
    median daily volume) and a |z| > 3 anomaly flag — the monitoring
    query that catches a half-delivered day or a double-loaded feed
    before any downstream consumer does. Every day is emitted with
    its score (not only the anomalies), so quiet fixtures still
    hash-certify the scoring math.

    Shape: the fact table collapses to O(streams · days) BEFORE any
    window touches it — the windows run over the tiny daily frame,
    never the ticks. try_divide/NULLIF handles the constant-volume
    stream (MAD 0 → z NULL → flag FALSE via the null-aware coalesce,
    identical both engines)."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").cast("double").alias("n"))
    w = Window.partitionBy("event_type")
    scored = daily.select(
        "event_type",
        "day",
        "n",
        F.percentile("n", F.lit(0.5)).over(w).alias("med"),
    ).select(
        "event_type",
        "day",
        "n",
        "med",
        F.percentile(F.abs(F.col("n") - F.col("med")), F.lit(0.5))
        .over(w)
        .alias("mad"),
    )
    # Same expression TREE as the oracle text (K·(n−med))/mad — the
    # d19 associativity rule: K·((n−med)/mad) differs in the last ulp
    # and can flip the |z| > 3 flag on a borderline stream-day.
    z = F.try_divide(
        F.lit(_MAD_K) * (F.col("n") - F.col("med")),
        F.nullif(F.col("mad"), F.lit(0.0)),
    )
    return scored.select(
        "event_type",
        "day",
        F.col("n").cast("bigint").alias("n_events"),
        dround(z, 6).alias("robust_z"),
        F.coalesce(F.abs(z) > 3, F.lit(False)).alias("is_anomaly"),
    )


@register(
    "dq12_winsorized_stats",
    oracle=f"""
    WITH scored AS (
        SELECT event_type, value,
               QUANTILE_CONT(value, 0.01) OVER (PARTITION BY event_type)
                   AS p01,
               QUANTILE_CONT(value, 0.99) OVER (PARTITION BY event_type)
                   AS p99
        FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           {sql_dround("MAX(p01)", 6)} AS p01,
           {sql_dround("MAX(p99)", 6)} AS p99,
           {sql_dround("AVG(value)", 6)} AS mean_raw,
           {sql_dround(
               "AVG(LEAST(GREATEST(value, p01), p99))", 6
           )} AS mean_winsorized,
           CAST(SUM(CASE WHEN value < p01 OR value > p99
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
    FROM scored
    GROUP BY event_type
    """,
)
def dq12_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized robust means: clip each series at its own exact
    1st/99th percentiles and report raw vs winsorized mean plus the
    clip count — the outlier-tolerant summary a dq pipeline publishes
    where a single fat-fingered print would poison a plain AVG. Uses
    the d39/d62-proven exact-percentile pairing (Spark `percentile`
    as a window == DuckDB `QUANTILE_CONT ... OVER`), so the clip
    thresholds are identical on both engines, and the clip itself is
    LEAST/GREATEST — no float boundary beyond the certified
    percentile value.

    Scale: one shuffle on the series key serves both the percentile
    window and the final aggregate (same-key reuse); the per-series
    sort is the honest cost of an exact percentile — the screening
    path at 100 TB is a13's t-digest sketch, with this exact form as
    the audit."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type")
    scored = events.select(
        "event_type",
        "value",
        F.expr("percentile(value, 0.01)").over(w).alias("p01"),
        F.expr("percentile(value, 0.99)").over(w).alias("p99"),
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("p01")), F.col("p99"))
    return scored.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        dround(F.max("p01"), 6).alias("p01"),
        dround(F.max("p99"), 6).alias("p99"),
        dround(F.avg("value"), 6).alias("mean_raw"),
        dround(F.avg(clipped), 6).alias("mean_winsorized"),
        F.sum(
            F.when(
                (F.col("value") < F.col("p01"))
                | (F.col("value") > F.col("p99")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_clipped"),
    )


#: staleness alarm threshold (hours since last print).
_STALE_H = 24.0


@register(
    "dq13_completeness_grid",
    oracle=f"""
    WITH d AS (
        SELECT event_type,
               CAST(DATE_TRUNC('day', ts) AS DATE) AS day
        FROM events
    )
    SELECT event_type,
           MIN(day) AS first_day,
           MAX(day) AS last_day,
           CAST(DATE_DIFF('day', MIN(day), MAX(day)) + 1 AS BIGINT)
               AS span_days,
           CAST(COUNT(DISTINCT day) AS BIGINT) AS present_days,
           CAST(DATE_DIFF('day', MIN(day), MAX(day)) + 1
                - COUNT(DISTINCT day) AS BIGINT) AS missing_days,
           {sql_dround(
               "CAST(COUNT(DISTINCT day) AS DOUBLE)"
               " / (DATE_DIFF('day', MIN(day), MAX(day)) + 1)", 6
           )} AS completeness
    FROM d GROUP BY event_type
    """,
)
def dq13_completeness_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar completeness per stream: each series' first/last
    observed day, its calendar span, the days actually present, and
    the missing-day count/ratio — the coverage matrix that
    distinguishes "feed went quiet" from "feed never carried this
    day". Complements d18 (which lists the individual gap intervals)
    with the per-stream summary an SLA dashboard actually alerts on.

    Shape: project to (series, day) at the scan, then ONE
    map-side-combined groupBy — the distinct-day count collapses to
    at most one (series, day) pair per partition before shuffling, so
    network is O(series × days), never O(ticks)."""
    events = load_table(spark, sf_dir, "events")
    d = events.select(
        "event_type",
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
    )
    span = F.datediff(F.max("day"), F.min("day")) + 1
    return d.groupBy("event_type").agg(
        F.min("day").alias("first_day"),
        F.max("day").alias("last_day"),
        span.cast("bigint").alias("span_days"),
        F.countDistinct("day").cast("bigint").alias("present_days"),
        (span - F.countDistinct("day")).cast("bigint").alias(
            "missing_days"
        ),
        dround(
            F.countDistinct("day").cast("double") / span, 6
        ).alias("completeness"),
    )


@register(
    "dq14_staleness",
    oracle=f"""
    WITH mx AS (
        SELECT MAX(ts) AS max_ts FROM events
    ), gaps AS (
        SELECT event_type, ts,
               CAST(epoch_us(ts) - epoch_us(
                   LAG(ts) OVER (PARTITION BY event_type
                                 ORDER BY ts, event_id)
               ) AS DOUBLE) / 1000000 AS gap_s
        FROM events
    )
    SELECT g.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MAX(g.ts) AS last_ts,
           {sql_dround(
               "CAST(epoch_us(MAX(mx.max_ts)) - epoch_us(MAX(g.ts))"
               " AS DOUBLE) / 3600000000", 6
           )} AS age_hours,
           CAST(epoch_us(MAX(mx.max_ts)) - epoch_us(MAX(g.ts))
                AS DOUBLE) / 3600000000 > {_STALE_H} AS is_stale,
           {sql_dround("QUANTILE_CONT(g.gap_s, 0.5)", 6)}
               AS median_gap_s,
           {sql_dround("MAX(g.gap_s)", 6)} AS max_gap_s
    FROM gaps g, mx
    GROUP BY g.event_type
    """,
)
def dq14_staleness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed staleness panel: per stream, the last print, its age
    against the dataset's watermark (hours), a 24 h stale alarm, and
    the median/max inter-arrival gap — the heartbeat summary paired
    with dq13's calendar view (dq13 says which DAYS are missing; this
    says whether the feed is alive NOW and how bursty it is).

    Determinism: all arithmetic is integer epoch-microseconds divided
    by IEEE constants — exactly representable, bit-identical across
    engines; the median gap uses the proven percentile ==
    QUANTILE_CONT pairing. Shape: one lag window per stream (the
    per-series sort) feeding one map-side-combined groupBy; the
    dataset watermark is a 1-row broadcast."""
    events = load_table(spark, sf_dir, "events")
    mx = events.agg(F.max("ts").alias("max_ts"))
    wlag = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = events.select(
        "event_type",
        "ts",
        (
            (
                F.unix_micros("ts")
                - F.unix_micros(F.lag("ts").over(wlag))
            ).cast("double")
            / 1000000
        ).alias("gap_s"),
    )
    age_h = (
        F.unix_micros(F.max("max_ts")) - F.unix_micros(F.max("ts"))
    ).cast("double") / 3600000000
    return (
        gaps.crossJoin(F.broadcast(mx))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.max("ts").alias("last_ts"),
            dround(age_h, 6).alias("age_hours"),
            (age_h > _STALE_H).alias("is_stale"),
            dround(F.percentile("gap_s", 0.5), 6).alias(
                "median_gap_s"
            ),
            dround(F.max("gap_s"), 6).alias("max_gap_s"),
        )
    )


#: near-duplicate window (microseconds): same (user, type), distinct
#: event ids, timestamps within this gap. 60 s here — the fixture's
#: event streams are sparse (minimum per-(user, type) gap ≈ 8 s at
#: sf0.01), so a production-style 1 s window would certify only an
#: empty screen; the window is the operator's parameter, the
#: bucketing algebra is identical at any width.
_NEAR_US = 60_000_000


@register(
    "dq15_near_duplicate_events",
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_type, event_id, epoch_us(ts) AS us
        FROM events
    ), pairs AS (
        SELECT DISTINCT a.event_type,
               LEAST(a.event_id, b.event_id) AS id_lo,
               GREATEST(a.event_id, b.event_id) AS id_hi,
               ABS(a.us - b.us) AS gap_us,
               a.user_id
        FROM e a JOIN e b
          ON a.user_id = b.user_id AND a.event_type = b.event_type
         AND a.event_id < b.event_id
         AND ABS(a.us - b.us) <= {_NEAR_US}
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
           CAST(MAX(gap_us) AS BIGINT) AS max_gap_us,
           {sql_dround("AVG(CAST(gap_us AS DOUBLE))", 6)}
               AS mean_gap_us
    FROM pairs
    GROUP BY event_type
    """,
)
def dq15_near_duplicate_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Near-time duplicate screen: pairs of DISTINCT events from the
    same (user, stream) within the _NEAR_US window of each other —
    the replay signature dq8's exact-key screen cannot see (a
    replayed feed usually re-stamps the clock). Reports per stream:
    pair count, affected users, and the gap distribution.

    Scale discipline (the d2 interval-join form): events bucket by
    floor(ts / window); the probe side carries each event under its OWN
    bucket AND the next one, so every qualifying pair co-locates in
    at least one bucket — the join is a pure EQUI-join on
    (user, type, bucket) with the |Δt| predicate as a filter, never
    a time-range theta join; LEAST/GREATEST + DISTINCT collapses the
    one-or-two orientations each pair can surface under. Per-bucket
    blowup is bounded by per-(user, second) event counts — the honest
    skew knob, monitorable with dq7's rate-spike screen."""
    events = load_table(spark, sf_dir, "events")
    e = events.select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("us"),
    )
    bucket = F.floor(F.col("us") / _NEAR_US)
    left = e.select(
        "user_id", "event_type", "event_id", "us",
        bucket.alias("bkt"),
    )
    right = e.select(
        "user_id",
        "event_type",
        F.col("event_id").alias("event_id_b"),
        F.col("us").alias("us_b"),
        F.explode(
            F.array(bucket.cast("long"), bucket.cast("long") + 1)
        ).alias("bkt"),
    )
    pairs = (
        left.join(right, ["user_id", "event_type", "bkt"])
        .filter(
            (F.col("event_id") != F.col("event_id_b"))
            & (
                F.abs(F.col("us") - F.col("us_b"))
                <= F.lit(_NEAR_US)
            )
        )
        .select(
            "event_type",
            "user_id",
            F.least("event_id", "event_id_b").alias("id_lo"),
            F.greatest("event_id", "event_id_b").alias("id_hi"),
            F.abs(F.col("us") - F.col("us_b")).alias("gap_us"),
        )
        .distinct()
    )
    return pairs.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.min("gap_us").cast("bigint").alias("min_gap_us"),
        F.max("gap_us").cast("bigint").alias("max_gap_us"),
        dround(F.avg(F.col("gap_us").cast("double")), 6).alias(
            "mean_gap_us"
        ),
    )


@register(
    "dq16_sequence_audit",
    oracle=f"""
    WITH seq AS (
        SELECT event_type, event_id, ts,
               LAG(event_id) OVER w AS prev_id,
               LAG(ts) OVER w AS prev_ts
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ), marked AS (
        SELECT event_type,
               CASE WHEN event_id < prev_id THEN 1 ELSE 0 END AS inv,
               CASE WHEN event_id < prev_id
                    THEN epoch_us(ts) - epoch_us(prev_ts) END AS invgap,
               CASE WHEN prev_id IS NOT NULL THEN 1 ELSE 0 END AS cmp
        FROM seq
    )
    SELECT event_type,
           CAST(SUM(cmp) AS BIGINT) AS n_compared,
           CAST(SUM(inv) AS BIGINT) AS n_inversions,
           {sql_dround(
               "SUM(inv) / CAST(NULLIF(SUM(cmp), 0) AS DOUBLE)", 6
           )} AS inversion_rate,
           CAST(MIN(invgap) AS BIGINT) AS min_inversion_gap_us,
           SUM(inv) = 0 AS is_monotone
    FROM marked
    GROUP BY event_type
    """,
)
def dq16_sequence_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-sequence audit: order each stream by event time and
    count ADJACENT id inversions — places where a later-timestamped
    event carries a SMALLER id than its predecessor, the signature of
    out-of-order ingestion, clock skew between producers, or id-block
    reallocation. Every incremental consumer that checkpoints on
    "max id seen" silently assumes this rate is zero; this query
    measures it per stream (with the time-gap of the tightest
    inversion, which says whether a small reorder buffer would heal
    it).

    Shape: one lag window per stream (the per-series sort) into one
    map-side-combined groupBy — the same single-pass cost as d18's
    gap screen; adjacent-only inversions make it O(n), not the O(n²)
    full inversion count (Kendall-tau's sibling), which is the right
    screen semantics: a consumer replays in time order, so only
    neighbor disorder matters."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seq = events.select(
        "event_type",
        "event_id",
        "ts",
        F.lag("event_id").over(w).alias("prev_id"),
        F.lag("ts").over(w).alias("prev_ts"),
    )
    inv = F.when(F.col("event_id") < F.col("prev_id"), 1).otherwise(0)
    invgap = F.when(
        F.col("event_id") < F.col("prev_id"),
        F.unix_micros("ts") - F.unix_micros("prev_ts"),
    )
    cmp_ = F.when(F.col("prev_id").isNotNull(), 1).otherwise(0)
    return seq.groupBy("event_type").agg(
        F.sum(cmp_).cast("bigint").alias("n_compared"),
        F.sum(inv).cast("bigint").alias("n_inversions"),
        dround(
            F.try_divide(
                F.sum(inv),
                F.nullif(F.sum(cmp_), F.lit(0)).cast("double"),
            ),
            6,
        ).alias("inversion_rate"),
        F.min(invgap).cast("bigint").alias("min_inversion_gap_us"),
        (F.sum(inv) == 0).alias("is_monotone"),
    )
