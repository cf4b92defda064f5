"""Aggregation surface beyond plain groupBy (SURVEY.md §2.4):
rollup/cube/grouping sets, pivot/unpivot, exact and approximate
distincts, ordered array aggregates, statistical aggregates,
percentiles and mergeable sketches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import fan_out, load_table, load_tables
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register


R = 4


@register(
    "a1_rollup",
    oracle=f"""
    SELECT r_name, n_name,
           COUNT(*) AS n_customers,
           {sql_dround("SUM(c_acctbal)", 4)} AS total_balance
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def a1_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        customer.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .rollup("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            dround(F.sum("c_acctbal"), R).alias("total_balance"),
        )
    )


@register(
    "a2_cube",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_items,
           {sql_dround("SUM(l_quantity)", 4)} AS total_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def a2_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return lineitem.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_items"),
        dround(F.sum("l_quantity"), R).alias("total_qty"),
    )


@register(
    "a3_grouping_sets",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           {sql_dround("AVG(o_totalprice)", 4)} AS avg_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def a3_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               {sql_dround("AVG(o_totalprice)", 4)} AS avg_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@register(
    "a4_pivot",
    oracle=f"""
    SELECT c_mktsegment,
           {sql_dround("SUM(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END)", 2)} AS status_o,
           {sql_dround("SUM(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END)", 2)} AS status_f,
           {sql_dround("SUM(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END)", 2)} AS status_p
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def a4_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    # groupBy().pivot() with explicit value list → no extra pass to
    # discover pivot values, and a scale-safe fixed output schema.
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    piv = (
        orders.join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.sum("o_totalprice"))
    )
    return piv.select(
        "c_mktsegment",
        dround(F.col("O"), 2).alias("status_o"),
        dround(F.col("F"), 2).alias("status_f"),
        dround(F.col("P"), 2).alias("status_p"),
    )


@register(
    "a5_unpivot",
    oracle="""
    SELECT p_partkey, 'p_size' AS attr, CAST(p_size AS DOUBLE) AS val
    FROM part WHERE p_partkey <= 500
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS attr, p_retailprice AS val
    FROM part WHERE p_partkey <= 500
    """,
)
def a5_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_partkey") <= 500)
        .select(
            "p_partkey",
            F.col("p_size").cast("double").alias("p_size"),
            F.col("p_retailprice"),
        )
        .unpivot("p_partkey", ["p_size", "p_retailprice"], "attr", "val")
    )


@register(
    "a6_stats_aggregates",
    oracle=f"""
    SELECT l_returnflag,
           {sql_dround("CORR(l_quantity, l_extendedprice)", 6)} AS qty_price_corr,
           {sql_dround("COVAR_SAMP(l_quantity, l_extendedprice)", 4)} AS qty_price_covar,
           {sql_dround("STDDEV_SAMP(l_extendedprice)", 4)} AS price_stddev,
           {sql_dround("VAR_SAMP(l_discount)", 8)} AS disc_var
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def a6_stats_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_returnflag").agg(
        dround(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        dround(F.covar_samp("l_quantity", "l_extendedprice"), R).alias(
            "qty_price_covar"
        ),
        dround(F.stddev_samp("l_extendedprice"), R).alias("price_stddev"),
        dround(F.var_samp("l_discount"), 8).alias("disc_var"),
    )


@register(
    "a7_count_distinct",
    oracle="""
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey)  AS n_customers,
           COUNT(DISTINCT o_orderpriority) AS n_priorities,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def a7_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
        F.count("*").alias("n_orders"),
    )


@register("a8_approx_count_distinct")  # sketch params differ across engines → weak
def a8_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )


@register(
    "a9_collect_sorted",
    oracle="""
    SELECT r_regionkey, array_to_string(list_sort(list(n_name)), ',') AS nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_regionkey
    """,
)
def a9_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    # collect_list order is partition-dependent → always sort the array
    # before emitting (FIXTURES.md hazard list). CSV-serialized on both
    # sides: the driver canonicalizer can't hash array-typed cells.
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_regionkey")
        .agg(F.concat_ws(",", F.array_sort(F.collect_list("n_name"))).alias("nations"))
    )


@register(
    "a10_percentiles",
    oracle=f"""
    SELECT c_mktsegment,
           {sql_dround("MEDIAN(c_acctbal)", 4)} AS median_bal,
           {sql_dround("QUANTILE_CONT(c_acctbal, 0.95)", 4)} AS p95_bal,
           {sql_dround("MIN(c_acctbal)", 4)} AS min_bal,
           {sql_dround("MAX(c_acctbal)", 4)} AS max_bal
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def a10_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact interpolated percentiles (Spark `percentile` == DuckDB
    # `quantile_cont`); approx_percentile sketches differ across engines
    # and stay out of oracle-checked queries.
    customer = load_table(spark, sf_dir, "customer")
    return customer.groupBy("c_mktsegment").agg(
        dround(F.median("c_acctbal"), R).alias("median_bal"),
        dround(F.percentile("c_acctbal", 0.95), R).alias("p95_bal"),
        dround(F.min("c_acctbal"), R).alias("min_bal"),
        dround(F.max("c_acctbal"), R).alias("max_bal"),
    )


@register("a13_approx_percentile")  # t-digest sketch params differ across engines → weak
def a13_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (SURVEY.md §2.4): the sketch-based scale path —
    at 100 TB the exact interpolated percentile needs a full sort per
    group, while the t-digest sketch is one map-side-combinable pass.
    Exact bounds emitted alongside so the weak check still has anchors."""
    customer = load_table(spark, sf_dir, "customer")
    return customer.groupBy("c_mktsegment").agg(
        dround(F.approx_percentile("c_acctbal", 0.5, 10000), R).alias("approx_median"),
        dround(F.approx_percentile("c_acctbal", 0.95, 10000), R).alias("approx_p95"),
        dround(F.min("c_acctbal"), R).alias("min_bal"),
        dround(F.max("c_acctbal"), R).alias("max_bal"),
    )


@register(
    "a11_column_profile",
    oracle="""
    SELECT 'o_orderstatus' AS col_name,
           COUNT(*) AS n_rows,
           COUNT(*) - COUNT(o_orderstatus) AS n_null,
           COUNT(DISTINCT o_orderstatus) AS n_distinct,
           MIN(o_orderstatus) AS min_s, MAX(o_orderstatus) AS max_s
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', COUNT(*), COUNT(*) - COUNT(o_orderpriority),
           COUNT(DISTINCT o_orderpriority),
           MIN(o_orderpriority), MAX(o_orderpriority)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', COUNT(*), COUNT(*) - COUNT(o_totalprice),
           COUNT(DISTINCT o_totalprice),
           CAST(MIN(o_totalprice) AS VARCHAR), CAST(MAX(o_totalprice) AS VARCHAR)
    FROM orders
    """,
)
def a11_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling summary (the exact, SQL-expressible core of
    df.summary()/describe()): per column — row count, null count,
    distinct count, min/max. One row per profiled column via union of
    single-pass aggregates; at scale Catalyst shares the scan via
    cache or the profile runs as one pass with conditional aggs."""
    orders = load_table(spark, sf_dir, "orders")

    def profile(col: str, stringify: bool) -> DataFrame:
        mn, mx = F.min(col), F.max(col)
        if stringify:
            # float→string via the JVM would give Java's formatting;
            # cast on the *collected doubles* side instead: format in
            # SQL-compatible shortest-roundtrip form
            mn, mx = mn.cast("string"), mx.cast("string")
        return orders.agg(
            F.lit(col).alias("col_name"),
            F.count("*").alias("n_rows"),
            (F.count("*") - F.count(col)).alias("n_null"),
            F.countDistinct(col).alias("n_distinct"),
            mn.alias("min_s"),
            mx.alias("max_s"),
        )

    return (
        profile("o_orderstatus", False)
        .unionByName(profile("o_orderpriority", False))
        .unionByName(profile("o_totalprice", True))
    )


@register("a12_freq_items_crosstab")  # df.stat sketches: single-pass
# approximate profiling (freqItems) + contingency counts — shapes are
# engine-specific, so weak-checked; exact profiling lives in a11
def a12_freq_items_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame.stat profiling surface: freqItems (single-pass
    heavy-hitter sketch) joined with a crosstab contingency table of
    orderstatus × orderpriority, flattened to stable columns."""
    orders = load_table(spark, sf_dir, "orders")
    freq = orders.stat.freqItems(["o_orderpriority"], support=0.15)
    ct = orders.stat.crosstab("o_orderstatus", "o_orderpriority")
    n_cols = F.lit(len(ct.columns) - 1)
    return ct.select(
        F.col("o_orderstatus_o_orderpriority").alias("orderstatus"),
        n_cols.alias("n_priority_buckets"),
    ).crossJoin(
        freq.select(
            F.size("o_orderpriority_freqItems").alias("n_frequent_priorities")
        )
    )

@register(
    "a14_regression_aggs",
    oracle=f"""
    SELECT l_returnflag,
           CAST(REGR_COUNT(l_extendedprice, l_quantity) AS BIGINT) AS n,
           {sql_dround("REGR_SLOPE(l_extendedprice, l_quantity)", 6)} AS slope,
           {sql_dround("REGR_INTERCEPT(l_extendedprice, l_quantity)", 4)} AS intercept,
           {sql_dround("REGR_R2(l_extendedprice, l_quantity)", 6)} AS r2,
           {sql_dround("REGR_AVGX(l_extendedprice, l_quantity)", 6)} AS avg_qty,
           {sql_dround("REGR_AVGY(l_extendedprice, l_quantity)", 4)} AS avg_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def a14_regression_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-regression aggregate family (price ~ quantity per return
    flag): slope/intercept/R² as single-pass distributed aggregates
    with map-side partials — the built-in moment accumulation, no
    two-pass mean-then-residual plan and no driver math."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return lineitem.groupBy("l_returnflag").agg(
        F.regr_count(y, x).alias("n"),
        dround(F.regr_slope(y, x), 6).alias("slope"),
        dround(F.regr_intercept(y, x), R).alias("intercept"),
        dround(F.regr_r2(y, x), 6).alias("r2"),
        dround(F.regr_avgx(y, x), 6).alias("avg_qty"),
        dround(F.regr_avgy(y, x), R).alias("avg_price"),
    )


_HIST_BINS = 20


@register(
    "a15_histogram",
    oracle=f"""
    WITH ext AS (
        SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders
    ), bucketed AS (
        SELECT LEAST(CAST(FLOOR((o_totalprice - ext.lo)
                                / ((ext.hi - ext.lo) / {_HIST_BINS}))
                          AS INT), {_HIST_BINS - 1}) AS bucket,
               ext.lo, ext.hi
        FROM orders, ext
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           {sql_dround(
               f"MAX(lo) + bucket * ((MAX(hi) - MAX(lo)) / {_HIST_BINS})",
               4)} AS bin_lo,
           {sql_dround(
               f"MAX(lo) + (bucket + 1) * ((MAX(hi) - MAX(lo)) / {_HIST_BINS})",
               4)} AS bin_hi
    FROM bucketed GROUP BY bucket
    """,
)
def a15_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order totals in 20 bins — the
    data-profiling / UI-sparkline primitive. Two passes by necessity
    (bin edges need the global extent before any row can be bucketed):
    pass 1 is a 1-row min/max aggregate, broadcast; pass 2 buckets
    map-side and hash-aggregates 20 keys. The bucket expression is
    written with IDENTICAL operation order on both engines — same
    IEEE doubles, same ops, same result — and the top edge clamps
    into the last bin (the LEAST) instead of an epsilon hack.
    dround only decorates the *reported* edges, never the bucketing
    math."""
    orders = load_table(spark, sf_dir, "orders")
    ext = orders.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / _HIST_BINS
    # try_divide: a constant column makes hi == lo -> width 0; ANSI `/`
    # would crash, NULL buckets match the oracle's NULL division.
    bucket = F.least(
        F.floor(
            F.try_divide(F.col("o_totalprice") - F.col("lo"), width)
        ).cast("int"),
        F.lit(_HIST_BINS - 1),
    )
    bucketed = orders.crossJoin(F.broadcast(ext)).select(
        bucket.alias("bucket"), "lo", "hi"
    )
    rep_width = (F.max("hi") - F.max("lo")) / _HIST_BINS
    return bucketed.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n"),
        dround(F.max("lo") + F.col("bucket") * rep_width, 4).alias("bin_lo"),
        dround(
            F.max("lo") + (F.col("bucket") + 1) * rep_width, 4
        ).alias("bin_hi"),
    )


@register(
    "a16_mode",
    oracle="""
    WITH counts AS (
        SELECT l_returnflag, l_quantity, COUNT(*) AS cnt
        FROM lineitem GROUP BY l_returnflag, l_quantity
    )
    SELECT l_returnflag, l_quantity AS mode_qty, CAST(cnt AS BIGINT) AS cnt
    FROM (
        SELECT l_returnflag, l_quantity, cnt,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                  ORDER BY cnt DESC, l_quantity) AS rn
        FROM counts
    ) WHERE rn = 1
    """,
)
def a16_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode: most frequent quantity per return
    flag, ties broken toward the SMALLEST value (engine-native mode()
    functions are first-seen on ties — arrival-order-dependent and
    not reproducible cross-engine, so the rank recipe is the portable
    form). Count aggregate first (map-side combine collapses the
    stream to distinct (group, value) pairs), then a per-group top-1
    window — Spark turns the rn=1 filter into WindowGroupLimit, a
    map-side running top-k that never materializes full per-group
    sorts."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count("*").alias("cnt")
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("cnt").desc(), F.col("l_quantity")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.col("l_quantity").alias("mode_qty"),
            F.col("cnt").cast("bigint").alias("cnt"),
        )
    )


@register(
    "a17_weighted_stats",
    oracle=f"""
    SELECT l_returnflag,
           {sql_dround("SUM(l_quantity)", 4)} AS total_w,
           {sql_dround(
               "SUM(l_extendedprice * l_quantity) / SUM(l_quantity)", 6
           )} AS wmean_price,
           {sql_dround(
               "SQRT(SUM(l_extendedprice * l_extendedprice * l_quantity)"
               " / SUM(l_quantity)"
               " - (SUM(l_extendedprice * l_quantity) / SUM(l_quantity))"
               " * (SUM(l_extendedprice * l_quantity) / SUM(l_quantity)))",
               4,
           )} AS wstd_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def a17_weighted_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted mean and weighted standard deviation (quantity-
    weighted price moments) — the notional-weighted statistics every
    position/market report needs, which no built-in aggregate
    provides directly. Expressed as three plain SUMs composed
    arithmetically AFTER the aggregate, so the whole thing is one
    hash aggregate with map-side partials (never a two-pass
    mean-then-deviation join). The E[x²]−E[x]² form is written
    IDENTICALLY in both engines so floating-point agreement holds at
    the rounding precision; wstd rounds at 4dp (one cancellation digit
    looser than the 6dp means) since catastrophic cancellation on the
    difference of ~1e8-scale terms costs a few ulps more."""
    li = load_table(spark, sf_dir, "lineitem")
    w = F.sum("l_quantity")
    wx = F.sum(F.col("l_extendedprice") * F.col("l_quantity"))
    wx2 = F.sum(
        F.col("l_extendedprice") * F.col("l_extendedprice") * F.col("l_quantity")
    )
    # try_divide: l_quantity >= 1 in the fixtures, but a weighted-stats
    # operator must survive an all-zero weight group on arbitrary data.
    wmean = F.try_divide(wx, w)
    return li.groupBy("l_returnflag").agg(
        dround(w, 4).alias("total_w"),
        dround(wmean, 6).alias("wmean_price"),
        dround(F.sqrt(F.try_divide(wx2, w) - wmean * wmean), 4).alias(
            "wstd_price"
        ),
    )


@register(
    "a18_conditional_aggregates",
    oracle=f"""
    SELECT l_returnflag,
           CAST(COUNT(*) FILTER (WHERE l_discount > 0.05) AS BIGINT)
               AS n_discounted,
           {sql_dround(
               "COALESCE(SUM(l_extendedprice) FILTER (WHERE l_tax = 0), 0)", 4
           )} AS taxfree_revenue,
           {sql_dround(
               "AVG(l_quantity) FILTER (WHERE l_shipdate >= TIMESTAMP '1995-01-01')",
               6,
           )} AS recent_avg_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def a18_conditional_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER-clause conditional aggregation: three differently-
    predicated aggregates computed in ONE pass over the fact table
    (count of discounted lines, tax-free revenue, post-1995 average
    quantity per return flag) — the idiom that replaces N filtered
    self-scans with one. Spark expresses each as agg(when(pred, x))
    — count counts non-null, sum/avg skip null — which is exactly
    SQL's FILTER semantics, and everything stays inside one
    whole-stage-codegen hash aggregate with map-side partials.
    COALESCE pins the empty-tax-free-group case to 0 on both engines
    (SUM over no rows is NULL)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.when(F.col("l_discount") > 0.05, 1))
        .cast("bigint")
        .alias("n_discounted"),
        dround(
            F.coalesce(
                F.sum(F.when(F.col("l_tax") == 0, F.col("l_extendedprice"))),
                F.lit(0.0),
            ),
            4,
        ).alias("taxfree_revenue"),
        dround(
            F.avg(
                F.when(
                    F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"),
                    F.col("l_quantity"),
                )
            ),
            6,
        ).alias("recent_avg_qty"),
    )


@register(
    "a19_grouping_id",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING_ID(l_returnflag, l_linestatus) AS BIGINT)
               AS grouping_level,
           CAST(COUNT(*) AS BIGINT) AS n,
           {sql_dround("SUM(l_quantity)", 4)} AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def a19_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING_ID over a rollup: the bitmask that distinguishes a
    genuine NULL grouping value from the NULL that marks a subtotal
    row — without it, rollup outputs are ambiguous the moment a
    grouping column is nullable (the classic reporting-layer bug).
    Level 0 = detail rows, 1 = per-returnflag subtotals, 3 = grand
    total; both engines compute the identical bitmask (left-to-right
    bit order per the SQL standard), so the oracle certifies the
    semantics, not just the totals."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping_id().cast("bigint").alias("grouping_level"),
        F.count("*").cast("bigint").alias("n"),
        dround(F.sum("l_quantity"), 4).alias("sum_qty"),
    ).select(
        "l_returnflag", "l_linestatus", "grouping_level", "n", "sum_qty"
    )


# Mergeability is the whole point at 100 TB: per-partition (or
# per-day / per-source) sketches are tiny, shippable, and unionable, so
# a fleet can maintain rolling quantiles / distinct counts without ever
# re-scanning history. Sketch estimates are engine-specific (DuckDB has
# no DataSketches), so a20/a21 register WEAK (rows-only at the driver);
# the compensating exactness evidence is (a) exact anchor columns
# emitted in the SAME row and (b) tolerance invariants in
# tests/test_operators.py pinning estimate-vs-exact error.


@register("a20_kll_quantile_merge")  # sketch internals engine-specific → weak
def a20_kll_quantile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed quantiles via KLL sketches with an EXPLICIT merge
    step: one KLL sketch per order-month (the partial any executor /
    day-job would persist), then `kll_sketch_merge` folds the twelve
    monthly sketches into the global sketch the quantile queries read.
    This is the production telemetry shape — the monthly sketch table
    is O(months · k), the merge is associative/commutative, and
    neither step re-scans the fact table. Exact interpolated
    percentiles (a10's proven pairing) ride along as anchors so the
    weak row is self-evidencing; the tolerance invariant lives in
    tests/test_operators.py::test_kll_estimate_within_tolerance."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = (
        orders.select(
            F.date_trunc("month", "o_orderdate").alias("month"),
            F.col("o_totalprice").cast("double").alias("price"),
        )
        .groupBy("month")
        .agg(F.kll_sketch_agg_double("price").alias("sk"))
    )
    # kll_sketch_merge_double is a BINARY scalar (merge two sketches),
    # so the fan-in is an explicit fold over the collected partials —
    # 12 monthly sketches on ONE row, not a distributed fold (each
    # sketch is ~KB; the collect_list carries months, not rows).
    merged = monthly.agg(
        F.collect_list("sk").alias("arr"),
        F.count("*").cast("bigint").alias("n_partials"),
    ).select(
        "n_partials",
        F.expr(
            "reduce(slice(arr, 2, greatest(size(arr) - 1, 0)), "
            "element_at(arr, 1), "
            "(acc, x) -> kll_sketch_merge_double(acc, x))"
        ).alias("sk"),
    )
    exact = orders.agg(
        dround(
            F.percentile(F.col("o_totalprice").cast("double"), 0.5), 4
        ).alias("exact_p50"),
        dround(
            F.percentile(F.col("o_totalprice").cast("double"), 0.95), 4
        ).alias("exact_p95"),
    )
    est = merged.select(
        "n_partials",
        dround(
            F.kll_sketch_get_quantile_double(F.col("sk"), F.lit(0.5)), 4
        ).alias("kll_p50"),
        dround(
            F.kll_sketch_get_quantile_double(F.col("sk"), F.lit(0.95)), 4
        ).alias("kll_p95"),
    )
    return est.crossJoin(exact)  # 1 row × 1 row


@register("a21_theta_sketch_sets")  # sketch internals engine-specific → weak
def a21_theta_sketch_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-set ALGEBRA via Theta sketches: how many distinct
    users viewed, how many purchased, and — the operation
    approx_count_distinct (a8's HLL) fundamentally cannot do — the
    INTERSECTION (viewers who also purchased) and union, each
    estimated from two per-segment sketches without a joint scan.
    At scale each segment's sketch is maintained incrementally
    (per-day theta_union_agg of daily partials); audience-overlap
    queries then run on sketches alone. Exact counts from one
    two-segment scan ride along as anchors; tolerance pinned in
    tests/test_operators.py::test_theta_set_algebra_within_tolerance."""
    ev = load_table(spark, sf_dir, "events")
    sk = (
        ev.filter(F.col("event_type").isin("view", "purchase"))
        .groupBy("event_type")
        .agg(F.theta_sketch_agg("user_id").alias("sk"))
    )
    v = sk.filter(F.col("event_type") == "view").select(
        F.col("sk").alias("sk_view")
    )
    p = sk.filter(F.col("event_type") == "purchase").select(
        F.col("sk").alias("sk_buy")
    )
    est = v.crossJoin(p).select(  # 1 row × 1 row
        F.round(F.theta_sketch_estimate(F.col("sk_view"))).cast(
            "bigint"
        ).alias("est_viewers"),
        F.round(F.theta_sketch_estimate(F.col("sk_buy"))).cast(
            "bigint"
        ).alias("est_buyers"),
        F.round(
            F.theta_sketch_estimate(
                F.theta_union(F.col("sk_view"), F.col("sk_buy"))
            )
        ).cast("bigint").alias("est_union"),
        F.round(
            F.theta_sketch_estimate(
                F.theta_intersection(F.col("sk_view"), F.col("sk_buy"))
            )
        ).cast("bigint").alias("est_overlap"),
    )
    exact = ev.agg(
        F.count_distinct(
            F.when(F.col("event_type") == "view", F.col("user_id"))
        ).cast("bigint").alias("exact_viewers"),
        F.count_distinct(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        ).cast("bigint").alias("exact_buyers"),
    )
    return est.crossJoin(exact)  # 1 row × 1 row


@register(
    "a22_listagg",
    oracle=f"""
    WITH cell AS (
        SELECT o_orderpriority, o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders GROUP BY o_orderpriority, o_orderstatus
    )
    SELECT o_orderpriority,
           STRING_AGG(o_orderstatus || ':' || CAST(n AS VARCHAR), ','
                      ORDER BY o_orderstatus) AS status_profile,
           CAST(SUM(n) AS BIGINT) AS n_orders
    FROM cell
    GROUP BY o_orderpriority
    """,
)
def a22_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG ... WITHIN GROUP (ORDER BY ...) — each order priority
    collapsed to a 'status:count' profile string in deterministic
    status order (DuckDB spells it STRING_AGG ... ORDER BY; same
    SQL:2016 semantics). The string aggregation runs on the ALREADY
    COLLAPSED (priority, status) cell table — never listagg over raw
    fact rows: an unbounded-group string concat is an OOM at scale
    (a9's collect_list discipline), while the cell table is bounded
    by the category product. The WITHIN GROUP ordering makes the
    result order-insensitive to partition layout — without it,
    listagg output is nondeterministic under parallelism."""
    load_tables(spark, sf_dir)
    return spark.sql("""
    WITH cell AS (
        SELECT o_orderpriority, o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders GROUP BY o_orderpriority, o_orderstatus
    )
    SELECT o_orderpriority,
           LISTAGG(o_orderstatus || ':' || CAST(n AS STRING), ',')
               WITHIN GROUP (ORDER BY o_orderstatus) AS status_profile,
           CAST(SUM(n) AS BIGINT) AS n_orders
    FROM cell
    GROUP BY o_orderpriority
    """)


@register(
    "a23_rolling_distinct",
    oracle="""
    SELECT event_type, event_id,
           CAST(COUNT(DISTINCT user_id) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN 99 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS rolling_users
    FROM events
    """,
)
def a23_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling DISTINCT cardinality: unique users over each type's
    trailing 100 events — the sliding-uniques panel (active-user
    windows, velocity checks) that plain rolling counts can't answer.
    Spark has no COUNT(DISTINCT) OVER, so the spelling is
    size(collect_set() OVER) — same frame, same semantics, certified
    against DuckDB's native distinct-window. Deterministic (ts,
    event_id) frame ordering on both engines. Scale note: per-row set
    state is bounded by the frame length (100), so memory is
    O(frame), not O(partition) — but PARALLELISM is one task per
    event_type, a wall at cluster scale. This portable form is the
    only spelling: a distributed-rank + halo-bucket variant ran 2-7.8×
    faster only on the 6M-tick stress corpus (PLANS.md round-10 halo
    study), which no registered query serves; for unbounded or very
    long frames the path is a8's HLL sketches merged per window."""
    from pyspark.sql import Window

    from security_master_spark.datasets import load_table

    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-99, 0)
    )
    return events.select(
        "event_type",
        "event_id",
        F.size(F.collect_set("user_id").over(w))
        .cast("bigint")
        .alias("rolling_users"),
    )


@register("a24_hll_partial_union")  # sketch internals engine-specific → weak
def a24_hll_partial_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in Datasketches HLL (Spark 4 `hll_sketch_agg` /
    `hll_union_agg` / `hll_sketch_estimate`): per-type user sketches
    PERSIST as binary partials, union-fold to the corpus estimate —
    the production incremental-distinct shape (daily partials, no
    re-scan at rollup), now first-class SQL functions instead of the
    library-level a20/a21 path. Weak by design (sketch bytes are
    engine-specific); the exact corpus distinct rides in-row as the
    anchor, with the tolerance pinned in tests/test_operators.py."""
    from security_master_spark.datasets import load_table

    events = load_table(spark, sf_dir, "events")
    events.createOrReplaceTempView("a24_events")
    return spark.sql("""
    WITH partials AS (
        SELECT event_type, hll_sketch_agg(user_id) AS sketch,
               COUNT(DISTINCT user_id) AS exact_users
        FROM a24_events GROUP BY event_type
    )
    SELECT CAST(hll_sketch_estimate(hll_union_agg(sketch)) AS BIGINT)
               AS est_total_users,
           (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT)
            FROM a24_events) AS exact_total_users,
           CAST(SUM(exact_users) AS BIGINT) AS sum_per_type_exact
    FROM partials
    """)


@register(
    "a25_approx_top_k",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY event_type
    ORDER BY n DESC, event_type
    LIMIT 3
    """,
)
def a25_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`approx_top_k` (Spark 4): heavy-hitters in one sketch pass.
    With the tracked-item budget (10k) far above this column's
    cardinality the sketch degenerates to EXACT counts — so the
    result is held to the full exact-top-k oracle, hash and all (the
    same trick as g3: pick the operating point where the approximate
    operator is provably exact, and the sketch machinery itself gets
    a value-level certificate). The sketch is asked for 10 candidates
    (> the column's 5-value cardinality) and the final top-3 cut
    happens in the outer sort on (count DESC, item): cutting INSIDE
    the sketch call at k=3 let the sketch pick an arbitrary 3 when
    counts tie exactly at the boundary (the adversarial fixture is
    exactly uniform — all 5 types tie), while the outer cut is
    deterministic on both engines."""
    from security_master_spark.datasets import load_table

    events = load_table(spark, sf_dir, "events")
    events.createOrReplaceTempView("a25_events")
    return spark.sql("""
    SELECT t.item AS event_type, CAST(t.count AS BIGINT) AS n
    FROM (SELECT approx_top_k(event_type, 10) AS tk FROM a25_events)
    LATERAL VIEW explode(tk) AS t
    ORDER BY n DESC, event_type
    LIMIT 3
    """)


# a8/a24 (HLL), a20 (KLL), a21 (theta) covered distinct-count,
# quantile, and set sketches — all certified by weak/bounded checks
# because their binary registers are engine-specific. The count-min
# sketch is different: its registers are plain (row, bucket) counters,
# so building it from md5-derived bucket indices makes the WHOLE
# sketch — and every estimate read from it — bit-identical across
# engines. This is the one sketch family where the driver's hash gate
# can certify the estimator itself, not just a tolerance band.


_DEPTH = 4  # independent hash rows
_WIDTH = 1024  # counters per row (ε ≈ e/1024 ≈ 0.27 %)
_PROBE_MAX = 20  # probe keys: l_partkey 1..20


def _bucket_sql(key_expr: str, i: int) -> str:
    """Depth-``i`` bucket from ONE md5: hex digits [8i+1, 8i+8)."""
    return (
        f"CAST(('0x' || substr(md5(CAST({key_expr} AS VARCHAR)), "
        f"{8 * i + 1}, 8)) AS BIGINT) % {_WIDTH}"
    )


def _bucket_array(key):
    """All four depth buckets from a SINGLE md5 evaluation: the
    128-bit digest is sliced into four 32-bit words (the
    Kirsch-Mitzenmacher 'less hashing, same performance' trick —
    derived hash rows preserve the CMS guarantee). One hash per row
    instead of depth hashes: measured 5.1 s → see PLANS.md."""
    h = F.md5(key.cast("string"))
    return F.array(
        *[
            F.conv(F.substring(h, 8 * i + 1, 8), 16, 10).cast("long")
            % _WIDTH
            for i in range(_DEPTH)
        ]
    )


def _oracle_bucket_union(source_sql: str, key: str) -> str:
    """(i, bucket) rows per key — DuckDB recomputes the md5 per depth
    (oracle cost is irrelevant; the VALUES are identical because each
    depth reads a disjoint digest slice)."""
    selects = [
        f"SELECT {key} AS key, {i} AS i, {_bucket_sql(key, i)} AS bucket"
        f" FROM {source_sql}"
        for i in range(_DEPTH)
    ]
    return " UNION ALL ".join(selects)


@register(
    "a26_count_min_sketch",
    oracle=f"""
    WITH rows4 AS (
        {_oracle_bucket_union("lineitem", "l_partkey")}
    ), sketch AS (
        SELECT i, bucket, COUNT(*) AS cnt FROM rows4 GROUP BY 1, 2
    ), probe AS (
        SELECT DISTINCT l_partkey AS key FROM lineitem
        WHERE l_partkey <= {_PROBE_MAX}
    ), pb AS (
        {_oracle_bucket_union("probe", "key")}
    ), est AS (
        SELECT pb.key, MIN(cnt) AS est
        FROM pb JOIN sketch USING (i, bucket)
        GROUP BY pb.key
    ), exact AS (
        SELECT l_partkey AS key, COUNT(*) AS exact_cnt
        FROM lineitem WHERE l_partkey <= {_PROBE_MAX}
        GROUP BY l_partkey
    )
    SELECT exact.key AS l_partkey,
           CAST(exact.exact_cnt AS BIGINT) AS exact_count,
           CAST(est.est AS BIGINT) AS cms_estimate,
           CAST(est.est - exact.exact_cnt AS BIGINT) AS overestimate
    FROM exact JOIN est USING (key)
    """,
)
def a26_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) built with
    md5-derived bucket indices so the estimator is deterministic and
    CROSS-ENGINE REPRODUCIBLE — the oracle recomputes the identical
    sketch in DuckDB and the driver hash-compares the estimates
    themselves. Probes keys 1..20 and reports estimate vs exact (CMS
    can only overestimate; the overestimate column is the collision
    mass, ≤ εN w.h.p. with ε = e/width ≈ 0.27 %).

    Scale shape — the point of the sketch: each row computes ONE md5
    and slices the 128-bit digest into four 32-bit bucket words
    (Kirsch-Mitzenmacher derived hashing — the dominant per-row cost
    is hashing, so this is 4× less work than hashing per depth;
    measured in PLANS.md). The posexplode ×4 is map-side, and partial
    hash aggregation collapses every task's stream to ≤ 4·1024
    counter rows BEFORE the exchange — the shuffle moves sketches,
    not data, exactly like Spark's own partial HLL. The merged sketch
    (4×1024 rows) then broadcasts to the probe side; estimates are a
    MIN over depth rows. At 100 TB the wide plan is: scan → per-task
    sketch → one tiny shuffle → broadcast — the canonical
    mergeable-summary posture. (Production would swap md5 for
    xxhash64 — one expression — at the price of the cross-engine
    oracle.)"""
    li = load_table(spark, sf_dir, "lineitem")
    # fan_out on the single-column key stream: the fixture scan is one
    # task (single row group), which serializes the per-row md5 —
    # the query's dominant cost. The round-robin exchange ships ONLY
    # l_partkey (8 bytes/row) and the per-task partial aggregate
    # still collapses each task to ≤ depth·width counter rows
    # (round-15; datasets.fan_out contract).
    sketch = (
        fan_out(li.select("l_partkey"))
        .select(
            F.posexplode(_bucket_array(F.col("l_partkey"))).alias(
                "i", "bucket"
            )
        )
        .groupBy("i", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    probe = (
        li.filter(F.col("l_partkey") <= _PROBE_MAX)
        .select(F.col("l_partkey").alias("key"))
        .distinct()
    )
    pb = probe.select(
        "key",
        F.posexplode(_bucket_array(F.col("key"))).alias("i", "bucket"),
    )
    est = (
        pb.join(F.broadcast(sketch), ["i", "bucket"])
        .groupBy("key")
        .agg(F.min("cnt").alias("est"))
    )
    exact = (
        li.filter(F.col("l_partkey") <= _PROBE_MAX)
        .groupBy(F.col("l_partkey").alias("key"))
        .agg(F.count("*").alias("exact_cnt"))
    )
    return exact.join(est, "key").select(
        F.col("key").alias("l_partkey"),
        F.col("exact_cnt").cast("bigint").alias("exact_count"),
        F.col("est").cast("bigint").alias("cms_estimate"),
        (F.col("est") - F.col("exact_cnt")).cast("bigint")
        .alias("overestimate"),
    )


@register(
    "a27_transpose",
    oracle="""
    WITH m AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS DOUBLE) AS n_items,
               FLOOR(SUM(l_quantity) * 1e4 + 0.5) / 1e4 AS sum_qty,
               FLOOR(AVG(l_extendedprice) * 1e4 + 0.5) / 1e4 AS avg_price
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT 'n_items' AS key,
           (SELECT n_items FROM m WHERE l_returnflag = 'A') AS A,
           (SELECT n_items FROM m WHERE l_returnflag = 'N') AS N,
           (SELECT n_items FROM m WHERE l_returnflag = 'R') AS R
    UNION ALL
    SELECT 'sum_qty',
           (SELECT sum_qty FROM m WHERE l_returnflag = 'A'),
           (SELECT sum_qty FROM m WHERE l_returnflag = 'N'),
           (SELECT sum_qty FROM m WHERE l_returnflag = 'R')
    UNION ALL
    SELECT 'avg_price',
           (SELECT avg_price FROM m WHERE l_returnflag = 'A'),
           (SELECT avg_price FROM m WHERE l_returnflag = 'N'),
           (SELECT avg_price FROM m WHERE l_returnflag = 'R')
    """,
)
def a27_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.transpose`` (Spark 4): flip a collapsed metrics
    table so metrics become rows and group values become columns —
    the report-layout pivot analysts ask for after every groupBy.
    The oracle hand-builds the transposed layout from scalar
    subqueries (ground truth), certifying both the value placement
    and Spark's column-from-value naming.

    Scale note: transpose COLLECTS the index column to the driver to
    name the output columns — it is a small-result operator by
    contract (here 3×3 after a full aggregate collapses the fact
    table; the aggregate itself is the usual partial+final hash agg).
    The contract is ENFORCED, not advisory: ``transpose_small``
    (operators/transpose.py) checkpoints a bounded limit slice, counts
    it, and raises on an uncollapsed input — probe and transpose share
    one materialization (r8), so nondeterministic inputs can't
    diverge between them."""
    from security_master_spark.functions.rounding import dround
    from security_master_spark.operators.transpose import transpose_small

    li = load_table(spark, sf_dir, "lineitem")
    m = li.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n_items"),
        dround(F.sum("l_quantity"), 4).alias("sum_qty"),
        dround(F.avg("l_extendedprice"), 4).alias("avg_price"),
    )
    return transpose_small(m, "l_returnflag")


@register(
    "a28_weighted_median",
    oracle=f"""
    WITH pw AS (
        SELECT l_returnflag,
               CAST(l_extendedprice AS DOUBLE) AS p,
               SUM(CAST(l_quantity AS DOUBLE)) AS w
        FROM lineitem
        GROUP BY l_returnflag, CAST(l_extendedprice AS DOUBLE)
    ), c AS (
        SELECT l_returnflag, p, w,
               SUM(w) OVER (PARTITION BY l_returnflag ORDER BY p) AS cum,
               SUM(w) OVER (PARTITION BY l_returnflag) AS tot
        FROM pw
    )
    SELECT l_returnflag,
           {sql_dround("MAX(tot)", 2)} AS total_weight,
           {sql_dround("MIN(CASE WHEN cum >= tot / 2 THEN p END)", 2)}
               AS weighted_median
    FROM c
    GROUP BY l_returnflag
    """,
)
def a28_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median (lower): the smallest price whose
    cumulative quantity-weight reaches half the group's total — the
    robust location statistic for notional-weighted prices (a28's
    unweighted sibling is a10's percentile).

    Scale shape: collapse to DISTINCT (group, price) first — the
    cumulative window then runs over O(distinct prices) rows, not
    O(lineitems), and because prices are distinct within a partition
    the default RANGE frame equals ROWS on both engines (no
    tie-ordering ambiguity, which is what makes an exact cross-engine
    hash possible). One hash aggregate + one bounded window + one
    final aggregate; never a full sort of the fact table."""
    li = load_table(spark, sf_dir, "lineitem")
    pw = li.groupBy(
        "l_returnflag",
        F.col("l_extendedprice").cast("double").alias("p"),
    ).agg(F.sum(F.col("l_quantity").cast("double")).alias("w"))
    wc = Window.partitionBy("l_returnflag").orderBy("p")
    wt = Window.partitionBy("l_returnflag")
    c = pw.select(
        "l_returnflag",
        "p",
        F.sum("w").over(wc).alias("cum"),
        F.sum("w").over(wt).alias("tot"),
    )
    return c.groupBy("l_returnflag").agg(
        dround(F.max("tot"), 2).alias("total_weight"),
        dround(
            F.min(F.when(F.col("cum") >= F.col("tot") / 2, F.col("p"))), 2
        ).alias("weighted_median"),
    )


@register(
    "a29_moment_shape_stats",
    oracle=f"""
    WITH mu AS (
        SELECT event_type, value,
               AVG(value) OVER (PARTITION BY event_type) AS m
        FROM events
    ), cm AS (
        SELECT event_type,
               COUNT(*) AS n,
               SUM((value - m) * (value - m)) / COUNT(*) AS m2,
               SUM((value - m) * (value - m) * (value - m))
                   / COUNT(*) AS m3,
               SUM((value - m) * (value - m) * (value - m) * (value - m))
                   / COUNT(*) AS m4
        FROM mu GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           {sql_dround("SQRT(m2)", 6)} AS pop_std,
           {sql_dround("m3 / NULLIF(m2 * SQRT(m2), 0)", 6)} AS skewness,
           {sql_dround("m4 / NULLIF(m2 * m2, 0) - 3", 6)}
               AS excess_kurtosis
    FROM cm
    """,
)
def a29_moment_shape_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis per series from
    EXPLICIT central moments — not the built-in `skewness`/`kurtosis`
    aggregates, whose bias conventions differ across engines (Spark's
    are population g1/g2; DuckDB's are sample-adjusted G1/G2, so the
    built-ins can never hash-match). Spelling every moment as
    Σ(x−μ)ᵏ/n with k via repeated MULTIPLICATION (never POW — Math.pow
    and std::pow may differ in the last ulp) and x^1.5 as m2·√m2
    keeps every step IEEE-exactly defined on both engines.

    Shape: two passes sharing one series-key shuffle — the mean as a
    partition window, then one map-side-combined groupBy collecting
    the three power sums. At 100 TB this is the textbook two-pass
    moment computation: numerically stable (centered before powering,
    no catastrophic raw-moment cancellation) and shuffle-bounded by
    O(series) rows."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type")
    mu = events.select(
        "event_type",
        "value",
        F.avg("value").over(w).alias("m"),
    )
    d = F.col("value") - F.col("m")
    cm = mu.groupBy("event_type").agg(
        F.count("*").alias("n"),
        (F.sum(d * d) / F.count("*")).alias("m2"),
        (F.sum(d * d * d) / F.count("*")).alias("m3"),
        (F.sum(d * d * d * d) / F.count("*")).alias("m4"),
    )
    m2 = F.col("m2")
    return cm.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        dround(F.sqrt(m2), 6).alias("pop_std"),
        dround(
            F.try_divide(
                F.col("m3"), F.nullif(m2 * F.sqrt(m2), F.lit(0.0))
            ),
            6,
        ).alias("skewness"),
        dround(
            F.try_divide(F.col("m4"), F.nullif(m2 * m2, F.lit(0.0)))
            - 3,
            6,
        ).alias("excess_kurtosis"),
    )


@register(
    "a30_bitmap_distinct",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct_users,
           {sql_dround(
               "CAST(COUNT(DISTINCT user_id) AS DOUBLE) / COUNT(*)", 6
           )} AS distinct_ratio
    FROM events
    GROUP BY event_type
    """,
)
def a30_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct-user counts via bitmap words — the
    Roaring-bitmap-style distributed distinct: each user_id sets one
    bit in a 64-bit word keyed by user_id div 64; `bit_or` merges the
    words associatively, and popcount (`bit_count`) sums recover the
    exact cardinality. The DuckDB oracle recomputes with a plain
    COUNT(DISTINCT), so the hash certifies the whole bitmap algebra.

    Why this beats COUNT(DISTINCT) at 100 TB: distinct shuffles every
    (group, user) pair once — O(rows) network; the bitmap collapses
    map-side to at most one word per (group, user-range-of-64) per
    partition, is mergeable without re-sorting (bit_or is commutative
    and idempotent — double-counting is structurally impossible), and
    the partial state is dense integers, not hash sets. Same algebra
    Druid/ClickHouse/Pinot use for exact distinct at scale; a24's HLL
    is the sketch sibling, this is the exact one."""
    events = load_table(spark, sf_dir, "events")
    word = F.floor(F.col("user_id") / 64).alias("word")
    # SQL text: the DataFrame F.shiftleft only takes a literal shift
    # amount; the JVM expression itself is column-capable.
    frag = F.expr("SHIFTLEFT(CAST(1 AS BIGINT), CAST(user_id % 64 AS INT))")
    words = (
        events.select("event_type", word, frag.alias("frag"))
        .groupBy("event_type", "word")
        .agg(
            F.bit_or("frag").alias("bits"),
        )
    )
    counts = events.groupBy("event_type").agg(
        F.count("*").alias("n_events")
    )
    pops = words.groupBy("event_type").agg(
        F.sum(F.bit_count("bits")).alias("n_distinct_users")
    )
    return counts.join(pops, "event_type").select(
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("n_distinct_users").cast("bigint").alias(
            "n_distinct_users"
        ),
        dround(
            F.col("n_distinct_users").cast("double")
            / F.col("n_events"),
            6,
        ).alias("distinct_ratio"),
    )


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
