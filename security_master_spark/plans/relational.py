"""Core relational surface: scan/filter/project, joins, aggregation,
sets, sort/limit, subqueries (SURVEY.md §2.1-2.4, 2.6, 2.7, 2.9).

Float discipline: every double-valued aggregate is rounded (ROUND n
digits) identically on the Spark side and in the oracle SQL, because
summation order differs across engines and the driver hash-compares
values. Keys/counts are exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table, load_tables
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register


R = 4  # decimal places for double aggregates (both engines)


# --------------------------------------------------------------------------
# Flagship: TPC-H Q1-shaped pricing summary.
# Exercises scan → pushed filter → hash agg (partial+final) → sort in one
# plan; at scale this is a single shuffle on a 6-value grouping key.
# --------------------------------------------------------------------------
@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           FLOOR((SUM(l_quantity)) * CAST(10000 AS DOUBLE) + 0.5) / CAST(10000 AS DOUBLE)                                        AS sum_qty,
           FLOOR((SUM(l_extendedprice)) * CAST(10000 AS DOUBLE) + 0.5) / CAST(10000 AS DOUBLE)                                   AS sum_base_price,
           FLOOR((SUM(l_extendedprice * (1 - l_discount))) * CAST(10000 AS DOUBLE) + 0.5) / CAST(10000 AS DOUBLE)                AS sum_disc_price,
           FLOOR((SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax))) * CAST(10000 AS DOUBLE) + 0.5) / CAST(10000 AS DOUBLE)  AS sum_charge,
           FLOOR((AVG(l_quantity)) * CAST(10000 AS DOUBLE) + 0.5) / CAST(10000 AS DOUBLE)                                        AS avg_qty,
           FLOOR((AVG(l_extendedprice)) * CAST(10000 AS DOUBLE) + 0.5) / CAST(10000 AS DOUBLE)                                   AS avg_price,
           FLOOR((AVG(l_discount)) * CAST(10000 AS DOUBLE) + 0.5) / CAST(10000 AS DOUBLE)                                        AS avg_disc,
           COUNT(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dround(F.sum("l_quantity"), R).alias("sum_qty"),
            dround(F.sum("l_extendedprice"), R).alias("sum_base_price"),
            dround(F.sum(disc_price), R).alias("sum_disc_price"),
            dround(F.sum(disc_price * (1 + F.col("l_tax"))), R).alias("sum_charge"),
            dround(F.avg("l_quantity"), R).alias("avg_qty"),
            dround(F.avg("l_extendedprice"), R).alias("avg_price"),
            dround(F.avg("l_discount"), R).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# Star join: orders ⋈ customer ⋈ nation ⋈ region with dim broadcast.
# nation/region are tiny → explicit broadcast() keeps them map-side at any
# scale; only the orders⋈customer join shuffles.
# --------------------------------------------------------------------------
@register(
    "q2_star_join_revenue",
    oracle="""
    SELECT r_name, n_name,
           FLOOR((SUM(o_totalprice)) * CAST(10000 AS DOUBLE) + 0.5) / CAST(10000 AS DOUBLE) AS total_revenue,
           COUNT(*)                    AS order_count
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def q2_star_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            dround(F.sum("o_totalprice"), R).alias("total_revenue"),
            F.count("*").alias("order_count"),
        )
    )


# --------------------------------------------------------------------------
# TPC-H Q3 shape: top unshipped orders by revenue. Sort+limit plans as
# TakeOrderedAndProject (per-partition top-k, then driver merge — no full
# sort at scale). Tiebreak on unique o_orderkey keeps LIMIT deterministic.
# --------------------------------------------------------------------------
@register(
    "q3_top_orders",
    oracle="""
    SELECT l_orderkey,
           FLOOR((SUM(l_extendedprice * (1 - l_discount))) * CAST(10000 AS DOUBLE) + 0.5) / CAST(10000 AS DOUBLE) AS revenue,
           o_orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit("1995-03-15 00:00:00").cast("timestamp")
    return (
        customer.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < cutoff)
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > cutoff)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            dround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), R
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# Filter battery: AND/OR/NOT, IN, BETWEEN, LIKE, IS NULL, CASE WHEN.
# All predicates push to the parquet scan (PushedFilters) — verified via
# explain in tests.
# --------------------------------------------------------------------------
@register(
    "q4_filter_predicates",
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_size,
           CASE WHEN p_size < 10 THEN 'small'
                WHEN p_size < 30 THEN 'medium'
                ELSE 'large' END AS size_class
    FROM part
    WHERE (p_brand IN ('Brand#1', 'Brand#2', 'Brand#3') OR p_name LIKE '%blue%')
      AND p_size BETWEEN 5 AND 45
      AND NOT (p_retailprice IS NULL)
      AND p_type NOT LIKE 'PROMO%'
    """,
)
def q4_filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.filter(
        (
            F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
            | F.col("p_name").like("%blue%")
        )
        & F.col("p_size").between(5, 45)
        & F.col("p_retailprice").isNotNull()
        & ~F.col("p_type").like("PROMO%")
    ).select(
        "p_partkey",
        "p_name",
        "p_brand",
        "p_size",
        F.when(F.col("p_size") < 10, "small")
        .when(F.col("p_size") < 30, "medium")
        .otherwise("large")
        .alias("size_class"),
    )


# --------------------------------------------------------------------------
# Outer joins: customers with/without order activity in a window.
# --------------------------------------------------------------------------
@register(
    "q5_left_outer_join",
    oracle="""
    SELECT c_custkey, c_name,
           COUNT(o_orderkey)                    AS order_count,
           FLOOR((COALESCE(SUM(o_totalprice), 0)) * CAST(10000 AS DOUBLE) + 0.5) / CAST(10000 AS DOUBLE) AS total_spent
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey
         AND o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
         AND o_orderdate <  TIMESTAMP '1995-01-01 00:00:00'
    GROUP BY c_custkey, c_name
    """,
)
def q5_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lo = F.lit("1994-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1995-01-01 00:00:00").cast("timestamp")
    cond = (
        (F.col("c_custkey") == F.col("o_custkey"))
        & (F.col("o_orderdate") >= lo)
        & (F.col("o_orderdate") < hi)
    )
    return (
        customer.join(orders, cond, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("order_count"),
            dround(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), R).alias(
                "total_spent"
            ),
        )
    )


# --------------------------------------------------------------------------
# Semi / anti joins — EXISTS / NOT EXISTS. Planned as LeftSemi/LeftAnti
# hash joins (no row multiplication, no wide shuffle of the probe side
# payload).
# --------------------------------------------------------------------------
@register(
    "q6_semi_join",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_totalprice > 300000
    )
    """,
)
def q6_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    big = orders.filter(F.col("o_totalprice") > 300000)
    return customer.join(
        big, F.col("c_custkey") == F.col("o_custkey"), "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


@register(
    "q7_anti_join",
    oracle="""
    SELECT p_partkey, p_name
    FROM part
    WHERE NOT EXISTS (
        SELECT 1 FROM lineitem WHERE l_partkey = p_partkey
    )
    """,
)
def q7_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    lineitem = load_table(spark, sf_dir, "lineitem")
    return part.join(
        lineitem, F.col("p_partkey") == F.col("l_partkey"), "left_anti"
    ).select("p_partkey", "p_name")


# --------------------------------------------------------------------------
# Set operations (Spark union == SQL UNION ALL).
# --------------------------------------------------------------------------
@register(
    "q8_set_ops",
    oracle="""
    WITH big_cust AS (
        SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 5000
    ),
    big_supp AS (
        SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 5000
    )
    SELECT nationkey, 'both' AS side FROM (SELECT * FROM big_cust INTERSECT SELECT * FROM big_supp)
    UNION ALL
    SELECT nationkey, 'cust_only' AS side FROM (SELECT * FROM big_cust EXCEPT SELECT * FROM big_supp)
    """,
)
def q8_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    big_cust = (
        customer.filter(F.col("c_acctbal") > 5000)
        .select(F.col("c_nationkey").alias("nationkey"))
    )
    big_supp = (
        supplier.filter(F.col("s_acctbal") > 5000)
        .select(F.col("s_nationkey").alias("nationkey"))
    )
    both = big_cust.intersect(big_supp).withColumn("side", F.lit("both"))
    # subtract == SQL EXCEPT (set semantics); exceptAll would keep dups.
    cust_only = big_cust.subtract(big_supp).withColumn("side", F.lit("cust_only"))
    return both.unionByName(cust_only)


# --------------------------------------------------------------------------
# Scalar + correlated subqueries (Catalyst decorrelates to joins).
# --------------------------------------------------------------------------
@register(
    "q9_scalar_subquery",
    oracle="""
    SELECT c_custkey, c_name, FLOOR((c_acctbal) * CAST(10000 AS DOUBLE) + 0.5) / CAST(10000 AS DOUBLE) AS acctbal
    FROM customer
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
    """,
)
def q9_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT c_custkey, c_name, FLOOR((c_acctbal) * CAST(10000 AS DOUBLE) + 0.5) / CAST(10000 AS DOUBLE) AS acctbal
        FROM customer
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
        """
    )


@register(
    "q10_groupby_having",
    oracle="""
    SELECT o_custkey, COUNT(*) AS order_count,
           FLOOR((AVG(o_totalprice)) * CAST(10000 AS DOUBLE) + 0.5) / CAST(10000 AS DOUBLE) AS avg_price
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 12
    """,
)
def q10_groupby_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.count("*").alias("order_count"),
            dround(F.avg("o_totalprice"), R).alias("avg_price"),
        )
        .filter(F.col("order_count") >= 12)
    )


@register(
    "q11_correlated_exists",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_totalprice > 400000
    )
    """,
)
def q11_correlated_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS via SQL — Catalyst decorrelates it into a left
    semi join (SURVEY.md §4: RewriteCorrelatedScalarSubquery family),
    so the physical plan is the same shuffle as q6_semi_join."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c_custkey, c_name, c_acctbal
        FROM customer c
        WHERE EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_totalprice > 400000
        )
        """
    )


@register(
    "q12_in_subquery",
    oracle="""
    SELECT p_partkey, p_name, p_retailprice
    FROM part
    WHERE p_partkey IN (
        SELECT l_partkey FROM lineitem WHERE l_quantity >= 49
    )
      AND p_retailprice > 1200
    """,
)
def q12_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery (decorrelated to semi join) stacked with a plain
    pushed-down predicate."""
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT p_partkey, p_name, p_retailprice
        FROM part
        WHERE p_partkey IN (
            SELECT l_partkey FROM lineitem WHERE l_quantity >= 49
        )
          AND p_retailprice > 1200
        """
    )


@register(
    "q13_lateral_topn",
    oracle="""
    SELECT n.n_name, o.o_orderkey, o.o_totalprice
    FROM nation n,
         LATERAL (
            SELECT o_orderkey, o_totalprice
            FROM orders, customer
            WHERE o_custkey = c_custkey AND c_nationkey = n.n_nationkey
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 2
         ) o
    """,
)
def q13_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery: top-2 orders per nation. Both
    engines support SQL LATERAL; Spark plans it as the same
    window-rank pattern as w5_topk_per_group."""
    for t in ("nation", "orders", "customer"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT n.n_name, o.o_orderkey, o.o_totalprice
        FROM nation n,
             LATERAL (
                SELECT o_orderkey, o_totalprice
                FROM orders JOIN customer ON o_custkey = c_custkey
                WHERE c_nationkey = n.n_nationkey
                ORDER BY o_totalprice DESC, o_orderkey
                LIMIT 2
             ) o
    """
    )


@register(
    "q14_cross_join",
    oracle="""
    SELECT r.r_name, n.n_name,
           r.r_regionkey = n.n_regionkey AS is_home
    FROM region r CROSS JOIN nation n
    """,
)
def q14_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of the two smallest dims (5×25) — crossJoin is
    legitimate only when one side is tiny; Spark plans it as
    BroadcastNestedLoopJoin."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    return region.crossJoin(nation).select(
        "r_name",
        "n_name",
        (F.col("r_regionkey") == F.col("n_regionkey")).alias("is_home"),
    )


@register(
    "q15_pagination",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20 OFFSET 40
    """,
)
def q15_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset-stable pagination: total order (price, then unique key)
    makes OFFSET deterministic. At scale prefer keyset pagination
    (WHERE (price, key) < last_seen) — OFFSET must sort-and-skip."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .offset(40)
        .limit(20)
        .select("o_orderkey", "o_totalprice")
    )


@register(
    "q16_recursive_cte",
    oracle=f"""
    WITH RECURSIVE spine(month, last_month) AS (
        SELECT CAST(DATE_TRUNC('month', MIN(o_orderdate)) AS TIMESTAMP),
               CAST(DATE_TRUNC('month', MAX(o_orderdate)) AS TIMESTAMP)
        FROM orders
        UNION ALL
        SELECT month + INTERVAL 1 MONTH, last_month FROM spine
        WHERE month + INTERVAL 1 MONTH <= last_month
    ), m AS (
        SELECT CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month,
               COUNT(*) AS n,
               SUM(o_totalprice) AS rev
        FROM orders GROUP BY 1
    )
    SELECT s.month,
           CAST(COALESCE(m.n, 0) AS BIGINT) AS n_orders,
           {sql_dround("COALESCE(m.rev, CAST(0 AS DOUBLE))", 4)} AS revenue
    FROM spine s LEFT JOIN m ON m.month = s.month
    """,
)
def q16_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (WITH RECURSIVE — lands in Spark 4): build the
    complete month spine between the first and last order date by
    recursion, then left-join monthly order rollups so months with
    ZERO orders still appear — the reporting gap a plain GROUP BY
    silently hides, and the textbook recursion the SQL surface must
    support (same construct the l42 oracle uses for transitive
    closure). The recursion depth is O(months) — bounded by the data's
    calendar span, not its row count — and each iteration is a
    one-row-per-month frame; the heavy work (the monthly rollup) stays
    a single ordinary hash aggregate. The recursion BOUND rides along
    as a column (last_month) instead of a correlated scalar subquery —
    a subquery in the recursive term re-executes against the fact
    table on EVERY iteration (measured 16 s → 1.3 s at sf0.1 for the
    ~80-month spine; at 100 TB a per-iteration fact scan would be
    fatal). Identical WITH RECURSIVE text runs on both engines; only
    the interval-arithmetic spelling differs."""
    load_tables(spark, sf_dir)
    return spark.sql(f"""
    WITH RECURSIVE spine(month, last_month) AS (
        SELECT CAST(DATE_TRUNC('month', MIN(o_orderdate)) AS TIMESTAMP),
               CAST(DATE_TRUNC('month', MAX(o_orderdate)) AS TIMESTAMP)
        FROM orders
        UNION ALL
        SELECT month + INTERVAL '1' MONTH, last_month FROM spine
        WHERE month + INTERVAL '1' MONTH <= last_month
    ), m AS (
        SELECT CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month,
               COUNT(*) AS n,
               SUM(o_totalprice) AS rev
        FROM orders GROUP BY 1
    )
    SELECT s.month,
           CAST(COALESCE(m.n, 0) AS BIGINT) AS n_orders,
           {sql_dround("COALESCE(m.rev, CAST(0 AS DOUBLE))", 4)} AS revenue
    FROM spine s LEFT JOIN m ON m.month = s.month
    """)


@register(
    "dq3_observed_metrics",
    oracle=f"""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {sql_dround("SUM(l_extendedprice * (1 - l_discount))", 4)} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
    GROUP BY l_returnflag
    """,
)
def dq3_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observed metrics (`df.observe`): QA counters — rows entering
    the aggregate, null-quantity count, revenue checksum — collected
    DURING the query's own single pass, not by a second audit scan.
    At 100 TB the difference between `observe` and a follow-up
    `SELECT COUNT(*)...` is a whole extra read of the table; observe's
    accumulators ride the task results for free and feed circuit
    breakers (abort the pipeline if null-rate spikes) via
    QueryExecutionListener in production and `Observation.get` here.
    The observation node is transparent to the optimizer (filter
    still pushes to the scan), so the RESULT stays oracle-checkable —
    the metric values themselves are asserted in
    tests/test_operators.py::test_observed_metrics_match_result."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp")
    )
    obs = Observation("dq3")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("rows_in"),
        F.count(F.when(F.col("l_quantity").isNull(), 1)).alias("null_qty"),
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "rev_checksum"
        ),
    )
    return observed.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n_items"),
        dround(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("revenue"),
    )


@register(
    "q17_pipe_syntax",
    oracle=f"""
    SELECT l_returnflag,
           l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {sql_dround("SUM(l_extendedprice * (1 - l_discount))", 4)}
               AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q17_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4's `|>` operator chaining — the
    FROM-first dataflow dialect): filter, aggregate, and project as
    sequential pipe stages. Catalyst parses pipes into the SAME
    logical plan as the classic SELECT (the oracle is that classic
    spelling), so this certifies the surface compiles to the
    identical scan-filter-aggregate plan: filter pushed to the scan,
    partial aggregation map-side — the pipe dialect costs nothing."""
    load_tables(spark, sf_dir)
    return spark.sql(f"""
    FROM lineitem
    |> WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    |> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n_items,
                 {sql_dround("SUM(l_extendedprice * (1 - l_discount))", 4)}
                     AS revenue
       GROUP BY l_returnflag, l_linestatus
    |> SELECT l_returnflag, l_linestatus, n_items, revenue
    """)


@register(
    "q18_parameterized_sql",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sql_dround("AVG(o_totalprice)", 4)} AS avg_price
    FROM orders
    WHERE o_totalprice > 150000 AND o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def q18_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL with named-argument binding (`:name` +
    `args=` — the injection-safe application-query surface, Spark
    3.4+). Parameters bind as LITERALS in the parse tree, not string
    splices, so constant folding and scan-level predicate pushdown see
    the bound values exactly as if they were inlined — the pushed
    filter on o_totalprice appears in the scan's PushedFilters the
    same as q4's hardcoded one."""
    load_tables(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               {sql_dround("AVG(o_totalprice)", 4)} AS avg_price
        FROM orders
        WHERE o_totalprice > :min_price AND o_orderstatus = :status
        GROUP BY o_orderpriority
        """,
        args={"min_price": 150000, "status": "F"},
    )


@register(
    "q19_group_by_all",
    oracle=f"""
    SELECT c_mktsegment,
           o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sql_dround("AVG(o_totalprice)", 4)} AS avg_price
    FROM orders JOIN customer ON c_custkey = o_custkey
    GROUP BY ALL
    ORDER BY ALL
    """,
)
def q19_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL (the DuckDB-pioneered shorthand,
    now in Spark 4): every non-aggregate select item becomes a
    grouping key, and the full output sorts by all columns — the
    exploratory-SQL ergonomics surface. The IDENTICAL query text runs
    on both engines (this oracle IS the Spark text), certifying the
    two engines resolve the shorthand to the same grouping set.
    Resolution happens at analysis time; the executed plan is the
    ordinary partial+final hash aggregate."""
    load_tables(spark, sf_dir)
    return spark.sql(f"""
    SELECT c_mktsegment,
           o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sql_dround("AVG(o_totalprice)", 4)} AS avg_price
    FROM orders JOIN customer ON c_custkey = o_custkey
    GROUP BY ALL
    ORDER BY ALL
    """)


@register(
    "q20_identifier_clause",
    oracle=f"""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {sql_dround("SUM(l_quantity)", 4)} AS total_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q20_identifier_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDENTIFIER() clause (Spark 3.5+): table and column names bound
    from PARAMETERS — the injection-safe way to template "same query,
    different table/metric" jobs (the alternative is string-spliced
    SQL, the classic injection and cache-miss source). The table name
    and the aggregated column both arrive via args; constant-folding
    happens after binding, so the plan is identical to the literal
    spelling the oracle uses."""
    load_tables(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               {sql_dround("SUM(IDENTIFIER(:metric))", 4)} AS total_qty
        FROM IDENTIFIER(:tbl)
        GROUP BY l_returnflag
        """,
        args={"tbl": "lineitem", "metric": "l_quantity"},
    )


@register(
    "q21_union_by_name",
    oracle=f"""
    WITH u AS (
        SELECT o_orderkey AS key, o_totalprice AS amount,
               'order' AS kind, o_orderpriority AS priority
        FROM orders
        UNION ALL BY NAME
        SELECT l_extendedprice AS amount, 'line' AS kind,
               l_orderkey AS key
        FROM lineitem
    )
    SELECT kind,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(priority) AS BIGINT) AS n_with_priority,
           {sql_dround("SUM(amount)", 4)} AS amount_total
    FROM u
    GROUP BY kind
    """,
)
def q21_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union BY NAME with missing-column null-fill
    (`unionByName(allowMissingColumns=True)` / DuckDB's
    UNION ALL BY NAME): the schema-drift-tolerant append — columns
    align by NAME, not position, and a column absent on one side
    null-fills instead of silently mis-mapping. The positional UNION
    footgun this prevents (amount landing under key) is exactly the
    bug class schema evolution produces; the n_with_priority count
    certifies the null-fill semantics, and the oracle uses DuckDB's
    native BY NAME spelling."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    top = orders.select(
        F.col("o_orderkey").alias("key"),
        F.col("o_totalprice").alias("amount"),
        F.lit("order").alias("kind"),
        F.col("o_orderpriority").alias("priority"),
    )
    bottom = li.select(
        F.col("l_extendedprice").alias("amount"),
        F.lit("line").alias("kind"),
        F.col("l_orderkey").alias("key"),
    )
    u = top.unionByName(bottom, allowMissingColumns=True)
    return u.groupBy("kind").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.count("priority").cast("bigint").alias("n_with_priority"),
        dround(F.sum("amount"), 4).alias("amount_total"),
    )


@register(
    "q22_skyline",
    oracle="""
    WITH s AS (
        SELECT p_partkey, CAST(p_retailprice AS DOUBLE) AS price,
               CAST(p_size AS BIGINT) AS size
        FROM part
    )
    SELECT a.p_partkey, a.price, a.size
    FROM s a
    WHERE NOT EXISTS (
        SELECT 1 FROM s b
        WHERE b.price <= a.price AND b.size >= a.size
          AND (b.price < a.price OR b.size > a.size)
    )
    """,
)
def q22_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKYLINE (Pareto frontier) over parts: the set of parts no other
    part beats on BOTH price (lower better) and size (higher better)
    — the multi-criteria shortlist operator ("cheap AND large") that
    ordinary ORDER BY cannot express. Public framing: 'Integration of
    Skyline Queries into Spark SQL' (EDBT 2023) — implemented here as
    a composition of existing operators rather than a Catalyst
    extension.

    The oracle is the O(n²) NOT-EXISTS dominance definition; the
    Spark plan is LINEAR after a sort: order by (price asc,
    size desc), a point is dominated iff a preceding point in that
    order strictly beats it — split into (a) the running ROWS max of
    size over earlier rows, which catches strict-size dominance
    (including same-price larger-size), and (b) the running max over
    strictly-cheaper PRICE GROUPS (collapse to per-price maxima,
    cummax, shift one group), which catches equal-size
    strictly-cheaper dominance. The global sort is the honest exact
    cost (2-D skyline); at 100 TB it range-partitions on price with
    the per-price-group pass unchanged — the classic
    partition-local-skyline-then-merge shape with a one-pass merge."""
    part = load_table(spark, sf_dir, "part")
    from pyspark.sql import Window

    s = part.select(
        "p_partkey",
        F.col("p_retailprice").cast("double").alias("price"),
        F.col("p_size").cast("bigint").alias("size"),
    )
    w_rows = (
        Window.orderBy(F.asc("price"), F.desc("size"), F.asc("p_partkey"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    m1 = F.max("size").over(w_rows)
    # Per-price-group maxima → cummax → shifted one group back = the
    # best size among STRICTLY cheaper prices.
    grp = s.groupBy("price").agg(F.max("size").alias("gmax"))
    w_price = Window.orderBy("price").rowsBetween(
        Window.unboundedPreceding, -1
    )
    m2 = grp.select(
        "price", F.max("gmax").over(w_price).alias("cheaper_max")
    )
    sentinel = F.lit(-(2**62)).cast("bigint")  # "no preceding point"
    return (
        s.withColumn("m1", m1)
        .join(F.broadcast(m2), "price")
        .filter(
            (F.coalesce(F.col("m1"), sentinel) <= F.col("size"))
            & (F.coalesce(F.col("cheaper_max"), sentinel) < F.col("size"))
        )
        .select("p_partkey", "price", "size")
    )


# Plain equi-joins silently drop NULL keys on both sides (NULL = NULL
# is NULL); the null-safe operator treats NULL as a joinable value — the
# semantics you need when a bucketing/categorization column legitimately
# produces "uncategorized" and those rows must still pair up. q5's outer
# joins keep unmatched rows; this keeps MATCHED-on-NULL rows — a
# different, frequently-confused axis.


def _bucket_sql(col: str) -> str:
    return (
        f"CASE WHEN {col} < 0 THEN NULL"
        f" ELSE CAST(FLOOR({col} / 1000) AS BIGINT) END"
    )


@register(
    "q23_null_safe_join",
    oracle=f"""
    WITH c AS (
        SELECT {_bucket_sql("c_acctbal")} AS bucket,
               COUNT(*) AS n_customers
        FROM customer GROUP BY 1
    ), s AS (
        SELECT {_bucket_sql("s_acctbal")} AS bucket,
               COUNT(*) AS n_suppliers
        FROM supplier GROUP BY 1
    )
    SELECT c.bucket, c.n_customers, s.n_suppliers,
           CAST(c.n_customers * s.n_suppliers AS BIGINT) AS n_pairs
    FROM c JOIN s ON c.bucket IS NOT DISTINCT FROM s.bucket
    """,
)
def q23_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join: customers and suppliers bucketed by
    account-balance band, where negative balances produce a
    legitimate NULL bucket ("delinquent") that MUST still pair — a
    plain `=` join returns zero rows for that band and silently
    understates it. Spark spells it `eqNullSafe`; the oracle is ANSI
    `IS NOT DISTINCT FROM` — cross-dialect certification of the same
    three-valued-logic escape hatch.

    Scale: both sides collapse to O(buckets) rows BEFORE the join
    (counts multiply instead of materializing the pair fan-out), so
    the null-safe comparison — which Spark hash-partitions exactly
    like a plain key (NULL hashes to a bucket like any value) —
    touches dimension-sized inputs only."""
    bucket = lambda c: F.when(  # noqa: E731
        F.col(c) < 0, F.lit(None).cast("bigint")
    ).otherwise(F.floor(F.col(c) / 1000).cast("bigint"))
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy(bucket("c_acctbal").alias("bucket"))
        .agg(F.count("*").alias("n_customers"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(bucket("s_acctbal").alias("bucket"))
        .agg(F.count("*").alias("n_suppliers"))
    )
    return c.join(s, c["bucket"].eqNullSafe(s["bucket"])).select(
        c["bucket"].alias("bucket"),
        "n_customers",
        "n_suppliers",
        (F.col("n_customers") * F.col("n_suppliers"))
        .cast("bigint")
        .alias("n_pairs"),
    )


@register(
    "q24_lateral_subquery",
    oracle=f"""
    SELECT o.o_orderkey,
           CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
           t.n_items,
           t.items_total
    FROM orders o,
         LATERAL (
             SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
                    {sql_dround(
                        "SUM(CAST(l.l_extendedprice AS DOUBLE))", 2
                    )} AS items_total
             FROM lineitem l
             WHERE l.l_orderkey = o.o_orderkey
         ) t
    WHERE o.o_orderkey <= 1000
    """,
)
def q24_lateral_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery (SQL:1999) — a per-row subquery
    over another table, the "for each order, summarize its items"
    idiom. Catalyst DECORRELATES it into a plain aggregate-then-join
    (DecorrelateInnerQuery): the lineitem side aggregates once by
    l_orderkey and joins back — never one subquery execution per outer
    row, which is the difference between O(n) and O(n·m) at 100 TB.
    An order with no lineitems still appears (COUNT 0, SUM NULL) —
    LATERAL over an aggregate subquery is scalar, not filtering; the
    oracle pins those null-row semantics cross-engine."""
    load_tables(spark, sf_dir)
    return spark.sql(f"""
    SELECT o.o_orderkey,
           CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
           t.n_items,
           t.items_total
    FROM orders o,
         LATERAL (
             SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
                    {sql_dround(
                        "SUM(CAST(l.l_extendedprice AS DOUBLE))", 2
                    )} AS items_total
             FROM lineitem l
             WHERE l.l_orderkey = o.o_orderkey
         ) t
    WHERE o.o_orderkey <= 1000
    """)


@register(
    "q25_limit_offset",
    oracle="""
    SELECT o_orderkey,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           o_orderpriority
    FROM orders
    ORDER BY CAST(o_totalprice AS DOUBLE) DESC, o_orderkey
    LIMIT 50 OFFSET 100
    """,
)
def q25_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIMIT/OFFSET pagination over a total order — page 3 of the
    priciest orders. The ORDER BY carries a UNIQUE tiebreaker
    (o_orderkey), without which OFFSET pagination is nondeterministic
    on every engine — the classic paging bug this query pins
    cross-engine. Spark plans the whole thing as a single
    TakeOrderedAndProject(limit=offset+k) — a top-150 heap per
    partition then one merge, never a global sort of the table
    (the l34 lesson, now certified on the pagination surface)."""
    from pyspark.sql import functions as F

    from security_master_spark.datasets import load_table

    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            "o_orderpriority",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .offset(100)
        .limit(50)
    )


@register(
    "q26_lateral_topk",
    oracle=f"""
    SELECT r.r_name AS region,
           t.c_name AS customer,
           {sql_dround("t.acctbal", 4)} AS acctbal
    FROM region r,
         LATERAL (
             SELECT c.c_name, CAST(c.c_acctbal AS DOUBLE) AS acctbal
             FROM customer c JOIN nation n
               ON n.n_nationkey = c.c_nationkey
             WHERE n.n_regionkey = r.r_regionkey
             ORDER BY c.c_acctbal DESC, c.c_custkey ASC
             LIMIT 2
         ) t
    """,
)
def q26_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: the two richest customers of
    every region, written as `FROM region, LATERAL (... ORDER BY ...
    LIMIT 2)` — the per-outer-row table subquery (Spark 3.4+ SQL
    surface). Catalyst decorrelates this into a join + per-key
    window-rank plan — the certification is that the LATERAL spelling
    produces identical rows (deterministic (acctbal DESC, custkey)
    order, the float-tie discipline: the tie-break is an integer key).

    Scale: no per-outer-row re-execution survives decorrelation, but
    the plan is NOT identical to the hand-written w6/q3 rank idiom —
    Catalyst carries the correlated ORDER BY as a range-partitioned
    GLOBAL pre-sort of customer feeding an order-insensitive
    row_number, i.e. one extra full sort + shuffle (distributed via
    range partitioning, not one-task — audit_plans.py notes it as a
    documented exception). The LATERAL dialect is the subject here;
    w6/q3 is the production spelling of per-group top-k."""
    load_tables(spark, sf_dir)
    return spark.sql(f"""
    SELECT r.r_name AS region,
           t.c_name AS customer,
           {sql_dround("t.acctbal", 4)} AS acctbal
    FROM region r,
         LATERAL (
             SELECT c.c_name, CAST(c.c_acctbal AS DOUBLE) AS acctbal
             FROM customer c JOIN nation n
               ON n.n_nationkey = c.c_nationkey
             WHERE n.n_regionkey = r.r_regionkey
             ORDER BY c.c_acctbal DESC, c.c_custkey ASC
             LIMIT 2
         ) t
    """)


@register(
    "q27_bag_set_ops",
    oracle="""
    WITH a AS (
        SELECT l_suppkey FROM lineitem WHERE l_quantity < 25
    ), b AS (
        SELECT l_suppkey FROM lineitem WHERE l_discount > 0.04
    ), i AS (
        SELECT l_suppkey, COUNT(*) AS n_intersect_all
        FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
        GROUP BY l_suppkey
    ), e AS (
        SELECT l_suppkey, COUNT(*) AS n_except_all
        FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
        GROUP BY l_suppkey
    )
    SELECT COALESCE(i.l_suppkey, e.l_suppkey) AS suppkey,
           CAST(COALESCE(i.n_intersect_all, 0) AS BIGINT)
               AS n_intersect_all,
           CAST(COALESCE(e.n_except_all, 0) AS BIGINT) AS n_except_all
    FROM i FULL OUTER JOIN e ON i.l_suppkey = e.l_suppkey
    """,
)
def q27_bag_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag (multiset) set operations: INTERSECT ALL keeps
    min(multiplicity) copies per value and EXCEPT ALL keeps
    max(0, mult_A − mult_B) — the duplicate-preserving SQL:2003
    semantics that q8's set-flavored INTERSECT/EXCEPT collapse away.
    Both multisets are per-key counted afterward so the full
    multiplicity arithmetic is hash-certified key by key.

    Shape: Spark plans INTERSECT ALL / EXCEPT ALL as ONE aggregate
    computing both sides' counts then a replicate — never a
    sort-merge of duplicate rows; the follow-up per-key counts reuse
    the same key partitioning. At 100 TB the shuffle carries
    (value, count) pairs, not duplicate tuples."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    a = lineitem.filter(F.col("l_quantity") < 25).select("l_suppkey")
    b = lineitem.filter(F.col("l_discount") > 0.04).select("l_suppkey")
    i = (
        a.intersectAll(b)
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("n_intersect_all"))
    )
    e = (
        a.exceptAll(b)
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("n_except_all"))
    )
    return (
        i.join(e, "l_suppkey", "full_outer")
        .select(
            F.col("l_suppkey").alias("suppkey"),
            F.coalesce(F.col("n_intersect_all"), F.lit(0))
            .cast("bigint")
            .alias("n_intersect_all"),
            F.coalesce(F.col("n_except_all"), F.lit(0))
            .cast("bigint")
            .alias("n_except_all"),
        )
    )


#: high-value order threshold for the row-value IN subquery.
_HIGH_VALUE = 400000.0


@register(
    "q28_row_value_in_subquery",
    oracle=f"""
    SELECT o.o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS total_price_cents
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM orders h
        WHERE h.o_totalprice > {_HIGH_VALUE}
          AND h.o_custkey = o.o_custkey
          AND h.o_orderpriority = o.o_orderpriority
    )
    GROUP BY o.o_orderstatus
    """,
)
def q28_row_value_in_subquery(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Row-value (multi-column) IN subquery: keep every order whose
    (customer, priority) TUPLE also occurs among high-value orders —
    the composite-key membership predicate applications write
    constantly, exercised as genuine `(a, b) IN (SELECT ...)` SQL
    surface rather than a hand-rolled semi join.

    Plan: Catalyst compiles the row-value IN to a LEFT SEMI hash join
    on both columns with the subquery side deduped and broadcast when
    small — exactly the plan you'd hand-write, certified here through
    the SQL front door. The aggregate after it map-side-combines."""
    load_tables(spark, sf_dir)
    return spark.sql(f"""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS total_price_cents
    FROM orders
    WHERE (o_custkey, o_orderpriority) IN (
        SELECT o_custkey, o_orderpriority
        FROM orders WHERE o_totalprice > {_HIGH_VALUE}
    )
    GROUP BY o_orderstatus
    """)


@register(
    "q29_not_in_null_trap",
    oracle="""
    WITH probe AS (
        SELECT CASE WHEN c_acctbal < 0 THEN NULL
                    ELSE c_nationkey END AS k
        FROM customer
    )
    SELECT
        CAST((SELECT COUNT(*) FROM nation
              WHERE n_nationkey NOT IN (SELECT k FROM probe))
             AS BIGINT) AS n_not_in,
        CAST((SELECT COUNT(*) FROM nation n
              WHERE NOT EXISTS (SELECT 1 FROM probe p
                                WHERE p.k = n.n_nationkey))
             AS BIGINT) AS n_not_exists,
        CAST((SELECT COUNT(*) FROM probe WHERE k IS NULL) AS BIGINT)
            AS n_null_probes,
        (SELECT COUNT(*) FROM probe WHERE k IS NULL) > 0
        AND (SELECT COUNT(*) FROM nation
             WHERE n_nationkey NOT IN (SELECT k FROM probe)) = 0
            AS trap_fired
    """,
)
def q29_not_in_null_trap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NOT IN null trap, certified: against a probe set that
    CONTAINS NULLs, `x NOT IN (subquery)` can never be TRUE (x <>
    NULL is UNKNOWN, and NOT IN requires ALL comparisons TRUE), so
    the NOT IN count collapses to 0 while NOT EXISTS — which tests
    row existence, not three-valued equality — returns the real
    anti-join count. Both counts, the NULL-probe count, and a
    `trap_fired` flag land in one row: the single most common SQL
    correctness bug, pinned as engine semantics on BOTH engines
    through the SQL front door (q7 is the anti-join spelling;
    q28 the row-value IN; this is the 3VL edge between them).

    Plan note: Catalyst compiles NOT IN over a nullable subquery to a
    null-aware anti join (the expensive-but-correct form) and NOT
    EXISTS to a plain LEFT ANTI hash join — the cost difference IS
    the semantics difference, visible in .explain()."""
    load_tables(spark, sf_dir)
    return spark.sql("""
    WITH probe AS (
        SELECT CASE WHEN c_acctbal < 0 THEN NULL
                    ELSE c_nationkey END AS k
        FROM customer
    )
    SELECT
        CAST((SELECT COUNT(*) FROM nation
              WHERE n_nationkey NOT IN (SELECT k FROM probe))
             AS BIGINT) AS n_not_in,
        CAST((SELECT COUNT(*) FROM nation n
              WHERE NOT EXISTS (SELECT 1 FROM probe p
                                WHERE p.k = n.n_nationkey))
             AS BIGINT) AS n_not_exists,
        CAST((SELECT COUNT(*) FROM probe WHERE k IS NULL) AS BIGINT)
            AS n_null_probes,
        (SELECT COUNT(*) FROM probe WHERE k IS NULL) > 0
        AND (SELECT COUNT(*) FROM nation
             WHERE n_nationkey NOT IN (SELECT k FROM probe)) = 0
            AS trap_fired
    """)
