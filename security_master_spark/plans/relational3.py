"""Round-5 SQL-surface candidates, batch 2 (SURVEY.md §2.9): SQL pipe
syntax (`|>`, new in Spark 4) and parameterized SQL (named-argument
binding) — the two query-authoring surfaces a platform exposes to
analysts and to applications respectively.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table, load_tables
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register


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
