"""Round-5 aggregation candidates, batch 5 (SURVEY.md §2.4): ordered
string aggregation (LISTAGG ... WITHIN GROUP — standardized in
SQL:2016, lands in Spark 4) — the report-friendly "collapse a group
to one delimited cell" aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.datasets import load_tables
from security_master_spark.functions.rounding import sql_dround
from security_master_spark.plans.registry import register


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
    event_type, a wall at cluster scale. The production spelling is
    operators/rolling.py:rolling_distinct_count (distributed rank +
    halo buckets; hash-equal by test, 2-7.8× at the 6M corpus —
    PLANS.md round-10 halo study); for unbounded or very long frames
    the path is a8's HLL sketches merged per window. This query stays
    as the portable SQL-surface semantics reference (the w10/w11
    pattern)."""
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
