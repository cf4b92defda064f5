"""Round-5 graph-analytics batch 2 (SURVEY.md §2 graph adjunct):
common-neighbor link prediction and the degree-distribution profile,
both over the bipartite customer–supplier trade graph g1 walks.

g1 (PageRank) covered fixed-point iteration, g2/g3 the motif count;
these add the remaining canonical shapes — the wedge self-join scored
per candidate pair, and the one-pass structural profile every graph
job starts with.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.datasets import fan_out, load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register

_MIN_COMMON = 3  # candidate pairs must share ≥ this many customers
_TOP_K = 100  # report the K best-scored candidate links
_HUB_CAP = 500  # customers with more distinct suppliers are dropped


def _edges_sql() -> str:
    return """
        SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    """


@register(
    "g4_link_prediction",
    oracle=f"""
    WITH e AS ({_edges_sql()}),
    ok_cust AS (
        SELECT cust FROM e GROUP BY cust HAVING COUNT(*) <= {_HUB_CAP}
    ), ee AS (
        SELECT e.cust, e.supp FROM e JOIN ok_cust USING (cust)
    ), deg AS (
        SELECT supp, COUNT(*) AS d FROM ee GROUP BY supp
    ), pairs AS (
        SELECT a.supp AS s1, b.supp AS s2, COUNT(*) AS common
        FROM ee a JOIN ee b ON b.cust = a.cust AND a.supp < b.supp
        GROUP BY a.supp, b.supp
        HAVING COUNT(*) >= {_MIN_COMMON}
    )
    SELECT s1, s2, CAST(common AS BIGINT) AS common_customers,
           {sql_dround(
               "common / CAST(d1.d + d2.d - common AS DOUBLE)", 8)}
               AS jaccard
    FROM pairs
    JOIN deg d1 ON d1.supp = pairs.s1
    JOIN deg d2 ON d2.supp = pairs.s2
    ORDER BY jaccard DESC, s1, s2
    LIMIT {_TOP_K}
    """,
)
def g4_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by neighborhood overlap: score supplier pairs
    by the Jaccard similarity of their customer bases (common
    neighbors in the bipartite trade graph) and return the top-K
    candidate links — the classic 'suppliers you could also source
    from' recommender primitive (Liben-Nowell & Kleinberg 2003).

    Scale discipline, in order: (1) HUB FILTER — customers above
    ``_HUB_CAP`` distinct suppliers are dropped before any pair is
    emitted, because a hub customer contributes d² candidate pairs and
    ~zero signal (everybody shares it); this is the standard cap that
    keeps the wedge stream near-linear on power-law graphs, and it is
    applied identically in the oracle so the check certifies the
    capped semantics. (2) Round-15 optimization (the d47 shape): ONE
    exchange on cust collapses each customer to a sorted
    distinct-supplier array (the collect_set buffer is the same
    per-customer breadth the hub cap bounds — ≤ ``_HUB_CAP`` survives,
    and the cap test runs ON the array before pairs are generated);
    supplier degrees and wedge pairs both read the persisted basket
    frame, replacing the old shape's hub-filter join + wedge
    self-join (which re-derived the fact-join distinct in 4 plan
    subtrees and shuffled the full ee⋈ee wedge stream — see
    plans/r15/g4_link_prediction_before.txt). Pairs come from
    per-array combination generation (s1 < s2 by sort order), still
    partially aggregated map-side into (s1, s2) counts.
    (3) ``_MIN_COMMON`` prunes the long tail before the degree joins.
    (4) The final top-K is orderBy().limit() — TakeOrderedAndProject,
    a parallel per-partition top-K + driver merge, never a global
    sort. Ties are broken by (s1, s2) so the K rows are deterministic
    cross-engine."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    e = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp")
        )
    )
    # fan_out: single-row-group fixture scans are one task; the
    # round-robin exchange of the narrow (cust, supp) stream restores
    # map-side parallelism for the partial collect_set (its contract).
    baskets = (
        fan_out(e)
        .groupBy("cust")
        .agg(F.sort_array(F.collect_set("supp")).alias("supps"))
        .filter(F.size("supps") <= _HUB_CAP)
        .persist()
    )
    deg = (
        baskets.select(F.explode("supps").alias("supp"))
        .groupBy("supp")
        .agg(F.count("*").alias("d"))
    )
    pairs = (
        # fan_out again on the CACHED read: AQE (cache-AQE conf,
        # session.py) rightly coalesces the persisted basket frame to
        # ~1 partition by size, but the pair explode below is
        # per-row-EXPENSIVE (up to C(|supps|, 2) structs per row) —
        # exactly fan_out's contract.
        fan_out(baskets)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(supps, (x, i) -> "
                    "transform(slice(supps, i + 2, size(supps)), "
                    "y -> struct(x AS s1, y AS s2))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.s1").alias("s1"), F.col("p.s2").alias("s2"))
        .agg(F.count("*").alias("common"))
        .filter(F.col("common") >= _MIN_COMMON)
    )
    d1 = deg.select(F.col("supp").alias("s1"), F.col("d").alias("deg1"))
    d2 = deg.select(F.col("supp").alias("s2"), F.col("d").alias("deg2"))
    return (
        # no forced broadcast: deg is one row PER SUPPLIER (SF-linear,
        # same cardinality class the toolkit's attach guard bounds) —
        # AQE broadcasts from the actual shuffle size while small and
        # shuffle-joins at scale (round-12 audit, PLANS.md)
        pairs.join(d1, "s1")
        .join(d2, "s2")
        .select(
            "s1",
            "s2",
            F.col("common").cast("bigint").alias("common_customers"),
            dround(
                F.col("common")
                / (F.col("deg1") + F.col("deg2") - F.col("common")).cast(
                    "double"
                ),
                8,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "s1", "s2")
        .limit(_TOP_K)
    )


@register(
    "g5_degree_histogram",
    oracle=f"""
    WITH e AS ({_edges_sql()}),
    deg AS (
        SELECT 'customer' AS side, cust AS node, COUNT(*) AS d
        FROM e GROUP BY cust
        UNION ALL
        SELECT 'supplier' AS side, supp AS node, COUNT(*) AS d
        FROM e GROUP BY supp
    )
    SELECT side,
           CAST(FLOOR(LOG2(CAST(d AS DOUBLE))) AS BIGINT) AS log2_bucket,
           COUNT(*) AS n_nodes,
           CAST(MIN(d) AS BIGINT) AS min_degree,
           CAST(MAX(d) AS BIGINT) AS max_degree
    FROM deg
    GROUP BY side, CAST(FLOOR(LOG2(CAST(d AS DOUBLE))) AS BIGINT)
    """,
)
def g5_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-distribution profile of the bipartite trade graph:
    per side (customer / supplier), node counts in log2 degree
    buckets — the one-pass structural summary that sizes every
    downstream graph job (it is how you pick g4's hub cap and
    whether g2 needs the degree-ordered orientation). Shape: one
    distinct-edge aggregate, one FUSED degree aggregate, one tiny
    bucket roll-up — shuffles carry (node, count) then (bucket,
    count); nothing is ever quadratic.

    Round-15 optimization: the old per-side groupBy union re-derived
    the fact-join distinct in BOTH union branches (two full scans +
    two distinct exchanges — plans/r15/g5_degree_histogram_before.txt)
    and shuffled two degree exchanges. Each distinct edge now explodes
    to its two (side, node) endpoints and ONE groupBy(side, node)
    computes both sides' degrees: one derivation of e, one degree
    exchange, partial aggregation map-side — strictly fewer passes
    and fewer shuffled bytes (the explode doubles narrow rows
    PRE-aggregation, map-side combine collapses them before the
    exchange)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    e = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp")
        )
        .distinct()
    )
    deg = (
        e.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("customer").alias("side"),
                        F.col("cust").alias("node"),
                    ),
                    F.struct(
                        F.lit("supplier").alias("side"),
                        F.col("supp").alias("node"),
                    ),
                )
            ).alias("sn")
        )
        .groupBy("sn.side", "sn.node")
        .agg(F.count("*").alias("d"))
        .select(F.col("side"), F.col("d"))
    )
    bucket = F.floor(F.log2(F.col("d").cast("double"))).cast("bigint")
    return deg.groupBy("side", bucket.alias("log2_bucket")).agg(
        F.count("*").alias("n_nodes"),
        F.min("d").cast("bigint").alias("min_degree"),
        F.max("d").cast("bigint").alias("max_degree"),
    )
