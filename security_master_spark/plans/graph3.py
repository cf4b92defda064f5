"""Round-7 graph batch (SURVEY.md §2.11 graph): k-core peeling over
the customer–supplier trade graph — the degeneracy decomposition that
finds the dense trading core (and whose peel order bounds g2's
triangle orientation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


from security_master_spark.datasets import load_table
from security_master_spark.plans.registry import register



#: core threshold (minimum degree inside the surviving subgraph).
_CORE_K = 8
#: peel rounds — the oracle unrolls EXACTLY this many, so the checked
#: semantic is the N-round peel (a fixpoint test asserts the peel has
#: converged at the oracle SFs, making this the true k-core there).
_PEEL_ROUNDS = 4

#: one SQL peel round: degrees of the surviving edge set, keep nodes
#: with degree >= k, keep edges with BOTH endpoints kept.
_ROUND_SQL = """
    deg{i} AS (
        SELECT src, COUNT(*) AS d FROM edges{j} GROUP BY src
    ), keep{i} AS (
        SELECT src FROM deg{i} WHERE d >= {k}
    ), edges{i} AS (
        SELECT e.src, e.dst FROM edges{j} e
        JOIN keep{i} ks ON ks.src = e.src
        JOIN keep{i} kd ON kd.src = e.dst
    )"""


def _peel_sql() -> str:
    return ", ".join(
        _ROUND_SQL.format(i=i, j=i - 1 if i > 1 else "", k=_CORE_K)
        for i in range(1, _PEEL_ROUNDS + 1)
    )


@register(
    "g6_kcore_peel",
    oracle=f"""
    WITH pairs AS (
        SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), edges AS (
        SELECT cust * 2 AS src, supp * 2 + 1 AS dst FROM pairs
        UNION ALL
        SELECT supp * 2 + 1 AS src, cust * 2 AS dst FROM pairs
    ), {_peel_sql()}
    SELECT CAST(src % 2 AS BIGINT) AS side,
           CAST(COUNT(*) AS BIGINT) AS n_core_nodes,
           CAST(SUM(d) AS BIGINT) AS core_degree_sum,
           CAST(MIN(d) AS BIGINT) AS min_core_degree
    FROM (
        SELECT src, COUNT(*) AS d
        FROM edges{_PEEL_ROUNDS} GROUP BY src
    )
    GROUP BY 1
    """,
)
def g6_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling (degeneracy decomposition): repeatedly delete
    nodes of degree < k from the undirected customer–supplier trade
    graph until every survivor has ≥ k neighbors INSIDE the core —
    the densest-community primitive behind cohesion analysis and the
    degeneracy bound that justifies g2's degree orientation. Reports
    the surviving core per side (customers / suppliers): node count,
    degree sum, and the minimum core degree (which must be ≥ k once
    converged — pinned by an invariant test at the oracle SFs).

    Semantics under check: EXACTLY {_PEEL_ROUNDS} peel rounds, the
    same unrolled rounds the oracle runs, so the hash certifies every
    intermediate degree computation; a fixpoint test asserts a 5th
    round changes nothing at sf0.001/0.01, where the bounded peel IS
    the true k-core. Shape: each round is one degree groupBy plus two
    semi-join-shaped equi-joins against the kept-node set — all on
    the same src/dst keys, so a cluster that hash-partitions edges
    once reuses the partitioning across every round; peeling is
    monotone (edge set only shrinks), and the distinct-pair collapse
    happens before any iteration."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    # Loop-invariant materialization — localCheckpoint, the l16
    # (connected-components) per-round pattern: cuts lineage like the
    # round-8 parquet-scratch spelling did but without 5 disk
    # encode/decode roundtrips (round-15 measurement: 3.07 → 2.46 s
    # isolated at sf0.1). The alternatives stay measured-worse: raw
    # lineage re-derives the lineitem⋈orders distinct ~12× (9-19 s at
    # sf0.01), and .persist() was 10× worse still (96 s) because the
    # cached InMemoryRelation loses size stats and every keep-join
    # fell back from broadcast to sort-merge — localCheckpoint's
    # LogicalRDD instead lets AQE pick the join strategy from RUNTIME
    # shuffle sizes each round. Caveat, same as l16: localCheckpoint
    # is non-replicated executor storage (lineage is truncated, an
    # executor loss fails the job); a 100 TB run on unreliable nodes
    # swaps in reliable checkpoint / the scratch-parquet spelling —
    # one line, same shape.
    edges = (
        pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
        .unionAll(
            pairs.select(
                F.col("s").alias("src"), F.col("c").alias("dst")
            )
        )
        .localCheckpoint()
    )
    for i in range(_PEEL_ROUNDS):
        deg = edges.groupBy("src").agg(F.count("*").alias("d"))
        keep = deg.filter(F.col("d") >= _CORE_K).select("src")
        nxt = edges.join(keep, "src").join(
            keep.withColumnRenamed("src", "dst"), "dst"
        )
        # Materialize every round, not just the base: round N's keep
        # set re-derives round N−1's edges, so an unmaterialized loop
        # re-executes all prior rounds multiple times each (the DAG
        # grows multiplicatively — the classic iterative-lineage trap;
        # same discipline as the base materialization above).
        edges = nxt.localCheckpoint()
    core_deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    return core_deg.groupBy(
        (F.col("src") % 2).cast("bigint").alias("side")
    ).agg(
        F.count("*").cast("bigint").alias("n_core_nodes"),
        F.sum("d").cast("bigint").alias("core_degree_sum"),
        F.min("d").cast("bigint").alias("min_core_degree"),
    )
