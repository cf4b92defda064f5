"""Graph building blocks shared by the g-queries (plans/graph*.py).

Two graphs are derived from the TPC-H fact tables:

- the bipartite customer–supplier TRADE graph (an edge per customer
  who bought from a supplier: lineitem ⋈ orders), walked by PageRank,
  link prediction, the degree profile and k-core peeling;
- the part CO-PURCHASE graph (parts adjacent when they share an
  order: the lineitem self-join), where triangles are counted.

Every helper returns a lazy frame. Materialization (``persist`` /
``localCheckpoint``), orientation, sampling and hub caps stay in the
plan modules, which own the trade-offs behind them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table


def trade_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cust, supp) per line item — one row per customer–supplier
    trade, duplicates kept (callers decide where to collapse them)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    return li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp")
    )


def node_ids(pairs: DataFrame) -> DataFrame:
    """Distinct trading pairs as LONG node ids (c, s): customer k is
    2k, supplier k is 2k+1, so both sides share one id space and every
    shuffle hashes 8-byte keys. ``id % 2`` gives the side back and
    :func:`node_name` the readable name."""
    return pairs.select(
        (F.col("cust") * 2).alias("c"), (F.col("supp") * 2 + 1).alias("s")
    ).distinct()


def node_name(node: Column) -> Column:
    """A :func:`node_ids` id as its readable name: customer k is
    ``C<k>``, supplier k is ``S<k>``."""
    return F.when(
        node % 2 == 0, F.concat(F.lit("C"), (node / 2).cast("long").cast("string"))
    ).otherwise(F.concat(F.lit("S"), ((node - 1) / 2).cast("long").cast("string")))


def both_directions(pairs: DataFrame) -> DataFrame:
    """The undirected graph of :func:`node_ids` pairs as directed
    (src, dst) edges, each pair once per direction."""
    return pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionAll(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )


def part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(u, v) part pairs with u < v that appear on the same order —
    one row per co-occurrence, duplicates kept."""
    li = load_table(spark, sf_dir, "lineitem")
    a, b = li.alias("a"), li.alias("b")
    return a.join(
        b,
        (F.col("b.l_orderkey") == F.col("a.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))


def count_triangles(adj: DataFrame, key: str, out: str) -> DataFrame:
    """One-row ``out`` = Σ over oriented edges (s, t) of |N+(s) ∩ N+(t)|.

    ``adj`` holds each node's oriented out-neighbourhood as a sorted
    array ``nbrs`` keyed by ``key``. Under any acyclic orientation each
    triangle is counted once, at its unique pivot with out-edges to
    both other corners. The wedge information rides as the ``ns``
    array beside each exploded edge: one exchange on t, no wedge
    materialization, and the closing-edge probe is an in-task
    intersection of two sorted arrays."""
    cand = adj.select(F.col("nbrs").alias("ns"), F.explode("nbrs").alias("t"))
    return cand.join(
        adj.select(F.col(key).alias("t"), F.col("nbrs").alias("nt")), "t"
    ).agg(
        F.coalesce(F.sum(F.size(F.array_intersect("ns", "nt"))), F.lit(0))
        .cast("bigint")
        .alias(out)
    )


def peel_once(edges: DataFrame, k: int) -> DataFrame:
    """One k-core peel round over directed (src, dst) edges listed in
    both directions: drop nodes of degree < k, keep the edges whose
    endpoints both survive."""
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    keep = deg.filter(F.col("d") >= k).select("src")
    return edges.join(keep, "src").join(keep.withColumnRenamed("src", "dst"), "dst")
