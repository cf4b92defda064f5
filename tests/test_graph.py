"""Graph tests: the shared building blocks of operators/graph.py on
graphs built by hand, and the g-query properties the oracle hash
cannot express (score bounds, node conservation, peel convergence,
estimator accuracy, plan shape).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from security_master_spark.operators.graph import (
    both_directions,
    count_triangles,
    node_ids,
    peel_once,
    trade_pairs,
)
from security_master_spark.plans.registry import queries

_Q = queries()


def _triangles(spark, out_edges):
    """count_triangles over the oriented (s, t) edges given."""
    adj = (
        spark.createDataFrame(out_edges, "s long, t long")
        .groupBy(F.col("s").alias("u"))
        .agg(F.sort_array(F.collect_list("t")).alias("nbrs"))
    )
    return count_triangles(adj, "u", "n").first()["n"]


def _undirected(spark, pairs):
    return spark.createDataFrame(
        [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs],
        "src long, dst long",
    )


_K4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]


def test_count_triangles_k4_has_four(spark):
    # id orientation: every edge points from the lower id
    assert _triangles(spark, _K4) == 4


def test_count_triangles_four_cycle_has_none(spark):
    assert _triangles(spark, [(1, 2), (2, 3), (3, 4), (1, 4)]) == 0


def test_count_triangles_sink_node_adds_nothing(spark):
    # node 9 has no out-neighbours, so it has no adjacency row; the
    # edge into it still joins nothing and the count stays 1
    assert _triangles(spark, [(1, 2), (1, 3), (2, 3), (3, 9)]) == 1
    empty = spark.createDataFrame([], "u long, nbrs array<long>")
    assert count_triangles(empty, "u", "n").first()["n"] == 0


def test_peel_once_star_and_k4(spark):
    star = _undirected(spark, [(0, leaf) for leaf in range(1, 5)])
    assert peel_once(star, 2).count() == 0
    k4 = _undirected(spark, _K4)
    assert sorted(peel_once(k4, 3).select("src", "dst").collect()) == sorted(
        k4.collect()
    )


def test_link_prediction_scores_are_valid_jaccard(spark, sf_dir):
    """0 < jaccard ≤ 1, pairs ordered s1<s2, descending score."""
    rows = _Q["g4_link_prediction"](spark, sf_dir).collect()
    assert rows
    last = None
    for r in rows:
        assert r["s1"] < r["s2"]
        assert 0.0 < r["jaccard"] <= 1.0
        if last is not None:
            assert r["jaccard"] <= last + 1e-12
        last = r["jaccard"]


def test_g4_topk_plans_take_ordered_not_global_sort(spark, sf_dir):
    """g4's final top-K must plan TakeOrderedAndProject (parallel
    per-partition top-K + merge), never a single-partition global
    sort."""
    df = _Q["g4_link_prediction"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan[:800]


def test_degree_histogram_counts_every_node(spark, sf_dir):
    """Bucket counts sum to the distinct node count per side."""
    hist = _Q["g5_degree_histogram"](spark, sf_dir)
    got = {
        r["side"]: r["n"]
        for r in hist.groupBy("side").agg(F.sum("n_nodes").alias("n")).collect()
    }
    e = trade_pairs(spark, sf_dir).distinct()
    assert got["customer"] == e.select("cust").distinct().count()
    assert got["supplier"] == e.select("supp").distinct().count()


def test_g6_peel_reaches_fixpoint_and_core_property(spark, sf_dir):
    """The registered g6 semantic is the 4-round peel. Every surviving
    node's in-core degree must be >= k, and at the oracle SFs the peel
    must have CONVERGED (a 5th round changes nothing), making the
    checked result the true k-core."""
    from security_master_spark.plans.graph3 import _CORE_K, _PEEL_ROUNDS

    for r in _Q["g6_kcore_peel"](spark, sf_dir).collect():
        if r.n_core_nodes:
            assert r.min_core_degree >= _CORE_K
            assert r.core_degree_sum >= _CORE_K * r.n_core_nodes

    edges = both_directions(node_ids(trade_pairs(spark, sf_dir)))
    for _ in range(_PEEL_ROUNDS):
        edges = peel_once(edges, _CORE_K)
    n4 = edges.count()
    n5 = peel_once(edges, _CORE_K).count()
    assert n4 == n5, (
        f"peel not converged after {_PEEL_ROUNDS} rounds "
        f"({n4} -> {n5} edges): bump _PEEL_ROUNDS"
    )


def test_triangle_estimate_close_to_exact(spark, sf_dir_mid):
    """g3's DOULION estimate must land within 15% of g2's
    hash-certified exact triangle count (expected RSE ≈
    sqrt(p^-3 / T) — well under that on the fixture graphs)."""
    exact = _Q["g2_triangle_count"](spark, sf_dir_mid).collect()[0][
        "n_triangles"
    ]
    est = _Q["g3_triangle_estimate"](spark, sf_dir_mid).collect()[0][
        "triangle_estimate"
    ]
    assert exact > 0
    assert abs(est - exact) / exact <= 0.15, (est, exact)
