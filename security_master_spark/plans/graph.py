"""Graph analytics over the customer–supplier trade graph and the part
co-purchase graph (SURVEY.md §2.11/§2.12 adjunct): PageRank, triangle
counts, link prediction, degree profile and k-core peeling. The shared
builders live in operators/graph.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.datasets import fan_out
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.operators.graph import (
    both_directions,
    count_triangles,
    node_ids,
    node_name,
    part_pairs,
    peel_once,
    trade_pairs,
)
from security_master_spark.plans.registry import register


_DAMPING = 0.85
_ITERS = 3


def _pagerank_iter_sql(prev: str, out: str) -> str:
    """One unrolled PageRank iteration as a CTE body (DuckDB oracle)."""
    return f"""{out} AS (
        SELECT e.dst AS node,
               (1 - {_DAMPING}) / MAX(nn.n)
                   + {_DAMPING} * SUM(r.r / deg.d) AS r
        FROM edges e
        JOIN {prev} r ON r.node = e.src
        JOIN deg ON deg.src = e.src
        CROSS JOIN nn
        GROUP BY e.dst
    )"""


@register(
    "g1_pagerank",
    oracle=f"""
    WITH base AS (
        SELECT DISTINCT 'C' || CAST(o.o_custkey AS VARCHAR) AS c,
                        'S' || CAST(l.l_suppkey AS VARCHAR) AS s
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), edges AS (
        SELECT c AS src, s AS dst FROM base
        UNION ALL
        SELECT s AS src, c AS dst FROM base
    ), deg AS (
        SELECT src, CAST(COUNT(*) AS DOUBLE) AS d FROM edges GROUP BY src
    ), nn AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg
    ), r0 AS (
        SELECT deg.src AS node, CAST(1 AS DOUBLE) / nn.n AS r
        FROM deg CROSS JOIN nn
    ), {_pagerank_iter_sql("r0", "r1")},
       {_pagerank_iter_sql("r1", "r2")},
       {_pagerank_iter_sql("r2", "r3")}
    SELECT node, {sql_dround("r", 9)} AS rank
    FROM r3
    """,
)
def g1_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank ({_ITERS} fixed iterations, damping 0.85) over the
    undirected customer–supplier trade graph (an edge per distinct
    (customer, supplier) trading pair, materialized in both
    directions so every node has out-degree ≥ 1 — no dangling-mass
    redistribution needed). The oracle unrolls the same three
    iterations as chained CTEs, so this is a FULL value-checked
    fixed-point computation, not a rows-only sketch.

    Scale shape: the per-iteration work is one equi-join of the rank
    vector against the (src, dst, degree)-annotated edge list followed
    by a groupBy(dst) sum — both shuffles on the node key, so a
    cluster that hash-partitions edges by src once keeps the rank join
    co-located every iteration. The edge⋈degree annotation is computed
    ONCE and reused across iterations (at 100 TB: persist it and
    checkpoint the rank vector every few iterations to truncate
    lineage — with {_ITERS} unrolled iterations the plan is shallow
    enough that Catalyst handles it directly). The single 1-row
    node-count crossJoin at init is broadcast (allowlisted in
    tests/test_plans.py)."""
    # PERSIST the distinct trading-pair frame (LONG node ids, see
    # operators/graph.node_ids): edges (both union sides), deg, and the
    # rank-init path all walk it — without the cache the fact-table
    # join + distinct re-derives once per consumer (round-15
    # measurement: the init path re-ran it even with `weighted`
    # persisted, because deg and nn sit OUTSIDE that cache boundary —
    # plans/r15/g1_pagerank_before.txt shows the duplicated scan
    # subtrees).
    base = node_ids(trade_pairs(spark, sf_dir)).persist()
    edges = both_directions(base)
    # deg persisted too: it feeds the weighted annotation AND the
    # rank-init vector (node set + the 1/N seed) — node-count-sized,
    # the cheapest frame in the query.
    deg = (
        edges.groupBy("src")
        .agg(F.count("*").cast("double").alias("d"))
        .persist()
    )
    nn = deg.agg(F.count("*").cast("double").alias("n"))
    # (src, dst, d): annotate the edge list with out-degrees ONCE and
    # PERSIST — without it, lazy lineage re-derives the fact-table
    # join + distinct inside EVERY iteration's plan subtree (measured
    # 2x on the sf0.1 battery). This is the canonical iterative-
    # algorithm pattern: materialize the loop-invariant structure,
    # keep only the rank vector flowing.
    weighted = edges.join(deg, "src").persist()
    # r0 = 1/N for every node, with N carried as a column so the
    # damping term needs no further scalar join inside the loop.
    ranks = deg.crossJoin(F.broadcast(nn)).select(
        F.col("src").alias("node"),
        (F.lit(1.0) / F.col("n")).alias("r"),
        "n",
    )
    for _ in range(_ITERS):
        ranks = (
            weighted.join(ranks, weighted.src == ranks.node)
            .groupBy(F.col("dst").alias("node_out"))
            .agg(
                (
                    (1 - _DAMPING) / F.max("n")
                    + _DAMPING * F.sum(F.col("r") / F.col("d"))
                ).alias("r"),
                F.max("n").alias("n"),
            )
            .select(F.col("node_out").alias("node"), "r", "n")
        )
    return ranks.select(
        node_name(F.col("node")).alias("node"),
        dround(F.col("r"), 9).alias("rank"),
    )


@register(
    "g2_triangle_count",
    oracle=f"""
    WITH e AS (
        SELECT DISTINCT
               LEAST(a.l_partkey, b.l_partkey) AS u,
               GREATEST(a.l_partkey, b.l_partkey) AS v
        FROM lineitem a
        JOIN lineitem b
          ON b.l_orderkey = a.l_orderkey AND a.l_partkey < b.l_partkey
    ), deg AS (
        SELECT node, CAST(COUNT(*) AS DOUBLE) AS d
        FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
        GROUP BY node
    ), tri AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM e e1
        JOIN e e2 ON e2.u = e1.v
        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    ), wedge AS (
        SELECT SUM(d * (d - 1) / 2) AS n_wedges,
               CAST(COUNT(*) AS BIGINT) AS n_nodes
        FROM deg
    )
    SELECT wedge.n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
           tri.n_triangles,
           {sql_dround(
               "3 * CAST(tri.n_triangles AS DOUBLE) / NULLIF(wedge.n_wedges, 0)",
               8,
           )} AS global_clustering
    FROM tri CROSS JOIN wedge
    """,
)
def g2_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient over the part
    co-purchase graph (parts are adjacent when they appear on the same
    order). The Spark side counts with the DEGREE-ORDERED orientation
    (each undirected edge directed from its lower-degree endpoint,
    ties by part id): the join that enumerates wedges then fans out
    from each node's *oriented* out-neighborhood, whose size is
    O(sqrt(m)) on any graph — the standard bound that keeps the
    intermediate wedge set near-linear instead of quadratic in the max
    degree. The id-ordered oracle enumerates the same triangles
    (triangle COUNT is orientation-invariant), so the hash check
    certifies the optimized plan against the naive one.

    Scale: the triangle probe is the adjacency intersection of
    operators/graph.count_triangles (round-15 optimization) over
    out-neighbourhood arrays bounded O(sqrt m) by the orientation. It
    replaced the materialized wedge self-join + closing-edge probe,
    whose intermediate was measured at 941 MiB / 41M rows shuffled
    AND sorted at sf0.1 (plans/r15/g2_*.txt): the array form moves the
    same wedge information as ~1.2M rows / ~330 MB of neighbor-id
    payload through one exchange, with no sort.
    The final assembly is 1-row × 1-row (allowlisted)."""
    # PERSIST the edge list: it feeds four plan subtrees (degree agg,
    # both wedge sides, the closing-edge probe) — without
    # materialization the fact-table self-join + distinct re-runs in
    # each of them.
    e = part_pairs(spark, sf_dir).distinct().persist()
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("double").alias("d"))
    )
    # Degree-ordered orientation: low-degree endpoint -> high-degree
    # endpoint (ties by id). Out-neighborhood sizes are O(sqrt(m)).
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    ord_e = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
            )
            .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("t")))
            .alias("st")
        )
        .select(F.col("st.s").alias("s"), F.col("st.t").alias("t"))
    )
    # Oriented out-neighborhoods as ONE sorted array per node: the
    # collect_list buffer is bounded O(sqrt m) BY CONSTRUCTION (the
    # degree orientation above — the same bound that kept the old
    # wedge join near-linear bounds this buffer). PERSIST: adj feeds
    # both the exploded candidate stream and the probe side of the
    # intersection join.
    adj = (
        ord_e.groupBy("s")
        .agg(F.sort_array(F.collect_list("t")).alias("nbrs"))
        .persist()
    )
    tri = count_triangles(adj, "s", "n_triangles")
    wedge_tot = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).alias("n_wedges"),
        F.count("*").cast("bigint").alias("n_nodes"),
    )
    n_edges = e.agg(F.count("*").cast("bigint").alias("n_edges"))
    return (
        tri.crossJoin(F.broadcast(wedge_tot))
        .crossJoin(F.broadcast(n_edges))
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            dround(
                3
                * F.col("n_triangles").cast("double")
                / F.nullif(F.col("n_wedges"), F.lit(0.0)),
                8,
            ).alias("global_clustering"),
        )
    )


_TRI_SAMPLE_PCT = 20  # DOULION edge-sampling probability (percent)


@register(
    "g3_triangle_estimate",
    oracle=f"""
    WITH e0 AS (
        SELECT DISTINCT
               LEAST(a.l_partkey, b.l_partkey) AS u,
               GREATEST(a.l_partkey, b.l_partkey) AS v
        FROM lineitem a
        JOIN lineitem b
          ON b.l_orderkey = a.l_orderkey AND a.l_partkey < b.l_partkey
    ), e AS (
        SELECT u, v FROM e0
        WHERE CAST(('0x' || substr(md5(CAST(u AS VARCHAR) || '_'
                                       || CAST(v AS VARCHAR)), 1, 8))
                   AS UBIGINT) % 100 < {_TRI_SAMPLE_PCT}
    ), tri AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_sampled_triangles
        FROM e e1
        JOIN e e2 ON e2.u = e1.v
        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_sampled_edges,
           tri.n_sampled_triangles,
           {sql_dround(
               f"tri.n_sampled_triangles"
               f" * POW(100.0 / {_TRI_SAMPLE_PCT}, 3)", 4
           )} AS triangle_estimate
    FROM tri
    """,
)
def g3_triangle_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOULION sampled triangle ESTIMATOR — the 100-TB sibling of
    g2's exact count: keep each edge with probability p (here
    {_TRI_SAMPLE_PCT}%, decided by a DETERMINISTIC md5 of the edge
    key, so the sample — and therefore this whole query — is
    reproducible across engines, runs, and partitionings), count
    triangles on the sampled graph, scale by 1/p³. The wedge join —
    the expensive stage — shrinks by ~p² and the estimator's relative
    standard error is ≈ sqrt(p⁻³/T): under 1% on this graph's ~1.9M
    triangles (tests/test_graph.py pins estimate-vs-exact within
    tolerance against g2's hash-certified count). Determinism makes
    the sketch FULLY SQL-oracle-checkable — same discipline as l51's
    hash-keyed weighted sampling, vs the rows-only checks
    engine-specific sketches (a8's HLL) are stuck with."""
    keep = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "_",
                        F.col("u").cast("string"),
                        F.col("v").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 100
        < _TRI_SAMPLE_PCT
    )
    # The sample filter runs BEFORE the distinct (they commute — the
    # md5 keep-decision is a deterministic function of the distinct
    # key itself), so the dedup exchange carries only the ~p sampled
    # pairs instead of the full pair set. Written explicitly rather
    # than left to predicate pushdown: the filter must not stay above
    # the aggregate when the subtree sits under a cache boundary.
    e = part_pairs(spark, sf_dir).filter(keep).distinct().persist()
    # Same adjacency intersection as g2, here under the id-orientation
    # the canonical u < v edges already encode: every sampled triangle
    # a < b < c is counted once at its pivot edge (a, b) as
    # c ∈ N+(a) ∩ N+(b). adj persisted like g2's: it feeds both the
    # exploded candidate stream and the probe side.
    adj = e.groupBy("u").agg(
        F.sort_array(F.collect_list("v")).alias("nbrs")
    ).persist()
    tri = count_triangles(adj, "u", "n_sampled_triangles")
    n_edges = e.agg(F.count("*").cast("bigint").alias("n_sampled_edges"))
    scale = (100.0 / _TRI_SAMPLE_PCT) ** 3
    return (
        tri.crossJoin(F.broadcast(n_edges))
        .select(
            "n_sampled_edges",
            "n_sampled_triangles",
            dround(
                F.col("n_sampled_triangles").cast("double") * F.lit(scale), 4
            ).alias("triangle_estimate"),
        )
    )


# g1 (PageRank) covered fixed-point iteration, g2/g3 the motif count;
# g4/g5 add the remaining canonical shapes — the wedge self-join scored
# per candidate pair, and the one-pass structural profile every graph
# job starts with.


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
    e = trade_pairs(spark, sf_dir)
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
    e = trade_pairs(spark, sf_dir).distinct()
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
    # Loop-invariant materialization — localCheckpoint, the l16
    # (connected-components) per-round pattern: cuts lineage without
    # a disk encode/decode roundtrip per round (round-15 measurement:
    # 3.07 → 2.46 s isolated at sf0.1 against per-round parquet
    # writes). The alternatives stay measured-worse: raw lineage
    # re-derives the lineitem⋈orders distinct ~12× (9-19 s at
    # sf0.01), and .persist() was 10× worse still (96 s) because the
    # cached InMemoryRelation loses size stats and every keep-join
    # fell back from broadcast to sort-merge — localCheckpoint's
    # LogicalRDD instead lets AQE pick the join strategy from RUNTIME
    # shuffle sizes each round. Caveat, same as l16: localCheckpoint
    # is non-replicated executor storage (lineage is truncated, an
    # executor loss fails the job); a 100 TB run on unreliable nodes
    # swaps in a reliable ``checkpoint()`` — one line, same shape.
    edges = both_directions(node_ids(trade_pairs(spark, sf_dir))).localCheckpoint()
    for _ in range(_PEEL_ROUNDS):
        # Materialize every round, not just the base: round N's keep
        # set re-derives round N−1's edges, so an unmaterialized loop
        # re-executes all prior rounds multiple times each (the DAG
        # grows multiplicatively — the classic iterative-lineage trap;
        # same discipline as the base materialization above).
        edges = peel_once(edges, _CORE_K).localCheckpoint()
    core_deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    return core_deg.groupBy(
        (F.col("src") % 2).cast("bigint").alias("side")
    ).agg(
        F.count("*").cast("bigint").alias("n_core_nodes"),
        F.sum("d").cast("bigint").alias("core_degree_sum"),
        F.min("d").cast("bigint").alias("min_core_degree"),
    )
