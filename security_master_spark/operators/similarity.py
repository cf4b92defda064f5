"""Similarity search over embedding columns (SURVEY.md §2.12):
brute-force cosine top-k (the exactness baseline) and LSH/IVF-style
bucketed ANN (the scale path).

Scale design: brute-force is a map-side scan + TakeOrderedAndProject
(per-partition top-k then driver merge of k·partitions rows — never a
full sort). The bucketed variant prunes candidates with a coarse
quantizer so each query only scans its probe cells; both sides shuffle
on cell ids only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import fan_out
from security_master_spark.functions.vector import cosine, dot, norm, normalize


def cosine_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine against one query vector. Ties broken by
    id for determinism. Plans as scan → project → TakeOrderedAndProject."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        embeddings.select(
            F.col(id_col),
            cosine(F.col(vec_col), q).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def knn_per_group(
    embeddings: DataFrame,
    group_col: str,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """k nearest neighbors for every vector, blocked by ``group_col``
    (label/partition blocking = the trivial IVF: candidates only within
    the same cell). CrossJoin is confined within groups; the window
    top-k shuffles on (group, left id)."""
    # Pre-normalize per VECTOR (O(n) folds), so the per-PAIR work —
    # the O(n·k̄) quadratic part — is a single dot fold instead of
    # dot + two norms (measured ~3× less expression evaluation).
    embeddings = fan_out(embeddings)
    a = embeddings.select(
        F.col(group_col).alias("__g"),
        F.col(id_col).alias("id_a"),
        normalize(F.col(vec_col)).alias("vec_a"),
    )
    b = embeddings.select(
        F.col(group_col).alias("__g"),
        F.col(id_col).alias("id_b"),
        normalize(F.col(vec_col)).alias("vec_b"),
    )
    pairs = a.join(b, "__g").filter(F.col("id_a") != F.col("id_b"))
    scored = pairs.select(
        F.col("__g").alias(group_col),
        "id_a",
        "id_b",
        dot(F.col("vec_a"), F.col("vec_b")).alias("cos_sim"),
    )
    w = Window.partitionBy(group_col, "id_a").orderBy(
        F.desc("cos_sim"), F.asc("id_b")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


#: (seed, n_planes, dim) → sign matrix [plane][component] ∈ {-1.0, 1.0}
_SIGN_CACHE: dict[tuple[int, int, int], list[list[float]]] = {}


def _plane_signs(spark, seed: int, n_planes: int, dim: int) -> list[list[float]]:
    """Hyperplane sign matrix, materialized ONCE per process.

    The components are pure constants (xxhash64 of seed/plane/index),
    but written as expressions inside the per-row lambda they were
    re-hashed for every row × plane × component — higher-order
    functions are interpreted, so nothing folded them. They are now
    computed in-process by a bit-exact Python port of Spark's
    ``xxhash64`` over int columns (functions/xxh64.py; equality with
    ``F.xxhash64`` is pinned in tests), so the first ANN call pays no
    driver-side Spark job. ``spark`` is kept for API compatibility and
    unused."""
    key = (seed, n_planes, dim)
    if key not in _SIGN_CACHE:
        _populate_sign_cache(spark, [seed], n_planes, dim)
    return _SIGN_CACHE[key]


def _populate_sign_cache(spark, seeds: list[int], n_planes: int, dim: int) -> None:
    """Fill the cache for all ``seeds`` — pure in-process arithmetic."""
    from security_master_spark.functions.xxh64 import xxhash64_ints

    for s in seeds:
        if (s, n_planes, dim) in _SIGN_CACHE:
            continue
        _SIGN_CACHE[(s, n_planes, dim)] = [
            [
                1.0 if xxhash64_ints(s, b, i) & 1 else -1.0
                for i in range(dim)
            ]
            for b in range(n_planes)
        ]


def _multi_table_cells_pandas(spark, n_planes: int, n_tables: int, dim: int):
    """Arrow-vectorized cell computation: all tables' projections are
    one (batch × dim) @ (dim × tables·planes) BLAS matmul per Arrow
    batch, then sign → bit-pack. Dense linear algebra is the one place
    the interpreted higher-order expressions genuinely can't compete —
    measured ~10× over the expression form on the fixture corpus. The
    hyperplanes are xxhash64-derived signs (precomputed once by
    :func:`_plane_signs`); float-sum order can flip a near-zero
    projection's bit — acceptable for a bucketing heuristic."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    _populate_sign_cache(
        spark, [101 + t for t in range(n_tables)], n_planes, dim
    )
    sign_rows = [
        _plane_signs(spark, 101 + t, n_planes, dim)[b]
        for t in range(n_tables)
        for b in range(n_planes)
    ]
    S = np.array(sign_rows, dtype=np.float64)  # (tables·planes, dim)
    weights = 1 << np.arange(n_planes, dtype=np.int64)
    table_tag = np.arange(n_tables, dtype=np.int64) << 32

    def cells(vs):
        import pandas as pd

        # Null/malformed embeddings hash to NO cell (empty list → the
        # downstream explode emits nothing, so they can't collide with
        # anything) instead of crashing np.stack — null payload rows
        # are routine in fresh/partial datasets (tests/test_robustness).
        dim = S.shape[1]
        arrs = [np.asarray(v, dtype=np.float64) if v is not None else None
                for v in vs]
        mask = [a is not None and a.shape == (dim,) for a in arrs]
        out = [[] for _ in arrs]
        if any(mask):
            V = np.stack([a for a, m in zip(arrs, mask) if m])
            proj = V @ S.T  # (n_valid, tables·planes)
            bits = (proj > 0).reshape(len(V), n_tables, n_planes)
            cell = (bits * weights).sum(axis=2) + table_tag
            it = iter(cell)
            for i, m in enumerate(mask):
                if m:
                    out[i] = [int(c) for c in next(it)]
        return pd.Series(out)

    return pandas_udf(cells, "array<long>")


def _dot_pandas():
    """Arrow-batched row-wise dot product: one ``einsum`` per batch.
    The per-candidate scoring loop is dense linear algebra — the same
    argument as :func:`_multi_table_cells_pandas`: interpreted
    higher-order folds cost ~µs/element, BLAS costs ~ns. Float-sum
    order differs from the sequential ``vector.dot`` fold, so use this
    only where results are rank-consumed (ANN top-k), not
    hash-compared."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def pdot(a, b):
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        A = np.stack([np.asarray(v, dtype=np.float64) for v in a])
        B = np.stack([np.asarray(v, dtype=np.float64) for v in b])
        return pd.Series(np.einsum("ij,ij->i", A, B))

    return pandas_udf(pdot, "double")


def ivf_build_centroids(
    embeddings: DataFrame,
    n_cells: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
):
    """Spherical k-means coarse quantizer (the IVF 'train' step) as
    distributed DataFrame passes with driver-held centroids — the
    MLlib-KMeans execution shape: per iteration, one Arrow-batched
    assignment pass over the corpus (a single BLAS matmul per batch
    against the broadcast centroid matrix) and one posexplode→groupBy
    partial-sum whose result is k×dim rows collected to the driver.
    Only the k×dim centroid matrix ever lives driver-side; the corpus
    never leaves the executors. Returns the centroid matrix as a
    list of lists (row-normalized — assignment is by cosine).

    Init is deterministic: the ``n_cells`` corpus vectors with the
    smallest ``xxhash64(id, seed)`` (a seeded uniform draw that is
    stable across runs and partitionings, unlike ``df.sample``).
    """
    import numpy as np

    def _norm_rows(M):
        n = np.linalg.norm(M, axis=1, keepdims=True)
        n[n == 0] = 1.0
        return M / n

    # Null embeddings carry no geometry — exclude them from training
    # (they also hash to no cell at assignment time).
    embeddings = embeddings.filter(F.col(vec_col).isNotNull())
    init = (
        embeddings.select(F.col(vec_col).alias("v"))
        .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)))
        .limit(n_cells)
        .collect()
    )
    if not init:
        # Empty corpus (an empty partition / date range is routine at
        # scale): no centroids to train; downstream ivf_topk joins
        # against zero cells and yields an empty result instead of
        # crashing in the numpy reshape.
        return []
    C = _norm_rows(np.array([r.v for r in init], dtype=np.float64))

    # No fan_out here: assignment is one BLAS matmul per Arrow batch —
    # not per-row-expensive — and an unconditional repartition of the
    # corpus PER TRAINING ITERATION is exactly the shuffle a 100 TB run
    # can't afford; the parquet layout's natural partitioning carries it.
    for _ in range(iters):
        assign = _ivf_assign_pandas(C, nprobe=1)
        assigned = embeddings.select(
            F.element_at(assign(F.col(vec_col)), 1).alias("__cell"),
            F.col(vec_col).alias("__v"),
        )
        # Partial sums are map-side combined; k·dim rows reach the driver.
        sums = (
            assigned.select("__cell", F.posexplode("__v").alias("pos", "x"))
            .groupBy("__cell", "pos")
            .agg(F.sum("x").alias("s"))
            .collect()
        )
        newC = C.copy()  # empty cells keep their centroid
        acc = np.zeros_like(C)
        seen = set()
        for r in sums:
            acc[r["__cell"], r["pos"]] = r["s"]
            seen.add(r["__cell"])
        for c in seen:
            newC[c] = acc[c]
        C = _norm_rows(newC)
    return [[float(x) for x in row] for row in C]


def _ivf_assign_pandas(centroids, nprobe: int):
    """Arrow-batched IVF cell assignment: argmax/top-``nprobe`` of one
    (batch × dim) @ (dim × cells) matmul. Centroids are row-normalized,
    so the argmax over raw (un-normalized) vectors is the cosine argmax
    — the query-side norm is constant across cells."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)

    def probe(vs):
        if len(vs) == 0:
            return pd.Series([], dtype="object")
        if C.size == 0:
            # untrained quantizer (empty corpus): no cells to probe
            return pd.Series([[] for _ in range(len(vs))])
        # Null/malformed vectors probe NO cell (empty list) — same
        # null-payload hardening as the sign-LSH cells UDF.
        dim = C.shape[1]
        arrs = [np.asarray(v, dtype=np.float64) if v is not None else None
                for v in vs]
        mask = [a is not None and a.shape == (dim,) for a in arrs]
        out = [[] for _ in arrs]
        if any(mask):
            V = np.stack([a for a, m in zip(arrs, mask) if m])
            sims = V @ C.T  # (n_valid, cells)
            if nprobe == 1:
                cells = sims.argmax(axis=1)[:, None]
            else:
                cells = np.argsort(-sims, axis=1)[:, :nprobe]
            it = iter(cells)
            for i, m in enumerate(mask):
                if m:
                    out[i] = [int(c) for c in next(it)]
        return pd.Series(out)

    return pandas_udf(probe, "array<int>")


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    query_vec_col: str = "q_vec",
    centroids=None,
) -> DataFrame:
    """IVF approximate top-k — the coarse-quantizer sibling of
    :func:`ann_topk_lsh`: corpus vectors live in their nearest-centroid
    cell (ONE cell each — at 100 TB this is the partition/sort key of
    the stored index, paid once at build), queries probe their
    ``nprobe`` nearest cells, candidates come from the cell equi-join,
    exact cosine ranks them. Scan fraction ≈ nprobe/n_cells of the
    corpus per query instead of all of it; recall is the nprobe dial.
    Pass ``centroids`` (from :func:`ivf_build_centroids`) to reuse a
    trained quantizer."""
    if centroids is None:
        centroids = ivf_build_centroids(
            embeddings, n_cells=n_cells, iters=iters,
            id_col=id_col, vec_col=vec_col,
        )
    corpus = embeddings.select(
        F.col(id_col),
        normalize(F.col(vec_col)).alias(vec_col),
        F.try_element_at(
            # try_: a null/malformed embedding probes zero cells (empty
            # array), which must become a null cell (joins nothing),
            # not an ANSI index error.
            _ivf_assign_pandas(centroids, nprobe=1)(F.col(vec_col)),
            F.lit(1),
        ).alias("__cell"),
    )
    qs = queries.select(
        F.col(query_id_col),
        normalize(F.col(query_vec_col)).alias(query_vec_col),
        F.explode(
            _ivf_assign_pandas(centroids, nprobe=nprobe)(F.col(query_vec_col))
        ).alias("__cell"),
    )
    scored = (
        qs.join(corpus, "__cell")
        .select(
            query_id_col,
            F.col(id_col),
            dot(F.col(query_vec_col), F.col(vec_col)).alias("cos_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def near_dup_pairs_lsh(
    embeddings: DataFrame,
    threshold: float = 0.8,
    n_planes: int = 8,
    n_tables: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Embedding near-duplicate pairs at corpus scale: (id_a, id_b,
    cos_sim) for every pair sharing a sign-LSH cell in any of
    ``n_tables`` hash tables AND verifying ≥ ``threshold`` by exact
    cosine. The scale path for embedding dedup — candidate generation
    is a cell equi-join (shuffle O(corpus · tables) cell-id rows),
    never an all-pairs or label-blocked crossJoin, so it survives a
    100× corpus where any quadratic blocking dies.

    Same dial as :func:`ann_topk_lsh`: P(candidate) =
    1 − (1 − p^planes)^tables with p = 1 − θ/π. The defaults target
    the near-dup regime (cos ≥ 0.8 → p ≥ 0.80, recall ≈ 0.95); for
    mining weaker pairs lower ``n_planes``. Output feeds
    connected-components closure exactly like the MinHash edges.
    """
    cells_udf = _multi_table_cells_pandas(
        embeddings.sparkSession, n_planes, n_tables, dim
    )
    # Persist the celled corpus (round-15): both sides of the cell
    # self-join read the SAME (id, normalized vec, cell) frame, and
    # without the cut each side re-ran the Arrow cells UDF + normalize
    # over the whole corpus — the candidate stage's dominant cost,
    # paid twice. The cached frame is O(corpus · tables) rows and
    # exists only for this job's lifetime; at cluster scale it spills
    # to executor disk like any linear intermediate (measured r15:
    # 1.19 → 0.71 s isolated, same-era A/B minimums).
    celled = (
        fan_out(embeddings)
        .select(
            F.col(id_col).alias("__id"),
            normalize(F.col(vec_col)).alias("__vec"),
            F.explode(cells_udf(F.col(vec_col))).alias("__cell"),
        )
        .persist()
    )
    a = celled.select(
        F.col("__id").alias("id_a"),
        F.col("__vec").alias("vec_a"),
        "__cell",
    )
    b = celled.select(
        F.col("__id").alias("id_b"),
        F.col("__vec").alias("vec_b"),
        "__cell",
    )
    # Dedup candidates across tables FIRST, score once per surviving
    # pair with the JVM dot fold — the measured winner from the ANN
    # A/B (scoring pre-dedup multiplies fold work by ~n_tables).
    candidates = (
        a.join(b, "__cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "vec_a", "id_b", "vec_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    return candidates.select(
        "id_a",
        "id_b",
        dot(F.col("vec_a"), F.col("vec_b")).alias("cos_sim"),
    ).filter(F.col("cos_sim") >= threshold)


def ann_topk_lsh(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    query_vec_col: str = "q_vec",
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: corpus and queries bucketed by sign-LSH cell
    in ``n_tables`` independent hash tables, equi-joined on cell id (no
    corpus crossJoin), candidates deduped across tables, exact cosine
    rank within the candidate set.

    Recall/cost dial: P(candidate) = 1 − (1 − p^planes)^tables with
    p = 1 − θ/π per plane — more tables buys recall linearly in shuffle
    volume, more planes cuts candidates exponentially. Shuffle is
    O((corpus + queries) · tables) cell-id pairs, never vectors²;
    per-bucket exact ranking keeps the whole thing one window + filter.
    """
    # Normalize per vector at bucketing time so per-candidate scoring
    # is a single dot fold (see knn_per_group). Cells are computed from
    # the RAW vector — they're scale-invariant, and feeding them the
    # normalized expression would re-evaluate the normalization inside
    # every one of the planes×tables cell aggregates (projection
    # collapse inlines it; higher-order exprs get no CSE).
    cells_udf = _multi_table_cells_pandas(
        embeddings.sparkSession, n_planes, n_tables, dim
    )
    corpus = fan_out(embeddings).select(
        F.col(id_col),
        normalize(F.col(vec_col)).alias(vec_col),
        F.explode(cells_udf(F.col(vec_col))).alias("__cell"),
    )
    qs = queries.select(
        F.col(query_id_col),
        normalize(F.col(query_vec_col)).alias(query_vec_col),
        F.explode(cells_udf(F.col(query_vec_col))).alias("__cell"),
    )
    # Score AT the cell join and drop the vectors immediately: the
    # cross-table dedup then shuffles narrow (q_id, id, score) rows
    # instead of two 64-float arrays per candidate, and the duplicate
    # scores (same pair found in several tables) collapse with MAX —
    # identical values, so MAX == any-of. One fewer wide shuffle.
    # Dedup candidates across tables FIRST, score once per surviving
    # pair with the JVM-side dot fold. Two rejected alternatives, both
    # measured slower in interleaved A/B at sf0.1: scoring pre-dedup
    # multiplies the fold work by ~n_tables; scoring through an
    # Arrow-batched pandas UDF at this position forces an extra Python
    # stage boundary inside the join pipeline (the per-stage round
    # trips dwarf the saved arithmetic at realistic candidate counts —
    # `_dot_pandas` pays off only on ≫10⁶-pair scoring stages).
    candidates = (
        qs.join(corpus, "__cell")
        .select(query_id_col, query_vec_col, id_col, vec_col)
        .dropDuplicates([query_id_col, id_col])
    )
    scored = candidates.select(
        query_id_col,
        F.col(id_col),
        dot(F.col(query_vec_col), F.col(vec_col)).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )
