"""Round-5 LLM-pipeline candidates, batch 6 (SURVEY.md §2.12):
blocked fuzzy string joining (entity resolution), distributed
embedding covariance, and PCA projection — the feature-space
diagnostics next to l35/l36's centroid family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.operators.pca import (
    covariance_matrix,
    principal_components,
    project,
)

from security_master_spark.plans.registry import register


@register(
    "l46_fuzzy_name_join",
    oracle="""
    WITH names AS (
        SELECT p_name AS name,
               SPLIT_PART(p_name, ' ', 2) AS blk,
               CAST(COUNT(*) AS BIGINT) AS n_parts
        FROM part GROUP BY p_name
    )
    SELECT a.name AS name_a,
           b.name AS name_b,
           CAST(LEVENSHTEIN(a.name, b.name) AS BIGINT) AS edit_dist,
           a.n_parts AS n_parts_a,
           b.n_parts AS n_parts_b
    FROM names a
    JOIN names b ON b.blk = a.blk AND a.name < b.name
    WHERE LEVENSHTEIN(a.name, b.name) BETWEEN 1 AND 2
    """,
)
def l46_fuzzy_name_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy self-join for entity resolution: part names that
    are near-duplicates (edit distance 1–2, exact duplicates excluded
    — those are l1's exact-dedup job) with how many parts carry each
    spelling. The three-stage discipline that makes fuzzy joining
    feasible at scale:

    1. **Collapse to distinct names first** — the quadratic stage runs
       on |distinct names| (64 here; vocabulary-bounded in practice),
       never on |rows|.
    2. **Block** on a cheap deterministic key (the head noun token):
       candidate pairs form only within a block, an equi-join, never a
       cross join. Recall is bounded by the blocking choice — a pair
       whose block token itself is misspelled is missed; production
       stacks a second blocking pass (e.g. soundex or length band)
       exactly like LSH stacks hash tables (l7).
    3. **Verify** candidates with the exact edit distance, JVM-side
       (`levenshtein` is a built-in on both engines, unit costs).
    """
    part = load_table(spark, sf_dir, "part")
    names = part.groupBy(F.col("p_name").alias("name")).agg(
        F.count("*").cast("bigint").alias("n_parts")
    ).withColumn(
        # get(), not [1]: a one-token name has no second element and
        # ANSI mode turns the [] access into a job-killing
        # INVALID_ARRAY_INDEX; coalesce to '' mirrors DuckDB's
        # SPLIT_PART, so token-less names share one (small) block on
        # both engines instead of crashing one of them
        "blk",
        F.coalesce(F.get(F.split(F.col("name"), " "), 1), F.lit("")),
    )
    a = names.select(
        F.col("name").alias("name_a"),
        F.col("n_parts").alias("n_parts_a"),
        "blk",
    )
    b = names.select(
        F.col("name").alias("name_b"),
        F.col("n_parts").alias("n_parts_b"),
        "blk",
    )
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"))
    return (
        a.join(b, "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .filter(dist.between(1, 2))
        .select(
            "name_a",
            "name_b",
            dist.cast("bigint").alias("edit_dist"),
            "n_parts_a",
            "n_parts_b",
        )
    )


@register(
    "l47_embedding_covariance",
    oracle=f"""
    WITH u AS (
        SELECT vec_id,
               GENERATE_SUBSCRIPTS(embedding, 1) - 1 AS k,
               CAST(UNNEST(embedding) AS DOUBLE) AS val
        FROM embeddings
        WHERE embedding IS NOT NULL
    )
    SELECT CAST(a.k AS INT) AS i,
           CAST(b.k AS INT) AS j,
           {sql_dround("COVAR_POP(a.val, b.val)", 8)} AS cov,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM u a
    JOIN u b ON b.vec_id = a.vec_id AND b.k >= a.k
    GROUP BY a.k, b.k
    """,
)
def l47_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full d×d population covariance of the embedding column as
    (i, j, cov) rows for i ≤ j — the input to PCA (l48), whitening,
    and anisotropy diagnostics over a vector corpus.

    The Spark side computes it with per-Arrow-batch partial Gram
    matrices (operators/pca.py): each batch ships its local X^T·X —
    O(d²) doubles — so the corpus is scanned ONCE and the shuffle
    carries O(batches·d²) partial rows instead of the O(n·d²)
    exploded pairs the oracle's self-join materializes. The oracle IS
    the naive quadratic form (fine at sf0.01), which makes this the
    strongest kind of check: the optimized one-scan plan must
    value-hash-match the brute-force definition to 1e-8."""
    emb = load_table(spark, sf_dir, "embeddings")
    cov = covariance_matrix(emb, "embedding")
    return cov.select(
        "i",
        "j",
        dround(F.col("cov"), 8).alias("cov"),
        F.col("n").cast("bigint").alias("n"),
    )


@register("l48_pca_project")  # no SQL oracle: eigendecomposition
def l48_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project every embedding onto the corpus's top-2 principal
    components (driver-side eigh of the l47 covariance — d×d scalars,
    the IVF driver-holds-constants discipline — then a JVM
    zip_with/aggregate dot product per vector; no Python in the
    projection pass).

    Weak by design: eigendecomposition is not SQL-expressible, so the
    driver records the rows-only check. The compensating evidence
    lives in tests/test_operators.py: component orthonormality,
    eigenvalue ordering/positivity, the per-vector projection
    variances matching the eigenvalues, and total variance matching
    the covariance trace — the full spectral contract, verified
    against the SQL-certified l47 matrix."""
    emb = load_table(spark, sf_dir, "embeddings")
    comps, _vals, _tot = principal_components(emb, "embedding", k=2)
    return emb.select(
        "vec_id",
        dround(project(F.col("embedding"), comps[0]), 6).alias("pc1"),
        dround(project(F.col("embedding"), comps[1]), 6).alias("pc2"),
    )
