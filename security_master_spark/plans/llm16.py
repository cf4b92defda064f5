"""Round-7 LLM-pipeline batch (SURVEY.md §2.12): MinHash estimator
calibration (estimated vs exact Jaccard, per pair) and the n-gram
coverage growth curve (how fast new n-grams appear as the corpus
grows in ingestion order — the data-curation scaling diagnostic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.operators.dedup import (
    _MERSENNE31,
    _perm_constants,
    _shingle_hash31_md5,
)
from security_master_spark.plans.registry import register

#: calibration slice (docs with doc_id < _CAL_DOCS — bounded so the
#: exact-Jaccard oracle twin stays a deliberate small quadratic, the
#: l4/l6/l17/l61 class; the production estimator is l7's banding).
_CAL_DOCS = 40
#: MinHash permutations for the calibration signature.
_CAL_K = 16
_CAL_CONSTS = _perm_constants(_CAL_K)

def _mins_sql(col: str = "h") -> str:
    """The K per-permutation minima as ONE SQL fragment (the
    plan-construction rule: >16 unrolled expressions build one
    F.expr string, not a Column tree)."""
    return ",\n           ".join(
        f"MIN(({a} * {col} + {b}) % {_MERSENNE31}) AS s{i}"
        for i, (a, b) in enumerate(_CAL_CONSTS)
    )


def _match_sql(prefix_a: str, prefix_b: str) -> str:
    """Count of agreeing signature slots between two signature rows."""
    return " + ".join(
        f"CASE WHEN {prefix_a}.s{i} = {prefix_b}.s{i} THEN 1 ELSE 0 END"
        for i in range(_CAL_K)
    )


@register(
    "l65_minhash_calibration",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, text FROM documents WHERE doc_id < {_CAL_DOCS}
    ), toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM docs
    ), grams AS (
        SELECT doc_id, t,
               UNNEST(generate_series(1, len(t) - 2)) AS g
        FROM toks
    ), hashed AS (
        SELECT DISTINCT doc_id,
               ('0x' || substr(md5(t[g] || ' ' || t[g + 1] || ' '
                                   || t[g + 2]), 1, 8))::BIGINT
                   % {_MERSENNE31} AS h
        FROM grams
    ), sig AS (
        SELECT doc_id, {_mins_sql()}
        FROM hashed GROUP BY doc_id
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM hashed GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
        FROM hashed a JOIN hashed b
          ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               ({_match_sql("a", "b")}) AS matches
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    )
    SELECT p.id_a, p.id_b,
           {sql_dround(
               "CAST(COALESCE(i.i, 0) AS DOUBLE)"
               " / (sa.n + sb.n - COALESCE(i.i, 0))", 6)} AS exact_j,
           {sql_dround(f"CAST(p.matches AS DOUBLE) / {_CAL_K}", 6)}
               AS est_j,
           {sql_dround(
               f"ABS(CAST(p.matches AS DOUBLE) / {_CAL_K}"
               " - CAST(COALESCE(i.i, 0) AS DOUBLE)"
               " / (sa.n + sb.n - COALESCE(i.i, 0)))", 6)} AS abs_err
    FROM pairs p
    LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
    JOIN sizes sa ON sa.doc_id = p.id_a
    JOIN sizes sb ON sb.doc_id = p.id_b
    """,
)
def l65_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration: for every doc pair in a bounded
    slice, the exact shingle Jaccard next to the 16-permutation
    MinHash estimate (matching-slot fraction) and the absolute error —
    the measurement that justifies the K/bands choice in l7's
    production LSH (E[est] = J; sd = √(J(1−J)/K)). Pair grain so the
    error DISTRIBUTION is hash-certified, not just a mean.

    The exact side is a deliberately bounded quadratic oracle twin
    (the l4/l6/l17/l61 class — 40 docs); the estimator math itself is
    the production path: md5-determinized 31-bit shingle hashes and
    the same seeded (a·h+b) mod 2³¹−1 permutations as l7, so this
    query IS the calibration certificate for the scale operator. All
    K minima fold in ONE groupBy (one SQL string — the >16-expression
    plan-construction rule); the exact intersection is an equi-join
    on the shingle hash, never an all-pairs set compare."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _CAL_DOCS
    )
    toks = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("t")
    )
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "TRANSFORM(CASE WHEN size(t) >= 3 "
                "THEN sequence(1, size(t) - 2) "
                "ELSE CAST(array() AS array<int>) END, "
                "g -> concat_ws(' ', t[g - 1], t[g], t[g + 1]))"
            )
        ).alias("gram"),
    )
    hashed = grams.select(
        "doc_id", _shingle_hash31_md5(F.col("gram")).alias("h")
    ).distinct()
    sig = hashed.groupBy("doc_id").agg(
        *[
            F.expr(
                f"MIN(({a} * h + {b}) % {_MERSENNE31})"
            ).alias(f"s{i}")
            for i, (a, b) in enumerate(_CAL_CONSTS)
        ]
    )
    sizes = hashed.groupBy("doc_id").agg(F.count("*").alias("n"))
    ha, hb = hashed.alias("a"), hashed.alias("b")
    inter = (
        ha.join(
            hb,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .agg(F.count("*").alias("i"))
    )
    sa, sb = sig.alias("a"), sig.alias("b")
    pairs = sa.join(
        sb, F.col("a.doc_id") < F.col("b.doc_id")
    ).selectExpr(
        "a.doc_id AS id_a",
        "b.doc_id AS id_b",
        f"({_match_sql('a', 'b')}) AS matches",
    )
    out = (
        pairs.join(
            inter.withColumnRenamed("i", "inter_n"),
            ["id_a", "id_b"],
            "left",
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("id_a"), F.col("n").alias("na")
            ),
            "id_a",
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("id_b"), F.col("n").alias("nb")
            ),
            "id_b",
        )
    )
    exact = F.coalesce(F.col("inter_n"), F.lit(0)).cast("double") / (
        F.col("na") + F.col("nb") - F.coalesce(F.col("inter_n"), F.lit(0))
    )
    est = F.col("matches").cast("double") / _CAL_K
    return out.select(
        "id_a",
        "id_b",
        dround(exact, 6).alias("exact_j"),
        dround(est, 6).alias("est_j"),
        dround(F.abs(est - exact), 6).alias("abs_err"),
    )


#: coverage-curve resolution (corpus-growth buckets by doc_id range).
_COV_BUCKETS = 10


@register(
    "l66_ngram_coverage_curve",
    oracle=f"""
    WITH ext AS (
        SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents
    ), toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), grams AS (
        SELECT doc_id,
               md5(t[g] || ' ' || t[g + 1] || ' ' || t[g + 2]) AS gk
        FROM (
            SELECT doc_id, t,
                   UNNEST(generate_series(1, len(t) - 2)) AS g
            FROM toks
        )
    ), bucketed AS (
        SELECT CAST(1 + FLOOR(((g.doc_id - e.lo) * {_COV_BUCKETS})
                        / (e.hi - e.lo + 1)) AS BIGINT) AS bucket,
               g.gk
        FROM grams g, ext e
    ), firsts AS (
        SELECT gk, MIN(bucket) AS first_bucket
        FROM bucketed GROUP BY gk
    ), curve AS (
        SELECT first_bucket AS bucket,
               CAST(COUNT(*) AS BIGINT) AS new_grams
        FROM firsts GROUP BY first_bucket
    ), tot AS (
        SELECT SUM(new_grams) AS total FROM curve
    )
    SELECT c.bucket, c.new_grams,
           CAST(SUM(c.new_grams) OVER (ORDER BY c.bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_grams,
           {sql_dround(
               "CAST(SUM(c.new_grams) OVER (ORDER BY c.bucket"
               " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
               " AS DOUBLE) / t.total", 6)} AS cum_frac
    FROM curve c, tot t
    """,
)
def l66_ngram_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram coverage growth curve: bucket the corpus into 10
    ingestion-order slices (by doc_id range) and report how many
    NEVER-SEEN-BEFORE trigrams each slice contributes, plus the
    cumulative count and fraction — the diminishing-returns
    diagnostic behind every "is more of this source still adding
    novelty?" curation decision (l37's shingle novelty is the
    per-doc sibling; this is the corpus-level curve).

    Shape: trigrams collapse to 16-byte md5 keys AT the scan (the
    repo's shuffle-key discipline); first-appearance is ONE
    map-side-combined MIN per gram key; the curve itself is ≤10 rows.
    Bucketing is pure arithmetic on (doc_id − min) — a 1-row extent
    broadcast, NOT a global NTILE sort, so the bucket assignment
    stays embarrassingly parallel at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    ext = docs.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    )
    toks = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("t")
    )
    # The TRANSFORM emits raw trigram strings and the MD5 runs OUTSIDE
    # it: higher-order functions get no codegen, so hashing inside the
    # lambda is interpreted per gram (measured 10% slower at the 10M-
    # gram stress corpus) and explodes 32-char hex instead of ~18-byte
    # grams. The key stays md5 (128-bit), not xxhash64 (measured 1.5×
    # faster): 64-bit keys birthday-collide with certainty at
    # 100-TB gram counts (~10¹² grams → ~5×10⁹ expected collisions),
    # silently merging distinct grams; the md5 shuffle-key discipline
    # is collision math, not habit.
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "TRANSFORM(CASE WHEN size(t) >= 3 "
                "THEN sequence(1, size(t) - 2) "
                "ELSE CAST(array() AS array<int>) END, "
                "g -> concat_ws(' ', t[g - 1], t[g], t[g + 1]))"
            )
        ).alias("gs"),
    ).select("doc_id", F.md5("gs").alias("gk"))
    bucketed = grams.crossJoin(F.broadcast(ext)).select(
        (
            1
            + F.floor(
                ((F.col("doc_id") - F.col("lo")) * _COV_BUCKETS)
                / (F.col("hi") - F.col("lo") + 1)
            )
        )
        .cast("bigint")
        .alias("bucket"),
        "gk",
    )
    firsts = bucketed.groupBy("gk").agg(
        F.min("bucket").alias("bucket")
    )
    curve = firsts.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("new_grams")
    )
    wcum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = curve.agg(F.sum("new_grams").alias("total"))
    return (
        curve.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            "new_grams",
            F.sum("new_grams").over(wcum).cast("bigint").alias(
                "cum_grams"
            ),
            dround(
                F.sum("new_grams").over(wcum).cast("double")
                / F.col("total"),
                6,
            ).alias("cum_frac"),
        )
    )
