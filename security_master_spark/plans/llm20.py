"""Round-7 LLM-pipeline batch 5 (SURVEY.md §2.12): LSH
precision/recall calibration — score l7's banding candidates against
the exact Jaccard ground truth on a bounded slice, the measurement
that turns "LSH found candidates" into "LSH has THIS
precision/recall at THIS threshold".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.operators.dedup import (
    _MERSENNE31,
    lsh_candidate_pairs,
)
# Cross-plan import, deliberately: the oracle must embed l7's EXACT
# candidate-generation SQL so the two queries can never drift.
from security_master_spark.plans.llm import _minhash_oracle_sql
from security_master_spark.plans.registry import register

#: bounded evaluation slice (the l4/l65 deliberate-quadratic class).
_EVAL_DOCS = 60
#: "true near-duplicate" Jaccard threshold being screened for.
_TAU = 0.5


@register(
    "l70_lsh_precision_recall",
    oracle=f"""
    WITH eval_docs AS (
        SELECT doc_id, text FROM documents WHERE doc_id < {_EVAL_DOCS}
    ), etoks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM eval_docs
    ), egrams AS (
        SELECT doc_id, t,
               UNNEST(generate_series(1, len(t) - 2)) AS g
        FROM etoks
    ), hashed2 AS (
        SELECT DISTINCT doc_id,
               ('0x' || substr(md5(t[g] || ' ' || t[g + 1] || ' '
                                   || t[g + 2]), 1, 8))::BIGINT
                   % {_MERSENNE31} AS h
        FROM egrams
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM hashed2 GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
        FROM hashed2 a JOIN hashed2 b
          ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), truth AS (
        SELECT i.id_a, i.id_b
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.id_a
        JOIN sizes sb ON sb.doc_id = i.id_b
        WHERE i.i / CAST(sa.n + sb.n - i.i AS DOUBLE) >= {_TAU}
    ), cand AS (
        SELECT id_a, id_b FROM ({_minhash_oracle_sql()})
        WHERE id_a < {_EVAL_DOCS} AND id_b < {_EVAL_DOCS}
    ), counts AS (
        SELECT
            (SELECT COUNT(*) FROM cand) AS n_cand,
            (SELECT COUNT(*) FROM truth) AS n_true,
            (SELECT COUNT(*) FROM cand c
             JOIN truth t ON t.id_a = c.id_a AND t.id_b = c.id_b)
                AS n_hit
    )
    SELECT CAST(n_cand AS BIGINT) AS n_candidates,
           CAST(n_true AS BIGINT) AS n_true_pairs,
           CAST(n_hit AS BIGINT) AS n_hits,
           {sql_dround(
               "n_hit / CAST(NULLIF(n_cand, 0) AS DOUBLE)", 6
           )} AS precision,
           {sql_dround(
               "n_hit / CAST(NULLIF(n_true, 0) AS DOUBLE)", 6
           )} AS recall
    FROM counts
    """,
)
def l70_lsh_precision_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LSH screening quality, measured: run l7's EXACT production
    banding (32 hashes, 8 bands — the same `lsh_candidate_pairs`
    call) on a bounded slice, compare its candidate set to the exact
    Jaccard ≥ 0.5 ground truth, and report precision and recall —
    the one-row scorecard that justifies the banding parameters
    (bands=8, rows=4 ⇒ P[candidate] = 1 − (1 − J⁴)⁸, steep around
    J ≈ 0.45). l65 calibrates the ESTIMATOR; this calibrates the
    SCREEN built on it; together they are the full measurement stack
    over the production dedup path.

    The exact side is the bounded deliberate-quadratic oracle-twin
    class (60 docs); candidate generation is the banding groupBy at
    any scale. The truth intersection is an equi-join on the shingle
    hash, and the three counts assemble via 1-row broadcast crosses
    (scalar subqueries on the oracle side) into one row."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _EVAL_DOCS
    )
    cand = lsh_candidate_pairs(docs, num_hashes=32, bands=8)
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
        "doc_id",
        F.expr(
            f"PMOD(CAST(CONV(SUBSTRING(MD5(gram), 1, 8), 16, 10) "
            f"AS BIGINT), {_MERSENNE31})"
        ).alias("h"),
    ).distinct()
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
    truth = (
        inter.join(
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
        .filter(
            F.col("i")
            / (F.col("na") + F.col("nb") - F.col("i")).cast("double")
            >= _TAU
        )
        .select("id_a", "id_b")
    )
    stats = (
        cand.agg(F.count("*").alias("n_candidates"))
        .crossJoin(
            F.broadcast(
                truth.agg(F.count("*").alias("n_true_pairs"))
            )
        )
        .crossJoin(
            F.broadcast(
                cand.join(truth, ["id_a", "id_b"]).agg(
                    F.count("*").alias("n_hits")
                )
            )
        )
    )
    return stats.select(
        F.col("n_candidates").cast("bigint").alias("n_candidates"),
        F.col("n_true_pairs").cast("bigint").alias("n_true_pairs"),
        F.col("n_hits").cast("bigint").alias("n_hits"),
        dround(
            F.col("n_hits")
            / F.nullif(F.col("n_candidates"), F.lit(0)).cast("double"),
            6,
        ).alias("precision"),
        dround(
            F.col("n_hits")
            / F.nullif(F.col("n_true_pairs"), F.lit(0)).cast("double"),
            6,
        ).alias("recall"),
    )
