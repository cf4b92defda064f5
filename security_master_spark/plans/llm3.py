"""Round-3 LLM-pipeline batch 2 (SURVEY.md §2.12): within-document
repetition signals (Gopher-style quality filtering) and character-level
Shannon entropy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register


@register(
    "l27_repetition_ratio",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, t.token AS token, COUNT(*) AS cnt
        FROM documents, UNNEST(string_split(text, ' ')) AS t(token)
        GROUP BY doc_id, t.token
    )
    SELECT doc_id,
           CAST(SUM(cnt) AS BIGINT) AS n_tokens,
           COUNT(*) AS n_distinct,
           {sql_dround("1.0 - COUNT(*) / CAST(SUM(cnt) AS DOUBLE)", 6)}
               AS repetition_ratio,
           {sql_dround("MAX(cnt) / CAST(SUM(cnt) AS DOUBLE)", 6)}
               AS top_token_share
    FROM tok
    GROUP BY doc_id
    """,
)
def l27_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals (the Gopher repetition
    filters): duplicate-token mass (1 − distinct/total) and the most
    frequent token's share. explode → two stacked groupBys: the
    first shuffles (doc_id, token) partial counts, the second only
    doc_id-level pre-aggregated rows (plan-verified: both Exchanges
    carry counts, never document text — the second is ~tokens-per-doc
    times smaller). Ratios are exact-integer divisions — identical
    doubles on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), " ", -1)).alias("token")
        )
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("cnt"))
    )
    total = F.sum("cnt").cast("double")
    return tok.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        dround(F.lit(1.0) - F.count("*") / total, 6).alias("repetition_ratio"),
        dround(F.max("cnt") / total, 6).alias("top_token_share"),
    )


@register(
    "l28_char_entropy",
    oracle=f"""
    WITH ch AS (
        SELECT doc_id, c.ch AS ch, COUNT(*) AS cnt
        FROM documents, UNNEST(string_split(text, '')) AS c(ch)
        WHERE c.ch <> ''
        GROUP BY doc_id, c.ch
    )
    SELECT doc_id,
           CAST(SUM(cnt) AS BIGINT) AS n_chars_counted,
           {sql_dround(
               "LOG2(CAST(SUM(cnt) AS DOUBLE)) - "
               "SUM(cnt * LOG2(CAST(cnt AS DOUBLE))) / CAST(SUM(cnt) AS DOUBLE)",
               6,
           )} AS entropy_bits
    FROM ch
    GROUP BY doc_id
    """,
)
def l28_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document — the classic
    gibberish/boilerplate screen (near-zero for repeated filler, ~4-5
    bits for natural text). Uses H = log2(n) − Σ c·log2(c)/n so a
    single (doc_id, char) count aggregate feeds a plain sum — no
    per-document probability vector materialized. Same stacked
    explode→groupBy shape (and scale posture) as
    l27_repetition_ratio; alphabet size bounds the second stage at
    ~100 rows per document. dround(…, 6) absorbs cross-engine LOG2
    ulps."""
    docs = load_table(spark, sf_dir, "documents")
    ch = (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), "", -1)).alias("ch")
        )
        .filter(F.col("ch") != "")
        .groupBy("doc_id", "ch")
        .agg(F.count("*").alias("cnt"))
    )
    n = F.sum("cnt").cast("double")
    return ch.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_chars_counted"),
        dround(
            F.log2(n) - F.sum(F.col("cnt") * F.log2(F.col("cnt"))) / n, 6
        ).alias("entropy_bits"),
    )
