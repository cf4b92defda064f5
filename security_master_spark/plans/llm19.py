"""Round-7 LLM-pipeline batch 4 (SURVEY.md §2.12): BPE pair
statistics — the corpus-wide adjacent-symbol pair counts that drive
one merge round of byte-pair-encoding tokenizer TRAINING (l15
applies a tokenizer; this is the primitive that learns one).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register

#: merge candidates reported (the top of the would-be merge table).
_BPE_TOP = 32


@register(
    "l69_bpe_pair_stats",
    oracle=f"""
    WITH words AS (
        SELECT UNNEST(string_split(text, ' ')) AS w, doc_id
        FROM documents
    ), wc AS (
        SELECT w, COUNT(*) AS n FROM words WHERE len(w) >= 2
        GROUP BY w
    ), pairs AS (
        SELECT substr(w, i, 1) AS a, substr(w, i + 1, 1) AS b,
               SUM(n) AS cnt
        FROM wc, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
        GROUP BY 1, 2
    ), ranked AS (
        SELECT a, b, cnt,
               ROW_NUMBER() OVER (ORDER BY cnt DESC, a ASC, b ASC)
                   AS rnk,
               SUM(cnt) OVER () AS total
        FROM pairs
    )
    SELECT CAST(rnk AS BIGINT) AS rnk,
           a || b AS merge,
           CAST(cnt AS BIGINT) AS pair_count,
           {sql_dround("cnt / CAST(total AS DOUBLE)", 6)} AS share
    FROM ranked WHERE rnk <= {_BPE_TOP}
    """,
)
def l69_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-round statistics: count every ADJACENT character
    pair across the corpus (weighted by word frequency — the
    Sennrich training formulation: collapse to the word-frequency
    table FIRST, then explode each distinct word's pairs once) and
    rank the top merge candidates with deterministic (count DESC,
    pair ASC) ties — exactly the argmax a BPE trainer takes per merge
    round. l15 APPLIES a tokenizer; this is the distributed primitive
    that LEARNS one: iterate = apply top merge, recount (each round
    is this same query shape over the rewritten vocab).

    Scale: the word-frequency collapse is the whole trick — pair
    explosion runs over O(|vocab| · word_len) rows, not
    O(corpus tokens); counts combine map-side; the top-K is
    TakeOrderedAndProject (parallel per-partition top-K, no global
    sort). This is why BPE training is feasible on a 100 TB corpus:
    after the first collapse, every merge round touches only the
    vocabulary."""
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select(
            F.explode(F.split(F.col("text"), " ")).alias("w")
        )
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").alias("n"))
    )
    pairs = (
        wc.select(
            "n",
            F.explode(
                F.expr(
                    "TRANSFORM(sequence(1, length(w) - 1), "
                    "i -> struct(substring(w, i, 1) AS a, "
                    "substring(w, i + 1, 1) AS b))"
                )
            ).alias("p"),
        )
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("n").alias("cnt"))
    )
    total = pairs.agg(F.sum("cnt").alias("total"))
    ranked = (
        pairs.crossJoin(F.broadcast(total))
        .orderBy(F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc())
        .limit(_BPE_TOP)
    )
    wrnk = Window.orderBy(
        F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc()
    )
    return ranked.select(
        F.row_number().over(wrnk).cast("bigint").alias("rnk"),
        F.concat("a", "b").alias("merge"),
        F.col("cnt").cast("bigint").alias("pair_count"),
        dround(F.col("cnt") / F.col("total").cast("double"), 6).alias(
            "share"
        ),
    )
