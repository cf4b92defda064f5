"""Round-5 LLM-pipeline candidates, batch 4 (SURVEY.md §2.12):
substring-level duplication rate (the Lee-et-al-style "what fraction
of this document's n-grams also occur elsewhere" measure) and lexical
diversity (type-token ratio).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.functions.text import shingles_of, tokens
from security_master_spark.plans.registry import register

_NGRAM_N = 8  # substring-dedup unit: 8-token n-grams (Lee et al. use 50)


@register(
    "l44_duplicate_ngram_fraction",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, string_split(trim(text), ' ') AS t
        FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id, source,
               array_to_string(t[g.i : g.i + {_NGRAM_N} - 1], ' ') AS gram
        FROM toks, LATERAL (
            SELECT unnest(generate_series(1, len(t) - {_NGRAM_N} + 1)) AS i
        ) g
    ), df AS (
        SELECT gram, COUNT(*) AS n_docs FROM sh GROUP BY gram
    ), per_doc AS (
        SELECT sh.doc_id, sh.source,
               COUNT(*) AS n_grams,
               COUNT(*) FILTER (WHERE df.n_docs > 1) AS n_shared
        FROM sh JOIN df ON df.gram = sh.gram
        GROUP BY sh.doc_id, sh.source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           {sql_dround(
               "AVG(CAST(n_shared AS DOUBLE) / n_grams)", 6
           )} AS mean_dup_fraction,
           {sql_dround(
               "MAX(CAST(n_shared AS DOUBLE) / n_grams)", 6
           )} AS max_dup_fraction
    FROM per_doc
    GROUP BY source
    """,
)
def l44_duplicate_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication rate: for each document, the
    fraction of its distinct 8-token n-grams that also occur in at
    least one OTHER document, aggregated per source — the screening
    measure behind exact-substring dedup (Lee et al. 2022 dedup at the
    50-gram level; the statistic here is the doc-level roll-up that
    tells you WHERE to spend the dedup budget). Round-15 shape:
    distinct-per-doc shingles explode ONCE (the old aggregate-join
    spelling re-ran the tokenize + shingle Generate in both join
    subtrees — two full document scans,
    plans/r15/l44_duplicate_ngram_fraction_before.txt — and broadcast
    the corpus-sized gram-frequency table); the document frequency is
    now a count over a gram-partitioned window on the SAME exploded
    stream — one derivation, one exchange on gram, no join, no
    gram-table broadcast. Shuffle volume is O(total distinct grams),
    never pairwise; docs shorter than 8 tokens have no grams and drop
    out (no division by zero)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    sh = (
        docs.select(
            "doc_id", "source", tokens(F.col("text")).alias("t")
        )
        .select(
            "doc_id",
            "source",
            F.explode(F.array_distinct(shingles_of(F.col("t"), _NGRAM_N))).alias(
                "gram"
            ),
        )
    )
    per_doc = (
        sh.withColumn(
            "n_docs_gram", F.count("*").over(Window.partitionBy("gram"))
        )
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").alias("n_grams"),
            F.count(F.when(F.col("n_docs_gram") > 1, 1)).alias("n_shared"),
        )
    )
    frac = F.col("n_shared").cast("double") / F.col("n_grams")
    return per_doc.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        dround(F.avg(frac), 6).alias("mean_dup_fraction"),
        dround(F.max(frac), 6).alias("max_dup_fraction"),
    )


@register(
    "l45_type_token_ratio",
    oracle=f"""
    WITH tok AS (
        SELECT d.doc_id, d.source, t.token AS token
        FROM documents d, UNNEST(string_split_regex(trim(d.text), '\\s+')) AS t(token)
    ), per_doc AS (
        SELECT doc_id, source,
               COUNT(*) AS n_tokens,
               COUNT(DISTINCT token) AS n_types
        FROM tok GROUP BY doc_id, source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           {sql_dround(
               "AVG(CAST(n_types AS DOUBLE) / n_tokens)", 6
           )} AS mean_ttr,
           {sql_dround("AVG(CAST(n_tokens AS DOUBLE))", 6)} AS mean_tokens
    FROM per_doc
    GROUP BY source
    """,
)
def l45_type_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity per source: mean type-token ratio (distinct
    tokens / total tokens per document) — low TTR flags template spam
    and boilerplate farms; the per-source roll-up is the mix-level
    health signal next to l38's language entropy and l43's Zipf slope.
    The per-doc counts need NO explode-shuffle at all: token count is
    the array size and type count is the size of array_distinct, both
    evaluated inside the scan projection (codegen, zero exchanges
    before the O(sources) aggregate). The oracle derives the same
    numbers relationally (unnest + COUNT DISTINCT) — two independent
    formulations agreeing is the point of the gate."""
    docs = load_table(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    per_doc = docs.select(
        "source",
        F.size(t).cast("double").alias("n_tokens"),
        F.size(F.array_distinct(t)).cast("double").alias("n_types"),
    )
    return per_doc.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        dround(F.avg(F.col("n_types") / F.col("n_tokens")), 6).alias(
            "mean_ttr"
        ),
        dround(F.avg("n_tokens"), 6).alias("mean_tokens"),
    )
