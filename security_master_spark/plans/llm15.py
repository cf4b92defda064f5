"""Round-6 LLM-pipeline batch 2 (SURVEY.md §2.12): PMI collocation
mining — which token pairs co-occur in documents far more than chance
— the classic corpus-analysis primitive behind phrase detection,
tokenizer-merge candidates, and topic drift diagnostics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.functions.text import tokens
from security_master_spark.plans.registry import register

#: candidate-vocabulary bound: only the top-V tokens by document
#: frequency enter the pair join (the hub-cap discipline of g4 —
#: pairs are V²-bounded, never vocabulary²).
_PMI_VOCAB = 32
#: minimum co-occurrence support to report.
_PMI_MIN_N = 5


@register(
    "l63_pmi_collocations",
    oracle=f"""
    WITH pres AS (
        SELECT DISTINCT doc_id, t.token AS token
        FROM documents, UNNEST(string_split(text, ' ')) AS t(token)
        WHERE t.token <> ''
    ), df AS (
        SELECT token, CAST(COUNT(*) AS DOUBLE) AS df
        FROM pres GROUP BY token
    ), vocab AS (
        SELECT token, df FROM df
        QUALIFY ROW_NUMBER() OVER (ORDER BY df DESC, token ASC)
                <= {_PMI_VOCAB}
    ), n AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents
    ), vp AS (
        SELECT p.doc_id, p.token, v.df
        FROM pres p JOIN vocab v USING (token)
    ), co AS (
        SELECT a.token AS token_a, b.token AS token_b,
               a.df AS dfa, b.df AS dfb,
               CAST(COUNT(*) AS DOUBLE) AS n_ab
        FROM vp a JOIN vp b
          ON a.doc_id = b.doc_id AND a.token < b.token
        GROUP BY a.token, b.token, a.df, b.df
        HAVING COUNT(*) >= {_PMI_MIN_N}
    )
    SELECT token_a, token_b,
           CAST(n_ab AS BIGINT) AS n_co,
           {sql_dround("LN(n_ab * n_docs / (dfa * dfb))", 6)} AS pmi,
           {sql_dround(
               "LN(n_ab * n_docs / (dfa * dfb))"
               " / NULLIF(-LN(n_ab / n_docs), 0)", 6
           )} AS npmi
    FROM co CROSS JOIN n
    """,
)
def l63_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information for token-pair co-occurrence at
    the document level: PMI = ln(p(a,b)/(p(a)·p(b))) with document
    presence as the event, plus the normalized variant
    NPMI = PMI / −ln(p(a,b)) (range [−1, 1], comparable across
    supports). A pair present in EVERY document has −ln(p) = 0 and
    divides to NULL NPMI identically (NULLIF / try_divide).

    The pair join is V²-bounded by construction (g4's hub-cap
    discipline): only the top-32 tokens by document frequency —
    deterministic (df DESC, token) rank — enter the doc-keyed
    self-join, so co-occurrence counting shuffles at most V²/2 keyed
    groups regardless of vocabulary size; the raw token stream is
    touched exactly once (the presence collapse). Support < 5 pairs
    are dropped before any float math.

    Scale: presence collapse (distinct) is the only vocabulary-wide
    shuffle; vocab (32 rows) broadcasts onto presence; the co-counts
    frame is ≤ V²/2 rows with counts only; the 1-row corpus size
    broadcasts last."""
    docs = load_table(spark, sf_dir, "documents")
    pres = (
        docs.select(
            "doc_id", F.explode(tokens(F.col("text"))).alias("token")
        )
        .filter(F.col("token") != "")
        .distinct()
    )
    df = pres.groupBy("token").agg(
        F.count("*").cast("double").alias("df")
    )
    wv = Window.orderBy(F.desc("df"), F.asc("token"))
    vocab = (
        df.withColumn("__rn", F.row_number().over(wv))
        .filter(F.col("__rn") <= _PMI_VOCAB)
        .select("token", "df")
    )
    n = docs.agg(F.count("*").cast("double").alias("n_docs"))
    vp = pres.join(F.broadcast(vocab), "token")
    a = vp.select(
        "doc_id", F.col("token").alias("token_a"), F.col("df").alias("dfa")
    )
    b = vp.select(
        F.col("doc_id").alias("doc_b"),
        F.col("token").alias("token_b"),
        F.col("df").alias("dfb"),
    )
    co = (
        a.join(
            b,
            (F.col("doc_id") == F.col("doc_b"))
            & (F.col("token_a") < F.col("token_b")),
        )
        .groupBy("token_a", "token_b", "dfa", "dfb")
        .agg(F.count("*").cast("double").alias("n_ab"))
        .filter(F.col("n_ab") >= _PMI_MIN_N)
    )
    pmi = F.log(
        F.col("n_ab") * F.col("n_docs") / (F.col("dfa") * F.col("dfb"))
    )
    npmi = F.try_divide(pmi, -F.log(F.col("n_ab") / F.col("n_docs")))
    return co.crossJoin(F.broadcast(n)).select(
        "token_a",
        "token_b",
        F.col("n_ab").cast("bigint").alias("n_co"),
        dround(pmi, 6).alias("pmi"),
        dround(npmi, 6).alias("npmi"),
    )
