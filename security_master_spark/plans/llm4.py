"""Round-4 LLM-pipeline candidates (SURVEY.md §2.12): unigram
language-model surprisal scoring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register


#: tokens seen fewer than this many times corpus-wide route to the
#: shared OOV bucket instead of the broadcast vocabulary
_MIN_COUNT = 3


@register(
    "l29_unigram_surprisal",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, t.token AS token
        FROM documents, UNNEST(string_split(text, ' ')) AS t(token)
    ), tf AS (
        SELECT token, COUNT(*) AS tf FROM tok GROUP BY token
    ), scal AS (
        SELECT CAST(SUM(tf) AS BIGINT) AS n,
               CAST(COALESCE(SUM(CASE WHEN tf < {_MIN_COUNT} THEN tf END),
                             0) AS BIGINT) AS oov
        FROM tf
    )
    SELECT tok.doc_id,
           COUNT(*) AS n_tokens,
           {sql_dround(
               "AVG(-LOG2(CAST(COALESCE(v.tf, scal.oov) AS DOUBLE)"
               " / CAST(scal.n AS DOUBLE)))",
               6,
           )} AS avg_surprisal_bits
    FROM tok
    LEFT JOIN (SELECT token, tf FROM tf WHERE tf >= {_MIN_COUNT}) v
           ON tok.token = v.token
    CROSS JOIN scal
    GROUP BY tok.doc_id
    """,
)
def l29_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality score: mean token surprisal −log2 p(token)
    per document, the cheap stand-in for perplexity filtering (low =
    repetitive boilerplate, high = rare-token noise; mid-band =
    keepable text). The LM *is* the corpus term-frequency table —
    explode → tf agg — but only tokens with corpus count >=
    _MIN_COUNT enter the vocabulary; the long Zipf TAIL collapses
    into a single OOV bucket whose probability is the floored mass
    over the corpus total. The cutoff bounds the tail's MASS, not the
    vocabulary's cardinality — the head still grows with the corpus
    (Heap's law) — which is why the vocab join carries no forced
    broadcast (round-12 audit): AQE broadcasts it from the actual
    shuffle size while it fits and shuffle-joins at scale.
    Rare-token instances hit the OOV probability via a left join +
    coalesce; the 1-row {{total, oov_mass}} scalar stays a forced
    broadcast (class A), and the widest exchange on the token stream
    is the final per-doc aggregation. Plan honesty: the vocab and scalar branches
    each re-derive the tf aggregate through their own corpus scan (3
    scans total — Catalyst doesn't share the subtree; see PLANS.md
    'rollup-rescan trade' for the measurement and the
    materialize-the-LM production form). dround(…, 6) absorbs
    LOG2/summation-order ulps."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ", -1)).alias("token")
    )
    tf = tok.groupBy("token").agg(F.count("*").alias("tf"))
    vocab = tf.filter(F.col("tf") >= _MIN_COUNT)
    scal = tf.agg(
        F.sum("tf").cast("bigint").alias("n"),
        F.coalesce(
            F.sum(F.when(F.col("tf") < _MIN_COUNT, F.col("tf"))), F.lit(0)
        )
        .cast("bigint")
        .alias("oov"),
    )
    p = (
        F.coalesce(F.col("tf"), F.col("oov")).cast("double")
        / F.col("n").cast("double")
    )
    return (
        # no forced broadcast on vocab: tf >= _MIN_COUNT bounds the
        # TAIL mass (the OOV bucket), not the vocab's cardinality,
        # which still grows with the corpus — AQE converts from the
        # actual shuffle size while it fits (round-12 audit, PLANS.md)
        tok.join(vocab, "token", "left")
        .crossJoin(F.broadcast(scal))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            dround(F.avg(-F.log2(p)), 6).alias("avg_surprisal_bits"),
        )
    )
