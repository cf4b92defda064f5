"""Round-4 LLM-pipeline candidates, batch 2 (SURVEY.md §2.12):
bigram-LM surprisal and vocabulary-coverage scoring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register


@register(
    "l33_bigram_surprisal",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), big AS (
        SELECT doc_id, t[g.i] AS w1, t[g.i + 1] AS w2
        FROM toks,
             LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) g
        WHERE len(t) >= 2
    ), c12 AS (
        SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY w1, w2
    ), c1 AS (
        SELECT w1, SUM(c12) AS c1 FROM c12 GROUP BY w1
    )
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           {sql_dround(
               "AVG(-LOG2(CAST(j.c12 AS DOUBLE) / CAST(k.c1 AS DOUBLE)))",
               6)} AS avg_surprisal_bits
    FROM big b
    JOIN c12 j ON j.w1 = b.w1 AND j.w2 = b.w2
    JOIN c1  k ON k.w1 = b.w1
    GROUP BY b.doc_id
    """,
)
def l33_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM surprisal per document: mean −log2 P(w2|w1) with the
    conditional estimated from corpus bigram counts — one order up
    from l29's unigram score and a materially better
    boilerplate-vs-noise separator (repeated templates have
    near-deterministic transitions). The LM is two aggregates over the
    exploded bigram stream: c(w1,w2), then c(w1·) as a rollup of the
    first aggregate. Catalyst does NOT share that subtree — the plan
    re-derives each LM branch through its own corpus scan (3 scans
    total; verified in the executed plan). Measured A/B at the 10×
    stress corpus: persisting c12 inline is a wash (11.3 s vs 10.8 s
    minimums — cache materialization of the vocab-sized table costs
    what the re-scan costs when corpus ≈ 1000× vocab). At true 100 TB
    (corpus ≫ vocab) the production form materializes the LM tables
    once as a separate pipeline step and this query becomes
    scan-score-aggregate; the inline form keeps the oracle
    self-contained. Unlike l29's
    floored unigram vocab, the bigram table is NOT broadcastable at
    corpus scale (web-scale bigram vocab runs to billions of types),
    so the scoring joins carry no broadcast hint: they shuffle on
    (w1, w2) / (w1) — the same keys the counting aggregates already
    hashed on — and AQE downgrades them to broadcasts only when the
    measured table is actually small. Docs under two tokens have no
    bigrams and drop out on both sides."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ", -1)
    big = (
        docs.select("doc_id", t.alias("t"))
        .filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size("t") - 1)).alias("i"),
            F.col("t"),
        )
        .select(
            "doc_id",
            F.element_at("t", F.col("i")).alias("w1"),
            F.element_at("t", F.col("i") + 1).alias("w2"),
        )
    )
    c12 = big.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    p = F.col("c12").cast("double") / F.col("c1").cast("double")
    return (
        big.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            dround(F.avg(-F.log2(p)), 6).alias("avg_surprisal_bits"),
        )
    )


_VOCAB_K = 100  # top-K corpus tokens form the reference vocabulary


@register(
    "l34_vocab_coverage",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, t.token AS token
        FROM documents, UNNEST(string_split(text, ' ')) AS t(token)
    ), tf AS (
        SELECT token, COUNT(*) AS tf FROM tok GROUP BY token
    ), vocab AS (
        SELECT token FROM (
            SELECT token,
                   ROW_NUMBER() OVER (ORDER BY tf DESC, token) AS rn
            FROM tf
        ) WHERE rn <= {_VOCAB_K}
    )
    SELECT tok.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(v.token) AS BIGINT) AS n_in_vocab,
           {sql_dround(
               "CAST(COUNT(v.token) AS DOUBLE) / COUNT(*)", 6)} AS coverage
    FROM tok LEFT JOIN vocab v ON v.token = tok.token
    GROUP BY tok.doc_id
    """,
)
def l34_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage per document: fraction of token instances
    inside the corpus' top-100 token vocabulary — the cheap proxy for
    'will a fixed tokenizer handle this text without exploding into
    bytes' (low coverage flags code/markup/foreign-script docs for
    separate routing). The vocabulary is one tf aggregate + a global
    top-K (rank ties broken by token text, so the rank-100 boundary
    is deterministic cross-engine); orderBy().limit(K) plans
    TakeOrderedAndProject — per-partition top-K then a driver merge of
    K rows per partition, never a single-partition global sort. The
    K-row vocab broadcasts as a semi-join-style left join onto the
    token stream, and the only wide shuffle is the final per-doc
    aggregate. At 100 TB the vocab stays driver-tiny (K rows) no
    matter the corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ", -1)).alias("token")
    )
    tf = tok.groupBy("token").agg(F.count("*").alias("tf"))
    vocab = (
        tf.orderBy(F.col("tf").desc(), F.col("token"))
        .limit(_VOCAB_K)
        .select("token", F.lit(1).alias("hit"))
    )
    return (
        tok.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.count("hit").cast("bigint").alias("n_in_vocab"),
            dround(
                F.count("hit").cast("double") / F.count("*"), 6
            ).alias("coverage"),
        )
    )
