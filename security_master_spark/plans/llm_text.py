"""LLM-pipeline text statistics (SURVEY.md §2.12): repetition and
entropy signals, unigram/bigram surprisal, vocabulary coverage,
duplicate n-gram fraction, lexical diversity, BM25 retrieval, PMI
collocations, MinHash calibration, n-gram coverage and BPE pair
statistics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.functions.text import (
    QUALITY_SQL,
    quality_score,
    shingles_of,
    tokens,
)
from security_master_spark.operators.dedup import (
    _MERSENNE31,
    _perm_constants,
    _shingle_hash31_md5,
)
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


#: the fixed retrieval query (mid-frequency fixture vocabulary) and
#: the standard Okapi constants.
_QUERY_TERMS = ("join", "window", "merge", "scan")
_K1 = 1.2
_B = 0.75
_TOP_K = 10

_TERMS_SQL = ", ".join(f"('{t}')" for t in _QUERY_TERMS)


@register(
    "l62_bm25_topk",
    oracle=f"""
    WITH terms(term) AS (
        VALUES {_TERMS_SQL}
    ), dl AS (
        SELECT doc_id, len(string_split(text, ' ')) AS dl
        FROM documents
    ), stats AS (
        SELECT AVG(CAST(dl AS DOUBLE)) AS avgdl,
               CAST(COUNT(*) AS DOUBLE) AS n_docs
        FROM dl
    ), tok AS (
        SELECT doc_id, t.token AS term
        FROM documents, UNNEST(string_split(text, ' ')) AS t(token)
        WHERE t.token IN (SELECT term FROM terms)
    ), tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
        FROM tok GROUP BY doc_id, term
    ), df AS (
        SELECT term, CAST(COUNT(*) AS DOUBLE) AS df
        FROM tf GROUP BY term
    ), scored AS (
        SELECT tf.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
               SUM(LN(1 + (n_docs - df + 0.5) / (df + 0.5))
                   * tf * ({_K1} + 1)
                   / (tf + {_K1} * (1 - {_B} + {_B} * dl / avgdl)))
                   AS score
        FROM tf
        JOIN df USING (term)
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN stats
        GROUP BY tf.doc_id
    )
    SELECT doc_id, n_terms_hit,
           {sql_dround("score", 6)} AS bm25
    FROM scored
    QUALIFY ROW_NUMBER() OVER (
        ORDER BY {sql_dround("score", 6)} DESC, doc_id ASC
    ) <= {_TOP_K}
    """,
)
def l62_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 retrieval for a fixed query: per matching
    doc, Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)) with
    idf = ln(1 + (N−df+0.5)/(df+0.5)) — tf saturates (k1), long docs
    are penalized (b·dl/avgdl), and rare terms dominate (idf). The
    l22 sort-key discipline adapted for a float score: ranking uses
    the 6-dp ROUNDED score (the exact value the hash certifies) with
    a doc_id tie-break, so both engines rank the identical key.

    Scale: the token stream is filtered to the |query| terms AT THE
    SCAN (predicate on the exploded token — at 100 TB this is the
    difference between shuffling the corpus vocabulary and shuffling
    |query|·|docs| rows); df and the corpus stats are term-count and
    scalar frames that broadcast back onto tf; doc length comes from
    one array-size projection, never a second explode. One top-K
    TakeOrderedAndProject ends the plan — no full sort."""
    docs = load_table(spark, sf_dir, "documents")
    dl = docs.select(
        "doc_id", F.size(tokens(F.col("text"))).alias("dl")
    )
    stats = dl.agg(
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
        F.count("*").cast("double").alias("n_docs"),
    )
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    ).filter(F.col("term").isin(*_QUERY_TERMS))
    tf = tok.groupBy("doc_id", "term").agg(
        F.count("*").cast("double").alias("tf")
    )
    df = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    idf = F.log(
        1
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    contrib = (
        idf
        * F.col("tf")
        * F.lit(_K1 + 1)
        / (
            F.col("tf")
            + F.lit(_K1)
            * (F.lit(1 - _B) + F.lit(_B) * F.col("dl") / F.col("avgdl"))
        )
    )
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_terms_hit"),
            dround(F.sum(contrib), 6).alias("bm25"),
        )
    )
    return (
        scored.orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(_TOP_K)
        .select("doc_id", "n_terms_hit", "bm25")
    )


#: quality cutoffs swept by l64 (the curation dial positions).
_Q_THRESHOLDS = (0.3, 0.5, 0.7)
_THR_SQL = ", ".join(f"({t})" for t in _Q_THRESHOLDS)


@register(
    "l64_quality_threshold_sweep",
    oracle=f"""
    WITH stats AS (
        SELECT {sql_dround(QUALITY_SQL, 6)} AS q,
               CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS ntok
        FROM documents
    ), thr(threshold) AS (
        VALUES {_THR_SQL}
    )
    SELECT CAST(threshold AS DOUBLE) AS threshold,
           CAST(SUM(CASE WHEN q >= threshold THEN 1 ELSE 0 END) AS BIGINT)
               AS docs_kept,
           {sql_dround(
               "SUM(CASE WHEN q >= threshold THEN 1 ELSE 0 END)"
               " / CAST(COUNT(*) AS DOUBLE)", 6
           )} AS doc_share,
           CAST(SUM(CASE WHEN q >= threshold THEN ntok ELSE 0 END)
                AS BIGINT) AS tokens_kept,
           {sql_dround(
               "SUM(CASE WHEN q >= threshold THEN ntok ELSE 0 END)"
               " / CAST(SUM(ntok) AS DOUBLE)", 6
           )} AS token_share
    FROM stats CROSS JOIN thr
    GROUP BY threshold
    """,
)
def l64_quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter threshold sweep: documents and tokens surviving
    each candidate cutoff of the l10 quality score — the dial a
    curation team reads BEFORE committing a filter (l60 plays the
    same role for dedup aggressiveness). The score formula is the
    shared QUALITY_SQL twin of functions.text.quality_score, so this
    sweep and l10's per-doc scores can never drift apart.

    The scored frame is dround-quantized BEFORE the >= comparison on
    both engines, so the keep/drop decision at a boundary is made on
    the identical hashed value — the threshold compare inherits the
    repo's float-sort-key discipline.

    Scale: one corpus scan computes (q, ntok); the 3-row threshold
    frame broadcasts; groupBy(threshold) partials combine map-side,
    so the exchange carries |thresholds|·|partitions| count rows —
    the 3× scan fan-out costs compute, never shuffle width."""
    docs = load_table(spark, sf_dir, "documents")
    stats = docs.select(
        dround(quality_score(F.col("text")), 6).alias("q"),
        F.size(tokens(F.col("text"))).cast("bigint").alias("ntok"),
    )
    thr = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(float(t)) for t in _Q_THRESHOLDS])
        ).alias("threshold")
    )
    kept = F.when(F.col("q") >= F.col("threshold"), 1).otherwise(0)
    kept_tok = F.when(
        F.col("q") >= F.col("threshold"), F.col("ntok")
    ).otherwise(F.lit(0))
    return (
        stats.crossJoin(F.broadcast(thr))
        .groupBy("threshold")
        .agg(
            F.sum(kept).cast("bigint").alias("docs_kept"),
            dround(F.sum(kept) / F.count("*").cast("double"), 6).alias(
                "doc_share"
            ),
            F.sum(kept_tok).cast("bigint").alias("tokens_kept"),
            dround(
                F.sum(kept_tok) / F.sum("ntok").cast("double"), 6
            ).alias("token_share"),
        )
    )


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
