"""Scalar-function surface (SURVEY.md §2.8): string, date/time, math,
array + higher-order, JSON, hashing, explode/unnest.

Cross-engine hazards handled here: datediff argument order (Spark
``datediff(end, start)`` vs DuckDB ``date_diff(part, start, end)``),
decimal-literal typing, regex dialect (kept to the common subset),
list-function naming (Spark ``array_*`` vs DuckDB ``list_*``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register


@register(
    "s1_string_functions",
    oracle="""
    SELECT c_custkey,
           UPPER(c_name)                       AS name_upper,
           LOWER(c_mktsegment)                 AS seg_lower,
           SUBSTRING(c_name, 1, 8)             AS name_prefix,
           LENGTH(c_name)                      AS name_len,
           TRIM(CONCAT('  ', c_name, '  '))    AS name_trim,
           CONCAT_WS('|', c_mktsegment, c_name) AS seg_name,
           LPAD(CAST(c_custkey AS VARCHAR), 10, '0') AS key_padded,
           REPLACE(c_name, '#', '-')           AS name_dashed,
           CONTAINS(c_name, '1')               AS has_one,
           STARTS_WITH(c_name, 'Customer')     AS is_customer
    FROM customer
    WHERE c_custkey <= 600
    """,
)
def s1_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    return customer.filter(F.col("c_custkey") <= 600).select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.lower("c_mktsegment").alias("seg_lower"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").alias("name_len"),
        F.trim(F.concat(F.lit("  "), F.col("c_name"), F.lit("  "))).alias("name_trim"),
        F.concat_ws("|", "c_mktsegment", "c_name").alias("seg_name"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("key_padded"),
        F.replace(F.col("c_name"), F.lit("#"), F.lit("-")).alias("name_dashed"),
        F.contains(F.col("c_name"), F.lit("1")).alias("has_one"),
        F.startswith(F.col("c_name"), F.lit("Customer")).alias("is_customer"),
    )


@register(
    "s2_regex_levenshtein",
    oracle="""
    SELECT p_partkey, p_type,
           REGEXP_EXTRACT(p_type, '([A-Z]+)', 1)        AS first_word,
           REGEXP_MATCHES(p_type, 'BRUSHED|POLISHED')   AS is_finished,
           REGEXP_REPLACE(p_type, '[AEIOU]', '_', 'g')  AS devoweled,
           LEVENSHTEIN(p_brand, 'Brand#1')              AS brand_dist
    FROM part
    WHERE p_partkey <= 500
    """,
)
def s2_regex_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DuckDB regexp_replace is single-replacement unless the 'g' flag is
    # passed; Spark's is global always — keep the 'g' on the oracle side.
    part = load_table(spark, sf_dir, "part")
    return part.filter(F.col("p_partkey") <= 500).select(
        "p_partkey",
        "p_type",
        F.regexp_extract("p_type", r"([A-Z]+)", 1).alias("first_word"),
        F.col("p_type").rlike("BRUSHED|POLISHED").alias("is_finished"),
        F.regexp_replace("p_type", "[AEIOU]", "_").alias("devoweled"),
        F.levenshtein("p_brand", F.lit("Brand#1")).alias("brand_dist"),
    )


@register(
    "s3_date_functions",
    oracle="""
    SELECT o_orderkey,
           YEAR(o_orderdate)                       AS order_year,
           MONTH(o_orderdate)                      AS order_month,
           DAYOFMONTH(o_orderdate)                 AS order_day,
           CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month_start,
           DATE_DIFF('day', o_orderdate, TIMESTAMP '1998-12-31 00:00:00') AS days_to_eoy,
           CAST(o_orderdate + INTERVAL 30 DAY AS TIMESTAMP) AS due_date,
           CAST(o_orderdate AS DATE)               AS order_date_only,
           CAST(EPOCH(o_orderdate) AS BIGINT)      AS epoch_sec
    FROM orders
    WHERE o_orderkey <= 3000
    """,
)
def s3_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # datediff arg order differs across engines: Spark (end, start),
    # DuckDB date_diff(part, start, end) — the oracle is written to match.
    orders = load_table(spark, sf_dir, "orders")
    return orders.filter(F.col("o_orderkey") <= 3000).select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        F.datediff(
            F.lit("1998-12-31 00:00:00").cast("timestamp"), F.col("o_orderdate")
        ).alias("days_to_eoy"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("due_date"),
        F.col("o_orderdate").cast("date").alias("order_date_only"),
        F.unix_timestamp("o_orderdate").alias("epoch_sec"),
    )


@register(
    "s4_math_functions",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           CAST(FLOOR(l_extendedprice) AS BIGINT) AS price_floor,
           CAST(CEIL(l_extendedprice) AS BIGINT)  AS price_ceil,
           ABS(l_discount - 0.05)            AS disc_dev,
           {sql_dround("SQRT(l_quantity)", 6)}      AS qty_sqrt,
           {sql_dround(
               "CASE WHEN l_extendedprice > 0"
               " THEN LN(l_extendedprice) END", 6)} AS price_ln,
           {sql_dround("POW(l_quantity, 2)", 4)}    AS qty_sq,
           CAST(SIGN(l_discount - 0.05) AS DOUBLE) AS disc_sign,
           MOD(l_orderkey, 7)                AS key_mod
    FROM lineitem
    WHERE l_orderkey <= 1000
    """,
)
def s4_math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_orderkey") <= 1000).select(
        "l_orderkey",
        "l_linenumber",
        F.floor("l_extendedprice").alias("price_floor"),
        F.ceil("l_extendedprice").alias("price_ceil"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        dround(F.sqrt("l_quantity"), 6).alias("qty_sqrt"),
        # explicit > 0 guard, not bare log: Spark happens to return
        # NULL on non-positives where DuckDB's LN raises — the guard
        # makes the shared semantics explicit on both engines
        dround(
            F.when(F.col("l_extendedprice") > 0,
                   F.log("l_extendedprice")),
            6,
        ).alias("price_ln"),
        dround(F.pow("l_quantity", 2), 4).alias("qty_sq"),
        F.signum(F.col("l_discount") - 0.05).alias("disc_sign"),
        (F.col("l_orderkey") % 7).alias("key_mod"),
    )


@register(
    "s5_array_functions",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' '))                       AS n_tokens,
           len(list_distinct(string_split(text, ' ')))        AS n_distinct,
           array_to_string(list_sort(list_distinct(string_split(text, ' ')))[1:5], ',') AS first_tokens,
           list_contains(string_split(text, ' '), 'scan')     AS has_scan,
           array_to_string(list_sort(list_distinct(string_split(text, ' ')))[1:3], ',') AS top3_csv
    FROM documents
    WHERE doc_id <= 100
    """,
)
def s5_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    dtoks = F.array_sort(F.array_distinct(toks))
    return docs.filter(F.col("doc_id") <= 100).select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        # CSV-serialized (not array-typed): the driver's canonicalizer
        # sorts result cells with pandas and crashes on ndarray cells.
        F.concat_ws(",", F.slice(dtoks, 1, 5)).alias("first_tokens"),
        F.array_contains(toks, "scan").alias("has_scan"),
        F.concat_ws(",", F.slice(dtoks, 1, 3)).alias("top3_csv"),
    )


@register(
    "s6_higher_order_functions",
    oracle=f"""
    SELECT vec_id,
           {sql_dround("list_aggregate(list_transform(embedding::DOUBLE[], x -> x * x), 'sum')", 6)} AS sum_squares,
           len(list_filter(embedding::DOUBLE[], x -> x > 0)) AS n_positive,
           {sql_dround("list_aggregate(embedding::DOUBLE[], 'max')", 6)} AS max_component,
           {sql_dround("list_aggregate(embedding::DOUBLE[], 'min')", 6)} AS min_component
    FROM embeddings
    WHERE vec_id <= 200
    """,
)
def s6_higher_order_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return emb.filter(F.col("vec_id") <= 200).select(
        "vec_id",
        dround(
            F.aggregate(
                F.transform(vec, lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("sum_squares"),
        F.size(F.filter(vec, lambda x: x > 0)).alias("n_positive"),
        dround(F.array_max(vec), 6).alias("max_component"),
        dround(F.array_min(vec), 6).alias("min_component"),
    )


@register(
    "s7_json_functions",
    oracle="""
    SELECT event_id, event_type,
           CAST(props->>'$.k' AS INT) AS k_value,
           CASE WHEN CAST(props->>'$.k' AS INT) >= 50 THEN 'high' ELSE 'low' END AS k_bucket
    FROM events
    WHERE event_id <= 2000
    """,
)
def s7_json_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return events.filter(F.col("event_id") <= 2000).select(
        "event_id",
        "event_type",
        k.alias("k_value"),
        F.when(k >= 50, "high").otherwise("low").alias("k_bucket"),
    )


@register(
    "s8_json_aggregate",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(props->>'$.k' AS INT)) AS BIGINT) AS k_total,
           MAX(CAST(props->>'$.k' AS INT)) AS k_max,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def s8_json_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # from_json with an explicit schema (vs get_json_object) — one parse,
    # typed access; the idiomatic form when extracting multiple fields.
    events = load_table(spark, sf_dir, "events")
    parsed = events.withColumn("p", F.from_json("props", "k INT"))
    return parsed.groupBy("event_type").agg(
        F.sum("p.k").alias("k_total"),
        F.max("p.k").alias("k_max"),
        F.count("*").alias("n"),
    )


@register(
    "s9_hash_functions",
    oracle="""
    SELECT doc_id,
           MD5(text)                 AS text_md5,
           SHA256(text)              AS text_sha256,
           MD5(CONCAT(lang, ':', source)) AS meta_md5
    FROM documents
    WHERE doc_id <= 100
    """,
)
def s9_hash_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # md5/sha256 are bit-exact across engines; xxhash64/murmur are
    # seed/implementation-specific and stay out of oracle queries.
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(F.col("doc_id") <= 100).select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.sha2("text", 256).alias("text_sha256"),
        F.md5(F.concat(F.col("lang"), F.lit(":"), F.col("source"))).alias("meta_md5"),
    )


@register(
    "s10_explode_unnest",
    oracle="""
    SELECT doc_id, t.token AS token
    FROM documents, UNNEST(string_split(text, ' ')) AS t(token)
    WHERE doc_id <= 20
    """,
)
def s10_explode_unnest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("doc_id") <= 20)
        .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    )


@register(
    "s11_sequence_generate",
    oracle="""
    SELECT r_regionkey, g.n AS n, r_regionkey * 10 + g.n AS derived
    FROM region, (SELECT unnest(generate_series(1, 5)) AS n) AS g
    """,
)
def s11_sequence_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region")
    return (
        region.select(
            "r_regionkey", F.explode(F.sequence(F.lit(1), F.lit(5))).alias("n")
        )
        .withColumn("derived", F.col("r_regionkey") * 10 + F.col("n"))
    )


@register(
    "s12_conditional_null",
    oracle="""
    SELECT s_suppkey,
           COALESCE(NULLIF(s_name, 'Supplier#1'), 'PRIMARY')  AS display_name,
           CASE WHEN s_acctbal < 0 THEN 'debt'
                WHEN s_acctbal < 5000 THEN 'normal'
                ELSE 'premium' END                            AS balance_class,
           IFNULL(NULLIF(s_nationkey, 0), -1)                 AS nation_or_default,
           GREATEST(s_acctbal, 0.0)                           AS bal_floor0,
           LEAST(s_acctbal, 9999.0)                           AS bal_cap
    FROM supplier
    """,
)
def s12_conditional_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = load_table(spark, sf_dir, "supplier")
    return supplier.select(
        "s_suppkey",
        F.coalesce(
            F.nullif(F.col("s_name"), F.lit("Supplier#1")), F.lit("PRIMARY")
        ).alias("display_name"),
        F.when(F.col("s_acctbal") < 0, "debt")
        .when(F.col("s_acctbal") < 5000, "normal")
        .otherwise("premium")
        .alias("balance_class"),
        F.coalesce(F.nullif(F.col("s_nationkey"), F.lit(0)), F.lit(-1)).alias(
            "nation_or_default"
        ),
        F.greatest(F.col("s_acctbal"), F.lit(0.0)).alias("bal_floor0"),
        F.least(F.col("s_acctbal"), F.lit(9999.0)).alias("bal_cap"),
    )


@register(
    "s13_map_functions",
    oracle="""
    SELECT c_custkey,
           c_acctbal AS bal_value,
           c_mktsegment AS seg_value,
           2 AS n_keys,
           'bal' AS first_key
    FROM customer
    WHERE c_custkey <= 300
    """,
)
def s13_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: build a map, then read it back via element_at /
    map_keys — the oracle supplies the ground-truth values the map
    round-trip must reproduce."""
    customer = load_table(spark, sf_dir, "customer")
    m = F.create_map(
        F.lit("bal"), F.col("c_acctbal").cast("string"),
        F.lit("seg"), F.col("c_mktsegment"),
    )
    return customer.filter(F.col("c_custkey") <= 300).select(
        "c_custkey",
        F.element_at(m, "bal").cast("double").alias("bal_value"),
        F.element_at(m, "seg").alias("seg_value"),
        F.size(F.map_keys(m)).alias("n_keys"),
        F.array_min(F.map_keys(m)).alias("first_key"),
    )


@register(
    "s14_date_formatting",
    oracle="""
    SELECT o_orderkey,
           STRFTIME(o_orderdate, '%Y-%m-%d')           AS iso_day,
           STRFTIME(o_orderdate, '%Y/%m')              AS ym,
           CAST(LAST_DAY(o_orderdate) AS DATE)         AS month_end,
           QUARTER(o_orderdate)                        AS qtr,
           WEEKOFYEAR(o_orderdate)                     AS iso_week,
           CAST(EPOCH(o_orderdate) AS BIGINT)          AS epoch_sec,
           MAKE_DATE(1995, 6, 15)                      AS fixed_date
    FROM orders
    WHERE o_orderkey <= 3000
    """,
)
def s14_date_formatting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime formatting/derivation battery — Spark's SimpleDateFormat
    patterns vs DuckDB strftime produce the same strings for the shared
    subset used here (zero-padded numeric fields)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.filter(F.col("o_orderkey") <= 3000).select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("iso_day"),
        F.date_format("o_orderdate", "yyyy/MM").alias("ym"),
        F.last_day("o_orderdate").alias("month_end"),
        F.quarter("o_orderdate").alias("qtr"),
        F.weekofyear("o_orderdate").alias("iso_week"),
        F.unix_timestamp("o_orderdate").alias("epoch_sec"),
        F.make_date(F.lit(1995), F.lit(6), F.lit(15)).alias("fixed_date"),
    )


@register(
    "s15_array_functions_2",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        WHERE doc_id <= 100
    )
    SELECT doc_id,
           LIST_POSITION(toks, 'the')                   AS pos_the,
           LIST_CONTAINS(toks, 'data')                  AS has_data,
           LIST_HAS_ANY(toks, ['data', 'scan', 'the'])  AS overlaps_lex,
           array_to_string(FLATTEN([toks[1:2], toks[3:4]]), ',') AS first_four,
           LIST_REVERSE(toks)[1]                        AS last_tok
    FROM t
    """,
)
def s15_array_functions_2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second array battery: position (1-based; 0 = absent in both
    engines), membership, overlap, flatten, reverse."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ", -1)
    return docs.filter(F.col("doc_id") <= 100).select(
        "doc_id",
        F.array_position(toks, "the").alias("pos_the"),
        F.array_contains(toks, "data").alias("has_data"),
        F.arrays_overlap(toks, F.array(F.lit("data"), F.lit("scan"), F.lit("the"))).alias(
            "overlaps_lex"
        ),
        # CSV-serialized: array cells crash the driver's pandas canonicalizer.
        F.concat_ws(",", F.flatten(F.array(F.slice(toks, 1, 2), F.slice(toks, 3, 2)))).alias(
            "first_four"
        ),
        F.element_at(F.reverse(toks), 1).alias("last_tok"),
    )


@register(
    "s16_bitwise",
    oracle="""
    SELECT event_type,
           BIT_AND(user_id)                  AS band,
           BIT_OR(user_id)                   AS bor,
           BIT_XOR(user_id)                  AS bxor,
           MAX(user_id << 2)                 AS shifted,
           MAX(user_id & 255)                AS masked
    FROM events
    GROUP BY event_type
    """,
)
def s16_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregates + scalar shifts/masks on int64 keys."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.bit_and("user_id").alias("band"),
        F.bit_or("user_id").alias("bor"),
        F.bit_xor("user_id").alias("bxor"),
        F.max(F.shiftleft(F.col("user_id"), 2)).alias("shifted"),
        F.max(F.col("user_id").bitwiseAND(F.lit(255))).alias("masked"),
    )


@register(
    "s17_null_handling",
    oracle="""
    WITH flagged AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_acctbal END AS bal,
               CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_mktsegment END AS seg
        FROM customer
    )
    SELECT c_custkey,
           COALESCE(bal, -1.0)                       AS bal_filled,
           COALESCE(seg, 'UNKNOWN')                  AS seg_filled,
           bal IS NULL                               AS bal_was_null,
           NULLIF(seg, 'BUILDING')                   AS seg_nullif,
           TRY_CAST(seg AS DOUBLE)                   AS seg_as_num,
           IFNULL(bal, 0.0) + COALESCE(bal, 0.0)     AS bal_doubled
    FROM flagged
    WHERE bal IS NOT NULL OR seg IS NOT NULL
    """,
)
def s17_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-handling battery: synthesized nulls → na.fill (the
    DataFrame API form of COALESCE), IS NULL flags, NULLIF, try_cast
    (NULL on failure, never an exception), IFNULL."""
    customer = load_table(spark, sf_dir, "customer")
    flagged = customer.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 7 == 0, None)
        .otherwise(F.col("c_acctbal"))
        .alias("bal"),
        F.when(F.col("c_custkey") % 5 == 0, None)
        .otherwise(F.col("c_mktsegment"))
        .alias("seg"),
    )
    filled = flagged.na.fill({"bal": -1.0, "seg": "UNKNOWN"})
    return (
        flagged.filter(F.col("bal").isNotNull() | F.col("seg").isNotNull())
        .join(filled.select(
            "c_custkey",
            F.col("bal").alias("bal_filled"),
            F.col("seg").alias("seg_filled"),
        ), "c_custkey")
        .select(
            "c_custkey",
            "bal_filled",
            "seg_filled",
            F.col("bal").isNull().alias("bal_was_null"),
            F.nullif(F.col("seg"), F.lit("BUILDING")).alias("seg_nullif"),
            F.col("seg").try_cast("double").alias("seg_as_num"),
            (F.ifnull(F.col("bal"), F.lit(0.0)) + F.coalesce(F.col("bal"), F.lit(0.0))).alias("bal_doubled"),
        )
    )


@register(
    "s18_variant_type",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(props::JSON ->> 'k' AS INT)) AS BIGINT) AS sum_k,
           {sql_dround("AVG(CAST(props::JSON ->> 'k' AS INT))", 6)} AS avg_k,
           CAST(COUNT(CAST(props::JSON ->> 'missing' AS INT)) AS BIGINT)
               AS n_missing
    FROM events
    GROUP BY event_type
    """,
)
def s18_variant_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT: parse the JSON props column ONCE into the
    binary variant encoding, then extract typed fields with
    try_variant_get — the schema-on-read path that replaces
    per-extraction JSON string re-parsing (the s7 get_json_object
    style re-tokenizes the string per field; variant parses once and
    navigates an encoded tree, the same trade Parquet VARIANT
    shredding banks on at scale). A missing path returns NULL rather
    than erroring (n_missing certifies that on every row), and the
    extraction + aggregation stay in one codegen hash-agg pass."""
    events = load_table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.try_variant_get(v, "$.k", "int")
    missing = F.try_variant_get(v, "$.missing", "int")
    return events.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(k).cast("bigint").alias("sum_k"),
        dround(F.avg(k), 6).alias("avg_k"),
        F.count(missing).cast("bigint").alias("n_missing"),
    )


#: mixed-case segment dim — the case mismatch vs the fixture's
#: uppercase c_mktsegment is the POINT: only a case-insensitive
#: comparison matches anything.
_SEGMENT_TIERS = [
    ("Building", "brick"),
    ("Automobile", "mobile"),
    ("Machinery", "industrial"),
    ("Household", "consumer"),
    ("Furniture", "consumer"),
]


@register(
    "s19_collation",
    oracle=f"""
    WITH tiers(label, tier) AS (
        VALUES {", ".join(f"('{label}', '{tier}')" for label, tier in _SEGMENT_TIERS)}
    )
    SELECT t.tier,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           {sql_dround("AVG(c.c_acctbal)", 6)} AS avg_acctbal
    FROM customer c
    JOIN tiers t ON lower(c.c_mktsegment) = lower(t.label)
    GROUP BY t.tier
    """,
)
def s19_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 collations: join the fixture's UPPERCASE market
    segments against a Mixed-Case dimension under UTF8_LCASE — the
    collation does real work here (a case-sensitive join would match
    ZERO rows), and unlike a lower()-both-sides rewrite the collated
    comparison keeps the join an ordinary equi-join the planner can
    broadcast, with the case rule carried by the TYPE rather than
    re-spelled at every call site (exactly how analysts stop writing
    lower() bugs). The oracle mirrors with lower() since DuckDB
    expresses the same rule functionally."""
    cust = load_table(spark, sf_dir, "customer")
    tiers = spark.createDataFrame(_SEGMENT_TIERS, ["label", "tier"])
    joined = cust.join(
        F.broadcast(tiers),
        F.collate(cust.c_mktsegment, "UTF8_LCASE")
        == F.collate(tiers.label, "UTF8_LCASE"),
    )
    return joined.groupBy("tier").agg(
        F.count("*").cast("bigint").alias("n_customers"),
        dround(F.avg("c_acctbal"), 6).alias("avg_acctbal"),
    )


# Oracle discipline: the URLs are constructed IN the query from fixture
# columns, so DuckDB never needs a URL parser — it derives each
# component independently from the same source columns. A hash match
# therefore certifies Spark's parser against ground truth, not against
# another parser's quirks.


@register(
    "s20_url_functions",
    oracle="""
    SELECT doc_id,
           source || '.example.com' AS host,
           '/' || lang || '/doc/' || CAST(doc_id AS VARCHAR) AS path,
           'q=' || CAST(n_chars AS VARCHAR) AS query,
           CAST(n_chars AS VARCHAR) AS q_param,
           lang AS roundtrip_lang
    FROM documents
    """,
)
def s20_url_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL scalar functions: build a URL from fixture columns, then
    recover host / path / full query / a single query parameter with
    ``parse_url``, plus a ``url_decode(url_encode(x))`` identity. The
    oracle reconstructs every component straight from the source
    columns — ground truth, not a second parser — so the hash match
    certifies Spark's extraction exactly. All JVM expressions in the
    scan projection; zero shuffles (the per-host groupBys these feed
    are l41/l57-shaped rollups)."""
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/"),
        F.col("lang"),
        F.lit("/doc/"),
        F.col("doc_id").cast("string"),
        F.lit("?q="),
        F.col("n_chars").cast("string"),
    )
    return docs.select(
        "doc_id",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("query"),
        F.parse_url(url, F.lit("QUERY"), F.lit("q")).alias("q_param"),
        F.url_decode(F.url_encode("lang")).alias("roundtrip_lang"),
    )


@register(
    "s21_data_protection",
    oracle="""
    SELECT c_custkey,
           regexp_replace(regexp_replace(regexp_replace(c_name,
               '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
               AS masked_name,
           c_name AS decrypted_name
    FROM customer
    """,
)
def s21_data_protection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level data protection: ``mask`` (upper→X, lower→x,
    digit→n — the redacted-display form PII policies mandate) and an
    ``aes_decrypt(aes_encrypt(x, k), k)`` roundtrip (AES-GCM, the
    at-rest column-encryption primitive). The mask oracle derives the
    same redaction from three regexp passes — ground truth per the
    documented character classes; the encryption oracle is the
    identity (GCM ciphertext is IV-randomized, so only the roundtrip
    is deterministic — which is also the only part with portable
    semantics). Both are JVM expressions in the scan projection; the
    AES pair stays inside whole-stage codegen, so "encrypted at rest,
    decrypted in the projection" costs no extra pass."""
    cust = load_table(spark, sf_dir, "customer")
    key = F.lit("0123456789abcdef")
    return cust.select(
        "c_custkey",
        F.mask("c_name").alias("masked_name"),
        F.aes_decrypt(F.aes_encrypt(F.col("c_name"), key), key)
        .cast("string")
        .alias("decrypted_name"),
    )


@register(
    "s22_outer_explode",
    oracle="""
    SELECT doc_id,
           CASE WHEN n_chars >= 250 THEN NULL ELSE 'short' END AS tag
    FROM documents
    """,
)
def s22_outer_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``explode_outer``: the empty-collection-preserving explode.
    Documents get a tag array that is EMPTY for long docs ('short'
    only below the length cutoff); a plain ``explode`` silently drops
    every long doc from the output — the classic row-loss bug in
    tag/entity pipelines — while ``explode_outer`` keeps them with a
    NULL element. The oracle derives the expected (doc, tag-or-NULL)
    rows closed-form, so the hash certifies exactly the preserved
    rows. Pure projection + generator in one codegen stage, no
    shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    tags = F.when(
        F.col("n_chars") < 250, F.array(F.lit("short"))
    ).otherwise(F.array().cast("array<string>"))
    return docs.select(
        "doc_id", F.explode_outer(tags).alias("tag")
    )


@register(
    "s23_map_higher_order",
    oracle="""
    SELECT doc_id,
           'LANG=' || lang AS lang_entry,
           n_chars * 2 AS doubled_chars,
           CAST(LENGTH(text) >= 250 AS BIGINT) AS n_long_flags
    FROM documents
    """,
)
def s23_map_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map higher-order functions — ``transform_keys``,
    ``transform_values``, ``map_filter`` — exercised on a map built
    from fixture columns and read back out to scalars so DuckDB can
    derive every output closed-form from the SOURCE columns (ground
    truth; DuckDB's map surface differs too much to mirror the calls
    themselves). transform_keys upcases the key ('LANG=' prefix),
    transform_values doubles the metric, map_filter keeps only
    entries whose value clears the length cutoff (count of survivors
    returned). All three stay JVM-side generator-free expressions in
    one projection."""
    docs = load_table(spark, sf_dir, "documents")
    m = F.create_map(F.lit("lang"), F.col("lang"))
    metrics = F.create_map(F.lit("chars"), F.col("n_chars"))
    lens = F.create_map(F.lit("len"), F.length("text").cast("bigint"))
    return docs.select(
        "doc_id",
        F.element_at(
            F.transform_keys(m, lambda k, _v: F.concat(F.upper(k), F.lit("="))),
            "LANG=",
        ).alias("lang_entry_raw"),
        F.element_at(
            F.transform_values(metrics, lambda _k, v: v * 2), "chars"
        ).alias("doubled_chars"),
        F.size(
            F.map_filter(lens, lambda _k, v: v >= 250)
        ).cast("bigint").alias("n_long_flags"),
    ).select(
        "doc_id",
        F.concat(F.lit("LANG="), F.col("lang_entry_raw")).alias("lang_entry"),
        "doubled_chars",
        "n_long_flags",
    )


#: 3037000499² — the largest perfect square below 2^63: ×1 fits a
#: BIGINT, ×2 overflows. The boundary that makes overflow DATA-
#: dependent rather than constant-foldable.
_NEAR_MAX = 9223372030926249001
_MAX64 = 9223372036854775807


@register(
    "s24_try_arithmetic",
    oracle=f"""
    SELECT s_suppkey,
           CASE WHEN s_suppkey <= 1
                THEN s_suppkey * {_NEAR_MAX} END AS mult_guarded,
           CASE WHEN s_suppkey <= 7
                THEN {_MAX64 - 7} + s_suppkey END AS add_guarded,
           CASE WHEN s_suppkey <= 8
                THEN {-_MAX64 - 1 + 8} - s_suppkey END AS sub_guarded,
           {sql_dround(
               "CAST(s_acctbal AS DOUBLE) / NULLIF(s_suppkey % 3, 0)", 6
           )} AS div_guarded,
           (string_split(s_name, '#'))[2] AS seg2,
           (string_split(s_name, '#'))[10] AS seg10
    FROM supplier
    """,
)
def s24_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``try_*`` family at its decision boundaries: a multiply
    whose operand crosses 2^63 exactly at s_suppkey = 2, an add/
    subtract pair straddling ±2^63 within the first few keys, a
    modulo-zero division, and out-of-bounds element access — each
    NULL where ANSI would crash, value-exact elsewhere. The oracle
    spells every boundary analytically (CASE on the key ranges), so
    the hash certifies WHERE the error→NULL transition happens, not
    just that errors vanish.

    Scale: pure scan projection; the point is semantic — at 100 TB a
    single bad row must cost one NULL, not the job, and the sweep
    policy (PLANS.md round 6) routes every data-derived hazard
    through these functions."""
    supp = load_table(spark, sf_dir, "supplier")
    return supp.select(
        "s_suppkey",
        F.try_multiply(F.col("s_suppkey"), F.lit(_NEAR_MAX)).alias(
            "mult_guarded"
        ),
        F.try_add(F.lit(_MAX64 - 7), F.col("s_suppkey")).alias(
            "add_guarded"
        ),
        F.try_subtract(
            F.lit(-_MAX64 - 1 + 8), F.col("s_suppkey")
        ).alias("sub_guarded"),
        dround(
            F.try_divide(
                F.col("s_acctbal").cast("double"), F.col("s_suppkey") % 3
            ),
            6,
        ).alias("div_guarded"),
        F.try_element_at(F.split("s_name", "#"), F.lit(2)).alias("seg2"),
        F.try_element_at(F.split("s_name", "#"), F.lit(10)).alias(
            "seg10"
        ),
    )


@register(
    "s25_calendar_arithmetic",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) AS order_date,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH AS DATE)
               AS next_month,
           CAST(CAST(o_orderdate AS DATE) - INTERVAL 3 MONTH AS DATE)
               AS prior_quarter,
           CAST(CAST(o_orderdate AS DATE) +
                (CASE WHEN (5 - date_part('isodow', o_orderdate) + 7) % 7 = 0
                      THEN 7
                      ELSE (5 - date_part('isodow', o_orderdate) + 7) % 7
                 END) * INTERVAL 1 DAY AS DATE) AS next_friday
    FROM orders
    WHERE o_orderkey % 100 = 0
    """,
)
def s25_calendar_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar arithmetic with end-of-month clamping: add_months
    lands Jan 31 + 1 month on the LAST day of February (both engines
    clamp rather than overflow into March — the semantic every
    monthly-rolling report depends on, and the one naive
    day-count arithmetic gets wrong), three months back for the
    prior-quarter anchor, and next_day(_, 'Friday') — the
    strictly-after next weekly expiry. The oracle spells next_day as
    explicit ISO-dow modular arithmetic, so Spark's builtin is
    certified against the definition rather than a twin builtin.

    Pure projection — pushdown-friendly, no shuffle; the key filter
    keeps the certified sample deterministic and small."""
    orders = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return orders.filter(F.col("o_orderkey") % 100 == 0).select(
        "o_orderkey",
        d.alias("order_date"),
        F.add_months(d, 1).alias("next_month"),
        F.add_months(d, -3).alias("prior_quarter"),
        F.next_day(d, "Friday").alias("next_friday"),
    )


@register(
    "s26_binary_encoding",
    oracle="""
    SELECT p_partkey,
           base64(encode(p_name)) AS name_b64,
           hex(p_brand) AS brand_hex,
           ascii(p_name) AS first_cp,
           chr(65 + CAST(p_partkey % 26 AS INT)) AS letter,
           CAST(octet_length(encode(p_name)) AS BIGINT) AS n_bytes,
           CAST(bit_length(p_brand) AS BIGINT) AS n_bits,
           decode(from_base64(base64(encode(p_name)))) = p_name
               AS roundtrip_ok
    FROM part
    """,
)
def s26_binary_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary/text encoding functions: base64 and hex of string
    bytes, first codepoint (`ascii`), codepoint→char (`chr`), byte
    and bit lengths, and the encode→base64→unbase64→decode roundtrip
    asserted as an in-row boolean — the wire-format toolkit every
    ingest/export pipeline leans on (m5/m6 move real binary columns;
    this certifies the scalar surface itself, value by value).

    Engine note: Spark strings coerce to UTF-8 bytes via
    CAST(s AS BINARY); DuckDB needs the explicit `encode()` — both
    produce the same bytes, so base64/hex/octet_length agree exactly
    (hex is uppercase in both). Pure scan projection: whole-stage
    codegen, zero shuffles, column pruning to the two strings."""
    part = load_table(spark, sf_dir, "part")
    name_bin = F.col("p_name").cast("binary")
    return part.select(
        "p_partkey",
        F.base64(name_bin).alias("name_b64"),
        F.hex(F.col("p_brand")).alias("brand_hex"),
        F.ascii(F.col("p_name")).alias("first_cp"),
        F.chr(65 + (F.col("p_partkey") % 26).cast("int")).alias(
            "letter"
        ),
        F.octet_length(F.col("p_name")).cast("bigint").alias(
            "n_bytes"
        ),
        F.bit_length(F.col("p_brand")).cast("bigint").alias("n_bits"),
        (
            F.decode(F.unbase64(F.base64(name_bin)), "UTF-8")
            == F.col("p_name")
        ).alias("roundtrip_ok"),
    )
