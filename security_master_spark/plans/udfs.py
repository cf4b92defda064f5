"""UDF / UDAF / UDTF surface (SURVEY.md §2.13).

Each Python-execution flavor gets one query, and — because every UDF
here computes a deterministic, SQL-expressible function — each gets a
full DuckDB oracle rather than the weak rows-only check: the point is
to prove the Python crossing itself is semantics-preserving.

Scale discipline: all of these cross the JVM↔Python boundary, which is
the slow path (SURVEY.md §2.13). The vectorized forms (pandas_udf,
applyInPandas, mapInPandas) move data as Arrow record batches; the
row-at-a-time form (u1) exists to cover the API surface and is kept on
a small input. In the hot path of a real pipeline, prefer the
equivalent built-in expressions (plans/scalars.py shows most of them).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udf
from pyspark.sql.types import IntegerType

from security_master_spark.datasets import load_table, load_tables
from security_master_spark.functions.daily import daily_closes
from security_master_spark.functions.daily import DAILY_SQL as _DAILY_SQL
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register


# --------------------------------------------------------------------------
# u1 — row-at-a-time Python scalar UDF
# --------------------------------------------------------------------------
def _make_py_token_count():
    def token_count(s: str) -> int | None:
        if s is None:
            return None
        # split on single spaces (not .split()) to match the SQL
        # oracle's string_split semantics exactly, empty fields included
        return len(s.split(" "))

    return udf(token_count, IntegerType())


@register(
    "u1_python_scalar_udf",
    oracle="""
    SELECT doc_id,
           LEN(string_split(text, ' ')) AS n_tokens,
           n_chars
    FROM documents
    """,
)
def u1_python_scalar_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF (token count); the oracle recomputes it
    in SQL, proving the Py4J round-trip preserves values."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", _make_py_token_count()("text").alias("n_tokens"), "n_chars"
    )


# --------------------------------------------------------------------------
# u2 — vectorized (Arrow) scalar pandas UDF
# --------------------------------------------------------------------------
def _make_log_price():
    def log_price(s: pd.Series) -> pd.Series:
        import numpy as np

        return np.log1p(s)

    return pandas_udf(log_price, "double")


@register(
    "u2_pandas_scalar_udf",
    oracle=f"""
    SELECT o_orderkey,
           {sql_dround("LN(1 + o_totalprice)", 6)} AS log_price
    FROM orders
    """,
)
def u2_pandas_scalar_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized scalar UDF: numpy log1p over batch columns —
    the 10-100× faster Python crossing (SURVEY.md §2.13)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        dround(_make_log_price()("o_totalprice"), 6).alias("log_price"),
    )


# --------------------------------------------------------------------------
# u3 — grouped-aggregate pandas UDF (UDAF)
# --------------------------------------------------------------------------
def _make_weighted_avg_price():
    def weighted_avg_price(price: pd.Series, qty: pd.Series) -> float:
        return float((price * qty).sum() / qty.sum())

    return pandas_udf(weighted_avg_price, "double")


@register(
    "u3_grouped_agg_udaf",
    oracle=f"""
    SELECT l_returnflag,
           {sql_dround("SUM(l_extendedprice * l_quantity) / SUM(l_quantity)", 2)}
               AS weighted_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def u3_grouped_agg_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-agg pandas UDF: quantity-weighted mean price per return
    flag. The whole group is shipped to Python as one Arrow batch (no
    partial aggregation) — fine for bounded group counts, wrong tool
    for high-cardinality keys at 100 TB (use built-in sum/sum there)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        dround(
            _make_weighted_avg_price()("l_extendedprice", "l_quantity"), 2
        ).alias("weighted_price")
    )


# --------------------------------------------------------------------------
# u4 — grouped-map applyInPandas
# --------------------------------------------------------------------------
def _demean_group(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf[["event_id", "event_type", "value"]].copy()
    out["value_demeaned"] = pdf["value"] - pdf["value"].mean()
    return out.drop(columns=["value"])


@register(
    "u4_apply_in_pandas",
    oracle=f"""
    SELECT event_id, event_type,
           {sql_dround("value - AVG(value) OVER (PARTITION BY event_type)", 6)}
               AS value_demeaned
    FROM events
    """,
)
def u4_apply_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map UDF: per-event-type demeaning. Each group becomes one
    pandas frame on one executor — the custom-per-group-transform shape
    (the oracle shows the window-function equivalent Catalyst would
    keep JVM-side)."""
    events = load_table(spark, sf_dir, "events")
    out = events.groupBy("event_type").applyInPandas(
        _demean_group,
        schema="event_id long, event_type string, value_demeaned double",
    )
    return out.withColumn("value_demeaned", dround(F.col("value_demeaned"), 6))


# --------------------------------------------------------------------------
# u5 — partition-wise mapInPandas
# --------------------------------------------------------------------------
def _flag_large(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = pdf[["o_orderkey", "o_totalprice"]].copy()
        out["is_large"] = pdf["o_totalprice"] > 200000.0
        yield out


@register(
    "u5_map_in_pandas",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           o_totalprice > 200000.0 AS is_large
    FROM orders
    """,
)
def u5_map_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas: streaming iterator of Arrow batches per partition —
    the shape for stateless record transforms (and for API-ingestion
    sources, SURVEY.md §2.1) that never materializes a whole partition."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.mapInPandas(
        _flag_large, schema="o_orderkey long, o_totalprice double, is_large boolean"
    )


# --------------------------------------------------------------------------
# u6 — table-valued UDTF with LATERAL join
# --------------------------------------------------------------------------
@register(
    "u6_udtf_lateral",
    oracle="""
    SELECT d.doc_id, t.i AS pos,
           string_split(d.text, ' ')[t.i] AS token
    FROM documents d,
         UNNEST(generate_series(1, LEN(string_split(d.text, ' ')))) AS t(i)
    WHERE d.doc_id < 50
    """,
)
def u6_udtf_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (one row in → N rows out) applied via SQL LATERAL:
    positional tokenizer. 1-based positions to match SQL array
    indexing."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos: int, token: string")
    class PosTokenize:
        def eval(self, text: str):
            if text is None:
                return
            for i, tok in enumerate(text.split(" "), start=1):
                yield i, tok

    spark.udtf.register("pos_tokenize", PosTokenize)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.token
        FROM documents d,
             LATERAL pos_tokenize(d.text) AS t
        WHERE d.doc_id < 50
        """
    )


def _net_revenue_batches(
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    """Arrow-native per-batch transform: net revenue = price x
    (1 - discount), computed with pyarrow.compute kernels (C++
    vectorized, zero row-at-a-time Python). Module-level so
    cloudpickle ships it by reference and workers import it from the
    shipped package zip."""
    for b in batches:
        net = pc.multiply(
            b.column("l_extendedprice"),
            pc.subtract(pa.scalar(1.0), b.column("l_discount")),
        )
        yield pa.RecordBatch.from_arrays(
            [b.column("l_returnflag"), net], ["l_returnflag", "net"]
        )


@register(
    "u7_map_in_arrow",
    oracle=f"""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {sql_dround("SUM(l_extendedprice * (1 - l_discount))", 4)}
               AS net_revenue
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def u7_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow-native custom-batch path: ``mapInArrow`` hands the
    Python worker raw Arrow RecordBatches (no pandas conversion at
    all — one layer cheaper than mapInPandas) and the transform runs
    pyarrow.compute's C++ kernels. This is the integration seam for
    Arrow-speaking native libs (tokenizers, ONNX feature extractors)
    when even the pandas bridge is unwanted overhead. The batch fn
    also PRUNES to the 3 needed columns, and the downstream per-flag
    aggregation is ordinary JVM hash agg — Python touches each row
    once, vectorized. The oracle certifies the whole path
    end-to-end against pure SQL."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_discount"
    )
    net = li.mapInArrow(
        _net_revenue_batches, "l_returnflag string, net double"
    )
    return net.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        dround(F.sum("net"), 4).alias("net_revenue"),
    )


@register(
    "u8_polymorphic_udtf",
    oracle="""
    SELECT doc_id,
           string_split(text, ' ')[1] AS tok1,
           string_split(text, ' ')[2] AS tok2,
           string_split(text, ' ')[3] AS tok3
    FROM documents
    WHERE doc_id < 100
    """,
)
def u8_polymorphic_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polymorphic Python UDTF (Spark 4): the output SCHEMA is decided
    at plan time by the UDTF's ``analyze`` static method from the
    call-site literal — here ``lead_tokens(text, 3)`` emits columns
    tok1..tok3, and a different call site asking for 5 would compile
    to a 5-column relation with no code change. This is the
    table-function contract the classic fixed-returnType UDTF (u6)
    can't express; the analyzer runs the Python ``analyze`` during
    resolution, then executors stream eval() rows against the decided
    schema. Missing tokens pad with NULL so short docs are safe. The
    SQL oracle pins the n=3 instantiation exactly."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import StringType, StructType
    from pyspark.sql.udtf import AnalyzeResult

    @udtf
    class LeadTokens:
        @staticmethod
        def analyze(text, n) -> AnalyzeResult:
            k = int(n.value)
            schema = StructType()
            for i in range(1, k + 1):
                schema = schema.add(f"tok{i}", StringType())
            return AnalyzeResult(schema=schema)

        def __init__(self, analyze_result=None):
            self._n = (
                len(analyze_result.schema) if analyze_result is not None else 3
            )

        def eval(self, text: str, n: int):
            toks = (text or "").split(" ")
            yield tuple(
                toks[i] if i < len(toks) else None for i in range(self._n)
            )

    spark.udtf.register("lead_tokens", LeadTokens)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        """
        SELECT d.doc_id, t.tok1, t.tok2, t.tok3
        FROM documents d, LATERAL lead_tokens(d.text, 3) t
        WHERE d.doc_id < 100
        """
    )


def _priority_rank(p: str) -> int:
    """'3-MEDIUM' -> 3. Module-level so workers import it by reference
    from the shipped package zip."""
    return int(p.split("-", 1)[0]) if p else -1


@register(
    "u9_arrow_optimized_udf",
    oracle="""
    SELECT CAST(string_split(o_orderpriority, '-')[1] AS INT) AS prio,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY prio
    """,
)
def u9_arrow_optimized_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized Python scalar UDF (``useArrow=True``, Spark
    3.5+): same author-a-plain-function ergonomics as the classic
    pickled UDF (u1), but arguments/results cross the Python boundary
    as Arrow columnar batches instead of per-row pickle — the modern
    default for scalar Python logic that hasn't been vectorized into
    a pandas_udf yet. The function itself stays row-at-a-time (that's
    the contract), so this sits between u1 (pickle) and u2
    (pandas-vectorized) in the cost hierarchy; the oracle certifies
    the crossing exactly."""
    from security_master_spark.datasets import load_table

    prio = F.udf(_priority_rank, "int", useArrow=True)
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(prio(F.col("o_orderpriority")).alias("prio"))
        .groupBy("prio")
        .agg(F.count("*").cast("bigint").alias("n_orders"))
    )


@register(
    "u10_sql_scalar_udf",
    oracle=f"""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {sql_dround("SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax))", 4)}
               AS charged
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def u10_sql_scalar_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scalar UDF (CREATE FUNCTION ... RETURNS DOUBLE RETURN expr,
    Spark 4): the discounted-and-taxed charge formula packaged as a
    named reusable function. The function body INLINES into the
    calling query at analysis time — the executed plan is the same
    whole-stage-codegen hash aggregate as writing the expression
    out (which is exactly what the oracle does), with no UDF call
    boundary, no Python worker, no serialization. This is the
    correct first choice for shared business logic; u1/u2 exist for
    logic SQL genuinely cannot express."""
    load_tables(spark, sf_dir)
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION charge(
            price DOUBLE, discount DOUBLE, tax DOUBLE)
        RETURNS DOUBLE
        RETURN price * (1 - discount) * (1 + tax)
        """
    )
    return spark.sql(f"""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {sql_dround("SUM(charge(l_extendedprice, l_discount, l_tax))", 4)}
               AS charged
    FROM lineitem
    GROUP BY l_returnflag
    """)


@register(
    "u11_sql_table_udf",
    oracle=f"""
    SELECT n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_big_orders,
           {sql_dround("SUM(o.o_totalprice)", 4)} AS revenue
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE o.o_totalprice > 250000
    GROUP BY n.n_name
    """,
)
def u11_sql_table_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL table-valued UDF (CREATE FUNCTION ... RETURNS TABLE(...),
    Spark 4): a parameterized view — big orders above a threshold —
    consumed with ordinary joins. Like the scalar form, the body
    inlines at analysis time: the threshold parameter becomes a
    pushed-down scan filter in the calling plan, and the dims
    broadcast exactly as in q2. The SQL-native sibling of u6's
    Python UDTF, at zero runtime cost."""
    load_tables(spark, sf_dir)
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION big_orders(min_price DOUBLE)
        RETURNS TABLE(o_orderkey BIGINT, o_custkey BIGINT,
                      o_totalprice DOUBLE)
        RETURN SELECT o_orderkey, o_custkey, o_totalprice
               FROM orders WHERE o_totalprice > min_price
        """
    )
    return spark.sql(f"""
    SELECT n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_big_orders,
           {sql_dround("SUM(o.o_totalprice)", 4)} AS revenue
    FROM big_orders(CAST(250000 AS DOUBLE)) o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name
    """)


@register(
    "u12_pandas_api_on_spark",
    oracle=f"""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sql_dround("SUM(o_totalprice)", 4)} AS revenue,
           {sql_dround("AVG(o_totalprice)", 4)} AS avg_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def u12_pandas_api_on_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas API on Spark: `ps.read_parquet` → `groupby().agg()` →
    `to_spark()`, hash-certified against the SQL oracle. The pandas
    dialect COMPILES to Catalyst — the executed plan is the same scan
    → partial/final hash aggregate as the DataFrame spelling, with no
    pandas materialization anywhere (only expressions that genuinely
    need total order, like default sequential indexes, cost extra —
    avoided here by aggregating straight off the grouped frame). This
    is the migration surface for pandas-idiom users of the reference:
    same code shape, distributed plan."""
    import warnings

    import pyspark.pandas as ps

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        psdf = ps.read_parquet(f"{sf_dir}/orders.parquet")
        out = (
            psdf.groupby("o_orderstatus")
            .agg(
                n_orders=("o_orderkey", "count"),
                revenue=("o_totalprice", "sum"),
                avg_price=("o_totalprice", "mean"),
            )
            .reset_index()
        )
        sdf = out.to_spark()
    return sdf.select(
        "o_orderstatus",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        dround(F.col("revenue"), 4).alias("revenue"),
        dround(F.col("avg_price"), 4).alias("avg_price"),
    )


# u2 covered the per-batch scalar pandas UDF; the iterator flavor is
# the remaining Arrow execution mode: one Python generator per task
# that sees every batch of its partition, which is how you amortize an
# expensive one-time setup (load a tokenizer/model/lookup ONCE per
# task, not once per batch). u5's mapInPandas iterates DataFrames; this
# is the column-level sibling with scalar-UDF call syntax.


def _make_iter_score():
    def score(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import numpy as np

        # Expensive one-time setup, paid once per TASK (not per
        # batch): here a deterministic stand-in for loading a model.
        coefs = np.array([0.1, 1.0])
        for s in batches:
            yield pd.Series(
                np.log1p(s.to_numpy()) * coefs[1] + coefs[0],
                index=s.index,
            )

    return pandas_udf(score, "double")


@register(
    "u13_iter_pandas_udf",
    oracle=f"""
    SELECT o_orderkey,
           {sql_dround("LN(1 + o_totalprice) + 0.1", 6)} AS score
    FROM orders
    """,
)
def u13_iter_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-iterator pandas UDF: the generator receives every Arrow
    batch of the task's partition, so per-task initialization (model
    weights, tokenizer tables, reference data too big for a literal
    but too awkward for a broadcast join) is hoisted out of the
    per-batch loop. Execution plan is the same ArrowEvalPython node
    as u2 — same Arrow batch transfer, same vectorized math — the
    flavor changes only the Python-side calling convention. The
    oracle pins the arithmetic through the crossing to 6dp."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        dround(_make_iter_score()("o_totalprice"), 6).alias("score"),
    )


_PROFILE_SCHEMA = pa.schema(
    [
        ("o_orderpriority", pa.string()),
        ("n_orders", pa.int64()),
        ("total_price", pa.float64()),
        ("min_price", pa.float64()),
        ("max_price", pa.float64()),
    ]
)


def _order_profile(table: "pa.Table") -> "pa.Table":
    """Per-group (one o_orderpriority) profile computed entirely with
    pyarrow.compute C++ kernels — no pandas anywhere. The driver ships
    this function by value; pyarrow imports resolve on the worker via
    the shipped package zip.

    The explicit result schema matters: ``pa.table`` infers type
    ``null`` from an all-None column (a fully-null group — the
    bad-upstream-extract shape), and Spark's Arrow verifier rejects
    null-typed columns against the declared string/double schema as a
    worker crash. Typed construction null-propagates instead (caught
    by the round-8 null-payload sweep)."""
    price = table.column("o_totalprice")
    return pa.table(
        {
            "o_orderpriority": [table.column("o_orderpriority")[0].as_py()],
            "n_orders": [table.num_rows],
            "total_price": [pc.sum(price).as_py()],
            "min_price": [pc.min(price).as_py()],
            "max_price": [pc.max(price).as_py()],
        },
        schema=_PROFILE_SCHEMA,
    )


@register(
    "u14_apply_in_arrow",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sql_dround("SUM(o_totalprice)", 4)} AS total_price,
           {sql_dround("MIN(o_totalprice)", 4)} AS min_price,
           {sql_dround("MAX(o_totalprice)", 4)} AS max_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def u14_apply_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``applyInArrow`` (Spark 4): the grouped-map custom-aggregation
    surface with NO pandas layer — each group arrives as a raw Arrow
    table and the reduction runs pyarrow.compute's C++ kernels
    (u4/applyInPandas is the pandas sibling; u7/mapInArrow the
    ungrouped one). This is the seam for per-group native-lib work
    (a per-instrument calibrator, a per-entity model scorer) when
    even the pandas bridge is unwanted overhead.

    Scale: the shuffle is the groupBy's — same as any aggregation;
    Python cost is one vectorized pass per group with Arrow
    zero-copy in both directions. The whole path (group transfer,
    kernel results, column types) is certified against plain SQL.
    Skew caveat as u4: one group = one task, so a dominant key wants
    the d11 salting discipline first."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    )
    prof = orders.groupBy("o_orderpriority").applyInArrow(
        _order_profile,
        schema=(
            "o_orderpriority string, n_orders long, total_price double,"
            " min_price double, max_price double"
        ),
    )
    return prof.select(
        "o_orderpriority",
        "n_orders",
        dround(F.col("total_price"), 4).alias("total_price"),
        dround(F.col("min_price"), 4).alias("min_price"),
        dround(F.col("max_price"), 4).alias("max_price"),
    )


#: rolling frame width (rows) for the trimmed mean.
_TRIM_W = 5


def _trimmed_mean_fn(v: pd.Series) -> float:
    """Mean after dropping ONE min and ONE max — the robust rolling
    location estimate no built-in frame aggregate expresses directly.
    Arrow hands the frame as a pandas Series; sum/min/max are
    vectorized C under the hood."""
    if len(v) < 3:
        return None
    return float((v.sum() - v.min() - v.max()) / (len(v) - 2))


def _trimmed_mean():
    # Wrapped lazily: @F.pandas_udf parses its DDL return type at
    # decoration time, which requires an ACTIVE SparkSession — a
    # module-level decorator would crash the registry import in any
    # process that imports plans before building a session.
    return F.pandas_udf(_trimmed_mean_fn, "double")


@register(
    "u15_pandas_udaf_window",
    oracle=f"""
    WITH {_DAILY_SQL}, framed AS (
        SELECT event_type, day, close,
               SUM(close) OVER w AS s,
               MIN(close) OVER w AS lo,
               MAX(close) OVER w AS hi,
               COUNT(*) OVER w AS cnt
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN {_TRIM_W - 1} PRECEDING
                     AND CURRENT ROW)
    )
    SELECT event_type, day,
           {sql_dround("(s - lo - hi) / (cnt - 2)", 6)}
               AS trimmed_mean
    FROM framed WHERE cnt = {_TRIM_W}
    """,
)
def u15_pandas_udaf_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A pandas UDAF evaluated OVER a bounded rolling window
    (WindowInPandas): the trailing 5-day trimmed mean of each series'
    daily closes, with each frame shipped to Python as an Arrow batch
    — the surface for rolling statistics no built-in frame aggregate
    expresses (rolling Hodges-Lehmann, rolling MAD-of-residuals...).
    The trimmed mean is chosen BECAUSE it has an algebraic twin
    ((Σ − min − max)/(n − 2)), so the oracle certifies the frame
    contents and boundary handling exactly, full windows only.

    Cost honesty: WindowInPandas re-ships each frame (w× write
    amplification vs a JVM frame aggregate) — this surface is for
    statistics that NEED Python, and the repo's rule stands: if a
    built-in spelling exists (as here, deliberately), prefer it in
    production; this query is the certified seam, not the
    recommendation. One sort per series partition either way."""
    daily = daily_closes(spark, sf_dir)
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-(_TRIM_W - 1), Window.currentRow)
    )
    wc = Window.partitionBy("event_type").orderBy("day").rowsBetween(
        -(_TRIM_W - 1), Window.currentRow
    )
    return (
        daily.select(
            "event_type",
            "day",
            _trimmed_mean()("close").over(w).alias("tm"),
            F.count("*").over(wc).alias("cnt"),
        )
        .filter(F.col("cnt") == _TRIM_W)
        .select(
            "event_type",
            "day",
            dround(F.col("tm"), 6).alias("trimmed_mean"),
        )
    )
