"""Round-5 UDF-surface candidates (SURVEY.md §2.13): the Arrow-native
batch path (``mapInArrow``).
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register


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
