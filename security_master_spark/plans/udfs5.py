"""Round-5 UDF batch 5 (SURVEY.md §2.13): the scalar-ITERATOR pandas
UDF (``Iterator[pd.Series] -> Iterator[pd.Series]``).

u2 covered the per-batch scalar pandas UDF; the iterator flavor is
the remaining Arrow execution mode: one Python generator per task
that sees every batch of its partition, which is how you amortize an
expensive one-time setup (load a tokenizer/model/lookup ONCE per
task, not once per batch). u5's mapInPandas iterates DataFrames; this
is the column-level sibling with scalar-UDF call syntax.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import pandas_udf

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register


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
