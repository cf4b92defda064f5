"""Exact recursive EWMA — the sequential sibling of the distributed
truncated-lag form in plans/domain_indicators.py:d16_ewma.

The recurrence y_t = y_{t-1} + α'(x_t − y_{t-1}) cannot be expressed
as a Spark window aggregate (each output depends on the previous
*output*, not a fixed frame of inputs). Two production strategies:

1. **Truncated contributions** (d16_ewma): explode each observation
   into the K future positions it weights; one groupBy sums them.
   Fully parallel *within* a series, O(rows·K) shuffle, bounded
   truncation error (1−α)^K. The default at 100 TB.
2. **Exact sequential scan** (this module): one Arrow batch per
   series via applyInPandas, pandas' `ewm` doing the recurrence.
   Parallel *across* series (the realistic unit — millions of
   instruments), sequential within one. Exact, zero truncation;
   requires one key's history to fit an executor's working set (the
   same contract every ordered-window op in operators/timeseries.py
   already carries).

Crossover: prefer (1) when single series are huge relative to
executors or K·(1−α)^K precision is acceptable; prefer (2) for exact
parity with pandas/reference EWMA semantics.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType


def lag_weight_structs(lags: int, **decays: float) -> Column:
    """Literal array of ``(k, <name>=decay^k, ...)`` structs — the
    truncated-EWMA lag kernel precomputed at PLAN time.

    Explode THIS instead of ``sequence(0, lags-1)`` + per-row
    ``pow``: the weights become constants folded into the explode
    output, so each of the O(rows · lags) exploded records reads its
    weights instead of evaluating ``pow`` once per weight column —
    measured 2.3× on d23's stage 1 at sf0.1 (2.50 s → 1.10 s,
    fresh-JVM interleaved minimums; pow was the dominant per-row cost,
    not the shuffle). Multiple kernels (e.g. MACD's fast+slow) ride
    one explode as extra struct fields. Values are bit-compatible with
    the pow form at the queries' dround precision (cross-engine ulp
    absorption is already part of the d16/d23 contract).

    Built as ONE JVM-parsed SQL string, not lags×fields ``F.lit``
    Columns: the Column form costs ~0.8 s of py4j round-trips per
    CONSTRUCTION (measured, 70×3-field kernel) — and construction
    happens on every query invocation. ``repr(float)`` round-trips
    through Spark's literal parser to the identical double."""
    parts = []
    for k in range(lags):
        fields = ", ".join(
            f"CAST({d ** k!r} AS DOUBLE) AS {name}"
            for name, d in decays.items()
        )
        parts.append(f"struct({k} AS k, {fields})")
    return F.expr("array(" + ", ".join(parts) + ")")


def ewma_exact(
    df: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[str],
    value_col: str,
    alpha: float,
    out_col: str = "ewma",
) -> DataFrame:
    """Exact adjust-form EWMA per series:
    y_t = Σ_{i≤t} (1−α)^{t−i} x_i / Σ_{i≤t} (1−α)^{t−i}, computed by
    the numerically-stable recursive update inside one Arrow batch per
    key group (pandas ``Series.ewm``). Output schema = input schema +
    ``out_col`` double."""
    # list() copy — StructType(df.schema.fields) would alias (and .add
    # mutate) the DataFrame's cached schema object.
    schema = StructType(
        list(df.schema.fields) + [StructField(out_col, DoubleType())]
    )
    order = list(order_cols)

    def fn(pdf):
        pdf = pdf.sort_values(order, kind="mergesort")
        pdf[out_col] = (
            pdf[value_col].astype("float64").ewm(alpha=alpha, adjust=True).mean()
        )
        return pdf

    return df.groupBy(*keys).applyInPandas(fn, schema)


def ewma_exact_distributed(
    df: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[str],
    value_col: str,
    alpha: float,
    out_col: str = "ewma",
    num_partitions: int = 32,
) -> DataFrame:
    """Strategy 3: EXACT adjust-form EWMA with NO sequential bottleneck
    and NO truncation — the segmented-scan form that handles the case
    the other two cannot: a single series far larger than one
    executor's working set.

    The adjust-form EWMA is a ratio of two linear prefix recurrences
    (q = 1−α):

        N_t = q·N_{t−1} + x_t        D_t = q·D_{t−1} + 1
        y_t = N_t / D_t

    A chunk of n rows acts on the incoming state as an AFFINE map:
    N_out = qⁿ·N_in + N_chunk — so chunks compose. Three phases:

    1. Range-partition by (keys, order) and sort within partitions:
       each partition holds contiguous runs of each series.
    2. One parallel pass summarizes every (partition, key) run as
       (n, N_end) — vectorized via pandas ewm (N = y·D, D in closed
       form). The summaries are O(partitions × keys) rows collected
       to the driver.
    3. The driver folds each key's summaries in partition order (the
       only sequential step — over CHUNK COUNT, not rows), broadcasts
       the incoming state per (partition, key), and a second parallel
       pass re-derives exact per-row values:
       N_t = q^t·N_in + N_local,t (same for D), y = N/D.

    Both passes must observe the SAME physical row order, so
    ``order_cols`` (with ``keys``) must uniquely identify rows — pass
    a sequence-id tiebreaker if timestamps can collide. Exactness is
    equivalence-tested against the sequential twin (ewma_exact) across
    partition counts in tests/test_operators.py.
    """
    import numpy as np
    import pandas as pd
    from pyspark import TaskContext
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
    )

    q = 1.0 - alpha
    key_list, order = list(keys), list(order_cols)
    sort_cols = key_list + order

    # PERSIST the partitioned frame: the summary pass and the rescan
    # pass MUST observe byte-identical partition boundaries, and
    # repartitionByRange re-SAMPLES split points per job — two
    # executions of the same plan can place boundary rows differently
    # (observed as a real value mismatch at sf0.01 before this pin).
    # Persisting materializes the partitioning once; both passes read
    # the same copy. A 100 TB run would disk-persist or checkpoint
    # here — the standard cost of any multi-pass scan algorithm.
    rep = (
        df.repartitionByRange(num_partitions, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .persist()
    )

    # ---- phase 2: per-(partition, key) affine summaries -------------
    sum_schema = StructType(
        [StructField("pid", IntegerType()), StructField("key", StringType()),
         StructField("n", LongType()), StructField("n_end", DoubleType())]
    )

    def summarize(batches):
        pid = TaskContext.get().partitionId()
        parts = []
        for pdf in batches:
            if len(pdf):
                parts.append(pdf)
        if not parts:
            return
        pdf = pd.concat(parts)
        for kv, g in pdf.groupby(key_list, sort=False):
            x = g[value_col].astype("float64")
            n = len(x)
            d_end = (1.0 - q**n) / (1.0 - q) if q != 1.0 else float(n)
            y_end = x.ewm(alpha=alpha, adjust=True).mean().iloc[-1]
            kv = kv if isinstance(kv, tuple) else (kv,)
            yield pd.DataFrame(
                {"pid": [pid], "key": ["\x00".join(map(str, kv))],
                 "n": [n], "n_end": [y_end * d_end]}
            )

    summaries = rep.mapInPandas(summarize, sum_schema).collect()

    # ---- phase 3a: driver fold in partition order (chunk count only)
    carries: dict[tuple[int, str], tuple[float, float]] = {}
    state: dict[str, tuple[float, float]] = {}
    for r in sorted(summaries, key=lambda r: (r.key, r.pid)):
        n_in, d_in = state.get(r.key, (0.0, 0.0))
        carries[(r.pid, r.key)] = (n_in, d_in)
        decay = q ** r.n
        d_loc = (1.0 - decay) / (1.0 - q) if q != 1.0 else float(r.n)
        state[r.key] = (decay * n_in + r.n_end, decay * d_in + d_loc)

    # ---- phase 3b: exact per-row values with the carried state ------
    out_schema = StructType(
        list(df.schema.fields) + [StructField(out_col, DoubleType())]
    )

    def rescan(batches):
        pid = TaskContext.get().partitionId()
        parts = [p for p in batches if len(p)]
        if not parts:
            return
        pdf = pd.concat(parts)
        outs = []
        for kv, g in pdf.groupby(key_list, sort=False):
            kv = kv if isinstance(kv, tuple) else (kv,)
            n_in, d_in = carries.get(
                (pid, "\x00".join(map(str, kv))), (0.0, 0.0)
            )
            x = g[value_col].astype("float64").to_numpy()
            t = np.arange(1, len(x) + 1, dtype="float64")
            decay = q**t
            d_loc = (1.0 - decay) / (1.0 - q) if q != 1.0 else t
            y_loc = (
                pd.Series(x).ewm(alpha=alpha, adjust=True).mean().to_numpy()
            )
            n_loc = y_loc * d_loc
            g = g.copy()
            g[out_col] = (decay * n_in + n_loc) / (decay * d_in + d_loc)
            outs.append(g)
        if outs:  # all-null-key partitions yield no groups
            yield pd.concat(outs)

    return rep.mapInPandas(rescan, out_schema)
