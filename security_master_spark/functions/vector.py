"""Vector math over ``array<float|double>`` embedding columns
(SURVEY.md §2.12) as pure JVM column expressions — higher-order
functions compile into Catalyst expressions, so the hot path never
crosses into Python.

Accumulation is in DOUBLE with strict left-to-right ``aggregate``
order, making results deterministic and reproducible across runs and
partitionings (floating-point sums are order-sensitive; a fixed fold
order removes that variance).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ — sequential double fold via zip_with + aggregate."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; zero-norm vectors yield NULL via try_divide —
    under the session's ANSI mode (Spark 4 default) a raw ``/`` would
    instead abort the whole job with DIVIDE_BY_ZERO on the first zero
    vector."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def scale(a: Column, s: Column | float) -> Column:
    s_col = F.lit(s) if not isinstance(s, Column) else s
    return F.transform(_as_double(a), lambda x: x * s_col)


def normalize(a: Column) -> Column:
    """Unit-normalize; pre-normalizing embeddings turns cosine top-k
    into dot-product top-k (one fused fold instead of three).

    The sum of squares is folded ONCE and handed to the division pass
    as ``aggregate``'s finish-lambda variable. The naive
    ``transform(a, x / norm(a))`` inlines the whole norm aggregate into
    the per-element lambda body, and higher-order functions get no
    common-subexpression elimination — the norm was re-folded for every
    component (64× redundant work per row, measured as the dominant
    cost of every pre-normalizing operator). Fold order is unchanged,
    so results are bit-identical to the naive form.

    Zero vectors normalize to NULL components (try_divide) rather than
    aborting under ANSI mode; callers treat a NULL-component vector as
    un-scorable."""
    ad = _as_double(a)
    return F.aggregate(
        ad,
        F.lit(0.0),
        lambda acc, x: acc + x * x,
        lambda acc: F.transform(ad, lambda x: F.try_divide(x, F.sqrt(acc))),
    )
