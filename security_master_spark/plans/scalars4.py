"""Round-6 scalar batch (SURVEY.md §2.8): the ``try_*`` arithmetic
family — ANSI mode's per-expression escape hatches. Spark 4 runs ANSI
ON, where overflow and division-by-zero are data-dependent JOB
CRASHES; ``try_add/try_subtract/try_multiply/try_divide/
try_element_at`` convert exactly one expression to NULL-on-error
without giving up ANSI's protection everywhere else — the surface this
repo's round-6 division-hazard sweep (PLANS.md) leans on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register

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
