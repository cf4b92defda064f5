"""Securities-master pricing and curves (SURVEY.md §2.11): bond analytics,
yield-to-maturity, Black-Scholes, Monte Carlo pricing, implied
volatility, minimum-variance pairs, curve interpolation, settlement
dates and the volatility cone.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.daily import daily_closes, daily_returns
from security_master_spark.functions.daily import DAILY_SQL as _DAILY_SQL
from security_master_spark.functions.daily import RETS_SQL as _RETS_SQL
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register


# The equity-side risk stack (d39 VaR/ES, d24 beta, d15/d51 drawdown)
# had no fixed-income/derivatives sibling; this adds the
# cash-flow-discounting and option-pricing families every securities
# master carries next to its instrument table.


_FACE = 100.0


@register(
    "d54_bond_analytics",
    oracle=f"""
    WITH bonds AS (
        SELECT s_suppkey,
               2.0 + (s_suppkey % 7) AS coupon_pct,
               2 + (s_suppkey % 9) AS years,
               3.0 + (s_suppkey % 5) AS yield_pct
        FROM supplier
    ), flows AS (
        SELECT b.s_suppkey, b.coupon_pct, b.years, b.yield_pct,
               t.t,
               ({_FACE} * b.coupon_pct / 100
                + CASE WHEN t.t = b.years THEN {_FACE} ELSE 0 END) AS cf,
               POWER(1 + b.yield_pct / 100, -t.t) AS df
        FROM bonds b, LATERAL (
            SELECT UNNEST(generate_series(1, b.years)) AS t
        ) t
    ), agg AS (
        SELECT s_suppkey, MAX(yield_pct) AS yield_pct,
               SUM(cf * df) AS price,
               SUM(t * cf * df) AS tpv,
               SUM(cf * t * (t + 1) * df) AS conv_num
        FROM flows
        GROUP BY s_suppkey
    )
    SELECT s_suppkey,
           {sql_dround("price", 6)} AS price,
           {sql_dround("tpv / price", 6)} AS macaulay_duration,
           {sql_dround(
               "tpv / price / (1 + yield_pct / 100)", 6)}
               AS modified_duration,
           {sql_dround(
               "conv_num / (price * POWER(1 + yield_pct / 100, 2))", 6)}
               AS convexity
    FROM agg
    """,
)
def d54_bond_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bond analytics from first principles: price = Σ CFₜ·(1+y)⁻ᵗ,
    Macaulay duration = Σ t·PVₜ / price, modified duration =
    Macaulay/(1+y), convexity = Σ CFₜ·t·(t+1)·(1+y)⁻ᵗ / (price·(1+y)²)
    — the interest-rate risk ladder (ΔP ≈ −D_mod·Δy + ½·C·Δy²) a
    fixed-income master publishes per instrument. Synthetic annual-pay
    bonds are minted deterministically from supplier keys (coupon,
    tenor, flat yield).

    Shape: the cash-flow schedule is a closed-form explode over
    ``sequence(1, years)`` (tenor-bounded — ≤10 rows per bond, the
    honest relational form of a per-instrument loop), then ONE hash
    aggregate per bond collects the three discounted sums every
    statistic is algebra over. No window, no join, one shuffle of
    per-bond partials. Pricing 10M instruments is embarrassingly
    parallel — exactly this plan."""
    supp = load_table(spark, sf_dir, "supplier")
    s = F.col("s_suppkey")
    bonds = supp.select(
        "s_suppkey",
        (F.lit(2.0) + (s % 7)).alias("coupon_pct"),
        (F.lit(2) + (s % 9)).alias("years"),
        (F.lit(3.0) + (s % 5)).alias("yield_pct"),
    )
    flows = bonds.select(
        "s_suppkey",
        "coupon_pct",
        "years",
        "yield_pct",
        F.explode(F.sequence(F.lit(1), F.col("years"))).alias("t"),
    ).select(
        "s_suppkey",
        "yield_pct",
        "t",
        (
            F.lit(_FACE) * F.col("coupon_pct") / 100
            + F.when(F.col("t") == F.col("years"), F.lit(_FACE)).otherwise(
                0.0
            )
        ).alias("cf"),
        F.pow(1 + F.col("yield_pct") / 100, -F.col("t")).alias("df"),
    )
    agg = flows.groupBy("s_suppkey").agg(
        F.max("yield_pct").alias("yield_pct"),
        F.sum(F.col("cf") * F.col("df")).alias("price"),
        F.sum(F.col("t") * F.col("cf") * F.col("df")).alias("tpv"),
        F.sum(
            F.col("cf") * F.col("t") * (F.col("t") + 1) * F.col("df")
        ).alias("conv_num"),
    )
    one_y = 1 + F.col("yield_pct") / 100
    return agg.select(
        "s_suppkey",
        dround(F.col("price"), 6).alias("price"),
        dround(F.col("tpv") / F.col("price"), 6).alias("macaulay_duration"),
        dround(F.col("tpv") / F.col("price") / one_y, 6).alias(
            "modified_duration"
        ),
        dround(
            F.col("conv_num") / (F.col("price") * F.pow(one_y, 2)), 6
        ).alias("convexity"),
    )


_YTM_ITERS = 4
_Y0 = 0.05  # Newton starting point (5%)


def _pv_sql(y: str) -> str:
    """DuckDB: price of the bond at yield ``y`` (decimal)."""
    return (
        f"list_sum(list_transform(range(1, years + 1), t -> "
        f"(coupon + CASE WHEN t = years THEN face ELSE 0 END)"
        f" * POWER(1 + {y}, -t)))"
    )


def _dpv_sql(y: str) -> str:
    """DuckDB: dPrice/dy at yield ``y``."""
    return (
        f"list_sum(list_transform(range(1, years + 1), t -> "
        f"-t * (coupon + CASE WHEN t = years THEN face ELSE 0 END)"
        f" * POWER(1 + {y}, -t - 1)))"
    )


@register(
    "d55_ytm_newton",
    oracle=f"""
    WITH bonds AS (
        SELECT s_suppkey,
               100.0 AS face,
               100.0 * (2.0 + (s_suppkey % 7)) / 100 AS coupon,
               2 + (s_suppkey % 9) AS years,
               3.0 + (s_suppkey % 5) AS true_yield_pct
        FROM supplier
    ), priced AS (
        SELECT *, {_pv_sql("true_yield_pct / 100")} AS price
        FROM bonds
    ), i0 AS (
        SELECT *, {_Y0} AS y FROM priced
    ), i1 AS (
        SELECT * REPLACE (y - ({_pv_sql("y")} - price) / {_dpv_sql("y")}
                          AS y) FROM i0
    ), i2 AS (
        SELECT * REPLACE (y - ({_pv_sql("y")} - price) / {_dpv_sql("y")}
                          AS y) FROM i1
    ), i3 AS (
        SELECT * REPLACE (y - ({_pv_sql("y")} - price) / {_dpv_sql("y")}
                          AS y) FROM i2
    ), i4 AS (
        SELECT * REPLACE (y - ({_pv_sql("y")} - price) / {_dpv_sql("y")}
                          AS y) FROM i3
    )
    SELECT s_suppkey,
           {sql_dround("price", 6)} AS price,
           {sql_dround("100 * y", 6)} AS ytm_pct,
           {sql_dround("100 * y - true_yield_pct", 6)} AS recovery_err
    FROM i4
    """,
)
def d55_ytm_newton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yield-to-maturity by Newton's method — an ITERATIVE numerical
    root-find run entirely as Catalyst expressions: price and dPrice/dy
    are higher-order ``aggregate`` folds over the tenor sequence, and
    each Newton step is one projection that rebinds the yield column,
    so four iterations are four stacked Projects — ZERO shuffles, zero
    Python, no driver loop. Each step references the previous yield as
    a bound ATTRIBUTE (not an inlined expression tree), which sidesteps
    the no-CSE blowup of nested higher-order functions (the SKILL.md
    gotcha). Bonds are priced at a known yield first, so the query is
    self-validating: recovery_err must round to 0.0 for every bond
    (Newton from 5% converges to machine precision in 4 steps on
    3-8 % yields — asserted by the oracle hash AND the invariant
    test)."""
    supp = load_table(spark, sf_dir, "supplier")
    s = F.col("s_suppkey")
    face = F.lit(100.0)

    # Spark-dialect SQL text for the PV fold and its derivative —
    # the d58 construction finding applied: the Column-API lambda
    # folds rebuilt ~0.5 s of py4j trees per invocation; one
    # JVM-parsed string per Newton step is plan-identical. (The
    # oracle's _pv_sql twins are DuckDB-dialect list_transform; Spark
    # spells the same fold with aggregate/sequence.)
    def pv_sql(y: str) -> str:
        return (
            f"aggregate(sequence(1, years), CAST(0 AS DOUBLE),"
            f" (acc, t) -> acc + (coupon + CASE WHEN t = years"
            f" THEN CAST(100 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END)"
            f" * POWER(1 + {y}, -CAST(t AS DOUBLE)))"
        )

    def dpv_sql(y: str) -> str:
        return (
            f"aggregate(sequence(1, years), CAST(0 AS DOUBLE),"
            f" (acc, t) -> acc - CAST(t AS DOUBLE)"
            f" * (coupon + CASE WHEN t = years"
            f" THEN CAST(100 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END)"
            f" * POWER(1 + {y}, -CAST(t AS DOUBLE) - 1))"
        )

    df = supp.select(
        "s_suppkey",
        (face * (F.lit(2.0) + (s % 7)) / 100).alias("coupon"),
        (F.lit(2) + (s % 9)).alias("years"),
        (F.lit(3.0) + (s % 5)).alias("true_yield_pct"),
    )
    df = df.selectExpr(
        "*", f"{pv_sql('(true_yield_pct / 100)')} AS price"
    )
    df = df.withColumn("y", F.lit(_Y0))
    step_sql = (
        f"(y - ({pv_sql('y')} - price) / {dpv_sql('y')}) AS y"
    )
    for _ in range(_YTM_ITERS):
        df = df.selectExpr(
            "s_suppkey", "coupon", "years", "true_yield_pct", "price",
            step_sql,
        )
    return df.select(
        "s_suppkey",
        dround(F.col("price"), 6).alias("price"),
        dround(100 * F.col("y"), 6).alias("ytm_pct"),
        dround(100 * F.col("y") - F.col("true_yield_pct"), 6).alias(
            "recovery_err"
        ),
    )


# Abramowitz & Stegun 7.1.26 erf coefficients (|error| < 1.5e-7)
_AS_P = 0.3275911
_AS_A = (0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)
_SQRT_2PI = 2.5066282746310002


def _norm_cdf_sql(x: str) -> str:
    """DuckDB: Φ(x) via the same A&S 7.1.26 erf polynomial, with sign
    reflection so Φ(-x) = 1 - Φ(x) holds EXACTLY."""
    z = f"(ABS({x}) / SQRT(2))"
    t = f"(1 / (1 + {_AS_P} * {z}))"
    poly = (
        f"({t} * ({_AS_A[0]} + {t} * ({_AS_A[1]} + {t} * ({_AS_A[2]}"
        f" + {t} * ({_AS_A[3]} + {t} * {_AS_A[4]})))))"
    )
    erf = f"(1 - {poly} * EXP(-{z} * {z}))"
    return (
        f"(0.5 * (1 + CASE WHEN {x} >= 0 THEN {erf} ELSE -{erf} END))"
    )


def _norm_cdf(x):
    z = F.abs(x) / F.sqrt(F.lit(2.0))
    t = 1 / (1 + _AS_P * z)
    poly = t * (
        _AS_A[0]
        + t * (_AS_A[1] + t * (_AS_A[2] + t * (_AS_A[3] + t * _AS_A[4])))
    )
    erf = 1 - poly * F.exp(-z * z)
    return 0.5 * (1 + F.when(x >= 0, erf).otherwise(-erf))


@register(
    "d56_black_scholes",
    oracle=f"""
    WITH opts AS (
        SELECT p_partkey,
               80.0 + (p_partkey % 40) AS s,
               100.0 AS k,
               0.02 + (p_partkey % 3) / 100.0 AS r,
               0.25 * (1 + (p_partkey % 8)) AS tt,
               0.15 + (p_partkey % 10) / 100.0 AS sigma
        FROM part
    ), d AS (
        SELECT *,
               (LN(s / k) + (r + sigma * sigma / 2) * tt)
                   / (sigma * SQRT(tt)) AS d1,
               (LN(s / k) + (r - sigma * sigma / 2) * tt)
                   / (sigma * SQRT(tt)) AS d2
        FROM opts
    ), priced AS (
        SELECT p_partkey, s, k, r, tt, sigma, d1,
               s * {_norm_cdf_sql("d1")}
                   - k * EXP(-r * tt) * {_norm_cdf_sql("d2")} AS call,
               k * EXP(-r * tt) * {_norm_cdf_sql("(-d2)")}
                   - s * {_norm_cdf_sql("(-d1)")} AS put,
               {_norm_cdf_sql("d1")} AS delta_call,
               EXP(-d1 * d1 / 2) / {_SQRT_2PI} AS pdf1,
               {_norm_cdf_sql("d2")} AS nd2
        FROM d
    )
    SELECT p_partkey,
           {sql_dround("call", 6)} AS call,
           {sql_dround("put", 6)} AS put,
           {sql_dround("delta_call", 6)} AS delta_call,
           {sql_dround("pdf1 / (s * sigma * SQRT(tt))", 8)} AS gamma,
           {sql_dround("s * pdf1 * SQRT(tt)", 6)} AS vega,
           {sql_dround(
               "-s * pdf1 * sigma / (2 * SQRT(tt))"
               " - r * k * EXP(-r * tt) * nd2", 6)} AS theta_call,
           {sql_dround("k * tt * EXP(-r * tt) * nd2", 6)} AS rho_call,
           {sql_dround("call - put - (s - k * EXP(-r * tt))", 6)}
               AS parity_residual
    FROM priced
    """,
)
def d56_black_scholes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Black-Scholes European call/put pricing and call delta,
    entirely as JVM expressions: the normal CDF is the Abramowitz &
    Stegun 7.1.26 erf polynomial (|err| < 1.5e-7) with sign
    reflection, so Φ(−x) = 1 − Φ(x) holds EXACTLY and put-call
    parity (C − P = S − K·e^(−rT)) is an algebraic identity of the
    implementation — the parity_residual column must round to 0 for
    every option, certified by the oracle hash and the invariant
    test. Option terms are minted deterministically from part keys.

    Shape: pure scan projection — ln/exp/sqrt and one polynomial per
    row, whole-stage codegen, zero shuffles. Pricing a billion
    options is a map; both engines run the IDENTICAL polynomial so
    the 6dp hash certifies the numerics, not just the shape."""
    part = load_table(spark, sf_dir, "part")
    p = F.col("p_partkey")
    opts = part.select(
        "p_partkey",
        (F.lit(80.0) + (p % 40)).alias("s"),
        F.lit(100.0).alias("k"),
        (F.lit(0.02) + (p % 3) / 100.0).alias("r"),
        (F.lit(0.25) * (1 + (p % 8))).alias("tt"),
        (F.lit(0.15) + (p % 10) / 100.0).alias("sigma"),
    )
    sig_sqt = F.col("sigma") * F.sqrt(F.col("tt"))
    d1 = (
        F.log(F.col("s") / F.col("k"))
        + (F.col("r") + F.col("sigma") * F.col("sigma") / 2) * F.col("tt")
    ) / sig_sqt
    d = opts.select(
        "p_partkey", "s", "k", "r", "tt", "sigma",
        d1.alias("d1"), (d1 - sig_sqt).alias("d2"),
    )
    disc = F.col("k") * F.exp(-F.col("r") * F.col("tt"))
    # The four Φ evaluations are the SAME SQL text the oracle runs
    # (_norm_cdf_sql), parsed JVM-side in one selectExpr — the
    # Column-API A&S polynomial cost ~0.5 s of py4j chatter per
    # CONSTRUCTION (the d58 finding applied here; identical plan and
    # values).
    priced = d.selectExpr(
        "p_partkey", "s", "tt", "r", "k", "sigma",
        f"s * {_norm_cdf_sql('d1')}"
        f" - k * EXP(-r * tt) * {_norm_cdf_sql('d2')} AS call",
        f"k * EXP(-r * tt) * {_norm_cdf_sql('(-d2)')}"
        f" - s * {_norm_cdf_sql('(-d1)')} AS put",
        f"{_norm_cdf_sql('d1')} AS delta_call",
        f"EXP(-d1 * d1 / 2) / {_SQRT_2PI} AS pdf1",
        f"{_norm_cdf_sql('d2')} AS nd2",
    )
    sqt = F.sqrt(F.col("tt"))
    return priced.select(
        "p_partkey",
        dround(F.col("call"), 6).alias("call"),
        dround(F.col("put"), 6).alias("put"),
        dround(F.col("delta_call"), 6).alias("delta_call"),
        dround(
            F.col("pdf1") / (F.col("s") * F.col("sigma") * sqt), 8
        ).alias("gamma"),
        dround(F.col("s") * F.col("pdf1") * sqt, 6).alias("vega"),
        dround(
            -F.col("s") * F.col("pdf1") * F.col("sigma") / (2 * sqt)
            - F.col("r") * disc * F.col("nd2"),
            6,
        ).alias("theta_call"),
        dround(F.col("tt") * disc * F.col("nd2"), 6).alias("rho_call"),
        dround(
            F.col("call") - F.col("put") - (F.col("s") - disc), 6
        ).alias("parity_residual"),
    )


_MC_PATHS = 20_000


def _unif_sql(tag: str, lo: int) -> str:
    """DuckDB: uniform(0,1) from md5 hex slice [lo, lo+8)."""
    return (
        f"((CAST(('0x' || substr(md5({tag}), {lo}, 8)) AS UBIGINT) + 0.5)"
        f" / 4294967296.0)"
    )


@register(
    "d57_monte_carlo_pricing",
    oracle=f"""
    WITH opts AS (
        SELECT p_partkey,
               80.0 + (p_partkey % 40) AS s,
               100.0 AS k,
               0.02 + (p_partkey % 3) / 100.0 AS r,
               0.25 * (1 + (p_partkey % 8)) AS tt,
               0.15 + (p_partkey % 10) / 100.0 AS sigma
        FROM part WHERE p_partkey <= 5
    ), paths AS (
        SELECT o.*, i.i,
               {_unif_sql("CAST(o.p_partkey AS VARCHAR) || ':' || CAST(i.i AS VARCHAR)", 1)} AS u1,
               {_unif_sql("CAST(o.p_partkey AS VARCHAR) || ':' || CAST(i.i AS VARCHAR)", 9)} AS u2
        FROM opts o, LATERAL (
            SELECT UNNEST(generate_series(1, {_MC_PATHS})) AS i
        ) i
    ), term AS (
        SELECT p_partkey, s, k, r, tt,
               s * EXP((r - sigma * sigma / 2) * tt
                       + sigma * SQRT(tt)
                         * SQRT(-2 * LN(u1)) * COS(2 * PI() * u2)) AS st
        FROM paths
    )
    SELECT p_partkey,
           {sql_dround(
               "EXP(-MAX(r) * MAX(tt))"
               " * AVG(CASE WHEN st > k THEN st - k ELSE 0 END)", 4)}
               AS mc_call,
           {sql_dround(
               "EXP(-MAX(r) * MAX(tt))"
               " * STDDEV_SAMP(CASE WHEN st > k THEN st - k ELSE 0 END)"
               f" / SQRT({_MC_PATHS})", 4)} AS std_err,
           COUNT(*) AS n_paths
    FROM term
    GROUP BY p_partkey
    """,
)
def d57_monte_carlo_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC Monte Carlo option pricing: geometric Brownian
    motion terminal prices from hash-seeded uniforms (md5 of
    (option, path) sliced into two 32-bit words → Box-Muller normal),
    so the simulation is bit-reproducible across engines, partitions,
    retries, and cluster sizes — the property that makes distributed
    MC auditable (rerunning the job CANNOT silently change the
    price). The oracle replays the identical paths in DuckDB; the
    invariant test closes the loop by requiring each MC price to sit
    within 4 standard errors of d56's closed-form Black-Scholes
    value — the estimator converges to the analytic answer it has
    never seen.

    Shape: options × explode(sequence(1, N)) — path generation is a
    pure projection (hash, ln, cos — all codegen), and ONE hash
    aggregate per option folds payoffs into mean/stderr map-side.
    Paths never materialize beyond their Arrow batch; scaling to 1e9
    paths changes only the sequence bound."""
    part = load_table(spark, sf_dir, "part")
    p = F.col("p_partkey")
    opts = part.filter(p <= 5).select(
        "p_partkey",
        (F.lit(80.0) + (p % 40)).alias("s"),
        F.lit(100.0).alias("k"),
        (F.lit(0.02) + (p % 3) / 100.0).alias("r"),
        (F.lit(0.25) * (1 + (p % 8))).alias("tt"),
        (F.lit(0.15) + (p % 10) / 100.0).alias("sigma"),
    )
    paths = opts.select(
        "*", F.explode(F.sequence(F.lit(1), F.lit(_MC_PATHS))).alias("i")
    )
    tag = F.concat(
        F.col("p_partkey").cast("string"), F.lit(":"), F.col("i").cast("string")
    )
    h = F.md5(tag)

    def unif(lo: int):
        return (
            F.conv(F.substring(h, lo, 8), 16, 10).cast("double") + 0.5
        ) / 4294967296.0

    z = F.sqrt(-2 * F.log(unif(1))) * F.cos(
        2 * F.lit(3.141592653589793) * unif(9)
    )
    st = F.col("s") * F.exp(
        (F.col("r") - F.col("sigma") * F.col("sigma") / 2) * F.col("tt")
        + F.col("sigma") * F.sqrt(F.col("tt")) * z
    )
    term = paths.select(
        "p_partkey", "k", "r", "tt", st.alias("st")
    )
    payoff = F.when(F.col("st") > F.col("k"), F.col("st") - F.col("k")).otherwise(0.0)
    return term.groupBy("p_partkey").agg(
        dround(
            F.exp(-F.max("r") * F.max("tt")) * F.avg(payoff), 4
        ).alias("mc_call"),
        dround(
            F.exp(-F.max("r") * F.max("tt"))
            * F.stddev_samp(payoff)
            / F.lit(float(_MC_PATHS) ** 0.5),
            4,
        ).alias("std_err"),
        F.count("*").alias("n_paths"),
    )


_IV_ITERS = 8
_IV_SIG0 = 0.25  # Newton starting vol (25%)


def _bs_call_sql(sig: str) -> str:
    d1 = (
        f"((LN(s / k) + (r + {sig} * {sig} / 2) * tt)"
        f" / ({sig} * SQRT(tt)))"
    )
    d2 = f"({d1} - {sig} * SQRT(tt))"
    return (
        f"(s * {_norm_cdf_sql(d1)}"
        f" - k * EXP(-r * tt) * {_norm_cdf_sql(d2)})"
    )


def _vega_sql(sig: str) -> str:
    d1 = (
        f"((LN(s / k) + (r + {sig} * {sig} / 2) * tt)"
        f" / ({sig} * SQRT(tt)))"
    )
    return (
        f"(s * SQRT(tt) * EXP(-{d1} * {d1} / 2) / {_SQRT_2PI})"
    )


@register(
    "d58_implied_volatility",
    oracle=f"""
    WITH opts AS (
        SELECT p_partkey,
               80.0 + (p_partkey % 40) AS s,
               100.0 AS k,
               0.02 + (p_partkey % 3) / 100.0 AS r,
               0.25 * (1 + (p_partkey % 8)) AS tt,
               0.15 + (p_partkey % 10) / 100.0 AS true_sigma
        FROM part WHERE p_partkey <= 400
    ), priced AS (
        SELECT *, {_bs_call_sql("true_sigma")} AS price FROM opts
    ), i0 AS (
        SELECT *, {_IV_SIG0} AS sig FROM priced
    ), i1 AS (
        SELECT * REPLACE (sig - ({_bs_call_sql("sig")} - price)
                          / {_vega_sql("sig")} AS sig) FROM i0
    ), i2 AS (
        SELECT * REPLACE (sig - ({_bs_call_sql("sig")} - price)
                          / {_vega_sql("sig")} AS sig) FROM i1
    ), i3 AS (
        SELECT * REPLACE (sig - ({_bs_call_sql("sig")} - price)
                          / {_vega_sql("sig")} AS sig) FROM i2
    ), i4 AS (
        SELECT * REPLACE (sig - ({_bs_call_sql("sig")} - price)
                          / {_vega_sql("sig")} AS sig) FROM i3
    ), i5 AS (
        SELECT * REPLACE (sig - ({_bs_call_sql("sig")} - price)
                          / {_vega_sql("sig")} AS sig) FROM i4
    ), i6 AS (
        SELECT * REPLACE (sig - ({_bs_call_sql("sig")} - price)
                          / {_vega_sql("sig")} AS sig) FROM i5
    ), i7 AS (
        SELECT * REPLACE (sig - ({_bs_call_sql("sig")} - price)
                          / {_vega_sql("sig")} AS sig) FROM i6
    ), i8 AS (
        SELECT * REPLACE (sig - ({_bs_call_sql("sig")} - price)
                          / {_vega_sql("sig")} AS sig) FROM i7
    )
    SELECT p_partkey,
           {sql_dround("price", 6)} AS price,
           {sql_dround("100 * sig", 4)} AS implied_vol_pct,
           {sql_dround("100 * (sig - true_sigma)", 4)} AS recovery_err
    FROM i8
    """,
)
def d58_implied_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Implied volatility by Newton-on-vega — the derivatives desk's
    daily inverse problem, closing the ladder d56 (price) and d57
    (simulate) opened: price each option at a known σ, then recover σ
    from the price alone. Same zero-shuffle iterative discipline as
    d55: eight Newton steps are eight stacked Projects rebinding the
    vol ATTRIBUTE (deep-OTM short-dated options need the extra
    steps — vega is tiny out there, the classic IV conditioning
    issue); price and vega (S·φ(d1)·√T) reuse the A&S CDF
    polynomial and closed-form normal pdf, all whole-stage codegen.
    recovery_err must round to 0 at 4dp for every option (invariant-
    tested) — Newton from 25 % converges quadratically on the
    15-24 % vol grid."""
    part = load_table(spark, sf_dir, "part")
    p = F.col("p_partkey")
    df = part.filter(p <= 400).select(
        "p_partkey",
        (F.lit(80.0) + (p % 40)).alias("s"),
        F.lit(100.0).alias("k"),
        (F.lit(0.02) + (p % 3) / 100.0).alias("r"),
        (F.lit(0.25) * (1 + (p % 8))).alias("tt"),
        (F.lit(0.15) + (p % 10) / 100.0).alias("true_sigma"),
    )
    # The Newton step is the SAME SQL text the oracle runs
    # (_bs_call_sql/_vega_sql), parsed JVM-side once per iteration:
    # the Column-API form rebuilt the deep A&S polynomial tree 17
    # times in Python (~2.2 s of py4j chatter per CONSTRUCTION, the
    # dominant cost of this zero-shuffle query — construction happens
    # on every invocation). Identical plan, identical values;
    # measured 2.1 s → 1.0 s end-to-end at sf0.1 (fresh JVM).
    df = df.selectExpr("*", f"{_bs_call_sql('true_sigma')} AS price")
    df = df.withColumn("sig", F.lit(_IV_SIG0))
    cols = ["p_partkey", "s", "k", "r", "tt", "true_sigma", "price"]
    step_sql = (
        f"(sig - ({_bs_call_sql('sig')} - price) / {_vega_sql('sig')})"
        " AS sig"
    )
    for _ in range(_IV_ITERS):
        df = df.selectExpr(*cols, step_sql)
    return df.select(
        "p_partkey",
        dround(F.col("price"), 6).alias("price"),
        dround(100 * F.col("sig"), 4).alias("implied_vol_pct"),
        dround(100 * (F.col("sig") - F.col("true_sigma")), 4).alias(
            "recovery_err"
        ),
    )


@register(
    "d59_min_variance_pairs",
    oracle=f"""
    WITH ranked AS (
        SELECT event_type,
               CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
               value,
               ROW_NUMBER() OVER (PARTITION BY event_type,
                                  DATE_TRUNC('day', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ), daily AS (
        SELECT event_type, day, value AS close
        FROM ranked WHERE rn = 1
    ), rets AS (
        SELECT event_type, day,
               CASE WHEN LAG(close) OVER (PARTITION BY event_type
                                          ORDER BY day) <> 0
                    THEN close / LAG(close) OVER (PARTITION BY event_type
                                                  ORDER BY day) - 1
               END AS r
        FROM daily
    ), aligned AS (
        SELECT a.event_type AS ta, b.event_type AS tb, a.r AS ra, b.r AS rb
        FROM rets a JOIN rets b
          ON b.day = a.day AND a.event_type < b.event_type
        WHERE a.r IS NOT NULL AND b.r IS NOT NULL
    ), stats AS (
        SELECT ta, tb, COUNT(*) AS n_days,
               VAR_SAMP(ra) AS v1, VAR_SAMP(rb) AS v2,
               COVAR_SAMP(ra, rb) AS c12
        FROM aligned GROUP BY ta, tb
    ), guarded AS (
        SELECT ta, tb, n_days, v1, v2, c12,
               CASE WHEN ABS(v1 + v2 - 2 * c12) < 1e-12 THEN NULL
                    ELSE v1 + v2 - 2 * c12 END AS denom
        FROM stats
    ), wts AS (
        SELECT ta, tb, n_days, v1, v2, c12,
               (v2 - c12) / denom AS wa
        FROM guarded
    )
    SELECT ta AS type_a, tb AS type_b, n_days,
           {sql_dround("wa", 6)} AS w_a,
           {sql_dround(
               "SQRT(wa * wa * v1 + (1 - wa) * (1 - wa) * v2"
               " + 2 * wa * (1 - wa) * c12)",
               8)} AS min_var_vol
    FROM wts
    """,
)
def d59_min_variance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-asset minimum-variance portfolio weights per symbol pair —
    the closed-form Markowitz cell (w_a = (σ_b² − σ_ab)/(σ_a² + σ_b²
    − 2σ_ab), unconstrained), plus the resulting portfolio vol. The
    2-asset case has an analytic inverse, so unlike a full N-asset
    optimizer (whose Σ⁻¹ is the l48/IVF driver-holds-constants
    pattern) every number here is SQL-derivable and the driver hash
    certifies the whole computation.

    Shape: ticks collapse to daily closes FIRST (last tick per day
    via a per-day rank), returns via one lag window over the
    collapsed frame, the
    pair join aligns day keys on O(symbols·days) rows, and var/covar
    are algebraic aggregates folding map-side — the d28/d44
    collapse-then-join discipline; nothing quadratic ever sees tick
    data."""
    events = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    rnw = Window.partitionBy(
        "event_type", F.date_trunc("day", "ts")
    ).orderBy(F.desc("ts"), F.desc("event_id"))
    daily = (
        events.select(
            "event_type",
            F.date_trunc("day", "ts").alias("day"),
            "value",
            F.row_number().over(rnw).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select("event_type", "day", F.col("value").alias("close"))
    )

    w = Window.partitionBy("event_type").orderBy("day")
    # zero prior close -> NULL return, not an ANSI DIVIDE_BY_ZERO
    # (adversarial-fixture catch; same guard in the oracle's CASE)
    prev = F.lag("close").over(w)
    rets = daily.select(
        "event_type",
        "day",
        F.when(prev != 0, F.col("close") / prev - 1).alias("r"),
    ).filter(F.col("r").isNotNull())
    a, b = rets.alias("a"), rets.alias("b")
    aligned = a.join(
        b,
        (F.col("b.day") == F.col("a.day"))
        & (F.col("a.event_type") < F.col("b.event_type")),
    ).select(
        F.col("a.event_type").alias("ta"),
        F.col("b.event_type").alias("tb"),
        F.col("a.r").alias("ra"),
        F.col("b.r").alias("rb"),
    )
    stats = aligned.groupBy("ta", "tb").agg(
        F.count("*").alias("n_days"),
        F.var_samp("ra").alias("v1"),
        F.var_samp("rb").alias("v2"),
        F.covar_samp("ra", "rb").alias("c12"),
    )
    # Epsilon-banded denominator: identical / perfectly-correlated
    # return series make v1+v2-2*c12 ~ 0, which would be a
    # data-dependent DIVIDE_BY_ZERO under ANSI mode. An exact-zero
    # NULLIF is not enough cross-engine — Spark's and DuckDB's float
    # summation orders can disagree between an exact 0 and ~1e-18,
    # yielding NULL on one engine and a huge weight on the other — so
    # both engines NULL the whole |denom| < 1e-12 band identically.
    denom = F.col("v1") + F.col("v2") - 2 * F.col("c12")
    w_a = (F.col("v2") - F.col("c12")) / F.when(
        F.abs(denom) < 1e-12, F.lit(None)
    ).otherwise(denom)
    w_b = 1 - w_a
    vol = F.sqrt(
        w_a * w_a * F.col("v1")
        + w_b * w_b * F.col("v2")
        + 2 * w_a * w_b * F.col("c12")
    )
    return stats.select(
        F.col("ta").alias("type_a"),
        F.col("tb").alias("type_b"),
        "n_days",
        dround(w_a, 6).alias("w_a"),
        dround(vol, 8).alias("min_var_vol"),
    )


#: query tenors (days since each curve's first node); the last one
#: lies beyond every node and certifies flat extrapolation.
_TENORS = (0.5, 3.7, 7.2, 15.5, 29.9, 45.0)
_TENORS_SQL = ", ".join(f"({t})" for t in _TENORS)

#: guarded piecewise-linear interpolation (flat extrapolation at both
#: ends, exact node value when both brackets coincide).
_LERP_SQL = (
    "CASE WHEN x_prev IS NULL THEN y_next "
    "WHEN x_next IS NULL THEN y_prev "
    "WHEN x_next = x_prev THEN y_prev "
    "ELSE y_prev + (y_next - y_prev) * (q - x_prev) / (x_next - x_prev) "
    "END"
)


@register(
    "d75_curve_interpolation",
    oracle=f"""
    WITH {_DAILY_SQL}, nodes AS (
        SELECT event_type,
               CAST(DATE_DIFF('day',
                    MIN(CAST(day AS DATE)) OVER (PARTITION BY event_type),
                    CAST(day AS DATE)) AS DOUBLE) AS x,
               close AS y
        FROM daily
    ), qt(q) AS (
        VALUES {_TENORS_SQL}
    ), probes AS (
        SELECT DISTINCT n.event_type, CAST(qt.q AS DOUBLE) AS q
        FROM nodes n CROSS JOIN qt
    ), merged AS (
        SELECT event_type, x AS pos, 1 AS is_node, x, y, NULL::DOUBLE AS q
        FROM nodes
        UNION ALL
        SELECT event_type, q AS pos, 0 AS is_node,
               NULL::DOUBLE, NULL::DOUBLE, q
        FROM probes
    ), filled AS (
        SELECT event_type, pos, is_node, q,
               LAST_VALUE(x IGNORE NULLS) OVER wf AS x_prev,
               LAST_VALUE(y IGNORE NULLS) OVER wf AS y_prev,
               LAST_VALUE(x IGNORE NULLS) OVER wb AS x_next,
               LAST_VALUE(y IGNORE NULLS) OVER wb AS y_next
        FROM merged
        WINDOW wf AS (PARTITION BY event_type
                      ORDER BY pos ASC, is_node DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wb AS (PARTITION BY event_type
                      ORDER BY pos DESC, is_node DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, q AS tenor,
           {sql_dround(_LERP_SQL, 6)} AS rate
    FROM filled WHERE is_node = 0
    """,
)
def d75_curve_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Piecewise-linear curve interpolation at fixed query tenors
    (with flat extrapolation past either end) — the zero-curve /
    vol-surface lookup every pricing call makes. Curve nodes are each
    series' daily closes at x = days since the curve's first node.

    The distributed formulation: UNION the probes into the node
    stream and run ONE forward and ONE backward IGNORE-NULLS fill
    (the w9-certified machinery) to hand every probe its bracketing
    nodes — no non-equi join, no per-probe binary search; at any
    scale this is two window passes over O(nodes + probes) rows per
    curve. The (pos, is_node DESC) tie-break makes a probe that
    lands EXACTLY on a node see that node as both brackets, and the
    x_next = x_prev guard returns the node value exactly (no 0/0).

    Scale: probes ≪ nodes always; both passes share the per-curve
    partitioning, so the whole operator is one shuffle of the
    collapsed curve frame."""
    daily = daily_closes(spark, sf_dir)
    wmin = Window.partitionBy("event_type")
    nodes = daily.select(
        "event_type",
        F.datediff(
            F.col("day").cast("date"),
            F.min(F.col("day").cast("date")).over(wmin),
        )
        .cast("double")
        .alias("x"),
        F.col("close").alias("y"),
    )
    probes = (
        nodes.select("event_type")
        .distinct()
        .crossJoin(
            F.broadcast(
                spark.range(1).select(
                    F.explode(
                        F.array(*[F.lit(float(t)) for t in _TENORS])
                    ).alias("q")
                )
            )
        )
    )
    merged = nodes.select(
        "event_type",
        F.col("x").alias("pos"),
        F.lit(1).alias("is_node"),
        "x",
        "y",
        F.lit(None).cast("double").alias("q"),
    ).unionByName(
        probes.select(
            "event_type",
            F.col("q").alias("pos"),
            F.lit(0).alias("is_node"),
            F.lit(None).cast("double").alias("x"),
            F.lit(None).cast("double").alias("y"),
            "q",
        )
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy(F.asc("pos"), F.desc("is_node"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wb = (
        Window.partitionBy("event_type")
        .orderBy(F.desc("pos"), F.desc("is_node"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = merged.select(
        "event_type",
        "is_node",
        "q",
        F.last("x", ignorenulls=True).over(wf).alias("x_prev"),
        F.last("y", ignorenulls=True).over(wf).alias("y_prev"),
        F.last("x", ignorenulls=True).over(wb).alias("x_next"),
        F.last("y", ignorenulls=True).over(wb).alias("y_next"),
    )
    rate = (
        F.when(F.col("x_prev").isNull(), F.col("y_next"))
        .when(F.col("x_next").isNull(), F.col("y_prev"))
        .when(F.col("x_next") == F.col("x_prev"), F.col("y_prev"))
        .otherwise(
            F.col("y_prev")
            + (F.col("y_next") - F.col("y_prev"))
            * (F.col("q") - F.col("x_prev"))
            / (F.col("x_next") - F.col("x_prev"))
        )
    )
    return (
        filled.filter(F.col("is_node") == 0)
        .select(
            "event_type",
            F.col("q").alias("tenor"),
            dround(rate, 6).alias("rate"),
        )
    )


#: market holidays inside the fixture window (New Year, MLK day).
_HOLIDAYS = ("2024-01-01", "2024-01-15")
_HOLIDAYS_SQL = ", ".join(f"DATE '{d}'" for d in _HOLIDAYS)
_CAL_START = "2023-12-25"
_CAL_END = "2024-02-15"
#: settlement lag in business days.
_SETTLE_N = 2


@register(
    "d76_settlement_dates",
    oracle=f"""
    WITH cal AS (
        SELECT CAST(d AS DATE) AS day,
               CASE WHEN date_part('dow', d) IN (0, 6)
                         OR CAST(d AS DATE) IN ({_HOLIDAYS_SQL})
                    THEN 0 ELSE 1 END AS is_bus
        FROM UNNEST(generate_series(DATE '{_CAL_START}',
                                    DATE '{_CAL_END}',
                                    INTERVAL 1 DAY)) AS t(d)
    ), idx AS (
        SELECT day, is_bus,
               SUM(is_bus) OVER (ORDER BY day) AS bidx
        FROM cal
    ), trades AS (
        SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS trade_day,
               CAST(COUNT(*) AS BIGINT) AS n_trades
        FROM events GROUP BY 1
    )
    SELECT t.trade_day,
           CAST(i.is_bus AS BIGINT) AS traded_on_bus_day,
           t.n_trades,
           s.day AS settle_day
    FROM trades t
    JOIN idx i ON i.day = t.trade_day
    JOIN idx s ON s.bidx = i.bidx + {_SETTLE_N} AND s.is_bus = 1
    """,
)
def d76_settlement_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T+2 settlement-date assignment over a business-day calendar
    (weekends + market holidays) — the operations-desk arithmetic
    behind every trade ledger. The calendar dimension carries a
    cumulative business-day index; settlement is then a pure
    equi-join: settle(d) = the business day whose index equals
    bidx(d) + 2. A trade on a weekend/holiday inherits the previous
    business day's index, which gives the standard convention
    (settlement counts from the next business day) with no CASE
    logic at all.

    Scale: the fact table collapses to O(trade days) first; the
    calendar dim is tiny and broadcasts into both joins. At 100 TB
    the same shape holds — the calendar join is the textbook
    broadcast-dim pattern (never a non-equi date-walk).

    Engine note: weekend tests are dialect-specific (Spark dayofweek
    Sunday=1/Saturday=7 vs DuckDB dow Sunday=0/Saturday=6) but
    assert the identical day set."""
    spark_dates = F.sequence(
        F.lit(_CAL_START).cast("date"),
        F.lit(_CAL_END).cast("date"),
        F.expr("INTERVAL 1 DAY"),
    )
    cal = (
        spark.range(1)
        .select(F.explode(spark_dates).alias("day"))
        .select(
            "day",
            F.when(
                F.dayofweek("day").isin(1, 7)
                | F.col("day").cast("string").isin(*_HOLIDAYS),
                0,
            )
            .otherwise(1)
            .alias("is_bus"),
        )
    )
    wcum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    idx = cal.select(
        "day", "is_bus", F.sum("is_bus").over(wcum).alias("bidx")
    )
    events = load_table(spark, sf_dir, "events")
    trades = events.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("trade_day")
    ).agg(F.count("*").cast("bigint").alias("n_trades"))
    i = idx.select(
        F.col("day").alias("trade_day"),
        F.col("is_bus").cast("bigint").alias("traded_on_bus_day"),
        F.col("bidx").alias("t_bidx"),
    )
    s = idx.filter(F.col("is_bus") == 1).select(
        F.col("day").alias("settle_day"),
        F.col("bidx").alias("s_bidx"),
    )
    return (
        trades.join(F.broadcast(i), "trade_day")
        .join(
            F.broadcast(s),
            F.col("s_bidx") == F.col("t_bidx") + _SETTLE_N,
        )
        .select(
            "trade_day", "traded_on_bus_day", "n_trades", "settle_day"
        )
    )


#: volatility-cone horizons (trading days).
_CONE_H = (5, 10, 20)
#: annualization factor for daily realized vol — IEEE sqrt on both
#: engines (math.sqrt here, SQRT(252.0) in the oracle) so the
#: multiplied doubles are bit-identical.
_ANN_SQRT = math.sqrt(252.0)


def _cone_roll_sql() -> str:
    """One UNION ALL block per horizon: rolling sample stddev of
    daily returns over the trailing h-row frame, annualized, full
    windows only (COUNT == h). SQL windows cannot parameterize frame
    bounds by a column, so the oracle unrolls the tiny _CONE_H tuple."""
    blocks = []
    for h in _CONE_H:
        blocks.append(
            f"""
        SELECT event_type, {h} AS horizon, vol FROM (
            SELECT event_type,
                   STDDEV_SAMP(r) OVER w * SQRT(252.0) AS vol,
                   COUNT(r) OVER w AS cnt
            FROM rr
            WINDOW w AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN {h - 1} PRECEDING AND CURRENT ROW)
        ) WHERE cnt = {h}"""
        )
    return " UNION ALL ".join(blocks)


@register(
    "d77_volatility_cone",
    oracle=f"""
    WITH {_DAILY_SQL}, {_RETS_SQL}, roll AS (
        {_cone_roll_sql()}
    )
    SELECT event_type,
           CAST(horizon AS BIGINT) AS horizon,
           CAST(COUNT(*) AS BIGINT) AS n_obs,
           {sql_dround("MIN(vol)", 6)} AS vol_min,
           {sql_dround("QUANTILE_CONT(vol, 0.25)", 6)} AS vol_p25,
           {sql_dround("QUANTILE_CONT(vol, 0.50)", 6)} AS vol_med,
           {sql_dround("QUANTILE_CONT(vol, 0.75)", 6)} AS vol_p75,
           {sql_dround("MAX(vol)", 6)} AS vol_max
    FROM roll
    GROUP BY event_type, horizon
    """,
)
def d77_volatility_cone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volatility cone: per (series, horizon) percentile bands
    (min / p25 / median / p75 / max) of the trailing rolling realized
    vol — the options-desk chart that says whether today's implied
    vol is rich or cheap against the realized distribution at each
    horizon. Realized vol = annualized sample stddev of the daily
    returns over the trailing h-day row frame; only FULL windows
    enter the cone (a partial window would mix horizons).

    Distributed shape: all three horizons share one
    (event_type, day) sort, so Spark computes every frame in a
    SINGLE WindowExec pass over the collapsed daily-returns frame
    (O(series × days), never the ticks); `stack` unpivots to long
    form pipeline-side (no shuffle), and one groupBy on
    (series, horizon) computes the exact percentile bands via the
    d39/d62/dq12-proven `percentile` == QUANTILE_CONT pairing. At
    100 TB the daily frame is ~6 orders smaller than the fact table;
    the exact per-group percentile sort is the honest audit cost
    (a13's t-digest is the screening sibling)."""
    rets = daily_returns(daily_closes(spark, sf_dir))
    base = Window.partitionBy("event_type").orderBy("day")
    cols = []
    for h in _CONE_H:
        w = base.rowsBetween(-(h - 1), Window.currentRow)
        vol = F.stddev_samp("r").over(w) * F.lit(_ANN_SQRT)
        cnt = F.count("r").over(w)
        cols.append(F.when(cnt == h, vol).alias(f"vol_{h}"))
    scored = rets.select("event_type", *cols)
    stack_args = ", ".join(
        f"CAST({h} AS BIGINT), vol_{h}" for h in _CONE_H
    )
    long = scored.selectExpr(
        "event_type",
        f"stack({len(_CONE_H)}, {stack_args}) AS (horizon, vol)",
    ).filter(F.col("vol").isNotNull())
    return long.groupBy("event_type", "horizon").agg(
        F.count("*").cast("bigint").alias("n_obs"),
        dround(F.min("vol"), 6).alias("vol_min"),
        dround(F.percentile("vol", 0.25), 6).alias("vol_p25"),
        dround(F.percentile("vol", 0.50), 6).alias("vol_med"),
        dround(F.percentile("vol", 0.75), 6).alias("vol_p75"),
        dround(F.max("vol"), 6).alias("vol_max"),
    )
