"""Round-5 hardening: regression tests for the ADVICE/VERDICT fixes —
identifier character-class guards, the enforced transpose-small
contract, and d47's basket-breadth cap.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from security_master_spark.plans.registry import queries

_Q = queries()


def test_identifier_validators_reject_out_of_class_chars(spark):
    """Out-of-class characters (lowercase, punctuation, space) must be
    rejected even when the ascii(c)-55 fallthrough would coincidentally
    produce a matching check digit. 'a' (97) maps to 42 ≡ 'G'+32, so a
    lowercased valid identifier is the canonical coincidence risk."""
    from security_master_spark.functions.identifiers import (
        cusip_is_valid,
        isin_is_valid,
        sedol_is_valid,
    )

    cases = [
        # (cusip, sedol, isin) — all malformed, all must be False
        ("03783310a", "026349a4", "US037833100a"),
        ("0378331 0", "02634 94", "US03783310 0"),
        ("03783!100", "0263!94", "us0378331005"),
    ]
    df = spark.createDataFrame(cases, "c string, s string, i string")
    row = df.select(
        F.max(cusip_is_valid(F.col("c")).cast("int")).alias("c"),
        F.max(sedol_is_valid(F.col("s")).cast("int")).alias("s"),
        F.max(isin_is_valid(F.col("i")).cast("int")).alias("i"),
    ).collect()[0]
    assert (row.c, row.s, row.i) == (0, 0, 0)

    # And the guard must not reject the legitimate extended CUSIP
    # alphabet (*, @, # are valid CUSIP characters).
    star = spark.createDataFrame([("12345*78",)], "b string")
    from security_master_spark.functions.identifiers import cusip_check_digit

    chk = star.select(cusip_check_digit(F.col("b")).alias("d")).collect()[0].d
    full = f"12345*78{chk}"
    ok = (
        spark.createDataFrame([(full,)], "c string")
        .select(cusip_is_valid(F.col("c")).alias("v"))
        .collect()[0]
        .v
    )
    assert ok is True


def test_transpose_small_guard_trips_on_unbounded_frame(spark, sf_dir):
    """transpose_small must refuse an uncollapsed input instead of
    collecting it to the driver."""
    from security_master_spark.datasets import load_table
    from security_master_spark.operators.transpose import transpose_small

    li = load_table(spark, sf_dir, "lineitem").select(
        F.concat_ws("-", "l_orderkey", "l_linenumber").alias("k"),
        "l_quantity",
    )
    with pytest.raises(ValueError, match="collapse/aggregate"):
        transpose_small(li, "k", max_rows=100)
    # and it still transposes a legitimately small frame
    small = li.limit(3)
    assert transpose_small(small, "k", max_rows=100).count() == 1


def test_transpose_small_evaluates_input_exactly_once(spark):
    """Round-8 fix for the documented double-compute caveat: the probe
    and the transpose must share ONE materialization of the input (the
    bounded localCheckpoint), so nondeterministic sources can't pass
    the probe and then diverge. Counted via accumulator: 3 rows -> the
    row-UDF fires exactly 3 times total, not 6 (probe + transpose)."""
    from security_master_spark.operators.transpose import transpose_small

    acc = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def tick(x):
        acc.add(1)
        return f"k{x}"

    df = spark.range(3).select(tick("id").alias("k"), F.lit(1.0).alias("v"))
    out = transpose_small(df, "k", max_rows=100)
    assert out.count() == 1
    assert acc.value == 3


def test_d47_breadth_cap_drops_mega_basket(spark):
    """An order with more distinct brands than _MAX_BASKET_BREADTH
    contributes nothing to the pair stage (the quadratic bound is a
    plan property), while normal orders still pair up."""
    from security_master_spark.plans.domain_customers import _MAX_BASKET_BREADTH

    n_brands = _MAX_BASKET_BREADTH + 1
    rows = []
    # mega-order 1: 65 distinct brands; normal orders 2..21 share
    # brands B00/B01 so that pair clears the n_both >= 10 floor.
    for i in range(n_brands):
        rows.append((1, 1000 + i))
    for ok in range(2, 22):
        rows.append((ok, 1000))
        rows.append((ok, 1001))
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    part = spark.createDataFrame(
        [(1000 + i, f"B{i:02d}") for i in range(n_brands)],
        "p_partkey long, p_brand string",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        li.write.parquet(f"{d}/lineitem.parquet")
        part.write.parquet(f"{d}/part.parquet")
        out = _Q["d47_basket_lift"](spark, d).collect()
    pairs = {(r.brand_a, r.brand_b): r.n_both for r in out}
    # Without the cap the mega-order would push (B00,B01) to 21 and
    # lift 65*64/2 pair combos above zero support; with it, only the
    # 20 normal orders count.
    assert pairs == {("B00", "B01"): 20}
