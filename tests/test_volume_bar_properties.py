"""Property-based verification of the volume-bar assignment rule
(plans/domain_ticks.py:d50) and the count-min sketch guarantee
(plans/aggregates.py:a26) on random inputs — the fixture mirror
proves one dataset; these prove the law.
"""

from __future__ import annotations

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import Window
from pyspark.sql import functions as F

_QTY = st.lists(st.integers(min_value=0, max_value=120), min_size=1, max_size=40)


@settings(
    deadline=None,
    max_examples=12,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(qtys=_QTY, thresh=st.integers(min_value=1, max_value=200))
def test_volume_bar_assignment_law(spark, qtys, thresh):
    """The exclusive-prefix rule: (a) bar ids are non-decreasing in
    tick order; (b) every bar except possibly the last accumulates
    ≥ threshold volume once closed — i.e. a bar stops accepting ticks
    only after reaching the threshold; (c) total volume conserved."""
    pdf = pd.DataFrame(
        {"i": range(len(qtys)), "qty": pd.array(qtys, dtype="int64")}
    )
    df = spark.createDataFrame(pdf)
    win = Window.orderBy("i")
    cum = F.sum("qty").over(win.rowsBetween(Window.unboundedPreceding, 0))
    bars = (
        df.select(
            "i",
            "qty",
            F.floor((cum - F.col("qty")) / float(thresh)).alias("bar"),
        )
        .orderBy("i")
        .collect()
    )
    # (a) monotone bar ids
    ids = [r["bar"] for r in bars]
    assert ids == sorted(ids)
    # (c) conservation
    per_bar: dict[int, int] = {}
    for r in bars:
        per_bar[r["bar"]] = per_bar.get(r["bar"], 0) + r["qty"]
    assert sum(per_bar.values()) == sum(qtys)
    # (b) a new bar opens only after the previous reached the
    # threshold: for every bar except the last, its closing exclusive
    # prefix is >= (bar_id+1)*thresh by construction — equivalently
    # cumulative volume at its last tick >= (bar+1)*thresh.
    cum_total = 0
    last_of_bar: dict[int, int] = {}
    for r in bars:
        cum_total += r["qty"]
        last_of_bar[r["bar"]] = cum_total
    closed = sorted(per_bar)[:-1]
    for b in closed:
        assert last_of_bar[b] >= (b + 1) * thresh


_KEYS = st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=200)


@settings(
    deadline=None,
    max_examples=8,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(keys=_KEYS)
def test_count_min_law_on_random_keys(spark, keys):
    """CMS one-sided error on arbitrary key multisets: for EVERY key,
    estimate ≥ exact count (never underestimates), via the same
    md5-bucket construction as a26 at depth 4 × width 64."""
    depth, width = 4, 64
    pdf = pd.DataFrame({"key": pd.array(keys, dtype="int64")})
    df = spark.createDataFrame(pdf)
    hashes = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("i")

    def bucket(col):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("i").cast("string"),
                            F.lit(":"),
                            col.cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % width
        )

    sketch = (
        df.select("key", hashes)
        .select("i", bucket(F.col("key")).alias("b"))
        .groupBy("i", "b")
        .agg(F.count("*").alias("cnt"))
    )
    probe = df.select("key").distinct()
    est = (
        probe.select("key", hashes)
        .select("key", "i", bucket(F.col("key")).alias("b"))
        .join(sketch, ["i", "b"])
        .groupBy("key")
        .agg(F.min("cnt").alias("est"))
        .collect()
    )
    exact: dict[int, int] = {}
    for k in keys:
        exact[k] = exact.get(k, 0) + 1
    got = {r["key"]: r["est"] for r in est}
    assert set(got) == set(exact)
    for k, e in exact.items():
        assert got[k] >= e, (k, got[k], e)
