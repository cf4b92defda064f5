"""Property-based as-of join verification (SURVEY.md §5): on random
small key/timestamp sets — including heavy ties — the window-recipe
as-of join must agree exactly with DuckDB's native ASOF JOIN
(semantics: latest right row with r.ts <= l.ts per key; ties on the
right side resolved to the same single row). Also: the as-of
tiebreak on duplicate right-side timestamps, and the tick-order key
(functions/ordering.py) with its domain guard.
"""

from __future__ import annotations

import duckdb
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from security_master_spark.functions.ordering import (
    tick_order_domain_violations,
)
from security_master_spark.operators.asof import asof_join

# timestamps drawn from a tiny range so ties are the norm, not the edge
_TS = st.integers(min_value=0, max_value=6)
_KEY = st.integers(min_value=0, max_value=2)


def _run_case(spark, left_rows, right_rows):
    left = pd.DataFrame(left_rows, columns=["k", "lt"]).assign(
        lid=range(len(left_rows))
    )
    # dedupe right on (k, rt): with duplicate right timestamps the
    # matched *row* is engine-ambiguous (both agree on the timestamp,
    # not on which duplicate) — the operator contract documents this;
    # value-determinism requires unique (key, ts) on the right.
    right = (
        pd.DataFrame(right_rows, columns=["k", "rt"])
        .drop_duplicates(["k", "rt"])
        .reset_index(drop=True)
    )
    right["rv"] = right["k"] * 100 + right["rt"]

    l_df = spark.createDataFrame(left.astype("int64"))
    r_df = spark.createDataFrame(right.astype("int64"))
    got = {
        (r.k, r.lt, r.lid, r.rt, r.rv)
        for r in asof_join(l_df, r_df, on=["k"], left_ts="lt", right_ts="rt")
        .select("k", "lt", "lid", "rt", "rv")
        .collect()
    }

    con = duckdb.connect()
    con.register("l", left)
    con.register("r", right)
    want = {
        tuple(int(x) for x in row)
        for row in con.execute(
            """
            SELECT l.k, l.lt, l.lid, r.rt, r.rv
            FROM l ASOF JOIN r ON l.k = r.k AND l.lt >= r.rt
            """
        ).fetchall()
    }
    con.close()
    assert got == want, f"asof mismatch:\n spark={sorted(got)}\n duck={sorted(want)}"


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    left_rows=st.lists(st.tuples(_KEY, _TS), min_size=1, max_size=8),
    right_rows=st.lists(st.tuples(_KEY, _TS), min_size=1, max_size=8),
)
def test_asof_matches_duckdb_on_ties(spark, left_rows, right_rows):
    _run_case(spark, left_rows, right_rows)


def test_asof_exact_tie_takes_equal_timestamp(spark):
    """lt == rt must match (<= semantics, not <)."""
    _run_case(spark, [(0, 3)], [(0, 3), (0, 2)])


def test_asof_left_before_all_right_drops_row(spark):
    """A left row earlier than every right row has no match (inner)."""
    _run_case(spark, [(0, 0)], [(0, 5)])


def test_asof_join_tiebreak_pins_duplicate_timestamps(spark):
    """operators/asof.py: duplicate right-side (key, ts) rows are
    engine/partition-arbitrary without a tiebreak; with one the pick
    is a deterministic function of the data."""
    from security_master_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "k", 100)], "lid long, k string, lts long"
    )
    right = spark.createDataFrame(
        [("k", 100, 5.0), ("k", 100, 9.0), ("k", 99, 7.0)],
        "k string, rts long, px double",
    )
    out = asof_join(
        left, right, on=["k"], left_ts="lts", right_ts="rts",
        tiebreak=[F.col("px").desc()],
    ).collect()
    assert len(out) == 1 and out[0].px == 9.0 and out[0].rts == 100


def test_tick_order_key_matches_ts_id_order(spark):
    """functions/ordering.py: the zero-padded string key's
    lexicographic order must equal the (ts, id) order — including
    same-instant rows where the id decides."""
    from security_master_spark.functions.ordering import tick_order_key

    rows = [
        (1, "2024-01-01 00:00:00.000001"),
        (3, "2024-01-01 00:00:00.000001"),
        (2, "2024-01-01 00:00:00.000002"),
        (10, "2024-01-01 00:00:00.000001"),
    ]
    df = spark.createDataFrame(rows, "event_id long, s string").select(
        "event_id", F.col("s").cast("timestamp").alias("ts")
    )
    got = [
        r.event_id
        for r in df.orderBy(tick_order_key()).collect()
    ]
    assert got == [1, 3, 10, 2]  # ts first, then NUMERIC id order


def test_tick_order_domain_violations_flags_out_of_contract_rows(spark):
    """functions/ordering.py: the zero-padded key silently mis-orders
    pre-epoch timestamps, negative ids, and ids ≥ 10^12; the guard
    must surface exactly those rows and pass in-domain ones."""
    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00"),        # in-domain
            (10**12 - 1, "1970-01-01 00:00:00"),  # boundary, in-domain
            (10**12, "2024-01-01 00:00:00"),   # id too wide
            (-1, "2024-01-01 00:00:00"),       # negative id
            (2, "1969-12-31 23:59:59"),        # pre-epoch ts
            (None, "2024-01-01 00:00:00"),     # NULL id
        ],
        "event_id long, s string",
    ).select("event_id", F.col("s").cast("timestamp").alias("ts"))
    bad = tick_order_domain_violations(df, "ts", "event_id").collect()
    assert sorted(
        (str(r.event_id) if r.event_id is not None else "NULL")
        for r in bad
    ) == sorted([str(10**12), "-1", "2", "NULL"])
    ok = df.subtract(
        tick_order_domain_violations(df, "ts", "event_id")
    ).count()
    assert ok == 2
