"""operators/trailing.py:trailing_interval_sum — per-row COUNT and SUM
over the trailing closed interval ``[ts − lookback, ts]`` by prefix
difference: hand-computed edge cases, the documented ``row_id``
contract, and a property check against a pure-Python trailing-frame
reference on random small frames."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from security_master_spark.operators.trailing import trailing_interval_sum


def _trailing(df, lookback_us=10):
    return {
        r.event_id: (r.n_trailing, r.units_trailing)
        for r in trailing_interval_sum(
            df, ["k"], "us", lookback_us, F.col("u"), "event_id"
        ).collect()
    }


def test_trailing_interval_sum_ties_boundary_and_nulls(spark):
    """Edge semantics against a hand-computed frame: RANGE ties are
    peers (equal-ts rows report the identical frame), the left edge is
    inclusive (a row exactly lookback old is IN the frame; one
    microsecond older is out), and an all-null frame yields NULL — the
    prefix difference must not manufacture a zero."""
    # key k: ts in µs, lookback 10 µs
    rows = [
        (1, "k", 0, 5),      # opens the history
        (2, "k", 10, 7),     # frame [0,10]: rows 1,2  -> n=2, u=12
        (3, "k", 11, None),  # frame [1,11]: rows 2,3  -> n=2, u=7
        (4, "k", 30, None),  # frame [20,30]: row 4    -> n=1, u=NULL
        (5, "k", 30, None),  # tie with 4: same frame  -> n=2, u=NULL
        (6, "z", 5, 3),      # other key: frames never mix
    ]
    df = spark.createDataFrame(
        rows, "event_id long, k string, us long, u long"
    )
    assert _trailing(df) == {
        1: (1, 5),
        2: (2, 12),      # inclusive left edge: ts=0 row is in [0,10]
        3: (2, 7),       # ts=0 aged out by 1 µs; null row counts in n
        4: (2, None),    # ties are peers: both ts=30 rows see both
        5: (2, None),    # all-null frame -> NULL, not cum-diff 0
        6: (1, 3),
    }


def test_trailing_null_row_id_silently_drops_the_row(spark):
    """``row_id`` is documented NON-NULL: the final re-attach is an
    inner equi-join on row_id, so a NULL id's row vanishes from the
    output (and NO other row is disturbed). This pins the documented
    behavior so a future rewrite that changes it must also change the
    contract."""
    df = spark.createDataFrame(
        [(1, "k", 0, 5), (None, "k", 10, 7), (3, "k", 11, 2)],
        "event_id long, k string, us long, u long",
    )
    out = _trailing(df)
    # the NULL-id row is gone; surviving rows still see it in their
    # trailing frames (the contract governs the re-attach, not the
    # window math): row 3's frame [1, 11] holds us=10 (the NULL-id
    # row, u=7) and us=11 (u=2)
    assert out == {1: (1, 5), 3: (2, 9)}


def test_trailing_duplicate_row_id_fans_out(spark):
    """Duplicate row_ids fan out through the inner re-attach join —
    the other documented half of the contract."""
    df = spark.createDataFrame(
        [(1, "k", 0, 5), (1, "k", 100, 7)],
        "event_id long, k string, us long, u long",
    )
    rows = trailing_interval_sum(
        df, ["k"], "us", 10, F.col("u"), "event_id"
    ).collect()
    # 2 input rows × 2 boundary probes sharing the id → 4 output rows
    assert len(rows) == 4


def _reference(rows, lookback_us):
    """rows: [(event_id, key, us, units)] → per-id (n, units) over the
    key's rows with ``us − lookback ≤ us' ≤ us``; NULL is a key of its
    own, NULL units are counted in n but not summed, and a frame with
    no non-null units sums to None."""
    out = {}
    for rid, k, t, _u in rows:
        frame = [
            u2 for _r2, k2, t2, u2 in rows
            if k2 == k and t - lookback_us <= t2 <= t
        ]
        units = [u for u in frame if u is not None]
        out[rid] = (len(frame), sum(units) if units else None)
    return out


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    cells=st.lists(
        st.tuples(
            st.one_of(st.none(), st.sampled_from(["a", "b"])),
            # a narrow time axis forces equal-timestamp ties
            st.integers(min_value=0, max_value=8),
            st.one_of(st.none(), st.integers(min_value=-5, max_value=9)),
        ),
        min_size=1,
        max_size=14,
    ),
    lookback_us=st.sampled_from([0, 1, 3, 100]),
)
def test_trailing_matches_python_reference(spark, cells, lookback_us):
    rows = [(i, k, t, u) for i, (k, t, u) in enumerate(cells)]
    df = spark.createDataFrame(
        rows, "event_id long, k string, us long, u long"
    )
    got = _trailing(df, lookback_us)
    want = _reference(rows, lookback_us)
    assert got == want, (
        f"trailing mismatch (lookback={lookback_us}):\n rows={rows}\n"
        f" got={sorted(got.items())}\n want={sorted(want.items())}"
    )
