"""Round-9 fixes: the as-of join's duplicate-timestamp tiebreak, the
tick-order key, and the io17 escape round trip."""

from __future__ import annotations

from pyspark.sql import functions as F


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


def test_io17_escape_roundtrip_is_lossless(spark, tmp_path):
    """The text-dump newline escape must reverse exactly, including
    payloads with literal backslashes adjacent to 'n' (the odd-parity
    case) — exercised through the registered query's own plan on a
    synthetic documents table."""
    from security_master_spark.plans.sources_io8 import io17_text_roundtrip

    texts = [
        "plain",
        "line one\nline two",
        "tab\there",
        "back\\slash",
        "trap\\nliteral",        # backslash + n, NOT a newline
        "both\\\nmixed",          # backslash then real newline
        "cr\rreturn",
    ]
    docs = spark.createDataFrame(
        [(i, t, "en", "web", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sf_dir = str(tmp_path / "sfx")
    import os

    os.makedirs(sf_dir, exist_ok=True)
    docs.write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")
    out = {r.doc_id: r.text for r in io17_text_roundtrip(spark, sf_dir).collect()}
    assert out == {i: t for i, t in enumerate(texts)}
