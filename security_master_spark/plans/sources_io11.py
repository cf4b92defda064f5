"""Round-7 IO batch (SURVEY.md §2.1): multiline CSV — quoted fields
containing embedded newlines and quotes surviving a write→read
roundtrip (`multiLine`), the classic real-world CSV hazard.
"""

from __future__ import annotations


from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.plans.registry import register


# Register-free shared helper — importing io_scratch (unlike
# sources_io) registers nothing, so registry order is safe.
from security_master_spark.plans.io_scratch import _scratch


#: docs slice for the multiline payload.
_N_DOCS = 200


def _payload(col_text: Column, col_lang: Column) -> Column:
    """Adversarial CSV field: embedded newline, embedded double quote,
    embedded comma — everything the quoting/escaping layer must get
    right, derived deterministically from fixture columns."""
    return F.concat(
        col_lang,
        F.lit("\n\"q\","),
        F.substring(col_text, 1, 48),
        F.lit("\nEND"),
    )


@register(
    "io20_multiline_csv",
    oracle=f"""
    WITH payload AS (
        SELECT doc_id,
               lang || chr(10) || '"q",' || substr(text, 1, 48)
                    || chr(10) || 'END' AS v
        FROM documents WHERE doc_id < {_N_DOCS}
    )
    SELECT doc_id,
           CAST(length(v) AS BIGINT) AS n_chars,
           CAST(length(v) - length(replace(v, chr(10), '')) AS BIGINT)
               AS n_newlines,
           md5(v) AS checksum
    FROM payload
    """,
)
def io20_multiline_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiline CSV roundtrip: build an adversarial text field
    (embedded newline, embedded double quote, embedded comma) per
    document, write it to CSV, read it back with `multiLine` enabled,
    and publish per-row length / newline-count / md5 — compared
    against an oracle that derives the SAME payload straight from the
    fixture and never touches the file, so any quoting, escaping, or
    record-splitting defect in the roundtrip breaks the hash.

    Scale note (the honest trade): `multiLine` disables newline-based
    record splitting, so each CSV FILE becomes one read task (like
    io10's gzip) — the layout answer is many medium files, and this
    writer shuffles to 4 files to keep read parallelism. Clean
    single-line CSV stays the splittable default (io1)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _N_DOCS
    )
    payload = docs.select(
        "doc_id", _payload(F.col("text"), F.col("lang")).alias("v")
    )
    path = _scratch(sf_dir, "multiline_csv")
    (
        payload.repartition(4)
        .write.mode("overwrite")
        .option("header", "true")
        .csv(path)
    )
    back = (
        spark.read.schema("doc_id long, v string")
        .option("header", "true")
        .option("multiLine", "true")
        .csv(path)
    )
    return back.select(
        "doc_id",
        F.length("v").cast("bigint").alias("n_chars"),
        (
            F.length("v")
            - F.length(F.regexp_replace("v", "\n", ""))
        )
        .cast("bigint")
        .alias("n_newlines"),
        F.md5(F.col("v").cast("binary")).alias("checksum"),
    )
