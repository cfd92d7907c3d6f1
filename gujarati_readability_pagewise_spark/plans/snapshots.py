"""Content-version history of a re-crawled table (slowly changing
dimension, type 2).

``scd2_history`` turns a fetch log (one row per url and fetch, with a
content fingerprint) into one row per content version with its validity
period.  The ``scd2_url_history`` and ``streaming_scd2`` contract queries
run it, the latter through ``streaming/ingest.scd2_stream_merge``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

__all__ = ["scd2_history"]


def scd2_history(
    fetches: DataFrame,
    key_col: str = "url",
    ts_col: str = "fetch_ts",
    fp_col: str = "fp",
):
    """Slowly-changing-dimension type-2 history from a re-crawl fetch log.

    Input: one row per (url, fetch) with a content fingerprint.  Output:
    one row per CONTENT VERSION — consecutive fetches with an unchanged
    fingerprint collapse into one validity period:

        (key, version, valid_from, valid_to, fp, is_current)

    ``valid_to`` is the next version's ``valid_from`` (exclusive), NULL on
    the current version.  This is the canonical warehouse shape for "what
    did this url say at time T" queries over an incremental crawl.

    Scale shape: two windows over the SAME (key × ts) partitioning —
    Catalyst reuses one sort+exchange for both (lag to detect changes,
    lead for the validity horizon after the collapse filter) — so the cost
    is one shuffle of (key, ts, fp), never the payloads.
    """
    w = W.partitionBy(key_col).orderBy(ts_col)
    changed = (
        fetches.select(key_col, ts_col, fp_col)
        .withColumn("_prev", F.lag(fp_col).over(w))
        .filter(F.col("_prev").isNull() | (F.col(fp_col) != F.col("_prev")))
        .drop("_prev")
    )
    w2 = W.partitionBy(key_col).orderBy(ts_col)
    return (
        changed.withColumn("version", F.row_number().over(w2))
        .withColumn("valid_to", F.lead(ts_col).over(w2))
        .select(
            key_col,
            "version",
            F.col(ts_col).alias("valid_from"),
            "valid_to",
            fp_col,
            F.col("valid_to").isNull().cast("int").alias("is_current"),
        )
    )
