"""Versioned-snapshot tables: race-free "read the newest" (SURVEY.md §2.1 S6).

The reference discovers its newest artifacts by glob + max(mtime)
(``/root/reference/scripts/train_pagewise_xgboost.py:88-92``,
``predict_single_book.py:316-323``) — racy under concurrent writers and
clock skew.  The graft's replacement is a poor-man's Iceberg:

* each write lands in ``table_dir/v=<N>/`` (immutable once the pointer
  flips);
* ``_latest.json`` names the current version and is replaced via
  write-temp + ``os.replace`` (atomic on POSIX) — readers see either the
  old or the new snapshot, never a half-written one;
* time travel = ``read_snapshot(version=k)``.

(With real Iceberg jars on the classpath this module is replaced by
``spark.read.option('snapshot-id', ...)``; the contract is identical.)
"""

from __future__ import annotations

import json
import os
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "write_snapshot",
    "read_latest",
    "read_snapshot",
    "latest_version",
    "scd2_history",
]


def _pointer(table_dir: str) -> Path:
    return Path(table_dir) / "_latest.json"


def latest_version(table_dir: str) -> int | None:
    p = _pointer(table_dir)
    if not p.exists():
        return None
    return int(json.loads(p.read_text())["version"])


def write_snapshot(df: DataFrame, table_dir: str) -> int:
    """Write df as the next version and atomically flip the pointer."""
    cur = latest_version(table_dir)
    nxt = (cur or 0) + 1
    target = Path(table_dir) / f"v={nxt}"
    df.write.mode("overwrite").parquet(str(target))
    tmp = _pointer(table_dir).with_suffix(".json.tmp")
    tmp.write_text(
        json.dumps({"version": nxt, "path": str(target), "committed_at": time.time()})
    )
    os.replace(tmp, _pointer(table_dir))  # atomic flip
    return nxt


def read_snapshot(spark: SparkSession, table_dir: str, version: int) -> DataFrame:
    return spark.read.parquet(str(Path(table_dir) / f"v={version}"))


def read_latest(spark: SparkSession, table_dir: str) -> DataFrame:
    v = latest_version(table_dir)
    if v is None:
        raise FileNotFoundError(f"no committed snapshot in {table_dir}")
    return read_snapshot(spark, table_dir, v)


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
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

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
