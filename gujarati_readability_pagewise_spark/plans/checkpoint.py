"""Per-bucket checkpointed, resumable batch execution (north_rule).

The reference resumes by re-discovering the newest artifact directory by
mtime (``/root/reference/scripts/train_pagewise_xgboost.py:88-92`` glob +
latest).  At crawl scale that becomes:

* deterministic **url-hash bucketing**: ``bucket = pmod(xxhash64(url), B)``;
* **idempotent per-bucket writes**: output parquet partitioned by bucket,
  dynamic-partition-overwrite so a re-run of bucket k replaces exactly
  bucket k (no duplicates on retry);
* a **manifest table** appended one row per completed bucket with lineage
  + row/byte metrics (the north_rule's "per-partition lineage + metrics");
* **resume** = read manifest, subtract completed buckets, process the rest.

The completed-bucket set is tiny (≤ B rows) so resume filtering is a
driver-side ``isin`` on the computed bucket column, not an anti-join
shuffle.  The pages input is not stored bucketed, so that filter prunes
nothing at the source: every bucket group rescans the whole input and
drops the rows of other buckets after hashing their urls.

A manifest row's ``wall_sec`` is the group's time from the start of its
transform to the end of its data write, split evenly over the group's
buckets; the manifest write itself is not included.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from ..session import local_frame

__all__ = ["bucket_expr", "run_checkpointed", "read_manifest"]

MANIFEST_SCHEMA = (
    "bucket int, n_rows bigint, n_text_bytes bigint, n_input_bytes bigint, "
    "wall_sec double, job_id string, finished_at timestamp, transform_id string"
)


def bucket_expr(url_col: Column, n_buckets: int) -> Column:
    return F.pmod(F.xxhash64(url_col), F.lit(n_buckets)).cast("int")


def _manifest_absent(manifest_dir: str) -> bool:
    # Probe the filesystem first: a fresh job has no manifest yet, and
    # letting the parquet reader discover that logs a scary (but benign)
    # path-not-found WARN on every cold start.  Non-local filesystems,
    # where os.path can't see the dir, fall through to the reader.
    return "://" not in manifest_dir and not os.path.isdir(manifest_dir)


def read_manifest(spark: SparkSession, manifest_dir: str) -> DataFrame:
    if _manifest_absent(manifest_dir):
        return local_frame(spark, [], MANIFEST_SCHEMA)
    try:
        return spark.read.schema(MANIFEST_SCHEMA).parquet(manifest_dir)
    except Exception:
        return local_frame(spark, [], MANIFEST_SCHEMA)


def run_checkpointed(
    pages: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    out_dir: str,
    manifest_dir: str,
    n_buckets: int = 16,
    buckets_per_job: int = 4,
    job_id: str = "job",
    transform_id: str = "",
) -> int:
    """Run ``transform`` over pages in bucket groups, checkpointing each.

    Returns the number of buckets processed this invocation.  A restarted
    call skips buckets present in the manifest — re-running a partially
    complete job is safe and exactly-once at bucket granularity.

    ``transform_id`` names the transform configuration (e.g. ``scrub=True``)
    and is stored per manifest row; resuming into a manifest written under a
    DIFFERENT recorded transform_id fails fast instead of silently producing
    a mixed corpus where completed buckets carry the old configuration's
    output.  Unrecorded ids — legacy manifests written before this field
    (NULL) and callers passing the default ``""`` — are treated as
    unverifiable-but-compatible: a legacy half-finished run stays resumable
    (the guard cannot prove a mismatch that was never recorded).
    """
    spark = pages.sparkSession
    # one collect serves both the config guard and the resume set; a fresh
    # root has nothing to read, so it launches no job at all
    recorded = (
        []
        if _manifest_absent(manifest_dir)
        else read_manifest(spark, manifest_dir)
        .select("bucket", "transform_id")
        .collect()  # bounded: one row per completed bucket
    )
    prior = {r["transform_id"] for r in recorded} - {None, ""}
    # unrecorded ids cannot prove a mismatch
    if prior and transform_id and prior != {transform_id}:
        raise ValueError(
            f"manifest at {manifest_dir} was written with transform_id="
            f"{sorted(prior)!r}; resuming with "
            f"{transform_id!r} would mix configurations — use a fresh "
            "out_root/manifest or re-run with the original settings"
        )
    done = {r["bucket"] for r in recorded}
    todo = [b for b in range(n_buckets) if b not in done]
    bucketed = pages.withColumn("bucket", bucket_expr(F.col("url"), n_buckets))
    processed = 0
    for g in range(0, len(todo), buckets_per_job):
        group = todo[g : g + buckets_per_job]
        t0 = time.time()
        part = bucketed.filter(F.col("bucket").isin(group))
        result = transform(part)
        if "bucket" not in result.columns:
            result = result.withColumn("bucket", bucket_expr(F.col("url"), n_buckets))
        # idempotent: overwrite exactly the bucket partitions in `group`;
        # a per-write option, so the session's overwrite mode is untouched
        result.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("bucket").parquet(out_dir)
        wall = time.time() - t0
        # Manifest stats come from reading the JUST-WRITTEN bucket
        # partitions back (partition-pruned, 3 columns) — never from
        # re-running `transform`, whose kernel is the expensive stage and
        # must execute exactly once per row (asserted by accumulator in
        # tests).  An Observation riding the write would also work but
        # instantiates the session's non-serializable ObservationManager,
        # which poisons any later closure that captures the session (e.g.
        # Spark ML training summaries).  The read carries the written
        # schema, so no footer-inference job runs, and the aggregate goes
        # straight to the manifest as one file: one action per group.
        written_schema = StructType(
            [result.schema["text"], result.schema["n_bytes"],
             StructField("bucket", IntegerType())]
        )
        (
            spark.read.schema(written_schema)
            .parquet(out_dir)
            .filter(F.col("bucket").isin(group))
            .groupBy("bucket")
            .agg(
                F.count("*").alias("n_rows"),
                F.coalesce(F.sum(F.length("text")), F.lit(0))
                .cast("bigint").alias("n_text_bytes"),
                F.coalesce(F.sum("n_bytes"), F.lit(0))
                .cast("bigint").alias("n_input_bytes"),
                F.lit(float(wall / max(len(group), 1))).alias("wall_sec"),
                F.lit(job_id).alias("job_id"),
                F.lit(transform_id).alias("transform_id"),
                F.current_timestamp().alias("finished_at"),
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(manifest_dir)
        )
        processed += len(group)
    return processed
