"""The production job: end-to-end crawl extraction.

Launch it with ``jobs/extract_pipeline.py`` (``spark-submit --py-files
dist/engine.zip``; an application file cannot use relative imports).
One invocation:

1. reads the pages table (input_hint schema),
2. runs the checkpointed, bucketed extract+features+score stage
   (resume-safe: rerunning after a crash completes only missing buckets),
3. writes the host summary (one hash aggregate: its map-side partial
   aggregation hands a hot host's reducer one row per map task),
4. appends eval metrics (if a labels table is given) and job metrics to
   the metrics table.

The manifest (one row per completed bucket, with its job and transform
ids) is the job's commit record: ``rows_out`` is its ``sum(n_rows)``, and
a rerun over a complete manifest writes nothing but its metrics rows.

This is SURVEY.md §7's target architecture as one runnable artifact.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ml.train import default_model
from ..operators.aggregate import binary_metrics, host_summary
from ..operators.udfs import with_extraction_and_score
from .checkpoint import read_manifest, run_checkpointed
from .reports import write_metrics

__all__ = ["run_pipeline"]


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    out_root: str,
    labels: DataFrame | None = None,
    model=None,
    n_buckets: int = 16,
    job_id: str | None = None,
    scrub: bool = False,
) -> dict:
    """``scrub=True`` redacts email/IPv4/phone PII from the extracted text
    inside the same stage (functions/scrub).  Default OFF: the north-rule
    invariant is byte-identical extracted text per url, and redaction is a
    deliberate, opt-in deviation a corpus-release run turns on."""
    job_id = job_id or f"extract-{int(time.time())}"
    model = model or default_model()
    t0 = time.time()

    def _stage(df: DataFrame) -> DataFrame:
        out = with_extraction_and_score(df, model, include_spans=False)
        if scrub:
            from ..functions.scrub import scrub_pii

            out = out.withColumn("text", scrub_pii(F.col("text")))
        return out

    n_done = run_checkpointed(
        pages,
        _stage,
        out_dir=f"{out_root}/extracted",
        manifest_dir=f"{out_root}/manifest",
        n_buckets=n_buckets,
        job_id=job_id,
        # recorded per manifest row; a resume with a flipped scrub flag
        # fails fast instead of silently mixing redacted/raw buckets
        transform_id=f"scrub={scrub}",
    )
    scored = spark.read.parquet(f"{out_root}/extracted")

    summary_dir = f"{out_root}/host_summary"
    # no bucket changed: the committed summary stands.  It is rewritten when
    # no _SUCCESS marker shows it committed (a fresh root, a crash before it
    # landed, or a remote path that os.path cannot see).
    if n_done or not os.path.exists(f"{summary_dir}/_SUCCESS"):
        host_summary(scored).write.mode("overwrite").parquet(summary_dir)
    rows_out = read_manifest(spark, f"{out_root}/manifest").agg(
        F.sum("n_rows")
    ).first()[0] or 0

    metrics: dict[str, float] = {
        "buckets_processed": float(n_done),
        "rows_out": float(rows_out),
        "wall_sec": time.time() - t0,
    }
    if labels is not None:
        labeled = scored.join(labels.select("url", "label"), "url", "left")
        metrics.update(binary_metrics(labeled))
    write_metrics(spark, metrics, job_id, f"{out_root}/metrics")
    return {"job_id": job_id, **metrics}

