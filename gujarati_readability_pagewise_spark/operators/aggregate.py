"""Aggregation operators: host summary, book decision, eval metrics.

Ports of SURVEY.md §2.4 — the per-book Summary sheet
(``/root/reference/scripts/predict_single_book.py:377-413``), the book-level
mean-probability>0.5 decision (``:391-392``) and the scalar metrics with
pos_label=0 (``train_pagewise_xgboost.py:245-266``).  The confusion matrix
is the contract query ``a4_confusion_matrix``; the verify_metrics
self-consistency recompute (``scripts/verify_metrics.py:30-51``) is the
test oracle of ``binary_metrics``.

All are single hash-aggregations (map-side partial + final) — at 100 TB the
only wide edge, keyed by host.  The partial aggregation already bounds a
hot host: its reducer receives one row per map task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..session import local_frame
from .split import host_of

__all__ = [
    "host_summary",
    "binary_metrics",
    "histogram_quantiles",
]


def host_summary(scored: DataFrame) -> DataFrame:
    """A2+A3: per-host rollup of the scored pages (Summary sheet)."""
    return scored.withColumn("host", host_of(F.col("url"))).groupBy("host").agg(
        F.count("*").alias("total_pages"),
        F.avg("p_nonreadable").alias("avg_p"),
        F.stddev_samp("p_nonreadable").alias("std_p"),
        F.min("p_nonreadable").alias("min_p"),
        F.max("p_nonreadable").alias("max_p"),
        # book decision: mean prob of NON-readable > 0.5 → host flagged 0
        F.when(F.avg("p_nonreadable") > 0.5, F.lit(0)).otherwise(F.lit(1)).alias(
            "host_prediction"
        ),
    )


def binary_metrics(scored: DataFrame, label_col: str = "label") -> dict[str, float]:
    """A5: accuracy / precision / recall / F1 with pos_label=0 (non-readable
    is the positive class, the reference's convention) — derived from one
    aggregation pass, no collect of row data."""
    row = (
        scored.filter(F.col(label_col).isNotNull())
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when((F.col(label_col) == 0) & (F.col("pred_label") == 0), 1).otherwise(0)).alias("tp"),
            F.sum(F.when((F.col(label_col) == 1) & (F.col("pred_label") == 0), 1).otherwise(0)).alias("fp"),
            F.sum(F.when((F.col(label_col) == 0) & (F.col("pred_label") == 1), 1).otherwise(0)).alias("fn"),
            F.sum(F.when((F.col(label_col) == 1) & (F.col("pred_label") == 1), 1).otherwise(0)).alias("tn"),
        )
        .collect()[0]
    )
    n, tp, fp, fn, tn = row["n"], row["tp"], row["fp"], row["fn"], row["tn"]
    precision = tp / (tp + fp) if (tp + fp) else 0.0
    recall = tp / (tp + fn) if (tp + fn) else 0.0
    f1 = 2 * precision * recall / (precision + recall) if (precision + recall) else 0.0
    return {
        "n": float(n),
        "accuracy": (tp + tn) / n if n else 0.0,
        "precision_pos0": precision,
        "recall_pos0": recall,
        "f1_pos0": f1,
    }


def distributed_rank(
    df: DataFrame, score: str, tiebreak: str, n_buckets: int = 64
) -> DataFrame:
    """Global dense row-rank over (score, tiebreak) WITHOUT a single-partition
    window.

    A global ``row_number()`` forces all rows into one partition (Spark even
    warns).  Scalable form: range-bucket the scores (boundaries from
    ``approxQuantile`` — tiny driver list), rank inside each bucket with a
    bucket-partitioned window (parallel), then add per-bucket prefix counts
    (computed from one small aggregate).  Ordering is consistent because
    bucket assignment is monotone in score and ties share a bucket.
    """
    spark = df.sparkSession
    probs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = sorted(set(df.approxQuantile(score, probs, 0.001)))
    if bounds:
        conds = F.lit(0)
        for b in bounds:
            conds = conds + F.when(F.col(score) > F.lit(b), 1).otherwise(0)
        bucketed = df.withColumn("_bkt", conds)
    else:
        bucketed = df.withColumn("_bkt", F.lit(0))
    counts = {
        r["_bkt"]: r["n"]
        for r in bucketed.groupBy("_bkt").agg(F.count("*").alias("n")).collect()
    }
    offsets, acc = {}, 0
    for b in sorted(counts):
        offsets[b] = acc
        acc += counts[b]
    off_df = local_frame(
        spark, [(b, o) for b, o in offsets.items()], "_bkt int, _off bigint"
    )
    w = W.partitionBy("_bkt").orderBy(F.asc(score), F.asc(tiebreak))
    return (
        bucketed.join(F.broadcast(off_df), "_bkt")
        .withColumn("rk", (F.row_number().over(w) + F.col("_off")).cast("long"))
        .drop("_bkt", "_off")
    )


def histogram_quantiles(
    df: DataFrame,
    col: str,
    probs_permille: tuple[int, ...] = (500, 900, 990),
    n_buckets: int = 256,
) -> DataFrame:
    """Fixed-bucket histogram quantiles — the percentile you can AFFORD at
    10^12 rows.

    Exact ``percentile()`` collects every value into the aggregation
    buffer (fine per-order in a6, impossible for a global percentile over
    a crawl).  ``approx_percentile`` is cheap but its sketch is
    engine-private (never oracle-checkable) and merge-order dependent.
    This is the classic fixed-histogram sketch: one min/max pass, one
    integer bucket-count pass (map-side combinable, mergeable across
    partitions/days/runs), quantile = lower edge of the first bucket whose
    cumulative count reaches ceil(p·n).  Deterministic, partitioning-
    independent, and exact integer arithmetic until the final edge
    interpolation — so a SQL oracle matches bit-for-bit.  Max error is one
    bucket width (range/n_buckets).

    Probabilities are integer per-mille so the rank threshold
    ``(n·p + 999) div 1000`` stays in exact integer arithmetic.
    Output: (p_permille, bucket, cum_count, est_value).
    """
    spark = df.sparkSession
    mm = df.agg(
        F.min(col).alias("lo"), F.max(col).alias("hi"), F.count(col).alias("n")
    )
    # NULLs are excluded from n = count(col); they must be excluded from the
    # buckets too, or the NULL bucket (which Spark sorts FIRST ascending and
    # DuckDB sorts LAST) inflates every cumulative count and shifts quantiles.
    bounded = (
        df.select(col).filter(F.col(col).isNotNull()).crossJoin(F.broadcast(mm))
    )  # 1-row scalar join
    bkt = F.least(
        F.floor(
            (F.col(col) - F.col("lo"))
            / ((F.col("hi") - F.col("lo")) / F.lit(float(n_buckets)))
        ).cast("int"),
        F.lit(n_buckets - 1),
    )
    counts = (
        bounded.withColumn(
            "bucket", F.when(F.col("hi") == F.col("lo"), 0).otherwise(bkt)
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("cnt"))
    )
    cum = counts.withColumn(
        "cum_count",
        F.sum("cnt").over(
            W.orderBy("bucket").rowsBetween(W.unboundedPreceding, W.currentRow)
        ),  # ≤ n_buckets rows total: the tiny-window exception is by design
    )
    probs = local_frame(spark, [(p,) for p in probs_permille], "p_permille int")
    hit = (
        cum.crossJoin(F.broadcast(probs))
        .crossJoin(F.broadcast(mm))
        .filter(
            F.col("cum_count")
            >= F.expr("(n * p_permille + 999) div 1000")
        )
        .groupBy("p_permille")
        .agg(F.min(F.struct("bucket", "cum_count")).alias("m"))
        .select("p_permille", F.col("m.bucket").alias("bucket"), F.col("m.cum_count").alias("cum_count"))
    )
    return (
        hit.crossJoin(F.broadcast(mm))
        .select(
            "p_permille",
            "bucket",
            "cum_count",
            (
                F.col("lo")
                + F.col("bucket") * ((F.col("hi") - F.col("lo")) / F.lit(float(n_buckets)))
            ).alias("est_value"),
        )
    )
