"""Report & metrics sinks (SURVEY.md §2.1 K3/K4).

The reference writes ``results.json``, ``cv_results.csv``,
``performance_metrics.txt`` and a two-sheet Excel report
(``predict_single_book.py:424-429``: Page_Predictions + Summary).  The
graft's distributed analogue:

* ``write_metrics`` — a metrics **table** (parquet, appendable): one row
  per (job, metric), the queryable form of results.json (north_rule's
  metrics table).

Driver-side by design: reports are small aggregates; only the aggregation
runs distributed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..session import local_frame

__all__ = [
    "write_metrics",
    "read_metrics",
    "roc_points",
    "prediction_histogram",
]

METRICS_SCHEMA = "job_id string, metric string, value double, created_at timestamp"


def write_metrics(
    spark: SparkSession, metrics: dict[str, float], job_id: str, path: str
) -> None:
    """Append one row per (job, metric) to the parquet table at ``path``."""
    rows = [(job_id, k, float(v)) for k, v in metrics.items()]
    local_frame(
        spark, rows, "job_id string, metric string, value double"
    ).withColumn("created_at", F.current_timestamp()).write.mode("append").parquet(path)


def read_metrics(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(METRICS_SCHEMA).parquet(path)


# -- plot-data sinks (K5 data half) ------------------------------------------
# The reference renders 4 PNGs per experiment + 3 analysis plots
# (train_pagewise_xgboost.py:353-464, plot_prediction_distribution_general.py:
# 97-263).  matplotlib is absent here by design; the faithful engine-side
# equivalent is the AGGREGATE each plot consumes, written as a tidy
# DataFrame a notebook can render.  Each is a report-scale aggregate: the
# heavy work (scoring) is distributed; the output is thousands of rows.


def roc_points(
    scored: DataFrame,
    label_col: str = "label",
    score_col: str = "p_nonreadable",
    pos_label: int = 0,
) -> DataFrame:
    """ROC curve points: (threshold, cum_tp, cum_fp, tpr, fpr).

    sklearn ``roc_curve(y, p, pos_label=0)`` semantics (the reference's
    non-readable-positive convention, train_pagewise_xgboost.py:388-405):
    one point per distinct score, prediction positive iff score ≥ threshold.
    Distributed shape: per-score partial aggregation first (the shuffle
    carries one row per distinct score), then a BUCKETED prefix-sum over
    the sorted scores (the ``distributed_rank`` pattern from
    operators/aggregate): an unpartitioned cumulative window would move
    every distinct score to ONE partition — fine for an RF's ~hundreds of
    distinct probabilities, a driver-shaped bottleneck for near-unique
    float scores at 100×.  Here each score-range bucket cumulates in
    parallel and per-bucket totals (a tiny driver list) provide the
    offsets; values are exact integer arithmetic either way.  Class totals
    join as a 1-row broadcast."""
    d = scored.select(
        (F.col(label_col) == pos_label).cast("long").alias("pos"),
        F.col(score_col).cast("double").alias("score"),
    )
    agg = d.groupBy("score").agg(
        F.sum("pos").alias("n_pos"),
        F.sum(1 - F.col("pos")).alias("n_neg"),
    )
    n_buckets = 64
    bounds = sorted(
        set(agg.approxQuantile("score", [i / n_buckets for i in range(1, n_buckets)], 0.001))
    )
    bkt = F.lit(0)
    for bound in bounds:  # monotone in score; ties share a bucket
        bkt = bkt + F.when(F.col("score") > F.lit(bound), 1).otherwise(0)
    bucketed = agg.withColumn("_bkt", bkt)
    # suffix offsets: bucket b's cumsum starts after every HIGHER-score bucket
    totals_by_bkt = {
        r["_bkt"]: (r["tp"], r["fp"])
        for r in bucketed.groupBy("_bkt")
        .agg(F.sum("n_pos").alias("tp"), F.sum("n_neg").alias("fp"))
        .collect()  # bounded: ≤ n_buckets rows
    }
    off, tp_acc, fp_acc = {}, 0, 0
    for b in sorted(totals_by_bkt, reverse=True):
        off[b] = (tp_acc, fp_acc)
        tp_acc += totals_by_bkt[b][0]
        fp_acc += totals_by_bkt[b][1]
    off_df = local_frame(
        agg.sparkSession,
        [(b, t, f) for b, (t, f) in off.items()],
        "_bkt int, _tp_off bigint, _fp_off bigint",
    )
    w = (
        W.partitionBy("_bkt")
        .orderBy(F.desc("score"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = (
        bucketed.join(F.broadcast(off_df), "_bkt")
        .select(
            F.col("score").alias("threshold"),
            (F.sum("n_pos").over(w) + F.col("_tp_off")).alias("cum_tp"),
            (F.sum("n_neg").over(w) + F.col("_fp_off")).alias("cum_fp"),
        )
    )
    totals = F.broadcast(
        d.agg(F.sum("pos").alias("tot_p"), F.sum(1 - F.col("pos")).alias("tot_n"))
    )
    return (
        cum.crossJoin(totals)  # 1-row scalar broadcast, same as tpch_q22
        .select(
            "threshold",
            "cum_tp",
            "cum_fp",
            (F.col("cum_tp") / F.col("tot_p")).alias("tpr"),
            (F.col("cum_fp") / F.col("tot_n")).alias("fpr"),
        )
        .orderBy(F.desc("threshold"))
    )


def prediction_histogram(
    scored: DataFrame,
    label_col: str = "label",
    proba_col: str = "p_nonreadable",
    bins: int = 20,
) -> DataFrame:
    """Per-true-label probability histogram — the data behind
    prediction_distribution_histograms.png (plot_prediction_distribution_
    general.py:170-185): 20 equal bins over [0, 1], one count row per
    (true_label, bin).  One hash aggregation; map-side combinable."""
    b = F.least(F.floor(F.col(proba_col) * bins).cast("int"), F.lit(bins - 1))
    return (
        scored.groupBy(F.col(label_col).alias("true_label"), b.alias("bin"))
        .agg(F.count("*").alias("n"))
        .select(
            "true_label",
            "bin",
            (F.col("bin").cast("double") / bins).alias("bin_lo"),
            ((F.col("bin") + 1).cast("double") / bins).alias("bin_hi"),
            "n",
        )
        .orderBy("true_label", "bin")
    )
