"""Report/metrics sinks: metrics table roundtrip and plot-data tables."""

from pyspark.sql import functions as F

from gujarati_readability_pagewise_spark.plans.reports import (
    read_metrics,
    write_metrics,
)


def test_metrics_table_roundtrip(spark, tmp_path):
    p = str(tmp_path / "metrics")
    write_metrics(spark, {"accuracy": 0.9, "f1_pos0": 0.8}, "job1", p)
    write_metrics(spark, {"accuracy": 0.95}, "job2", p)
    m = read_metrics(spark, p)
    assert m.count() == 3
    assert m.filter(
        (F.col("job_id") == "job1") & (F.col("metric") == "accuracy")
    ).collect()[0]["value"] == 0.9
    assert m.filter(F.col("created_at").isNotNull()).count() == 3


def test_roc_points_matches_numpy_reference(spark):
    """Cumulative TP/FP math vs a direct numpy computation of
    sklearn-roc_curve semantics (pos_label=0, predict positive iff
    score >= threshold)."""
    import numpy as np
    import pandas as pd

    from gujarati_readability_pagewise_spark.plans.reports import roc_points

    rng = np.random.default_rng(11)
    y = rng.integers(0, 2, size=400)
    p = np.round(rng.random(size=400), 2)  # force threshold ties
    scored = spark.createDataFrame(pd.DataFrame({"label": y, "p": p}))
    got = roc_points(scored, "label", "p", pos_label=0).toPandas()

    thresholds = np.sort(np.unique(p))[::-1]
    pos = (y == 0).astype(int)
    P, N = pos.sum(), (1 - pos).sum()
    for t in (thresholds[0], thresholds[len(thresholds) // 2], thresholds[-1]):
        pred_pos = p >= t
        row = got[got.threshold == t].iloc[0]
        assert row.cum_tp == (pos & pred_pos).sum()
        assert row.cum_fp == ((1 - pos).astype(bool) & pred_pos).sum()
        assert abs(row.tpr - (pos & pred_pos).sum() / P) < 1e-12
        assert abs(row.fpr - ((1 - pos).astype(bool) & pred_pos).sum() / N) < 1e-12
    # monotone non-decreasing rates as the threshold drops
    assert (got.tpr.diff().dropna() >= 0).all()
    assert (got.fpr.diff().dropna() >= 0).all()
    assert got.iloc[-1].tpr == 1.0 and got.iloc[-1].fpr == 1.0


def test_prediction_histogram_partitions_all_rows(spark):
    import numpy as np
    import pandas as pd

    from gujarati_readability_pagewise_spark.plans.reports import (
        prediction_histogram,
    )

    rng = np.random.default_rng(12)
    pdf = pd.DataFrame(
        {"label": rng.integers(0, 2, 500), "p": rng.random(500)}
    )
    pdf.loc[0, "p"] = 1.0  # boundary: p == 1.0 must land in the last bin
    h = prediction_histogram(
        spark.createDataFrame(pdf), "label", "p", bins=20
    ).toPandas()
    assert h.n.sum() == 500
    assert h.bin.between(0, 19).all()
    assert (h.bin_hi - h.bin_lo - 0.05).abs().max() < 1e-12

