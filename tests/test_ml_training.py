"""Training surface: grouped grid search (E5), sampleBy rebalance (E4),
model persistence (K2), Spark ML CrossValidator parity demo, end-to-end
train_model on the Spark pipeline."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gujarati_readability_pagewise_spark.ml.rf import RandomForest
from gujarati_readability_pagewise_spark.ml.train import (
    default_model,
    grid_search,
    load_model,
    save_model,
    train_model,
)
from gujarati_readability_pagewise_spark.sources.pages import gen_labels_pdf


def _toy(n=300, seed=1):
    rng = np.random.RandomState(seed)
    X = rng.randn(n, 4)
    y = (X[:, 0] > 0).astype(np.int32)
    groups = np.array([f"h{int(i) % 7}" for i in range(n)])
    return X, y, groups


def test_grid_search_grouped_deterministic():
    X, y, g = _toy()
    best1, all1 = grid_search(X, y, g, n_folds=3)
    best2, all2 = grid_search(X, y, g, n_folds=3)
    assert best1 == best2 and all1 == all2
    assert best1["mean_f1_pos0"] > 0.7
    assert len(all1) == 4  # default 2x2 grid


def test_model_save_load_roundtrip(tmp_path):
    X, y, _ = _toy()
    m = RandomForest(n_estimators=5, seed=3).fit(X, y)
    p = tmp_path / "rf.pkl"
    save_model(m, p)
    m2 = load_model(p)
    np.testing.assert_array_equal(m.predict_proba(X), m2.predict_proba(X))


def test_sample_by_rebalance(spark):
    """E4 random under-sampling via sampleBy with per-class fractions."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    counts = {r["label"]: r["count"] for r in emb.groupBy("label").count().collect()}
    target = min(counts.values())
    fractions = {lbl: min(1.0, target / n) for lbl, n in counts.items()}
    balanced = emb.sampleBy("label", fractions, seed=42)
    out = {r["label"]: r["count"] for r in balanced.groupBy("label").count().collect()}
    assert max(out.values()) < 2.2 * min(out.values())  # roughly balanced
    # seeded → deterministic
    again = emb.sampleBy("label", fractions, seed=42).count()
    assert balanced.count() == again


def test_spark_ml_crossvalidator_demo(spark):
    """E5 analogue on Spark ML: RF + 2-param grid + 3-fold CV on embeddings."""
    pytest.importorskip("pyspark.ml")
    from pyspark.ml.classification import RandomForestClassifier
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select(
            array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
            F.col("label").cast("double").alias("label"),
        )
    )
    rf = RandomForestClassifier(numTrees=5, maxDepth=4, seed=42)
    grid = ParamGridBuilder().addGrid(rf.maxDepth, [3, 5]).build()
    cv = CrossValidator(
        estimator=rf,
        estimatorParamMaps=grid,
        evaluator=MulticlassClassificationEvaluator(metricName="accuracy"),
        numFolds=3,
        seed=42,
    )
    model = cv.fit(emb)
    assert len(model.avgMetrics) == 2
    preds = model.transform(emb)
    assert preds.filter(F.col("prediction").isNotNull()).count() == emb.count()


def test_train_model_end_to_end(spark, pages_df, pages_pdf):
    labels = spark.createDataFrame(gen_labels_pdf(pages_pdf, seed=42))
    m = train_model(pages_df, labels, n_estimators=10, max_depth=6)
    assert isinstance(m, RandomForest) and len(m.trees) == 10
    # trained model generalizes on the full set
    from gujarati_readability_pagewise_spark.operators.udfs import (
        with_extraction_and_score,
    )

    scored = with_extraction_and_score(pages_df, m).join(
        spark.createDataFrame(gen_labels_pdf(pages_pdf, seed=42))[["url", "label"]],
        "url",
    )
    ok = scored.filter(
        F.col("label").isNotNull() & (F.col("pred_label") == F.col("label"))
    ).count()
    labeled = scored.filter(F.col("label").isNotNull()).count()
    assert ok / labeled > 0.8


def test_default_model_stable_fingerprint():
    """The pinned seed-42 model must be identical across processes/sessions:
    fingerprint its structure (FIXTURES.md §5 'pinned seed-42 model')."""
    import hashlib

    m = default_model()
    fp = sum(len(t.feature) for t in m.trees)
    h = hashlib.sha256()
    for t in m.trees:
        for arr in (t.feature, t.threshold, t.left, t.right, t.proba0):
            h.update(arr.tobytes())
    proba = m.predict_proba(np.zeros((1, 12)))
    assert len(m.trees) == 30
    assert fp == 144
    assert h.hexdigest() == (
        "789c95e437d29ca6fa25e7c7704c34756a1d06e22d7fc78ad3385b39b23f0550"
    )
    assert proba.shape == (1, 2) and abs(proba.sum() - 1.0) < 1e-12
