"""Pure-numpy RandomForest: determinism, balance, separability, proba law."""

import numpy as np

from gujarati_readability_pagewise_spark.ml.rf import DecisionTree, RandomForest


def _toy(n=400, seed=0):
    rng = np.random.RandomState(seed)
    X = rng.randn(n, 5)
    y = (X[:, 0] + 0.5 * X[:, 2] > 0).astype(np.int32)
    return X, y


def test_tree_fits_separable():
    X, y = _toy()
    t = DecisionTree(max_depth=6, seed=1).fit(X, y, np.ones(len(y)))
    pred = (t.predict_p0(X) < 0.5).astype(int)
    assert (pred == y).mean() > 0.9


def test_forest_deterministic():
    X, y = _toy()
    a = RandomForest(n_estimators=10, seed=42).fit(X, y).predict_proba(X)
    b = RandomForest(n_estimators=10, seed=42).fit(X, y).predict_proba(X)
    np.testing.assert_array_equal(a, b)


def test_forest_seed_changes_model():
    X, y = _toy()
    a = RandomForest(n_estimators=10, seed=1).fit(X, y).predict_proba(X)
    b = RandomForest(n_estimators=10, seed=2).fit(X, y).predict_proba(X)
    assert not np.array_equal(a, b)


def test_proba_rows_sum_to_one():
    X, y = _toy()
    p = RandomForest(n_estimators=5, seed=0).fit(X, y).predict_proba(X)
    np.testing.assert_allclose(p.sum(axis=1), 1.0)
    assert np.all(p >= 0) and np.all(p <= 1)


def test_balanced_weights_help_minority():
    rng = np.random.RandomState(3)
    X = rng.randn(600, 4)
    y = np.where(X[:, 0] > 1.3, 0, 1).astype(np.int32)  # ~10% class 0
    bal = RandomForest(n_estimators=15, seed=7, class_weight="balanced").fit(X, y)
    pred = bal.predict(X)
    tp = ((y == 0) & (pred == 0)).sum()
    assert tp / max((y == 0).sum(), 1) > 0.5  # recall of minority class


def test_predict_matches_proba_argmax():
    X, y = _toy()
    m = RandomForest(n_estimators=8, seed=5).fit(X, y)
    p = m.predict_proba(X)
    np.testing.assert_array_equal(m.predict(X), (p[:, 1] >= p[:, 0]).astype(np.int32))


def test_forest_to_sql_bit_identical_to_numpy():
    """The decision-path SQL export (the pipeline_score_summary oracle's
    core) must reproduce predict_proba/predict BIT-FOR-BIT on the full
    training matrix: literals parse as DOUBLE (bare 17-digit literals are
    DECIMAL in DuckDB — a 1-ulp drift), tree terms sum left-associatively
    like the numpy ``p0 += tree`` loop."""
    import duckdb
    import pandas as pd

    from gujarati_readability_pagewise_spark.functions.features import FEATURE_NAMES
    from gujarati_readability_pagewise_spark.ml.rf import forest_to_sql
    from gujarati_readability_pagewise_spark.ml.train import (
        _default_training_data,
        default_model,
    )

    m = default_model()
    X, _ = _default_training_data()
    con = duckdb.connect()
    con.register("t", pd.DataFrame(X, columns=FEATURE_NAMES))
    p_sql = forest_to_sql(m, FEATURE_NAMES)
    got = con.execute(f"SELECT {p_sql} AS p FROM t").fetchdf().p.values
    assert (got == m.predict_proba(X)[:, 0]).all()
    lbl = con.execute(
        f"SELECT CASE WHEN (1.0e0 - ({p_sql})) >= ({p_sql}) THEN 1 ELSE 0 END"
        " AS l FROM t"
    ).fetchdf().l.values
    assert (lbl == m.predict(X)).all()


def test_arena_descent_matches_per_tree_walk():
    """predict_proba's fused all-trees arena descent must be bit-identical
    to the per-tree ``predict_p0`` accumulation it replaced — same ``<=``
    descent (NaN features fall right), same float64 addition order."""
    rng = np.random.RandomState(11)
    X = rng.normal(size=(500, 12))
    X[rng.random_sample(X.shape) < 0.05] = np.nan
    y = (rng.random_sample(500) < 0.4).astype(int)
    m = RandomForest(n_estimators=13, max_depth=8, seed=5).fit(X, y)
    p0_ref = np.zeros(len(X), dtype=np.float64)
    for tree in m.trees:
        p0_ref += tree.predict_p0(X)
    p0_ref /= len(m.trees)
    got = m.predict_proba(X)
    assert (got[:, 0] == p0_ref).all()
    assert (got[:, 1] == 1.0 - p0_ref).all()
    # empty batch keeps its shape
    assert m.predict_proba(np.zeros((0, 12))).shape == (0, 2)


def _deepest(tree: DecisionTree, node: int = 0) -> int:
    """Depth of ``tree``'s deepest node below ``node`` (the root is 0)."""
    if tree.feature[node] == -1:  # a leaf
        return 0
    return 1 + max(_deepest(tree, tree.left[node]), _deepest(tree, tree.right[node]))


def test_max_depth_bounds_tree_depth():
    """Random labels keep every node impure, so unbounded trees grow well
    past depth 3; with ``max_depth=d`` each tree's deepest node is at
    exactly depth ``d``."""
    rng = np.random.RandomState(4)
    X = rng.randn(400, 5)
    y = (rng.random_sample(400) < 0.5).astype(np.int32)
    deep = RandomForest(n_estimators=5, max_depth=64, seed=3).fit(X, y)
    assert min(_deepest(t) for t in deep.trees) > 3
    for d in (1, 3):
        m = RandomForest(n_estimators=5, max_depth=d, seed=3).fit(X, y)
        assert [_deepest(t) for t in m.trees] == [d] * 5
