"""Training pipeline: leakage-free split → labeled features → numpy RF.

Mirrors the reference's training flow (SURVEY.md §3.2,
``/root/reference/scripts/train_pagewise_rf.py``): features of the *train*
split only, class-balanced weights, fixed seed=42.  The labeled subset is
small by design (the reference trains on ~500 labeled pages; a crawl-scale
deployment labels a sample, never the corpus), so the feature matrix is
collected to the driver, fitted there, and the model broadcast back for
scoring — the north_star's broadcast-model pattern.

Also provides a tiny deterministic grid search (the reference's
GridSearchCV analogue, ``train_pagewise_rf.py:83-97``) scored by F1 with
pos_label=0 on a 3-fold host-grouped CV.
"""

from __future__ import annotations

import functools
import pickle
from pathlib import Path

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.pages import gen_labels_pdf, gen_pages_pdf
from ..operators.split import with_split
from ..operators.udfs import features_matrix, with_extraction
from .rf import RandomForest

__all__ = ["train_model", "default_model", "save_model", "load_model", "grid_search"]


def train_model(
    pages: DataFrame,
    labels: DataFrame,
    n_estimators: int = 30,
    max_depth: int = 8,
    seed: int = 42,
) -> RandomForest:
    """pages ⋈ labels, train split only → RF fitted at the driver."""
    extracted = with_extraction(pages)
    labeled = (
        extracted.join(F.broadcast(labels.filter(F.col("label").isNotNull())), "url")
        .transform(with_split)
        .filter(F.col("split") == "train")
    )
    X, y = features_matrix(labeled)
    return RandomForest(
        n_estimators=n_estimators, max_depth=max_depth, class_weight="balanced", seed=seed
    ).fit(X, y)


@functools.lru_cache(maxsize=1)
def _default_training_data() -> tuple[np.ndarray, np.ndarray]:
    """Deterministic synthetic training set, computed WITHOUT Spark.

    Pure-Python path (golden extractor + feature kernel on a seed-42
    generated pages table) so the default model is identical no matter
    which process trains it — pytest, bench subprocess, or the driver.
    """
    from ..functions.extract import extract_text
    from ..functions.features import compute_features

    pdf = gen_pages_pdf(1500, seed=42)
    labels = gen_labels_pdf(pdf, seed=42)
    texts = [extract_text(h).text for h in pdf.html]
    X = compute_features(texts)
    y = labels["label"].to_numpy()
    keep = ~np.isnan(y)
    return X[keep], y[keep].astype(np.int32)


@functools.lru_cache(maxsize=1)
def default_model() -> RandomForest:
    """The pinned seed-42 model used by fixtures, entry() and bench.
    Its training data stops every tree at depth 3, below ``max_depth``."""
    X, y = _default_training_data()
    return RandomForest(n_estimators=30, max_depth=8, class_weight="balanced", seed=42).fit(X, y)


def save_model(model: RandomForest, path: str | Path) -> None:
    Path(path).write_bytes(pickle.dumps(model))


def load_model(path: str | Path) -> RandomForest:
    return pickle.loads(Path(path).read_bytes())


def grid_search(
    X: np.ndarray,
    y: np.ndarray,
    groups: np.ndarray,
    param_grid: list[dict] | None = None,
    n_folds: int = 3,
    seed: int = 42,
) -> tuple[dict, list[dict]]:
    """Grouped k-fold grid search, F1 with pos_label=0 (reference scorer,
    ``train_pagewise_rf.py:100``).  Folds are assigned by group hash so no
    group (host/book) straddles folds — the leakage rule again."""
    param_grid = param_grid or [
        {"n_estimators": n, "max_depth": d} for n in (15, 30) for d in (6, 10)
    ]
    # deterministic group → fold
    uniq = np.unique(groups)
    fold_of_group = {g: int(hash_str(g) % n_folds) for g in uniq}
    fold = np.array([fold_of_group[g] for g in groups])
    results = []
    for params in param_grid:
        scores = []
        for f in range(n_folds):
            tr, te = fold != f, fold == f
            if te.sum() == 0 or len(np.unique(y[tr])) < 2:
                continue
            m = RandomForest(seed=seed, class_weight="balanced", **params).fit(X[tr], y[tr])
            pred = m.predict(X[te])
            tp = int(((y[te] == 0) & (pred == 0)).sum())
            fp = int(((y[te] == 1) & (pred == 0)).sum())
            fn = int(((y[te] == 0) & (pred == 1)).sum())
            p = tp / (tp + fp) if tp + fp else 0.0
            r = tp / (tp + fn) if tp + fn else 0.0
            scores.append(2 * p * r / (p + r) if p + r else 0.0)
        results.append({**params, "mean_f1_pos0": float(np.mean(scores)) if scores else 0.0})
    best = max(results, key=lambda d: d["mean_f1_pos0"])
    return best, results


def hash_str(s: str) -> int:
    """Stable string hash (FNV-1a 64) — Python's hash() is salted per process."""
    h = 0xCBF29CE484222325
    for b in s.encode("utf-8"):
        h = ((h ^ b) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h
