"""From-scratch, pure-numpy RandomForest classifier.

Why not sklearn: it is not in the runtime image; why not only Spark ML: the
north_star's named pattern is a *broadcast* RandomForest "scored inside the
same Arrow batch" as extraction (SURVEY.md §2.9 E2, reference scoring sites
``/root/reference/scripts/predict_single_book.py:343-344``,
``train_pagewise_rf.py:120-123``).  A numpy forest is trivially picklable,
broadcastable via ``sc.broadcast``, fully deterministic under a fixed seed,
and its ``predict_proba`` is a vectorized array-walk — no per-row Python.

Semantics mirror the reference trainer (``train_pagewise_rf.py:83-97``):
CART/gini trees, bootstrap sampling, sqrt-feature subsampling per split,
``class_weight='balanced'`` option, binary labels {0,1};
``predict_proba(X)[:, 0]`` is the probability of class 0 (non-readable),
the reference's positive class (``pos_label=0``).

Trees are stored as flat arrays (feature, threshold, left, right, proba)
so scoring is an iterative vectorized descent: at each step every row
advances one level via numpy fancy indexing — O(depth) passes over the
batch, zero Python per row.
"""

from __future__ import annotations

import numpy as np

__all__ = ["RandomForest", "DecisionTree"]

_LEAF = -1


class DecisionTree:
    """CART gini tree on float64 features, binary labels, sample weights."""

    def __init__(self, max_depth=8, min_samples_leaf=2, max_features="sqrt", seed=0):
        self.max_depth = max_depth
        self.min_samples_leaf = min_samples_leaf
        self.max_features = max_features
        self.seed = seed
        # flat arrays after fit
        self.feature: np.ndarray | None = None
        self.threshold: np.ndarray | None = None
        self.left: np.ndarray | None = None
        self.right: np.ndarray | None = None
        self.proba0: np.ndarray | None = None  # P(class 0) at node

    # -- fit ------------------------------------------------------------
    def fit(self, X: np.ndarray, y: np.ndarray, w: np.ndarray) -> "DecisionTree":
        rng = np.random.RandomState(self.seed)
        n_feat = X.shape[1]
        if self.max_features == "sqrt":
            k = max(1, int(np.sqrt(n_feat)))
        else:
            k = n_feat
        nodes: list[list] = []  # [feature, threshold, left, right, p0]

        def add_node() -> int:
            nodes.append([_LEAF, 0.0, _LEAF, _LEAF, 0.0])
            return len(nodes) - 1

        def leaf_p0(idx) -> float:
            ww = w[idx]
            tot = ww.sum()
            if tot <= 0:
                return 0.5
            return float(ww[y[idx] == 0].sum() / tot)

        def best_split(idx):
            """Return (gain, feat, thr) or None. Weighted gini."""
            feats = rng.choice(n_feat, size=k, replace=False)
            Xi, yi, wi = X[idx], y[idx], w[idx]
            tot = wi.sum()
            w0_tot = wi[yi == 0].sum()
            best = None
            parent_gini = 1.0 - ((w0_tot / tot) ** 2 + ((tot - w0_tot) / tot) ** 2)
            for f in np.sort(feats):
                order = np.argsort(Xi[:, f], kind="mergesort")
                xs, ys, ws = Xi[order, f], yi[order], wi[order]
                cw = np.cumsum(ws)
                cw0 = np.cumsum(np.where(ys == 0, ws, 0.0))
                # candidate boundaries where x strictly increases
                diff = np.nonzero(xs[1:] > xs[:-1])[0]
                if len(diff) == 0:
                    continue
                lw, lw0 = cw[diff], cw0[diff]
                rw, rw0 = tot - lw, w0_tot - lw0
                valid = (lw > 0) & (rw > 0)
                if not valid.any():
                    continue
                gl = 1.0 - ((lw0 / lw) ** 2 + ((lw - lw0) / lw) ** 2)
                gr = 1.0 - ((rw0 / rw) ** 2 + ((rw - rw0) / rw) ** 2)
                child = (lw * gl + rw * gr) / tot
                gain = parent_gini - child
                gain[~valid] = -np.inf
                j = int(np.argmax(gain))
                if gain[j] <= 1e-12:
                    continue
                thr = 0.5 * (xs[diff[j]] + xs[diff[j] + 1])
                if best is None or gain[j] > best[0]:
                    best = (float(gain[j]), int(f), float(thr))
            return best

        def build(idx, depth) -> int:
            node = add_node()
            nodes[node][4] = leaf_p0(idx)
            if (
                depth >= self.max_depth
                or len(idx) < 2 * self.min_samples_leaf
                or len(np.unique(y[idx])) < 2
            ):
                return node
            split = best_split(idx)
            if split is None:
                return node
            _, f, thr = split
            go_left = X[idx, f] <= thr
            li, ri = idx[go_left], idx[~go_left]
            if len(li) < self.min_samples_leaf or len(ri) < self.min_samples_leaf:
                return node
            nodes[node][0] = f
            nodes[node][1] = thr
            nodes[node][2] = build(li, depth + 1)
            nodes[node][3] = build(ri, depth + 1)
            return node

        build(np.arange(len(X)), 0)
        arr = np.asarray(nodes, dtype=np.float64)
        self.feature = arr[:, 0].astype(np.int32)
        self.threshold = arr[:, 1]
        self.left = arr[:, 2].astype(np.int32)
        self.right = arr[:, 3].astype(np.int32)
        self.proba0 = arr[:, 4]
        return self

    # -- predict ---------------------------------------------------------
    def predict_p0(self, X: np.ndarray) -> np.ndarray:
        """Vectorized descent: every row advances one level per pass."""
        node = np.zeros(len(X), dtype=np.int32)
        active = self.feature[node] != _LEAF
        while active.any():
            f = self.feature[node[active]]
            thr = self.threshold[node[active]]
            rows = np.nonzero(active)[0]
            go_left = X[rows, f] <= thr
            nxt = np.where(go_left, self.left[node[active]], self.right[node[active]])
            node[rows] = nxt
            active = self.feature[node] != _LEAF
        return self.proba0[node]


class RandomForest:
    """Bagged CART forest. ``predict_proba(X)[:, 0]`` = P(non-readable)."""

    def __init__(
        self,
        n_estimators: int = 30,
        max_depth: int = 8,
        min_samples_leaf: int = 2,
        class_weight: str | None = "balanced",
        seed: int = 42,
    ):
        self.n_estimators = n_estimators
        self.max_depth = max_depth
        self.min_samples_leaf = min_samples_leaf
        self.class_weight = class_weight
        self.seed = seed
        self.trees: list[DecisionTree] = []

    def fit(self, X: np.ndarray, y: np.ndarray) -> "RandomForest":
        X = np.asarray(X, dtype=np.float64)
        y = np.asarray(y, dtype=np.int32)
        n = len(X)
        if self.class_weight == "balanced":
            # sklearn convention: n / (n_classes * bincount)
            counts = np.bincount(y, minlength=2).astype(np.float64)
            counts[counts == 0] = 1.0
            cw = n / (2.0 * counts)
            w_full = cw[y]
        else:
            w_full = np.ones(n, dtype=np.float64)
        rng = np.random.RandomState(self.seed)
        self.trees = []
        for t in range(self.n_estimators):
            boot = rng.randint(0, n, size=n)
            tree = DecisionTree(
                max_depth=self.max_depth,
                min_samples_leaf=self.min_samples_leaf,
                seed=int(rng.randint(0, 2**31 - 1)),
            )
            tree.fit(X[boot], y[boot], w_full[boot])
            self.trees.append(tree)
        return self

    def predict_proba(self, X: np.ndarray) -> np.ndarray:
        """All trees descend TOGETHER over one flat node arena.

        The per-tree ``predict_p0`` loop pays mask bookkeeping
        (``active.any()``/``nonzero``) per tree per level; concatenating
        the trees' node arrays (leaves rewritten to self-loops) lets one
        (n_trees × n_rows) index matrix advance every tree's every row
        per pass, bounded by the FOREST'S true depth.  Bit-identical to
        the per-tree walk: same ``<=`` descent (NaN falls right), and p0
        accumulates tree-by-tree in the same float64 addition order.
        Arena build is a few concatenates over ~100 tiny node arrays
        (~50 µs) — rebuilt per call, so there is no cached state to
        invalidate when trees change.
        """
        X = np.asarray(X, dtype=np.float64)
        if not self.trees:
            p0 = np.zeros(len(X), dtype=np.float64)
            return np.stack([p0, 1.0 - p0], axis=1)
        T = len(self.trees)
        offs = np.cumsum([0] + [len(t.feature) for t in self.trees])
        feat = np.concatenate([t.feature for t in self.trees])
        thr = np.concatenate([t.threshold for t in self.trees])
        left = np.concatenate([t.left + o for t, o in zip(self.trees, offs)])
        right = np.concatenate([t.right + o for t, o in zip(self.trees, offs)])
        p0_node = np.concatenate([t.proba0 for t in self.trees])
        leaf = feat == _LEAF
        idx = np.arange(len(feat), dtype=np.int32)
        left = np.where(leaf, idx, left).astype(np.int32)
        right = np.where(leaf, idx, right).astype(np.int32)
        featg = np.where(leaf, 0, feat).astype(np.int32)  # safe gather col
        roots = offs[:-1].astype(np.int32)
        # forest's true depth (max_depth is only an upper bound; trained
        # trees are often far shallower)
        depth = 0
        frontier = roots[feat[roots] != _LEAF]
        while len(frontier):
            depth += 1
            nxt = np.concatenate([left[frontier], right[frontier]])
            frontier = nxt[feat[nxt] != _LEAF]
        n = len(X)
        node = np.repeat(roots, n).reshape(T, n)
        rows = np.broadcast_to(np.arange(n, dtype=np.int64), (T, n))
        for _ in range(depth):
            f = featg[node]
            go_left = X[rows, f] <= thr[node]
            node = np.where(go_left, left[node], right[node])
        p0 = np.zeros(n, dtype=np.float64)
        for t in range(T):
            p0 += p0_node[node[t]]
        p0 /= T
        return np.stack([p0, 1.0 - p0], axis=1)

    def predict(self, X: np.ndarray) -> np.ndarray:
        # class 1 (readable) wins ties, matching argmax over [p0, p1]
        proba = self.predict_proba(X)
        return (proba[:, 1] >= proba[:, 0]).astype(np.int32)


def tree_to_sql(tree: DecisionTree, cols: list[str]) -> str:
    """The tree's decision path as a nested SQL CASE expression.

    Semantics mirror ``predict_p0`` exactly: go left iff
    ``feature <= threshold`` (NaN compares false → right branch in numpy;
    SQL CASE falls to ELSE → right branch too), leaf yields its P(class 0).
    Thresholds/probas are emitted via ``repr(float)`` with an explicit
    ``e0`` exponent: a bare 17-digit literal parses as DECIMAL in DuckDB
    (decimal arithmetic then drifts from float64 by an ulp); the exponent
    forces a DOUBLE parse, and repr round-trips to the identical double.
    """

    def lit(x: float) -> str:
        r = repr(float(x))
        return r if ("e" in r or "inf" in r or "nan" in r) else r + "e0"

    def node(i: int) -> str:
        if tree.feature[i] == _LEAF:
            return lit(tree.proba0[i])
        return (
            f"CASE WHEN {cols[int(tree.feature[i])]} <= "
            f"{lit(tree.threshold[i])} THEN {node(int(tree.left[i]))} "
            f"ELSE {node(int(tree.right[i]))} END"
        )

    return node(0)


def forest_to_sql(model: RandomForest, cols: list[str]) -> str:
    """``P(non-readable)`` as one SQL expression — the decision-path export
    that lets a SQL oracle re-derive broadcast-RF scores bit-for-bit.

    Float-parity with ``predict_proba``: the per-tree CASE terms are summed
    LEFT-ASSOCIATIVELY starting from 0.0 (exactly the ``p0 += tree`` loop)
    and divided by the tree count, so every intermediate double matches the
    numpy accumulation.
    """
    terms = " + ".join(f"({tree_to_sql(t, cols)})" for t in model.trees)
    return f"((0.0e0 + {terms}) / {float(max(len(model.trees), 1))!r}e0)"
