"""Payload-kind dispatch + PDF/layout-page parsing into ordered text spans.

The north_star requires the pipeline to "parse PDF/layout pages into ordered
text spans" alongside HTML boilerplate stripping.  The reference's analogue
is the pluggable backbone dispatch on page payloads
(``/root/reference/scripts/extract_pagewise_features.py:78-148`` picks a
featurizer per backbone; ``:49-69`` decodes the payload with a corrupt
fallback).  Here the dispatch key is the payload's magic bytes:

* ``%PDF-``   → PDF parse.  No PDF library is a dependency, so a
  **deterministic fake** (:func:`_parse_pdf_fake`) stands in for the real
  parse: printable-ASCII runs of the raw bytes become spans, one page per
  ``/Page`` occurrence.  The Spark-side plumbing — schema, batching,
  ordering contract — is real and tested; on a cluster, pypdf (pure-python,
  zipimport-safe for ``--py-files``) with page-wise ``extract_text()``
  preserving (page, order) replaces that one function.
* ``<`` (after optional whitespace/BOM) → HTML: delegates to the golden
  extractor's ordered spans (``extract_text(...).spans``), so layout
  output for HTML is byte-consistent with the main pipeline.
* anything else → plain text: paragraphs split on blank lines (or the
  whole text as one span).

Every parser is a pure function of the bytes; corrupt payloads yield zero
spans, never an exception (the crawl throws every byte sequence at this).
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from typing import NamedTuple

from pyspark.sql import DataFrame

from .extract import extract_text

__all__ = [
    "Span",
    "detect_payload_kind",
    "parse_layout_spans",
    "with_layout_spans",
    "LAYOUT_SCHEMA",
]


class Span(NamedTuple):
    page: int
    order: int
    text: str


_BOM = b"\xef\xbb\xbf"
_WS = b" \t\r\n\f\v"


def detect_payload_kind(payload: bytes | None) -> str:
    """'pdf' | 'html' | 'text' | 'empty' by magic bytes — pure, total."""
    if not payload:
        return "empty"
    head = payload[:64]
    if head.startswith(_BOM):
        head = head[3:]
    stripped = head.lstrip(_WS)
    if stripped.startswith(b"%PDF-"):
        return "pdf"
    if stripped.startswith(b"<"):
        return "html"
    return "text"


_PRINTABLE_RUN = re.compile(rb"[\x20-\x7e]{8,}")


def _parse_pdf_fake(payload: bytes) -> list[Span]:
    """Deterministic stand-in: printable-ASCII runs as spans, pages split
    on literal ``/Page`` markers.  NOT a real PDF parse — see module doc."""
    spans: list[Span] = []
    page = 0
    order = 0
    for chunk in payload.split(b"/Page"):
        for m in _PRINTABLE_RUN.finditer(chunk):
            spans.append(Span(page, order, m.group(0).decode("ascii")))
            order += 1
        page += 1
        order = 0
    return spans


_PARA = re.compile(r"\n\s*\n")


def parse_layout_spans(payload: bytes | None) -> tuple[str, list[Span]]:
    """(kind, ordered spans) for any payload.  Pure and total."""
    kind = detect_payload_kind(payload)
    if kind == "empty":
        return kind, []
    if kind == "pdf":
        return kind, _parse_pdf_fake(payload)
    if kind == "html":
        res = extract_text(payload)
        return kind, [Span(0, i, s) for i, s in enumerate(res.spans)]
    # plain text: paragraphs on blank lines
    try:
        s = payload.decode("utf-8", errors="replace")
    except Exception:  # pragma: no cover - decode with replace is total
        return kind, []
    paras = [p.strip() for p in _PARA.split(s)]
    return kind, [Span(0, i, p) for i, p in enumerate(x for x in paras if x)]


LAYOUT_SCHEMA = (
    "url string, kind string, n_spans int, "
    "spans array<struct<page:int, order:int, text:string>>"
)


def with_layout_spans(pages: DataFrame) -> DataFrame:
    """pages (url, html, …) → (url, kind, n_spans, ordered spans).

    One narrow Arrow stage (``mapInPandas``), same execution shape as the
    extraction hot path: the binary payload is pruned after parsing and
    never crosses a shuffle.
    """
    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            kinds = []
            spans_col = []
            for payload in pdf["html"]:
                kind, spans = parse_layout_spans(payload)
                kinds.append(kind)
                spans_col.append([s._asdict() for s in spans])
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "kind": kinds,
                    "n_spans": [len(s) for s in spans_col],
                    "spans": spans_col,
                }
            )

    return pages.select("url", "html").mapInPandas(run, schema=LAYOUT_SCHEMA)
