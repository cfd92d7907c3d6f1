"""Payload-kind dispatch + ordered-span layout parse (north_star PDF clause).

The PDF decode is a deterministic, clearly marked fake (no PDF library is a
dependency); the Spark plumbing, dispatch, ordering and byte-consistency
with the golden HTML extractor are real and tested here.
"""

import pandas as pd

from gujarati_readability_pagewise_spark.functions.extract import extract_text
from gujarati_readability_pagewise_spark.functions.layout import (
    Span,
    detect_payload_kind,
    parse_layout_spans,
    with_layout_spans,
)

HTML = (
    b"<html><body><p>a long enough paragraph of readable text to be kept "
    b"as main content by the block scorer</p><p>and a second kept block "
    b"of genuine article prose follows here</p></body></html>"
)
PDF = b"%PDF-1.4\n1 0 obj\n/Page << stream SomePrintableTextInsidePdf >>\n/Page more printable payload text\n%%EOF"
TEXT = b"first paragraph of the plain document\n\nsecond paragraph after a blank line"


def test_detect_kind_magic_bytes():
    assert detect_payload_kind(HTML) == "html"
    assert detect_payload_kind(PDF) == "pdf"
    assert detect_payload_kind(TEXT) == "text"
    assert detect_payload_kind(b"") == "empty"
    assert detect_payload_kind(None) == "empty"
    assert detect_payload_kind(b"  \n <div>x</div>") == "html"
    assert detect_payload_kind(b"\xef\xbb\xbf<p>bom</p>") == "html"


def test_html_spans_byte_consistent_with_golden_extractor():
    kind, spans = parse_layout_spans(HTML)
    assert kind == "html"
    golden = extract_text(HTML).spans
    assert [s.text for s in spans] == golden
    assert [s.order for s in spans] == list(range(len(golden)))


def test_pdf_fake_is_deterministic_and_ordered():
    k1, s1 = parse_layout_spans(PDF)
    k2, s2 = parse_layout_spans(PDF)
    assert k1 == k2 == "pdf"
    assert s1 == s2 and len(s1) >= 2
    # page increments at /Page markers; order resets per page
    pages = sorted({s.page for s in s1})
    for p in pages:
        orders = [s.order for s in s1 if s.page == p]
        assert orders == list(range(len(orders)))


def test_text_paragraph_spans():
    kind, spans = parse_layout_spans(TEXT)
    assert kind == "text"
    assert [s.text for s in spans] == [
        "first paragraph of the plain document",
        "second paragraph after a blank line",
    ]


def test_with_layout_spans_mixed_batch(spark):
    pdf = pd.DataFrame(
        {
            "url": ["u1", "u2", "u3", "u4"],
            "html": [HTML, PDF, TEXT, None],
        }
    )
    df = spark.createDataFrame(pdf, schema="url string, html binary")
    out = {r["url"]: r for r in with_layout_spans(df).collect()}
    assert out["u1"]["kind"] == "html" and out["u1"]["n_spans"] == 2
    assert out["u2"]["kind"] == "pdf" and out["u2"]["n_spans"] >= 2
    assert out["u3"]["kind"] == "text" and out["u3"]["n_spans"] == 2
    assert out["u4"]["kind"] == "empty" and out["u4"]["n_spans"] == 0
    # ordered-span schema: struct fields present and ordered
    spans = out["u1"]["spans"]
    assert spans[0]["order"] == 0 and spans[1]["order"] == 1
    assert spans[0]["text"] == extract_text(HTML).spans[0]
