"""Golden-extractor unit tests (SURVEY.md §5 rebuild plan: golden fixtures).

Hand-written HTML cases pin the boilerplate heuristics; byte-level checks
pin the determinism contract (NFC normalization, entity table, whitespace
collapse).  The reference analogue of the corrupt-payload cases is the
gray-placeholder fallback at extract_pagewise_features.py:49-69.
"""

from gujarati_readability_pagewise_spark.functions.extract import (
    STATUS_EMPTY,
    STATUS_ERROR,
    STATUS_OK,
    extract_text,
)

BODY = "ગુજરાતી ભાષા એક સુંદર ભાષા છે અને તેમાં ઘણા પુસ્તકો લખાયા છે."
NAV = '<nav><a href="/">home</a> <a href="/a">one</a> <a href="/b">two</a></nav>'


def page(body_html: str) -> bytes:
    return f"<html><head><title>t</title></head><body>{NAV}{body_html}</body></html>".encode()


def test_keeps_long_low_link_block():
    r = extract_text(page(f"<p>{BODY}</p>"))
    assert r.status == STATUS_OK
    assert r.text == BODY


def test_drops_nav_and_footer_link_farms():
    html = page(f'<p>{BODY}</p><footer><a href="/x">x</a> <a href="/y">y</a> links</footer>')
    r = extract_text(html)
    assert "home" not in r.text
    assert "links" not in r.text
    assert BODY in r.text


def test_drops_high_link_density_block():
    farm = " ".join(f'<a href="/l{i}">word{i} more{i}</a>' for i in range(10))
    r = extract_text(page(f"<div>{farm}</div>"))
    assert r.text == ""
    assert r.status == STATUS_EMPTY


def test_short_block_rescued_next_to_content():
    html = page(f"<p>{BODY}</p><p>ટૂંકો ફકરો અહીં.</p>")
    r = extract_text(html)
    assert "ટૂંકો ફકરો અહીં." in r.text


def test_short_block_alone_dropped():
    r = extract_text(page("<p>ટૂંકો ફકરો.</p>"))
    assert r.text == ""


def test_script_style_comments_stripped():
    html = page(f"<script>var a='<p>fake</p>';</script><style>p{{}}</style><!-- c --><p>{BODY}</p>")
    r = extract_text(html)
    assert "fake" not in r.text
    assert r.text == BODY


def test_entities_decoded():
    body = "શબ્દ &amp; બીજું &lt;સરખામણી&gt; અહીં ઘણા શબ્દો છે મિત્રો"
    r = extract_text(page(f"<p>{body}</p>"))
    assert "&" in r.text and "<સરખામણી>" in r.text
    assert "&amp;" not in r.text


def test_numeric_entity():
    body = "અંક &#2693; અને &#x0A86; સાથે લાંબું વાક્ય અહીં છે મિત્રો"
    r = extract_text(page(f"<p>{body}</p>"))
    assert "અ" in r.text and "આ" in r.text


def test_empty_and_none():
    assert extract_text(b"") == ("", [], STATUS_EMPTY)
    assert extract_text(None).status == STATUS_EMPTY


def test_non_utf8_is_error_not_crash():
    r = extract_text(b"\xff\xfe\x00junk\x9c\x80")
    assert r.status in (STATUS_ERROR,)


def test_truncated_html_no_crash():
    full = page(f"<p>{BODY}</p>")
    # byte-level cut may land mid-multibyte-char → 'error' is acceptable;
    # the contract is: never raise
    r = extract_text(full[: len(full) // 2])
    assert r.status in (STATUS_OK, STATUS_EMPTY, STATUS_ERROR)


def test_whitespace_collapsed():
    body = BODY.replace(" ", "\n\t  ")
    r = extract_text(page(f"<p>{body}</p>"))
    assert "\t" not in r.text and "\n\n" not in r.text.replace("\n\n", "", 0)
    assert r.text == BODY


def test_nfc_normalization():
    # decomposed form must normalize to composed (NFC) bytes
    decomposed = "é plus enough words here to pass the threshold okay"
    r = extract_text(page(f"<p>{decomposed}</p>"))
    assert "é" in r.text
    assert "́" not in r.text


def test_multi_block_order_and_spans():
    p1 = "પહેલો ફકરો ઘણા શબ્દો સાથે લાંબો બનાવેલો છે મિત્રો આજે."
    p2 = "બીજો ફકરો પણ ઘણા શબ્દો સાથે લાંબો બનાવેલો છે મિત્રો કાલે."
    r = extract_text(page(f"<p>{p1}</p><div>{p2}</div>"))
    assert r.text == p1 + "\n\n" + p2
    assert r.spans == [p1, p2]


def test_deterministic_bytes():
    html = page(f"<p>{BODY}</p>")
    a = extract_text(html).text.encode()
    for _ in range(5):
        assert extract_text(html).text.encode() == a


def test_factored_block_split_equals_flat_alternation():
    """The factored/atomic block-split pattern must split identically to
    the flat 35-way alternation on adversarial tag soup (atomicity is
    output-neutral: every branch ends on a word char before \\b)."""
    import random
    import re as _re

    from gujarati_readability_pagewise_spark.functions import extract as E

    block_tags = (
        "p|div|h1|h2|h3|h4|h5|h6|li|ul|ol|table|tr|td|th|br|hr|section|article|"
        "aside|nav|footer|header|main|blockquote|pre|figure|figcaption|form|"
        "fieldset|dl|dt|dd|title|body|html"
    )
    flat = _re.compile(r"</?(?:%s)\b[^>]*>" % block_tags, _re.IGNORECASE)
    fact = E._RE_BLOCK_SPLIT
    flat_cs = _re.compile(flat.pattern)
    fact_cs = E._RE_BLOCK_SPLIT_CS
    tags = block_tags.split("|") + ["span", "a", "em", "dtx", "prex", "hx", "h7"]
    rng = random.Random(7)
    cases = []
    for _ in range(400):
        parts = []
        for _ in range(rng.randint(0, 12)):
            t = rng.choice(tags)
            t = t.upper() if rng.random() < 0.3 else t
            form = rng.choice(["<{}>", "</{}>", "<{} x=1>", "<{}", "{}>", "< {}>"])
            parts.append(form.format(t))
            parts.append(rng.choice(["text", "ગુજરાતી", " ", "", "<", ">"]))
        cases.append("".join(parts))
    for c in cases:
        assert flat.split(c) == fact.split(c), c
        assert flat_cs.split(c) == fact_cs.split(c), c


def test_kelvin_sign_forces_ignorecase_path():
    """U+212A KELVIN SIGN is the one codepoint whose NFC form is an ASCII
    uppercase letter ('K'): a tag spelled with it must still be treated
    as a block boundary (the byte-level lowercase gate excludes it)."""
    from gujarati_readability_pagewise_spark.functions.extract import extract_text

    body = "enough plain words to keep this paragraph in the output today"
    tail = "the quoted block also carries enough words to be kept whole"
    html = (f"<p>{body}</p><blocKquote>{tail}</blocKquote>").encode("utf-8")
    r = extract_text(html)
    assert r.status == "ok"
    assert "<" not in r.text  # the Kelvin-spelled tag did not leak through
    assert body in r.text and tail in r.text
    assert len(r.spans) == 2  # blockquote recognized as its own block


def test_kept_spans_is_the_span_rule():
    """``_kept_spans`` against a direct statement of the span rule: a block
    is kept iff it passes the first pass (>= MIN_CONTENT_WORDS words, link
    density <= MAX_LINK_DENSITY), or it clears the rescue floor (>=
    MIN_RESCUE_WORDS words, same density cap) and a neighbour passes the
    FIRST pass.  Word counts and densities straddle every threshold."""
    import random

    from gujarati_readability_pagewise_spark.functions import extract as E

    def first_pass(b):
        return b[1] >= E.MIN_CONTENT_WORDS and b[2] <= E.MAX_LINK_DENSITY

    def rescuable(b):
        return b[1] >= E.MIN_RESCUE_WORDS and b[2] <= E.MAX_LINK_DENSITY

    def rule(blocks):
        kept = []
        for i, b in enumerate(blocks):
            neighbours = blocks[max(i - 1, 0):i] + blocks[i + 1:i + 2]
            if first_pass(b) or (rescuable(b) and any(map(first_pass, neighbours))):
                kept.append(b[0])
        return kept

    assert (E.MIN_RESCUE_WORDS, E.MIN_CONTENT_WORDS) == (3, 8)
    word_counts = (2, 3, 7, 8, 9)
    densities = (0.0, 1.0 / 3.0, 0.34, 1.0)
    rng = random.Random(11)
    n_rescued = n_dropped = 0
    for trial in range(4000):
        blocks = [
            (f"b{trial}.{i}", rng.choice(word_counts), rng.choice(densities))
            for i in range(rng.randint(0, 12))
        ]
        want = rule(blocks)
        assert E._kept_spans(blocks) == want, blocks
        kept = set(want)
        n_rescued += sum(b[0] in kept and not first_pass(b) for b in blocks)
        n_dropped += sum(b[0] not in kept for b in blocks)
    assert n_rescued > 1000 and n_dropped > 1000
