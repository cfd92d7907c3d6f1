"""Golden main-content extractor: HTML bytes -> (text, spans, status).

This is THE oracle of the whole engine.  Every Spark path (the Arrow-batched
``mapInArrow`` kernel in ``operators/udfs.py``) must emit text that is
**byte-identical per url** to :func:`extract_text` run standalone on the same
``html`` payload (BASELINE.json ``input_hint``).

Design constraints (SURVEY.md §4.4, §7 "hard parts"):

* **Pure function** of the input bytes.  No locale, no mtime, no dict-order
  dependence, no third-party HTML parser whose heuristics drift across
  versions.  The tokenizer below is a self-contained regex/state-machine.
* **Deterministic unicode policy**: decode UTF-8 with ``errors='replace'``
  (the replacement character is deterministic), then NFC-normalize.
* **Boilerplate strip** follows the published Boilerpipe/jusText family of
  DOM heuristics: segment the page into block-level text blocks, score each
  block by word count and link density (share of words inside ``<a>``),
  keep high-scoring blocks, then run one deterministic smoothing pass that
  rescues short blocks adjacent to kept content.

The reference analogue is the per-page payload decode + batched backbone
featurizer (``/root/reference/scripts/extract_pagewise_features.py:49-69``
decode w/ corrupt-payload fallback; ``:249-348`` batch feature extractor).
There the payload is a scanned page image; here it is Common-Crawl-style
HTML, per the graft's input_hint.
"""

from __future__ import annotations

import re
import unicodedata
from typing import NamedTuple

__all__ = [
    "ExtractResult",
    "extract_text",
    "STATUS_OK",
    "STATUS_EMPTY",
    "STATUS_ERROR",
]

STATUS_OK = "ok"
STATUS_EMPTY = "empty"
STATUS_ERROR = "error"

# --- tokenizer ---------------------------------------------------------------

# Tags whose entire content is never text (script/style/noscript/template/svg).
# Kept as TWO passes: fusing them into one alternation with the backreference
# measured ~15% slower (the backreference disables re's literal-prefilter).
# `[^>]*+>` / `\s*+>` are possessive: their match is unique (only '>' ends
# them), so cutting the backtracking bookkeeping cannot change any match.
# The name alternation is trie-factored like _BLOCK_ALT below (same
# output-neutrality argument: every branch ends on a word char followed by
# \b, so no backtrack into the group can recover a match); the outer group
# still captures the full name so the \1 closing-tag backreference is
# unchanged.  Measured ~15% faster than the flat alternation.
_RE_DROP_CONTENT = re.compile(
    r"<(s(?:cript|tyle|vg)|noscript|template|head)\b[^>]*+>.*?</\1\s*+>",
    re.IGNORECASE | re.DOTALL,
)
_RE_COMMENT = re.compile(r"<!--.*?-->", re.DOTALL)

# Block-level boundaries: these tags split the page into candidate text
# blocks.  The alternation is FACTORED by leading character inside an atomic
# group: sre tries branches left-to-right at every '<', so a flat 35-way
# alternation pays ~35 first-char comparisons per non-block tag, while the
# factored trie fails after one.  Atomicity is output-neutral here: every
# branch ends on a word char and is followed by `\b`, so if the longest
# branch's `\b` fails, any shorter branch ends one word char earlier —
# still followed by a word char — and its `\b` fails too; there is no
# input on which backtracking into the alternation could recover a match
# (pinned by a test comparing against the flat pattern).  Measured ~45%
# faster than the flat form on the bench corpus.
_BLOCK_ALT = (
    r"(?>a(?:side|rticle)|b(?:r|lockquote|ody)|d(?:iv|l|t|d)"
    r"|f(?:orm|ooter|i(?:gure|gcaption|eldset))|h(?:[1-6r]|tml|eader)"
    r"|li|main|nav|ol|p(?:re)?|section|t(?:able|[rdh]|itle)|ul)"
)
_RE_BLOCK_SPLIT = re.compile(r"</?%s\b[^>]*+>" % _BLOCK_ALT, re.IGNORECASE)
_RE_BLOCK_SPLIT_CS = re.compile(_RE_BLOCK_SPLIT.pattern)

# Anchor spans (to measure link density) — non-greedy, no nesting support
# needed: nested <a> is invalid HTML and the crawl templates never emit it.
_RE_ANCHOR = re.compile(r"<a\b[^>]*+>(.*?)</a\s*+>", re.IGNORECASE | re.DOTALL)

# Case-sensitive twins of the tag regexes, used when the whole document is
# already lowercase (`str.islower()` — the overwhelmingly common crawl case):
# IGNORECASE costs ~2x on the alternation-heavy block split, and on an
# all-lowercase document the case-sensitive match is also the HTML5-correct
# one (tag names are case-insensitive over ASCII ONLY, so e.g. `<ſcript>`
# with LATIN SMALL LONG S is *not* a script tag — sre's IGNORECASE
# equivalence table would wrongly treat it as one).
_RE_DROP_CONTENT_CS = re.compile(_RE_DROP_CONTENT.pattern, re.DOTALL)
_RE_ANCHOR_CS = re.compile(_RE_ANCHOR.pattern, re.DOTALL)
_RE_TAG = re.compile(r"<[^>]*>")

# Fixed, closed entity table — never delegate to a library whose table grows.
_ENTITIES = {
    "&amp;": "&",
    "&lt;": "<",
    "&gt;": ">",
    "&quot;": '"',
    "&#39;": "'",
    "&apos;": "'",
    "&nbsp;": " ",
}
_RE_ENTITY = re.compile(r"&(?:#[0-9]{1,7}|#x[0-9a-fA-F]{1,6}|[a-zA-Z]{2,8});")


def _decode_entity(m: re.Match) -> str:
    e = m.group(0)
    if e in _ENTITIES:
        return _ENTITIES[e]
    if e.startswith("&#"):
        try:
            cp = int(e[3:-1], 16) if e[2] in "xX" else int(e[2:-1])
            if 0 < cp <= 0x10FFFF and not (0xD800 <= cp <= 0xDFFF):
                return chr(cp)
        except ValueError:
            pass
    return e  # unknown named entity: keep literal (deterministic)


def _clean_words(raw: str) -> list[str]:
    """Strip residual tags, decode entities, return the whitespace tokens.

    The guards are pure fast-paths: a block with no ``<`` has no tags and a
    block with no ``&`` has no entities, so skipping the regex pass there
    cannot change the output.  Whitespace collapse is ``s.split()`` (C
    loop; treats all unicode whitespace incl. NBSP uniformly); callers
    join with single spaces.  Returning the token list lets the segmenter
    count words without re-splitting the joined text.
    """
    s = _RE_TAG.sub(" ", raw) if "<" in raw else raw
    if "&" in s:
        s = _RE_ENTITY.sub(_decode_entity, s)
    return s.split()


# blocks are plain (text, n_words, link_density) tuples — NamedTuple
# construction measured ~5% of the segment loop at 70k blocks/batch
_Block = tuple


# Boilerpipe-style thresholds (kept as module constants so tests can cite them)
MIN_CONTENT_WORDS = 8      # a block this long with low link density is content
MIN_RESCUE_WORDS = 3       # shorter blocks are rescued only next to content
MAX_LINK_DENSITY = 1.0 / 3.0


def _segment(html: str, lower: bool = False) -> list[tuple]:
    """Split into scored text blocks.  ``lower=True`` (caller checked
    ``html.islower()``) selects the case-sensitive regex twins — identical
    matches on such input, ~2x faster on the alternation-heavy split."""
    drop = _RE_DROP_CONTENT_CS if lower else _RE_DROP_CONTENT
    block_split = _RE_BLOCK_SPLIT_CS if lower else _RE_BLOCK_SPLIT
    anchor = _RE_ANCHOR_CS if lower else _RE_ANCHOR
    # guards are exact fast-paths: a page without "<!--" has no comments
    if "<!--" in html:
        html = _RE_COMMENT.sub(" ", html)
    html = drop.sub(" ", html)
    blocks: list[tuple] = []
    clean = _clean_words
    append = blocks.append
    sub_entity = _RE_ENTITY.sub
    for raw in block_split.split(html):
        if not raw:
            continue
        # Fast path for the common case — a block with no '<' has no inline
        # tags and no anchors, so the whole tag/anchor machinery is skipped
        # (body paragraphs are exactly this after the block split); the
        # branch is output-identical to the general path by construction.
        if "<" not in raw:
            if "&" in raw:
                raw = sub_entity(_decode_entity, raw)
            words = raw.split()
            if not words:
                continue
            append((" ".join(words), len(words), 0.0))
            continue
        # words inside anchors: the anchor regex has ONE capture group, so
        # `split` interleaves outside/inside pieces — one pass yields both
        # the link-word count and the block's full token stream (the
        # anchor open/close tags are split separators here and tag-sub'd
        # to spaces in the old two-pass form: token boundaries agree, and
        # entities cannot span a tag, so per-piece cleaning is identical
        # to cleaning the whole block).  Replaces finditer + a second
        # full-block clean: each char is scanned once, not twice.
        link_words = 0
        if "<a" in raw or (not lower and "<A" in raw):
            words = []
            for i, piece in enumerate(anchor.split(raw)):
                if piece:
                    w = clean(piece)
                    if i & 1:
                        link_words += len(w)
                    words += w
        else:
            words = clean(raw)
        if not words:
            continue
        n_words = len(words)
        if link_words:
            ld = link_words / n_words
            if ld > 1.0:
                ld = 1.0
        else:
            ld = 0.0
        append((" ".join(words), n_words, ld))
    return blocks


def _kept_spans(blocks: list[_Block]) -> list[str]:
    """The kept block texts, in document order: the span rule.

    First pass: a block is content when it has at least
    ``MIN_CONTENT_WORDS`` words and link density at most
    ``MAX_LINK_DENSITY``.  One smoothing pass then also keeps a block with
    at least ``MIN_RESCUE_WORDS`` words and the same link-density cap when
    a neighbour passed the FIRST pass (rescues never chain).  One loop
    emits the kept texts directly, with no label lists to zip."""
    n = len(blocks)
    keep = [
        b[1] >= MIN_CONTENT_WORDS and b[2] <= MAX_LINK_DENSITY for b in blocks
    ]
    out = []
    append = out.append
    for i, b in enumerate(blocks):
        if keep[i]:
            append(b[0])
        elif (
            b[1] >= MIN_RESCUE_WORDS
            and b[2] <= MAX_LINK_DENSITY
            and ((i > 0 and keep[i - 1]) or (i + 1 < n and keep[i + 1]))
        ):
            append(b[0])
    return out


class ExtractResult(NamedTuple):
    text: str
    spans: list[str]      # kept blocks, in document order
    status: str           # ok | empty | error


def extract_text(html: bytes | None) -> ExtractResult:
    """Extract main content from raw HTML bytes.  Pure and deterministic.

    Corrupt-payload policy mirrors the reference's gray-placeholder fallback
    (``extract_pagewise_features.py:66-69``): never raise — emit an empty
    document with ``status='error'`` (undecodable junk) or ``'empty'``.
    """
    if html is None or len(html) == 0:
        return ExtractResult("", [], STATUS_EMPTY)
    try:
        s = html.decode("utf-8")
        status = STATUS_OK
    except UnicodeDecodeError:
        s = html.decode("utf-8", errors="replace")
        status = STATUS_ERROR
    s = unicodedata.normalize("NFC", s)
    # ASCII-only case gate, checked on the BYTES (bytes.islower is an
    # ASCII C loop, ~5x cheaper than str.islower's Unicode scan): tag
    # names are case-insensitive over ASCII ONLY, so the case-sensitive
    # twins are correct whenever the NFC'd document has no ASCII
    # uppercase — non-ASCII cased chars (which str.islower would flag)
    # must NOT force the IGNORECASE path, whose Unicode folding would
    # wrongly match e.g. LATIN SMALL LONG S in a tag name.  One exotic
    # exception: U+212A KELVIN SIGN is the single codepoint whose NFC
    # form IS an ASCII uppercase letter ('K'), so its UTF-8 bytes
    # (E2 84 AA) are excluded explicitly — every other canonical
    # composition maps outside ASCII.
    blocks = _segment(s, html.islower() and b"\xe2\x84\xaa" not in html)
    spans = _kept_spans(blocks)
    if not spans:
        return ExtractResult("", [], STATUS_EMPTY if status == STATUS_OK else status)
    return ExtractResult("\n\n".join(spans), spans, status)
