"""Readability feature kernel: extracted text -> fixed-length float vector.

The graft analogue of the reference's backbone embedding (image -> 384/1280-d
vector, ``/root/reference/scripts/extract_pagewise_features.py:249-348``):
page text in, fixed-order ``FEATURE_NAMES``-dimensional float64 vector out,
computed for a whole Arrow batch at once (numpy passes over one codepoint
decode of the batch — never a per-row Spark UDF).

Gujarati specifics:

* **Akshara count** — orthographic syllables over the Gujarati block
  U+0A80–U+0AFF, segmented by the standard Indic cluster grammar
  (consonant + optional nukta, joined by virama U+0ACD, then optional
  matras / vowel signs / modifiers), implemented as one precompiled regex.
* **Sentence segmentation** — ``.`` ``!`` ``?`` ``…`` plus the dandas
  U+0964/U+0965 used in Gujarati prose.
* **Script purity** — share of letters that are Gujarati (quality signal:
  boilerplate and mojibake pull this down).
"""

from __future__ import annotations

import re

import numpy as np

__all__ = ["FEATURE_NAMES", "N_FEATURES", "compute_features"]

# Fixed feature order — tests and the RF model pin against this list.
FEATURE_NAMES = [
    "n_chars",
    "n_words",
    "n_sentences",
    "n_aksharas",
    "type_token_ratio",
    "punct_ratio",
    "script_purity",
    "digit_ratio",
    "mean_word_len",
    "mean_sentence_words",
    "stopword_ratio",
    "gujarati_char_ratio",
]
N_FEATURES = len(FEATURE_NAMES)

# --- Gujarati akshara (orthographic syllable) grammar -----------------------
_C = "[ક-હ]"          # consonants KA..HA
_NUKTA = "઼?"
_VIRAMA = "્"
_MATRA = "[ા-ૌ]?"     # dependent vowel signs
_MOD = "[ઁ-ઃૐ]*"  # candrabindu/anusvara/visarga, om
_INDEP_V = "[અ-ઔ]"    # independent vowels
# cluster = (C nukta (virama C nukta)* matra mods) | independent vowel + mods
_AKSHARA = re.compile(
    f"(?:{_C}{_NUKTA}(?:{_VIRAMA}{_C}{_NUKTA})*{_VIRAMA}?{_MATRA}{_MOD})"
    f"|(?:{_INDEP_V}{_MOD})"
)

_PUNCT = re.compile(r"[!-/:-@\[-`{-~।॥…“”‘’]")
_DIGIT = re.compile(r"[0-9૦-૯]")
_GUJ = re.compile(r"[઀-૿]")
_LETTER = re.compile(r"[^\W\d_]", re.UNICODE)
_GUJ_LETTER = re.compile(r"[અ-હૐૠૡ]")
# ALL whitespace, not just U+0020: extracted text joins blocks with "\n\n"
# and words split on every Unicode whitespace, so mean_word_len's
# non-whitespace numerator must subtract the same class.
_SPACE = re.compile(r"\s")

# Small closed stopword list (top Gujarati function words + English fillers).
_STOPWORDS = frozenset(
    [
        "છે", "અને", "તે", "એક", "આ", "માં", "ના", "ની", "નો", "નું", "પર",
        "થી", "કે", "હતી", "હતું", "હતા", "પણ", "જ", "તો", "એ", "માટે", "સાથે",
        "the", "a", "an", "and", "or", "of", "in", "on", "to", "is", "are",
        "was", "for", "with", "that", "this", "it", "as", "at", "by",
    ]
)


# --- single-char class counting via codepoint table -------------------------
# Counting `[class]` occurrences with a regex re-scans the batch once per
# class; instead we decode the whole batch to a uint32 codepoint array ONCE
# and evaluate each class on the (few hundred) unique codepoints with the
# *same compiled regex* — semantics are identical by construction, but the
# per-character work is a numpy table lookup.  This is the hot path of the
# engine (the reference's analogue is the batched backbone forward pass).

_BMP = 0x10000
# keyed by the pattern OBJECT (default identity hash) — keeping the pattern
# referenced from the key prevents the id-reuse-after-GC hazard of id() keys
_TABLE_CACHE: dict["re.Pattern", np.ndarray] = {}


def _table(pat: "re.Pattern") -> np.ndarray:
    """BMP membership table for a single-char class regex (cached per process)."""
    tab = _TABLE_CACHE.get(pat)
    if tab is None:
        tab = np.fromiter(
            (pat.fullmatch(chr(i)) is not None for i in range(_BMP)),
            dtype=bool,
            count=_BMP,
        )
        _TABLE_CACHE[pat] = tab
    return tab


_MASK_CACHE: dict[tuple, np.ndarray] = {}


def _mask_table(patterns: dict[str, "re.Pattern"]) -> np.ndarray:
    """All class tables packed into one uint8 bitmask table (bit b =
    class b, up to 8 classes) — one gather serves them all."""
    key = tuple(patterns.values())
    tab = _MASK_CACHE.get(key)
    if tab is None:
        assert len(patterns) <= 8
        tab = np.zeros(_BMP, dtype=np.uint8)
        for b, pat in enumerate(patterns.values()):
            tab |= _table(pat).astype(np.uint8) << np.uint8(b)
        _MASK_CACHE[key] = tab
    return tab


class _CpView:
    """The batch decoded to a uint32 codepoint array ONCE, shared by every
    per-character pass (class histogram, sentence runs, akshara starts).

    ``cp_lo`` clamps astral codepoints to 0 for BMP table lookups (chr(0)
    is in none of the classes, which is also the correct semantics for
    the run/cluster scans: an astral char breaks a virama chain exactly
    like any other out-of-class char).  ``starts`` marks each doc's first
    position so shifted-neighbor logic never reads across a doc boundary.
    """

    __slots__ = ("n", "lens", "cp", "cp_lo", "doc_id", "astral_idx", "starts", "texts")

    def __init__(self, texts: list[str]):
        self.n = len(texts)
        self.texts = texts
        try:
            joined = "".join(texts)
        except TypeError:
            # only the failing batch pays for the scan that names the culprit
            i, bad = next((i, s) for i, s in enumerate(texts) if not isinstance(s, str))
            raise TypeError(
                f"compute_features: texts[{i}] is {type(bad).__name__}, not str"
            ) from None
        self.cp = np.frombuffer(joined.encode("utf-32-le"), dtype=np.uint32)
        self.lens = np.array([len(s) for s in texts], dtype=np.int64)
        # fast path: no astral codepoint in the batch (the overwhelmingly
        # common case) — cp_lo aliases cp, skipping the where() copy and
        # the astral index scan; one max() reduce decides it
        if len(self.cp) == 0 or int(self.cp.max()) < _BMP:
            self.astral_idx = np.empty(0, dtype=np.int64)
            self.cp_lo = self.cp
        else:
            self.astral_idx = np.nonzero(self.cp >= _BMP)[0]
            self.cp_lo = np.where(self.cp >= _BMP, 0, self.cp)
        # int32: a batch never holds 2^25+ docs, and the narrower repeat +
        # index arithmetic halves the memory traffic of the hot histogram
        self.doc_id = np.repeat(np.arange(self.n, dtype=np.int32), self.lens)
        self.starts = np.zeros(len(self.cp), dtype=bool)
        if len(self.cp):
            offs = np.cumsum(self.lens)[:-1]
            self.starts[0] = True
            self.starts[offs[offs < len(self.cp)]] = True


def _prev(mask: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """mask shifted one position right, False (0) at each doc's first char.

    Works on bool masks and on packed uint8 bitmasks alike — shifting the
    PACKED mask once and extracting bits from the shifted copy is the same
    as shifting each extracted bit separately (shift and bit-extract
    commute), which is how ``compute_features`` shares two shifted copies
    across all five scan classes instead of shifting five times."""
    out = np.empty_like(mask)
    out[0] = False
    out[1:] = mask[:-1]
    out[starts] = False
    return out


# Single-char classes for the fused numpy passes below — built from the
# SAME grammar fragments as the scanning regexes they replace, so the
# membership tables are identical by construction.
_SENT_CH = re.compile(r"[.!?…।॥]")
_C_CH = re.compile(_C)
_NUKTA_CH = re.compile("઼")
_VIRAMA_CH = re.compile(_VIRAMA)
_INDEP_CH = re.compile(_INDEP_V)


# The histogram classes and a second packed uint8 table for the scan
# classes: sentence runs, the akshara grammar, and the whitespace bit for
# the word-boundary scan.
# Two uint8 gathers per batch replace the three separate table lookups
# (a packed uint16 variant measured SLOWER: every bit extraction then
# runs 2-byte lanes with an extra astype pass; uint8 masks stay 1-byte
# and 0/1 uint8 arrays can be `.view(bool)`-ed for free).
_CLASS_PATTERNS = {
    "punct": _PUNCT,
    "digit": _DIGIT,
    "guj": _GUJ,
    "letter": _LETTER,
    "guj_letter": _GUJ_LETTER,
    "space": _SPACE,
}
_SCAN_PATTERNS = {
    "sent": _SENT_CH,
    "c": _C_CH,
    "nukta": _NUKTA_CH,
    "virama": _VIRAMA_CH,
    "indep": _INDEP_CH,
    "space": _SPACE,
}


def _astral_fix(combo: np.ndarray, view: _CpView, patterns: dict) -> None:
    """Recompute the packed mask for each astral index (BMP table maps
    them to chr(0) = no class; only classes that can match astral chars
    — `letter` — ever flip a bit)."""
    pats = list(patterns.values())
    for i in view.astral_idx:
        ch = chr(int(view.cp[i]))
        m = 0
        for b, pat in enumerate(pats):
            if pat.fullmatch(ch) is not None:
                m |= 1 << b
        combo[i] = m


def compute_features(texts: list[str]) -> np.ndarray:
    """Vectorized kernel: list[str] -> float64 array (len(texts), N_FEATURES).

    One utf-32 decode (`_CpView`) + two packed class-table gathers feed
    the class histogram, the sentence-run count, the akshara cluster
    count, and the word-boundary scan — no per-row Spark UDF (input_hint
    mandate), no per-doc Python loops.

    The input is a plain ``list`` of ``str`` (the Arrow kernel already
    holds the texts as one); anything else raises ``TypeError`` — a
    non-list argument at entry, a non-``str`` element naming its index.
    """
    if not isinstance(texts, list):
        raise TypeError(
            f"compute_features takes a list of str, not {type(texts).__name__}"
        )
    n = len(texts)
    out = np.zeros((n, N_FEATURES), dtype=np.float64)

    # ONE codepoint decode of the batch feeds every per-character pass.
    view = _CpView(texts)
    starts = view.starts
    doc_id = view.doc_id
    n_chars = view.lens.astype(np.float64)
    if len(view.cp):
        # class histogram: each char maps to the bitmask of the classes
        # it belongs to (classes overlap, e.g. guj ⊇ guj_letter), so
        # (doc_id << 6) | mask is a unique bin and one bincount yields
        # the (doc × mask) histogram; a (64 × 6) matmul unpacks it to
        # per-class counts
        combo = _mask_table(_CLASS_PATTERNS)[view.cp_lo]  # uint8
        if len(view.astral_idx):
            _astral_fix(combo, view, _CLASS_PATTERNS)
        hist = np.bincount(
            doc_id * np.int32(64) + combo, minlength=n << 6
        )
        hist = hist.reshape(n, 64).astype(np.float64)
        bitmat = ((np.arange(64)[:, None] >> np.arange(6)[None, :]) & 1).astype(
            np.float64
        )
        counts = hist @ bitmat
        n_punct = counts[:, 0]
        n_digit = counts[:, 1]
        n_guj = counts[:, 2]
        n_letter = counts[:, 3]
        n_guj_letter = counts[:, 4]
        n_space = counts[:, 5]
        # scan classes: one packed uint8 gather; the shifted-neighbor
        # logic runs on TWO shared shifted copies of the packed mask
        # (p1 = previous char's mask, p2 = the one before) instead of
        # shifting each extracted bit separately — shift and bit-extract
        # commute (see `_prev`), so every per-class identity below is the
        # old five-shift form verbatim, just read through p1/p2.  Bits:
        # sent=1, c=2, nukta=4, virama=8, indep=16, space=32.  (astral
        # chars keep the chr(0) lookup = no scan class: they end a
        # sentence run and break a virama chain like any other char)
        m2 = _mask_table(_SCAN_PATTERNS)[view.cp_lo]  # uint8
        p1 = _prev(m2, starts)
        p2 = _prev(p1, starts)
        # sentence runs: starts of maximal [.!?…।॥]+ runs
        # (in sent class now, predecessor not: bit 0 of m2 & ~p1)
        starts_run = (m2 & ~p1) & 1
        n_sent = np.bincount(
            doc_id[starts_run.view(np.bool_)], minlength=n
        ).astype(np.float64)
        # akshara cluster starts = the `_AKSHARA` findall count.  Every
        # match begins at an independent vowel or at a consonant NOT
        # absorbed by the previous cluster's (virama C nukta?)* tail, i.e.
        # not right after an "attached" virama (one that directly follows
        # a consonant or consonant+nukta); matras and modifiers only
        # extend a match.
        # attached_virama = virama & (prev_c | (prev_nukta & prev2_c)),
        # computed in bit 3: (p1 << 2) moves prev-c (bit 1) to bit 3;
        # (p2 << 1) & 4 moves prev2-c to bit 2, & p1 ANDs it with
        # prev-nukta (bit 2), << 1 lifts the result to bit 3.
        attached_virama = m2 & 8 & ((p1 << 2) | ((p1 & ((p2 << 1) & 4)) << 1))
        # new_c = c & ~prev(attached): prev-attached (bit 3) >> 2 → bit 1
        new_c = m2 & 2 & ~(_prev(attached_virama, starts) >> 2)
        n_akshara = np.bincount(
            doc_id[(new_c | (m2 & 16)) != 0], minlength=n
        ).astype(np.float64)
        # word starts: non-whitespace char whose in-doc predecessor is
        # whitespace (or doc start) — exactly `str.split()`'s token count
        # (bit 5 of ~m2 & (p1 | doc-start))
        word_start = ~m2 & (p1 | (starts.view(np.uint8) << np.uint8(5))) & 32
        wlens = np.bincount(doc_id[word_start != 0], minlength=n)
        n_words = wlens.astype(np.float64)
    else:
        zero = np.zeros(n, dtype=np.float64)
        n_punct = n_digit = n_guj = n_letter = n_guj_letter = n_space = zero
        n_sent = n_akshara = n_words = zero
        wlens = np.zeros(n, dtype=np.int64)

    # uniques / stopwords via one Arrow dictionary-encode over the
    # batch's flat word stream: utf8_split_whitespace + list_flatten +
    # filter(nonempty) build the token stream without a Python str per
    # token, dictionary_encode hashes the utf8 buffers in C (measured 2x
    # pd.factorize on the bench corpus), `wlens` above assigns each
    # token to its doc, and the per-unique-word work (set membership,
    # `.lower()`) runs once per VOCABULARY entry (Zipf-small).  Guard:
    # if Arrow's whitespace set ever disagreed with `\s` (wlens) the
    # bincount length check below raises — it cannot silently misalign.
    import pyarrow as pa
    import pyarrow.compute as pc

    words = pc.list_flatten(
        pc.utf8_split_whitespace(pa.array(view.texts, type=pa.string()))
    )
    words = words.filter(pc.greater(pc.binary_length(words), 0))
    if len(words):
        d = pc.dictionary_encode(words)
        codes = d.indices.to_numpy(zero_copy_only=False)
        uniques = d.dictionary.to_pylist()
        vocab = len(uniques)
        doc_of_word = np.repeat(np.arange(n, dtype=np.int64), wlens)
        # stopword count = size of the selected-subset bincount (integer
        # counts either way; the old float-weighted bincount paid a
        # words-sized float64 gather + weighted accumulation)
        is_stop_u = np.array([u.lower() in _STOPWORDS for u in uniques], dtype=bool)
        n_stop = np.bincount(
            doc_of_word[is_stop_u[codes]], minlength=n
        ).astype(np.float64)
        # distinct words per doc: two exact plans, chosen by size (the
        # same shape-conditioned choice as a broadcast threshold).  When
        # the (doc × vocab) occupancy grid is no bigger than ~2 passes
        # over the word stream, one bincount + count_nonzero beats the
        # O(W log W) sort inside np.unique (~5x on small-vocab batches);
        # a Zipf-large vocabulary (real prose) falls through to the sort,
        # whose cost does not blow up with n*vocab.
        if n * vocab <= 2 * len(codes):
            occ = np.bincount(doc_of_word * vocab + codes, minlength=n * vocab)
            n_unique = np.count_nonzero(
                occ.reshape(n, vocab), axis=1
            ).astype(np.float64)
        else:
            pair = (doc_of_word << 32) | codes.astype(np.int64)
            n_unique = np.bincount(
                np.unique(pair) >> 32, minlength=n
            ).astype(np.float64)
    else:
        n_stop = np.zeros(n, dtype=np.float64)
        n_unique = np.zeros(n, dtype=np.float64)

    safe_words = np.maximum(n_words, 1.0)
    safe_chars = np.maximum(n_chars, 1.0)
    safe_sent = np.maximum(n_sent, 1.0)
    safe_letters = np.maximum(n_letter, 1.0)

    nonspace = n_chars - n_space

    out[:, 0] = n_chars
    out[:, 1] = n_words
    out[:, 2] = n_sent
    out[:, 3] = n_akshara
    out[:, 4] = np.where(n_words > 0, n_unique / safe_words, 0.0)
    out[:, 5] = np.where(n_chars > 0, n_punct / safe_chars, 0.0)
    out[:, 6] = np.where(n_letter > 0, n_guj_letter / safe_letters, 0.0)
    out[:, 7] = np.where(n_chars > 0, n_digit / safe_chars, 0.0)
    out[:, 8] = np.where(n_words > 0, (nonspace - n_punct) / safe_words, 0.0)
    out[:, 9] = np.where(n_sent > 0, n_words / safe_sent, 0.0)
    out[:, 10] = np.where(n_words > 0, n_stop / safe_words, 0.0)
    out[:, 11] = np.where(n_chars > 0, n_guj / safe_chars, 0.0)
    return out


