"""Gopher-style repetition signals + C4-style global sentence dedup +
a bigram-fluency (LM-proxy) scorer.

These complete the corpus-curation family (corpus_curation covers the
C4/Gopher length/lang/quality chain; this module adds the REPETITION
rules of Gopher §A.1.1 (Rae et al. 2021): documents dominated by repeated
lines/n-grams are low-quality boilerplate or spam, and the most-frequent-
n-gram character fraction catches keyword stuffing.  The sentence dedup is
C4's "discard duplicate sentences across the corpus" step (Raffel et al.
2020) — the unit here is the sentence, the first global occurrence wins.

Everything is Spark expressions over exploded (doc, unit) pairs with
integer counts; every emitted ratio is one float division of exact
integers, so a SQL oracle matches bit-for-bit.

Scale notes (10^12 docs):
* repetition signals are per-doc aggregations — explode shuffles
  (doc_id, unit-hash) pairs, counts partial-aggregate map-side, one row
  per doc comes back;
* global sentence dedup shuffles (sentence-hash) — the same shape as
  exact doc dedup, just at sentence granularity; the winner-selection
  window partitions by hash, never by doc;
* bigram fluency joins the doc's bigrams against the corpus bigram
  counts — a pathologically skewed join key at web scale ("of the").
  The implemented cure is an EXACT split-join: broadcast the top-K
  count head so every hot gram resolves map-side (the hot key never
  crosses a shuffle), and shuffle-join only the unskewed tail.  Values
  are identical to the plain join by construction — no default /
  approximation is involved.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..operators.skew import hot_key_join

__all__ = [
    "sentences_exploded",
    "repetition_signals",
    "dedup_sentences_global",
    "bigram_fluency",
]

# Gopher §A.1.1 thresholds (cited constants, not tunables)
MAX_DUP_SENT_FRACTION = 0.30
MAX_TOP_2GRAM_CHAR_FRACTION = 0.20


def sentences_exploded(
    docs: DataFrame, text_col: str = "text", key_col: str = "doc_id"
) -> DataFrame:
    """(key, idx, sent): 1-based position + raw '. '-split sentence parts
    (empty parts dropped; the trailing part keeps whatever punctuation it
    had — determinism over prettiness)."""
    parts = F.split(F.col(text_col), r"\. ")
    return (
        docs.select(
            key_col,
            F.posexplode(parts).alias("idx0", "sent"),
        )
        .filter(F.length("sent") > 0)
        .select(key_col, (F.col("idx0") + 1).alias("idx"), "sent")
    )


def repetition_signals(
    docs: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    n_partitions: int | None = None,
) -> DataFrame:
    """Per-doc Gopher repetition signals, all integer-count ratios:

    * ``dup_sent_fraction``   — repeated-occurrence share of sentences
      (total − distinct) / total;
    * ``dup_sent_char_fraction`` — characters inside occurrences beyond
      each sentence's first / total sentence characters;
    * ``top_2gram_char_fraction`` — characters covered by the most
      frequent word 2-gram (count × gram length / doc length), ties
      broken lexicographically;
    * ``keep`` — Gopher rule: reject docs over either threshold.

    ``n_partitions`` repartitions the doc table by key BEFORE the explodes
    (same hazard as dedup.char_shingles: a single-file scan leaves the
    whole token/2-gram fan-out in ONE task — shuffle the tiny doc rows
    first, materialize the expansion after, spread over every core).
    """
    if n_partitions:
        docs = docs.repartition(n_partitions, key_col)
    sents = sentences_exploded(docs, text_col, key_col)
    per_sent = sents.groupBy(key_col, "sent").agg(F.count("*").alias("cnt"))
    sent_sig = per_sent.groupBy(key_col).agg(
        F.sum("cnt").alias("n_sents"),
        F.count("*").alias("n_distinct_sents"),
        F.sum((F.col("cnt") - 1) * F.length("sent")).alias("dup_sent_chars"),
        F.sum(F.col("cnt") * F.length("sent")).alias("total_sent_chars"),
    )
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    grams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = (
        docs.select(key_col, F.length(text_col).alias("n_chars"), F.explode(grams).alias("gram"))
        .filter(F.length("gram") > 0)
        .groupBy(key_col, "n_chars", "gram")
        .agg(F.count("*").alias("cnt"))
    )
    # top-1 per doc as one min over (−cnt, gram) structs (≡ ORDER BY cnt
    # DESC, gram ASC): a struct buffer plans as a partial and a final
    # SortAggregate — map-side partial, no per-doc window over the pair stream
    top = (
        g.groupBy(key_col, "n_chars")
        .agg(
            F.min(
                F.struct((-F.col("cnt")).alias("neg_cnt"), F.col("gram"))
            ).alias("m")
        )
        .select(
            key_col,
            F.col("m.gram").alias("top_2gram"),
            (
                (-F.col("m.neg_cnt")) * F.length("m.gram")
                / F.col("n_chars").cast("double")
            ).alias("top_2gram_char_fraction"),
        )
    )
    out = (
        sent_sig.join(top, key_col, "left")
        .select(
            key_col,
            "n_sents",
            ((F.col("n_sents") - F.col("n_distinct_sents")) / F.col("n_sents").cast("double")).alias(
                "dup_sent_fraction"
            ),
            (F.col("dup_sent_chars") / F.col("total_sent_chars").cast("double")).alias(
                "dup_sent_char_fraction"
            ),
            F.coalesce("top_2gram", F.lit("")).alias("top_2gram"),
            F.coalesce("top_2gram_char_fraction", F.lit(0.0)).alias(
                "top_2gram_char_fraction"
            ),
        )
    )
    return out.withColumn(
        "keep",
        (F.col("dup_sent_fraction") <= MAX_DUP_SENT_FRACTION)
        & (F.col("top_2gram_char_fraction") <= MAX_TOP_2GRAM_CHAR_FRACTION),
    )


def dedup_sentences_global(
    docs: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    n_partitions: int | None = None,
) -> DataFrame:
    """C4-style corpus-wide sentence dedup: each distinct sentence survives
    only at its FIRST global occurrence (lowest (doc, idx)); docs are
    reassembled from their surviving sentences in original order.

    Output: (key, n_sents, n_kept, text_md5 of the '. '-rejoined doc).
    Winner selection is a window over the sentence hash — the shuffle key
    is the sentence, so a hot document cannot skew a reducer, and the
    reassembly groups by doc with an order-pinned array_sort (exactly
    reproducible; the SQL oracle uses string_agg ORDER BY idx).
    ``n_partitions`` repartitions by key before the explode (see
    repetition_signals).
    """
    if n_partitions:
        docs = docs.repartition(n_partitions, key_col)
    sents = sentences_exploded(docs, text_col, key_col)
    wfirst = W.partitionBy(F.md5("sent")).orderBy(F.asc(key_col), F.asc("idx"))
    kept = sents.withColumn("rn", F.row_number().over(wfirst)).filter(F.col("rn") == 1)
    rebuilt = kept.groupBy(key_col).agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "sent"))),
                lambda s: s["sent"],
            ),
            ". ",
        ).alias("new_text"),
    )
    totals = sents.groupBy(key_col).agg(F.count("*").alias("n_sents"))
    return (
        totals.join(rebuilt, key_col, "left")
        .select(
            key_col,
            "n_sents",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.md5(F.coalesce("new_text", F.lit(""))).alias("text_md5"),
        )
    )


def bigram_fluency(
    docs: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    n_partitions: int | None = None,
    head_k: int | None = 1024,
) -> DataFrame:
    """LM-proxy fluency score (the CCNet idea with an oracle-exact stand-in
    for perplexity): score = mean corpus frequency of the doc's word
    bigrams.  Fluent, template-consistent text reuses common bigrams;
    gibberish and mangled extractions hit rare ones.  Integer corpus
    counts + one float division keep it engine-exact (a log-prob LM would
    differ by libm ulps across engines).

    Skew: the (doc, gram) → corpus-count join key follows a Zipf law — at
    web scale "of the" alone would funnel a measurable fraction of a
    10^12-doc gram stream through one reducer.  With ``head_k`` set (the
    default), the top-K corpus counts are broadcast and the hot grams
    resolve in the map-side broadcast hash join — the hot key never
    crosses a shuffle; only the unskewed tail takes the shuffle join
    (``operators.skew.hot_key_join``).
    The split is EXACT: both branches read the same corpus counts, and
    sum/count over the union is order-insensitive integer arithmetic, so
    the result is value-identical to the plain join (``head_k=None``).

    Output: (key, n_bigrams, mean_bigram_count).  ``n_partitions``
    repartitions by key before the explode (see repetition_signals).
    """
    if n_partitions:
        docs = docs.repartition(n_partitions, key_col)
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    grams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = docs.select(key_col, F.explode(grams).alias("gram")).filter(
        F.length("gram") > 0
    )
    # corpus counts: the groupBy itself is safe under skew (partial
    # aggregation combines the hot gram map-side before the shuffle)
    corpus = g.groupBy("gram").agg(F.count("*").alias("corpus_cnt"))
    scored = hot_key_join(
        g, corpus, "gram", "corpus_cnt", ["gram", "corpus_cnt"], head_k
    )
    return (
        scored.groupBy(key_col)
        .agg(
            F.count("*").alias("n_bigrams"),
            (F.sum("corpus_cnt") / F.count("*").cast("double")).alias(
                "mean_bigram_count"
            ),
        )
    )
