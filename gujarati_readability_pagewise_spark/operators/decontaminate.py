"""Benchmark decontamination: flag corpus docs that overlap an eval set.

Training corpora must remove documents that leak evaluation data (the
GPT-3/Pile n-gram decontamination step): a corpus doc is contaminated if
it shares at least ``min_common`` word n-grams with any benchmark doc.

Shape: word-n-gram shingles on BOTH sides, equi-join on the shingle, count
per (corpus_doc, eval_doc) pair — the pair space is driven by the (small)
eval side, so the join streams O(|eval shingles| · df(shingle)) rows and
never touches corpus×corpus.  All expression-level (split + slide via
transform over a sequence), no Python.

At 10^12 docs: broadcast the eval shingle set when it fits (a benchmark
suite is ~10^5 docs); otherwise hash-join on the shingle with the corpus
side's shingles produced by the same narrow map.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["word_ngrams", "contaminated_pairs", "ngram_novelty"]


def word_ngrams(
    df: DataFrame, text_col: str = "text", key_col: str = "doc_id", n: int = 8
) -> DataFrame:
    """(key, ngram) pairs: distinct word n-grams, pure expressions.

    Docs shorter than ``n`` tokens contribute zero n-grams: the window
    sequence is guarded by a CASE so it is never built descending
    (``sequence(1, 0)`` yields ``[1, 0]`` and ``slice(toks, 0, n)`` throws
    INVALID_PARAMETER_VALUE.START on Spark 4.x) — short/empty docs are
    routine in crawl corpora.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        df.select(key_col, F.explode(grams).alias("ngram"))
        .filter(F.length("ngram") > 0)
        .distinct()
    )


def contaminated_pairs(
    corpus_ngrams: DataFrame,
    eval_ngrams: DataFrame,
    min_common: int = 1,
    key_col: str = "doc_id",
) -> DataFrame:
    """(corpus doc, eval doc, n_common) for pairs sharing ≥ min_common
    n-grams.  The eval side is broadcast (benchmark suites are small)."""
    c = corpus_ngrams.select(F.col(key_col).alias("corpus_id"), "ngram")
    e = eval_ngrams.select(F.col(key_col).alias("eval_id"), "ngram")
    return (
        c.join(F.broadcast(e), "ngram")
        .groupBy("corpus_id", "eval_id")
        .agg(F.count("*").alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )


def ngram_novelty(
    docs: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    n: int = 8,
    n_partitions: int | None = None,
) -> DataFrame:
    """Per-doc n-gram NOVELTY: the fraction of a document's distinct word
    n-grams that appear in NO other document — the dedup-aware sampling
    signal (a doc whose 8-grams are mostly corpus-unique carries new
    content; one whose grams are all shared is boilerplate or a near-dup
    that slipped past the pair-level dedup).

    Shape: the same distinct (doc, gram) explode the decontamination
    check uses; gram doc-frequencies aggregate map-side (one row per
    distinct gram crosses the shuffle); novelty = one int/int division.
    Docs with fewer than ``n`` tokens emit n_grams = 0, novelty NULL
    (no evidence either way).  Output: (key, n_grams, n_novel, novelty).
    """
    d = docs
    if n_partitions:
        d = d.repartition(n_partitions, key_col)
    g = word_ngrams(d, text_col, key_col, n)
    df_counts = g.groupBy("ngram").agg(F.count("*").alias("df"))
    per_doc = (
        g.join(df_counts, "ngram")
        .groupBy(key_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias("n_novel"),
        )
    )
    return (
        docs.select(key_col)
        .join(per_doc, key_col, "left")
        .select(
            key_col,
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
            (F.col("n_novel") / F.col("n_grams").cast("double")).alias("novelty"),
        )
    )
