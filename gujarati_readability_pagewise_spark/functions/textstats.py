"""Text-analysis expressions: language-ID, quality score, token counts,
document fingerprints.

All pure Spark column expressions (JVM-side, whole-stage codegen, and each
one has an exact ANSI-SQL twin for the DuckDB oracle).  These are the
corpus-curation ops a crawl-scale training-data pipeline runs over every
document — the cheap always-on filters that run BEFORE the heavier Arrow
extraction kernel.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..operators.dedup import stable_hash64

__all__ = [
    "CURATION_LANGS",
    "MIN_QUALITY",
    "LENGTH_BAND",
    "lang_id_expr",
    "quality_score_expr",
    "curation_keep_expr",
    "token_count_expr",
    "fingerprint_expr",
    "vocab_coverage",
]

# The curation rule's policy: the release, the streaming curation and the
# contract's curation queries and oracles all read these.
CURATION_LANGS = ("gu", "hi", "en")
MIN_QUALITY = 0.55
LENGTH_BAND = (80, 20000)  # characters, inclusive


def _ratio(pattern: str, col: Column) -> Column:
    """share of characters matching the single-char class `pattern`."""
    kept = F.length(F.regexp_replace(col, pattern, ""))
    return (F.length(col) - kept) / F.greatest(F.length(col), F.lit(1)).cast("double")


def lang_id_expr(col: Column) -> Column:
    """Script-ratio language heuristic → 'gu' | 'hi' | 'en' | 'und'.

    The n-gram-free version of fastText-style langid: dominant writing
    system wins; Latin text must clear a letter-ratio bar to be 'en'
    (digit/punct soup stays 'und').  Same CASE tree runs in DuckDB.
    """
    guj = _ratio(r"[઀-૿]", col)
    dev = _ratio(r"[ऀ-ॿ]", col)
    lat = _ratio(r"[A-Za-z]", col)
    return (
        F.when(guj > 0.3, F.lit("gu"))
        .when(dev > 0.3, F.lit("hi"))
        .when(lat > 0.4, F.lit("en"))
        .otherwise(F.lit("und"))
    )


def quality_score_expr(col: Column) -> Column:
    """[0,1] heuristic quality: length band + letter share − digit/punct soup.

    A C4/Gopher-style rule-of-thumb filter expressed as one arithmetic
    column: score = 0.4·len_ok + 0.4·letter_ratio − 0.2·(punct+digit soup),
    clamped to [0,1].
    """
    n = F.length(col)
    len_ok = F.when((n >= 100) & (n <= 20000), F.lit(1.0)).otherwise(
        F.when(n >= 20, F.lit(0.5)).otherwise(F.lit(0.0))
    )
    letters = _ratio(r"[A-Za-z઀-૿ऀ-ॿ]", col)
    soup = _ratio(r"[0-9!-/:-@\[-`{-~]", col)
    raw = F.lit(0.4) * len_ok + F.lit(0.4) * letters - F.lit(0.2) * soup + F.lit(0.2)
    return F.least(F.greatest(raw, F.lit(0.0)), F.lit(1.0))


def curation_keep_expr(col: Column) -> Column:
    """The curation rule: language in ``CURATION_LANGS``, quality at least
    ``MIN_QUALITY``, and length within ``LENGTH_BAND`` (inclusive)."""
    return (
        lang_id_expr(col).isin(list(CURATION_LANGS))
        & (quality_score_expr(col) >= MIN_QUALITY)
        & F.length(col).between(*LENGTH_BAND)
    )


def token_count_expr(col: Column) -> Column:
    """Whitespace token count (the BPE-ish regex variant is `\\w+|[^\\w\\s]`)."""
    return F.size(F.split(F.trim(col), r"\s+"))


def bpe_ish_token_count_expr(col: Column) -> Column:
    """Count of word-or-symbol tokens — a rough proxy for BPE token counts
    (letters/digits runs count 1, each punctuation mark counts 1)."""
    return F.size(F.regexp_extract_all(col, F.lit(r"(\w+|[^\w\s])"), 1))


def fingerprint_expr(col: Column) -> Column:
    """64-bit-ish stable document fingerprint: md5 prefix as bigint.

    Exact-dup detection key; cross-engine (DuckDB:
    ``('0x'||substr(md5(x),1,15))::BIGINT``)."""
    return stable_hash64(col)


def vocab_coverage(
    docs, text_col: str = "text", k: int = 100, n_partitions: int | None = None
):
    """Tokenizer-budget analysis: the top-``k`` corpus vocabulary with
    cumulative coverage — what fraction of all token OCCURRENCES a
    k-entry vocabulary captures (the curve a tokenizer-training run reads
    before picking its vocab size).

    Shape at 10^12 docs: the token counts aggregate map-side (one row per
    distinct token crosses the shuffle); the top-k is a TakeOrdered (no
    global sort) and the cumulative window runs over k rows only.  Ties
    break on the token string so the ranking is deterministic.  Output:
    (rank, token, cnt, cum_cnt, cum_coverage) with cum_coverage =
    cum_cnt / total_tokens — one long/long float division, engine-exact.
    """
    from pyspark.sql import Window as W

    d = docs
    if n_partitions:
        d = d.repartition(n_partitions)
    toks = d.select(
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("token")
    ).filter(F.length("token") > 0)
    counts = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("_total"))
    top = counts.orderBy(F.desc("cnt"), "token").limit(k)
    w = W.orderBy(F.desc("cnt"), "token").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )  # k-row window: the tiny-window exception, by design
    return (
        top.withColumn("rank", F.row_number().over(w).cast("int"))
        .withColumn("cum_cnt", F.sum("cnt").over(w))
        .crossJoin(F.broadcast(total))
        .select(
            "rank",
            "token",
            "cnt",
            "cum_cnt",
            (F.col("cum_cnt") / F.col("_total")).alias("cum_coverage"),
        )
    )


def bpe_merge_candidates(
    docs,
    text_col: str = "text",
    k: int = 50,
    n_partitions: int | None = None,
):
    """Tokenizer induction: the top-``k`` first-iteration BPE merge
    candidates — adjacent CHARACTER pairs ranked by corpus occurrence
    count (Sennrich et al. 2016's first merge step, the scan a
    BPE-training run repeats per merge).

    The standard scale trick is structural here: pairs are counted over
    the distinct-word VOCABULARY weighted by word frequency, never over
    the raw corpus stream — the explode that feeds the pair aggregation
    is vocabulary-sized (Zipf: millions of rows at web scale), while the
    corpus-sized token stream crosses only the map-combinable word-count
    shuffle.  A within-word pair occurring twice in one word counts
    twice (``transform`` over every adjacent offset).  Output: (rank,
    pair, n_occurrences), integer counts, ties on the pair string; the
    k-row ranking window is the tiny-window exception by design.
    """
    from pyspark.sql import Window as W

    d = docs
    if n_partitions:
        d = d.repartition(n_partitions)
    words = (
        d.select(F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").alias("wcnt"))
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        "wcnt",
    )
    counts = pairs.groupBy("pair").agg(F.sum("wcnt").alias("n_occurrences"))
    top = counts.orderBy(F.desc("n_occurrences"), "pair").limit(k)
    w = W.orderBy(F.desc("n_occurrences"), "pair")
    return top.select(
        F.row_number().over(w).cast("int").alias("rank"),
        "pair",
        "n_occurrences",
    )


def corpus_datasheet(
    docs,
    text_col: str = "text",
    key_col: str = "doc_id",
    group_col: str = "source",
):
    """Per-source corpus DATASHEET — the one-table summary a corpus
    release publishes (Datasheets for Datasets, Gebru et al.): doc and
    whitespace-token volumes, length spread, predicted-language mix, and
    the exact-duplicate rate, per source.

    Everything is integers or one float division of integers, so the
    sheet is engine-exact: token counts via size(split), language mix as
    counts of the lang_id_expr classes, duplicate rate as
    (docs − distinct digests) / docs over md5(text).  One map-combinable
    aggregation per source — at 10^12 docs the only shuffle is the
    per-source rollup (|sources| rows), plus the digest distinct which
    shuffles digests, not text.
    """
    trimmed = F.trim(F.col(text_col))
    n_tok = F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    ).cast("long")
    lang = lang_id_expr(F.col(text_col))
    base = docs.select(
        F.col(group_col).alias("source_grp"),
        F.col(key_col),
        n_tok.alias("_tok"),
        F.length(text_col).cast("long").alias("_chars"),
        lang.alias("_lang"),
        F.md5(F.col(text_col)).alias("_digest"),
    )
    return (
        base.groupBy("source_grp")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_tok").alias("n_tokens"),
            F.sum("_chars").alias("n_chars"),
            F.min("_chars").alias("min_chars"),
            F.max("_chars").alias("max_chars"),
            F.sum(F.when(F.col("_lang") == "en", 1).otherwise(0)).alias("n_en"),
            F.sum(F.when(F.col("_lang") == "gu", 1).otherwise(0)).alias("n_gu"),
            F.sum(F.when(F.col("_lang") == "hi", 1).otherwise(0)).alias("n_hi"),
            F.sum(F.when(F.col("_lang") == "und", 1).otherwise(0)).alias("n_und"),
            F.countDistinct("_digest").alias("n_unique_texts"),
        )
        .select(
            F.col("source_grp").alias(group_col),
            "n_docs",
            "n_tokens",
            "n_chars",
            "min_chars",
            "max_chars",
            "n_en",
            "n_gu",
            "n_hi",
            "n_und",
            "n_unique_texts",
            (
                (F.col("n_docs") - F.col("n_unique_texts")).cast("double")
                / F.col("n_docs").cast("double")
            ).alias("dup_rate"),
        )
    )
