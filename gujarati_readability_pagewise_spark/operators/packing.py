"""Cross-document training-sequence packing (GPT-style concat-and-chunk).

Pretraining consumes fixed-length token sequences, not documents: the
standard prep (GPT-2/3, The Pile) concatenates the tokenized corpus in a
deterministic document order and slices it every ``seq_len`` tokens, so
one sequence may span multiple short documents and a long document may
straddle several sequences.  This operator computes, per document, WHERE
its token span lands in that virtual concatenation — the map a sharded
writer needs to emit packed sequences without ever materializing the
concatenation itself.

The per-doc sequence_chunks query covers the within-doc slicing; this is
the CROSS-doc assignment, which needs a corpus-wide ordered prefix sum.

Scale shape (10^12 docs): a naive global cumulative window collapses to
one partition (Spark warns).  Same cure as operators/aggregate.
distributed_rank: range-bucket the ordering key (approxQuantile — tiny
driver list), per-bucket token totals → prefix OFFSETS (one bounded
aggregate, broadcast back), then a bucket-partitioned cumulative window.
Order is consistent because bucket assignment is monotone in the key.
All arithmetic is exact integers, so a SQL oracle matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..session import local_frame

__all__ = ["pack_sequences"]


def pack_sequences(
    docs: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    seq_len: int = 512,
    n_buckets: int = 64,
) -> DataFrame:
    """Per-doc packed-sequence coordinates in the key-ordered corpus
    concatenation.

    Output (one row per doc, all LONG except noted):
    ``(key, n_tokens int, cum_before, start_chunk, start_offset,
    end_chunk)`` where tokens are whitespace tokens, ``cum_before`` is
    the total token count of all docs with smaller key (numeric order
    for numeric/timestamp keys; binary UTF-8 order for string keys —
    which is also DuckDB's default string collation, so SQL oracles
    agree), ``start_chunk =
    cum_before div seq_len``, ``start_offset = cum_before % seq_len``,
    and ``end_chunk`` is the chunk holding the doc's last token (equal to
    ``start_chunk`` for empty docs).  A doc spans
    ``end_chunk - start_chunk + 1`` training sequences.
    """
    trimmed = F.trim(F.col(text_col))
    n_tok = F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )
    key_dtype = dict(docs.dtypes).get(key_col)
    numeric_kinds = (
        "tinyint", "smallint", "int", "bigint", "float", "double", "date",
        "timestamp",
    )
    if key_dtype in ("float", "double"):
        order_key, quant_key = F.col(key_col), F.col(key_col)
    elif key_dtype in numeric_kinds:
        order_key, quant_key = F.col(key_col), F.col(key_col).cast("double")
    elif key_dtype == "string":
        # approxQuantile is numeric-only, but string keys (urls, doc ids)
        # are the common corpus case: range-bucket on an order-monotone
        # numeric surrogate — 7 UTF-8 bytes as a big-endian integer,
        # zero-padded on the right so shorter keys stay below their
        # extensions ("ab" < "abc").  The surrogate skips the corpus-wide
        # COMMON PREFIX first: url corpora share "https://…" so the
        # leading bytes carry zero information and the raw first-7-bytes
        # surrogate would collapse every key into one bucket — the exact
        # single-partition window this bucketing exists to prevent.  For
        # binary order the common prefix of ALL keys equals the common
        # prefix of min(key) and max(key) — two scalar aggregates, one
        # tiny job.  Surrogate order == UTF-8 byte order, so the
        # within-bucket window orders by the BINARY encoding (Spark
        # binary comparison is unsigned-lexicographic), keeping the
        # bucket split and the intra-bucket order mutually consistent for
        # every script, where UTF-16 string order would disagree with the
        # surrogate around supplementary codepoints.  Surrogate ties
        # (shared prefix past the skip) land in one bucket and resolve
        # inside its window.
        order_key = F.encode(F.col(key_col), "UTF-8")
        mn, mx = docs.agg(
            F.min(F.encode(F.col(key_col), "UTF-8")),
            F.max(F.encode(F.col(key_col), "UTF-8")),
        ).first()
        skip = 0
        if mn is not None and mx is not None:
            mn_b, mx_b = bytes(mn), bytes(mx)
            while (
                skip < len(mn_b)
                and skip < len(mx_b)
                and mn_b[skip] == mx_b[skip]
            ):
                skip += 1
        quant_key = F.conv(
            F.rpad(
                F.hex(
                    F.substring(F.encode(F.col(key_col), "UTF-8"), skip + 1, 7)
                ),
                14, "0",
            ),
            16, 10,
        ).cast("double")
    else:
        raise TypeError(
            f"pack_sequences: key column {key_col!r} has unsupported dtype "
            f"{key_dtype!r}; use a numeric, timestamp, or string key"
        )
    t = docs.select(
        key_col,
        n_tok.cast("int").alias("n_tokens"),
        quant_key.alias("_qk"),
        order_key.alias("_ok"),
    )
    spark = t.sparkSession
    probs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = sorted(set(t.approxQuantile("_qk", probs, 0.001)))
    if bounds:
        conds = F.lit(0)
        for b in bounds:
            conds = conds + F.when(F.col("_qk") > F.lit(b), 1).otherwise(0)
        bucketed = t.withColumn("_bkt", conds)
    else:
        bucketed = t.withColumn("_bkt", F.lit(0))
    sums = {
        r["_bkt"]: r["s"]
        for r in bucketed.groupBy("_bkt")
        .agg(F.sum("n_tokens").alias("s"))
        .collect()  # bounded: one row per bucket
    }
    offsets, acc = {}, 0
    for b in sorted(sums):
        offsets[b] = acc
        acc += int(sums[b] or 0)
    off_df = local_frame(
        spark, [(b, o) for b, o in offsets.items()], "_bkt int, _off bigint"
    )
    w = (
        W.partitionBy("_bkt")
        .orderBy("_ok")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) + F.col("_off")
    out = (
        bucketed.join(F.broadcast(off_df), "_bkt")
        .withColumn("cum_before", cum.cast("long"))
        .drop("_bkt", "_off", "_qk", "_ok")
    )
    start = F.expr(f"cum_before div {seq_len}")
    end = F.when(
        F.col("n_tokens") == 0, start
    ).otherwise(F.expr(f"(cum_before + n_tokens - 1) div {seq_len}"))
    return out.select(
        key_col,
        "n_tokens",
        "cum_before",
        start.cast("long").alias("start_chunk"),
        F.pmod(F.col("cum_before"), F.lit(seq_len)).cast("long").alias("start_offset"),
        end.cast("long").alias("end_chunk"),
    )
