"""Deduplication operators for crawl-scale corpora.

The reference deduplicates implicitly (unique ``Image Name`` keys); a
100 TB crawl needs the full family.  Everything here is built from Spark
expressions (JVM-side, codegen) — no Python in the candidate-generation
path; only tiny driver-side constants (seed lists).

Cross-engine stable hash: ``stable_hash64(x) = int(md5(x)[:15], 16)`` is
expressible identically in Spark (``conv(substring(md5(x),1,15),16,10)``)
and DuckDB (``('0x'||substr(md5(x),1,15))::BIGINT``), so the dedup
operators are oracle-checkable — unlike engine-private hashes.

Scale notes (100 TB):
* exact dedup = one hash-partitioned aggregation on the digest (map-side
  partial combine makes re-crawled duplicates collapse early);
* MinHash-LSH = explode to (band_idx, band_hash) and shuffle THAT — each
  row is ~30 bytes regardless of document size, so the candidate join
  shuffles ~bands×rows tiny tuples, never the corpus;
* the final verify (exact Jaccard on candidates) touches only candidate
  pairs, which LSH keeps near-linear.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

__all__ = [
    "stable_hash64",
    "exact_dedup",
    "char_shingles",
    "minhash_signatures",
    "lsh_candidate_pairs",
    "lsh_banded",
    "lsh_cross_candidates",
    "jaccard_pairs",
    "jaccard_on_candidates_arrays",
    "near_dup_candidates",
    "near_dup_pairs",
    "simhash",
    "simhash_bands",
    "simhash_near_pairs",
    "duplicate_spans",
    "window_hash_index",
    "duplicate_spans_incremental",
    "cut_spans",
    "release_persisted",
    "skew_impossible",
]

# ``lsh_candidate_pairs`` / ``jaccard_on_candidates_arrays`` persist small
# intermediates that the returned (lazy) plan references, so they cannot be
# unpersisted before the caller's action runs.  Every such persist (and
# every local checkpoint of ``components.connected_components``) is
# registered here as the call that frees it; long-lived sessions call
# ``release_persisted()`` after the consuming action (or
# ``spark.catalog.clearCache()``, which the bench and the contract gate
# already do per query, for the persists) to avoid accumulating cached
# partitions until LRU pressure.
_PERSISTED: list[Callable[[], object]] = []


def _persist(df: DataFrame) -> DataFrame:
    df = df.persist()
    _PERSISTED.append(df.unpersist)
    return df


def _register_checkpoint(df: DataFrame) -> DataFrame:
    """Register the blocks of a ``localCheckpoint``-ed frame with
    ``release_persisted()`` and return the frame.

    The checkpointed RDD is not in the cache manager, so neither
    ``unpersist`` nor ``clearCache`` reaches it.  Only its id is held, so
    Spark can still clean it up once the caller drops the frame.  Spark
    logs a WARN for each one freed: its lineage is gone by design."""
    jsc = df.sparkSession.sparkContext._jsc
    rdd_id = df._jdf.queryExecution().analyzed().rdd().id()

    def free() -> None:
        rdd = jsc.getPersistentRDDs().get(rdd_id)
        if rdd is not None:
            rdd.unpersist()

    _PERSISTED.append(free)
    return df


def release_persisted() -> int:
    """Unpersist every intermediate cached by this module's operators.

    Safe to call at any time after the consuming action; returns the number
    of intermediates released.  Composed pipelines that invoke the dedup
    cascade more than once per session (e.g. verified-components runs
    LSH + verify twice) should call this between invocations.
    """
    n = 0
    while _PERSISTED:
        free = _PERSISTED.pop()
        try:
            free()
            n += 1
        except Exception:
            pass
    return n


def stable_hash64(col: Column, seed: int | str | None = None) -> Column:
    """Deterministic 60-bit int hash, identical in Spark and DuckDB."""
    x = F.concat(col, F.lit(f"#{seed}")) if seed is not None else col
    return F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast("long")


def exact_dedup(df: DataFrame, text_col: str = "text", key_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-key row per exact text digest (S-duplicate removal)."""
    w = W.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(key_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def char_shingles(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    k: int = 5,
    n_partitions: int | None = None,
) -> DataFrame:
    """(key, shingle) pairs: distinct character k-grams, pure expressions.

    ``n_partitions`` repartitions the DOC table by key BEFORE the explode —
    shuffle keys early, materialize payloads late.  Without it a single-file
    local input stays one partition, and because Catalyst (correctly) drops
    the distinct under a downstream min-aggregation, the entire explode +
    16-way md5 pipeline would run in ONE task.  The pre-explode shuffle
    moves only the tiny doc rows; the 300× expansion happens after it,
    spread over every core.
    """
    if n_partitions:
        df = df.repartition(n_partitions, key_col)
    n = F.greatest(F.length(text_col) - (k - 1), F.lit(1))
    return (
        df.select(
            key_col,
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), n),
                    lambda i: F.col(text_col).substr(i, F.lit(k)),
                )
            ).alias("shingle"),
        )
        .filter(F.length("shingle") == k)
        .distinct()
    )


def minhash_signatures(
    shingles: DataFrame, key_col: str = "doc_id", n_hashes: int = 16
) -> DataFrame:
    """(key, sig array<long>): per-permutation min of seeded stable hashes.

    One explode pass; n_hashes min-aggregations fold into a single hash
    aggregate (all partial-aggregable, so the shuffle carries one row per
    (key) with n_hashes longs).
    """
    aggs = [
        F.min(stable_hash64(F.col("shingle"), seed=i)).alias(f"h{i}")
        for i in range(n_hashes)
    ]
    sig = shingles.groupBy(key_col).agg(*aggs)
    return sig.select(
        key_col, F.array(*[F.col(f"h{i}") for i in range(n_hashes)]).alias("sig")
    )


def lsh_candidate_pairs(
    sig: DataFrame, key_col: str = "doc_id", bands: int = 4, n_hashes: int = 16
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any MinHash band.

    Self-joins the ``lsh_banded`` table on (band, bh).  Returns distinct
    (a, b) with a < b.
    """
    # The banded table is tiny (bands × rows, ~40 B/row) but its lineage is
    # the whole shingle+minhash pipeline; persist it so the self-join's two
    # sides don't each recompute 16 md5 min-aggregations over the corpus.
    banded = _persist(lsh_banded(sig, key_col, bands, n_hashes))
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh")))
        .filter(F.col("a.k") < F.col("b.k"))
        .select(F.col("a.k").alias("a"), F.col("b.k").alias("b"))
        .distinct()
    )


def lsh_banded(
    sig: DataFrame, key_col: str = "doc_id", bands: int = 4, n_hashes: int = 16
) -> DataFrame:
    """(key, band, bh) band table — the INDEX you persist between crawls.

    Bands the signature into ``bands`` equal slices and hashes each slice.
    ``lsh_candidate_pairs`` self-joins this table; incremental dedup bands
    only the NEW snapshot and joins it against the stored bands of the
    existing corpus (``lsh_cross_candidates``), so both forms band alike.

    The band expressions are UNROLLED with Python-side indices instead of
    `transform(sequence(...), slice(...))`: the higher-order-function form
    falls out of codegen into the interpreted evaluator and measured ~6×
    slower per evaluation (5.5 s vs 0.9 s warm over 5k docs at sf0.1) —
    identical band-hash values either way.
    """
    if n_hashes % bands:
        raise ValueError(f"n_hashes={n_hashes} not divisible by bands={bands}")
    r = n_hashes // bands

    def _bh(b: int):
        h = F.md5(
            F.concat_ws(
                ",", *[F.col("sig")[b * r + i].cast("string") for i in range(r)]
            )
        )
        if b != 0:
            return h
        # Runtime invariant (band 0 only, so it costs one branch per row and
        # cannot be pruned — it is load-bearing in the output): the unrolled
        # indices assume size(sig) == n_hashes.  A shorter signature would
        # make every sig[i] past the end NULL and concat_ws silently drop it
        # (all docs collide into identical band hashes → all-pairs
        # explosion); a longer one would silently ignore hashes.  Fail loud
        # on the first mismatched row instead.
        return F.when(F.size("sig") == n_hashes, h).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"lsh_banded: size(sig) != n_hashes={n_hashes}"
                        " (signature/band arguments out of sync; got "
                    ),
                    F.size("sig").cast("string"),
                    F.lit(")"),
                )
            )
        )

    structs = [
        F.struct(F.lit(b).alias("band"), _bh(b).alias("bh")) for b in range(bands)
    ]
    return sig.select(
        F.col(key_col).alias("k"), F.explode(F.array(*structs)).alias("bb")
    ).select("k", "bb.band", "bb.bh")


def lsh_cross_candidates(
    sig_new: DataFrame,
    sig_old: DataFrame,
    key_col: str = "doc_id",
    bands: int = 4,
    n_hashes: int = 16,
) -> DataFrame:
    """Incremental dedup candidates: NEW docs sharing any MinHash band with
    the EXISTING corpus — (new_id, old_id) pairs, never new×new.

    The production incremental-crawl shape: the old side is the persisted
    band index (``lsh_banded`` written at the previous crawl), so a daily
    ingest bands only its own documents and equi-joins on (band, bh) —
    cost proportional to the NEW snapshot, not the accumulated corpus;
    verify with ``jaccard_on_candidates_arrays`` exactly as in the batch path.
    """
    new_b = lsh_banded(sig_new, key_col, bands, n_hashes).alias("n")
    old_b = lsh_banded(sig_old, key_col, bands, n_hashes).alias("o")
    return (
        new_b.join(
            old_b,
            (F.col("n.band") == F.col("o.band")) & (F.col("n.bh") == F.col("o.bh")),
        )
        .select(F.col("n.k").alias("new_id"), F.col("o.k").alias("old_id"))
        .distinct()
    )


def jaccard_pairs(shingles: DataFrame, key_col: str = "doc_id") -> DataFrame:
    """Exact shingle-set Jaccard for every co-shingled pair (a < b).

    |A∩B| from the shingle self-join; |A|,|B| from per-doc counts;
    |A∪B| = |A|+|B|−|A∩B|.  Use on LSH candidates at scale; exact on
    small inputs (and as the DuckDB-checkable oracle form).
    """
    sizes = shingles.groupBy(key_col).agg(F.count("*").alias("sz"))
    s1 = shingles.select(F.col(key_col).alias("a"), "shingle")
    s2 = shingles.select(F.col(key_col).alias("b"), "shingle")
    inter = (
        s1.join(s2, "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        inter.join(sizes.select(F.col(key_col).alias("a"), F.col("sz").alias("sz_a")), "a")
        .join(sizes.select(F.col(key_col).alias("b"), F.col("sz").alias("sz_b")), "b")
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")).cast("double"),
        )
        .select("a", "b", "n_common", "jaccard")
    )


def jaccard_on_candidates_arrays(
    cands: DataFrame,
    docs: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Exact Jaccard restricted to LSH candidate pairs, via per-doc
    shingle ARRAYS.  Output: ``jaccard_pairs`` of ``docs``' shingles
    semi-joined to ``cands``, (a, b, n_common, jaccard).

    ``jaccard_pairs`` alone materializes every co-shingled pair before any
    candidate filter can apply (Catalyst cannot push a semi-join on (a, b)
    below the pair aggregation).  Here the candidate pairs DRIVE the work:
    only candidate docs are re-exploded into shingles (restrict before the
    expansion: a join cannot be pushed below an explode), one
    ``collect_set(shingle)`` per candidate doc builds its set, and each
    pair's intersection is a single JVM ``array_intersect`` — so no
    non-candidate pair is ever enumerated.  Measured 2.6× faster at sf0.1
    (4.5 s vs 11.7 s over 42 k candidate pairs) than a pair-driven join +
    count aggregation over |cands|·shingles/doc rows.

    Trade-off at the tail: each pair row carries both docs' arrays, which
    are bounded by shingles/doc (≈ doc length) — fine for crawl pages, but
    peak row memory grows with the longest candidate document.
    """
    pair_keys = _persist(cands.select("a", "b"))
    cand_keys = (
        pair_keys.select(F.col("a").alias(key_col))
        .union(pair_keys.select(F.col("b").alias(key_col)))
        .distinct()
    )
    # n_partitions is load-bearing: the semi join's output keeps the doc
    # scan's partitioning (often ONE file split locally), and the 300x
    # shingle fan-out must happen after a key exchange, not inside a
    # single scan task (char_shingles docstring hazard)
    sh_cand = char_shingles(
        docs.join(cand_keys, key_col, "left_semi"),
        text_col,
        key_col,
        k=k,
        n_partitions=docs.sparkSession.sparkContext.defaultParallelism,
    )
    # collect the RAW shingles, not md5(shingle): the exact-intersection
    # count is identical (sets either way) minus the md5 collision risk,
    # the per-element compare in array_intersect runs on ~5-char strings
    # instead of 32-char hex, and the corpus-sized md5 pass disappears —
    # this is also exactly the oracle's formulation (DISTINCT shingle
    # intersection, no hashing).
    arrs = _persist(
        sh_cand.groupBy(key_col).agg(
            F.collect_set("shingle").alias("arr"),
            F.count("*").alias("sz"),
        )
    )
    a = arrs.select(
        F.col(key_col).alias("a"), F.col("arr").alias("arr_a"), F.col("sz").alias("sz_a")
    )
    b = arrs.select(
        F.col(key_col).alias("b"), F.col("arr").alias("arr_b"), F.col("sz").alias("sz_b")
    )
    return (
        pair_keys.join(a, "a")
        .join(b, "b")
        .withColumn(
            "n_common", F.size(F.array_intersect("arr_a", "arr_b")).cast("long")
        )
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")).cast("double"),
        )
        .select("a", "b", "n_common", "jaccard")
    )


# The near-dup policy, run only through the two functions below; the
# DuckDB oracles build their SQL from these constants.
SHINGLE_K, N_HASHES, N_BANDS = 5, 16, 4


def near_dup_candidates(
    docs: DataFrame, key_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The policy's LSH candidate pairs (a, b), a < b: char shingles →
    MinHash signatures → docs sharing any band."""
    sh = char_shingles(
        docs, text_col, key_col, k=SHINGLE_K,
        n_partitions=docs.sparkSession.sparkContext.defaultParallelism,
    )
    sig = minhash_signatures(sh, key_col, n_hashes=N_HASHES)
    return lsh_candidate_pairs(sig, key_col, bands=N_BANDS, n_hashes=N_HASHES)


def near_dup_pairs(
    docs: DataFrame, key_col: str = "doc_id", text_col: str = "text", min_jaccard: float = 0.0
) -> DataFrame:
    """``near_dup_candidates`` verified by exact shingle-set Jaccard:
    (a, b, n_common, jaccard) with jaccard >= ``min_jaccard``."""
    cands = near_dup_candidates(docs, key_col, text_col)
    verified = jaccard_on_candidates_arrays(cands, docs, key_col, text_col=text_col, k=SHINGLE_K)
    return verified.filter(F.col("jaccard") >= min_jaccard)


def simhash(
    df: DataFrame, text_col: str = "text", key_col: str = "doc_id", bits: int = 16
) -> DataFrame:
    """(key, simhash bigint): sign-aggregated token-hash bits.

    For each bit b: sum over tokens of ±1 by bit b of the token's stable
    hash; the fingerprint sets bit b iff the sum is positive.  All
    expression-level; one explode + one aggregation.
    """
    toks = df.select(
        key_col,
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    ).filter(F.length("tok") > 0)
    h = stable_hash64(F.col("tok"))
    sums = toks.groupBy(key_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(bits)
        ]
    )
    fp = None
    for b in range(bits):
        term = F.when(F.col(f"s{b}") > 0, F.lit(2**b)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return sums.select(key_col, fp.cast("long").alias("simhash"))


def simhash_bands(
    fp: DataFrame, key_col: str = "doc_id", bits: int = 16, bands: int = 4
) -> DataFrame:
    """Explode each fingerprint into (key, simhash, band, band_val) rows.

    Pure bit expressions (shiftright + mask) — the banded row is ~20 bytes,
    so the candidate equi-join shuffles bands×rows tiny tuples.
    """
    if bits % bands:
        raise ValueError(f"bits={bits} not divisible by bands={bands}")
    w = bits // bands
    mask = (1 << w) - 1
    rows = fp.select(
        key_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * w)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    )
    return rows.select(key_col, "simhash", "bb.band", "bb.band_val")


def simhash_near_pairs(
    fp: DataFrame,
    key_col: str = "doc_id",
    bits: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs via banded SimHash blocking + exact Hamming verify.

    Pigeonhole guarantee: any pair within Hamming distance < ``bands``
    shares at least one identical band, so candidate generation is an
    equi-join on (band, band_val) — never an all-pairs scan — with perfect
    recall up to ``bands - 1`` differing bits, the largest distance it keeps.
    The verify step is one ``bit_count(xor)`` expression on candidates.
    Returns (a, b, hamming) with a < b.
    """
    banded = simhash_bands(fp, key_col, bits, bands)
    a = banded.select(
        F.col(key_col).alias("a"), F.col("simhash").alias("fp_a"), "band", "band_val"
    )
    b = banded.select(
        F.col(key_col).alias("b"), F.col("simhash").alias("fp_b"), "band", "band_val"
    )
    cands = (
        a.join(b, ["band", "band_val"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "fp_a", "fp_b")
        .distinct()
    )
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).cast("int")
    return (
        cands.select("a", "b", ham.alias("hamming"))
        .filter(F.col("hamming") <= bands - 1)
    )


# Skew-adaptive split (head_k="auto"): engage the broadcast-head branch
# only when the hottest window hash would overload a shuffle partition.
# The guide's skew rule of thumb is max/median >= 5-10x; we compare the
# exact top-1 occurrence count (a 1-row peek at an aggregate the plan
# already computes) against HOT_FACTOR x the mean partition load of the
# join's row stream, with an absolute floor so toy inputs never split.
HOT_FACTOR = 8
HOT_MIN_ROWS = 65536
DEFAULT_HEAD_K = 1024


def _auto_head_k(spark, matches: DataFrame) -> int | None:
    """Decide head_k from the observed hash-frequency skew.

    ``matches`` must be persisted by the caller (it is the dup-hash table
    the join consumes either way, so the peek materializes work the query
    needs, not extra work).  Returns DEFAULT_HEAD_K when the top-1 count
    exceeds HOT_FACTOR x max(dup_rows / defaultParallelism, HOT_MIN_ROWS)
    — i.e. one key alone would dominate a shuffle partition — else None
    (plain join, the r4 plan shape; the second window-stream explode of
    the split is then never paid)."""
    row = matches.agg(
        F.max("cnt").alias("mx"), F.sum("cnt").alias("tot")
    ).first()
    mx = row["mx"] or 0
    tot = row["tot"] or 0
    parts = spark.sparkContext.defaultParallelism or 1
    return DEFAULT_HEAD_K if mx > HOT_FACTOR * max(tot / parts, HOT_MIN_ROWS) else None


def skew_impossible(n_chars: int) -> bool:
    """Whether a corpus of ``n_chars`` characters can never engage the
    split :func:`_auto_head_k` decides on.  A window hash occurs at most
    once per character, so at or below HOT_FACTOR x HOT_MIN_ROWS
    characters the top-1 count cannot pass the threshold and
    ``head_k=None`` is the probe's known answer."""
    return n_chars <= HOT_FACTOR * HOT_MIN_ROWS


def _window_hashes(
    docs: DataFrame, text_col: str, key_col: str, window: int, n_partitions: int | None
) -> DataFrame:
    """(key, pos, h): the md5 of every ``window``-char substring of each
    doc, ``pos`` its 1-based start.  ``n_partitions`` repartitions the docs
    by key first so a single input file cannot serialize the fan-out."""
    d = docs.select(key_col, text_col)
    if n_partitions:
        d = d.repartition(n_partitions, key_col)
    seq = F.when(
        F.length(text_col) >= window,
        F.sequence(F.lit(1), F.length(text_col) - window + 1),
    ).otherwise(F.array().cast("array<int>"))
    return d.select(key_col, F.col(text_col), F.explode(seq).alias("pos")).select(
        key_col,
        "pos",
        F.md5(F.col(text_col).substr(F.col("pos"), F.lit(window))).alias("h"),
    )


def _repeated_windows(
    wins: DataFrame, key_col: str, head_k: int | None | str
) -> DataFrame:
    """(key, pos) of every window in ``wins`` whose hash also occurs at a
    smaller (key, pos): per hash the first occurrence survives, every
    other one is a duplicate.  ``head_k`` as in ``duplicate_spans``."""
    # skew imports stable_hash64 from this module
    from .skew import hot_key_join

    firsts = wins.groupBy("h").agg(
        F.min(F.struct(key_col, "pos")).alias("first"),
        F.count("*").alias("cnt"),
    )
    matches = firsts.filter(F.col("cnt") >= 2)
    if head_k == "auto":
        matches = _persist(matches)
        head_k = _auto_head_k(wins.sparkSession, matches)
    is_first = (F.col(key_col) == F.col(f"first.{key_col}")) & (
        F.col("pos") == F.col("first.pos")
    )
    joined = hot_key_join(wins, matches, "h", "cnt", ["h", "first"], head_k)
    return joined.filter(~is_first).select(key_col, "pos")


def _merge_spans(dups: DataFrame, key_col: str, window: int) -> DataFrame:
    """Per doc, merge duplicate windows whose starts are at most
    ``window`` chars apart into maximal spans (lag/cumsum islands):
    (key, span_start, span_end, n_windows), 1-based inclusive."""
    byd = W.partitionBy(key_col).orderBy("pos")
    grp = (
        dups.withColumn(
            "brk",
            F.when(F.col("pos") - F.lag("pos").over(byd) > window, 1).otherwise(0),
        )
        .withColumn(
            "g",
            F.sum("brk").over(byd.rowsBetween(W.unboundedPreceding, W.currentRow)),
        )
    )
    return grp.groupBy(key_col, "g").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + window - 1).alias("span_end"),
        F.count("*").alias("n_windows"),
    ).drop("g")


def duplicate_spans(
    docs: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    window: int = 40,
    n_partitions: int | None = None,
    head_k: int | None | str = "auto",
) -> DataFrame:
    """Exact duplicate SUBSTRING spans across the corpus — the
    suffix-array "ExactSubstr" dedup of Lee et al. 2021 (Deduplicating
    Training Data Makes Language Models Better), re-expressed for Spark's
    execution model.

    A monolithic suffix array does not distribute; the shuffle-native
    equivalent indexes every ``window``-char substring by hash:

    1. explode each doc into its |text|−window+1 sliding windows
       (repartitioned by key first so a single input file cannot
       serialize the fan-out);
    2. per window-hash, the GLOBAL first occurrence (min (key, pos)
       struct — one hash-shuffle with map-side partial min) survives;
       every other occurrence is a duplicate window — exactly the
       "keep one copy of every duplicated substring" rule;
    3. per doc, overlapping/adjacent duplicate windows (gap ≤ window)
       merge into maximal spans via the lag/cumsum island pattern —
       the per-doc window is bounded by doc length, never corpus size.

    Any duplicated substring of length ≥ 2·window−1 is guaranteed to
    contain a fully-duplicated aligned window, so spans of that length
    are always detected; shorter overlaps detect down to ``window``
    chars.  Emits one row per maximal span: (key, span_start, span_end,
    n_windows), 1-based inclusive char positions.  Cutting the spans out
    of the text is a trivial downstream map; the span inventory is the
    operator's contract (it feeds both cutting and audit).

    Scale shape (10^12 docs): the window explode is the same volume as
    the shingle explode the MinHash family already runs; the window-hash
    AGGREGATION is skew-safe (combinable min/count — hot boilerplate
    collapses map-side to one row per hash), and the subsequent join of
    the raw window stream back to the duplicated-hash rows — the one
    place a Zipf-hot hash COULD funnel a partition — takes the
    broadcast-head split (``head_k``, see ``operators.skew.hot_key_join``):
    the hottest hashes resolve map-side, value-identical to the plain
    join (``head_k=None``).  The split re-explodes the text rather than
    cache the |corpus text|-sized window stream, which would spill.

    ``head_k="auto"`` (the default) makes the split SKEW-ADAPTIVE: the
    dup-hash table is persisted (it is the join's build input either
    way) and its exact top-1 occurrence count — one row off an aggregate
    the plan already computes — decides plain join vs split (see
    :func:`_auto_head_k`).  A no-skew corpus gets the plain two-explode
    plan and never pays the split's second window-stream explode; a
    Zipf-hot corpus engages the broadcast head exactly as before.
    """
    wins = _window_hashes(docs, text_col, key_col, window, n_partitions)
    return _merge_spans(_repeated_windows(wins, key_col, head_k), key_col, window)


def window_hash_index(
    docs: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    window: int = 40,
    n_partitions: int | None = None,
) -> DataFrame:
    """The stored corpus-side index for incremental ExactSubstr dedup:
    one row per distinct window hash with its global first occurrence —
    ``(h, first_key, first_pos)``.  Write this bucketed by ``h``
    (``DataFrameWriter.bucketBy``) so the daily incremental join reads only
    the matching buckets and shuffles nothing but the new snapshot."""
    wins = _window_hashes(docs, text_col, key_col, window, n_partitions)
    return wins.groupBy("h").agg(
        F.min(F.struct(F.col(key_col).alias("k"), F.col("pos").alias("p"))).alias("f")
    ).select("h", F.col("f.k").alias("first_key"), F.col("f.p").alias("first_pos"))


def duplicate_spans_incremental(
    new_docs: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    window: int = 40,
    n_partitions: int | None = None,
    head_k: int | None | str = "auto",
) -> DataFrame:
    """Incremental ExactSubstr dedup: duplicate spans in a NEW snapshot
    against the stored corpus ``window_hash_index`` — the daily-ingest
    shape (cost ∝ new snapshot, never corpus×corpus, mirroring
    lsh_cross_candidates for the MinHash family).

    A new window is a duplicate if its hash is already in the index (the
    corpus copy survives) OR it repeats within the new snapshot (the
    snapshot's first occurrence survives).  When corpus keys precede
    snapshot keys, the result provably equals the full-corpus
    ``duplicate_spans`` restricted to snapshot docs (asserted in tests) —
    the incremental form just never touches corpus text again.  Same
    span-merge and output contract as ``duplicate_spans``.
    """
    # the per-character window explode feeds BOTH the semi (dup-vs-corpus)
    # and anti (fresh) branches — cache it, not a branch output; the
    # head_k="auto" probe then re-aggregates cached rows
    wins = _persist(_window_hashes(new_docs, text_col, key_col, window, n_partitions))
    j = wins.join(index.select("h"), "h", "left_semi")
    fresh = wins.join(index.select("h"), "h", "left_anti")
    dups = (
        j.select(key_col, "pos")
        .unionByName(_repeated_windows(fresh, key_col, head_k))
        .distinct()
    )
    return _merge_spans(dups, key_col, window)


def cut_spans(
    docs: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """Apply an ExactSubstr span inventory: remove every [span_start,
    span_end] char range (1-based inclusive, ``duplicate_spans``'s
    contract) from each doc's text — the cutting half of Lee et al.'s
    dedup, downstream of the span finder.

    The cut runs as ONE JVM higher-order ``aggregate`` over the doc's
    sorted span array (state = (cursor, acc); each span appends the kept
    gap before it and advances the cursor past it) — no explode of the
    text, no Python, and the spans array is bounded by spans-per-doc.
    Docs without spans pass through untouched.  Output: docs with
    ``text`` replaced by the cut text and ``n_cut_chars`` added.
    """
    sp = spans.groupBy(key_col).agg(
        F.sort_array(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("_sp")
    )
    joined = docs.join(sp, key_col, "left")
    t = F.col(text_col)
    # state field types must match the init struct EXACTLY — pin both to
    # long so int32 (operator-produced) and int64 (external) span tables
    # both resolve
    init = F.struct(F.lit(1).cast("long").alias("cur"), F.lit("").alias("acc"))

    def step(st, s):
        keep = t.substr(
            st["cur"],
            F.greatest(s["span_start"].cast("long") - st["cur"], F.lit(0).cast("long")),
        )
        return F.struct(
            F.greatest(s["span_end"].cast("long") + 1, st["cur"]).cast("long").alias("cur"),
            F.concat(st["acc"], keep).alias("acc"),
        )

    def fin(st):
        return F.concat(st["acc"], t.substr(st["cur"], F.length(t) - st["cur"] + 1))

    cut = F.when(F.col("_sp").isNull(), t).otherwise(
        F.aggregate(F.col("_sp"), init, step, fin)
    )
    # materialize the cut under a temp name first: aliasing the cut
    # expression AS text_col in the same select makes the n_cut_chars
    # reference resolve against the already-cut column (double cut)
    tmp = joined.withColumn("_cut", cut)
    return tmp.select(
        *[
            F.col("_cut").alias(c) if c == text_col else F.col(c)
            for c in docs.columns
        ],
        (F.length(text_col) - F.length("_cut")).cast("long").alias("n_cut_chars"),
    )
