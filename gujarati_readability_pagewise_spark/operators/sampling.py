"""Deterministic sampling operators for corpus construction.

Common-Crawl-style pipelines cap pages per host (politeness / anti-spam /
domain-balance quotas) and draw stratified samples for labeling.  Both
must be DETERMINISTIC — a ``rand()``-ordered sample changes under task
retry and can never be oracle-checked; here the "random" order is a
cross-engine stable hash of the row key (same construction as
operators/dedup.stable_hash64), so the sample is a pure function of the
data.

Scale shape: one window over (host) ordered by the hash — a single
shuffle on the host key; the skewed-host problem this creates at 10^12
rows is exactly what AQE skew handling + operators/skew salting are for
(a quota read path usually follows a host-bucketed layout anyway).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from ..session import local_frame
from .dedup import stable_hash64

__all__ = [
    "stable_order",
    "host_quota_sample",
    "mixture_sample",
    "crawl_schedule",
    "quality_weighted_sample",
]


def stable_order(col: Column, seed: int = 0) -> Column:
    """Deterministic pseudo-random sort key: 60-bit md5-derived int,
    identical in Spark and DuckDB (see dedup.stable_hash64)."""
    return stable_hash64(col.cast("string"), f"q{seed}")


def host_quota_sample(
    df: DataFrame,
    host_col: str = "host",
    key_col: str = "url",
    k: int = 10,
    seed: int = 0,
) -> DataFrame:
    """Keep at most ``k`` rows per host, chosen by the stable hash order
    of ``key_col`` (ties broken by the key itself).  Adds ``quota_rank``
    (1-based within host)."""
    w = W.partitionBy(host_col).orderBy(
        stable_order(F.col(key_col), seed), F.col(key_col)
    )
    return (
        df.withColumn("quota_rank", F.row_number().over(w))
        .filter(F.col("quota_rank") <= k)
    )


def mixture_sample(
    df: DataFrame,
    stratum_col: str,
    key_col: str,
    weights: dict[str, float],
    seed: int = 0,
) -> DataFrame:
    """Deterministic domain-mixture resampling (the DoReMi/Pile idea of
    training on a TARGET source mixture rather than the crawl's natural
    one): keep the LARGEST total sample whose stratum shares equal
    ``weights``.

    With n_s rows available in stratum s and target share w_s, the binding
    stratum caps the total at T = min_s(n_s / w_s); each stratum keeps
    exactly floor(T·w_s) rows (so no stratum is oversampled — this is
    subsampling, not replication), chosen by the stable hash order —
    deterministic under retries and oracle-expressible.  Strata not in
    ``weights`` are dropped (weight 0).

    Driver-side work is one groupBy(stratum).count() collect — bounded by
    the number of sources, which is small by construction at any scale.
    Adds ``mix_rank`` (1-based within stratum).
    """
    if not weights:
        raise ValueError("weights must be non-empty")
    total_w = sum(weights.values())
    shares = {s: w / total_w for s, w in weights.items()}
    counts = {
        r[stratum_col]: r["n"]
        for r in df.filter(F.col(stratum_col).isin(list(weights)))
        .groupBy(stratum_col)
        .agg(F.count("*").alias("n"))
        .collect()  # bounded: one row per source
    }
    if not counts:
        return df.filter(F.lit(False)).withColumn("mix_rank", F.lit(0))
    t_max = min(counts[s] / shares[s] for s in counts if shares[s] > 0)
    quotas = {s: int(t_max * shares[s]) for s in counts}
    quota_df = F.broadcast(
        local_frame(
            df.sparkSession,
            [(s, q) for s, q in sorted(quotas.items())],
            f"{stratum_col} string, _quota int",
        )
    )
    w = W.partitionBy(stratum_col).orderBy(
        stable_order(F.col(key_col), seed), F.col(key_col)
    )
    return (
        df.join(quota_df, stratum_col)
        .withColumn("mix_rank", F.row_number().over(w))
        .filter(F.col("mix_rank") <= F.col("_quota"))
        .drop("_quota")
    )


def crawl_schedule(
    df: DataFrame,
    host_col: str = "host",
    key_col: str = "url",
    min_interval_s: int = 10,
    priority_col: str | None = None,
) -> DataFrame:
    """Per-host politeness schedule: assign every fetch a slot and a
    deterministic start offset, ``min_interval_s`` apart within each host.

    The crawl-frontier rule every large crawler enforces (one request per
    host per interval) as a batch plan: slot = rank within host (by
    ``priority_col`` if given, else the stable hash of the key — so the
    within-host order is retry-deterministic and oracle-checkable), and
    ``sched_offset_s = (slot - 1) * min_interval_s``.

    Scale note: the per-host window is the SEMANTICS, not an accident — a
    host's fetches are inherently serialized by politeness, so its rows
    must meet in one task; salting would break the slot sequence.  The
    window state is bounded by the host's frontier size, and a hot host's
    long schedule is exactly what the politeness constraint says it must
    have.  Output adds (slot int, sched_offset_s long).
    """
    order = (
        [F.col(priority_col), F.col(key_col)]
        if priority_col
        else [stable_order(F.col(key_col)), F.col(key_col)]
    )
    w = W.partitionBy(host_col).orderBy(*order)
    return df.withColumn("slot", F.row_number().over(w)).withColumn(
        "sched_offset_s",
        ((F.col("slot") - 1) * min_interval_s).cast("long"),
    )


def quality_weighted_sample(
    df: DataFrame,
    score_col: str,
    key_col: str,
    scale: float = 1.0,
    seed: int = 0,
) -> DataFrame:
    """Soft quality-weighted sampling: keep each row with probability
    ``clamp(score·scale, 0, 1)`` — the smooth alternative to a hard
    quality threshold (a 0.54-quality doc survives 54% of the time
    instead of never), the shape quality-weighted corpus recipes use to
    keep the distribution's tail without letting it dominate.

    The coin flip is ``stable_hash(key) % 10^6 < floor(p·10^6)`` — a
    pure function of the ROW, so the kept set is deterministic under
    retries/repartitioning and exactly re-derivable in SQL (a ``rand()``
    Bernoulli sample would be neither).  Exact integer comparison: no
    float rounding can flip a decision between engines.
    """
    p_fp = F.least(
        F.greatest(
            F.floor(F.col(score_col) * scale * 1000000).cast("long"), F.lit(0)
        ),
        F.lit(1000000),
    )
    draw = F.pmod(
        stable_order(F.col(key_col), seed), F.lit(1000000)
    )
    return df.filter(draw < p_fp)


def training_order(
    docs: DataFrame,
    key_col: str = "doc_id",
    n_epochs: int = 2,
    n_buckets: int = 64,
) -> DataFrame:
    """Reproducible per-epoch training ORDER: for each epoch, every doc's
    position under a deterministic reshuffle — the (epoch, position)
    coordinates a pretraining dataloader replays identically across
    restarts and workers (a rand()-seeded shuffle cannot be re-derived;
    the stable hash can, by any engine).

    Per epoch the order key is ``stable_hash64(key || '#ep' || epoch)``
    (ties broken by the key), so each epoch is an independent uniform
    permutation.  The global rank per epoch uses the distributed_rank
    pattern with STATIC bucket boundaries: the hash is uniform on
    [0, 2^60), so a right-shift yields ``n_buckets`` (a power of two)
    equal-width range buckets with
    no approxQuantile pass at all — rank inside each (epoch, bucket)
    window, then add the epoch's prefix counts of earlier buckets (one
    bounded aggregate, n_epochs x n_buckets rows, broadcast back).
    Output: (key, epoch int, position long), position 0-based.
    """
    shift = 60 - (n_buckets.bit_length() - 1)
    if n_buckets <= 0 or (n_buckets & (n_buckets - 1)) or not (0 <= shift <= 60):
        raise ValueError(
            "training_order uses static 2^60-range buckets; n_buckets must "
            "be a power of two in [1, 2^60]"
        )
    spark = docs.sparkSession
    epochs = spark.range(n_epochs).select(F.col("id").cast("int").alias("epoch"))
    h = stable_hash64(
        F.concat(F.col(key_col).cast("string"), F.lit("#ep"), F.col("epoch").cast("string"))
    )
    t = (
        docs.select(key_col)
        .crossJoin(F.broadcast(epochs))
        .withColumn("_h", h)
        .withColumn("_bkt", F.expr(f"shiftright(_h, {shift})").cast("int"))
    )
    sizes = {
        (r["epoch"], r["_bkt"]): r["c"]
        for r in t.groupBy("epoch", "_bkt").agg(F.count("*").alias("c")).collect()
    }  # bounded: n_epochs x n_buckets rows
    offsets, rows = {}, []
    for e in range(n_epochs):
        acc = 0
        for b in range(n_buckets):
            offsets[(e, b)] = acc
            acc += int(sizes.get((e, b), 0))
            rows.append((e, b, offsets[(e, b)]))
    off = local_frame(spark, rows, "epoch int, _bkt int, _off bigint")
    w = W.partitionBy("epoch", "_bkt").orderBy("_h", key_col)
    return (
        t.join(F.broadcast(off), ["epoch", "_bkt"])
        .withColumn(
            "position",
            (F.row_number().over(w).cast("long") - 1 + F.col("_off")),
        )
        .select(key_col, "epoch", "position")
    )
