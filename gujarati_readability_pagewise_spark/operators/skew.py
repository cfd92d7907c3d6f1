"""Skewed-key handling: sampled heavy-hitter detection, salted two-stage
aggregation and the broadcast-head join split.

north_rule requires explicit skew machinery: one crawl host can hold 30 %+
of all pages (the synthetic generator plants exactly that).

Salting — pre-aggregate on (key, salt) so the hot key's rows spread over S
reducers, then merge the S partials — pays only for aggregates that Spark
cannot partially aggregate: a percentile, ``collect_list``, a distinct
count.  For count/sum/avg/min/max/stddev, Spark's own map-side partial
aggregation already hands a hot key's reducer one row per map task, so a
plain ``groupBy`` is the cheaper plan (``host_summary`` is one).
``salted_summary`` (count/sum/avg/min/max) is kept as the gated operator
behind the ``salted_summary`` contract query.

AQE's skew-join splitting misses a join fed by an aggregate on its key:
that side has no exchange of its own for ``OptimizeSkewedJoin`` to split
(on ``local[4]`` with a 1 KB skew threshold, a planted hot key left the
plain joins of ``duplicate_spans`` and ``bigram_fluency`` unsplit).
``hot_key_join`` broadcasts the hottest keys instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import stable_hash64

__all__ = [
    "heavy_hitters_hash_sampled",
    "salted_summary",
    "hot_key_join",
]


def heavy_hitters_hash_sampled(
    df: DataFrame,
    key: str,
    sample_on: str,
    min_share: float = 0.1,
    mod: int = 50,
    seed: int = 7,
    safety: float = 0.5,
) -> DataFrame:
    """THE sampled heavy-hitter pre-pass — the detection you can afford at
    10^12 rows (an exact count scans the table twice).

    One partial scan, shuffle only the sampled keys; the 1/``mod`` sample
    is selected by ``stable_hash64(sample_on, seed) % mod == 0``, NOT by
    ``rand()``/``sample()`` — Bernoulli ``sample()`` is partition-order
    dependent, so task retries, repartitioning, and re-runs could flip
    which keys got salted mid-resume (an earlier ``rand()``-sampled form
    was removed for exactly that reason); the hash-selected sample is
    content-deterministic and expressible in plain SQL for cross-engine
    verification.

    ``sample_on`` must be a (near-)unique row identifier column (cast to
    string internally); keys are kept at ``min_share * safety`` — the
    one-sided slack absorbs sampling error (a true heavy hitter at the
    threshold survives with overwhelming probability; false positives
    only cost a useless salt column, false negatives cost a skewed
    reducer).  Output: (key, n_sampled, share_est).
    """
    sampled = df.filter(
        F.pmod(stable_hash64(F.col(sample_on).cast("string"), seed=seed), F.lit(mod))
        == 0
    ).select(key)
    counts = sampled.groupBy(key).agg(F.count("*").alias("n_sampled"))
    total = sampled.agg(F.count("*").alias("_tot"))
    return (
        counts.crossJoin(F.broadcast(total))
        .withColumn("share_est", F.col("n_sampled") / F.col("_tot").cast("double"))
        .filter(F.col("share_est") >= min_share * safety)
        .drop("_tot")
    )


def salted_summary(
    df: DataFrame,
    key: str,
    value: str,
    n_salts: int = 16,
) -> DataFrame:
    """groupBy(key).agg(count,sum,avg,min,max of value) via salted two-stage.

    Stage 1 groups on (key, salt) — the hot key fans out over ``n_salts``
    reducers; stage 2 merges the tiny partials.  Salt must be a
    deterministic function of the ROW (here: value+key hash), never
    ``rand()``, so task retries reproduce the same partials.
    """
    salt = F.pmod(
        F.xxhash64(F.col(key), F.coalesce(F.col(value).cast("string"), F.lit(""))),
        F.lit(n_salts),
    )
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(key, "_salt")
        .agg(
            F.count("*").alias("_n"),
            F.sum(value).alias("_sum"),
            F.min(value).alias("_min"),
            F.max(value).alias("_max"),
        )
    )
    return (
        partial.groupBy(key)
        .agg(
            F.sum("_n").alias("n"),
            F.sum("_sum").alias("sum_value"),
            (F.sum("_sum") / F.sum("_n")).alias("avg_value"),
            F.min("_min").alias("min_value"),
            F.max("_max").alias("max_value"),
        )
    )


def hot_key_join(
    stream: DataFrame, counts: DataFrame, key: str, count_col: str,
    cols: list[str], head_k: int | None,
) -> DataFrame:
    """``stream.join(counts.select(*cols), key)``, where ``counts`` holds
    each key's occurrence count in ``count_col``, with the broadcast-head
    skew split: with ``head_k`` set, the top-``head_k`` keys by count (ties
    by key) are broadcast, so a Zipf-hot key never funnels through one
    partition of the shuffle join that only the tail takes.  Both branches
    read the same ``counts`` rows, so the union is the plain join's row
    set.  The split reads ``stream`` twice."""
    right = counts.select(*cols)
    if not head_k:
        return stream.join(right, key)
    head = F.broadcast(
        counts.orderBy(F.desc(count_col), key).limit(head_k).select(*cols)
    )
    hot = stream.join(head, key)  # broadcast: hot keys never shuffle
    tail = stream.join(head.select(key), key, "left_anti").join(
        right, key
    )  # anti is broadcast too; the remaining shuffle join is unskewed
    return hot.unionByName(tail)
