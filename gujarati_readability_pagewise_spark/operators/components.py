"""Connected components over candidate-duplicate pairs: pairs → clusters.

LSH/SimHash emit PAIRS; production dedup needs CLUSTERS — "keep one doc per
connected component of the near-dup graph".  This is iterative min-label
propagation (the standard large-scale CC algorithm, a la GraphX/Pregel),
expressed in DataFrame ops:

* every node starts labeled with its own id;
* each round, a node's label becomes ``min(own, min(neighbours))``;
* converged when no label changed — at most ``diameter`` rounds, and the
  label is then the component's minimum node id (a canonical, deterministic
  cluster id).

Scale notes: each round is one join + one groupBy on the edge list (both
key-partitioned — at 10^12 edges pre-bucket by node id to make every round
co-located); ``localCheckpoint`` cuts the lineage so plans don't grow with
iterations (use a reliable checkpoint dir on a cluster), and
``dedup.release_persisted()`` frees the checkpointed blocks.  The driver-side
loop carries only the convergence COUNT, never data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _register_checkpoint

__all__ = ["connected_components", "cluster_representatives"]


def connected_components(
    pairs: DataFrame,
    a: str = "a",
    b: str = "b",
    max_iter: int = 50,
) -> DataFrame:
    """(a, b) undirected pairs → (doc_id, component) with component = min
    reachable node id.  Nodes not present in any pair are not emitted
    (singletons are their own component by definition).

    Raises ``RuntimeError`` if labels have not converged after
    ``max_iter`` rounds (graph diameter > max_iter) — silently returning
    split components would make dedup keep extra copies."""
    # both directions from one explode, so the plan behind ``pairs`` (the
    # verify joins, in the release) runs once rather than once per side
    both = F.array(
        F.struct(F.col(a).alias("src"), F.col(b).alias("dst")),
        F.struct(F.col(b).alias("src"), F.col(a).alias("dst")),
    )
    edges = _register_checkpoint(
        pairs.select(F.explode(both).alias("e"))
        .select("e.src", "e.dst")
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("n")).distinct().withColumn("label", F.col("n"))
    )
    changed = 0
    for _ in range(max_iter):
        nb_min = (
            edges.join(labels, edges["dst"] == labels["n"])
            .groupBy("src")
            .agg(F.min("label").alias("nb_min"))
        )
        # carry the old label through the checkpoint so the convergence
        # count is a scan of the checkpointed rows — the old form
        # re-joined new vs old labels, one extra shuffle per round
        stepped = _register_checkpoint(
            labels.join(nb_min, labels["n"] == nb_min["src"], "left")
            .select(
                labels["n"],
                F.least(
                    labels["label"], F.coalesce(F.col("nb_min"), labels["label"])
                ).alias("label"),
                labels["label"].alias("_old"),
            )
            .localCheckpoint()
        )
        changed = stepped.filter(F.col("label") != F.col("_old")).count()
        labels = stepped.select("n", "label")
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing); raise max_iter"
        )
    return labels.select(F.col("n").alias("doc_id"), F.col("label").alias("component"))


def cluster_representatives(
    clusters: DataFrame,
    docs: DataFrame,
    key_col: str = "doc_id",
    quality_col: str = "n_chars",
) -> DataFrame:
    """The dedup ENDPOINT: which documents survive.

    ``clusters`` is (key, component) from :func:`connected_components`
    (near-dup clusters only — singletons are absent); every doc maps to a
    component (its own key when unclustered), and each component keeps
    exactly one representative: highest ``quality_col``, ties to the
    lowest key — ``min(struct(-quality, key))``, planned as a partial and a
    final SortAggregate: one partial-aggregable pass, no per-cluster window sort.

    Output: (key, component, is_survivor ∈ {0,1}) for EVERY input doc —
    filter ``is_survivor = 1`` for the cleaned corpus, or keep the full
    table as the dedup audit log.
    """
    labeled = (
        docs.select(key_col, quality_col)
        .join(clusters, key_col, "left")
        .withColumn("component", F.coalesce("component", F.col(key_col)))
    )
    best = (
        labeled.groupBy("component")
        .agg(
            F.min(
                F.struct(
                    (-F.col(quality_col)).alias("negq"),
                    F.col(key_col).alias("k"),
                )
            ).alias("m")
        )
        .select("component", F.col("m.k").alias("survivor_id"))
    )
    return labeled.join(best, "component").select(
        key_col,
        "component",
        (F.col(key_col) == F.col("survivor_id")).cast("int").alias("is_survivor"),
    )
