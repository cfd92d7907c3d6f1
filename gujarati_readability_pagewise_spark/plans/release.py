"""Corpus-release job: curation → verified near-dup removal → PII scrub →
sequence packing, as one runnable plan.

The extraction pipeline (plans/pipeline) turns raw pages into scored
documents; this plan turns scored documents into a TRAINING-READY corpus
release — the stage a lab runs before a pretraining launch, stitched
from the operators the gate checks individually:

1. **Curation chain** (the curation_funnel rules): language-ID allowlist,
   quality threshold, length band, Gopher repetition keep, exact dedup
   (first doc per content digest).
2. **Verified near-dup removal**: MinHash-LSH candidates → exact-Jaccard
   verify → connected components on VERIFIED edges → one representative
   per cluster (q_dedup_survivors composition; raw LSH edges would let a
   single false positive glue clusters and over-delete).
3. optional **ExactSubstr span cutting** (``cut_spans_window``): the
   copied paragraphs inside surviving docs are removed (Lee et al.'s
   second dedup level — document-level near-dup removal above, exact
   substring removal within).
4. **PII scrub** at the fixpoint (adjacent-IP safe) including IPv6.
5. **Sequence packing**: every surviving doc's coordinates in the
   512-token packed concatenation (range-bucketed prefix sum).

Outputs under ``out_root``: ``released/`` (scrubbed survivor docs with
packing coordinates), ``funnel/`` (per-stage survivor counts — the
attrition observability artifact), ``metrics/`` (job row).  Every stage
is a deterministic pure function of the input, so re-running the release
produces identical bytes (asserted in tests).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.repetition import repetition_signals
from ..functions.scrub import scrub_pii
from ..functions.textstats import curation_keep_expr
from ..operators.components import cluster_representatives, connected_components
from ..operators.dedup import (
    _persist,
    cut_spans,
    duplicate_spans,
    exact_dedup,
    near_dup_pairs,
    release_persisted,
    skew_impossible,
)
from ..operators.packing import pack_sequences
from ..session import local_frame
from .reports import write_metrics

__all__ = ["run_release"]


def run_release(
    spark: SparkSession,
    docs: DataFrame,
    out_root: str,
    key_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
    cut_spans_window: int | None = None,
    seq_len: int = 512,
    job_id: str | None = None,
) -> dict:
    """Run the full release chain; returns the funnel as a dict."""
    job_id = job_id or f"release-{int(time.time())}"
    t0 = time.time()
    _t_last = [t0]

    def _stage(name: str) -> None:
        # per-stage wall time in the funnel/metrics: the release row in
        # bench.py reports these so a slow release run names its stage
        now = time.time()
        funnel[f"t_{name}"] = round(now - _t_last[0], 3)
        _t_last[0] = now

    funnel: dict[str, float] = {}
    funnel["n_input"] = float(docs.count())
    _stage("input_count")

    # every persist below is registered with the dedup registry, so the
    # finally frees them (and the dedup operators' own) on failure too
    try:
        # 1. curation chain (same rules as the curation_funnel gate query)
        rep = repetition_signals(
            docs, text_col=text_col, key_col=key_col,
            n_partitions=spark.sparkContext.defaultParallelism,
        ).select(key_col, F.col("keep").alias("_rep_keep"))
        cur = (
            docs.filter(curation_keep_expr(F.col(text_col)))
            .join(rep, key_col, "left")
            .filter(F.coalesce("_rep_keep", F.lit(False)))
            .drop("_rep_keep")
        )
        cur = _persist(exact_dedup(cur, text_col, key_col))
        funnel["n_curated"] = float(cur.count())
        _stage("curation")

        # 2. verified near-dup survivors
        edges = near_dup_pairs(
            cur.select(key_col, text_col), key_col, text_col, jaccard_threshold
        ).select("a", "b")
        # connected_components emits its node column as 'doc_id' regardless of
        # the corpus key; realign for string-keyed (url) corpora
        clusters = connected_components(edges).withColumnRenamed("doc_id", key_col)
        audit = cluster_representatives(
            clusters,
            cur.select(key_col, F.length(text_col).alias("n_chars")),
            key_col=key_col,
        )
        survivors = _persist(cur.join(
            audit.filter(F.col("is_survivor") == 1).select(key_col), key_col, "left_semi"
        ))  # consumed by count + optional cutting + scrub/write/packing
        surv_row = survivors.agg(
            F.count("*").alias("n"), F.sum(F.length(text_col)).alias("chars")
        ).first()
        funnel["n_survivors"] = float(surv_row["n"])
        _stage("near_dup_survivors")

        # 3. optional ExactSubstr cutting inside the surviving docs
        if cut_spans_window:
            # the survivors' size can already rule out the skewed split that
            # head_k="auto" would probe for; the probe only runs when it can't
            spans = duplicate_spans(
                survivors, text_col, key_col, window=cut_spans_window,
                n_partitions=spark.sparkContext.defaultParallelism,
                head_k=None if skew_impossible(surv_row["chars"] or 0) else "auto",
            )
            # persist the CUT result before the funnel count: the scrub/pack
            # stage's first action would otherwise re-execute the whole span
            # pipeline (explode + first-occurrence agg + island merge) a
            # second time — the funnel agg and the persist share one
            # materialization instead
            survivors = _persist(cut_spans(survivors, spans, text_col, key_col))
            funnel["n_span_cut_chars"] = float(
                survivors.agg(F.sum("n_cut_chars")).first()[0] or 0
            )
            survivors = survivors.drop("n_cut_chars")
            _stage("span_cutting")

        # 4. PII scrub at the fixpoint, IPv6 included; persisted because the
        # packing prefix-sum takes two driver actions (approxQuantile + bucket
        # sums) and the released write is a third — without the persist the
        # whole curation+dedup chain re-executes per action
        scrubbed = _persist(survivors.withColumn(
            text_col, scrub_pii(F.col(text_col), fixpoint=True, ipv6=True)
        ))

        # 5. packing coordinates over the released corpus
        packed = pack_sequences(scrubbed, text_col, key_col, seq_len=seq_len)
        released = scrubbed.join(packed.drop("n_tokens"), key_col)
        released.write.mode("overwrite").parquet(f"{out_root}/released")
        # one scan of the WRITTEN parquet yields both funnel rows — the old
        # form re-ran the packing window for max(end_chunk) (released
        # already carries the column); the schema is the one just written, so
        # no footer-inference job runs
        rel_row = spark.read.schema(released.schema).parquet(f"{out_root}/released").agg(
            F.count("*").alias("n"),
            (F.max(F.col("end_chunk")) + 1).cast("double").alias("s"),
        ).first()
        funnel["n_released"] = float(rel_row["n"])
        _stage("scrub_pack_write")
        funnel["n_sequences"] = float(rel_row["s"] or 0.0)

        local_frame(
            spark, [(k, v) for k, v in sorted(funnel.items())], "stage string, n double"
        ).write.mode("overwrite").parquet(f"{out_root}/funnel")
        funnel["wall_sec"] = time.time() - t0
        write_metrics(spark, funnel, job_id, f"{out_root}/metrics")
        return {"job_id": job_id, **funnel}
    finally:
        release_persisted()
