"""Structured-Streaming ingest for a live crawl feed (optional surface).

The reference is strictly batch (SURVEY.md §2.10) — its nearest streaming
shape is the asyncio producer/consumer queue in the DQA module
(``document_quality_analyzer.py:510-593``).  The graft records the natural
Spark mapping for a crawl feed:

* ``readStream`` over the pages source (parquet dir here; Kafka in prod),
* recrawl dedup: ``withWatermark(warc_ts) + dropDuplicates([url])`` —
  state is bounded by the watermark horizon,
* windowed per-host arrival counts (the monitoring aggregate),
* the same Arrow extraction kernel applied per micro-batch via
  ``foreachBatch`` (exactly-once with an idempotent bucket sink).

Tests drive these with the memory sink + ``processAllAvailable()``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.pages import PAGES_SCHEMA_DDL

__all__ = [
    "stream_pages",
    "dedup_recrawls",
    "windowed_host_counts",
    "stream_extract",
    "scd2_stream_merge",
    "scd2_merge_batch",
    "curate_stream_merge",
    "curate_merge_batch",
    "monitor_stream_merge",
    "schedule_stream_merge",
]


def stream_pages(spark: SparkSession, src_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA_DDL)
        .option("maxFilesPerTrigger", 4)
        .parquet(src_dir)
    )


def dedup_recrawls(pages: DataFrame, horizon: str = "1 hour") -> DataFrame:
    """Keep the first sighting of each url within the watermark horizon."""
    return pages.withWatermark("warc_ts", horizon).dropDuplicates(["url"])


def windowed_host_counts(
    pages: DataFrame, window: str = "10 minutes", slide: str | None = None
) -> DataFrame:
    host = F.parse_url(F.col("url"), F.lit("HOST")).alias("host")
    w = F.window("warc_ts", window, slide) if slide else F.window("warc_ts", window)
    return (
        pages.withWatermark("warc_ts", "1 hour")
        .groupBy(w.alias("win"), host)
        .agg(F.count("*").alias("n_pages"), F.sum(F.length("html")).alias("n_bytes"))
    )


def stream_extract(
    pages: DataFrame,
    model,
    sink: Callable[[DataFrame, int], None],
):
    """Micro-batch extraction: the batch kernel inside foreachBatch.

    ``sink(batch_df, epoch_id)`` receives the scored frame; pair with the
    checkpointed bucket writer for exactly-once output.
    """
    from ..operators.udfs import with_extraction_and_score

    def run(batch_df: DataFrame, epoch_id: int) -> None:
        scored = with_extraction_and_score(batch_df, model, include_spans=False)
        sink(scored, epoch_id)

    return pages.writeStream.foreachBatch(run)


def scd2_stream_merge(
    spark: SparkSession,
    fetches: DataFrame,
    state_dir: str,
    key_col: str = "url",
    ts_col: str = "fetch_ts",
    fp_col: str = "fp",
    n_buckets: int = 8,
):
    """Incrementally maintain an SCD2 url-version table from a fetch stream.

    The warehouse merge pattern on plain parquet (Iceberg MERGE INTO with
    jars; the contract is identical):

    * every micro-batch APPENDS its raw fetch rows to ``state_dir/log``
      (append-only, replay-safe);
    * the history for the KEYS TOUCHED in this batch is recomputed from
      the accumulated log (filtered to the affected key-hash buckets —
      cost ∝ touched buckets, never the whole corpus) with the batch
      ``scd2_history`` operator, and written back with dynamic partition
      overwrite on the bucket column — idempotent, so an at-least-once
      foreachBatch retry rewrites the same bytes;
    * reads of ``state_dir/history`` see complete per-bucket histories.

    Because each merge recomputes from the full log slice, the final table
    is independent of micro-batch arrival ORDER — late or out-of-order
    fetches land in the right validity period, which watermark-free
    lag/lead streaming could not guarantee.  Duplicate (key, ts) rows from
    replays collapse via dropDuplicates before the window.

    Returns the DataStreamWriter (caller starts/stops it).
    """
    def merge(batch_df: DataFrame, epoch_id: int) -> None:
        scd2_merge_batch(
            spark, batch_df, state_dir, key_col, ts_col, fp_col, n_buckets
        )

    return fetches.writeStream.foreachBatch(merge)


def scd2_merge_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    state_dir: str,
    key_col: str = "url",
    ts_col: str = "fetch_ts",
    fp_col: str = "fp",
    n_buckets: int = 8,
) -> None:
    """One merge step of ``scd2_stream_merge`` (module-level so tests and
    backfill jobs can drive it directly): append the batch to the log,
    recompute history for the touched buckets, dynamic-overwrite them."""
    from ..plans.snapshots import scd2_history

    log_dir = f"{state_dir}/log"
    hist_dir = f"{state_dir}/history"
    bkt = F.pmod(F.xxhash64(F.col(key_col).cast("string")), F.lit(n_buckets))
    b = batch_df.select(key_col, ts_col, fp_col)
    b.write.mode("append").parquet(log_dir)
    touched = [
        r["b"] for r in b.select(bkt.alias("b")).distinct().collect()
    ]  # bounded: ≤ n_buckets
    if not touched:
        return
    log = (
        spark.read.parquet(log_dir)
        .withColumn("_bkt", bkt)
        .filter(F.col("_bkt").isin(touched))
        .dropDuplicates([key_col, ts_col])
    )
    hist = scd2_history(log, key_col, ts_col, fp_col).withColumn("_bkt", bkt)
    # per-write option, NOT session conf: mutating the session-wide
    # partitionOverwriteMode inside a micro-batch would silently change the
    # semantics of unrelated partitioned overwrites later in the session
    hist.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("_bkt").parquet(hist_dir)


def curate_stream_merge(
    spark: SparkSession,
    docs: DataFrame,
    state_dir: str,
    key_col: str = "doc_id",
    text_col: str = "text",
    langs: tuple[str, ...] = ("gu", "hi", "en"),
    min_quality: float = 0.55,
    length_band: tuple[int, int] = (80, 20000),
    n_buckets: int = 8,
):
    """Incrementally maintain a CURATED, exactly-deduped corpus from a
    document stream — the streaming face of the corpus_curation chain.

    Same idempotent merge pattern as :func:`scd2_stream_merge` (the
    warehouse MERGE on plain parquet): every micro-batch APPENDS its raw
    docs to ``state_dir/log``; the kept set for the TOUCHED digest-hash
    buckets is recomputed from the accumulated log (curation rules +
    first-global-occurrence per content digest, min key wins) and written
    back with dynamic partition overwrite.  Recomputing from the log
    slice makes the final table independent of micro-batch arrival ORDER
    and convergent under at-least-once replays — a dropDuplicates-style
    stateful dedup would pin the winner to arrival order, which a retry
    can change.  Reads of ``state_dir/kept`` see complete buckets.

    Returns the DataStreamWriter (caller starts/stops it).
    """
    def merge(batch_df: DataFrame, epoch_id: int) -> None:
        curate_merge_batch(
            spark, batch_df, state_dir, key_col, text_col,
            langs, min_quality, length_band, n_buckets,
        )

    return docs.writeStream.foreachBatch(merge)


def curate_merge_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    state_dir: str,
    key_col: str = "doc_id",
    text_col: str = "text",
    langs: tuple[str, ...] = ("gu", "hi", "en"),
    min_quality: float = 0.55,
    length_band: tuple[int, int] = (80, 20000),
    n_buckets: int = 8,
) -> None:
    """One merge step of ``curate_stream_merge`` (module-level so tests
    and backfills drive it directly)."""
    from ..functions.textstats import curation_keep_expr

    log_dir = f"{state_dir}/log"
    kept_dir = f"{state_dir}/kept"
    bkt = F.pmod(F.xxhash64(F.md5(F.col(text_col))), F.lit(n_buckets))
    batch_df.write.mode("append").parquet(log_dir)
    touched = [
        r["b"] for r in batch_df.select(bkt.alias("b")).distinct().collect()
    ]  # bounded: ≤ n_buckets
    if not touched:
        return
    log = (
        spark.read.parquet(log_dir)
        .withColumn("_bkt", bkt)
        .filter(F.col("_bkt").isin(touched))
        # collapse replayed appends on (key, text): identical re-deliveries
        # dedup deterministically, while a re-crawled key with NEW text is
        # a distinct content version that flows on to the digest dedup
        # (docs are expected content-addressed / append-only; a mutable-id
        # feed should run through the SCD2 merge first)
        .dropDuplicates([key_col, text_col])
    )
    kept = log.filter(
        curation_keep_expr(F.col(text_col), langs, min_quality, length_band)
    )
    first = kept.groupBy(F.md5(F.col(text_col)).alias("_digest")).agg(
        F.min(key_col).alias(key_col)
    )
    # semi-join on (key, digest) PAIRS, not key alone: if a key re-arrives
    # with new text, each content version survives only where it actually
    # won its own digest group — a key-only semi would retain every
    # version of any key that won for ANY digest (duplicate content).
    out = (
        kept.withColumn("_digest", F.md5(F.col(text_col)))
        .join(first, [key_col, "_digest"], "left_semi")
        .drop("_digest")
    )
    out.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("_bkt").parquet(kept_dir)


def monitor_stream_merge(
    spark: SparkSession,
    events: DataFrame,
    state_dir: str,
    id_col: str = "event_id",
    ts_col: str = "ts",
    key_col: str = "event_type",
    bucket_seconds: int = 3600,
    trailing: int = 24,
    k: int = 3,
    min_trailing: int = 8,
):
    """Incrementally maintain the crawl-volume anomaly table from an
    event stream — the streaming face of operators/monitor.

    Same idempotent merge pattern as the SCD2/curation merges: every
    micro-batch APPENDS raw events to ``state_dir/log``; the anomaly
    rows for the KEYS touched in this batch are recomputed from the
    accumulated log with the batch ``volume_anomalies`` operator and
    written back with dynamic partition overwrite on the key.  A late or
    replayed bucket therefore lands in the right trailing window and
    flips flags exactly as a batch recomputation would — stateful
    incremental z-scores could not repair history after late data.
    Recompute cost is bounded by the touched keys' retained log, which a
    production deployment trims to the monitoring horizon.

    Returns the DataStreamWriter (caller starts/stops it).
    """
    from ..operators.monitor import volume_anomalies

    def merge(batch_df: DataFrame, epoch_id: int) -> None:
        log_dir = f"{state_dir}/log"
        out_dir = f"{state_dir}/anomalies"
        b = batch_df.select(id_col, ts_col, key_col)
        b.write.mode("append").parquet(log_dir)
        touched = [
            r["k"] for r in b.select(F.col(key_col).alias("k")).distinct().collect()
        ]  # bounded: one row per event key
        if not touched:
            return
        log = (
            spark.read.parquet(log_dir)
            .filter(F.col(key_col).isin(touched))
            .dropDuplicates([id_col])  # replayed appends collapse
        )
        out = volume_anomalies(
            log, ts_col, key_col, bucket_seconds, trailing, k, min_trailing
        ).withColumn("_k", F.col("key"))
        out.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("_k").parquet(out_dir)

    return events.writeStream.foreachBatch(merge)


def schedule_stream_merge(
    spark: SparkSession,
    fetches: DataFrame,
    state_dir: str,
    host_col: str = "host",
    key_col: str = "url",
    min_interval_s: int = 10,
    n_buckets: int = 8,
):
    """Incrementally maintain the per-host politeness SCHEDULE from a
    stream of fetch candidates — the streaming face of
    operators/sampling.crawl_schedule (the crawl-frontier rate limiter).

    Same idempotent merge pattern as the SCD2/curation/monitor merges:
    every micro-batch APPENDS its (host, key) candidates to
    ``state_dir/log``; the schedule for the TOUCHED host-hash buckets is
    recomputed from the accumulated log with the batch ``crawl_schedule``
    operator and written back with dynamic partition overwrite.  Because
    the within-host order is the STABLE HASH of the key (not arrival
    order), a fetch candidate that arrives late or is redelivered lands
    in exactly the slot the batch derivation gives it — the final
    schedule is independent of micro-batch boundaries and convergent
    under at-least-once replay, which an arrival-ordered stateful
    row_number could never be (a retry would renumber the host's whole
    frontier).  Hosts are grouped into ``n_buckets`` hash buckets so the
    partition layout is bounded and a batch's recompute cost is
    proportional to the touched buckets' retained frontier, not the
    whole log.

    Returns the DataStreamWriter (caller starts/stops it).
    """
    from ..operators.sampling import crawl_schedule

    def merge(batch_df: DataFrame, epoch_id: int) -> None:
        log_dir = f"{state_dir}/log"
        out_dir = f"{state_dir}/schedule"
        bkt = F.pmod(F.xxhash64(F.col(host_col)), F.lit(n_buckets))
        b = batch_df.select(host_col, key_col)
        b.write.mode("append").parquet(log_dir)
        touched = [
            r["b"] for r in b.select(bkt.alias("b")).distinct().collect()
        ]  # bounded: <= n_buckets
        if not touched:
            return
        log = (
            spark.read.parquet(log_dir)
            .withColumn("_bkt", bkt)
            .filter(F.col("_bkt").isin(touched))
            .dropDuplicates([host_col, key_col])  # replayed appends collapse
        )
        sched = crawl_schedule(
            log, host_col=host_col, key_col=key_col,
            min_interval_s=min_interval_s,
        )
        sched.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("_bkt").parquet(out_dir)

    return fetches.writeStream.foreachBatch(merge)
