"""Structured-Streaming ingest for a live crawl feed (optional surface).

The reference is strictly batch (SURVEY.md §2.10) — its nearest streaming
shape is the asyncio producer/consumer queue in the DQA module
(``document_quality_analyzer.py:510-593``).  The graft records the natural
Spark mapping for a crawl feed:

* ``readStream`` over the pages source (parquet dir here; Kafka in prod),
* recrawl dedup: ``withWatermark(warc_ts) + dropDuplicates([url])`` —
  state is bounded by the watermark horizon,
* windowed per-host arrival counts (the monitoring aggregate),
* incremental merges (SCD2 history, curation, anomalies, crawl schedule)
  that each run one ``_merge_touched`` step per micro-batch: append to a
  log, recompute only the partitions the batch touched.

Tests drive these with the memory sink + ``processAllAvailable()``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.pages import PAGES_SCHEMA_DDL

__all__ = [
    "stream_pages",
    "dedup_recrawls",
    "windowed_host_counts",
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


def _merge_touched(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    out_name: str,
    part: str,
    part_expr: Column,
    replay_key: list[str],
    recompute: Callable[[DataFrame], DataFrame],
) -> None:
    """One idempotent merge step — the warehouse MERGE on plain parquet
    (Iceberg MERGE INTO with jars; the contract is identical), written
    once for every ``*_stream_merge``.

    ``batch`` is APPENDED to ``state_dir/log`` (append-only, replay-safe);
    the partitions it touches (``part_expr`` values, a bounded set) are
    read back from the accumulated log, replayed appends collapse on
    ``replay_key``, and ``recompute`` — the batch operator — derives their
    rows, which replace exactly those partitions of ``state_dir/out_name``
    (dynamic overwrite on ``part``).  Recompute cost is ∝ the touched
    partitions' retained log, never the whole corpus.

    Each touched partition is a pure function of ALL log rows that fall in
    it, so the final table is independent of micro-batch arrival ORDER
    (late or out-of-order rows land where a batch derivation puts them)
    and convergent under at-least-once foreachBatch replay (a retry appends
    duplicates that ``replay_key`` collapses, then rewrites the same
    bytes).  Stateful streaming operators (dropDuplicates winners, lag/
    lead, incremental z-scores, arrival-ordered row_number) pin results to
    arrival order, which a retry can change.  This is the partition-wise
    incremental recompute of differential data-quality verification
    (ICDE 2019).  Reads of the output see complete partitions.
    """
    log_dir = f"{state_dir}/log"
    batch.write.mode("append").parquet(log_dir)
    # bounded: one row per touched partition.  Sorted, so the IN list of
    # the plan is the same on every run; a null never matches IN.
    touched = sorted(
        v for (v,) in batch.select(part_expr.alias(part)).distinct().collect()
        if v is not None
    )
    if not touched:
        return
    log = (
        spark.read.parquet(log_dir)
        .withColumn(part, part_expr)
        .filter(F.col(part).isin(touched))
        .dropDuplicates(replay_key)
    )
    # per-write option, NOT session conf: mutating the session-wide
    # overwrite mode inside a micro-batch would silently change the
    # semantics of unrelated partitioned overwrites later in the session
    recompute(log).write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy(part).parquet(f"{state_dir}/{out_name}")


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

    Each micro-batch is one ``_merge_touched`` step on ``state_dir``:
    the batch ``scd2_history`` recomputes the touched key-hash buckets of
    ``history/``, so late fetches land in the right validity period.

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

    bkt = F.pmod(F.xxhash64(F.col(key_col).cast("string")), F.lit(n_buckets))
    _merge_touched(
        spark, batch_df.select(key_col, ts_col, fp_col), state_dir, "history",
        "_bkt", bkt, [key_col, ts_col],
        lambda log: scd2_history(log, key_col, ts_col, fp_col).withColumn("_bkt", bkt),
    )


def curate_stream_merge(
    spark: SparkSession,
    docs: DataFrame,
    state_dir: str,
    key_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 8,
):
    """Incrementally maintain a CURATED, exactly-deduped corpus from a
    document stream — the streaming face of the corpus_curation chain.

    Each micro-batch is one ``_merge_touched`` step on ``state_dir``: the
    curation rules plus first-global-occurrence per content digest (min
    key wins) recompute the touched digest-hash buckets of ``kept/``.

    Returns the DataStreamWriter (caller starts/stops it).
    """
    def merge(batch_df: DataFrame, epoch_id: int) -> None:
        curate_merge_batch(spark, batch_df, state_dir, key_col, text_col, n_buckets)

    return docs.writeStream.foreachBatch(merge)


def curate_merge_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    state_dir: str,
    key_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 8,
) -> None:
    """One merge step of ``curate_stream_merge`` (module-level so tests
    and backfills drive it directly)."""
    from ..functions.textstats import curation_keep_expr

    def recompute(log: DataFrame) -> DataFrame:
        kept = log.filter(curation_keep_expr(F.col(text_col)))
        first = kept.groupBy(F.md5(F.col(text_col)).alias("_digest")).agg(
            F.min(key_col).alias(key_col)
        )
        # semi-join on (key, digest) PAIRS, not key alone: if a key re-arrives
        # with new text, each content version survives only where it actually
        # won its own digest group — a key-only semi would retain every
        # version of any key that won for ANY digest (duplicate content).
        return (
            kept.withColumn("_digest", F.md5(F.col(text_col)))
            .join(first, [key_col, "_digest"], "left_semi")
            .drop("_digest")
        )

    # replayed appends collapse on (key, text): identical re-deliveries
    # dedup deterministically, while a re-crawled key with NEW text is
    # a distinct content version that flows on to the digest dedup
    # (docs are expected content-addressed / append-only; a mutable-id
    # feed should run through the SCD2 merge first)
    _merge_touched(
        spark, batch_df, state_dir, "kept", "_bkt",
        F.pmod(F.xxhash64(F.md5(F.col(text_col))), F.lit(n_buckets)),
        [key_col, text_col], recompute,
    )


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

    Each micro-batch is one ``_merge_touched`` step on ``state_dir``: the
    batch ``volume_anomalies`` recomputes the touched keys of
    ``anomalies/``, so a late bucket repairs its trailing windows; a
    production deployment trims the log to the monitoring horizon.

    Returns the DataStreamWriter (caller starts/stops it).
    """
    from ..operators.monitor import volume_anomalies

    def merge(batch_df: DataFrame, epoch_id: int) -> None:
        _merge_touched(
            spark, batch_df.select(id_col, ts_col, key_col), state_dir,
            "anomalies", "_k", F.col(key_col), [id_col],
            lambda log: volume_anomalies(
                log, ts_col, key_col, bucket_seconds, trailing, k, min_trailing
            ).withColumn("_k", F.col("key")),
        )

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

    Each micro-batch is one ``_merge_touched`` step on ``state_dir``: the
    batch ``crawl_schedule`` recomputes the touched host-hash buckets of
    ``schedule/``; its within-host order is the stable hash of the key,
    so a late or redelivered candidate gets the slot a batch run gives it.

    Returns the DataStreamWriter (caller starts/stops it).
    """
    from ..operators.sampling import crawl_schedule

    def merge(batch_df: DataFrame, epoch_id: int) -> None:
        _merge_touched(
            spark, batch_df.select(host_col, key_col), state_dir, "schedule",
            "_bkt", F.pmod(F.xxhash64(F.col(host_col)), F.lit(n_buckets)),
            [host_col, key_col],
            lambda log: crawl_schedule(
                log, host_col=host_col, key_col=key_col,
                min_interval_s=min_interval_s,
            ),
        )

    return fetches.writeStream.foreachBatch(merge)
