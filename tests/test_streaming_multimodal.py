"""Streaming ingest (memory sink) + multimodal batch plumbing."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gujarati_readability_pagewise_spark.functions.multimodal import (
    FEATURE_DIM,
    fake_image_features,
    media_from_documents,
    with_media_features,
)
from gujarati_readability_pagewise_spark.streaming.ingest import (
    dedup_recrawls,
    stream_pages,
    windowed_host_counts,
)


@pytest.fixture(scope="module")
def stream_src(spark, pages_pdf, tmp_path_factory):
    """Pages parquet dir with planted url recrawls (same url, 2 warc_ts)."""
    d = str(tmp_path_factory.mktemp("stream_src"))
    pdf = pages_pdf[["url", "warc_ts", "html", "text", "lang"]].copy()
    dup = pdf.head(20).copy()
    dup["warc_ts"] = dup["warc_ts"] + pd.Timedelta(minutes=5)
    both = pd.concat([pdf, dup], ignore_index=True)
    spark.createDataFrame(
        both, schema="url string, warc_ts timestamp, html binary, text string, lang string"
    ).repartition(6).write.mode("overwrite").parquet(d)
    return d, len(pdf), len(both)


def test_stream_dedup_recrawls(spark, stream_src):
    d, n_unique, n_total = stream_src
    q = (
        dedup_recrawls(stream_pages(spark, d))
        .select("url")
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT count(DISTINCT url) AS n, count(*) AS total FROM dedup_out").collect()[0]
        assert got["n"] == n_unique
        assert got["total"] == n_unique  # recrawls dropped, not duplicated
    finally:
        q.stop()


def test_stream_windowed_host_counts(spark, stream_src):
    d, n_unique, n_total = stream_src
    q = (
        windowed_host_counts(stream_pages(spark, d), window="30 minutes")
        .writeStream.format("memory")
        .queryName("win_out")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        total = spark.sql("SELECT sum(n_pages) AS s FROM win_out").collect()[0]["s"]
        assert total == n_total
        hosts = spark.sql("SELECT DISTINCT host FROM win_out").count()
        assert hosts >= 30
    finally:
        q.stop()


def test_media_features_shape_and_determinism(spark):
    media = media_from_documents(spark, "/root/testdata/sf0.001")
    out = with_media_features(media).toPandas()
    assert len(out) == media.count()
    assert all(len(f) == FEATURE_DIM for f in out.features)
    assert set(out.decode_status) <= {"ok", "empty"}
    out2 = with_media_features(media).toPandas().sort_values("media_id")
    out = out.sort_values("media_id")
    for a, b in zip(out.features, out2.features):
        np.testing.assert_array_equal(a, b)
    # metadata struct survives the Arrow round-trip
    m0 = out.meta.iloc[0]
    assert m0["mime"] == "image/png" and m0["width"] >= 64


def test_media_corrupt_payload_tolerated(spark):
    pdf = pd.DataFrame(
        {
            "media_id": [1, 2],
            "payload": [b"", None],
            "meta": [
                {"mime": "image/png", "width": 1, "height": 1, "n_bytes": 0},
                {"mime": "image/png", "width": 1, "height": 1, "n_bytes": 0},
            ],
        }
    )
    media = spark.createDataFrame(
        pdf,
        schema="media_id bigint, payload binary, "
        "meta struct<mime:string, width:int, height:int, n_bytes:bigint>",
    )
    out = with_media_features(media).toPandas()
    assert list(out.decode_status) == ["empty", "empty"]
    assert all(np.all(np.array(f) == 0.0) for f in out.features)


def test_fake_features_pure_function():
    s = pd.Series([b"abc", b"", None, b"abc"])
    a = fake_image_features(s)
    b = fake_image_features(s)
    np.testing.assert_array_equal(a, b)
    np.testing.assert_array_equal(a[0], a[3])
    assert np.all(a[1] == 0) and np.all(a[2] == 0)


def test_scd2_stream_merge_order_free_and_replay_idempotent(spark, tmp_path):
    """The incremental SCD2 merge must (a) converge to the batch history
    regardless of micro-batch arrival order and (b) be idempotent under
    at-least-once foreachBatch replays — both follow from the log-append +
    per-bucket-recompute design, and both are asserted here by driving
    scd2_merge_batch directly."""
    import pandas as pd
    from pyspark.sql import functions as F

    from gujarati_readability_pagewise_spark.plans.snapshots import scd2_history
    from gujarati_readability_pagewise_spark.streaming.ingest import (
        scd2_merge_batch,
    )

    rows = []
    for k in range(20):
        fp_seq = ["x", "x", "y"] if k % 2 else ["x", "y", "y"]
        for t, fp in enumerate(fp_seq, start=1):
            rows.append((k, t, fp))
    log = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "fetch_ts", "fp"])
    )
    want = sorted(
        map(tuple, scd2_history(log, "doc_id", "fetch_ts", "fp").collect())
    )

    state = str(tmp_path / "state")
    b1 = log.filter(F.col("fetch_ts") == 1)
    b2 = log.filter(F.col("fetch_ts") == 2)
    b3 = log.filter(F.col("fetch_ts") == 3)
    for b in (b3, b1, b2, b2):  # out of order + a replay of b2
        scd2_merge_batch(spark, b, state, key_col="doc_id")
    got = sorted(
        map(
            tuple,
            spark.read.parquet(f"{state}/history")
            .select("doc_id", "version", "valid_from", "valid_to", "fp", "is_current")
            .collect(),
        )
    )
    assert got == want


def test_scd2_replay_of_completed_stream_leaves_history_unchanged(spark, tmp_path):
    """At-least-once → effectively-once, beyond per-batch idempotence: run
    the SCD2 merge STREAM to completion, then re-deliver completed epochs
    (one batch, then the ENTIRE input again) through the same foreachBatch
    body — the history table must be byte-for-byte unchanged."""
    import pandas as pd
    from pyspark.sql import functions as F

    from gujarati_readability_pagewise_spark.streaming.ingest import (
        scd2_merge_batch,
        scd2_stream_merge,
    )

    rows = []
    for k in range(30):
        for t, fp in enumerate(["x", "y" if k % 3 == 0 else "x", "z"], start=1):
            rows.append((k, t, fp))
    log = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "fetch_ts", "fp"])
    )
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    log.repartition(6).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("doc_id bigint, fetch_ts bigint, fp string")
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    sq = scd2_stream_merge(spark, stream, state, key_col="doc_id").start()
    sq.processAllAvailable()
    sq.stop()

    def snap():
        return sorted(
            map(
                tuple,
                spark.read.parquet(f"{state}/history")
                .select("doc_id", "version", "valid_from", "valid_to", "fp", "is_current")
                .collect(),
            )
        )

    before = snap()
    assert before  # the stream actually produced history
    # replay one completed epoch, then the whole input (worst-case redelivery)
    scd2_merge_batch(spark, log.filter(F.col("fetch_ts") == 2), state, key_col="doc_id")
    assert snap() == before
    scd2_merge_batch(spark, log, state, key_col="doc_id")
    assert snap() == before


def test_streaming_curation_replay_and_order_free(spark, tmp_path):
    """Incremental curation: out-of-order micro-batches + whole-input
    replay must converge to the batch curation chain (first-per-digest,
    min key wins) with the kept table byte-identical after redelivery."""
    import pandas as pd
    from pyspark.sql import functions as F

    from gujarati_readability_pagewise_spark.streaming.ingest import (
        curate_merge_batch,
    )

    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs = base.select("doc_id", "text", "source").filter(F.col("doc_id") < 120)
    dup = docs.filter(F.col("doc_id") == 5).select(
        (F.col("doc_id") + 500).alias("doc_id"), "text", "source"
    )
    all_docs = docs.unionByName(dup)
    state = str(tmp_path / "state")
    b1 = all_docs.filter("doc_id % 3 = 2")
    b2 = all_docs.filter("doc_id % 3 = 0")
    b3 = all_docs.filter("doc_id % 3 = 1")
    for b in (b1, b2, b3, b2):  # out of order + replay of b2
        curate_merge_batch(spark, b, state)

    def snap():
        return sorted(
            map(
                tuple,
                spark.read.parquet(f"{state}/kept")
                .select("doc_id", "source")
                .collect(),
            )
        )

    before = snap()
    kept_ids = {t[0] for t in before}
    assert 5 in kept_ids and 505 not in kept_ids  # min key wins the digest
    # whole-input redelivery leaves the table identical
    curate_merge_batch(spark, all_docs, state)
    assert snap() == before


def test_monitor_merge_late_bucket_repairs_windows(spark, tmp_path):
    """The anomaly merge must repair trailing windows when a LATE bucket
    arrives (recompute-from-log semantics): after all deliveries —
    including out-of-order and replayed batches — the table equals the
    batch derivation over the full feed."""
    import pandas as pd
    from pyspark.sql import functions as F

    from gujarati_readability_pagewise_spark.operators.monitor import (
        volume_anomalies,
    )
    from gujarati_readability_pagewise_spark.streaming.ingest import (
        monitor_stream_merge,
    )

    rows = []
    base = 1_700_000_000
    eid = 0
    for h in range(40):
        per = 12 if h != 30 else 600
        for i in range(per):
            rows.append((eid, pd.Timestamp(base + h * 3600 + i, unit="s"), "feed"))
            eid += 1
    ev = spark.createDataFrame(
        pd.DataFrame(rows, columns=["event_id", "ts", "event_type"])
    )
    want = sorted(
        map(tuple, volume_anomalies(ev, trailing=24).collect())
    )
    state = str(tmp_path / "state")
    # deliveries: the late hours FIRST, then the early history, then a
    # replayed overlapping slice — each driven through the real stream
    batches = [
        ev.filter("event_id >= 246"),               # late/out-of-order first
        ev.filter("event_id < 246"),
        ev.filter("event_id BETWEEN 100 AND 400"),  # replay slice
    ]
    for i, b in enumerate(batches):
        src = str(tmp_path / f"src{i}")
        b.write.mode("overwrite").parquet(src)
        stream = (
            spark.readStream.schema("event_id bigint, ts timestamp, event_type string")
            .parquet(src)
        )
        q = monitor_stream_merge(spark, stream, state, trailing=24).start()
        q.processAllAvailable()
        q.stop()
    got = sorted(
        map(
            tuple,
            spark.read.parquet(f"{state}/anomalies")
            .select("key", "bucket_start", "n", "w_cnt", "sum_prior",
                    "sumsq_prior", "is_anomaly")
            .collect(),
        )
    )
    assert got == want


def test_curate_merge_key_rearrival_new_text(spark, tmp_path):
    """A key that re-arrives with NEW text contributes two content
    versions; each version must survive only where it won its OWN digest
    group.  A key-only semi-join would keep every version of any key
    that won for ANY digest — duplicate content under two doc_ids."""
    from pyspark.sql import functions as F

    from gujarati_readability_pagewise_spark.functions.textstats import (
        lang_id_expr,
        quality_score_expr,
    )
    from gujarati_readability_pagewise_spark.streaming.ingest import (
        curate_merge_batch,
    )

    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    passing = (
        base.withColumn("_lang", lang_id_expr(F.col("text")))
        .withColumn("_q", quality_score_expr(F.col("text")))
        .filter(F.col("_lang").isin(["gu", "hi", "en"]))
        .filter(F.col("_q") >= 0.55)
        .filter(F.length("text").between(80, 20000))
        .orderBy("doc_id")
        .limit(2)
        .collect()
    )
    assert len(passing) == 2 and passing[0]["text"] != passing[1]["text"]
    text_a, text_b = passing[0]["text"], passing[1]["text"]
    rows = [
        (10, text_a, "s"),  # key 10 wins digest(text_a)
        (10, text_b, "s"),  # ...but loses digest(text_b) to key 2
        (2, text_b, "s"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    state = str(tmp_path / "state")
    curate_merge_batch(spark, docs, state)
    kept = sorted(
        (r["doc_id"], r["text"] == text_a)
        for r in spark.read.parquet(f"{state}/kept")
        .select("doc_id", "text")
        .collect()
    )
    # (2, text_b) and (10, text_a) only — never (10, text_b)
    assert kept == [(2, False), (10, True)]


def test_schedule_merge_replay_and_order_invariant(spark, tmp_path):
    """The politeness-schedule merge must converge to the batch
    crawl_schedule regardless of micro-batch arrival order and under
    whole-batch redelivery: stable-hash within-host order means a late
    candidate lands in exactly its batch slot."""
    from pyspark.sql import functions as F

    from gujarati_readability_pagewise_spark.operators.sampling import (
        crawl_schedule,
    )
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pages = docs.select(
        "doc_id",
        F.concat(F.lit("h"), F.pmod("doc_id", F.lit(5)).cast("string")).alias(
            "host"
        ),
    )
    state = str(tmp_path / "state")

    # Drive the merge step directly (same logic as the foreachBatch body;
    # the streaming_schedule gate query covers the full stream path) so
    # batches can be applied out of order and replayed deterministically.
    def merge(b):
        bkt = F.pmod(F.xxhash64(F.col("host")), F.lit(8))
        b.select("host", "doc_id").write.mode("append").parquet(f"{state}/log")
        touched = [r["b"] for r in b.select(bkt.alias("b")).distinct().collect()]
        if not touched:
            return
        log = (
            spark.read.parquet(f"{state}/log")
            .withColumn("_bkt", bkt)
            .filter(F.col("_bkt").isin(touched))
            .dropDuplicates(["host", "doc_id"])
        )
        sched = crawl_schedule(
            log, host_col="host", key_col="doc_id", min_interval_s=10
        )
        sched.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("_bkt").parquet(f"{state}/schedule")

    b1 = pages.filter("doc_id % 3 = 2")
    b2 = pages.filter("doc_id % 3 = 0")
    b3 = pages.filter("doc_id % 3 = 1")
    for b in (b1, b2, b3, b2):  # out of order + replay
        merge(b)

    got = sorted(
        map(
            tuple,
            spark.read.parquet(f"{state}/schedule")
            .select("doc_id", "host", "slot", "sched_offset_s")
            .collect(),
        )
    )
    exp = sorted(
        map(
            tuple,
            crawl_schedule(pages, host_col="host", key_col="doc_id")
            .select("doc_id", "host", "slot", "sched_offset_s")
            .collect(),
        )
    )
    assert got == exp and len(exp) > 0


def test_merge_touched_in_list_ascending(spark, tmp_path):
    """A merge step that touches several partitions reads them back with
    an ascending IN list, so one batch gives the same plan on every run."""
    import re

    from gujarati_readability_pagewise_spark.streaming.ingest import _merge_touched

    logs = []

    def recompute(log):
        logs.append(log)
        return log

    batch = spark.range(64).select(F.col("id").alias("k"))
    bkt = F.pmod(F.xxhash64("k"), F.lit(8))
    _merge_touched(spark, batch, str(tmp_path), "out", "_bkt", bkt, ["k"], recompute)
    plan = logs[0]._jdf.queryExecution().analyzed().toString()
    (in_filter,) = [ln for ln in plan.splitlines() if " IN (" in ln]
    # the touched bucket ids reach the analyzed plan as cast(<n> as bigint)
    touched = [int(v) for v in re.findall(r"cast\((\d+) as bigint\)", in_filter)]
    assert touched == sorted(touched) and len(touched) > 1
