"""Checkpoint/resume under simulated crash; salted aggregation equivalence."""

import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gujarati_readability_pagewise_spark.operators.skew import (
    heavy_hitters_hash_sampled,
    salted_summary,
)
from gujarati_readability_pagewise_spark.operators.udfs import with_extraction
from gujarati_readability_pagewise_spark.plans.checkpoint import (
    read_manifest,
    run_checkpointed,
)


@pytest.fixture()
def dirs(tmp_path):
    out = str(tmp_path / "out")
    man = str(tmp_path / "manifest")
    yield out, man
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def _transform(df):
    return with_extraction(df, include_spans=False)


def _crashing_after(groups):
    """``_transform`` that raises when asked for group ``groups + 1``, so
    exactly the first ``groups`` bucket groups commit: a crashed run."""
    calls = 0

    def transform(df):
        nonlocal calls
        calls += 1
        if calls > groups:
            raise RuntimeError(f"simulated crash after {groups} groups")
        return _transform(df)

    return transform


def test_checkpointed_run_completes_and_logs_metrics(spark, pages_df, dirs):
    out, man = dirs
    n = run_checkpointed(
        pages_df, _transform, out, man, n_buckets=8, buckets_per_job=4, job_id="t1"
    )
    assert n == 8
    result = spark.read.parquet(out)
    assert result.count() == pages_df.count()
    m = read_manifest(spark, man).toPandas()
    assert set(m.bucket) == set(range(8))
    assert m.n_rows.sum() == pages_df.count()
    assert (m.n_input_bytes >= 0).all() and m.job_id.eq("t1").all()


def test_resume_after_crash_no_dupes_no_missing(spark, pages_df, dirs):
    out, man = dirs
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_checkpointed(
            pages_df, _crashing_after(2), out, man,
            n_buckets=8, buckets_per_job=2, job_id="t2a",
        )
    assert read_manifest(spark, man).select("bucket").distinct().count() == 4
    # resume: must process exactly the remaining 4 buckets
    n2 = run_checkpointed(
        pages_df, _transform, out, man, n_buckets=8, buckets_per_job=2, job_id="t2b"
    )
    assert n2 == 4
    result = spark.read.parquet(out)
    assert result.count() == pages_df.count()
    assert result.select("url").distinct().count() == pages_df.count()  # no dupes


_RETRY_RUN = r"""
import hashlib, json, sys, tempfile
from pyspark import TaskContext
from gujarati_readability_pagewise_spark.ml.train import default_model
from gujarati_readability_pagewise_spark.operators.udfs import with_extraction_and_score
from gujarati_readability_pagewise_spark.plans.checkpoint import read_manifest, run_checkpointed
from gujarati_readability_pagewise_spark.session import get_spark
from gujarati_readability_pagewise_spark.sources.pages import PAGES_SCHEMA_DDL, gen_pages_pdf

spark = get_spark(app_name="retry", master="local[2,2]", shuffle_partitions=2)
sc = spark.sparkContext
pdf = gen_pages_pdf(200, seed=7)[["url", "warc_ts", "html", "text", "lang"]]
pages = spark.createDataFrame(pdf, schema=PAGES_SCHEMA_DDL)
model = default_model()


def score(df):
    return with_extraction_and_score(df, model, include_spans=False)


def fail_first_attempt(batches):
    if TaskContext.get().attemptNumber() == 0:
        raise RuntimeError("injected failure of a first task attempt")
    yield from batches


def score_retried(df):
    out = score(df)
    return out.mapInArrow(fail_first_attempt, out.schema)


def failed_tasks():
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the status store lags the jobs
    st = sc.statusTracker()
    stages = [st.getStageInfo(s) for j in st.getJobIdsForGroup() for s in st.getJobInfo(j).stageIds]
    return sum(s.numFailedTasks for s in stages if s is not None)


def sha(rows):
    return hashlib.sha256("\n".join(sorted(map(repr, rows))).encode()).hexdigest()


res = {}
for name, transform in (("clean", score), ("retried", score_retried)):
    root = tempfile.mkdtemp(dir=sys.argv[1])
    before = failed_tasks()
    run_checkpointed(pages, transform, f"{root}/extracted", f"{root}/manifest",
                     job_id=name, transform_id="score")
    out = spark.read.parquet(f"{root}/extracted")
    man = read_manifest(spark, f"{root}/manifest").select(
        "bucket", "n_rows", "n_text_bytes", "n_input_bytes", "transform_id")
    scored = out.select("url", "text", "features", "pred_label", "p_nonreadable")
    res[name] = {
        "failed_tasks": failed_tasks() - before,
        "rows": sha(map(tuple, out.collect())),
        "manifest": sorted(map(list, man.collect())),
        "scored": sha(map(tuple, scored.collect())),
    }
print(json.dumps(res))
spark.stop()
"""


def test_forced_task_retry_output_equals_clean_run(tmp_path):
    """Under ``local[2,2]`` every task of the retried run fails its first
    attempt in a pass-through after the scoring kernel, so the kernel and
    the bucket writes re-run: the written rows, the manifest and the
    scored digest must equal those of a clean run."""
    import json
    import subprocess
    import sys
    from pathlib import Path

    root = str(Path(__file__).resolve().parents[1])
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [root, env.get("PYTHONPATH")]))
    done = subprocess.run(
        [sys.executable, "-c", _RETRY_RUN, str(tmp_path)], env=env, cwd=root,
        capture_output=True, text=True, timeout=600,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    res = json.loads(done.stdout.strip().splitlines()[-1])
    clean, retried = res["clean"], res["retried"]
    assert clean["failed_tasks"] == 0
    assert retried["failed_tasks"] > 0
    assert len(clean["manifest"]) == 16
    assert sum(m[1] for m in clean["manifest"]) == 200
    for key in ("rows", "manifest", "scored"):
        assert retried[key] == clean[key], key


def test_rerun_of_completed_job_is_noop(spark, pages_df, dirs):
    out, man = dirs
    run_checkpointed(pages_df, _transform, out, man, n_buckets=4, job_id="t3")
    assert run_checkpointed(pages_df, _transform, out, man, n_buckets=4, job_id="t3b") == 0


def test_run_checkpointed_leaves_session_overwrite_mode(spark, pages_df, dirs):
    """Bucket writes overwrite dynamically per write; the session's
    partitionOverwriteMode stays as the caller set it, so a later static
    ``overwrite().partitionBy(...)`` in the session still drops stale
    partitions."""
    out, man = dirs
    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "static")
    try:
        run_checkpointed(pages_df, _transform, out, man, n_buckets=4, job_id="t6")
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.unset(key)


def test_resume_with_changed_transform_id_fails_fast(spark, pages_df, dirs):
    """A partially-complete run resumed with a DIFFERENT transform config
    (e.g. the scrub flag flipped) must refuse to continue — silently
    skipping completed buckets would produce a mixed corpus."""
    out, man = dirs
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_checkpointed(
            pages_df, _crashing_after(2), out, man,
            n_buckets=8, buckets_per_job=2, job_id="t4a",
            transform_id="scrub=False",
        )
    with pytest.raises(ValueError, match="transform_id"):
        run_checkpointed(
            pages_df, _transform, out, man,
            n_buckets=8, buckets_per_job=2, job_id="t4b",
            transform_id="scrub=True",
        )
    # same config resumes fine
    n2 = run_checkpointed(
        pages_df, _transform, out, man,
        n_buckets=8, buckets_per_job=2, job_id="t4c",
        transform_id="scrub=False",
    )
    assert n2 == 4


def test_resume_of_legacy_unrecorded_manifest_is_allowed(spark, pages_df, dirs):
    """A manifest whose rows carry no transform_id (legacy/default "")
    cannot prove a mismatch, so resuming it with a NEW recorded id must
    succeed — hard-failing would strand every pre-field half-finished run."""
    out, man = dirs
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_checkpointed(
            pages_df, _crashing_after(2), out, man,
            n_buckets=8, buckets_per_job=2, job_id="t5a",
        )  # default transform_id="" -> unrecorded
    n2 = run_checkpointed(
        pages_df, _transform, out, man,
        n_buckets=8, buckets_per_job=2, job_id="t5b",
        transform_id="scrub=False",
    )
    assert n2 == 4


def test_transform_kernel_runs_once_per_row(spark, pages_df, dirs):
    """Manifest stats must come from reading the written buckets back,
    never from re-running the transform: the kernel sees each input row
    exactly once."""
    out, man = dirs
    acc = spark.sparkContext.accumulator(0)

    def count_transform(df):
        def kernel(it):
            for pdf in it:
                acc.add(len(pdf))
                yield pd.DataFrame(
                    {
                        "url": pdf["url"],
                        "text": pdf["url"],
                        "n_bytes": pdf["html"].map(len).astype("int64"),
                    }
                )

        return df.mapInPandas(kernel, "url string, text string, n_bytes bigint")

    n_rows = pages_df.count()
    run_checkpointed(
        pages_df, count_transform, out, man,
        n_buckets=8, buckets_per_job=4, job_id="once",
    )
    assert acc.value == n_rows, (
        f"kernel saw {acc.value} rows for {n_rows} inputs (double-compute)"
    )
    m = read_manifest(spark, man).toPandas()
    assert m.n_rows.sum() == n_rows
    assert (m.n_text_bytes > 0).all() and (m.n_input_bytes > 0).all()


def test_fresh_root_launches_no_job_before_first_write(spark, pages_df, dirs, spark_jobs):
    """With no manifest yet there is nothing to resume or guard against:
    the first Spark job is the first group's write."""
    out, man = dirs

    class Stop(Exception):
        pass

    def stop(df):
        raise Stop

    with spark_jobs() as names, pytest.raises(Stop):
        run_checkpointed(pages_df, stop, out, man, n_buckets=4, transform_id="t")
    assert names == []


def test_manifest_rows_equal_direct_aggregate_one_file_per_append(spark, pages_df, dirs):
    out, man = dirs
    run_checkpointed(
        pages_df, _transform, out, man,
        n_buckets=8, buckets_per_job=4, job_id="agg", transform_id="scrub=False",
    )
    cols = ["bucket", "n_rows", "n_text_bytes", "n_input_bytes", "job_id", "transform_id"]
    got = sorted(map(tuple, read_manifest(spark, man).select(cols).collect()))
    want = sorted(
        map(
            tuple,
            spark.read.parquet(out)
            .groupBy("bucket")
            .agg(
                F.count("*"),
                F.sum(F.length("text")),
                F.sum("n_bytes"),
                F.lit("agg"),
                F.lit("scrub=False"),
            )
            .collect(),
        )
    )
    assert got == want and len(got) == 8
    m = read_manifest(spark, man).toPandas()
    assert (m.wall_sec > 0).all() and m.finished_at.notna().all()
    files = [f for f in os.listdir(man) if f.endswith(".parquet")]
    assert len(files) == 2  # one per bucket-group append


def test_heavy_hitter_hash_sampled_finds_planted_host(spark, pages_df):
    """The canonical sampled pre-pass (content-deterministic hash sample;
    the rand()-sampled form was removed as not resume-safe) must surface
    the planted 32% host with a ballpark share estimate, identically
    across reruns."""
    df = pages_df.withColumn("host", F.parse_url("url", F.lit("HOST")))
    hh = heavy_hitters_hash_sampled(df, "host", "url", min_share=0.1, mod=5)
    got = hh.toPandas().set_index("host")["share_est"]
    assert "big.example.gu" in got.index
    assert 0.2 < got["big.example.gu"] < 0.45
    again = heavy_hitters_hash_sampled(df, "host", "url", min_share=0.1, mod=5)
    assert got.equals(again.toPandas().set_index("host")["share_est"])


def test_salted_summary_equals_direct(spark, pages_df):
    df = pages_df.withColumn("host", F.parse_url("url", F.lit("HOST"))).withColumn(
        "v", F.length("html").cast("double")
    )
    direct = (
        df.groupBy("host")
        .agg(
            F.count("*").alias("n"),
            F.sum("v").alias("sum_value"),
            F.avg("v").alias("avg_value"),
            F.min("v").alias("min_value"),
            F.max("v").alias("max_value"),
        )
        .orderBy("host")
        .toPandas()
    )
    salted = salted_summary(df, "host", "v", n_salts=8).orderBy("host").toPandas()
    assert list(direct.host) == list(salted.host)
    for col in ("n", "sum_value", "min_value", "max_value"):
        assert list(direct[col]) == list(salted[col]), col
    assert max(abs(direct.avg_value - salted.avg_value)) < 1e-9


def test_distributed_rank_matches_global_window(spark):
    from pyspark.sql import Window as W2
    from gujarati_readability_pagewise_spark.operators.aggregate import (
        distributed_rank,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    d = ev.select(
        F.when(F.pmod(F.col("user_id"), F.lit(3)) == 0, 1).otherwise(0).alias("pos"),
        F.col("value").alias("score"),
        "event_id",
    )
    got = distributed_rank(d, "score", "event_id").select("event_id", "rk")
    want = d.withColumn(
        "rk_g",
        F.row_number().over(W2.orderBy(F.asc("score"), F.asc("event_id"))).cast("long"),
    ).select("event_id", "rk_g")
    diff = got.join(want, "event_id").filter(F.col("rk") != F.col("rk_g")).count()
    assert diff == 0


def test_salting_actually_spreads_the_hot_key(spark, pages_df):
    """SURVEY §7 hard-part 3: prove the salt does real work — partitioning by
    raw host leaves >25% of rows in one partition; (host, salt) spreads it."""
    df = pages_df.withColumn("host", F.parse_url("url", F.lit("HOST")))
    n = df.count()

    def max_partition_rows(d):
        sizes = (
            d.rdd.glom().map(len).collect()
        )
        return max(sizes)

    by_host = df.repartition(16, "host")
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64("url"), F.lit(16))
    ).repartition(16, "host", "_salt")
    hot = max_partition_rows(by_host) / n
    spread = max_partition_rows(salted) / n
    assert hot > 0.25, f"fixture lost its hot host ({hot})"
    assert spread < 0.15, f"salting failed to spread ({spread})"


def test_aqe_skew_join_splits_hot_partition(spark):
    """north_rule: AQE skew-join handling. With skew thresholds scaled to
    test size, the final adaptive plan must mark the join skew=true —
    i.e. Spark split the hot key's shuffle partition at runtime."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(0, 100000).select(
            F.when(F.col("id") < 95000, F.lit(0))
            .otherwise(F.col("id") % 50)
            .alias("k"),
            F.concat(
                F.lit("payloadpayloadpayloadpayloadpayload-"),
                F.col("id").cast("string"),
            ).alias("v"),
        )
        right = spark.range(0, 50).select(
            F.col("id").alias("k"), F.lit("dim").alias("d")
        )
        j = left.join(right, "k")
        assert len(j.collect()) == 100000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_host_quota_sample_deterministic_and_capped(spark, pages_df):
    """Per-host quota: never more than k per host, deterministic across
    runs and partitionings, and the planted hot host is capped too."""
    from gujarati_readability_pagewise_spark.operators.sampling import (
        host_quota_sample,
    )

    df = pages_df.withColumn("host", F.parse_url("url", F.lit("HOST")))
    s1 = host_quota_sample(df, k=7).select("host", "url").toPandas()
    assert s1.groupby("host").size().max() <= 7
    assert (s1.groupby("host").size() > 0).all()
    big = s1[s1.host == "big.example.gu"]
    assert len(big) == 7  # the 32% host is capped at exactly k
    s2 = (
        host_quota_sample(df.repartition(16), k=7)
        .select("host", "url")
        .toPandas()
    )
    a = s1.sort_values(["host", "url"]).reset_index(drop=True)
    b = s2.sort_values(["host", "url"]).reset_index(drop=True)
    assert a.equals(b)  # hash order, not rand(): partitioning-independent


def test_histogram_quantiles_within_one_bucket_of_exact(spark):
    """The fixed-bucket sketch quantile must land within one bucket width
    of the exact percentile, and be partitioning-independent."""
    from pyspark.sql import functions as F

    from gujarati_readability_pagewise_spark.operators.aggregate import (
        histogram_quantiles,
    )

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    n_buckets = 256
    lo, hi = li.agg(
        F.min("l_extendedprice"), F.max("l_extendedprice")
    ).first()
    width = (hi - lo) / n_buckets
    est = {
        r["p_permille"]: r["est_value"]
        for r in histogram_quantiles(li, "l_extendedprice", (500, 900, 990), n_buckets).collect()
    }
    exact = li.agg(
        F.expr("percentile(l_extendedprice, 0.5)"),
        F.expr("percentile(l_extendedprice, 0.9)"),
        F.expr("percentile(l_extendedprice, 0.99)"),
    ).first()
    for p, ex in zip((500, 900, 990), exact):
        assert abs(est[p] - ex) <= width + 1e-9, (p, est[p], ex, width)
    # partitioning-independent: integer bucket counts merge exactly
    est_rep = {
        r["p_permille"]: r["est_value"]
        for r in histogram_quantiles(
            li.repartition(16), "l_extendedprice", (500, 900, 990), n_buckets
        ).collect()
    }
    assert est == est_rep


def test_histogram_quantiles_ignores_nulls(spark):
    """NULL values are excluded from n = count(col); they must be excluded
    from the buckets too, or cum_count inflates and quantiles shift."""
    import pandas as pd

    from gujarati_readability_pagewise_spark.operators.aggregate import (
        histogram_quantiles,
    )

    vals = [float(i) for i in range(1000)]
    with_nulls = spark.createDataFrame(
        pd.DataFrame({"v": vals + [None] * 500}), "v double"
    )
    without = spark.createDataFrame(pd.DataFrame({"v": vals}), "v double")
    a = sorted(map(tuple, histogram_quantiles(with_nulls, "v").collect()))
    b = sorted(map(tuple, histogram_quantiles(without, "v").collect()))
    assert a == b


def test_mixture_sample_hits_target_shares(spark):
    """Mixture resampling: the kept sample's stratum shares equal the
    target weights (largest feasible total, binding stratum kept whole),
    selection is deterministic under repartitioning."""
    import pandas as pd

    from gujarati_readability_pagewise_spark.operators.sampling import (
        mixture_sample,
    )

    rows = [(i, "a" if i < 100 else ("b" if i < 140 else "c")) for i in range(200)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "source"]))
    # natural mix 100/40/60; target 50/25/25 -> b binds: T=160 -> 80/40/40
    out = mixture_sample(df, "source", "doc_id", {"a": 0.5, "b": 0.25, "c": 0.25})
    got = {r["source"]: r["n"] for r in out.groupBy("source").count().withColumnRenamed("count", "n").collect()}
    assert got == {"a": 80, "b": 40, "c": 40}
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(
        r["doc_id"]
        for r in mixture_sample(
            df.repartition(16), "source", "doc_id", {"a": 0.5, "b": 0.25, "c": 0.25}
        ).collect()
    )
    assert a == b


def test_mixture_sample_absent_strata_and_empty(spark):
    """Weights naming absent strata must not crash (binding computed over
    PRESENT strata only); an all-absent weight set returns empty."""
    import pandas as pd

    from gujarati_readability_pagewise_spark.operators.sampling import (
        mixture_sample,
    )

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(40), "source": ["a"] * 20 + ["b"] * 20})
    )
    out = mixture_sample(df, "source", "doc_id", {"a": 0.5, "zz": 0.5})
    got = {r["source"] for r in out.collect()}
    assert got == {"a"}  # 'zz' absent -> only 'a' contributes
    empty = mixture_sample(df, "source", "doc_id", {"zz": 1.0})
    assert empty.count() == 0
    import pytest

    with pytest.raises(ValueError):
        mixture_sample(df, "source", "doc_id", {})


def test_heavy_hitters_hash_sampled_deterministic_and_detects(spark):
    """The hash-sampled pre-pass: partitioning/rerun independent (content-
    deterministic sample) and the planted hot key is detected."""
    import pandas as pd

    from gujarati_readability_pagewise_spark.operators.skew import (
        heavy_hitters_hash_sampled,
    )

    rows = [(i, "hot" if i % 3 == 0 else f"h{i % 97}") for i in range(30000)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["rid", "host"]))
    a = sorted(
        map(
            tuple,
            heavy_hitters_hash_sampled(df, "host", "rid", min_share=0.1).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            heavy_hitters_hash_sampled(
                df.repartition(16), "host", "rid", min_share=0.1
            ).collect(),
        )
    )
    assert a == b
    assert any(r[0] == "hot" for r in a)  # ~33% key detected
    assert all(r[0] == "hot" for r in a)  # 1% keys stay below the margin


def test_pack_sequences_matches_naive_cumsum(spark):
    """The range-bucketed distributed prefix sum must equal the naive
    single-window packing exactly (integers), handle empty docs, and mark
    long docs as spanning multiple chunks."""
    import pandas as pd
    from pyspark.sql import Window as W2

    from gujarati_readability_pagewise_spark.operators.packing import (
        pack_sequences,
    )

    rows = []
    for i in range(300):
        if i % 17 == 0:
            rows.append((i, "   "))  # empty after trim
        elif i % 5 == 0:
            rows.append((i, "tok " * 700))  # spans >1 chunk at 512
        else:
            rows.append((i, "w " * (i % 90 + 1)))
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    got = pack_sequences(docs, seq_len=512, n_buckets=8)
    g = {r["doc_id"]: r for r in got.collect()}
    # naive single-window reference
    trimmed = F.trim(F.col("text"))
    n_tok = F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )
    t = docs.select("doc_id", n_tok.cast("int").alias("n"))
    w = W2.orderBy("doc_id").rowsBetween(W2.unboundedPreceding, -1)
    naive = {
        r["doc_id"]: r["cum"]
        for r in t.withColumn(
            "cum", F.coalesce(F.sum("n").over(w), F.lit(0))
        ).collect()
    }
    for k, r in g.items():
        assert r["cum_before"] == naive[k], k
        assert r["start_chunk"] == r["cum_before"] // 512
        assert r["start_offset"] == r["cum_before"] % 512
        if r["n_tokens"] == 0:
            assert r["end_chunk"] == r["start_chunk"]
        else:
            assert r["end_chunk"] == (r["cum_before"] + r["n_tokens"] - 1) // 512
    assert any(r["end_chunk"] > r["start_chunk"] for r in g.values())  # spanners
    # partitioning-independent
    again = sorted(
        map(tuple, pack_sequences(docs.repartition(16), seq_len=512, n_buckets=8).collect())
    )
    assert sorted(map(tuple, got.collect())) == again


def test_crawl_schedule_politeness_invariants(spark):
    """Within every host: slots are 1..n with no gaps, offsets are
    min_interval apart, and the assignment is retry/partitioning
    deterministic."""
    import pandas as pd

    from gujarati_readability_pagewise_spark.operators.sampling import (
        crawl_schedule,
    )

    rows = [(i, f"h{i % 5}") for i in range(200)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["url", "host"]))
    out = crawl_schedule(df, host_col="host", key_col="url", min_interval_s=10)
    pdf = out.toPandas()
    for host, grp in pdf.groupby("host"):
        slots = sorted(grp.slot)
        assert slots == list(range(1, len(grp) + 1))
        assert set(grp.sched_offset_s) == {(s - 1) * 10 for s in slots}
    again = crawl_schedule(
        df.repartition(16), host_col="host", key_col="url", min_interval_s=10
    ).toPandas()
    a = pdf.sort_values(["host", "url"]).reset_index(drop=True)
    b = again.sort_values(["host", "url"]).reset_index(drop=True)
    assert a.equals(b)


def test_volume_anomalies_flags_planted_burst(spark):
    """The integer z-rule must flag a planted 50x burst, never flag
    buckets before min_trailing history exists, and be deterministic
    under repartitioning."""
    import pandas as pd

    from gujarati_readability_pagewise_spark.operators.monitor import (
        volume_anomalies,
    )

    rows = []
    base = 1_700_000_000
    for h in range(40):
        per = 12 if h != 30 else 600  # planted burst at bucket 30
        for i in range(per):
            rows.append((pd.Timestamp(base + h * 3600 + i, unit="s"), "feed"))
    ev = spark.createDataFrame(
        pd.DataFrame(rows, columns=["ts", "event_type"])
    )
    out = volume_anomalies(ev, bucket_seconds=3600, trailing=24, k=3).collect()
    flags = {r["bucket_start"]: r["is_anomaly"] for r in out}
    burst_bucket = (base + 30 * 3600) // 3600 * 3600
    assert flags[burst_bucket] == 1
    assert sum(flags.values()) == 1  # steady 12/hour is never anomalous
    first_buckets = sorted(flags)[:8]
    assert all(flags[b] == 0 for b in first_buckets)  # min_trailing guard
    again = volume_anomalies(
        ev.repartition(16), bucket_seconds=3600, trailing=24, k=3
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_volume_anomalies_densifies_sparse_keys(spark):
    """The trailing baseline must run over TIME buckets, not present
    rows: a key that goes silent for days and then bursts is judged
    against the (zero-volume) recent buckets, not week-old volumes —
    and the zero buckets appear in the output with flag 0."""
    import pandas as pd

    from gujarati_readability_pagewise_spark.operators.monitor import (
        volume_anomalies,
    )

    base = 1_700_000_000
    rows = []
    # steady 500/hour for 30 buckets, 70 empty buckets, then ONE 400-event hour:
    # vs the trailing 24 zero buckets that's an infinite-z burst; vs the stale
    # present-rows baseline (mean 500) it would have been judged a drought.
    for h in range(30):
        rows += [(pd.Timestamp(base + h * 3600 + i % 3000, unit="s"), "feed")
                 for i in range(500)]
    rows += [(pd.Timestamp(base + 100 * 3600 + i, unit="s"), "feed")
             for i in range(400)]
    ev = spark.createDataFrame(pd.DataFrame(rows, columns=["ts", "event_type"]))
    out = volume_anomalies(ev, bucket_seconds=3600, trailing=24, k=3).collect()
    by_bucket = {r["bucket_start"]: r for r in out}
    assert len(out) == 101  # densified: every bucket in [0h, 100h]
    gap = by_bucket[(base // 3600 + 50) * 3600]
    assert gap["n"] == 0 and gap["is_anomaly"] == 0
    burst = by_bucket[(base // 3600 + 100) * 3600]
    assert burst["w_cnt"] == 24 and burst["sum_prior"] == 0
    assert burst["is_anomaly"] == 1  # flagged vs the DENSE zero baseline


def test_pack_sequences_string_keys(spark):
    """pack_sequences over a string-keyed corpus (urls — the release-job
    case): coordinates must equal the naive prefix sum in UTF-8 byte
    order, and a non-orderable key dtype must raise a clear TypeError."""
    import pytest
    from pyspark.sql import functions as F

    from gujarati_readability_pagewise_spark.operators.packing import (
        pack_sequences,
    )

    # every key shares a >7-byte prefix ("https://h"): a surrogate built
    # from the FIRST 7 bytes would collapse the whole corpus into one
    # range bucket (single-partition window); the common-prefix skip must
    # keep the surrogates spread
    rows = [(f"https://h{i % 13}.example/p{i:04d}", "tok " * (i % 37))
            for i in range(300)]
    rows += [("https://h1.example/p0003x", "a b c")]  # prefix-extension pair
    keys = [r[0].encode() for r in rows]
    mn, mx = min(keys), max(keys)
    skip = 0
    while skip < min(len(mn), len(mx)) and mn[skip] == mx[skip]:
        skip += 1
    assert skip > 7  # the collapse case the prefix skip exists for
    surrogates = {
        int.from_bytes(k[skip:skip + 7].ljust(7, b"\x00"), "big") for k in keys
    }
    assert len(surrogates) > 8  # spread across range buckets again
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["cum_before"])
        for r in pack_sequences(df, key_col="doc_id", seq_len=64,
                                n_buckets=8).collect()
    }
    acc = 0
    for k, t in sorted(rows, key=lambda r: r[0].encode("utf-8")):
        n = 0 if not t.strip() else len(t.split())
        assert got[k] == (n, acc), k
        acc += n
    with pytest.raises(TypeError, match="unsupported dtype"):
        pack_sequences(
            df.select(F.array(F.lit(1)).alias("doc_id"), "text"),
            key_col="doc_id",
        )


def test_training_order_is_permutation_and_repartition_invariant(spark):
    """Each epoch's positions must be an exact 0..n-1 permutation,
    epochs must differ (independent reshuffles), and the coordinates
    must be identical under repartitioning (restart determinism)."""
    from gujarati_readability_pagewise_spark.operators.sampling import (
        training_order,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = training_order(docs, n_epochs=2).collect()
    n = docs.count()
    by_epoch = {}
    for r in out:
        by_epoch.setdefault(r["epoch"], {})[r["doc_id"]] = r["position"]
    assert set(by_epoch) == {0, 1}
    for e, m in by_epoch.items():
        assert sorted(m.values()) == list(range(n))  # exact permutation
    assert by_epoch[0] != by_epoch[1]  # epochs reshuffle independently
    again = {
        (r["doc_id"], r["epoch"]): r["position"]
        for r in training_order(docs.repartition(16), n_epochs=2).collect()
    }
    assert all(again[(k, e)] == p for e, m in by_epoch.items() for k, p in m.items())


def test_metric_drift_flags_planted_mean_shift_only(spark):
    """The exact-integer mean-shift rule must flag a planted 0.2 quality
    drop (2000 fixed-point units vs a 1200-unit threshold) and nothing
    in the steady stream, deterministically under repartitioning."""
    import pandas as pd

    from gujarati_readability_pagewise_spark.operators.monitor import (
        metric_drift,
    )

    base = 1_700_000_000
    rows = []
    for h in range(40):
        for i in range(20):
            score = 9000 + (i % 7) * 10          # steady ~9030
            if h == 30:
                score -= 2000                     # planted drift bucket
            rows.append((pd.Timestamp(base + h * 3600 + i, unit="s"), "src", score))
    ev = spark.createDataFrame(pd.DataFrame(rows, columns=["ts", "source", "score"]))
    out = metric_drift(ev, key_col="source", score_col="score",
                       trailing=24, min_trailing=8).collect()
    flags = {r["bucket_start"]: r["is_drift"] for r in out}
    assert flags[(base // 3600 + 30) * 3600] == 1
    assert sum(flags.values()) == 1
    again = metric_drift(ev.repartition(16), key_col="source",
                         score_col="score", trailing=24, min_trailing=8).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
