"""End-to-end production pipeline: extract -> host summary -> metrics,
committed by the manifest; and the release job run on its output."""

import ast
import hashlib
import os
import random
import re
import subprocess
import sys
from pathlib import Path

import pandas as pd
from pyspark.sql import functions as F

from gujarati_readability_pagewise_spark.plans.pipeline import run_pipeline
from gujarati_readability_pagewise_spark.plans.reports import read_metrics
from gujarati_readability_pagewise_spark.sources.pages import (
    PAGES_SCHEMA_DDL,
    gen_labels_pdf,
    gen_pages_pdf,
)


def test_run_pipeline_end_to_end(spark, pages_df, pages_pdf, tmp_path):
    out = str(tmp_path / "job")
    labels = spark.createDataFrame(gen_labels_pdf(pages_pdf, seed=42))
    res = run_pipeline(spark, pages_df, out, labels=labels, n_buckets=8, job_id="jt")
    assert res["rows_out"] == len(pages_pdf)
    assert res["buckets_processed"] == 8
    assert res["accuracy"] > 0.8
    # artifacts on disk
    summary = spark.read.parquet(out + "/host_summary")
    assert summary.filter(F.col("host") == "big.example.gu").count() == 1
    m = read_metrics(spark, out + "/metrics")
    assert m.filter(F.col("job_id") == "jt").count() >= 8
    assert spark.read.parquet(out + "/extracted").count() == len(pages_pdf)


def _files(root):
    """Every file under ``root`` by relative path: its bytes' sha256 and mtime."""
    return {
        str(p.relative_to(root)): (hashlib.sha256(p.read_bytes()).hexdigest(), p.stat().st_mtime_ns)
        for p in Path(root).rglob("*")
        if p.is_file()
    }


def test_rerun_commits_nothing_new(spark, pages_df, tmp_path):
    """A rerun over a complete manifest processes no bucket, reports the
    same ``rows_out``, and adds or changes no file except new ``metrics/``
    rows: the manifest is the commit, and nothing is copied again."""
    out = str(tmp_path / "job")
    first = run_pipeline(spark, pages_df, out, n_buckets=4, job_id="r1")
    before = _files(out)
    again = run_pipeline(spark, pages_df, out, n_buckets=4, job_id="r2")
    after = _files(out)
    assert again["buckets_processed"] == 0
    assert again["rows_out"] == first["rows_out"] == pages_df.count()
    assert set(before) <= set(after)
    added = sorted(set(after) - set(before))
    assert added and all(p.startswith("metrics/") for p in added), added
    # the metrics append also rewrites that table's _SUCCESS marker
    changed = sorted(p for p in before if before[p] != after[p])
    assert set(changed) <= {"metrics/_SUCCESS", "metrics/._SUCCESS.crc"}, changed
    # a summary that never committed (a crash after the last bucket) is
    # rewritten by the rerun that finds every bucket done
    want = spark.read.parquet(f"{out}/host_summary").toPandas()
    (Path(out) / "host_summary" / "_SUCCESS").unlink()
    assert run_pipeline(spark, pages_df, out, n_buckets=4, job_id="r3")["buckets_processed"] == 0
    assert (Path(out) / "host_summary" / "_SUCCESS").exists()
    got = spark.read.parquet(f"{out}/host_summary").toPandas()
    # float sums may add in another order: equal to rounding, NaN == NaN
    pd.testing.assert_frame_equal(
        got.sort_values("host", ignore_index=True), want.sort_values("host", ignore_index=True),
        check_exact=False, rtol=1e-12,
    )


def _run_job(script, *args):
    """Run a job script in a fresh, small Python process; return its
    ``<NAME>_RESULT:`` dict."""
    root = str(Path(__file__).resolve().parents[1])
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [root, env.get("PYTHONPATH")]))
    done = subprocess.run(
        [sys.executable, f"jobs/{script}", *args], env=env, cwd=root,
        capture_output=True, text=True, timeout=600,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    line = next(ln for ln in done.stdout.splitlines() if "_RESULT: " in ln)
    return ast.literal_eval(line.split("_RESULT: ", 1)[1])


def test_release_job_runs_on_pipeline_output(spark, tmp_path):
    """The two jobs compose: ``release_job.py`` keys the pipeline's
    url-keyed ``extracted/`` by ``url``, releases from every extracted row,
    and releases only extracted urls."""
    pdf = gen_pages_pdf(200, seed=11)[["url", "warc_ts", "html", "text", "lang"]]
    spark.createDataFrame(pdf, schema=PAGES_SCHEMA_DDL).write.parquet(str(tmp_path / "pages"))
    pipe = _run_job("extract_pipeline.py", str(tmp_path / "pages"), str(tmp_path / "pipe"))
    rel = _run_job("release_job.py", str(tmp_path / "pipe" / "extracted"), str(tmp_path / "rel"))
    assert pipe["rows_out"] == 200
    assert rel["n_input"] == pipe["rows_out"]
    assert rel["n_released"] > 0

    def urls(table):
        return {r["url"] for r in spark.read.parquet(str(tmp_path / table)).select("url").collect()}

    assert urls("rel/released") <= urls("pipe/extracted")


def test_host_summary_schema_does_not_depend_on_skew(spark, pages_df, tmp_path):
    """The skewed crawl (``big.example.gu`` holds 32 % of the pages) and the
    same pages without that host write the same ``host_summary/`` table:
    ``host_summary``'s columns, book decision included, equal to
    ``host_summary`` of the extracted output, with ``rows_out`` its rows."""
    from gujarati_readability_pagewise_spark.operators.aggregate import host_summary
    from gujarati_readability_pagewise_spark.operators.split import host_of

    big = host_of(F.col("url")) == "big.example.gu"
    assert pages_df.filter(big).count() > 0.3 * pages_df.count()
    for name, pages in (("skewed", pages_df), ("flat", pages_df.filter(~big))):
        out = str(tmp_path / name)
        res = run_pipeline(spark, pages, out, n_buckets=4, job_id=name)
        got = spark.read.parquet(out + "/host_summary")
        want = host_summary(spark.read.parquet(out + "/extracted"))
        assert got.dtypes == want.dtypes and "host_prediction" in got.columns
        # float sums may add in another order: equal to rounding, NaN == NaN
        pd.testing.assert_frame_equal(
            got.toPandas().sort_values("host", ignore_index=True),
            want.toPandas().sort_values("host", ignore_index=True),
            check_exact=False, rtol=1e-12,
        )
        assert res["rows_out"] == pages.count() == got.agg(F.sum("total_pages")).first()[0]


def test_run_pipeline_scrub_flag(spark, tmp_path):
    """scrub=True redacts planted PII in the pipeline output; default
    leaves extracted text byte-identical (the north-rule invariant)."""
    from pyspark.sql import functions as F

    from gujarati_readability_pagewise_spark.plans.pipeline import run_pipeline
    from gujarati_readability_pagewise_spark.sources.pages import gen_pages_pdf

    pdf = gen_pages_pdf(24, seed=5, corrupt_frac=0.0)
    pages = spark.createDataFrame(pdf).withColumn(
        "html",
        F.concat(
            F.col("html").cast("string"),
            F.lit("<p>mail me leak.address@example-leak.org and more words here"
                  " to keep the block long enough to survive scoring</p>"),
        ).cast("binary"),
    )
    out = run_pipeline(spark, pages, str(tmp_path / "plain"), n_buckets=4)
    assert out["rows_out"] == 24
    plain = spark.read.parquet(str(tmp_path / "plain" / "extracted"))
    assert plain.filter(F.col("text").contains("leak.address@")).count() > 0

    out2 = run_pipeline(spark, pages, str(tmp_path / "scrubbed"), n_buckets=4, scrub=True)
    assert out2["rows_out"] == 24
    red = spark.read.parquet(str(tmp_path / "scrubbed" / "extracted"))
    assert red.filter(F.col("text").contains("leak.address@")).count() == 0
    assert red.filter(F.col("text").contains("<EMAIL>")).count() > 0


def test_corpus_release_end_to_end(spark, tmp_path):
    """plans/release: curation drops the planted garbage doc, verified
    near-dup removal keeps exactly one of a planted near-identical pair,
    the scrub redacts planted PII at the fixpoint, packing coordinates
    are consistent, and the whole release is deterministic (re-run
    produces identical rows)."""
    from pyspark.sql import functions as F

    from gujarati_readability_pagewise_spark.plans.release import run_release

    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = base.filter(F.col("doc_id") < 60).select("doc_id", "text")
    dup = base.filter(F.col("doc_id") == 3).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tiny tail")).alias("text"),
    )
    extra = spark.createDataFrame(
        [
            (20001, "#### !!!! ???? @@@@ %%%% ^^^^ &&&& **** (((( ))))"
                     " $$$$ #### !!!! ???? @@@@ %%%%"),  # garbage: fails quality
            (20002, "write to someone@example-mail.org and 10.1.2.3,10.1.2.4 "
                     "about the well written and pleasantly long document that "
                     "keeps a perfectly ordinary words ratio across all of its "
                     "many plain sentences. it continues with more ordinary "
                     "text so the length band and quality threshold pass."),
        ],
        "doc_id long, text string",
    )
    docs = src.unionByName(dup).unionByName(extra)
    out = str(tmp_path / "rel")
    res = run_release(spark, docs, out, job_id="rel-test")
    assert res["n_input"] >= res["n_curated"] >= res["n_survivors"] == res["n_released"]
    rel = spark.read.parquet(f"{out}/released")
    ids = {r["doc_id"] for r in rel.select("doc_id").collect()}
    assert 20001 not in ids  # garbage culled by quality rule
    # near-dup pair: exactly one of (3, 10003) survives
    assert len({3, 10003} & ids) == 1
    assert 20002 in ids  # crafted to pass every curation rule
    row = rel.filter("doc_id = 20002").first()
    assert "someone@example-mail.org" not in row["text"]
    assert "<EMAIL>" in row["text"]
    assert "10.1.2.3" not in row["text"] and "10.1.2.4" not in row["text"]
    pk = rel.select("doc_id", "cum_before", "start_chunk", "end_chunk").collect()
    assert all(r["start_chunk"] <= r["end_chunk"] for r in pk)
    # deterministic re-run
    out2 = str(tmp_path / "rel2")
    run_release(spark, docs, out2, job_id="rel-test-2")
    a = sorted(map(tuple, rel.select("doc_id", "text", "start_chunk").collect()))
    b = sorted(
        map(
            tuple,
            spark.read.parquet(f"{out2}/released")
            .select("doc_id", "text", "start_chunk")
            .collect(),
        )
    )
    assert a == b
    funnel = {r["stage"]: r["n"] for r in spark.read.parquet(f"{out}/funnel").collect()}
    assert funnel["n_input"] == docs.count()


def test_corpus_release_span_cutting_stage(spark, tmp_path):
    """With cut_spans_window set, a paragraph copied between two
    otherwise-distinct surviving docs is removed from the later one and
    the funnel records the cut volume."""
    from pyspark.sql import functions as F

    from gujarati_readability_pagewise_spark.plans.release import run_release

    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = base.filter(F.col("doc_id") < 40).select("doc_id", "text")
    # plant a 60-char paragraph into two docs far enough apart in content
    para = "this exact shared paragraph is certainly longer than forty chars."
    planted = src.withColumn(
        "text",
        F.when(
            F.col("doc_id").isin(7, 23),
            F.concat(F.col("text"), F.lit(" "), F.lit(para)),
        ).otherwise(F.col("text")),
    )
    out = str(tmp_path / "rel")
    res = run_release(spark, planted, out, cut_spans_window=40, job_id="rel-cut")
    assert res.get("n_span_cut_chars", 0) > 0
    rel = spark.read.parquet(f"{out}/released")
    kept = {r["doc_id"]: r["text"] for r in rel.collect()}
    if 7 in kept and 23 in kept:  # both survived doc-level dedup
        assert para in kept[7]       # first occurrence keeps the paragraph
        assert para not in kept[23]  # later copy cut


def test_corpus_release_string_keyed_corpus(spark, tmp_path):
    """run_release on a URL-keyed corpus (key_col='url') — the release_job
    shape the round-4 advice flagged: packing's string-key path must
    carry the whole chain end to end, with coordinates matching the
    UTF-8-binary-order prefix sum over the released docs."""
    from pyspark.sql import functions as F

    from gujarati_readability_pagewise_spark.plans.release import run_release

    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs = base.filter(F.col("doc_id") < 80).select(
        F.concat(
            F.lit("https://"), F.col("source"),
            F.lit(".example.com/doc/"), F.col("doc_id").cast("string"),
        ).alias("url"),
        "text",
    )
    out = str(tmp_path / "rel_url")
    res = run_release(spark, docs, out, key_col="url", job_id="rel-url")
    assert res["n_released"] > 0
    rel = spark.read.parquet(f"{out}/released").select(
        "url", "text", "cum_before"
    ).collect()
    acc = 0
    for r in sorted(rel, key=lambda r: r["url"].encode("utf-8")):
        assert r["cum_before"] == acc
        acc += 0 if not r["text"].strip() else len(r["text"].split())


def _persistent_rdd_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_failed_release_leaves_nothing_persisted(spark, tmp_path):
    """A release whose output write fails raises, and still frees every
    cache it made: its own persists and the dedup operators'."""
    import pytest

    from gujarati_readability_pagewise_spark.plans.release import run_release

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("doc_id") < 60)
        .select("doc_id", "text")
    )
    not_a_dir = tmp_path / "file"
    not_a_dir.write_text("")
    before = _persistent_rdd_ids(spark)
    with pytest.raises(Exception, match="(?i)not a directory|ParentNotDirectory"):
        run_release(spark, docs, str(not_a_dir / "rel"), job_id="rel-fail")
    assert _persistent_rdd_ids(spark) <= before


def test_corpus_release_skips_head_k_probe_below_floor(spark, tmp_path, spark_jobs, monkeypatch):
    """A survivor corpus too small for any window hash to reach the skew
    threshold runs no head_k probe job, yet releases exactly what the
    probed (head_k="auto") plan releases, and leaves nothing persisted."""
    import gujarati_readability_pagewise_spark.operators.dedup as D
    from gujarati_readability_pagewise_spark.plans.release import run_release

    vocab = (
        "a agg batch big column customer data fast filter group hash join key "
        "line merge order part query row scan slow small sort spark stream table "
        "the value vector window"
    ).split()
    rng = random.Random(7)
    shared = "this exact shared paragraph is certainly longer than forty chars."
    corpus = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(20, 100))))
        for i in range(40)
    ]
    for i in (7, 23):  # one copied paragraph gives the span cut work
        corpus[i] = (i, f"{corpus[i][1]} {shared}")
    docs = spark.createDataFrame(corpus, "doc_id long, text string")

    def release(out):
        before = _persistent_rdd_ids(spark)
        with spark_jobs() as names:
            res = run_release(spark, docs, out, cut_spans_window=40, job_id="rel-probe")
        assert _persistent_rdd_ids(spark) <= before
        rows = sorted(map(tuple, spark.read.parquet(f"{out}/released").collect()))
        funnel = {k: v for k, v in res.items() if k.startswith("n_")}
        probes = [n for n in names if re.match(r"first at .*operators/dedup\.py", n)]
        return rows, funnel, probes

    rows, funnel, probes = release(str(tmp_path / "known"))
    assert probes == [] and funnel["n_span_cut_chars"] > 0
    # with no floor every non-empty corpus may skew, so the probe runs again
    monkeypatch.setattr(D, "HOT_MIN_ROWS", 0)
    rows_auto, funnel_auto, probes_auto = release(str(tmp_path / "auto"))
    assert probes_auto
    assert rows == rows_auto and funnel == funnel_auto
