"""Dump query plans.

Usage:
  python tools/dump_plans.py <tag> [query ...]
      .explain('formatted') of bench-suite queries to plans/r06/<name>_<tag>.txt;
      with no query names, the full bench-suite list.
  python tools/dump_plans.py --normalized OUT.json [name ...]
      per name (a contract query or one of FRAMES below; default: all
      FRAMES plus NORMALIZED_QUERIES) the optimized and physical plan
      strings with expression ids normalized, plus the sha256 of the
      sorted collected rows.  Streaming frames drive each merge step on
      fixed batches.  Every name also records the plans of each parquet
      write and of each ``localCheckpoint`` it runs (the near-dup edges
      behind connected components show only there).  The ``release``
      frame runs ``run_release`` with span cutting on the documents.

Plan identity of a change: run --normalized on the change and on a checkout
of the parent commit (``git archive`` or ``git worktree``, with this tool
copied in) over the same data, then ``cmp`` the two files.  Data comes from
``SPARK_GRAFT_SF_DIR`` (default sf0.1 for dumps, sf0.01 for --normalized).
"""
import hashlib
import json
import os
import re
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BENCH_QUERIES = [
    "tpch_q1", "a6_group_stats", "a7_two_level_rollup", "w1_latest_per_group",
    "w4_running_sum", "j2_left_join", "dedup_exact", "text_quality",
    "similarity_topk", "dedup_verified_pairs", "graph_pagerank",
    "corpus_curation", "gopher_repetition", "dedup_sentences",
    "histogram_quantiles", "dedup_exact_substr", "sequence_packing",
]

NORMALIZED_QUERIES = [
    "training_order", "host_quota_sample", "mixture_sample",
    "quality_weighted_sample", "crawl_schedule", "text_fingerprint",
]


def _emb(spark, sf):
    """(corpus, queries): the sf embeddings and their first 5 vectors."""
    from pyspark.sql import functions as F

    from gujarati_readability_pagewise_spark.sources.catalog import load_table

    emb = load_table(spark, sf, "embeddings")
    return emb, emb.filter(F.col("vec_id") < 5)


def _similarity_frames():
    from pyspark.sql import functions as F

    from gujarati_readability_pagewise_spark.operators import similarity as S

    def topk(fn, **kw):
        return lambda spark, sf, tmp: fn(*_emb(spark, sf), k=3, **kw)

    def near_pairs(spark, sf, tmp):
        return S.lsh_near_pairs(_emb(spark, sf)[0], threshold=0.38, n_planes=8, bands=2)

    def semdedup(spark, sf, tmp):
        return S.semantic_dedup(_emb(spark, sf)[0], threshold=0.38, n_cells=8, n_iter=3)

    def decontam(spark, sf, tmp):
        emb = _emb(spark, sf)[0]
        return S.decontaminate_semantic(
            emb.filter(F.col("vec_id") >= 20), emb.filter(F.col("vec_id") < 20),
            threshold=0.95,
        )

    def centroids(spark, sf, tmp):
        return sorted(S.ivf_train_fixedpoint(_emb(spark, sf)[0], n_cells=8, n_iter=3).items())

    return {
        "brute_force_topk_dim64": topk(S.brute_force_topk, dim=64),
        "brute_force_topk_fold": topk(S.brute_force_topk),
        "ivf_topk_deterministic": topk(
            S.ivf_topk_deterministic, n_cells=8, n_probe=2, n_iter=3, dim=64
        ),
        "ivf_train_fixedpoint": centroids,
        "quantized_topk": topk(S.quantized_topk, dim=64),
        "lsh_near_pairs": near_pairs,
        "lsh_topk": topk(S.lsh_topk, n_planes=4),
        "lsh_topk_dim64_r2": topk(S.lsh_topk, n_planes=4, dim=64, probe_radius=2),
        "semantic_dedup": semdedup,
        "decontaminate_semantic": decontam,
    }


def _merge_step(start):
    """The foreachBatch function a ``*_stream_merge`` registers, captured
    without starting the stream."""
    from pyspark.sql.streaming import DataStreamWriter

    orig, got = DataStreamWriter.foreachBatch, []
    DataStreamWriter.foreachBatch = lambda self, f: got.append(f) or self
    try:
        start()
    finally:
        DataStreamWriter.foreachBatch = orig
    return got[0]


def _streaming_frames():
    from pyspark.sql import functions as F

    from gujarati_readability_pagewise_spark.sources.catalog import load_table
    from gujarati_readability_pagewise_spark.streaming import ingest as I

    def run(spark, tmp, src, ddl, start, batches, out):
        """Each batch in order, then the first again (a replay)."""
        os.makedirs(f"{tmp}/src")
        stream = spark.readStream.schema(ddl).parquet(f"{tmp}/src")
        step = _merge_step(lambda: start(stream, f"{tmp}/state"))
        for epoch, cond in enumerate(batches + batches[:1]):
            step(src.filter(cond), epoch)
        return spark.read.parquet(f"{tmp}/state/{out}")

    def scd2(spark, sf, tmp):
        docs = load_table(spark, sf, "documents").filter(F.col("doc_id") < 300)
        fetches = docs.withColumn("fetch", F.explode(F.array(*map(F.lit, range(3)))))
        changed = (F.col("fetch") >= 1) & (F.col("doc_id") % 3 == 0)
        log = fetches.select(
            "doc_id",
            F.timestamp_seconds(
                F.lit(1704067200) + F.col("doc_id") * 100 + F.col("fetch")
            ).alias("fetch_ts"),
            F.md5(F.concat("text", F.when(changed, F.col("fetch").cast("string"))
                           .otherwise(F.lit("")))).alias("fp"),
            "fetch",
        )
        return run(
            spark, tmp, log, "doc_id bigint, fetch_ts timestamp, fp string",
            lambda s, d: I.scd2_stream_merge(spark, s, d, key_col="doc_id"),
            [F.col("fetch") == 2, F.col("fetch") < 2], "history",
        )

    def curate(spark, sf, tmp):
        docs = load_table(spark, sf, "documents").select("doc_id", "text", "source")
        return run(
            spark, tmp, docs, "doc_id bigint, text string, source string",
            lambda s, d: I.curate_stream_merge(spark, s, d),
            [F.col("doc_id") % 2 == 1, F.col("doc_id") % 2 == 0], "kept",
        )

    def monitor(spark, sf, tmp):
        ev = load_table(spark, sf, "events").select("event_id", "ts", "event_type")
        return run(
            spark, tmp, ev, "event_id bigint, ts timestamp, event_type string",
            lambda s, d: I.monitor_stream_merge(
                spark, s, d, bucket_seconds=21600, trailing=20, k=3, min_trailing=8
            ),
            [F.col("event_id") % 2 == 1, F.col("event_id") % 2 == 0], "anomalies",
        )

    def schedule(spark, sf, tmp):
        docs = load_table(spark, sf, "documents").select(
            "doc_id", F.concat(F.lit("h"), (F.col("doc_id") % 7).cast("string")).alias("host")
        )
        return run(
            spark, tmp, docs, "doc_id bigint, host string",
            lambda s, d: I.schedule_stream_merge(spark, s, d, key_col="doc_id"),
            [F.col("doc_id") % 2 == 1, F.col("doc_id") % 2 == 0], "schedule",
        )

    return {
        "scd2_stream_merge": scd2,
        "curate_stream_merge": curate,
        "monitor_stream_merge": monitor,
        "schedule_stream_merge": schedule,
    }


def _release(spark, sf, tmp):
    from gujarati_readability_pagewise_spark.plans.release import run_release
    from gujarati_readability_pagewise_spark.sources.catalog import load_table

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    run_release(spark, docs, tmp, cut_spans_window=40, job_id="dump")
    return spark.read.parquet(f"{tmp}/released")


def _initial_plans_only(s: str) -> str:
    """Drop the ``== Final Plan ==`` (or ``== Current Plan ==``) section of
    each adaptive plan a cached relation prints: AQE re-plans it from the
    runtime sizes and the order its stages finish in, so it can differ
    between two runs of one plan.  The ``== Initial Plan ==`` that closes
    the section stays.  Sections nest (a cached relation inside a final
    plan prints its own) and their header columns do not follow the tree's
    indentation, so the headers are matched like brackets."""
    out, depth = [], 0
    for line in s.splitlines():
        if "== Final Plan ==" in line or "== Current Plan ==" in line:
            depth += 1
            continue
        if depth and "== Initial Plan ==" in line:
            depth -= 1
        if depth:
            continue
        out.append(line)
    return "\n".join(out)


def _normalize(s: str, tmp: str) -> str:
    # the contract's streaming queries keep their state under a per-pid root
    s = s.replace(tmp, "<tmp>").replace(f"_{os.getpid()}", "_<pid>")
    s = re.sub(r"#\d+", "#n", s)
    # higher-order-function variables are numbered per process
    s = re.sub(r"\blambda (\w+?)_\d+", r"lambda \1_n", s)
    return _initial_plans_only(re.sub(r"\b(plan_id|id)=\d+", r"\1=n", s))


def _plans(df, tmp: str) -> dict:
    qe = df._jdf.queryExecution()
    return {
        "optimized": _normalize(qe.optimizedPlan().toString(), tmp),
        "physical": _normalize(qe.sparkPlan().toString(), tmp),
    }


def _sha(lines) -> str:
    return hashlib.sha256("\n".join(sorted(lines)).encode()).hexdigest()


def normalized(out_path: str, names: list[str]) -> None:
    import __spark_entry__ as entrymod
    from pyspark.sql import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    from gujarati_readability_pagewise_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    frames = {**_similarity_frames(), **_streaming_frames(), "release": _release}
    names = names or [*frames, *NORMALIZED_QUERIES]
    spark = get_spark(app_name="plans-normalized")
    # untruncated scan metadata: a cut at a fixed length lands at a
    # different place when the raw expression ids have more digits
    spark.conf.set("spark.sql.maxMetadataStringLength", 1 << 20)
    qs = entrymod.queries()
    writes: list[dict] = []
    checkpoints: list[dict] = []
    orig_parquet = DataFrameWriter.parquet
    frame_cls = type(spark.range(1))  # the session's concrete DataFrame class
    orig_checkpoint = frame_cls.localCheckpoint

    def recording_parquet(self, path, *a, **kw):
        writes.append(_plans(self._df, tmp))
        return orig_parquet(self, path, *a, **kw)

    def recording_checkpoint(self, *a, **kw):
        checkpoints.append(_plans(self, tmp))
        return orig_checkpoint(self, *a, **kw)

    DataFrameWriter.parquet = recording_parquet
    frame_cls.localCheckpoint = recording_checkpoint
    out = {}
    try:
        for name in names:
            tmp = tempfile.mkdtemp(prefix="dump_plans_")
            writes.clear()
            checkpoints.clear()
            got = frames[name](spark, sf_dir, tmp) if name in frames else qs[name](spark, sf_dir)
            if isinstance(got, DataFrame):
                rec = _plans(got, tmp)
                rows = [repr(tuple(r)) for r in got.collect()]
                rec.update(rows=len(rows), rows_sha256=_sha(rows))
            else:
                rec = {"value_sha256": _sha([repr(got)])}
            if writes:
                rec["writes"] = list(writes)
            if checkpoints:
                rec["checkpoints"] = list(checkpoints)
            out[name] = rec
            print(name, rec.get("rows_sha256", rec.get("value_sha256")))
            spark.catalog.clearCache()
            shutil.rmtree(tmp, ignore_errors=True)
    finally:
        DataFrameWriter.parquet = orig_parquet
        frame_cls.localCheckpoint = orig_checkpoint
        spark.stop()
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


def main() -> None:
    if sys.argv[1:2] == ["--normalized"]:
        normalized(sys.argv[2], sys.argv[3:])
        return
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:] or BENCH_QUERIES
    import __spark_entry__ as entrymod
    from gujarati_readability_pagewise_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r06")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name=f"plans-{tag}")
    qs = entrymod.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)
        print(name, "->", f"{name}_{tag}.txt")
        spark.catalog.clearCache()
    # the extraction kernel (not a declared query; the bench's scaling rows)
    from gujarati_readability_pagewise_spark.ml.train import default_model
    from gujarati_readability_pagewise_spark.operators.udfs import with_extraction_and_score
    from gujarati_readability_pagewise_spark.sources.catalog import pages_from_documents
    if not sys.argv[2:]:
        pages = pages_from_documents(spark, sf_dir, replicate=1, n_partitions=32)
        scored = with_extraction_and_score(pages, default_model(), include_spans=False)
        plan = scored._sc._jvm.PythonSQLUtils.explainString(scored._jdf.queryExecution(), "formatted")
        with open(os.path.join(out_dir, f"extract_score_kernel_{tag}.txt"), "w") as f:
            f.write(plan)
        print("extract_score_kernel ->", f"extract_score_kernel_{tag}.txt")
    spark.stop()


if __name__ == "__main__":
    main()
