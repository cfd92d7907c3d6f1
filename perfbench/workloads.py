"""The benchmark workloads.

Each workload prepares its seeded input once (cached, untimed), runs one
measured job per ``job`` call, checks that job's output, and reports
the layer numbers that only its job produces.

* ``extract_score`` — replicated corpus pages through the one-stage
  extract → features → RF kernel into a noop sink: the kernel and the
  JVM↔Python Arrow hop, no shuffle, no writes.
* ``pipeline_release`` — a batch of skewed crawl pages from
  ``gen_pages_pdf`` (one heavy host, corrupt payloads, long Gujarati
  bodies) through ``plans.pipeline.run_pipeline``, then a corpus release
  of documents through ``plans.release.run_release``: checkpointed bucket
  writes, skew handling and snapshots, then shuffle-heavy dedup,
  connected components, span cutting and packing.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np

from . import digest, inputs

# extract_score: 5,000 corpus docs x 24 replicas = 120,000 pages
N_DOCS = 5000
REPLICATE = 24
# pipeline phase: generated pages per seed
PIPELINE_PAGES = 4000
N_BUCKETS = 16
# release phase: the first RELEASE_DOCS corpus docs
RELEASE_DOCS = 500
RELEASE_FUNNEL = {
    "n_input": 500.0,
    "n_curated": 471.0,
    "n_survivors": 442.0,
    "n_released": 442.0,
    "n_sequences": 50.0,
}
RELEASE_DIGEST = (442, 6635244356244865632)  # (rows, sum) of released/
# pages single-threaded through the kernel layers in a traced run
KERNEL_SAMPLE_PAGES = 16384


@dataclass
class JobResult:
    rows: int  # input rows the job processed
    ok: bool
    detail: str = ""
    layers: dict[str, float] = field(default_factory=dict)


def _pages_reference(urls, htmls, model) -> dict:
    """Driver-side digest of what the kernel must output for these pages,
    from the public kernel functions (each distinct html computed once)."""
    from gujarati_readability_pagewise_spark.functions.extract import extract_text
    from gujarati_readability_pagewise_spark.functions.features import compute_features

    uniq: dict[bytes | None, int] = {}
    idx = np.array([uniq.setdefault(h, len(uniq)) for h in htmls])
    texts = [extract_text(h).text for h in uniq]
    feats = compute_features(texts)
    proba = model.predict_proba(feats)
    pred = (proba[:, 1] >= proba[:, 0]).astype(np.int32)
    n, s = digest.scored_batch(
        urls, [texts[i] for i in idx], feats[idx], pred[idx], proba[idx, 0]
    )
    return {"n": n, "s": s}


def _read_json(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def _write_json(path: str, obj: dict) -> None:
    with open(path, "w") as f:
        json.dump(obj, f)


class Workload:
    """One workload: ``job()`` is the timed operation, ``check(raw)``
    verifies what it produced, outside the timed region."""

    name = ""
    own_group = "other"  # stage group of actions the benchmark issues itself
    # an extra (job, check) operation run once after the measured jobs
    extra_op = None
    # untimed jobs before the measured ones, where jobs are short enough
    # that JIT warm-up would otherwise show in the first of them
    settle_jobs = 0
    # the job is the kernel stage alone, so its rate is the stage's rate
    kernel_only = False

    def __init__(self, spark, model, seed: int, nproc: int):
        self.spark, self.model, self.seed, self.nproc = spark, model, seed, nproc
        self.job_no = 0

    def prepare(self) -> None:
        raise NotImplementedError

    def job(self):
        raise NotImplementedError

    def check(self, raw) -> JobResult:
        raise NotImplementedError

    def kernel_pages(self):
        """Arrow table (url, warc_ts, html, lang) of the workload's own pages
        for single-threaded kernel timing."""
        raise NotImplementedError

    def _fresh_out(self) -> str:
        self.job_no += 1
        out = os.path.join(inputs.CACHE, "out", f"{self.name}-{os.getpid()}-{self.job_no}")
        shutil.rmtree(out, ignore_errors=True)
        return out


class ExtractScore(Workload):
    name = "extract_score"
    own_group = "udfs"
    settle_jobs = 1
    kernel_only = True

    def prepare(self) -> None:
        import pyarrow.parquet as pq
        from gujarati_readability_pagewise_spark.operators.udfs import (
            with_extraction_and_score,
        )
        from gujarati_readability_pagewise_spark.sources.catalog import (
            pages_from_documents,
        )

        corpus = inputs.corpus_dir(N_DOCS)

        def build_base(tmp: str) -> None:
            pages_from_documents(
                self.spark, corpus, replicate=REPLICATE, n_partitions=self.nproc
            ).write.parquet(f"{tmp}/pages")
            t = pq.read_table(f"{tmp}/pages", columns=["url", "html"])
            ref = _pages_reference(
                t.column("url").to_pylist(), t.column("html").to_pylist(), self.model
            )
            _write_json(f"{tmp}/reference.json", ref)

        # the page set, and so the reference digest, is the same for every seed
        base = inputs.cached(f"extract_r{REPLICATE}", build_base)
        self.reference = _read_json(f"{base}/reference.json")

        def build(tmp: str) -> None:
            inputs.write_permuted(
                pq.read_table(f"{base}/pages"), self.seed,
                self.nproc * (1 + self.seed % 3), f"{tmp}/pages",
            )

        self.dir = inputs.cached(f"extract_r{REPLICATE}_s{self.seed}", build)
        pages = self.spark.read.parquet(f"{self.dir}/pages")
        self.scored = with_extraction_and_score(pages, self.model, include_spans=False)
        # the noop sink leaves nothing to check, so one extra job digests
        # the same plan's output inside Spark and compares it
        self.extra_op = (lambda: digest.spark_scored_digest(self.scored), self._check_digest)

    def job(self):
        self.scored.write.format("noop").mode("overwrite").save()

    def check(self, raw) -> JobResult:
        return JobResult(self.reference["n"], True)

    def _check_digest(self, got) -> JobResult:
        ok = got == (self.reference["n"], self.reference["s"])
        return JobResult(got[0], ok, "" if ok else f"digest {got} != {self.reference}")

    def kernel_pages(self):
        import pyarrow.dataset as ds

        cols = ["url", "warc_ts", "html", "lang"]
        return ds.dataset(f"{self.dir}/pages").head(KERNEL_SAMPLE_PAGES, columns=cols)


class PipelineRelease(Workload):
    name = "pipeline_release"

    def prepare(self) -> None:
        import pyarrow.parquet as pq
        from gujarati_readability_pagewise_spark.sources.pages import (
            PAGES_SCHEMA_DDL,
            gen_pages_pdf,
        )

        def build_pages(tmp: str) -> None:
            pdf = gen_pages_pdf(PIPELINE_PAGES, self.seed).drop(columns="_label")
            self.spark.createDataFrame(pdf, PAGES_SCHEMA_DDL).write.parquet(f"{tmp}/pages")
            ref = _pages_reference(pdf["url"].tolist(), pdf["html"].tolist(), self.model)
            _write_json(f"{tmp}/reference.json", ref)

        corpus = inputs.corpus_dir(N_DOCS)

        def build_docs(tmp: str) -> None:
            docs = pq.read_table(f"{corpus}/documents.parquet").slice(0, RELEASE_DOCS)
            inputs.write_permuted(docs, self.seed, self.nproc, f"{tmp}/docs")

        self.pages_dir = inputs.cached(f"pipeline_n{PIPELINE_PAGES}_s{self.seed}", build_pages)
        docs_dir = inputs.cached(f"release_n{RELEASE_DOCS}_s{self.seed}", build_docs)
        self.reference = _read_json(f"{self.pages_dir}/reference.json")
        self.pages = self.spark.read.parquet(f"{self.pages_dir}/pages")
        self.docs = self.spark.read.parquet(f"{docs_dir}/docs")

    def job(self):
        from gujarati_readability_pagewise_spark.plans.pipeline import run_pipeline
        from gujarati_readability_pagewise_spark.plans.release import run_release

        out = self._fresh_out()
        t0 = time.perf_counter()
        pipe = run_pipeline(
            self.spark, self.pages, f"{out}/pipeline", model=self.model,
            n_buckets=N_BUCKETS, job_id=f"bench-{self.job_no}",
        )
        t1 = time.perf_counter()
        rel = run_release(
            self.spark, self.docs, f"{out}/release", cut_spans_window=40,
            job_id=f"bench-{self.job_no}",
        )
        return out, pipe, rel, t1 - t0, time.perf_counter() - t1

    def check(self, raw) -> JobResult:
        import pyarrow.dataset as ds

        out, pipe, rel, pipe_s, rel_s = raw
        manifest = ds.dataset(f"{out}/pipeline/manifest").to_table()
        extracted = ds.dataset(f"{out}/pipeline/extracted", partitioning="hive").to_table(
            columns=list(digest.SCORED_COLUMNS)
        )
        got = digest.table_scored_digest(extracted)
        released = digest.table_digest(ds.dataset(f"{out}/release/released").to_table())
        shutil.rmtree(out, ignore_errors=True)
        problems = []
        if got != (self.reference["n"], self.reference["s"]):
            problems.append(f"pages digest {got} != {self.reference}")
        if int(pipe["rows_out"]) != PIPELINE_PAGES:
            problems.append(f"rows_out {pipe['rows_out']} != {PIPELINE_PAGES}")
        buckets = sorted(manifest.column("bucket").to_pylist())
        if buckets != list(range(N_BUCKETS)):
            problems.append(f"manifest buckets {buckets}")
        funnel = {k: rel[k] for k in RELEASE_FUNNEL}
        if funnel != RELEASE_FUNNEL:
            problems.append(f"funnel {funnel} != {RELEASE_FUNNEL}")
        if released != RELEASE_DIGEST:
            problems.append(f"released digest {released} != {RELEASE_DIGEST}")
        ckpt = float(np.sum(manifest.column("wall_sec").to_numpy()))
        return JobResult(
            PIPELINE_PAGES + RELEASE_DOCS,
            not problems,
            "; ".join(problems),
            {
                "pipeline.wall_s": pipe_s,
                "checkpoint.bucket_s": ckpt / N_BUCKETS,
                "pipeline.post_checkpoint_s": pipe_s - ckpt,
                "release.wall_s": rel_s,
                "release.curation_s": rel["t_curation"],
                "release.near_dup_s": rel["t_near_dup_survivors"],
                "release.span_cut_s": rel["t_span_cutting"],
                "release.scrub_pack_write_s": rel["t_scrub_pack_write"],
            },
        )

    def kernel_pages(self):
        import pyarrow.parquet as pq

        cols = ["url", "warc_ts", "html", "lang"]
        return pq.read_table(f"{self.pages_dir}/pages", columns=cols)


WORKLOADS = {w.name: w for w in (ExtractScore, PipelineRelease)}
