"""Repo benchmark: run one workload with one seed in one Spark process.

    python3 perfbench/run.py --workload extract_score --seed 1 --seconds 10 --trace 0

Run from the repository root.  Load comes from one process at
``local[nproc]``.  The process sets itself up (session start, default model
fit, one warm-up job — reported as ``setup_s``), prepares the seeded input
outside every timed region, then:

* ``--trace 0`` repeats the workload's job until ``--seconds`` have passed
  and reports the end-to-end metrics as medians over those jobs;
* ``--trace 1`` runs one job with Spark stage call sites tagged and
  reports the per-layer metrics: Spark stage metrics by engine module, the
  stage times the plans return, and single-threaded kernel timings over the
  workload's own Arrow batches.

Every job's output is checked; a job that raises or fails its check counts
in ``failed``.  The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import inputs, proctree, stagestats  # noqa: E402
from perfbench.workloads import N_DOCS, WORKLOADS, JobResult  # noqa: E402

DRIVER_MEM = "1g"
FIT_REPEATS = 3
WARMUP_REPLICATE = 2  # warm-up job: the corpus twice, 10,000 pages

END_TO_END = {
    "setup_s": "s",
    "pages_per_s": "pages/s",
    "cpu_s": "s",
    "peak_pss_mb": "MB",
}
PER_LAYER = {
    "extract.ns_per_page": "ns",
    "extract.ns_per_char": "ns",
    "extract.status_ok": "count",
    "extract.status_empty": "count",
    "extract.status_error": "count",
    "features.ns_per_page": "ns",
    "features.ns_per_char": "ns",
    "rf.ns_per_page": "ns",
    "udfs.kernel_ns_per_page": "ns",
    "udfs.assembly_ns_per_page": "ns",
    "udfs.stage_efficiency": "ratio",
    **{
        f"spark.{g}.{f}": unit
        for g in stagestats.GROUPS
        for f, unit in stagestats.FIELDS.items()
    },
    "pipeline.wall_s": "s",
    "checkpoint.bucket_s": "s",
    "pipeline.post_checkpoint_s": "s",
    "release.wall_s": "s",
    "release.curation_s": "s",
    "release.near_dup_s": "s",
    "release.span_cut_s": "s",
    "release.scrub_pack_write_s": "s",
    "session.start_s": "s",
    "train.fit_s": "s",
    "warmup_s": "s",
    "tracing_overhead_s": "s",
}


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", flush=True)


def _environment(nproc: int) -> None:
    """Point Spark, its Python workers and temp files at the checkout."""
    local, tmp = (os.path.join(inputs.CACHE, d) for d in ("spark-local", "tmp"))
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    # workers started by the JVM import the engine and perfbench from ROOT
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp


def setup(nproc: int, corpus: str):
    """Session start + default model fit (median of FIT_REPEATS) + one
    warm-up job; returns (spark, model, timings)."""
    from gujarati_readability_pagewise_spark.ml import train
    from gujarati_readability_pagewise_spark.operators.udfs import with_extraction_and_score
    from gujarati_readability_pagewise_spark.session import get_spark
    from gujarati_readability_pagewise_spark.sources.catalog import pages_from_documents

    tmp = os.environ["TMPDIR"]
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.driver.extraJavaOptions": (
                # a fixed, pre-touched heap, so memory does not follow the
                # collector's heap sizing; no perf-data file under /tmp
                f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                f"-Djava.io.tmpdir={tmp}"
            ),
        },
    )
    start_s = time.perf_counter() - t0
    fits = []
    for _ in range(FIT_REPEATS):
        train.default_model.cache_clear()
        train._default_training_data.cache_clear()
        t0 = time.perf_counter()
        model = train.default_model()
        fits.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    pages = pages_from_documents(spark, corpus, replicate=WARMUP_REPLICATE, n_partitions=nproc)
    with_extraction_and_score(pages, model, include_spans=False).write.format(
        "noop"
    ).mode("overwrite").save()
    warm_s = time.perf_counter() - t0
    return spark, model, {
        "session.start_s": start_s,
        "train.fit_s": statistics.median(fits),
        "warmup_s": warm_s,
    }


def teardown(spark) -> None:
    """Stop Spark, end the JVM and wait until every child process is gone."""
    from pyspark import SparkContext

    children = proctree.tree_pids(os.getpid())[1:]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    left = proctree.wait_gone(children, 30)
    for pid in left:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    proctree.wait_gone(left, 10)


class Ledger:
    """Counts checked operations and collects per-job measurements."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.jobs: list[dict] = []

    def run(self, job, check, sample: bool = True) -> JobResult | None:
        """Time ``job()`` under a process-tree sampler, then ``check`` its
        result untimed; record the job only if both succeed."""
        self.attempted += 1
        sampler = proctree.TreeSampler(os.getpid())
        try:
            with sampler:
                t0 = time.perf_counter()
                raw = job()
                wall = time.perf_counter() - t0
            res = check(raw)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        if not res.ok:
            _log(f"output check failed: {res.detail}")
            self.failed += 1
            return res
        if sample:
            self.jobs.append(
                {
                    "wall_s": wall,
                    "pages_per_s": res.rows / wall,
                    "cpu_s": sampler.cpu_s,
                    "peak_pss_mb": sampler.peak_pss_mb,
                }
            )
        return res


def kernel_layers(table, model, nproc: int, spark_pages_per_s: float) -> dict[str, float]:
    """Single-threaded timings of the kernel's public functions and of the
    whole batch kernel over ``table``'s Arrow batches.

    Each batch runs twice, once with the kernel after the functions and once
    before them, so neither side is timed over data the other left in the
    CPU caches.  ``udfs.stage_efficiency`` is 0 when ``spark_pages_per_s`` is
    0, for jobs whose rate is not the kernel stage's."""
    from gujarati_readability_pagewise_spark.functions.extract import extract_text
    from gujarati_readability_pagewise_spark.functions.features import compute_features
    from gujarati_readability_pagewise_spark.operators import udfs
    from gujarati_readability_pagewise_spark.session import ARROW_BATCH_SIZE

    batches = table.to_batches(max_chunksize=ARROW_BATCH_SIZE)
    udfs._arrow_kernel(batches[0], False, model)  # first-call set-up, untimed
    ns = {"extract": 0, "features": 0, "rf": 0, "kernel": 0}
    pages = html_chars = text_chars = 0
    status = {"ok": 0, "empty": 0, "error": 0}
    clock = time.perf_counter_ns

    def kernel(rb) -> None:
        t0 = clock()
        udfs._arrow_kernel(rb, False, model)
        ns["kernel"] += clock() - t0

    for rb in batches:
        htmls = rb.column(rb.schema.get_field_index("html")).to_pylist()
        for kernel_first in (False, True):
            if kernel_first:
                kernel(rb)
            t0 = clock()
            results = [extract_text(h) for h in htmls]
            t1 = clock()
            texts = [r.text for r in results]
            feats = compute_features(texts)
            t2 = clock()
            model.predict_proba(feats)
            t3 = clock()
            if not kernel_first:
                kernel(rb)
            ns["extract"] += t1 - t0
            ns["features"] += t2 - t1
            ns["rf"] += t3 - t2
        pages += len(htmls)
        html_chars += sum(len(h.decode("utf-8", "replace")) for h in htmls if h)
        text_chars += sum(len(t) for t in texts)
        for r in results:
            status[r.status] = status.get(r.status, 0) + 1
    per_page = {k: v / (2 * pages) for k, v in ns.items()}
    return {
        "extract.ns_per_page": per_page["extract"],
        "extract.ns_per_char": per_page["extract"] * pages / max(html_chars, 1),
        "extract.status_ok": float(status["ok"]),
        "extract.status_empty": float(status["empty"]),
        "extract.status_error": float(status["error"]),
        "features.ns_per_page": per_page["features"],
        "features.ns_per_char": per_page["features"] * pages / max(text_chars, 1),
        "rf.ns_per_page": per_page["rf"],
        "udfs.kernel_ns_per_page": per_page["kernel"],
        "udfs.assembly_ns_per_page": per_page["kernel"]
        - (per_page["extract"] + per_page["features"] + per_page["rf"]),
        "udfs.stage_efficiency": spark_pages_per_s / (nproc * 1e9 / per_page["kernel"]),
    }


def measure(wl, ledger: Ledger, seconds: float, setup_s: float) -> dict[str, float]:
    """Jobs until ``seconds`` have passed; end-to-end medians over them."""
    for _ in range(wl.settle_jobs):
        ledger.run(wl.job, wl.check, sample=False)
    t_end = time.perf_counter() + seconds
    while True:
        ledger.run(wl.job, wl.check)
        if time.perf_counter() >= t_end:
            break
    if wl.extra_op is not None:
        ledger.run(*wl.extra_op, sample=False)
    if not ledger.jobs:
        return {}
    metrics = {"setup_s": setup_s}
    for k in ("pages_per_s", "cpu_s", "peak_pss_mb"):
        metrics[k] = statistics.median(j[k] for j in ledger.jobs)
    return metrics


def traced(wl, ledger: Ledger, spark, model, nproc: int) -> dict[str, float]:
    """Per-layer metrics from one job with stage call sites tagged, zero for
    layers the workload does not run.

    ``tracing_overhead_s`` is the time the tracing code itself took: the
    tagger's work around each action plus reading the status store.  It is
    measured directly because it is far below the run-to-run spread of a
    job's wall time, so a traced-minus-untraced difference would be noise."""
    first = stagestats.last_stage_id(spark)
    with stagestats.CallSiteTagger(spark) as tagger:
        res = ledger.run(wl.job, wl.check)
    t0 = time.perf_counter()
    stages = stagestats.read_stages(spark, first)
    read_s = time.perf_counter() - t0
    if wl.extra_op is not None:
        ledger.run(*wl.extra_op, sample=False)
    if not ledger.jobs:
        return {}
    layers = dict.fromkeys(PER_LAYER, 0.0)
    layers.update(stagestats.summarize(stages, wl.own_group))
    layers.update(res.layers)
    table = wl.kernel_pages()
    rate = ledger.jobs[0]["pages_per_s"] if wl.kernel_only else 0.0
    layers.update(kernel_layers(table, model, nproc, rate))
    layers["tracing_overhead_s"] = tagger.overhead_s + read_s
    return layers


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import gujarati_readability_pagewise_spark.session  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    _environment(nproc)

    corpus = inputs.corpus_dir(N_DOCS)
    spark, model, setup_layers = setup(nproc, corpus)
    setup_s = sum(setup_layers.values())
    _log(f"setup {setup_s:.3f} s {setup_layers}")
    ledger = Ledger()
    try:
        wl = WORKLOADS[args.workload](spark, model, args.seed, nproc)
        t0 = time.perf_counter()
        wl.prepare()
        _log(f"{wl.name} seed={args.seed} input ready in {time.perf_counter() - t0:.3f} s")
        if args.trace:
            metrics, units = traced(wl, ledger, spark, model, nproc), PER_LAYER
            metrics.update(setup_layers)
        else:
            metrics, units = measure(wl, ledger, args.seconds, setup_s), END_TO_END
    finally:
        teardown(spark)

    walls = [round(j["wall_s"], 3) for j in ledger.jobs]
    _log(f"{len(walls)} measured jobs, wall s {walls}; "
         f"failed_frac {ledger.failed}/{ledger.attempted}")
    missing = [k for k in units if k not in metrics]
    if missing:
        print(f"perfbench: too few successful jobs, missing {missing}", file=sys.stderr)
        return 1
    for k, unit in units.items():
        _log(f"{k} = {metrics[k]:.6g} {unit}")
    print(
        json.dumps(
            {
                "correct": ledger.failed == 0,
                "attempted": ledger.attempted,
                "failed": ledger.failed,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
