"""Spark stage metrics from the status store, attributed to engine modules.

``read_stages`` reads the driver's status store directly, so it works with
``spark.ui.enabled=false`` (the engine's default).  Each stage is attributed
to a module by its call site: the file that issued the action whose job ran
the stage.  PySpark names a stage after its call site only for some actions
(``collect``, ``first``); ``count``, writes, ``approxQuantile`` and
``localCheckpoint`` go straight to the JVM, and adaptive-execution stages are
submitted from a JVM thread pool, so their names carry no Python file.
``CallSiteTagger`` closes that gap for traced runs: around every action it
sets the job description to the innermost engine frame, which Spark copies
onto every stage the action starts, including the asynchronous ones.
"""

from __future__ import annotations

import functools
import os
import re
import threading
import time
import traceback

GROUPS = (
    "udfs", "checkpoint", "pipeline", "skew", "snapshots",
    "release", "dedup", "components", "packing", "other",
)
FIELDS = {  # per-group metric -> unit
    "run_s": "s", "cpu_s": "s", "shuffle_bytes": "bytes", "spill_bytes": "bytes",
    "stages": "count", "task_skew": "ratio", "failed_tasks": "count",
}

_SITE = re.compile(r" at (?P<path>[^ ]+?\.py):\d+")
_HERE = os.path.dirname(os.path.abspath(__file__))


def attribute(site: str, own: str = "other") -> str:
    """Group of a call site such as ``count at /x/plans/release.py:109``.

    A site in an engine module named in ``GROUPS`` maps to that module; a
    site in the benchmark's own files maps to ``own`` (the layer the
    benchmark drives directly); anything else is ``other``."""
    m = _SITE.search(site or "")
    if m is None:
        return "other"
    path = m.group("path")
    stem = os.path.splitext(os.path.basename(path))[0]
    if stem in GROUPS and "gujarati_readability_pagewise_spark" in path:
        return stem
    if os.path.dirname(os.path.abspath(path)) == _HERE:
        return own
    return "other"


def _opt(o):
    return o.get() if o.isDefined() else None


def read_stages(spark, after_id: int = -1) -> list[dict]:
    """Completed and failed stages with id > ``after_id``."""
    sc = spark.sparkContext
    jvm, gw = sc._jvm, sc._gateway
    quantiles = gw.new_array(jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    store = sc._jsc.sc().statusStore()
    seq = store.stageList(
        jvm.java.util.ArrayList(), False, True, quantiles, jvm.java.util.ArrayList()
    )
    out = []
    it = seq.iterator()
    while it.hasNext():
        s = it.next()
        if s.stageId() <= after_id or s.status().toString() not in ("COMPLETE", "FAILED"):
            continue
        dist = _opt(s.taskMetricsDistributions())
        p50 = p100 = 0.0
        if dist is not None:
            rt = dist.executorRunTime()
            p50, p100 = float(rt.apply(0)), float(rt.apply(1))
        out.append(
            {
                "stage_id": int(s.stageId()),
                "site": _opt(s.description()) or s.name(),
                "run_s": s.executorRunTime() / 1e3,
                "cpu_s": s.executorCpuTime() / 1e9,
                "shuffle_bytes": float(s.shuffleReadBytes() + s.shuffleWriteBytes()),
                "spill_bytes": float(s.memoryBytesSpilled() + s.diskBytesSpilled()),
                "failed_tasks": int(s.numFailedTasks()),
                "tasks": int(s.numTasks()),
                "task_p50_ms": p50,
                "task_max_ms": p100,
            }
        )
    return out


def last_stage_id(spark) -> int:
    stages = read_stages(spark)
    return max((s["stage_id"] for s in stages), default=-1)


def summarize(stages: list[dict], own: str = "other") -> dict[str, float]:
    """``spark.<group>.<field>`` for every group, zeros for absent groups.

    ``task_skew`` is max/median task run time of the group's slowest stage
    (by summed task run time)."""
    out = {f"spark.{g}.{f}": 0.0 for g in GROUPS for f in FIELDS}
    slowest: dict[str, dict] = {}
    for s in stages:
        g = attribute(s["site"], own)
        for f in ("run_s", "cpu_s", "shuffle_bytes", "spill_bytes", "failed_tasks"):
            out[f"spark.{g}.{f}"] += s[f]
        out[f"spark.{g}.stages"] += 1
        if g not in slowest or s["run_s"] > slowest[g]["run_s"]:
            slowest[g] = s
    for g, s in slowest.items():
        if s["task_p50_ms"] > 0:
            out[f"spark.{g}.task_skew"] = s["task_max_ms"] / s["task_p50_ms"]
        elif s["tasks"]:
            out[f"spark.{g}.task_skew"] = 1.0
    return out


def _engine_site(fn_name: str) -> str | None:
    """``<action> at <file>:<line>`` of the innermost engine frame, else of
    the innermost frame outside PySpark and this file."""
    fallback = None
    for fr in reversed(traceback.extract_stack()[:-2]):
        if "gujarati_readability_pagewise_spark" in fr.filename:
            return f"{fn_name} at {fr.filename}:{fr.lineno}"
        if fallback is None and "pyspark" not in fr.filename and fr.filename != __file__:
            fallback = f"{fn_name} at {fr.filename}:{fr.lineno}"
    return fallback


class CallSiteTagger:
    """Context manager: while active, every Spark action sets the job
    description to its engine call site (outermost action wins)."""

    def __init__(self, spark):
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

        self._sc = spark.sparkContext
        self._targets = [
            (DataFrame, n) for n in (
                "count", "collect", "take", "first", "head", "toPandas", "toArrow",
                "approxQuantile", "localCheckpoint", "checkpoint",
            )
        ] + [(DataFrameWriter, "save"), (DataFrameWriter, "parquet"),
             (DataFrameReader, "parquet")]
        self._saved: list = []
        self._depth = threading.local()
        self.overhead_s = 0.0  # time spent tagging, outside the actions

    def _wrap(self, fn):
        sc, depth = self._sc, self._depth

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            d = getattr(depth, "n", 0)
            if d == 0:
                t0 = time.perf_counter()
                prev = sc.getLocalProperty("spark.job.description")
                sc.setJobDescription(_engine_site(fn.__name__))
                self.overhead_s += time.perf_counter() - t0
            depth.n = d + 1
            try:
                return fn(*args, **kwargs)
            finally:
                depth.n = d
                if d == 0:
                    t0 = time.perf_counter()
                    sc.setJobDescription(prev)
                    self.overhead_s += time.perf_counter() - t0

        return wrapper

    def __enter__(self) -> "CallSiteTagger":
        for cls, name in self._targets:
            # the class's own attribute, or None where it inherits the method
            self._saved.append((cls, name, cls.__dict__.get(name)))
            setattr(cls, name, self._wrap(getattr(cls, name)))
        return self

    def __exit__(self, *exc) -> None:
        for cls, name, own in reversed(self._saved):
            if own is None:
                delattr(cls, name)
            else:
                setattr(cls, name, own)
        self._saved.clear()

