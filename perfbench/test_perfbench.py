"""Tests for the benchmark's own helpers.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import digest, inputs, proctree, stagestats  # noqa: E402

PKG = "/x/gujarati_readability_pagewise_spark"


def _scored_rows(n: int, seed: int = 0):
    rng = np.random.RandomState(seed)
    urls = [f"https://h{i % 7}.example/p{i}" for i in range(n)]
    texts = ["ટેક્સ્ટ " * int(rng.randint(0, 5)) + str(i) for i in range(n)]
    feats = rng.random_sample((n, 5))
    preds = rng.randint(0, 2, n).tolist()
    ps = rng.random_sample(n).tolist()
    return urls, texts, feats, preds, ps


def test_scored_digest_ignores_order_and_partitioning():
    urls, texts, feats, preds, ps = _scored_rows(50)
    whole = digest.scored_batch(urls, texts, feats, preds, ps)
    perm = np.random.RandomState(1).permutation(50)
    parts = [
        digest.scored_batch(
            [urls[i] for i in idx], [texts[i] for i in idx], feats[idx],
            [preds[i] for i in idx], [ps[i] for i in idx],
        )
        for idx in np.array_split(perm, 3)
    ]
    assert digest.combine(parts) == whole


def test_scored_digest_sees_one_bit_and_duplicates():
    urls, texts, feats, preds, ps = _scored_rows(20)
    base = digest.scored_batch(urls, texts, feats, preds, ps)
    flipped = feats.copy()
    flipped[3, 2] = np.nextafter(flipped[3, 2], 2.0)
    assert digest.scored_batch(urls, texts, flipped, preds, ps) != base
    dup = digest.scored_batch(
        urls + urls[:1], texts + texts[:1], np.vstack([feats, feats[:1]]),
        preds + preds[:1], ps + ps[:1],
    )
    assert dup[0] == 21 and dup != base


def test_record_batch_digest_matches_python_rows_and_slices():
    urls, texts, feats, preds, ps = _scored_rows(30)
    rb = pa.RecordBatch.from_pydict(
        {
            "url": urls,
            "text": texts,
            "features": [list(r) for r in feats],
            "pred_label": pa.array(preds, pa.int32()),
            "p_nonreadable": ps,
        }
    )
    assert digest.scored_record_batch(rb) == digest.scored_batch(urls, texts, feats, preds, ps)
    tail = rb.slice(10)  # non-zero list offsets
    assert digest.combine(
        [digest.scored_record_batch(rb.slice(0, 10)), digest.scored_record_batch(tail)]
    ) == digest.scored_record_batch(rb)


def test_table_digest_ignores_row_order_not_values():
    t = pa.table(
        {
            "doc_id": [3, 1, 2],
            "text": ["c", None, "b"],
            "score": [0.5, 1.5, -0.0],
            "chunks": [[1, 2], [], [3]],
        }
    )
    shuffled = t.take([2, 0, 1])
    assert digest.table_digest(shuffled) == digest.table_digest(t)
    changed = t.set_column(2, "score", pa.array([0.5, 1.5, 0.0]))
    assert digest.table_digest(changed) != digest.table_digest(t)


@pytest.mark.parametrize(
    "site, own, group",
    [
        (f"count at {PKG}/plans/release.py:109", "other", "release"),
        (f"collect at {PKG}/operators/packing.py:135", "other", "packing"),
        (f"first at {PKG}/operators/dedup.py:609", "other", "dedup"),
        (f"count at {PKG}/operators/components.py:70", "other", "components"),
        (f"parquet at {PKG}/plans/checkpoint.py:116", "other", "checkpoint"),
        (f"parquet at {PKG}/plans/reports.py:55", "other", "other"),
        ("count at /home/user/checkpoint.py:3", "other", "other"),
        ("$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768", "udfs", "other"),
        ("count at NativeMethodAccessorImpl.java:0", "udfs", "other"),
        (f"save at {os.path.dirname(stagestats.__file__)}/workloads.py:150", "udfs", "udfs"),
        ("", "udfs", "other"),
    ],
)
def test_attribute_call_sites(site, own, group):
    assert stagestats.attribute(site, own) == group


def test_summarize_sums_groups_and_takes_skew_of_slowest_stage():
    def stage(site, run_s, p50, pmax, shuffle=0.0):
        return {
            "stage_id": 0, "site": site, "run_s": run_s, "cpu_s": run_s / 2,
            "shuffle_bytes": shuffle, "spill_bytes": 0.0, "failed_tasks": 0,
            "tasks": 4, "task_p50_ms": p50, "task_max_ms": pmax,
        }

    out = stagestats.summarize(
        [
            stage(f"count at {PKG}/operators/components.py:70", 1.0, 100, 400, 10.0),
            stage(f"count at {PKG}/operators/components.py:70", 3.0, 500, 600, 5.0),
            stage("save at Foo.java:1", 0.5, 0, 0),
        ]
    )
    assert out["spark.components.run_s"] == 4.0
    assert out["spark.components.stages"] == 2
    assert out["spark.components.shuffle_bytes"] == 15.0
    assert out["spark.components.task_skew"] == pytest.approx(1.2)
    assert out["spark.other.stages"] == 1 and out["spark.other.task_skew"] == 1.0
    assert out["spark.dedup.run_s"] == 0.0
    assert len(out) == len(stagestats.GROUPS) * len(stagestats.FIELDS)


def test_engine_site_names_innermost_engine_frame():
    src = "def action():\n    return site('count')\n"
    # called the way CallSiteTagger's wrapper calls it, one frame down
    ns = {"site": lambda name: stagestats._engine_site(name)}
    exec(compile(src, f"{PKG}/operators/skew.py", "exec"), ns)
    site = ns["action"]()
    assert site == f"count at {PKG}/operators/skew.py:2"
    assert stagestats.attribute(site) == "skew"


_CHILD = (
    "import time\n"
    "block = bytearray(96 * 2**20)\n"
    "for i in range(0, len(block), 4096): block[i] = 1\n"
    "t = time.process_time()\n"
    "while time.process_time() - t < 0.5: pass\n"
)


def test_tree_sampler_counts_child_cpu_and_memory():
    base = proctree.pss_bytes(proctree.tree_pids(os.getpid())) / 2**20
    with proctree.TreeSampler(os.getpid(), interval=0.02) as s:
        child = subprocess.Popen([sys.executable, "-c", _CHILD])
        assert child.wait(timeout=60) == 0
    assert s.cpu_s >= 0.4
    assert s.peak_pss_mb >= base + 80
    assert proctree.wait_gone([child.pid], 5) == []


def test_tree_pids_includes_live_child_only_while_alive():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        assert child.pid in proctree.tree_pids(os.getpid())
    finally:
        child.kill()
        child.wait(timeout=30)
    assert child.pid not in proctree.tree_pids(os.getpid())


def test_documents_are_seeded_and_shaped_like_the_test_data():
    a, b = inputs.gen_documents(2000), inputs.gen_documents(2000)
    assert a.equals(b)
    assert not a.equals(inputs.gen_documents(2000, seed=7))
    words = a.text.str.split().str.len()
    assert words.min() >= 10 and words.max() <= 103
    assert 0.02 < a.text.str.endswith(" dup").mean() < 0.08
    assert (a.n_chars == a.text.str.len()).all()
    assert set(a.lang) == set(inputs.LANGS)


def test_write_permuted_orders_by_seed_and_keeps_rows(tmp_path):
    import pyarrow.parquet as pq

    t = pa.table(
        {
            "k": list(range(100)),
            "ts": pa.array((np.arange(100) * 1000).astype("datetime64[ns]")),
        }
    )
    inputs.write_permuted(t, 5, 3, str(tmp_path / "a"))
    inputs.write_permuted(t, 5, 3, str(tmp_path / "b"))
    inputs.write_permuted(t, 6, 3, str(tmp_path / "c"))
    a, b, c = (pq.read_table(str(tmp_path / d)) for d in "abc")
    assert len(os.listdir(tmp_path / "a")) == 3
    assert a.column("k").to_pylist() == b.column("k").to_pylist()
    assert a.column("k").to_pylist() != c.column("k").to_pylist()
    assert sorted(a.column("k").to_pylist()) == list(range(100))
    assert a.schema.field("ts").type == pa.timestamp("us", tz="UTC")


def test_cached_rebuilds_without_marker(tmp_path, monkeypatch):
    monkeypatch.setattr(inputs, "CACHE", str(tmp_path))
    calls = []

    def build(d):
        calls.append(d)
        if len(calls) == 1:
            raise RuntimeError("interrupted")
        open(os.path.join(d, "x"), "w").close()

    with pytest.raises(RuntimeError):
        inputs.cached("item", build)
    out = inputs.cached("item", build)
    assert os.path.exists(os.path.join(out, "x"))
    assert inputs.cached("item", build) == out and len(calls) == 2


def test_benchmark_json_lists_what_run_prints():
    from perfbench import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)


def test_stage_reader_and_tagger_without_ui():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-test")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    try:
        first = stagestats.last_stage_id(spark)
        df = spark.range(0, 2000, numPartitions=2).selectExpr("id % 5 AS k").groupBy("k").count()
        src = "def action(df):\n    return df.count()\n"
        ns: dict = {}
        exec(compile(src, f"{PKG}/operators/packing.py", "exec"), ns)
        with stagestats.CallSiteTagger(spark):
            assert ns["action"](df) == 5
        stages = stagestats.read_stages(spark, first)
        assert stages and all(s["stage_id"] > first for s in stages)
        assert all(stagestats.attribute(s["site"]) == "packing" for s in stages)
        out = stagestats.summarize(stages)
        assert out["spark.packing.shuffle_bytes"] > 0
        assert out["spark.packing.failed_tasks"] == 0
        # the tagger restored PySpark's own methods
        from pyspark.sql.classic.dataframe import DataFrame

        assert DataFrame.count.__module__ == "pyspark.sql.classic.dataframe"
    finally:
        spark.stop()
