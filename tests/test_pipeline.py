"""Spark pipeline integration: byte-identity vs golden, scoring parity,
leakage-free split, host summary, metric self-consistency."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from gujarati_readability_pagewise_spark.functions.extract import extract_text
from gujarati_readability_pagewise_spark.functions.features import compute_features
from gujarati_readability_pagewise_spark.ml.train import default_model
from gujarati_readability_pagewise_spark.operators.aggregate import (
    binary_metrics,
    host_summary,
)
from gujarati_readability_pagewise_spark.operators.split import with_split
from gujarati_readability_pagewise_spark.operators.udfs import (
    with_extraction,
    with_extraction_and_score,
)
from gujarati_readability_pagewise_spark.sources.pages import gen_labels_pdf


def test_extraction_byte_identical(spark, pages_df, pages_pdf):
    out = with_extraction(pages_df).select("url", "text").toPandas()
    golden = {r.url: extract_text(r.html).text for r in pages_pdf.itertuples()}
    assert len(out) == len(pages_pdf)
    for u, t in zip(out.url, out.text):
        assert (t or "").encode("utf-8") == golden[u].encode("utf-8"), u


def test_extraction_deterministic_across_runs(spark, pages_df):
    a = with_extraction(pages_df).select("url", "text").toPandas().sort_values("url")
    b = with_extraction(pages_df).select("url", "text").toPandas().sort_values("url")
    assert list(a.text) == list(b.text)


def test_scoring_matches_pure_python_oracle(spark, pages_df, pages_pdf):
    model = default_model()
    out = (
        with_extraction_and_score(pages_df, model)
        .select("url", "pred_label", "p_nonreadable")
        .toPandas()
        .set_index("url")
    )
    texts = [extract_text(h).text for h in pages_pdf.html]
    X = compute_features(texts)
    proba = model.predict_proba(X)
    for i, u in enumerate(pages_pdf.url):
        assert abs(out.loc[u, "p_nonreadable"] - proba[i, 0]) < 1e-12
        assert out.loc[u, "pred_label"] == int(proba[i, 1] >= proba[i, 0])


def test_split_is_leakage_free(spark, pages_df):
    st = with_split(pages_df).withColumn(
        "host", F.parse_url(F.col("url"), F.lit("HOST"))
    )
    # no host straddles splits
    straddlers = (
        st.groupBy("host").agg(F.countDistinct("split").alias("k")).filter("k > 1")
    )
    assert straddlers.count() == 0
    # both splits non-empty; intersection of url-sets is empty (U1)
    tr = st.filter("split = 'train'").select("url")
    te = st.filter("split = 'test'").select("url")
    assert tr.count() > 0 and te.count() > 0
    assert tr.intersect(te).count() == 0


def test_split_pure_function_of_key(spark, pages_df):
    def split_of(df):
        return (
            with_split(df).select("url", "split").toPandas()
            .sort_values("url").reset_index(drop=True)
        )

    a = split_of(pages_df)
    b = split_of(pages_df.repartition(3))
    pd.testing.assert_frame_equal(a, b)


def test_host_summary_decision_rule(spark, pages_df, pages_pdf):
    model = default_model()
    scored = with_extraction_and_score(pages_df, model)
    hs = host_summary(scored).toPandas()
    assert (hs.total_pages.sum()) == len(pages_pdf)
    # decision rule: avg_p > 0.5 → host_prediction 0
    for _, row in hs.iterrows():
        assert row.host_prediction == (0 if row.avg_p > 0.5 else 1)


def verify_metrics(scored, reported, tol=1e-3):
    """Port of scripts/verify_metrics.py: recompute and compare within tol."""
    fresh = binary_metrics(scored)
    return all(abs(fresh[k] - reported[k]) <= tol for k in reported if k in fresh)


def test_metrics_self_consistency(spark, pages_df, pages_pdf):
    """Port of the reference's verify_metrics.py check (SURVEY.md §5.1)."""
    model = default_model()
    labels = gen_labels_pdf(pages_pdf, seed=42)
    lab_df = spark.createDataFrame(labels[["url", "label"]])
    scored = with_extraction_and_score(pages_df, model).join(lab_df, "url", "left")
    m = binary_metrics(scored)
    assert 0.8 <= m["accuracy"] <= 1.0  # model must actually work
    assert verify_metrics(scored, m, tol=1e-9)
    assert scored.filter(F.col("label").isNotNull()).count() == m["n"]


def test_corrupt_rows_never_fail(spark):
    pdf = pd.DataFrame(
        {
            "url": ["https://h.x/a", "https://h.x/b", "https://h.x/c"],
            "warc_ts": pd.to_datetime(["2024-01-01"] * 3),
            "html": [b"", None, b"\xff\xfe junk \x9c"],
            "text": [None] * 3,
            "lang": ["gu"] * 3,
        }
    )
    df = spark.createDataFrame(
        pdf, schema="url string, warc_ts timestamp, html binary, text string, lang string"
    )
    out = with_extraction(df).select("url", "extract_status", "features").toPandas()
    assert len(out) == 3
    assert set(out.extract_status) <= {"empty", "error"}
    for f in out.features:
        assert len(f) > 0 and all(np.isfinite(v) for v in f)


def test_kernel_invariant_to_arrow_batch_size_and_partitioning(spark):
    """Per-url text, spans, status, features and scores do not depend on
    how the rows are cut into Arrow batches or partitions, nor on their
    order (a shuffled copy puts other rows into each batch), with corrupt
    payloads in the input."""
    import hashlib

    from gujarati_readability_pagewise_spark.sources.pages import (
        PAGES_SCHEMA_DDL,
        gen_pages_pdf,
    )

    pdf = gen_pages_pdf(400, seed=3)[["url", "warc_ts", "html", "text", "lang"]]
    pages = spark.createDataFrame(pdf, schema=PAGES_SCHEMA_DDL)
    shuffled = spark.createDataFrame(
        pdf.sample(frac=1, random_state=11), schema=PAGES_SCHEMA_DDL
    )
    model = default_model()
    cols = ["url", "text", "spans", "extract_status", "features", "pred_label",
            "p_nonreadable"]
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(conf)
    digests, statuses = {}, set()
    try:
        for batch in (1, 7, 2048):
            spark.conf.set(conf, batch)
            frames = {
                "1": pages.coalesce(1),
                "8": pages.repartition(8, "url"),
                "1-shuffled": shuffled.coalesce(1),
            }
            for parts, df in frames.items():
                rows = with_extraction_and_score(df, model).select(*cols).collect()
                statuses |= {r["extract_status"] for r in rows}
                # repr, not ==: NaN features compare by their text
                text = "\n".join(sorted(map(repr, rows)))
                digests[(batch, parts)] = hashlib.sha256(text.encode()).hexdigest()
    finally:
        spark.conf.set(conf, saved)
    assert statuses - {"ok"}, statuses  # the corrupt payloads took the error path
    assert len(set(digests.values())) == 1, digests


_KERNEL_DIGEST = """
import hashlib

import pyarrow as pa

from gujarati_readability_pagewise_spark.ml.train import default_model
from gujarati_readability_pagewise_spark.operators.udfs import _arrow_kernel
from gujarati_readability_pagewise_spark.sources.pages import gen_pages_pdf

pdf = gen_pages_pdf(300, seed=5)[["url", "warc_ts", "html", "lang"]]
rb = pa.RecordBatch.from_pandas(pdf, preserve_index=False)
out = _arrow_kernel(rb, include_spans=True, rf=default_model())
sink = pa.BufferOutputStream()
with pa.ipc.new_stream(sink, out.schema) as writer:
    writer.write_batch(out)
print(out.num_rows, hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest())
"""


def test_kernel_output_identical_across_interpreters():
    """Two fresh interpreters with different string-hash salts train the
    default model and run the Arrow kernel on one seeded batch: their
    output batches are byte-identical (no Spark, no shared process state)."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    root = str(Path(__file__).resolve().parents[1])
    outs = []
    for salt in ("1", "2"):
        env = dict(os.environ, PYTHONHASHSEED=salt)
        env["PYTHONPATH"] = os.pathsep.join(filter(None, [root, env.get("PYTHONPATH")]))
        done = subprocess.run(
            [sys.executable, "-c", _KERNEL_DIGEST], env=env, cwd=root,
            capture_output=True, text=True, timeout=300, check=True,
        )
        outs.append(done.stdout.split())
    assert outs[0][0] == "300", outs
    assert outs[0] == outs[1], outs
