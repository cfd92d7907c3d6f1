"""The stored ExactSubstr index, written bucketed by ``h`` as
``operators.dedup.window_hash_index`` prescribes (``DataFrameWriter.bucketBy``
plus ``sortBy``, read back with ``spark.table``), must plan joins and
aggregations on ``h`` with ZERO Exchange (no shuffle)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gujarati_readability_pagewise_spark.operators.dedup import window_hash_index

N_BUCKETS = 8


def _docs(spark, first_id):
    rows = [
        (first_id + i,
         f"document {first_id + i} of the co-location corpus; "
         f"its body text runs past forty characters, variant {i % 7}.")
        for i in range(60)
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def _write_bucketed(df, table_name):
    (df.write.mode("overwrite").format("parquet")
       .bucketBy(N_BUCKETS, "h").sortBy("h").saveAsTable(table_name))


@pytest.fixture()
def two_bucketed_tables(spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS colo_test")
    corpus = window_hash_index(_docs(spark, 0), window=40)
    snapshot = window_hash_index(_docs(spark, 1000), window=40)
    _write_bucketed(corpus, "colo_test.index_b")
    _write_bucketed(snapshot, "colo_test.snapshot_b")
    yield "colo_test.index_b", "colo_test.snapshot_b", corpus, snapshot
    spark.sql("DROP TABLE IF EXISTS colo_test.index_b")
    spark.sql("DROP TABLE IF EXISTS colo_test.snapshot_b")


def test_bucketed_join_has_no_exchange(spark, two_bucketed_tables):
    t1, t2, corpus, snapshot = two_bucketed_tables
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_smj = spark.conf.get("spark.sql.join.preferSortMergeJoin")
    try:
        # force a sort-merge join so the elided exchange is what we prove
        # (the session default allows shuffled hash joins)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.join.preferSortMergeJoin", "true")
        joined = spark.table(t1).join(
            spark.table(t2).select("h", F.col("first_key").alias("snap_key")), "h"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        expected = corpus.join(
            snapshot.select("h", F.col("first_key").alias("snap_key")), "h"
        )
        got = sorted(map(tuple, joined.select("h", "first_key", "snap_key").collect()))
        want = sorted(map(tuple, expected.select("h", "first_key", "snap_key").collect()))
        assert got == want
        assert len(got) > 0  # the shared template windows do join
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.set("spark.sql.join.preferSortMergeJoin", old_smj)


def test_bucketed_aggregation_has_no_exchange(spark, two_bucketed_tables):
    t1, _, corpus, _ = two_bucketed_tables
    agg = spark.table(t1).groupBy("h").agg(F.count("*").alias("n"))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    rows = agg.collect()
    assert len(rows) == corpus.count()
    assert all(r.n == 1 for r in rows)  # the index holds one row per hash
