"""SCD2 content-version history of a re-crawl fetch log."""


def test_scd2_history_collapses_unchanged_fetches(spark):
    """SCD2: consecutive unchanged fingerprints collapse into one validity
    period; valid_to chains to the next version; the last version is
    current."""
    import pandas as pd

    from pyspark.sql import functions as F
    from gujarati_readability_pagewise_spark.plans.snapshots import scd2_history

    rows = [
        # url A: v1 at t1-t2 (t2 unchanged -> collapsed), v2 at t3
        ("a", 1, "x"), ("a", 2, "x"), ("a", 3, "y"),
        # url B: never changes -> one open-ended version
        ("b", 1, "z"), ("b", 2, "z"),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["url", "fetch_ts", "fp"]))
    out = scd2_history(df, "url", "fetch_ts", "fp").orderBy("url", "version").collect()
    a = [r for r in out if r["url"] == "a"]
    b = [r for r in out if r["url"] == "b"]
    assert [(r["version"], r["fp"], r["valid_from"], r["valid_to"], r["is_current"]) for r in a] == [
        (1, "x", 1, 3, 0),
        (2, "y", 3, None, 1),
    ]
    assert [(r["version"], r["fp"], r["valid_to"], r["is_current"]) for r in b] == [
        (1, "z", None, 1)
    ]

