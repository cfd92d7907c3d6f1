"""Iceberg adapter: ref routing, fallback snapshot semantics, append union.

The sandbox has no Iceberg jars, so these tests exercise the fallback path
end-to-end and the routing/conf logic of the real path (north_rule: the
pipeline runs over Iceberg tables; the adapter keeps the contract identical
so a cluster flips config, not code).
"""

import pandas as pd
import pytest

from gujarati_readability_pagewise_spark.plans import snapshots
from gujarati_readability_pagewise_spark.sources import iceberg as ice


def test_ref_routing(spark):
    assert ice.is_table_ref("graft.db.pages")
    assert not ice.is_table_ref("/tmp/x/pages")
    assert not ice.is_table_ref("pages")  # bare name: not a catalog ref
    # dotted ref but no catalog configured in this sandbox session
    assert not ice.iceberg_enabled(spark, "graft.db.pages")
    assert not ice.iceberg_enabled(spark, "/tmp/x/pages")


def test_iceberg_confs_shape():
    confs = ice.iceberg_spark_confs("graft", "/tmp/wh")
    assert confs["spark.sql.catalog.graft"] == "org.apache.iceberg.spark.SparkCatalog"
    assert confs["spark.sql.catalog.graft.warehouse"] == "/tmp/wh"
    assert "IcebergSparkSessionExtensions" in confs["spark.sql.extensions"]


def test_fallback_snapshot_roundtrip_and_time_travel(spark, tmp_path):
    ref = str(tmp_path / "metrics_table")
    df1 = spark.createDataFrame(pd.DataFrame({"k": [1, 2], "v": ["a", "b"]}))
    ice.append_table(df1, ref)  # no committed version yet: creates v1
    assert snapshots.read_latest(spark, ref).count() == 2
    df2 = spark.createDataFrame(pd.DataFrame({"k": [3], "v": ["c"]}))
    ice.append_table(df2, ref)
    latest = snapshots.read_latest(spark, ref).toPandas().sort_values("k")
    assert list(latest.k) == [1, 2, 3]
    # versions are immutable: v1 still readable after the append
    v1 = snapshots.read_snapshot(spark, ref, 1).toPandas().sort_values("k")
    assert list(v1.k) == [1, 2]


def test_read_missing_table_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        snapshots.read_latest(spark, str(tmp_path / "nope"))
