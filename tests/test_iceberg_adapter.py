"""Iceberg session confs: the shape ``--iceberg`` splices into the job's
session (no Iceberg runtime jars are needed to check it)."""

from gujarati_readability_pagewise_spark.sources import iceberg as ice


def test_iceberg_confs_shape():
    confs = ice.iceberg_spark_confs("graft", "/tmp/wh")
    assert confs["spark.sql.catalog.graft"] == "org.apache.iceberg.spark.SparkCatalog"
    assert confs["spark.sql.catalog.graft.warehouse"] == "/tmp/wh"
    assert "IcebergSparkSessionExtensions" in confs["spark.sql.extensions"]

