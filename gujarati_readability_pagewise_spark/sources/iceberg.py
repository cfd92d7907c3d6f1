"""Iceberg table appends with a transparent snapshot-layout fallback.

The north rule runs the pipeline "over Iceberg tables of Common-Crawl-style
web pages".  Without Iceberg runtime jars on the classpath, the metrics
append goes through this adapter instead of hard-coding a format:

* **Real Iceberg** (cluster with ``--packages org.apache.iceberg:
  iceberg-spark-runtime-<spark>_<scala>`` and a catalog configured, see
  :func:`iceberg_spark_confs`): table refs look like ``cat.db.pages`` and
  map to ``df.writeTo(...).append()`` — snapshot isolation and
  hidden-partition pruning come from Iceberg itself.
* **Fallback** (plain filesystems): table refs are paths and map to
  :mod:`..plans.snapshots` — versioned immutable directories with an
  atomically-flipped pointer, which preserves the *contract* the engine
  relies on (readers never see a half-written table) minus Iceberg's
  file-level pruning.

Keeping the contract identical in both modes means the 100 TB deployment
flips a config, not code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans import snapshots

__all__ = [
    "iceberg_spark_confs",
    "is_table_ref",
    "iceberg_enabled",
    "append_table",
]


def iceberg_spark_confs(catalog: str = "graft", warehouse: str = "/tmp/graft_wh") -> dict:
    """The session confs a real cluster passes to enable the Iceberg path.

    Documented here (and asserted in tests) so the spark-submit launcher can
    splice them in verbatim::

        spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<v> \
            $(for kv in ...; do echo --conf $kv; done) jobs/extract_pipeline.py
    """
    return {
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        ),
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
    }


def is_table_ref(ref: str) -> bool:
    """Catalog table refs are dotted names; everything else is a path."""
    return "/" not in ref and "." in ref


def iceberg_enabled(spark: SparkSession, ref: str) -> bool:
    """True when `ref` is a catalog table AND its catalog is configured."""
    if not is_table_ref(ref):
        return False
    catalog = ref.split(".", 1)[0]
    return spark.conf.get(f"spark.sql.catalog.{catalog}", None) is not None


def append_table(df: DataFrame, ref: str) -> None:
    """Append rows (metrics/manifest tables).  Fallback appends a snapshot
    holding old ∪ new so readers still flip atomically between versions."""
    if iceberg_enabled(df.sparkSession, ref):
        df.writeTo(ref).append()
        return
    spark = df.sparkSession
    if snapshots.latest_version(ref) is not None:
        df = snapshots.read_latest(spark, ref).unionByName(df)
    snapshots.write_snapshot(df, ref)
