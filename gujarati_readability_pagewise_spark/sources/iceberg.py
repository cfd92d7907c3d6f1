"""Session confs for an Iceberg hadoop catalog.

The north rule runs the pipeline "over Iceberg tables of Common-Crawl-style
web pages".  ``jobs/extract_pipeline.py --iceberg <warehouse>`` splices
these confs into its session; the Iceberg runtime jars come from the
spark-submit line.  Every pipeline output is still a parquet path under
``out_root``, so no write goes through the catalog yet.
"""

from __future__ import annotations

__all__ = ["iceberg_spark_confs"]


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
