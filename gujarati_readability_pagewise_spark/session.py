"""Canonical SparkSession factory for the engine.

Centralizes the configs the graft's north_rule requires (AQE + skew-join
handling, Arrow batching, UTC timestamps for oracle parity) so every entry
point — tests, bench, driver contract — runs the same way.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

__all__ = ["get_spark", "local_frame", "ARROW_BATCH_SIZE"]

# The Arrow batch is the analogue of the reference's DataLoader batch
# (batch_size=16 at extract_pagewise_features.py:450) — but text kernels are
# cheap per row, so we use large batches to amortize the JVM<->Python hop.
ARROW_BATCH_SIZE = 2048


def _default_driver_memory() -> str:
    """A quarter of the host's physical memory (local mode runs every
    executor inside the driver JVM, so this is the whole Spark heap)."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{phys // 4 // 2**20}m"


def get_spark(
    app_name: str = "gujarati_readability_pagewise_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    # local[N] → one JVM; match shuffle partitions to cores, not 200
    n = shuffle_partitions or int(cpus if cpus.isdigit() else 32)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Allow shuffled hash join where its size conditions hold, and let
        # AQE rewrite sort-merge to shuffled-hash when every post-shuffle
        # partition fits 64 MB (guide §3.1/§9): the dedup/packing joins
        # here have small, hashable build sides and the sorts were pure
        # overhead — measured at sf0.1: dedup_verified_pairs 4.8-36 s ->
        # 3.8-5.3 s, graph_pagerank 1.8-6.1 -> 1.3-1.9 s, with visibly
        # lower variance (hash joins don't spill-sort under host
        # pressure).  Size-conditioned, so a build side that outgrows a
        # partition at cluster scale falls back to sort-merge planning.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            "67108864",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_SIZE))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_memory()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: Sequence[tuple], ddl: str) -> DataFrame:
    """DataFrame of driver-built ``rows`` (tuples in ``ddl`` column order).

    The rows reach the JVM as one Arrow table and plan as a
    ``LocalRelation``.  ``createDataFrame(list, ddl)`` would pickle them
    into a Python RDD instead, and every action over it would start a job
    that reads them back through Python workers.  The schema, nullability
    included, is the one ``createDataFrame(list, ddl)`` gives."""
    schema = StructType.fromDDL(ddl)
    arrow_schema = to_arrow_schema(schema)
    columns = zip(*rows) if rows else [()] * len(arrow_schema)
    table = pa.table(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
