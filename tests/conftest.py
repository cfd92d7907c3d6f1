from __future__ import annotations

import contextlib
import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from gujarati_readability_pagewise_spark.session import get_spark

    s = get_spark(app_name="pytest", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pages_pdf():
    from gujarati_readability_pagewise_spark.sources.pages import gen_pages_pdf

    return gen_pages_pdf(400, seed=42)


@pytest.fixture(scope="session")
def pages_df(spark, pages_pdf):
    from gujarati_readability_pagewise_spark.sources.pages import PAGES_SCHEMA_DDL

    return spark.createDataFrame(
        pages_pdf[["url", "warc_ts", "html", "text", "lang"]], schema=PAGES_SCHEMA_DDL
    )


@pytest.fixture()
def spark_jobs(spark):
    """``with spark_jobs() as names:`` collects the names (call sites) of
    the Spark jobs launched inside the block; the list fills on exit."""
    sc = spark.sparkContext

    @contextlib.contextmanager
    def record():
        group = f"jobs-{uuid.uuid4().hex}"
        names: list[str] = []
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            yield names
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            jsc = sc._jsc.sc()
            jsc.listenerBus().waitUntilEmpty()  # the status store lags the jobs
            it = jsc.statusStore().jobsList(None).iterator()
            while it.hasNext():
                job = it.next()
                if job.jobGroup().isDefined() and job.jobGroup().get() == group:
                    names.append(job.name())

    return record
