"""Testdata catalog: parquet readers + deterministic pages-from-documents.

``/root/testdata/sf*/`` holds the driver-generated star schema (TESTDATA.md).
``pages_from_documents`` turns the ``documents`` table into the graft's
input_hint pages table **with Spark built-in expressions only** (no UDF, no
driver loop) so the extraction pipeline can run against driver data at any
scale: each document's text is wrapped in the same boilerplate template the
synthetic generator uses, and an optional replication factor fans each doc
out into R distinct urls (scale knob for the bench without new data).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["TABLES", "load_table", "pages_from_documents"]

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# Keep this template textually aligned with sources/pages.py so the same
# extractor heuristics (nav/footer link farms stripped, body kept) apply.
_PRE = (
    "<html><head><title>doc</title><style>body{margin:0}</style>"
    "<script>var x=1;</script></head><body>"
    '<nav><ul><li><a href="/">home</a></li><li><a href="/docs">docs</a></li>'
    '<li><a href="/about">about</a></li><li><a href="/contact">contact</a></li></ul></nav>'
    "<p>"
)
_POST = (
    "</p><footer><p><a href=\"/terms\">terms</a> | <a href=\"/privacy\">privacy</a> | "
    "<a href=\"/rss\">rss</a></p><p>copyright 2024 example press</p></footer>"
    "</body></html>"
)


def pages_from_documents(
    spark: SparkSession, sf_dir: str, replicate: int = 1, n_partitions: int | None = None
) -> DataFrame:
    """documents(doc_id,text,lang,source,n_chars) → pages per input_hint.

    Pure Spark expressions — stays inside whole-stage codegen; the binary
    ``html`` column is built with concat+encode, paragraph breaks injected
    at sentence boundaries so block segmentation has real work to do.

    Scale note: ``n_partitions`` repartitions the *documents* table BEFORE
    the explode + payload build.  The source file is one split, so without
    this the whole fan-out runs in a single task; and exchanging first means
    the shuffle moves the ~65 KB docs table, not the ~half-GB of built HTML.
    Same principle at 100 TB: shuffle keys early, materialize payloads late.
    """
    docs = load_table(spark, sf_dir, "documents")
    if n_partitions:
        docs = docs.repartition(n_partitions, "doc_id")
    if replicate > 1:
        docs = docs.withColumn(
            "rep", F.explode(F.sequence(F.lit(0), F.lit(replicate - 1)))
        )
    else:
        docs = docs.withColumn("rep", F.lit(0))
    body = F.regexp_replace(F.coalesce(F.col("text"), F.lit("")), r"\. ", ".</p><p>")
    return docs.select(
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.com/doc/"),
            F.col("doc_id").cast("string"),
            F.lit("-r"),
            F.col("rep").cast("string"),
            F.lit(".html"),
        ).alias("url"),
        F.timestamp_seconds(
            F.lit(1704067200) + F.col("doc_id") * 60 + F.col("rep")
        ).alias("warc_ts"),
        F.encode(F.concat(F.lit(_PRE), body, F.lit(_POST)), "utf-8").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.col("lang"),
    )
