"""Source-format breadth: the engine's tables round-trip through every
bundled columnar/text format (parquet is the primary; ORC ships in Spark;
CSV is the interchange fallback with explicit schema + timestamp format).
"""

from pyspark.sql import functions as F


def test_orc_roundtrip(spark, tmp_path):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = str(tmp_path / "docs_orc")
    docs.write.mode("overwrite").orc(p)
    back = spark.read.orc(p)
    assert back.schema == docs.schema
    a = sorted(map(tuple, docs.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_csv_roundtrip_with_schema(spark, tmp_path):
    """CSV needs an explicit schema on read (everything is string
    otherwise) and quoting for embedded delimiters/newlines."""
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    p = str(tmp_path / "orders_csv")
    (
        orders.write.mode("overwrite")
        .option("header", True)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        .csv(p)
    )
    back = (
        spark.read.schema(orders.schema)
        .option("header", True)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        .csv(p)
    )
    assert back.schema == orders.schema
    a = sorted(map(tuple, orders.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_formats_agree_under_a_query(spark, tmp_path):
    """The same aggregation must give identical results over parquet, ORC,
    and CSV copies of a table — format is storage, not semantics."""
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    orc_p = str(tmp_path / "li_orc")
    csv_p = str(tmp_path / "li_csv")
    li.write.mode("overwrite").orc(orc_p)
    (
        li.write.mode("overwrite")
        .option("header", True)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        .csv(csv_p)
    )

    def agg(df):
        return sorted(
            map(
                tuple,
                df.groupBy("l_returnflag")
                .agg(
                    F.count("*").alias("n"),
                    F.sum(F.floor(F.col("l_extendedprice") * 100).cast("long")).alias(
                        "rev_fp"
                    ),
                )
                .collect(),
            )
        )

    want = agg(li)
    assert agg(spark.read.orc(orc_p)) == want
    got_csv = agg(
        spark.read.schema(li.schema)
        .option("header", True)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        .csv(csv_p)
    )
    assert got_csv == want


def test_parquet_pushdown_and_column_pruning(spark):
    """Predicate pushdown and column pruning must reach the parquet scan:
    the physical plan's scan node carries PushedFilters for the shipdate
    band and a ReadSchema of ONLY the projected columns — a scan that
    reads all 11 lineitem columns for a 2-column projection would be
    wrong at any scale."""
    from pyspark.sql import functions as F

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    q = (
        li.filter(F.col("l_shipdate") >= F.lit("1996-01-01"))
        .select("l_orderkey", "l_quantity")
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in plan
    # scan schema: exactly the projected columns + the filter column
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_orderkey", "l_quantity", "l_shipdate"}, cols


def test_verify_contract_compare_catches_mismatches():
    """Meta-test of the gate harness itself: the compare must flag value,
    row-count, and column mismatches (a gate that cannot fail proves
    nothing)."""
    import pandas as pd

    from tools.verify_contract import compare

    a = pd.DataFrame({"k": [1, 2], "v": [1.0, 2.0]})
    assert compare(a, a.copy()) == []
    wrong_val = pd.DataFrame({"k": [1, 2], "v": [1.0, 2.5]})
    assert any("diffs" in p for p in compare(a, wrong_val))
    wrong_rows = pd.DataFrame({"k": [1], "v": [1.0]})
    assert any("row count" in p for p in compare(a, wrong_rows))
    wrong_cols = pd.DataFrame({"k": [1, 2], "w": [1.0, 2.0]})
    assert any("columns differ" in p for p in compare(a, wrong_cols))
