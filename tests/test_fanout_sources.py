"""S7 binaryFile source, K6 nested-JSON sink."""

from pyspark.sql import functions as F


def test_binaryfile_source_with_glob(spark, tmp_path):
    """S7: extension-filtered directory scan via the binaryFile source."""
    for name, content in [("a.png", b"PNG1"), ("b.png", b"PNG22"), ("c.txt", b"nope")]:
        (tmp_path / name).write_bytes(content)
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.png")
        .load(str(tmp_path))
    )
    rows = df.select("path", "length", "content").collect()
    assert len(rows) == 2
    assert {r["length"] for r in rows} == {4, 5}
    assert all(bytes(r["content"]).startswith(b"PNG") for r in rows)


def test_nested_json_sink_roundtrip(spark, tmp_path):
    """K6: per-page nested DQA-style document written as JSON and re-read."""
    docs = spark.range(5).select(
        F.concat(F.lit("https://h/p"), F.col("id")).alias("url"),
        F.struct(
            F.struct(F.lit(640).alias("width"), F.lit(480).alias("height")).alias(
                "image_metadata"
            ),
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("crop_index"),
                        F.concat(F.lit("4/5 (Good) #"), F.col("id")).alias(
                            "overallRating"
                        ),
                    )
                    for i in range(2)
                ]
            ).alias("crops"),
        ).alias("doc"),
    )
    out = str(tmp_path / "json")
    docs.write.mode("overwrite").json(out)
    back = spark.read.json(out)
    assert back.count() == 5
    row = back.filter(F.col("url") == "https://h/p0").collect()[0]
    assert row["doc"]["image_metadata"]["width"] == 640
    assert len(row["doc"]["crops"]) == 2
    # the F2 rating-regex parse applies to the nested field
    parsed = back.select(
        F.regexp_extract(
            F.col("doc.crops")[0]["overallRating"], r"(\d+(?:\.\d+)?)/5", 1
        ).cast("double").alias("rating")
    ).collect()
    assert all(r["rating"] == 4.0 for r in parsed)
