"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pipeline — documents wrapped into
Common-Crawl-style pages, golden extraction + feature kernel + broadcast-RF
scoring in one Arrow batch, per-host summary aggregation (the reference's
predict_single_book.py report query, SURVEY.md §3.3).

``queries()``/``oracle_sql()`` cover the operator inventory of SURVEY.md §2
over the testdata star schema; every SQL-expressible operator carries a
DuckDB oracle with identically-aliased columns.  Pipeline operators that
run the Python extraction kernel are rows-only (no SQL equivalent).
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from gujarati_readability_pagewise_spark.functions.extract import (
    MIN_CONTENT_WORDS,
    MIN_RESCUE_WORDS,
)
from gujarati_readability_pagewise_spark.functions.repetition import (
    MAX_DUP_SENT_FRACTION,
    MAX_TOP_2GRAM_CHAR_FRACTION,
)
from gujarati_readability_pagewise_spark.functions.textstats import (
    CURATION_LANGS,
    LENGTH_BAND,
    MIN_QUALITY,
    lang_id_expr,
    quality_score_expr,
)
from gujarati_readability_pagewise_spark.operators.dedup import (
    N_BANDS,
    N_HASHES,
    SHINGLE_K,
)
from gujarati_readability_pagewise_spark.sources.catalog import (
    load_table,
    pages_from_documents,
)

SF_SMOKE = "/root/testdata/sf0.001"
# window (chars) of the ExactSubstr queries and their oracles
_SUBSTR_WINDOW = 40


def _r(c, n=4):
    return F.round(c, n)


def _stream_scratch(spark: SparkSession, query_name: str) -> tuple[str, str]:
    """(src, state) dirs under the per-process scratch root of the
    streaming query ``query_name``, ``src`` made empty.  Any still-active
    prior run of the query is stopped BEFORE the root it may be reading is
    wiped.  Re-invocations reuse the root instead of leaking a fresh
    mkdtemp per run, and concurrent processes (bench + a gate run) cannot
    clobber each other's live state.  A returned DataFrame reads lazily
    from the root, so its cleanup happens at the next call in this
    process, after the driver has collected it."""
    root = os.path.join(tempfile.gettempdir(), f"{query_name}_{os.getpid()}")
    for q in spark.streams.active:
        if q.name == query_name:
            q.stop()
    shutil.rmtree(root, ignore_errors=True)
    src = os.path.join(root, "src")
    os.makedirs(src)
    return src, os.path.join(root, "state")


# --------------------------------------------------------------------------
# entry: flagship pipeline on sf0.001
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: pages → extract+score (one Arrow batch) → host summary."""
    from gujarati_readability_pagewise_spark.ml.train import default_model
    from gujarati_readability_pagewise_spark.operators.aggregate import host_summary
    from gujarati_readability_pagewise_spark.operators.udfs import (
        with_extraction_and_score,
    )

    pages = pages_from_documents(spark, SF_SMOKE)
    scored = with_extraction_and_score(pages, default_model())
    return host_summary(scored).orderBy("host")


# --------------------------------------------------------------------------
# operator queries (spark side)
# --------------------------------------------------------------------------

def q_a1_class_distribution(spark, sf):
    emb = load_table(spark, sf, "embeddings")
    return emb.groupBy("label").agg(F.count("*").alias("n")).orderBy("label")


def q_a2_host_summary(spark, sf):
    docs = load_table(spark, sf, "documents")
    return (
        docs.groupBy("source")
        .agg(
            F.count("*").alias("total_docs"),
            _r(F.avg("n_chars")).alias("avg_chars"),
            _r(F.stddev_samp("n_chars")).alias("std_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("source")
    )


def q_a3_group_decision(spark, sf):
    docs = load_table(spark, sf, "documents")
    return (
        docs.groupBy("source")
        .agg(
            F.when(F.avg("n_chars") > 250, F.lit(1)).otherwise(F.lit(0)).alias(
                "group_flag"
            )
        )
        .orderBy("source")
    )


def q_a4_confusion_matrix(spark, sf):
    emb = load_table(spark, sf, "embeddings")
    return (
        emb.withColumn("pred", F.pmod(F.col("vec_id"), F.lit(3)).cast("int"))
        .groupBy(F.col("label").alias("true_label"), "pred")
        .agg(F.count("*").alias("n"))
        .orderBy("true_label", "pred")
    )


def q_a5_eval_metrics(spark, sf):
    ev = load_table(spark, sf, "events")
    lab = F.when(F.col("value") > 10, 0).otherwise(1)
    pred = F.when(F.pmod(F.col("user_id"), F.lit(2)) == 0, 0).otherwise(1)
    d = ev.select(lab.alias("lab"), pred.alias("pred"))
    agg = d.agg(
        F.count("*").alias("n"),
        F.sum(F.when((F.col("lab") == 0) & (F.col("pred") == 0), 1).otherwise(0)).alias("tp"),
        F.sum(F.when((F.col("lab") == 1) & (F.col("pred") == 0), 1).otherwise(0)).alias("fp"),
        F.sum(F.when((F.col("lab") == 0) & (F.col("pred") == 1), 1).otherwise(0)).alias("fn"),
    )
    return agg.select(
        "n",
        "tp",
        "fp",
        "fn",
        _r(F.col("tp") / (F.col("tp") + F.col("fp"))).alias("precision_pos0"),
        _r(F.col("tp") / (F.col("tp") + F.col("fn"))).alias("recall_pos0"),
    )


def q_a6_group_stats(spark, sf):
    """Per-order stats incl. exact median.  The groups are near-unique
    (~4 rows/order), so partial aggregation buys nothing — repartitioning
    by the group key FIRST moves the exchange below the heavy
    value-collecting percentile buffers: they build in parallel, and
    Catalyst sees the partitioning satisfied so no second exchange."""
    li = load_table(spark, sf, "lineitem").repartition(
        spark.sparkContext.defaultParallelism, "l_orderkey"
    )
    # median via sorted-array midpoint instead of percentile(): the
    # percentile ImperativeAggregate builds an OpenHashMap counts buffer
    # per group — pure overhead at ~4 values/group — while collect_list +
    # array_sort is a flat buffer and one JVM sort.  Value-identical to
    # percentile(q=0.5): l_quantity is integral (TPC-H spec 1..50, checked
    # across all SFs), so midpoint (a+b)/2 and percentile's
    # a+(b-a)*0.5 are both exact in binary; measured warm 0.75 -> 0.64 s
    # floor and a much lower first-trial cost at sf0.1.
    arr = F.array_sort(F.collect_list("l_quantity"))
    n = F.size(arr)
    median = F.when(
        n % 2 == 1, F.element_at(arr, (n / 2 + 1).cast("int"))
    ).otherwise(
        (
            F.element_at(arr, (n / 2).cast("int"))
            + F.element_at(arr, (n / 2 + 1).cast("int"))
        )
        / 2
    )
    return (
        li.groupBy("l_orderkey")
        .agg(
            _r(F.avg("l_quantity")).alias("avg_qty"),
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
            _r(median).alias("median_qty"),
            F.count("*").alias("n_lines"),
        )
        # no trailing orderBy: the driver compare is order-insensitive, and
        # a global range sort re-executes the heavy value-collecting
        # percentile child for bound sampling (measured 8.0 s vs ~3 s at
        # sf0.1 — same failure mode removed from the dedup queries)
    )


def q_a7_two_level_rollup(spark, sf):
    li = load_table(spark, sf, "lineitem")
    ords = load_table(spark, sf, "orders")
    # Fixed-point (×10⁴) inner average: one float division + floor is
    # bit-identical across engines; the outer average then sums exact
    # integers, so the rollup matches the DuckDB oracle exactly.
    per_order = li.groupBy("l_orderkey").agg(
        F.floor(
            (F.sum(F.col("l_quantity").cast("long")) * 10000).cast("double")
            / F.count("*")
        )
        .cast("long")
        .alias("o_avg_qty_fp")
    )
    return (
        per_order.join(ords, per_order.l_orderkey == ords.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            (
                F.floor(F.sum("o_avg_qty_fp").cast("double") / F.count("*")).cast("long")
                / 10000.0
            ).alias("cust_avg_qty"),
            F.count("*").alias("n_orders"),
        )
    )
    # (no trailing sort — order-insensitive compare; see tpch_q1 note)


def q_j1_semi_join(spark, sf):
    cust = load_table(spark, sf, "customer")
    ords = load_table(spark, sf, "orders")
    return (
        cust.join(ords, cust.c_custkey == ords.o_custkey, "left_semi")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    )


def q_j2_left_join(spark, sf):
    cust = load_table(spark, sf, "customer")
    ords = load_table(spark, sf, "orders")
    return (
        ords.join(F.broadcast(cust), ords.o_custkey == cust.c_custkey, "left")
        .select(
            "o_orderkey",
            F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN")).alias("segment"),
        )
    )
    # (no trailing sort — order-insensitive compare; see tpch_q1 note)


def q_j5_anti_join(spark, sf):
    cust = load_table(spark, sf, "customer")
    ords = load_table(spark, sf, "orders")
    return (
        cust.join(ords, cust.c_custkey == ords.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


def q_w1_latest_per_group(spark, sf):
    ev = load_table(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type")
    )  # (no trailing sort — order-insensitive compare; see tpch_q1 note)


def q_w2_topk(spark, sf):
    ords = load_table(spark, sf, "orders")
    return (
        ords.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(5)
        .select("o_orderkey", "o_totalprice")
    )


def q_w4_running_sum(spark, sf):
    ev = load_table(spark, sf, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        ev.select(
            "user_id",
            "event_id",
            _r(F.sum("value").over(w), 2).alias("running_value"),
        )
    )  # (no trailing sort — order-insensitive compare; see tpch_q1 note)


def q_o1_multi_sort(spark, sf):
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy("event_type", "user_id")
        .agg(F.count("*").alias("n"))
        .orderBy("event_type", "user_id")
    )


def q_o3_sorted_distinct(spark, sf):
    docs = load_table(spark, sf, "documents")
    return docs.select("source").distinct().orderBy("source")


def q_u2_count_distinct(spark, sf):
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
        )
        .orderBy("event_type")
    )


def q_u1_split_counts(spark, sf):
    docs = load_table(spark, sf, "documents")
    split = F.when(F.pmod(F.col("doc_id"), F.lit(5)) == 0, "test").otherwise("train")
    return (
        docs.select(split.alias("split"))
        .groupBy("split")
        .agg(F.count("*").alias("n"))
        .orderBy("split")
    )


def q_f1_host_extract(spark, sf):
    docs = load_table(spark, sf, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/doc/"),
        F.col("doc_id").cast("string"),
        F.lit(".html"),
    )
    return (
        docs.select(
            "doc_id",
            F.regexp_extract(url, r"https://([^/]+)/", 1).alias("host"),
        )
        .orderBy("doc_id")
    )


def q_f2_rating_parse(spark, sf):
    part = load_table(spark, sf, "part")
    rating = F.concat(F.col("p_size").cast("string"), F.lit("/5 (Good)"))
    return (
        part.select(
            "p_partkey",
            F.regexp_extract(rating, r"(\d+(?:\.\d+)?)/5", 1)
            .cast("double")
            .alias("rating"),
        )
        .orderBy("p_partkey")
    )


def q_tpch_q1(spark, sf):
    li = load_table(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _r(F.sum("l_quantity"), 2).alias("sum_qty"),
            _r(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            _r(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            _r(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            _r(F.avg("l_quantity")).alias("avg_qty"),
            _r(F.avg("l_extendedprice")).alias("avg_price"),
            _r(F.avg("l_discount")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )
    # no trailing global sort: driver compare is order-insensitive; the
    # range sort re-executes the aggregation child for bound sampling


def q_tpch_q17(spark, sf):
    """Q17 shape (small-quantity revenue): a per-group scalar aggregate
    (0.2 × avg quantity per part) joined back against the same fact table
    — the correlated scalar subquery decorrelated into an agg + join-back,
    which is how Spark scales it (the per-part threshold table is tiny and
    broadcasts).  Quantities are integral so the threshold is
    order-insensitive float math (exact across engines).  testdata has no
    partsupp/container, so p_brand stands in for Q17's brand+container
    predicate."""
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part").filter(F.col("p_brand") == "Brand#13")
    thresh = li.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_limit")
    )
    return (
        li.join(F.broadcast(part.select("p_partkey")),
                li.l_partkey == F.col("p_partkey"))
        .join(thresh, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_limit"))
        .agg(_r(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


def q_min_price_supplier(spark, sf):
    """Q2 essence (min-per-group join-back): for each part, the supplier
    achieving the minimum extended price, ties broken by lowest suppkey —
    the decorrelated `= (SELECT min(..) ...)` pattern.  min() is exact on
    doubles (no summation order), so the join-back predicate is
    bit-identical across engines."""
    li = load_table(spark, sf, "lineitem").filter(F.col("l_partkey") < 200)
    mins = li.groupBy("l_partkey").agg(F.min("l_extendedprice").alias("min_price"))
    return (
        li.join(mins, "l_partkey")
        .filter(F.col("l_extendedprice") == F.col("min_price"))
        .groupBy("l_partkey", "min_price")
        .agg(F.min("l_suppkey").alias("best_suppkey"))
        .select("l_partkey", "best_suppkey", "min_price")
        .orderBy("l_partkey")
    )


def q_u4_intersect(spark, sf):
    """U-family: customers appearing in BOTH halves of the order history."""
    ords = load_table(spark, sf, "orders")
    early = ords.filter(F.col("o_orderdate") < F.lit("1998-01-01")).select("o_custkey")
    late = ords.filter(F.col("o_orderdate") >= F.lit("1998-01-01")).select("o_custkey")
    return early.intersect(late).orderBy("o_custkey")


def q_u5_except(spark, sf):
    """U-family: nations with customers but no suppliers (exceptAll→distinct)."""
    cust = load_table(spark, sf, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    sup = load_table(spark, sf, "supplier").filter(F.col("s_acctbal") > 9000).select(
        F.col("s_nationkey").alias("nationkey")
    )
    return cust.distinct().exceptAll(sup.distinct()).orderBy("nationkey")


def q_tpch_q3(spark, sf):
    """Q3 shape: 3-way join, filtered, grouped revenue, top-10."""
    cust = load_table(spark, sf, "customer")
    ords = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    return (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .join(ords, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < F.lit("1995-03-15"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > F.lit("1995-03-15"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            _r(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


def q_tpch_q5(spark, sf):
    """Q5 shape: 6-way star join → per-nation revenue (join-reorder workout)."""
    region = load_table(spark, sf, "region")
    nation = load_table(spark, sf, "nation")
    cust = load_table(spark, sf, "customer")
    sup = load_table(spark, sf, "supplier")
    ords = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    return (
        region.filter(F.col("r_name") == "ASIA")
        .join(nation, F.col("n_regionkey") == F.col("r_regionkey"))
        .join(cust, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(ords, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            sup,
            (F.col("s_suppkey") == F.col("l_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            _r(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


def q_tpch_q6(spark, sf):
    """Q6 shape: pure scan-filter-aggregate (pushdown showcase)."""
    li = load_table(spark, sf, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1994-01-01"))
        & (F.col("l_shipdate") < F.lit("1995-01-01"))
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    ).agg(
        _r(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
        F.count("*").alias("n"),
    )


def q_tpch_q4(spark, sf):
    """Q4 shape: EXISTS semi-join with a correlated inequality, count by group."""
    orders = load_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-07-01"))
    )
    li = load_table(spark, sf, "lineitem")
    sem = orders.join(
        li,
        (orders["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > orders["o_orderdate"]),
        "left_semi",
    )
    return (
        sem.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q_tpch_q12(spark, sf):
    """Q12 shape: join + CASE-sum two-way priority classification."""
    orders = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


def q_tpch_q14(spark, sf):
    """Q14 shape: conditional-aggregate ratio (promo revenue share).

    The ratio divides two ROUNDED sums (bit-stable across engines) and is
    published via floor-scaling, never round() — oracle-parity rule for
    values that can land on a .5 boundary.
    """
    part = load_table(spark, sf, "part")
    li = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-07-01"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = li.join(part, li["l_partkey"] == part["p_partkey"]).agg(
        _r(F.sum(F.when(F.col("p_type") == "ECONOMY", rev).otherwise(0.0)), 2).alias(
            "promo_rev"
        ),
        _r(F.sum(rev), 2).alias("total_rev"),
    )
    return j.select(
        "promo_rev",
        "total_rev",
        (
            F.floor(F.lit(100.0) * F.col("promo_rev") / F.col("total_rev") * 1e4) / 1e4
        ).alias("promo_share_pct"),
    )


def q_tpch_q16(spark, sf):
    """Q16 shape: distinct-count per group with a NOT-IN (anti) supplier filter."""
    part = load_table(spark, sf, "part").filter(F.col("p_brand") != F.lit("Brand#1"))
    li = load_table(spark, sf, "lineitem")
    bad = load_table(spark, sf, "supplier").filter(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("l_suppkey")
    )
    return (
        li.join(bad, "l_suppkey", "left_anti")
        .join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.desc("supplier_cnt"), F.asc("p_brand"), F.asc("p_type"), F.asc("p_size")
        )
        .limit(20)
    )


def q_tpch_q18(spark, sf):
    """Q18 shape: HAVING over a big join-back (large-volume orders)."""
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)  # l_quantity is integral → exact sums
    )
    return (
        big.join(orders, big["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            _r(F.col("o_totalprice"), 2).alias("totalprice"),
            _r(F.col("sum_qty"), 2).alias("sum_qty"),
        )
        .orderBy(F.desc("totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


def q_tpch_q22(spark, sf):
    """Q22 shape: scalar-avg subquery + anti join (rich, recently inactive)."""
    cust = load_table(spark, sf, "customer")
    recent = load_table(spark, sf, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01")
    ).select(F.col("o_custkey").alias("c_custkey"))
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        cust.join(recent, "c_custkey", "left_anti")
        .crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            _r(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


def q_sessionization(spark, sf):
    """Gap-based sessionization: lag + cumulative session counter per user."""
    ev = load_table(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ; route through TIMESTAMP (session TZ pinned UTC)
    # so the epoch seconds equal DuckDB's epoch(naive ts)
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    with_new = ev.withColumn(
        "new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    )
    sess = with_new.withColumn(
        "session_id",
        F.sum("new_sess").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            _r(F.sum("value"), 2).alias("session_value"),
        )
        .orderBy("user_id", "session_id")
    )


def q_pivot_counts(spark, sf):
    """Pivot: event counts per type split by odd/even user."""
    ev = load_table(spark, sf, "events")
    return (
        ev.withColumn("par", F.pmod(F.col("user_id"), F.lit(2)))
        .groupBy("event_type")
        .pivot("par", [0, 1])
        .count()
        .select(
            "event_type",
            F.col("0").alias("even_users"),
            F.col("1").alias("odd_users"),
        )
        .orderBy("event_type")
    )


def q_dedup_exact(spark, sf):
    docs = load_table(spark, sf, "documents")
    return (
        docs.groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("n_copies") > 1)
    )  # (no trailing sort — order-insensitive compare; see tpch_q1 note)


def q_text_token_count(spark, sf):
    docs = load_table(spark, sf, "documents")
    from gujarati_readability_pagewise_spark.functions.textstats import (
        bpe_ish_token_count_expr,
        token_count_expr,
    )

    return (
        docs.select(
            "doc_id",
            token_count_expr(F.col("text")).alias("n_tokens"),
            bpe_ish_token_count_expr(F.col("text")).alias("n_bpe_tokens"),
            F.length("text").alias("n_chars_actual"),
        )
        .orderBy("doc_id")
    )


def q_text_quality(spark, sf):
    docs = load_table(spark, sf, "documents")
    n_chars = F.length("text")
    # regexp_count of the single-char class == length of the kept chars
    # after stripping its complement (what the oracle spells), without
    # materializing a stripped copy of every document — measured ~2x
    # faster warm (0.41-0.52 -> 0.21-0.30 s at sf0.1), values identical.
    n_punct = F.regexp_count(F.col("text"), F.lit(r"[.!?,;:]"))
    n_digit = F.regexp_count(F.col("text"), F.lit(r"[0-9]"))
    n_space = F.regexp_count(F.col("text"), F.lit(r" "))
    return (
        docs.select(
            "doc_id",
            _r(n_punct / n_chars).alias("punct_ratio"),
            _r(n_digit / n_chars).alias("digit_ratio"),
            _r(n_space / n_chars).alias("space_ratio"),
        )
    )  # (no trailing sort — order-insensitive compare; see tpch_q1 note)


def q_lang_distribution(spark, sf):
    docs = load_table(spark, sf, "documents")
    return docs.groupBy("lang").agg(F.count("*").alias("n")).orderBy("lang")


def q_similarity_topk(spark, sf):
    """Brute-force cosine top-3 neighbours for the first 5 vectors (ANN
    baseline; LSH-bucketed variant is the scale path in operators/similarity)."""
    from gujarati_readability_pagewise_spark.operators.similarity import (
        brute_force_topk,
    )

    emb = load_table(spark, sf, "embeddings")
    return brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=3).select(
        "q_id", "c_id", _r(F.col("cos_sim")).alias("cos_sim"), "rk"
    )  # (no trailing sort — order-insensitive compare; see tpch_q1 note)


def q_w3_topk_indices(spark, sf):
    """Top-20 dimensions of vector 0 by absolute value (posexplode)."""
    emb = load_table(spark, sf, "embeddings").filter(F.col("vec_id") == 0)
    return (
        emb.select(F.posexplode("embedding").alias("dim", "val"))
        .select("dim", _r(F.col("val").cast("double"), 6).alias("val"))
        .orderBy(F.desc(F.abs(F.col("val"))), F.asc("dim"))
        .limit(20)
    )


def q_a9_group_first(spark, sf):
    """count + deterministic first (min_by) per group — A9 books summary."""
    docs = load_table(spark, sf, "documents")
    return (
        docs.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.min_by("text", "doc_id").alias("first_text"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .orderBy("source")
    )


def q_a10_json_param_mean(spark, sf):
    """A10 mean-per-parameter + F5 JSON parse: props['k'] avg by event_type."""
    ev = load_table(spark, sf, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("double")
    return (
        ev.groupBy("event_type")
        .agg(_r(F.avg(k)).alias("avg_k"), F.count("*").alias("n"))
        .orderBy("event_type")
    )


def q_f5_json_fence_strip(spark, sf):
    """F5: markdown-fenced JSON → strip fence → parse field (DQA parser)."""
    part = load_table(spark, sf, "part")
    fenced = F.concat(
        F.lit('```json\n{"rating": "'),
        F.col("p_size").cast("string"),
        F.lit('/5 (Good)", "brand": "'),
        F.col("p_brand"),
        F.lit('"}\n```'),
    )
    stripped = F.regexp_replace(F.regexp_replace(fenced, r"^```json\s*", ""), r"\s*```$", "")
    return (
        part.select(
            "p_partkey",
            F.get_json_object(stripped, "$.brand").alias("brand"),
            F.regexp_extract(
                F.get_json_object(stripped, "$.rating"), r"(\d+(?:\.\d+)?)/5", 1
            )
            .cast("double")
            .alias("rating"),
        )
        .orderBy("p_partkey")
    )


def q_p7_extension_filter(spark, sf):
    """P7: suffix-set predicate over derived filenames."""
    docs = load_table(spark, sf, "documents")
    ext = (
        F.when(F.pmod(F.col("doc_id"), F.lit(4)) == 0, "png")
        .when(F.pmod(F.col("doc_id"), F.lit(4)) == 1, "jpg")
        .when(F.pmod(F.col("doc_id"), F.lit(4)) == 2, "txt")
        .otherwise("pdf")
    )
    fname = F.concat(F.lit("doc_"), F.col("doc_id").cast("string"), F.lit("."), ext)
    return (
        docs.select("doc_id", fname.alias("fname"))
        .filter(F.lower(F.substring_index(F.col("fname"), ".", -1)).isin("png", "jpg"))
        .orderBy("doc_id")
    )


def q_u3_union_distinct(spark, sf):
    r = load_table(spark, sf, "region").select(F.col("r_name").alias("name"))
    n = load_table(spark, sf, "nation").select(F.col("n_name").alias("name"))
    return r.unionByName(n).distinct().orderBy("name")


def q_o2_sort_by_agg(spark, sf):
    li = load_table(spark, sf, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(_r(F.sum("l_quantity"), 2).alias("total_qty"))
        .orderBy(F.desc("total_qty"), F.asc("l_suppkey"))
        .limit(20)
    )


def q_rollup_counts(spark, sf):
    li = load_table(spark, sf, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


def q_f1_slug_cascade(spark, sf):
    """F1 book-name cascade analogue: multi-rule slug normalization.

    Mirrors generate_image_book_mapping.py:16-107's rule ladder: strip a
    leading timestamp token, strip trailing page/part markers, collapse
    separators — as nested built-in regexes, never a UDF."""
    docs = load_table(spark, sf, "documents")
    raw = F.concat(
        F.lit("20240301120000_"),
        F.col("source"),
        F.lit("_vol_"),
        F.pmod(F.col("doc_id"), F.lit(3)).cast("string"),
        F.when(F.pmod(F.col("doc_id"), F.lit(2)) == 0, "_p1").otherwise("_p2"),
    )
    s1 = F.regexp_replace(raw, r"^\d{14}_", "")       # rule: timestamp prefix
    s2 = F.regexp_replace(s1, r"_p[12]$", "")          # rule: _p1/_p2 suffix
    s3 = F.regexp_replace(s2, r"_\d+$", "")            # rule: trailing number
    s4 = F.regexp_replace(s3, r"_+", " ")              # rule: underscores→spaces
    return docs.select("doc_id", F.trim(s4).alias("slug")).orderBy("doc_id")


def q_f3_ts_format(spark, sf):
    """F3: the reference's strftime('%Y%m%d_%H%M%S') run-stamp format."""
    ords = load_table(spark, sf, "orders").filter(F.col("o_orderkey") < 200)
    return ords.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyyMMdd_HHmmss").alias("stamp"),
        F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss").alias("iso"),
    ).orderBy("o_orderkey")


def q_a5b_auc(spark, sf):
    """Rank-based ROC AUC (Mann-Whitney U) as one window + one aggregate —
    the distributed form of the reference's roc_auc_score (A5/W4)."""
    from gujarati_readability_pagewise_spark.operators.aggregate import (
        distributed_rank,
    )

    ev = load_table(spark, sf, "events")
    d = ev.select(
        F.when(F.pmod(F.col("user_id"), F.lit(3)) == 0, 1).otherwise(0).alias("pos"),
        F.col("value").alias("score"),
        F.col("event_id"),
    )
    # scalable rank (range-bucketed windows), NOT a single-partition window;
    # the DuckDB oracle's global row_number() validates its exactness
    ranked = distributed_rank(d, "score", "event_id")
    agg = ranked.agg(
        F.sum(F.when(F.col("pos") == 1, F.col("rk")).otherwise(0)).alias("rank_sum"),
        F.sum("pos").alias("n_pos"),
        F.sum(F.lit(1) - F.col("pos")).alias("n_neg"),
    )
    return agg.select(
        _r(
            (
                F.col("rank_sum") - F.col("n_pos") * (F.col("n_pos") + 1) / 2
            )
            / (F.col("n_pos") * F.col("n_neg")),
            6,
        ).alias("auc"),
        "n_pos",
        "n_neg",
    )


def q_e3_standardize(spark, sf):
    """E3 StandardScaler semantics: (x − μ)/σ_samp, computed distributively."""
    cust = load_table(spark, sf, "customer")
    stats = cust.agg(
        F.avg("c_acctbal").alias("mu"), F.stddev_samp("c_acctbal").alias("sd")
    )
    return (
        cust.crossJoin(F.broadcast(stats))
        .select(
            "c_custkey",
            # + 0.0 canonicalizes IEEE −0.0 (round of a tiny negative) to 0.0
            (_r((F.col("c_acctbal") - F.col("mu")) / F.col("sd")) + F.lit(0.0)).alias(
                "acctbal_std"
            ),
        )
        .orderBy("c_custkey")
    )


# -- dedup / similarity / text-analysis suite -------------------------------

def q_dedup_minhash_lsh(spark, sf):
    """MinHash(16)+LSH(4 bands) candidate pairs over char-5-shingles."""
    from gujarati_readability_pagewise_spark.operators.dedup import (
        near_dup_candidates,
    )

    # no global orderBy: driver compare is order-insensitive; a range sort
    # re-executes the expensive child for bound sampling
    return near_dup_candidates(load_table(spark, sf, "documents"))


def q_recrawl_diff(spark, sf):
    """Re-crawl change detection: per url, compare each fetch's content
    fingerprint to the previous fetch (lag window), then count changed /
    unchanged per host — the incremental-crawl shape at 10^12 rows."""
    docs = load_table(spark, sf, "documents").filter(F.col("doc_id") < 300)
    fetches = docs.withColumn("fetch", F.explode(F.array(F.lit(0), F.lit(1))))
    # deterministic synthetic drift: every 3rd doc changes on re-fetch
    text2 = F.when(
        (F.col("fetch") == 1) & (F.col("doc_id") % 3 == 0),
        F.concat(F.col("text"), F.lit(" [updated]")),
    ).otherwise(F.col("text"))
    fp = F.md5(text2)
    w = W.partitionBy("doc_id").orderBy("fetch")
    diffed = (
        fetches.select("doc_id", "source", "fetch", fp.alias("fp"))
        .withColumn("prev_fp", F.lag("fp").over(w))
        .filter(F.col("fetch") == 1)
        .withColumn("changed", (F.col("fp") != F.col("prev_fp")).cast("int"))
    )
    return (
        diffed.groupBy("source")
        .agg(
            F.sum("changed").alias("n_changed"),
            F.sum(1 - F.col("changed")).alias("n_unchanged"),
        )
        .orderBy("source")
    )


def q_url_canonicalize(spark, sf):
    """URL canonicalization over synthetically-noised urls: mixed-case host,
    tracking params, unsorted params, fragments — all normalized away so
    re-crawled spellings collapse to one dedup key."""
    from gujarati_readability_pagewise_spark.functions.urlnorm import (
        canonicalize_url,
    )

    docs = load_table(spark, sf, "documents").filter(F.col("doc_id") < 400)
    noisy = docs.select(
        "doc_id",
        F.concat(
            F.lit("HTTPS://WWW."),
            F.upper(F.col("source")),
            F.lit(".Example.COM/Doc/"),
            F.col("doc_id").cast("string"),
            F.lit("?utm_source=feed&b=2&a=1&ref=tw&gclid=xyz#frag"),
        ).alias("url"),
    )
    return noisy.select(
        "doc_id", canonicalize_url(F.col("url")).alias("canon_url")
    ).orderBy("doc_id")


def q_dedup_components(spark, sf):
    """Near-dup CLUSTERS: connected components over the MinHash-LSH pairs
    (pairs → canonical cluster id = min doc_id reachable).  Iterative
    min-label propagation; oracle is a DuckDB recursive CTE."""
    from gujarati_readability_pagewise_spark.operators.components import (
        connected_components,
    )
    from gujarati_readability_pagewise_spark.operators.dedup import (
        near_dup_candidates,
    )

    # no global orderBy: driver compare is order-insensitive; a range sort
    # re-executes the expensive child for bound sampling
    return connected_components(near_dup_candidates(load_table(spark, sf, "documents")))


def q_dedup_ngram_jaccard(spark, sf):
    """Top-10 most-similar doc pairs by exact char-5-gram Jaccard (subset)."""
    from gujarati_readability_pagewise_spark.operators.dedup import (
        char_shingles,
        jaccard_pairs,
    )

    docs = load_table(spark, sf, "documents").filter(F.col("doc_id") < 100)
    sh = char_shingles(docs, "text", "doc_id", k=5)
    return (
        jaccard_pairs(sh, "doc_id")
        .select("a", "b", "n_common", _r(F.col("jaccard")).alias("jaccard"))
        .orderBy(F.desc("jaccard"), F.asc("a"), F.asc("b"))
        .limit(10)
    )


def q_dedup_simhash(spark, sf):
    """16-bit SimHash fingerprint per document (subset for oracle speed)."""
    from gujarati_readability_pagewise_spark.operators.dedup import simhash

    docs = load_table(spark, sf, "documents").filter(F.col("doc_id") < 200)
    return simhash(docs, "text", "doc_id", bits=16).orderBy("doc_id")


def q_dedup_simhash_pairs(spark, sf):
    """Near-dup pairs via banded SimHash blocking (4 bands × 4 bits) +
    exact Hamming verify (bit_count(xor) ≤ 3).

    Pigeonhole: any pair within Hamming distance 3 of a 16-bit fingerprint
    shares ≥1 of 4 bands, so candidates come from an equi-join on
    (band, band_val) — never an all-pairs scan — with perfect recall at
    the ≤3-bit radius, identical fingerprints (distance 0) included."""
    from gujarati_readability_pagewise_spark.operators.dedup import (
        simhash,
        simhash_near_pairs,
    )

    docs = load_table(spark, sf, "documents").filter(F.col("doc_id") < 200)
    fp = simhash(docs, "text", "doc_id", bits=16)
    # no global orderBy: driver compare is order-insensitive; a range sort
    # re-executes the expensive child for bound sampling
    return simhash_near_pairs(fp, "doc_id", bits=16, bands=4)


def q_dedup_verified_pairs(spark, sf):
    """Full near-dup pipeline: MinHash-LSH candidates → exact-Jaccard verify.

    The LSH stage prunes the quadratic pair space BELOW the pair
    aggregation: `jaccard_on_candidates_arrays` semi-joins the docs to the
    candidate doc-id set before re-exploding them, builds one shingle set
    per candidate doc, and intersects sets per candidate pair,
    so only candidates pay the exact shingle-set comparison — the shape
    that stays near-linear at 10^12 docs."""
    from gujarati_readability_pagewise_spark.operators.dedup import near_dup_pairs

    verified = near_dup_pairs(load_table(spark, sf, "documents"), min_jaccard=0.5)
    # no global orderBy: the driver's compare is order-insensitive and a
    # range sort re-executes the whole verify pipeline for bound sampling
    # (measured 5x the query cost) while adding nothing semantically
    return verified.select("a", "b", "n_common", _r(F.col("jaccard")).alias("jaccard"))


def q_dedup_verified_components(spark, sf):
    """Near-dup CLUSTERS over VERIFIED edges: connected components on the
    exact-Jaccard(≥0.5)-verified pair set instead of raw LSH candidates —
    one LSH false positive would otherwise glue two unrelated clusters
    together forever.  The full production dedup shape: LSH prune →
    pair-driven exact verify → min-label clustering, every stage below the
    quadratic cliff.

    Oracle-size note: the SPARK plan scales (pair-driven verify +
    iterative min-label, verified at sf0.1 by dedup_verified_pairs /
    dedup_components passing there); the DUCKDB re-derivation is
    deliberately naive (co-shingle self-join + recursive-CTE closure) and
    is gate-sized — at sf0.1 its own spill exceeds sandbox disk.  The
    driver gate runs at sf0.01, where this row is green."""
    from gujarati_readability_pagewise_spark.operators.components import (
        connected_components,
    )
    from gujarati_readability_pagewise_spark.operators.dedup import near_dup_pairs

    docs = load_table(spark, sf, "documents")
    return connected_components(near_dup_pairs(docs, min_jaccard=0.5).select("a", "b"))


def q_dedup_embedding(spark, sf):
    """Embedding-cosine near-dup pairs (dedup family, ANN-verified shape).

    Brute force over a bounded slice with a high threshold; at crawl scale
    the candidate set comes from operators/similarity.lsh_topk instead of
    the cross join — the verify step (this expression) is identical."""
    from gujarati_readability_pagewise_spark.operators.similarity import cosine

    emb = load_table(spark, sf, "embeddings").filter(F.col("vec_id") < 300)
    a = emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("eb"))
    return (
        a.crossJoin(b)
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", cosine(F.col("ea"), F.col("eb")).alias("cos"))
        .filter(F.col("cos") > 0.38)
        .select("a", "b", _r(F.col("cos")).alias("cos_sim"))
        .orderBy("a", "b")
    )


def q_text_lang_id(spark, sf):
    docs = load_table(spark, sf, "documents")
    return (
        docs.select(lang_id_expr(F.col("text")).alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count("*").alias("n"))
        .orderBy("lang_pred")
    )


def q_text_quality_score(spark, sf):
    docs = load_table(spark, sf, "documents")
    return docs.select(
        "doc_id", _r(quality_score_expr(F.col("text"))).alias("qscore")
    ).orderBy("doc_id")


def q_text_fingerprint(spark, sf):
    from gujarati_readability_pagewise_spark.functions.textstats import (
        fingerprint_expr,
    )

    docs = load_table(spark, sf, "documents")
    return docs.select("doc_id", fingerprint_expr(F.col("text")).alias("fp")).orderBy(
        "doc_id"
    )


def q_text_top_bigrams(spark, sf):
    """Vocabulary building: corpus-wide top-25 token bigrams.

    The shape every tokenizer-training pipeline runs at 100 TB: narrow
    map (split+pair, no UDF) → explode → partial-agg count → top-k.  Ties
    broken lexically for determinism.
    """
    docs = load_table(spark, sf, "documents")
    toks = docs.select(
        F.split(F.trim(F.col("text")), r"\s+").alias("arr")
    ).filter(F.size("arr") >= 2)
    bigrams = toks.select(
        F.explode(
            F.expr("transform(sequence(0, size(arr)-2), i -> concat(arr[i], ' ', arr[i+1]))")
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(25)
    )


def q_text_length_histogram(spark, sf):
    """Corpus length profile: 500-char buckets with counts + mass share."""
    docs = load_table(spark, sf, "documents")
    b = F.floor(F.col("n_chars") / F.lit(500.0)).cast("int").alias("bucket")
    return (
        docs.groupBy(b)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("n_chars").cast("bigint")).alias("total_chars"),
        )
        .orderBy("bucket")
    )


def q_similarity_lsh_topk(spark, sf):
    """Hyperplane-LSH approximate top-3 (rows-only; recall vs brute force
    is pinned in tests/test_dedup_similarity.py and oracle-checked by
    similarity_lsh_recall).  dim is passed explicitly — no driver-side
    .first() probe in the operator's hot path."""
    from gujarati_readability_pagewise_spark.operators.similarity import lsh_topk

    emb = load_table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    return (
        lsh_topk(emb, q, k=3, n_planes=4, dim=64)
        .select("q_id", "c_id", _r(F.col("cos_sim")).alias("cos_sim"), "rk")
        .orderBy("q_id", "rk")
    )


def q_similarity_lsh_recall(spark, sf):
    """Per-query recall@3 of multi-probe hyperplane LSH (4 planes, probe
    radius 2) vs exact brute force — the LSH recall guarantee as an
    oracle-checked contract row.  Both sides are fully deterministic: the
    hyperplanes are md5-parity constants (operators/similarity.plane_signs),
    inlined into the DuckDB oracle as literals, which re-derives the
    signatures, the probe Hamming ball, the exact re-rank, and the recall."""
    from gujarati_readability_pagewise_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
    )

    emb = load_table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    lsh = lsh_topk(emb, q, k=3, n_planes=4, dim=64, probe_radius=2).select(
        "q_id", "c_id"
    )
    bf = brute_force_topk(emb, q, k=3, dim=64).select("q_id", "c_id")
    hits = lsh.join(bf, ["q_id", "c_id"]).groupBy("q_id").agg(
        F.count("*").alias("n_hit")
    )
    return (
        q.select(F.col("vec_id").alias("q_id"))
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
        )
        .withColumn("recall_at_3", F.col("n_hit") / F.lit(3.0))
        .orderBy("q_id")
    )


# -- pipeline operators (Python kernels — rows-only checks) -----------------

def q_asof_join(spark, sf):
    """Backward as-of join (events ⟕ latest order at-or-before event ts) —
    custom operator Spark lacks, composed as union + window fill; oracle is
    DuckDB's native ASOF LEFT JOIN."""
    from gujarati_readability_pagewise_spark.operators.asof import (
        asof_join,
        dedupe_latest,
    )

    ev = load_table(spark, sf, "events").filter(F.col("user_id") < 40)
    orders = dedupe_latest(
        load_table(spark, sf, "orders"), "o_custkey", "o_orderdate", "o_orderkey"
    ).withColumnRenamed("o_custkey", "user_id")
    return (
        asof_join(ev, orders, "user_id", "ts", "o_orderdate", ["o_orderkey"])
        .select("event_id", "user_id", "matched_ts", "o_orderkey")
        .orderBy("event_id")
    )


def q_layout_spans(spark, sf):
    """Payload-kind dispatch + ordered-span parse (north_star PDF/layout
    clause) over a MIXED corpus: every 3rd doc ships as a raw text payload
    (magic-byte dispatch → blank-line paragraph spans), the rest as HTML
    (dispatch → golden extraction spans).  Oracle-checked: DuckDB
    re-derives the kind from doc_id and the span count per branch —
    non-empty paragraphs for text, Boilerpipe-kept paragraphs for HTML."""
    from gujarati_readability_pagewise_spark.functions.layout import (
        with_layout_spans,
    )
    from gujarati_readability_pagewise_spark.sources.catalog import _POST, _PRE

    docs = load_table(spark, sf, "documents")
    body = F.regexp_replace(F.col("text"), r"\. ", ".</p><p>")
    html_payload = F.encode(F.concat(F.lit(_PRE), body, F.lit(_POST)), "utf-8")
    text_payload = F.encode(
        F.regexp_replace(F.col("text"), r"\. ", ".\n\n"), "utf-8"
    )
    pages = docs.select(
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.com/doc/"),
            F.col("doc_id").cast("string"),
            F.lit("-r0.html"),
        ).alias("url"),
        F.when(F.col("doc_id") % 3 == 0, text_payload)
        .otherwise(html_payload)
        .alias("html"),
    )
    # no global orderBy: driver compare is order-insensitive; a range sort
    # re-executes the expensive child for bound sampling
    return with_layout_spans(pages).select("url", "kind", "n_spans")


def q_similarity_ivf_topk(spark, sf):
    """IVF (inverted-file) ANN top-k — the FAISS-style scale path — now
    FULLY oracle-checked: the coarse quantizer is a deterministic
    fixed-point integer Lloyd k-means (operators/similarity.
    ivf_train_fixedpoint), so DuckDB re-derives the ENTIRE path bit-for-bit
    — 3 unrolled training iterations (integer distances, integer-mean
    updates, (d2, cell) tie-breaks), corpus assignment, 2-cell probe, and
    the exact cosine re-rank (float-multiply/double-accumulate parity).
    Full-probe ≡ brute force is pytest-covered."""
    from gujarati_readability_pagewise_spark.operators.similarity import (
        ivf_topk_deterministic,
    )

    emb = load_table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    return ivf_topk_deterministic(
        emb, q, k=3, n_cells=8, n_probe=2, n_iter=3, dim=64
    ).select("q_id", "c_id", _r(F.col("cos_sim")).alias("cos_sim"), "rk")


def q_streaming_windowed_counts(spark, sf):
    """Structured Streaming surface: watermarked windowed per-host arrival
    counts over a bounded crawl-feed stream (memory sink, drained with
    processAllAvailable).  Oracle-checked as STREAM ≡ BATCH equivalence:
    the DuckDB oracle computes the same tumbling-window aggregation
    directly from the documents table (window start = epoch-floored
    warc_ts, payload bytes re-derived from the page template), so the
    incremental micro-batch execution must converge to exactly the batch
    answer."""
    from gujarati_readability_pagewise_spark.streaming.ingest import (
        stream_pages,
        windowed_host_counts,
    )

    src, _ = _stream_scratch(spark, "graft_stream_win")
    pages_from_documents(spark, sf).write.mode("overwrite").parquet(src)
    counts = windowed_host_counts(stream_pages(spark, src), window="30 minutes")
    sq = (
        counts.writeStream.format("memory")
        .queryName("graft_stream_win")
        .outputMode("complete")
        .start()
    )
    sq.processAllAvailable()
    sq.stop()
    return (
        spark.table("graft_stream_win")
        .select(
            F.col("win.start").alias("win_start"),
            "host",
            "n_pages",
            "n_bytes",
        )
        .orderBy("win_start", "host")
    )


def q_sequence_chunks(spark, sf):
    """Training-sequence prep: every doc's token stream chunked into fixed
    64-token windows — (doc_id, chunk_idx, n_tokens, chunk_md5), all
    expression-level (split + explode + slice), the shape a tokenize-and-
    pack stage feeds to a trainer.  The md5 of each chunk's text makes the
    oracle verify CONTENT, not just counts."""
    docs = load_table(spark, sf, "documents")
    d = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks")
    )
    return (
        d.select(
            "doc_id",
            "toks",
            F.explode(
                F.sequence(
                    F.lit(0), F.expr("(size(toks) + 63) div 64").cast("int") - 1
                )
            ).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.least(F.lit(64), F.size("toks") - F.col("chunk_idx") * 64)
            .cast("int")
            .alias("n_tokens"),
            F.md5(
                F.concat_ws(
                    " ", F.slice(F.col("toks"), F.col("chunk_idx") * 64 + 1, F.lit(64))
                )
            ).alias("chunk_md5"),
        )
    )


def q_decontaminate(spark, sf):
    """Benchmark decontamination (the GPT-3/Pile n-gram step): flag corpus
    docs sharing ≥3 word-8-grams with any eval-set doc.  The synthetic
    benchmark is every 10th doc verbatim (a planted leak), so each must
    flag itself; the pair join is driven by the (small, broadcast) eval
    shingle set — never corpus × corpus."""
    from gujarati_readability_pagewise_spark.operators.decontaminate import (
        contaminated_pairs,
        word_ngrams,
    )

    docs = load_table(spark, sf, "documents")
    eval_set = docs.filter(F.col("doc_id") % 10 == 0)
    return contaminated_pairs(
        word_ngrams(docs, n=8),
        word_ngrams(eval_set, n=8),
        min_common=3,
    ).select("corpus_id", "eval_id", "n_common")


def q_host_quota_sample(spark, sf):
    """Per-host quota sampling (Common-Crawl politeness/domain-balance
    cap): keep at most 15 docs per source, chosen by a cross-engine stable
    hash order — deterministic under task retry, so DuckDB re-derives the
    exact same sample (never rand())."""
    from gujarati_readability_pagewise_spark.operators.sampling import (
        host_quota_sample,
    )

    docs = load_table(spark, sf, "documents")
    return (
        host_quota_sample(docs, host_col="source", key_col="doc_id", k=15)
        .select("source", "doc_id", "quota_rank")
        .orderBy("source", "quota_rank")
    )


def q_corpus_curation(spark, sf):
    """The canonical C4/Gopher-style training-corpus curation pipeline in
    ONE declarative pass: language-ID filter → quality threshold → length
    band → exact dedup (lowest doc_id per content digest) → per-source
    survival stats.  Every stage is an expression the optimizer can fuse;
    the aggregate uses the fixed-point (×10⁴) average so the float math is
    engine-exact (see memory rule: never round a raw float sum)."""
    docs = load_table(spark, sf, "documents")

    scored = docs.select(
        "doc_id",
        "source",
        "text",
        lang_id_expr(F.col("text")).alias("lang_pred"),
        quality_score_expr(F.col("text")).alias("q"),
        F.length("text").alias("n_chars"),
    )
    kept = scored.filter(
        F.col("lang_pred").isin(*CURATION_LANGS)
        & (F.col("q") >= MIN_QUALITY)
        & (F.col("n_chars") >= LENGTH_BAND[0])
        & (F.col("n_chars") <= LENGTH_BAND[1])
    )
    w = W.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
    deduped = (
        kept.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("source", F.floor(F.col("q") * 10000).cast("long").alias("q_fp"))
    )
    totals = scored.groupBy("source").agg(F.count("*").alias("n_docs"))
    return (
        deduped.groupBy("source")
        .agg(
            F.count("*").alias("n_kept"),
            (F.floor(F.sum("q_fp").cast("double") / F.count("*")) / 10000.0).alias(
                "avg_q"
            ),
        )
        .join(totals, "source", "right")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            (F.coalesce("n_kept", F.lit(0)) / F.col("n_docs").cast("double")).alias(
                "kept_ratio"
            ),
            F.coalesce("avg_q", F.lit(0.0)).alias("avg_q"),
        )
    )


def q_curation_funnel(spark, sf):
    """Per-source ATTRITION FUNNEL over the full curation rule chain —
    the observability artifact a production corpus pipeline publishes
    ("how many docs did each rule remove"): cumulative survivors after
    language-ID → quality threshold → length band → Gopher repetition
    rules → exact dedup (winner per content digest among docs passing all
    prior stages).  One pass over the scored table with conditional sums;
    the dedup stage is the only window.  Every count is exact-integer; the
    oracle re-derives the whole chain including the repetition signals."""
    from gujarati_readability_pagewise_spark.functions.repetition import (
        repetition_signals,
    )

    docs = load_table(spark, sf, "documents")
    rep = repetition_signals(
        docs, n_partitions=spark.sparkContext.defaultParallelism
    ).select("doc_id", F.col("keep").alias("rep_keep"))
    scored = (
        docs.select(
            "doc_id",
            "source",
            "text",
            lang_id_expr(F.col("text")).alias("lang_pred"),
            quality_score_expr(F.col("text")).alias("q"),
            F.length("text").alias("n_chars"),
        )
        .join(rep, "doc_id", "left")
        .withColumn("f_lang", F.col("lang_pred").isin(*CURATION_LANGS))
        .withColumn("f_q", F.col("f_lang") & (F.col("q") >= MIN_QUALITY))
        .withColumn(
            "f_len",
            F.col("f_q")
            & (F.col("n_chars") >= LENGTH_BAND[0])
            & (F.col("n_chars") <= LENGTH_BAND[1]),
        )
        .withColumn("f_rep", F.col("f_len") & F.coalesce("rep_keep", F.lit(False)))
    )
    w = W.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
    final = (
        scored.filter("f_rep")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .groupBy("source")
        .agg(F.count("*").alias("n_final"))
    )
    cnt = lambda c: F.sum(F.col(c).cast("long")).alias("n_" + c[2:])
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            cnt("f_lang"),
            cnt("f_q"),
            cnt("f_len"),
            cnt("f_rep"),
        )
        .join(final, "source", "left")
        .select(
            "source",
            "n_docs",
            "n_lang",
            "n_q",
            "n_len",
            "n_rep",
            F.coalesce("n_final", F.lit(0)).alias("n_final"),
        )
    )


def _synthetic_edges(spark, sf):
    """Deterministic 3-out-degree link graph over the documents' doc_id
    space: dst = (src·k + c) mod N for three (k, c) pairs.  Same formula
    in the oracle — doc_ids are contiguous 0..N-1 in the testdata."""
    docs = load_table(spark, sf, "documents")
    n = docs.count()
    nodes = docs.select(F.col("doc_id").alias("node"))
    edges = docs.select(F.col("doc_id").alias("src")).select(
        "src",
        F.explode(
            F.array(
                (F.col("src") * 7 + 13) % n,
                (F.col("src") * 31 + 7) % n,
                (F.col("src") * 13 + 101) % n,
            )
        ).alias("dst"),
    )
    return nodes, edges


def q_graph_pagerank(spark, sf):
    """Link-graph PageRank (5 integer fixed-point power iterations,
    damping 17/20) — the crawl-scheduling authority signal.  Exact:
    every operation is BIGINT floor arithmetic, so the iterative Spark
    plan hash-matches the DuckDB oracle's unrolled-CTE iterations
    bit-for-bit (float PageRank could never be hash-checked — summation
    order moves ulps every iteration)."""
    from gujarati_readability_pagewise_spark.operators.graph import (
        pagerank_fixedpoint,
    )

    nodes, edges = _synthetic_edges(spark, sf)
    # no global orderBy: driver compare is order-insensitive; a range sort
    # re-executes the expensive child for bound sampling
    return pagerank_fixedpoint(edges, nodes, n_iter=5)


def q_graph_degrees(spark, sf):
    """In/out degree per node over the synthetic link graph."""
    from gujarati_readability_pagewise_spark.operators.graph import degrees

    _, edges = _synthetic_edges(spark, sf)
    return degrees(edges).orderBy("node")


def q_multimodal_features(spark, sf):
    """Multimodal column plumbing under the gate: opaque binary payloads +
    typed metadata through the mapInPandas batch featurizer (the decode
    step is stubbed per container limits; the deterministic md5-seeded
    fake features ARE oracle-checkable — DuckDB re-derives each of the 16
    dims as digest-byte/255.0 alongside the metadata struct fields)."""
    from gujarati_readability_pagewise_spark.functions.multimodal import (
        FEATURE_DIM,
        media_from_documents,
        with_media_features,
    )

    media = media_from_documents(spark, sf)
    feats = with_media_features(media)
    return feats.select(
        "media_id",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.n_bytes").alias("n_bytes"),
        "decode_status",
        *[F.col("features")[i].alias(f"f{i}") for i in range(FEATURE_DIM)],
    )


def q_streaming_dedup_urls(spark, sf):
    """Streaming re-crawl dedup (§2.10): watermark + dropDuplicates(url)
    over a bounded feed where every url arrives twice (two fetches 1s
    apart).  Oracle-checked as stream ≡ batch: the output must contain
    exactly ONE row per distinct url — DuckDB derives the expected url set
    directly from documents.  The horizon is set far beyond the feed's
    time span so state is never evicted mid-run (a re-crawl pair split
    across micro-batches must still dedup deterministically)."""
    from gujarati_readability_pagewise_spark.streaming.ingest import (
        dedup_recrawls,
        stream_pages,
    )

    src, _ = _stream_scratch(spark, "graft_stream_dedup")
    docs = load_table(spark, sf, "documents")
    pages = docs.withColumn(
        "fetch", F.explode(F.array(F.lit(0), F.lit(1)))
    ).select(
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.com/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.timestamp_seconds(
            F.lit(1704067200) + F.col("doc_id") * 60 + F.col("fetch")
        ).alias("warc_ts"),
        F.encode(F.col("text"), "utf-8").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.col("lang"),
    )
    pages.write.mode("overwrite").parquet(src)
    deduped = dedup_recrawls(stream_pages(spark, src), horizon="100000 hours")
    sq = (
        deduped.writeStream.format("memory")
        .queryName("graft_stream_dedup")
        .outputMode("append")
        .start()
    )
    sq.processAllAvailable()
    sq.stop()
    return (
        spark.table("graft_stream_dedup")
        .groupBy("url")
        .agg(F.count("*").alias("n"))
        .orderBy("url")
    )


def q_pipeline_extract(spark, sf):
    """The flagship extraction kernel (mapInArrow golden extractor),
    oracle-checked to BYTE IDENTITY per url: the DuckDB oracle re-derives
    the extracted text independently in pure SQL — paragraph split at the
    generator's sentence boundaries, Boilerpipe word-count classification
    (keep ≥8 words; rescue 3–7-word blocks adjacent to first-pass keeps),
    '\\n\\n' join, and the boilerplate nav/footer provably dropped — and
    compares md5(text).  north_rule's byte-identical-per-url invariant as
    a hard gate row, not just a pytest."""
    from gujarati_readability_pagewise_spark.operators.udfs import with_extraction

    pages = pages_from_documents(spark, sf)
    ext = with_extraction(pages)
    # no global orderBy: driver compare is order-insensitive; a range sort
    # re-executes the expensive child for bound sampling
    return ext.select(
        "url",
        "extract_status",
        F.length("text").alias("n_text_chars"),
        F.md5("text").alias("text_md5"),
    )


def q_pipeline_features(spark, sf):
    """The 12-dim readability feature kernel (numpy inside the same Arrow
    batch as extraction), oracle-checked FEATURE-BY-FEATURE to bit
    identity per url: the DuckDB oracle re-derives the extracted text
    (pipeline_extract's CTE) and every feature as integer-count ratios —
    regex class counts, token/type counts, akshara grammar matches,
    stopword membership — where float division of identical integers is
    exact across engines.  Together with pipeline_extract this puts the
    whole north-rule kernel (bytes → text → features) under the hard
    correctness gate."""
    from gujarati_readability_pagewise_spark.functions.features import FEATURE_NAMES
    from gujarati_readability_pagewise_spark.operators.udfs import with_extraction

    pages = pages_from_documents(spark, sf)
    ext = with_extraction(pages, include_spans=False)
    cols = [F.col("features")[i].alias(name) for i, name in enumerate(FEATURE_NAMES)]
    # no global orderBy: driver compare is order-insensitive; a range sort
    # re-executes the expensive child for bound sampling
    return ext.select("url", *cols)


def q_pipeline_score_summary(spark, sf):
    """Broadcast-RF scoring under the FULL oracle (formerly rows-only): the
    DuckDB oracle re-derives the extracted text and the 12 features
    (pipeline_features CTEs), then evaluates the seed-pinned forest's
    decision paths exported as nested CASE expressions (ml/rf.
    forest_to_sql — left-associative tree sum, bit-identical to numpy's
    ``p0 += tree`` loop; verified on the full training matrix).  The
    per-host rollup uses fixed-point integers (p_fp = floor(p·10⁶)) so
    sums/avgs are order-insensitive exact arithmetic — the float avg/std
    form of host_summary stays in operators/aggregate for the report surface.
    host_prediction is the book-decision rule (mean non-readable > 0.5 →
    flagged 0) as an integer cross-multiplication."""
    from gujarati_readability_pagewise_spark.ml.train import default_model
    from gujarati_readability_pagewise_spark.operators.split import host_of
    from gujarati_readability_pagewise_spark.operators.udfs import (
        with_extraction_and_score,
    )

    pages = pages_from_documents(spark, sf)
    scored = with_extraction_and_score(pages, default_model())
    p_fp = F.floor(F.col("p_nonreadable") * 1000000).cast("long")
    return (
        scored.select(
            host_of(F.col("url")).alias("host"),
            p_fp.alias("p_fp"),
            F.col("pred_label").cast("long").alias("pred_label"),
        )
        .groupBy("host")
        .agg(
            F.count("*").alias("total_pages"),
            F.sum("p_fp").alias("sum_p_fp"),
            F.min("p_fp").alias("min_p_fp"),
            F.max("p_fp").alias("max_p_fp"),
            F.sum("pred_label").alias("n_pred_readable"),
        )
        .select(
            "host",
            "total_pages",
            F.expr("sum_p_fp div total_pages").alias("avg_p_fp"),
            "min_p_fp",
            "max_p_fp",
            "n_pred_readable",
            F.when(
                F.col("sum_p_fp") * 2 > F.lit(1000000) * F.col("total_pages"), 0
            )
            .otherwise(1)
            .alias("host_prediction"),
        )
    )


def q_report_roc_points(spark, sf):
    """Plot-data sink (K5 data half): the points behind roc_curve.png
    (reference train_pagewise_xgboost.py:388-405) — per distinct score
    threshold, cumulative TP/FP and tpr/fpr with pos_label=0 semantics.
    Labels/scores derive deterministically from events (a5b_auc's mapping)
    so DuckDB can verify the cumulative-rate math."""
    from gujarati_readability_pagewise_spark.plans.reports import roc_points

    ev = load_table(spark, sf, "events")
    scored = ev.select(
        F.when(F.pmod(F.col("user_id"), F.lit(3)) == 0, 0).otherwise(1).alias("label"),
        F.col("value").alias("p"),
    )
    return roc_points(scored, "label", "p", pos_label=0)


def q_report_pred_histogram(spark, sf):
    """Plot-data sink: per-true-label probability histogram (the data
    behind prediction_distribution_histograms.png,
    plot_prediction_distribution_general.py:170-185), 20 bins over [0,1).
    Probability = frac(value) — deterministic, oracle-checkable."""
    from gujarati_readability_pagewise_spark.plans.reports import (
        prediction_histogram,
    )

    ev = load_table(spark, sf, "events")
    scored = ev.select(
        F.when(F.pmod(F.col("user_id"), F.lit(3)) == 0, 0).otherwise(1).alias("label"),
        (F.col("value") - F.floor(F.col("value"))).alias("p"),
    )
    return prediction_histogram(scored, "label", "p", bins=20)


def q_dedup_embedding_lsh(spark, sf):
    """Embedding near-dup at the SCALE shape (vs dedup_embedding's bounded
    brute-force baseline): banded hyperplane-LSH blocking (8 planes, 2
    bands, OR-amplified) generates candidates via an equi-join on
    (band, band_sig) — never all-pairs — and exact cosine verifies.
    Oracle re-derives the band signatures (hyperplanes inlined as
    md5-parity constants) and the OR-blocked verify."""
    from gujarati_readability_pagewise_spark.operators.similarity import (
        lsh_near_pairs,
    )

    emb = load_table(spark, sf, "embeddings")
    return (
        lsh_near_pairs(
            emb, threshold=0.38, n_planes=8, bands=2, dim=64,
            n_partitions=spark.sparkContext.defaultParallelism,
        )
        .select("a", "b", _r(F.col("cos")).alias("cos_sim"))
    )


def _sig_sql(planes: list[list[float]]) -> str:
    """SQL for the bit-packed hyperplane signature over ``embedding`` —
    mirrors operators/similarity._signature with the plane constants
    inlined (they are md5-parity constants of the algorithm)."""
    return " + ".join(
        "(CASE WHEN list_dot_product(embedding::DOUBLE[], ["
        + ", ".join(f"{v:.1f}" for v in row)
        + f"]) > 0 THEN {1 << b} ELSE 0 END)"
        for b, row in enumerate(planes)
    )


def _dot_sql(x: str, y: str) -> str:
    """DuckDB dot product mirroring Spark's cosine precision EXACTLY:
    multiply the FLOAT elements as FLOAT, cast each product to DOUBLE,
    accumulate in DOUBLE (== Spark's unrolled ``CAST(a[i]*b[i] AS DOUBLE)``
    chain and the fold's ``acc + v`` promotion, verified bitwise).  The
    naive ``list_dot_product(x::DOUBLE[], y::DOUBLE[])`` widens BEFORE the
    multiply and differs by float-product ulps — enough to flip rounded
    values, thresholds, and tie order for near-boundary vectors."""
    return (
        f"list_sum(list_transform(list_zip({x}, {y}),"
        " p -> CAST(p[1] * p[2] AS DOUBLE)))"
    )


def _cos_sql(a: str = "a.embedding", b: str = "b.embedding") -> str:
    """DuckDB cosine bit-matching the Spark side (see ``_dot_sql``)."""
    return (
        f"{_dot_sql(a, b)}"
        f" / (sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)}))"
    )


# DuckDB relation (q_id, c_id, cos): each of the first 5 vectors paired
# with every other vector by exact cosine (brute_force_topk's cross join)
_BRUTE_PAIRS_SQL = (
    f"(SELECT a.vec_id AS q_id, b.vec_id AS c_id, {_cos_sql()} AS cos"
    " FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id"
    " WHERE a.vec_id < 5)"
)
# DuckDB CTE scored(q_id, c_id, cos): the exact cosine of each pair of the
# candidate CTE cands(q_id, c_id)
_SCORED_CANDS_SQL = (
    f"scored AS (SELECT cd.q_id, cd.c_id, {_cos_sql()} AS cos"
    " FROM cands cd"
    " JOIN embeddings a ON a.vec_id = cd.q_id"
    " JOIN embeddings b ON b.vec_id = cd.c_id)"
)


def _topk_sql(scored: str, k: int = 3, score: str = "cos") -> str:
    """DuckDB SELECT of each query's top ``k`` rows (q_id, c_id, ``score``,
    rk) of relation ``scored``: highest ``score`` first, ties to the lower
    c_id (``operators.similarity._topk``)."""
    return (
        f"SELECT * FROM (SELECT q_id, c_id, {score}, row_number() OVER"
        f" (PARTITION BY q_id ORDER BY {score} DESC, c_id ASC) AS rk"
        f" FROM {scored}) WHERE rk <= {k}"
    )


def _cos_topk_sql(scored: str, k: int = 3) -> str:
    """The top-``k`` rows of ``scored(q_id, c_id, cos)`` as the similarity
    queries' (q_id, c_id, cos_sim, rk)."""
    return (
        "SELECT q_id, c_id, round(cos, 4) AS cos_sim, CAST(rk AS INT) AS rk"
        f" FROM ({_topk_sql(scored, k)}) ORDER BY q_id, rk"
    )


def _nearest_cells_sql(cells: str, rank: str = "rn = 1", on: str = "TRUE") -> str:
    """DuckDB SELECT (vec_id, cell): for each fixed-point vector of CTE
    ``e`` joined ``on``, the centroids of CTE ``cells`` ranked by integer
    squared distance, ties to the lower cell, whose rank passes ``rank``."""
    d2 = (
        "list_sum(list_transform(list_zip(e.efp, c.cent),"
        " p -> (p[1]-p[2])*(p[1]-p[2])))"
    )
    return (
        "SELECT vec_id, cell FROM ("
        " SELECT e.vec_id, c.cell,"
        f" row_number() OVER (PARTITION BY e.vec_id ORDER BY {d2}, c.cell) AS rn"
        f" FROM e JOIN {cells} c ON {on}) WHERE {rank}"
    )


def _ivf_train_sql(n_cells: int, n_iter: int, dim: int, fp_scale: int) -> list[str]:
    """DuckDB CTEs of the fixed-point Lloyd training
    (``operators.similarity.ivf_train_fixedpoint``) unrolled: ``e(vec_id,
    efp)``, centroids ``c0`` .. ``c{n_iter}(cell, cent)`` (integer-mean
    update with truncating division; an empty cell keeps its centroid)
    and ``af(vec_id, cell)``, every vector's cell under the final ones."""
    efp = (
        f"list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {fp_scale})"
        " AS BIGINT))"
    )
    mean_arr = "[" + ", ".join(
        f"CAST(sum(e.efp[{d + 1}]) // count(*) AS BIGINT)" for d in range(dim)
    ) + "]"
    ctes = [
        f"e AS (SELECT vec_id, {efp} AS efp FROM embeddings)",
        f"c0 AS (SELECT vec_id AS cell, efp AS cent FROM e WHERE vec_id < {n_cells})",
    ]
    for t in range(n_iter):
        ctes += [
            f"a{t} AS ({_nearest_cells_sql(f'c{t}')})",
            f"m{t} AS (SELECT a.cell, {mean_arr} AS cent"
            f" FROM a{t} a JOIN e ON e.vec_id = a.vec_id GROUP BY a.cell)",
            f"c{t + 1} AS (SELECT p.cell, COALESCE(m.cent, p.cent) AS cent"
            f" FROM c{t} p LEFT JOIN m{t} m ON m.cell = p.cell)",
        ]
    return ctes + [f"af AS ({_nearest_cells_sql(f'c{n_iter}')})"]


def _ivf_oracle(
    n_cells: int = 8,
    n_iter: int = 3,
    n_probe: int = 2,
    k: int = 3,
    dim: int = 64,
    fp_scale: int = 1 << 20,
    n_queries: int = 5,
) -> str:
    """DuckDB oracle for similarity_ivf_topk: re-derives the WHOLE
    deterministic IVF path — the fixed-point Lloyd training
    (``_ivf_train_sql``), final corpus assignment, the n_probe
    nearest-cell probe per query, and the exact cosine re-rank with
    Spark-precision floats (see _cos_sql).  Mirrors operators/similarity.
    ivf_train_fixedpoint / ivf_topk_deterministic parameter-for-parameter.
    """
    probe = _nearest_cells_sql(
        f"c{n_iter}", f"rn <= {n_probe}", f"e.vec_id < {n_queries}"
    )
    ctes = _ivf_train_sql(n_cells, n_iter, dim, fp_scale) + [
        f"qp AS (SELECT vec_id AS q_id, cell FROM ({probe}))",
        "cands AS (SELECT qp.q_id, af.vec_id AS c_id"
        " FROM qp JOIN af ON af.cell = qp.cell WHERE af.vec_id <> qp.q_id)",
        _SCORED_CANDS_SQL,
    ]
    return "WITH " + ",\n ".join(ctes) + " " + _cos_topk_sql("scored", k)


def _semantic_dedup_oracle(
    threshold: float = 0.38,
    n_cells: int = 8,
    n_iter: int = 3,
    dim: int = 64,
    fp_scale: int = 1 << 20,
) -> str:
    """DuckDB oracle for semantic_dedup (SemDeDup): the fixed-point Lloyd
    training and final assignment (``_ivf_train_sql``), then the
    within-cell pair join with the Spark-precision cosine threshold, the
    recursive-CTE connected components, and the min-id survivor rule."""
    ctes = _ivf_train_sql(n_cells, n_iter, dim, fp_scale) + [
        f"pairs AS (SELECT x.vec_id AS pa, y.vec_id AS pb"
        f" FROM af x JOIN af y ON x.cell = y.cell AND x.vec_id < y.vec_id"
        f" JOIN embeddings a ON a.vec_id = x.vec_id"
        f" JOIN embeddings b ON b.vec_id = y.vec_id"
        f" WHERE {_cos_sql()} > {threshold!r}::DOUBLE)",
        _components_sql("pairs", "vec_id", "pa", "pb"),
    ]
    return (
        "WITH RECURSIVE " + ",\n ".join(ctes)
        + """
        SELECT af.vec_id, CAST(af.cell AS INT) AS cell,
               coalesce(comp.component, af.vec_id) AS component,
               CASE WHEN coalesce(comp.component, af.vec_id) = af.vec_id
                    THEN 1 ELSE 0 END AS is_survivor
        FROM af LEFT JOIN comp ON comp.vec_id = af.vec_id
        """
    )


def _score_summary_oracle() -> str:
    """DuckDB oracle for pipeline_score_summary: features re-derived via
    the pipeline_features CTEs, P(non-readable) re-derived by evaluating
    the pinned forest's decision paths (ml/rf.forest_to_sql — float-parity
    with the numpy scorer), then the same fixed-point per-host rollup.
    This retires the last ML rows-only check: the whole
    extract → features → broadcast-RF score → rollup path is now under the
    hard value gate."""
    from gujarati_readability_pagewise_spark.functions.features import FEATURE_NAMES
    from gujarati_readability_pagewise_spark.ml.rf import forest_to_sql
    from gujarati_readability_pagewise_spark.ml.train import default_model

    p_sql = forest_to_sql(default_model(), FEATURE_NAMES)
    feats = _pipeline_features_oracle(order_by=False)
    return f"""
        WITH feats AS ({feats}),
             scored AS (
          SELECT regexp_extract(url, 'https://([^/]+)/', 1) AS host,
                 CAST(floor(({p_sql}) * 1000000) AS BIGINT) AS p_fp,
                 CASE WHEN (1.0e0 - ({p_sql})) >= ({p_sql}) THEN 1 ELSE 0 END
                   AS pred_label
          FROM feats)
        SELECT host,
               count(*) AS total_pages,
               CAST(CAST(sum(p_fp) AS BIGINT) // count(*) AS BIGINT) AS avg_p_fp,
               min(p_fp) AS min_p_fp,
               max(p_fp) AS max_p_fp,
               CAST(sum(pred_label) AS BIGINT) AS n_pred_readable,
               CASE WHEN CAST(sum(p_fp) AS BIGINT) * 2 > 1000000 * count(*)
                    THEN 0 ELSE 1 END AS host_prediction
        FROM scored GROUP BY host
    """


def _pipeline_features_oracle(order_by: bool = True) -> str:
    """DuckDB oracle for pipeline_features: re-derive the extracted text
    (``_spans_sql``, as the pipeline_extract oracle does), then every
    feature as an integer-count ratio.  The akshara grammar and stopword list are taken
    verbatim from functions/features so the two implementations cannot
    drift silently."""
    from gujarati_readability_pagewise_spark.functions.features import (
        _AKSHARA,
        _STOPWORDS,
    )

    stop_sql = ", ".join("'" + w + "'" for w in sorted(_STOPWORDS))
    akshara = _AKSHARA.pattern
    return rf"""
        WITH {_spans_sql()},
             ext AS (
          SELECT d.doc_id, d.source, coalesce(a.text_out, '') AS text
          FROM documents d LEFT JOIN agg a USING (doc_id)),
             f AS (
          SELECT doc_id, source,
            length(text) AS n_chars,
            CASE WHEN trim(text) = '' THEN 0
                 ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_words,
            len(regexp_extract_all(text, '[.!?…।॥]+')) AS n_sent,
            len(regexp_extract_all(text, '{akshara}')) AS n_akshara,
            CASE WHEN trim(text) = '' THEN 0
                 ELSE len(list_distinct(regexp_split_to_array(trim(text), '\s+')))
                 END AS n_unique,
            len(regexp_extract_all(text, '[!-/:-@\[-`{{-~।॥…“”‘’]')) AS n_punct,
            len(regexp_extract_all(text, '[0-9૦-૯]')) AS n_digit,
            len(regexp_extract_all(text, '[઀-૿]')) AS n_guj,
            len(regexp_extract_all(text, '[\p{{L}}\p{{Nl}}\p{{No}}]')) AS n_letter,
            len(regexp_extract_all(text, '[અ-હૐૠૡ]')) AS n_guj_letter,
            len(regexp_extract_all(text, '\s')) AS n_space,
            CASE WHEN trim(text) = '' THEN 0
                 ELSE len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                          x -> list_contains([{stop_sql}], lower(x)))) END AS n_stop
          FROM ext)
        SELECT {_PAGE_URL_SQL} AS url,
          n_chars::DOUBLE AS n_chars,
          n_words::DOUBLE AS n_words,
          n_sent::DOUBLE AS n_sentences,
          n_akshara::DOUBLE AS n_aksharas,
          CASE WHEN n_words > 0
               THEN n_unique / greatest(n_words, 1)::DOUBLE ELSE 0 END
            AS type_token_ratio,
          CASE WHEN n_chars > 0
               THEN n_punct / greatest(n_chars, 1)::DOUBLE ELSE 0 END
            AS punct_ratio,
          CASE WHEN n_letter > 0
               THEN n_guj_letter / greatest(n_letter, 1)::DOUBLE ELSE 0 END
            AS script_purity,
          CASE WHEN n_chars > 0
               THEN n_digit / greatest(n_chars, 1)::DOUBLE ELSE 0 END
            AS digit_ratio,
          CASE WHEN n_words > 0
               THEN (n_chars - n_space - n_punct) / greatest(n_words, 1)::DOUBLE
               ELSE 0 END AS mean_word_len,
          CASE WHEN n_sent > 0
               THEN n_words / greatest(n_sent, 1)::DOUBLE ELSE 0 END
            AS mean_sentence_words,
          CASE WHEN n_words > 0
               THEN n_stop / greatest(n_words, 1)::DOUBLE ELSE 0 END
            AS stopword_ratio,
          CASE WHEN n_chars > 0
               THEN n_guj / greatest(n_chars, 1)::DOUBLE ELSE 0 END
            AS gujarati_char_ratio
        FROM f {("ORDER BY url" if order_by else "")}
    """


def _pagerank_oracle(n_iter: int = 5, scale: int = 10**9, d_num: int = 17, d_den: int = 20) -> str:
    """DuckDB oracle for graph_pagerank: the same integer power iterations
    unrolled as chained CTEs — BIGINT floor division everywhere, so the
    match is exact, not approximate."""
    parts = []
    prev = "r0"
    for k in range(1, n_iter + 1):
        parts.append(f"""
             c{k} AS (
          SELECT e.dst AS node, sum(r.rank_fp // o.out_deg) AS s
          FROM edges e
          JOIN {prev} r ON r.node = e.src
          JOIN outdeg o ON o.node = e.src
          GROUP BY e.dst),
             r{k} AS (
          SELECT n.node,
                 CAST(p.base + coalesce(({d_num} * c.s) // {d_den}, 0) AS BIGINT)
                   AS rank_fp
          FROM nodes n CROSS JOIN params p
          LEFT JOIN c{k} c ON c.node = n.node)""")
        prev = f"r{k}"
    return f"""
        WITH params AS (
          SELECT count(*) AS n,
                 CAST({scale} AS BIGINT) // count(*) AS r0,
                 (CAST({scale} AS BIGINT) * {d_den - d_num})
                   // ({d_den} * count(*)) AS base
          FROM documents),
             nodes AS (SELECT doc_id AS node FROM documents),
             edges AS (
          SELECT doc_id AS src, t.dst
          FROM documents, params,
               unnest([(doc_id * 7 + 13) % params.n,
                       (doc_id * 31 + 7) % params.n,
                       (doc_id * 13 + 101) % params.n]) t(dst)),
             outdeg AS (SELECT src AS node, count(*) AS out_deg
                        FROM edges GROUP BY src),
             r0 AS (SELECT n.node, CAST(p.r0 AS BIGINT) AS rank_fp
                    FROM nodes n CROSS JOIN params p),
             {",".join(parts)}
        SELECT node, rank_fp FROM {prev} ORDER BY node
    """


def _streaming_oracle() -> str:
    """DuckDB oracle for streaming_windowed_counts: the tumbling-window
    per-host aggregation computed as a plain batch query over documents —
    the stream's complete-mode output must equal it exactly.  Payload byte
    length is re-derived: octet_length(text) + 6 bytes per '. '→'.</p><p>'
    substitution + the constant template wrapper (strlen = byte length)."""
    from gujarati_readability_pagewise_spark.sources.catalog import _POST, _PRE

    base = len(_PRE.encode()) + len(_POST.encode())
    return rf"""
        WITH d AS (
          SELECT doc_id, source,
                 strlen(text)
                   + 6 * len(regexp_extract_all(text, '\. ')) + {base} AS nb,
                 1704067200 + doc_id * 60 AS ep
          FROM documents)
        SELECT make_timestamp(CAST(floor(ep / 1800) AS BIGINT) * 1800 * 1000000)
                 AS win_start,
               source || '.example.com' AS host,
               CAST(count(*) AS BIGINT) AS n_pages,
               CAST(sum(nb) AS BIGINT) AS n_bytes
        FROM d GROUP BY 1, 2 ORDER BY win_start, host
    """


def _lsh_probe_sql(radius: int) -> str:
    """DuckDB CTEs ``sig``, ``probes``, ``cands`` and ``scored(q_id, c_id,
    cos)``: the 4-plane hyperplane signatures (planes inlined as literals —
    md5-parity constants of the algorithm, operators/similarity.
    plane_signs), each of the first 5 vectors' candidates within Hamming
    distance ``radius`` of its signature, and their exact cosine."""
    from itertools import combinations

    from gujarati_readability_pagewise_spark.operators.similarity import plane_signs

    masks = [sum(1 << b for b in bits) for r in range(radius + 1)
             for bits in combinations(range(4), r)]
    return f"""sig AS (
          SELECT vec_id, CAST({_sig_sql(plane_signs(4, 64))} AS INT) AS sig
          FROM embeddings),
             probes AS (
          SELECT s.vec_id AS q_id, xor(s.sig, f.flip) AS psig
          FROM sig s, unnest({masks}) f(flip)
          WHERE s.vec_id < 5),
             cands AS (
          SELECT DISTINCT p.q_id, c.vec_id AS c_id
          FROM probes p JOIN sig c ON c.sig = p.psig
          WHERE c.vec_id != p.q_id),
             {_SCORED_CANDS_SQL}"""


def _lsh_recall_oracle() -> str:
    """DuckDB oracle for similarity_lsh_recall: the radius-2 probe
    candidates and their exact cosine re-rank (``_lsh_probe_sql``), the
    brute-force top-3, and the per-query recall."""
    return f"""
        WITH {_lsh_probe_sql(2)},
             lsh3 AS ({_topk_sql("scored")}),
             bf3 AS ({_topk_sql(_BRUTE_PAIRS_SQL)}),
             hits AS (
          SELECT l.q_id, count(*) AS n_hit
          FROM lsh3 l JOIN bf3 USING (q_id, c_id) GROUP BY l.q_id)
        SELECT q.vec_id AS q_id,
               CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
               coalesce(h.n_hit, 0) / 3.0 AS recall_at_3
        FROM embeddings q LEFT JOIN hits h ON h.q_id = q.vec_id
        WHERE q.vec_id < 5 ORDER BY q_id
    """


def _lsh_topk_oracle() -> str:
    """DuckDB oracle for similarity_lsh_topk (4 planes, probe radius 1,
    k=3): the radius-1 probe candidates re-ranked by exact cosine."""
    return f"WITH {_lsh_probe_sql(1)} {_cos_topk_sql('scored')}"


def _embedding_lsh_oracle() -> str:
    """DuckDB oracle for dedup_embedding_lsh (8 planes, 2 bands of 4,
    OR-amplified blocking + exact cosine verify > 0.38)."""
    from gujarati_readability_pagewise_spark.operators.similarity import plane_signs

    planes = plane_signs(8, 64)
    s0 = _sig_sql(planes[0:4])
    s1 = _sig_sql(planes[4:8])
    cos = _cos_sql()
    return f"""
        WITH sig AS (
          SELECT vec_id, embedding,
                 CAST({s0} AS INT) AS s0, CAST({s1} AS INT) AS s1
          FROM embeddings),
             pairs AS (
          SELECT a.vec_id AS a, b.vec_id AS b, {cos} AS cos
          FROM sig a JOIN sig b
            ON a.vec_id < b.vec_id AND (a.s0 = b.s0 OR a.s1 = b.s1))
        SELECT a, b, round(cos, 4) AS cos_sim
        FROM pairs WHERE cos > 0.38 ORDER BY a, b
    """


# --------------------------------------------------------------------------

def q_gopher_repetition(spark, sf):
    """Gopher §A.1.1 repetition filters (Rae et al. 2021) as per-doc
    signals: duplicate-sentence fraction, duplicate-sentence character
    fraction, most-frequent-2-gram character coverage, and the keep
    decision — every ratio one float division of exact integer counts, so
    the oracle matches bit-for-bit."""
    from gujarati_readability_pagewise_spark.functions.repetition import (
        repetition_signals,
    )

    docs = load_table(spark, sf, "documents")
    sig = repetition_signals(
        docs, n_partitions=spark.sparkContext.defaultParallelism
    )
    return sig.select(
        "doc_id",
        "n_sents",
        "dup_sent_fraction",
        "dup_sent_char_fraction",
        "top_2gram",
        "top_2gram_char_fraction",
        F.col("keep").cast("int").alias("keep"),
    )


def q_dedup_sentences(spark, sf):
    """C4-style corpus-wide sentence dedup (Raffel et al. 2020): each
    distinct sentence survives only at its first global (doc, idx)
    occurrence; docs reassembled in original order and content-verified by
    md5 — the oracle rebuilds every doc with string_agg ORDER BY idx."""
    from gujarati_readability_pagewise_spark.functions.repetition import (
        dedup_sentences_global,
    )

    docs = load_table(spark, sf, "documents")
    return dedup_sentences_global(
        docs, n_partitions=spark.sparkContext.defaultParallelism
    )


def q_bigram_fluency(spark, sf):
    """LM-proxy fluency scoring (the CCNet perplexity-bucket idea with an
    engine-exact stand-in): mean corpus bigram frequency per doc.  Corpus
    counts are integers; the mean is one float division — a log-prob LM
    would drift by libm ulps across engines."""
    from gujarati_readability_pagewise_spark.functions.repetition import (
        bigram_fluency,
    )

    docs = load_table(spark, sf, "documents")
    return bigram_fluency(
        docs, n_partitions=spark.sparkContext.defaultParallelism
    )


def q_histogram_quantiles(spark, sf):
    """Scalable percentiles: the fixed-bucket histogram sketch (operators/
    aggregate.histogram_quantiles) — exact percentile() collects every
    value (impossible globally at 10^12 rows) and approx_percentile's
    sketch is engine-private; integer bucket counts are mergeable and
    oracle-exact, with error bounded by one bucket width."""
    from gujarati_readability_pagewise_spark.operators.aggregate import (
        histogram_quantiles,
    )

    li = load_table(spark, sf, "lineitem")
    return histogram_quantiles(li, "l_extendedprice", (500, 900, 990), 256)


def _scd2_fetch_log(spark, sf) -> DataFrame:
    """Synthetic re-crawl log (doc_id, fetch_ts, fp) of the first 300
    docs: 3 fetches each, 100 s apart per doc; every 3rd doc changes at
    fetch 1, and every 15th again at fetch 2."""
    docs = load_table(spark, sf, "documents").filter(F.col("doc_id") < 300)
    fetches = docs.withColumn(
        "fetch", F.explode(F.array(F.lit(0), F.lit(1), F.lit(2)))
    )
    content = F.when(
        (F.col("fetch") >= 1) & (F.col("doc_id") % 3 == 0),
        F.when(
            (F.col("fetch") == 2) & (F.col("doc_id") % 5 == 0),
            F.concat(F.col("text"), F.lit(" [u2]")),
        ).otherwise(F.concat(F.col("text"), F.lit(" [u1]"))),
    ).otherwise(F.col("text"))
    return fetches.select(
        F.col("doc_id"),
        F.timestamp_seconds(
            F.lit(1704067200) + F.col("doc_id") * 100 + F.col("fetch")
        ).alias("fetch_ts"),
        F.md5(content).alias("fp"),
    )


def q_scd2_url_history(spark, sf):
    """SCD2 content-version history over a synthetic re-crawl log (3
    deterministic fetches per url, planted drift): consecutive unchanged
    fingerprints collapse into one validity period, valid_to = next
    version's valid_from, NULL marks the current version — the warehouse
    shape for 'what did this url say at time T' over an incremental
    crawl."""
    from gujarati_readability_pagewise_spark.plans.snapshots import scd2_history

    log = _scd2_fetch_log(spark, sf)
    return scd2_history(log, key_col="doc_id", ts_col="fetch_ts", fp_col="fp")


def q_similarity_quantized_topk(spark, sf):
    """Int8-quantized ANN scoring (operators/similarity.quantized_topk):
    symmetric per-dim quantization (scale = 127/max|x_d|, one corpus max
    pass) then INTEGER dot-product top-k — the 4× memory/bandwidth
    saving a 10^12-vector store needs, engine-exact end to end (the
    oracle re-derives scales, quantization, and integer ranking)."""
    from gujarati_readability_pagewise_spark.operators.similarity import (
        quantized_topk,
    )

    emb = load_table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    return quantized_topk(emb, q, k=3, dim=64)


def _quantized_oracle(dim: int = 64, k: int = 3, n_queries: int = 5) -> str:
    """DuckDB oracle for similarity_quantized_topk: re-derive the per-dim
    scales (127/max|x_d| — identical doubles: exact float→double widening
    then one IEEE division), the clamp(floor(x·s + 0.5)) quantization, and
    the integer dot-product ranking.  Mirrors int8_quantize/quantized_topk
    parameter-for-parameter; all literals carry e0 so both parsers type
    them DOUBLE."""
    maxes = ", ".join(
        f"max(abs(embedding[{d + 1}])) AS m{d}" for d in range(dim)
    )
    qv = ", ".join(
        f"CAST(greatest(least(floor(embedding[{d + 1}]"
        f" * (CASE WHEN mx.m{d} > 0 THEN 127.0e0 / mx.m{d} ELSE 0.0e0 END)"
        " + 0.5e0), 127.0e0), -127.0e0) AS INT)"
        for d in range(dim)
    )
    dot = " + ".join(
        f"CAST(a.qv[{d + 1}] * b.qv[{d + 1}] AS BIGINT)" for d in range(dim)
    )
    return f"""
        WITH mx AS (SELECT {maxes} FROM embeddings),
             q AS (SELECT vec_id, [{qv}] AS qv FROM embeddings, mx),
             pairs AS (
          SELECT a.vec_id AS q_id, b.vec_id AS c_id, {dot} AS dot_q
          FROM q a JOIN q b ON b.vec_id <> a.vec_id
          WHERE a.vec_id < {n_queries})
        SELECT q_id, c_id, dot_q, CAST(rk AS INT) AS rk
        FROM ({_topk_sql("pairs", k, "dot_q")})
    """


def q_tpch_q15(spark, sf):
    """Q15 shape (top supplier): windowed revenue per supplier, then a
    max-scalar join-back selecting the best supplier(s) — the
    view+max(total_revenue) decorrelation.  Revenue uses cent fixed-point
    (floor(price·(1−disc)·100) per row, BIGINT sum) so the aggregate is
    order-insensitive exact integer arithmetic — float revenue sums differ
    by accumulation order across engines."""
    li = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    rev_fp = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    rev = li.groupBy("l_suppkey").agg(F.sum(rev_fp).alias("total_rev_fp"))
    mx = rev.agg(F.max("total_rev_fp").alias("mx"))
    sup = load_table(spark, sf, "supplier")
    return (
        rev.join(F.broadcast(mx), rev["total_rev_fp"] == mx["mx"])
        .join(sup, rev["l_suppkey"] == sup["s_suppkey"])
        .select("s_suppkey", "s_name", "total_rev_fp")
    )


def q_tpch_q19(spark, sf):
    """Q19 shape (discounted revenue, disjunctive predicate): an
    OR-of-ANDs over brand/size/quantity bands — the classic test that a
    disjunction still prunes at the scan and the join stays broadcast.
    Cent fixed-point revenue as in q15."""
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part")
    j = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    cond = (
        (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(1, 20)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#17")
            & F.col("p_size").between(1, 30)
            & F.col("l_quantity").between(20, 40)
        )
    )
    rev_fp = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    return j.filter(cond).agg(
        F.sum(rev_fp).alias("revenue_fp"), F.count("*").alias("n_lines")
    )


def q_dedup_incremental(spark, sf):
    """Incremental crawl dedup: NEW snapshot (doc_id ≥ 400) deduped against
    the EXISTING corpus (doc_id < 400) — band only the new docs, equi-join
    against the (persisted, in production) band index of the old corpus
    (operators/dedup.lsh_cross_candidates: cost ∝ new snapshot, never
    new×new or old×old), then exact-Jaccard verify on the cross candidates
    only.  The daily-ingest shape at 10^12 accumulated docs."""
    from gujarati_readability_pagewise_spark.operators.dedup import (
        char_shingles,
        jaccard_on_candidates_arrays,
        lsh_cross_candidates,
        minhash_signatures,
    )

    docs = load_table(spark, sf, "documents")
    par = spark.sparkContext.defaultParallelism
    old = docs.filter(F.col("doc_id") < 400)
    new = docs.filter(F.col("doc_id") >= 400)
    sh_old = char_shingles(old, "text", "doc_id", k=SHINGLE_K, n_partitions=par)
    sh_new = char_shingles(new, "text", "doc_id", k=SHINGLE_K, n_partitions=par)
    cands = lsh_cross_candidates(
        minhash_signatures(sh_new, "doc_id", n_hashes=N_HASHES),
        minhash_signatures(sh_old, "doc_id", n_hashes=N_HASHES),
        "doc_id",
        bands=N_BANDS,
        n_hashes=N_HASHES,
    ).select(F.col("new_id").alias("a"), F.col("old_id").alias("b"))
    verified = jaccard_on_candidates_arrays(cands, docs, "doc_id", k=SHINGLE_K)
    return verified.filter(F.col("jaccard") >= 0.5).select(
        "a", "b", "n_common", _r(F.col("jaccard")).alias("jaccard")
    )


def q_tpch_q10(spark, sf):
    """Q10 shape (returned-item revenue): 4-way join (customer ⋈ orders ⋈
    lineitem(returnflag='R') ⋈ broadcast nation), per-customer revenue in
    cent fixed-point, top 20 by revenue with deterministic tie-break —
    join-agg-topk with a date band and a dimension broadcast."""
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-07-01"))
    )
    li = load_table(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    nat = load_table(spark, sf, "nation")
    rev_fp = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    return (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"])
        .join(li, orders["o_orderkey"] == li["l_orderkey"])
        .join(F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(rev_fp).alias("revenue_fp"))
        .orderBy(F.desc("revenue_fp"), F.asc("c_custkey"))
        .limit(20)
    )


def q_tpch_q7(spark, sf):
    """Q7 shape (volume shipping): supplier-nation × customer-nation flows
    for an (unordered) nation pair, revenue per (supp_nation, cust_nation,
    ship year) — two dimension broadcasts + a year extraction group key."""
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    sup = load_table(spark, sf, "supplier")
    nat = load_table(spark, sf, "nation")
    n1 = nat.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nat.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    rev_fp = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    pair = (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2") | (
        F.col("supp_nation") == "NATION_2"
    ) & (F.col("cust_nation") == "NATION_1")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(sup, li["l_suppkey"] == sup["s_suppkey"])
        .join(F.broadcast(n1), sup["s_nationkey"] == F.col("s_nk"))
        .join(F.broadcast(n2), cust["c_nationkey"] == F.col("c_nk"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(F.sum(rev_fp).alias("revenue_fp"))
    )


def q_tpch_q21(spark, sf):
    """Q21 shape (suppliers who kept waiting) — the one join form the
    suite lacked: TWO correlated subqueries on the SAME fact table, one
    EXISTS and one NOT EXISTS, both keyed on the outer row's orderkey with
    a supplier INEQUALITY.  Spark-first translation: the EXISTS becomes a
    LEFT SEMI join and the NOT EXISTS a LEFT ANTI join, both shuffling on
    l_orderkey (unskewed; ≤7 lines per order), so neither subquery is
    ever re-executed per outer row the way a nested-loop correlated plan
    would.  The testdata has no receipt/commit dates, so "late" is
    l_shipdate > o_orderdate + 60 days (same derivation on both engines,
    pure date arithmetic).  Dimension sides (supplier⋈nation) broadcast.
    """
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    sup = load_table(spark, sf, "supplier")
    nat = load_table(spark, sf, "nation").filter(
        F.col("n_name").isin([f"NATION_{i}" for i in range(5)])
    )
    # l1: late lineitems of finished orders (the outer query block)
    late = li.join(
        orders, li["l_orderkey"] == orders["o_orderkey"]
    ).filter(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60))
    l1 = late.select("l_orderkey", "l_suppkey")
    # EXISTS other-supplier line in the same order -> left SEMI
    l2 = li.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    l1 = l1.join(
        l2,
        (l1["l_orderkey"] == l2["o2"]) & (l1["l_suppkey"] != l2["s2"]),
        "left_semi",
    )
    # NOT EXISTS other-supplier LATE line in the same order -> left ANTI
    # (l3 shares l1's order, so its lateness uses the same o_orderdate)
    l3 = late.select(
        F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")
    )
    l1 = l1.join(
        l3,
        (l1["l_orderkey"] == l3["o3"]) & (l1["l_suppkey"] != l3["s3"]),
        "left_anti",
    )
    return (
        l1.join(F.broadcast(sup), l1["l_suppkey"] == sup["s_suppkey"])
        .join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
    )


def q_volume_anomalies(spark, sf):
    """Ingest monitoring: crawl-volume burst detection with an
    EXACT-INTEGER rolling z-score — the |x−mean| > 3σ rule
    cross-multiplied to (W·x−Σ)² > 9·(W·Σx²−Σ²) so no division or sqrt
    ever touches a float (a float z would drift in the variance's
    summation order).  A deterministic burst (every 7th event re-stamped
    into one 6-hour bucket) is planted and must be flagged; the oracle
    re-derives buckets, trailing sums, and the integer rule."""
    from gujarati_readability_pagewise_spark.operators.monitor import (
        volume_anomalies,
    )

    ev = load_table(spark, sf, "events")
    burst = ev.filter(F.col("event_id") % 7 == 0).select(
        F.lit("2024-01-20 03:00:07").cast("timestamp").alias("ts"),
        F.lit("click").alias("event_type"),
    )
    planted = ev.select("ts", "event_type").unionByName(burst)
    return volume_anomalies(
        planted, bucket_seconds=21600, trailing=20, k=3, min_trailing=8
    )


def q_streaming_anomalies(spark, sf):
    """STREAM ≡ BATCH oracle for the monitoring surface: the planted-burst
    event feed arrives as a file stream in arbitrary micro-batch order;
    monitor_stream_merge maintains the anomaly table via log-append +
    per-key idempotent recompute (foreachBatch), and the final table must
    equal the batch volume_anomalies derivation exactly — late buckets
    repair trailing windows the way only recompute-from-log can."""
    from gujarati_readability_pagewise_spark.streaming.ingest import (
        monitor_stream_merge,
    )

    ev = load_table(spark, sf, "events")
    burst = ev.filter(F.col("event_id") % 7 == 0).select(
        (F.col("event_id") + 10000000).alias("event_id"),
        F.lit("2024-01-20 03:00:07").cast("timestamp").alias("ts"),
        F.lit("click").alias("event_type"),
    )
    planted = ev.select("event_id", "ts", "event_type").unionByName(burst)
    src, state = _stream_scratch(spark, "graft_stream_monitor")
    planted.repartition(12).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("event_id bigint, ts timestamp, event_type string")
        .option("maxFilesPerTrigger", 4)
        .parquet(src)
    )
    sq = (
        monitor_stream_merge(
            spark, stream, state, bucket_seconds=21600, trailing=20,
            k=3, min_trailing=8,
        )
        .queryName("graft_stream_monitor")
        .start()
    )
    sq.processAllAvailable()
    sq.stop()
    return spark.read.parquet(f"{state}/anomalies").select(
        "key", "bucket_start", "n", "w_cnt", "sum_prior", "sumsq_prior",
        "is_anomaly",
    )


def q_dsir_select(spark, sf):
    """DSIR-style data selection (Xie et al. 2023): rank the corpus by
    hashed-unigram+bigram importance toward an English target slice —
    integer bucket counts, add-one smoothing, and the LINEARIZED
    likelihood ratio (one float division of exact integer products; a
    log-linear score would drift by libm ulps across engines, the
    bigram_fluency lesson).  Both bucket tables broadcast (<=4096 rows);
    the 500-row ranking window is adjudicated-benign SINGLE_PART.
    Oracle re-derives buckets, counts, smoothing, and the ratio."""
    from pyspark.sql import Window as W

    from gujarati_readability_pagewise_spark.operators.dsir import (
        dsir_importance,
    )

    docs = load_table(spark, sf, "documents")
    target = docs.filter(F.col("lang") == "en")
    scored = dsir_importance(docs, target, n_buckets=4096)
    w = W.orderBy(F.desc("importance"), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 150)
        .select("rank", "doc_id", "n_grams", "s_target", "s_raw", "importance")
    )


def q_bpe_merges(spark, sf):
    """Tokenizer induction: first-iteration BPE merge candidates — top-50
    adjacent character pairs by corpus count, counted over the
    distinct-word VOCABULARY weighted by word frequency (the Sennrich
    trick that makes per-merge rescans vocabulary-sized, not
    corpus-sized).  Integer counts, deterministic pair-string ties; the
    oracle re-derives words, weights, and pair offsets."""
    from gujarati_readability_pagewise_spark.functions.textstats import (
        bpe_merge_candidates,
    )

    docs = load_table(spark, sf, "documents")
    return bpe_merge_candidates(docs, k=50)


def q_host_blocklist(spark, sf):
    """Domain-blocklist filtering (the C4-style URL filter tier): flag
    docs whose host is a blocked domain OR any subdomain of one.  Suffix
    semantics compile to max_labels equi BROADCAST joins (one per suffix
    level, NULL past the label depth) fused into one map stage — zero
    shuffles, no LIKE nested-loop, no per-task regex automaton.  Hosts
    are derived deterministically (apex, www, and deep-cdn shapes) so
    every suffix level is exercised; the oracle re-derives the suffix
    expansion and the block set."""
    from gujarati_readability_pagewise_spark.functions.urlnorm import (
        host_block_flags,
    )

    docs = load_table(spark, sf, "documents")
    host = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(F.lit("cdn."), F.col("source"), F.lit(".example.org")),
    ).otherwise(
        F.concat(
            F.when(F.col("doc_id") % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
            F.col("source"),
            F.lit(".example.com"),
        )
    )
    pages = docs.select("doc_id", host.alias("host"))
    bl = spark.createDataFrame(
        [("example.org",), ("src3.example.com",), ("src12.example.com",)],
        "domain string",
    )
    return host_block_flags(pages, bl).select("doc_id", "host", "blocked")


def q_sequence_packing_url(spark, sf):
    """Cross-doc sequence packing over a STRING-keyed corpus (urls — the
    release-job shape the round-4 advice flagged): pack_sequences
    range-buckets on an order-monotone 7-byte UTF-8 surrogate and orders
    the in-bucket window by the BINARY encoding, which is also DuckDB's
    default string collation — so the oracle's ORDER BY url cumulative
    window must agree bit-for-bit.  Same exact-integer coordinates as
    sequence_packing."""
    from gujarati_readability_pagewise_spark.operators.packing import (
        pack_sequences,
    )

    docs = load_table(spark, sf, "documents")
    keyed = docs.select(
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.com/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        "text",
    )
    return pack_sequences(keyed, key_col="url", seq_len=256, n_buckets=16)


def q_dsir_incremental(spark, sf):
    """Incremental DSIR: fit the hashed-ngram importance estimator on the
    BASE corpus (docs with doc_id < 400; target = its English slice),
    then score the NEW snapshot (doc_id >= 400) against the stored
    (bucket, ct, cr) index — the fit-once/score-streams deployment shape,
    cost ∝ snapshot.  Unseen buckets hit the add-one smoothing floor.
    Oracle re-derives the index and the snapshot scoring."""
    from gujarati_readability_pagewise_spark.operators.dsir import (
        dsir_importance_incremental,
        dsir_index,
    )

    docs = load_table(spark, sf, "documents")
    base = docs.filter(F.col("doc_id") < 400)
    idx = dsir_index(base, base.filter(F.col("lang") == "en"), n_buckets=4096)
    snap = docs.filter(F.col("doc_id") >= 400)
    return dsir_importance_incremental(snap, idx, n_buckets=4096)


def q_corpus_datasheet(spark, sf):
    """Per-source corpus DATASHEET (Gebru et al.'s datasheet table for a
    release): doc/token/char volumes, length spread, predicted-language
    mix, distinct-content count, and the exact-duplicate rate — all
    integers plus one float division, engine-exact, one map-combinable
    rollup per source.  The oracle re-derives the lang classifier, the
    token rule, and the digest distinct."""
    from gujarati_readability_pagewise_spark.functions.textstats import (
        corpus_datasheet,
    )

    docs = load_table(spark, sf, "documents")
    return corpus_datasheet(docs).orderBy("source")


def q_training_order(spark, sf):
    """Reproducible per-epoch training order: every doc's position under
    the deterministic epoch reshuffle (stable hash of key + epoch salt) —
    the dataloader coordinates a restart or a second worker re-derives
    exactly.  Global rank per epoch via STATIC 2^60-range hash buckets
    (no approxQuantile, no single-partition window); the oracle is the
    direct per-epoch row_number over the same hash."""
    from gujarati_readability_pagewise_spark.operators.sampling import (
        training_order,
    )

    docs = load_table(spark, sf, "documents")
    return training_order(docs, n_epochs=2)


def q_decontaminate_semantic(spark, sf):
    """Embedding-space decontamination (the semantic sibling of the
    n-gram decontaminate): corpus vectors with cosine >= 0.95 to ANY
    held-out eval vector (vec_id < 20, broadcast) are flagged — catches
    paraphrased eval leakage no 8-gram overlap sees.  The proven
    engine-exact zip_with cosine form; one bounded pass per corpus row.
    The tiny-broadcast BNL flag is adjudicated-benign (the eval side IS
    the small side by design, same as decontaminate)."""
    from gujarati_readability_pagewise_spark.operators.similarity import (
        decontaminate_semantic,
    )

    emb = load_table(spark, sf, "embeddings")
    evals = emb.filter(F.col("vec_id") < 20)
    corpus = emb.filter(F.col("vec_id") >= 20)
    out = decontaminate_semantic(corpus, evals, threshold=0.95)
    return out.select(
        "vec_id", "n_eval_hits", _r(F.col("max_cos")).alias("max_cos"),
        "contaminated",
    )


def q_robots_filter(spark, sf):
    """Robots-compliance frontier filtering: per-host Disallow prefixes
    extracted from deterministic planted robots.txt bodies, applied as a
    higher-order exists over the host's rule array — one equi-join on
    host, no LIKE nested loop (functions/robots; simplified grammar
    documented there).  Hosts h0/h3 disallow /private and /tmp, h1 has
    no rules, other hosts have no robots row; paths derive from doc ids
    so every branch (blocked, allowed, ruleless host, missing host) is
    exercised.  The oracle re-derives extraction and prefix tests."""
    from gujarati_readability_pagewise_spark.functions.robots import (
        parse_robots_rules,
        robots_allowed,
    )

    docs = load_table(spark, sf, "documents")
    robots = spark.createDataFrame(
        [
            ("h0", "User-agent: *\nDisallow: /private\nDisallow: /tmp\n"),
            ("h1", "User-agent: *\nAllow: /\n"),
            ("h3", "Disallow: /private\n# mirror of h0 minus /tmp\n"),
        ],
        "host string, robots_txt string",
    )
    fetches = docs.select(
        "doc_id",
        F.concat(F.lit("h"), F.pmod(F.col("doc_id"), F.lit(5)).cast("string")).alias(
            "host"
        ),
        F.concat(
            F.when(F.col("doc_id") % 3 == 0, F.lit("/private/p")).otherwise(
                F.when(F.col("doc_id") % 3 == 1, F.lit("/tmp-cache/p")).otherwise(
                    F.lit("/pub/p")
                )
            ),
            F.col("doc_id").cast("string"),
        ).alias("path"),
    )
    return robots_allowed(fetches, parse_robots_rules(robots)).select(
        "doc_id", "host", "path", "allowed"
    )


def q_embedding_pool(spark, sf):
    """Chunk-to-doc embedding mean-pooling (4 chunks per synthetic doc):
    per-component FIXED-POINT pooling — floor(v*1e6) integer sums, one
    division — because float mean-pooling can never be engine-exact
    (shuffle-order accumulation).  The gate row explodes the pooled
    vector to scalar (group, pos, value) rows so the value hash covers
    every component; the array reassembly is pytest-covered."""
    from gujarati_readability_pagewise_spark.operators.similarity import (
        pool_embeddings,
    )

    emb = load_table(spark, sf, "embeddings")
    chunks = emb.select(F.expr("vec_id div 4").alias("grp"), "embedding")
    pooled = pool_embeddings(chunks, "grp")
    return pooled.select(
        "grp", "n_chunks", F.posexplode("pooled").alias("pos", "pooled_val")
    )


def q_quality_drift(spark, sf):
    """Quality-DRIFT monitoring (the mean-shift sibling of the volume
    z-rule): per-source hourly mean of the fixed-point quality score vs
    its trailing 24-bucket mean, cross-multiplied to exact integers
    (den·|S·Nt − St·n| > num·n·Nt, threshold in fixed-point score units:
    1200 = 0.12 quality) — no float division, engine-exact
    flags.  A drift is planted (the corpus's bucket 40 loses 0.2 of
    quality) and must be flagged once trailing history exists; the
    oracle re-derives the score, the dense bucket grid, and the rule."""
    from gujarati_readability_pagewise_spark.operators.monitor import (
        metric_drift,
    )

    docs = load_table(spark, sf, "documents")
    # corpus-level key: at gate scale a per-source bucket holds <1 doc and
    # every bucket "drifts"; one corpus stream gives ~10 docs/bucket so
    # the planted bucket-40 shift stands out (keys scale out in prod —
    # the window partitions by key)
    sel = docs.select(
        F.timestamp_seconds(
            F.lit(1704067200) + F.pmod(F.col("doc_id"), F.lit(48)) * 3600
        ).alias("ts"),
        F.lit("corpus").alias("grp"),
        (
            F.floor(quality_score_expr(F.col("text")) * 10000).cast("long")
            - F.when(F.pmod(F.col("doc_id"), F.lit(48)) == 40, 2000).otherwise(0)
        ).alias("score"),
    )
    return metric_drift(
        sel, ts_col="ts", key_col="grp", score_col="score",
        bucket_seconds=3600, trailing=24, min_trailing=8,
        threshold_num=1200, threshold_den=1,
    )


def q_vocab_coverage(spark, sf):
    """Tokenizer-budget analysis: top-100 corpus vocabulary with the
    cumulative coverage curve (share of all token occurrences captured by
    a k-entry vocab).  Counts aggregate map-side; top-k is a TakeOrdered;
    the cumulative window runs over 100 rows.  Deterministic tie-break on
    the token string; one long/long division for the coverage.
    plan_audit's BNL_JOIN + SINGLE_PART flags are the 1-row total
    broadcast and the 100-row window — adjudicated-benign by size."""
    from gujarati_readability_pagewise_spark.functions.textstats import (
        vocab_coverage,
    )

    docs = load_table(spark, sf, "documents")
    return vocab_coverage(docs, k=100)


def q_sequence_packing(spark, sf):
    """Cross-document sequence PACKING (GPT-style concat-and-chunk): where
    each doc's token span lands when the key-ordered corpus is sliced
    into 512-token training sequences — the cross-doc complement of
    sequence_chunks.  operators/packing.pack_sequences computes the
    corpus-wide ordered prefix sum WITHOUT a single-partition window
    (range-bucketed offsets, the distributed_rank pattern); the oracle is
    the direct cumulative window in SQL — exact integers, so the
    distributed and naive forms must agree bit-for-bit."""
    from gujarati_readability_pagewise_spark.operators.packing import (
        pack_sequences,
    )

    docs = load_table(spark, sf, "documents")
    return pack_sequences(docs, seq_len=512)


def q_crawl_schedule(spark, sf):
    """Per-host politeness scheduling (the crawl-frontier rule): every
    fetch gets a slot and a deterministic start offset 10 s apart within
    its host, ordered by the cross-engine stable hash — the one window
    whose per-host serialization is the SEMANTICS (politeness), not a
    skew accident.  Emits per-host slots plus the schedule makespan
    check column."""
    from gujarati_readability_pagewise_spark.operators.sampling import (
        crawl_schedule,
    )

    docs = load_table(spark, sf, "documents")
    pages = docs.select(
        F.col("doc_id"),
        F.concat(F.lit("h"), F.pmod(F.col("doc_id"), F.lit(7)).cast("string")).alias(
            "host"
        ),
    )
    out = crawl_schedule(pages, host_col="host", key_col="doc_id")
    return out.select(
        "doc_id", "host", F.col("slot").cast("int").alias("slot"), "sched_offset_s"
    )


def q_streaming_schedule(spark, sf):
    """STREAM ≡ BATCH oracle for the politeness rate limiter: the same
    derived fetch frontier as crawl_schedule arrives as a file stream in
    arbitrary micro-batch order; schedule_stream_merge maintains the
    per-host slot table via log-append + per-bucket idempotent recompute
    (foreachBatch), and the final table must equal the batch
    crawl_schedule derivation exactly — the stable-hash within-host order
    is what makes slots replay- and arrival-order-independent."""
    from gujarati_readability_pagewise_spark.streaming.ingest import (
        schedule_stream_merge,
    )

    docs = load_table(spark, sf, "documents")
    pages = docs.select(
        F.col("doc_id"),
        F.concat(
            F.lit("h"), F.pmod(F.col("doc_id"), F.lit(7)).cast("string")
        ).alias("host"),
    )
    src_dir, state = _stream_scratch(spark, "graft_stream_schedule")
    pages.repartition(12).write.mode("overwrite").parquet(src_dir)
    stream = (
        spark.readStream.schema("doc_id bigint, host string")
        .option("maxFilesPerTrigger", 4)
        .parquet(src_dir)
    )
    sq = (
        schedule_stream_merge(
            spark, stream, state, host_col="host", key_col="doc_id",
            min_interval_s=10,
        )
        .queryName("graft_stream_schedule")
        .start()
    )
    sq.processAllAvailable()
    sq.stop()
    return spark.read.parquet(f"{state}/schedule").select(
        "doc_id", "host", F.col("slot").cast("int").alias("slot"),
        "sched_offset_s",
    )


def _span_audit(docs: DataFrame, spans: DataFrame) -> DataFrame:
    """Per doc of ``docs``: (doc_id, n_spans, dup_chars, n_dup_windows) of
    its ExactSubstr ``spans``, 0 for a doc with none."""
    per_doc = spans.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.col("span_end") - F.col("span_start") + 1).alias("dup_chars"),
        F.sum("n_windows").alias("n_dup_windows"),
    )
    return docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
        F.coalesce("dup_chars", F.lit(0)).alias("dup_chars"),
        F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
    )


def q_dedup_exact_substr(spark, sf):
    """ExactSubstr dedup (Lee et al. 2021) — exact duplicate SUBSTRING
    spans across the corpus, the dedup tier the MinHash family cannot
    express (it scores whole documents; this finds the copied paragraph
    INSIDE otherwise-distinct documents).  operators/dedup.duplicate_spans
    indexes every ``_SUBSTR_WINDOW``-char sliding window by hash, keeps
    the global first occurrence per hash, and merges each doc's other
    occurrences into maximal spans.  Emits the per-doc audit (n_spans,
    dup_chars, n_dup_windows, 0 for clean docs); the oracle re-derives
    windows, first-occurrence rule, and island merge in SQL."""
    from gujarati_readability_pagewise_spark.operators.dedup import (
        duplicate_spans,
    )

    docs = load_table(spark, sf, "documents")
    par = spark.sparkContext.defaultParallelism
    spans = duplicate_spans(docs, window=_SUBSTR_WINDOW, n_partitions=par)
    return _span_audit(docs, spans)


def q_interval_join(spark, sf):
    """Range-containment join via time-bucket alignment — the join shape
    a raw BETWEEN predicate turns into a quadratic nested loop: per-user
    2-day windows (opened at each user's first event) joined to ALL
    events falling inside them.  Each point hashes to one bucket, each
    interval explodes into its overlapped buckets, the join is an
    equi-join on the bucket with the exact BETWEEN as a post-filter;
    the oracle is the plain BETWEEN join."""
    from gujarati_readability_pagewise_spark.operators.asof import (
        interval_join_bucketed,
    )

    ev = load_table(spark, sf, "events")
    intervals = ev.groupBy(F.col("user_id").alias("win_user")).agg(
        F.min("ts").alias("start_ts")
    ).select(
        "win_user",
        "start_ts",
        (F.col("start_ts") + F.expr("INTERVAL 2 DAYS")).alias("end_ts"),
    )
    joined = interval_join_bucketed(
        ev.select("event_id", "ts", "event_type"),
        intervals,
        bucket_seconds=86400,
    )
    return (
        joined.groupBy("win_user")
        .agg(
            F.count("*").alias("n_events_in_window"),
            F.countDistinct("event_type").cast("long").alias("n_types"),
        )
        .orderBy("win_user")
    )


def q_quality_weighted_sample(spark, sf):
    """Soft quality-weighted sampling (the smooth alternative to a hard
    quality cut): each doc kept with probability equal to its quality
    score, decided by an exact integer comparison of a stable key hash
    against floor(q·10⁶) — deterministic under retries/partitioning and
    bit-identically re-derivable in SQL, unlike a rand() Bernoulli."""
    from gujarati_readability_pagewise_spark.operators.sampling import (
        quality_weighted_sample,
    )

    docs = load_table(spark, sf, "documents")
    scored = docs.select(
        "doc_id", "source", quality_score_expr(F.col("text")).alias("q")
    )
    kept = quality_weighted_sample(scored, "q", "doc_id")
    return kept.select(
        "doc_id", "source", F.floor(F.col("q") * 1000000).cast("long").alias("q_fp")
    )


def q_ngram_novelty(spark, sf):
    """Per-doc 8-gram NOVELTY — the dedup-aware sampling signal: the
    fraction of a doc's distinct word 8-grams appearing in no other
    document.  Same distinct (doc, gram) explode as decontamination;
    doc-frequencies aggregate map-side; one int/int division.  Sub-8-token
    docs emit zero grams with NULL novelty (no evidence either way)."""
    from gujarati_readability_pagewise_spark.operators.decontaminate import (
        ngram_novelty,
    )

    docs = load_table(spark, sf, "documents")
    par = spark.sparkContext.defaultParallelism
    return ngram_novelty(docs, n=8, n_partitions=par)


def q_tpch_q2(spark, sf):
    """Q2 true form (minimum-cost supplier): the correlated min-subquery
    over partsupp decorrelated into a per-part min + join-back, with the
    region-restricted supplier dimension.  The testdata ships no partsupp
    table, so a DETERMINISTIC derived partsupp stands in: 8 suppliers per
    part assigned round-robin, supply cost = stable 60-bit hash % 100000
    in integer cents — both engines derive the identical table, so the
    whole query is value-checkable.  Dimension side (region⋈nation⋈
    supplier) broadcasts; the min and join-back shuffle on p_partkey."""
    part = load_table(spark, sf, "part").filter(
        F.col("p_size").between(10, 20)
    )
    sup = load_table(spark, sf, "supplier")
    nat = load_table(spark, sf, "nation")
    region = load_table(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    n_supp = sup.count()  # scalar: supplier count is dimension-sized
    ps = part.select("p_partkey", "p_name").crossJoin(
        spark.range(8).select(F.col("id").cast("int").alias("i"))
    ).select(
        "p_partkey",
        "p_name",
        F.pmod(F.col("p_partkey") * 8 + F.col("i"), F.lit(n_supp)).alias(
            "ps_suppkey"
        ),
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("p_partkey").cast("string"),
                            F.lit("#ps"),
                            F.col("i").cast("string"),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(100000),
        ).alias("ps_cost_fp"),
    )
    eu = (
        sup.join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
        .join(F.broadcast(region), nat["n_regionkey"] == region["r_regionkey"])
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    cand = ps.join(F.broadcast(eu), ps["ps_suppkey"] == eu["s_suppkey"])
    mins = cand.groupBy("p_partkey").agg(F.min("ps_cost_fp").alias("m"))
    return (
        cand.join(mins, "p_partkey")
        .filter(F.col("ps_cost_fp") == F.col("m"))
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "ps_cost_fp"
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
    )


def q_quality_buckets(spark, sf):
    """CCNet-style quality bucketing: per SOURCE, documents split into
    head/middle/tail terciles of the LM-proxy fluency score
    (bigram_fluency's mean corpus bigram frequency standing in for
    perplexity), with per-(source, bucket) doc and bigram counts — the
    partition CCNet publishes so downstream mixing can oversample the
    head.  ntile ordering is totalized with the doc id, so the bucket
    assignment is engine-exact."""
    from gujarati_readability_pagewise_spark.functions.repetition import (
        bigram_fluency,
    )

    docs = load_table(spark, sf, "documents")
    par = spark.sparkContext.defaultParallelism
    flu = bigram_fluency(docs, n_partitions=par)
    labeled = flu.join(docs.select("doc_id", "source"), "doc_id")
    w = W.partitionBy("source").orderBy(
        F.desc("mean_bigram_count"), F.asc("doc_id")
    )
    return (
        labeled.withColumn("ppl_bucket", F.ntile(3).over(w))
        .groupBy("source", "ppl_bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_bigrams").alias("sum_bigrams"),
        )
        .orderBy("source", "ppl_bucket")
    )


def q_semantic_dedup(spark, sf):
    """SemDeDup (Abbas et al. 2023) end to end: deterministic fixed-point
    k-means clusters the embedding space, cosine pairs are compared ONLY
    within a cell (quadratic in cell size, not corpus size — what makes
    semantic dedup affordable at 10^12 vectors), connected components
    over the >0.38 edges, lowest-id representative survives.  The oracle
    re-derives the whole path: unrolled integer Lloyd (same CTEs as
    similarity_ivf_topk's), within-cell pairs with the Spark-precision
    cosine, recursive-CTE components, survivor rule.  plan_audit's
    BNL_JOIN flag is the n_cells-row centroid broadcast crossJoin — the
    same adjudicated-benign shape as similarity_ivf_topk."""
    from gujarati_readability_pagewise_spark.operators.similarity import (
        semantic_dedup,
    )

    emb = load_table(spark, sf, "embeddings")
    return semantic_dedup(emb, threshold=0.38, n_cells=8, n_iter=3)


def q_dedup_cut_text(spark, sf):
    """The CUTTING half of ExactSubstr dedup composed with the finder:
    every duplicate span is removed from its doc's text (global first
    occurrence kept), via one JVM higher-order aggregate over the doc's
    sorted span array — no explode of the text, no Python.  Emits the
    content digest of the cut text per doc so the oracle verifies the
    reconstruction byte-for-byte (lag-window segment derivation +
    ordered string_agg in SQL)."""
    from gujarati_readability_pagewise_spark.operators.dedup import (
        cut_spans,
        duplicate_spans,
    )

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    par = spark.sparkContext.defaultParallelism
    spans = duplicate_spans(docs, window=_SUBSTR_WINDOW, n_partitions=par)
    out = cut_spans(docs, spans)
    return out.select(
        "doc_id",
        F.md5("text").alias("cut_md5"),
        "n_cut_chars",
    )


def q_dedup_incremental_substr(spark, sf):
    """INCREMENTAL ExactSubstr dedup — the daily-ingest form: the stored
    corpus (doc_id < 350) is represented only by its window-hash index
    (operators/dedup.window_hash_index); the new snapshot (doc_id ≥ 350)
    finds its duplicate spans against that index plus within itself,
    never re-touching corpus text (cost ∝ snapshot, mirroring
    dedup_incremental for the MinHash family).  Because corpus keys
    precede snapshot keys, the result provably equals the full-corpus
    duplicate_spans restricted to snapshot docs — which is exactly what
    the oracle computes (full-corpus SQL re-derivation, filtered)."""
    from gujarati_readability_pagewise_spark.operators.dedup import (
        duplicate_spans_incremental,
        window_hash_index,
    )

    docs = load_table(spark, sf, "documents")
    par = spark.sparkContext.defaultParallelism
    corpus = docs.filter(F.col("doc_id") < 350)
    snap = docs.filter(F.col("doc_id") >= 350)
    idx = window_hash_index(corpus, window=_SUBSTR_WINDOW, n_partitions=par)
    spans = duplicate_spans_incremental(
        snap, idx, window=_SUBSTR_WINDOW, n_partitions=par
    )
    return _span_audit(snap, spans)


def q_tpch_q8(spark, sf):
    """Q8 shape (national market share): the widest dimension fan of the
    suite — lineitem at the center, SIX dimension joins (orders, part,
    customer, nation×2 via two aliases, region, supplier), then the
    conditional-share aggregate sum(case)/sum per year.  All true
    dimensions broadcast; the only shuffles are the fact⋈orders and
    fact⋈customer equi-joins.  Fixed-point cent volumes; the share is one
    long/long float division (bit-identical across engines)."""
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders").filter(
        F.col("o_orderdate").between("1995-01-01", "1996-12-31")
    )
    part = load_table(spark, sf, "part").filter(F.col("p_type") == "PROMO")
    cust = load_table(spark, sf, "customer")
    sup = load_table(spark, sf, "supplier")
    nat = load_table(spark, sf, "nation")
    region = load_table(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    cn = nat.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    sn = nat.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    vol_fp = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    flows = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(part.select("p_partkey")), li["l_partkey"] == F.col("p_partkey"))
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(cn), cust["c_nationkey"] == F.col("c_nk"))
        .join(F.broadcast(region), F.col("c_rk") == region["r_regionkey"])
        .join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
        .join(F.broadcast(sn), sup["s_nationkey"] == F.col("s_nk"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            vol_fp.alias("vol_fp"),
            "supp_nation",
        )
    )
    nation_vol = F.sum(
        F.when(F.col("supp_nation") == "NATION_3", F.col("vol_fp")).otherwise(0)
    ).alias("nation_vol_fp")
    return (
        flows.groupBy("o_year")
        .agg(nation_vol, F.sum("vol_fp").alias("total_vol_fp"))
        .select(
            "o_year",
            "nation_vol_fp",
            "total_vol_fp",
            (F.col("nation_vol_fp") / F.col("total_vol_fp")).alias("mkt_share"),
        )
        .orderBy("o_year")
    )


def q_tpch_q9(spark, sf):
    """Q9 shape (product-type profit by nation×year).  The testdata has no
    partsupp table, so supply cost is the deterministic proxy
    floor(p_retailprice·10) cents per unit (same derivation both engines)
    — the SHAPE is Q9's: name-LIKE part filter, lineitem⋈part⋈supplier⋈
    nation⋈orders, profit = revenue − cost in exact cents, grouped by
    (nation, year) with the classic desc-year ordering."""
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part").filter(F.col("p_name").like("%red%"))
    sup = load_table(spark, sf, "supplier")
    nat = load_table(spark, sf, "nation")
    orders = load_table(spark, sf, "orders")
    profit_fp = (
        F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
        - F.floor(F.col("p_retailprice") * 10).cast("long")
        * F.col("l_quantity").cast("long")
    )
    return (
        li.join(
            F.broadcast(part.select("p_partkey", "p_retailprice")),
            li["l_partkey"] == F.col("p_partkey"),
        )
        .join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
        .join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.sum(profit_fp).alias("profit_fp"))
        .orderBy("nation", F.desc("o_year"))
    )


def q_tpch_q11(spark, sf):
    """Q11 TRUE form (value concentration over partsupp): inventory value
    of one nation's suppliers per part vs a scalar fraction of the global
    total.  The testdata ships no partsupp, so the SAME deterministic
    derived partsupp as tpch_q2 stands in (8 round-robin suppliers per
    part; cost and availqty from the cross-engine stable hash), making
    the whole query value-checkable.  Spark-first: the supplier⋈nation
    dimension broadcasts into the ps build, per-part values aggregate in
    one shuffle, and the global threshold is a 1-row broadcast crossJoin
    with exact integer `div` (adjudicated-benign BNL+SINGLE_PART, the
    tpch_q22 shape)."""
    part = load_table(spark, sf, "part")
    sup = load_table(spark, sf, "supplier")
    nat = load_table(spark, sf, "nation").filter(F.col("n_name") == "NATION_7")
    n_supp = sup.count()  # scalar: supplier count is dimension-sized
    ps = part.select("p_partkey").crossJoin(
        spark.range(8).select(F.col("id").cast("int").alias("i"))
    ).select(
        "p_partkey",
        F.pmod(F.col("p_partkey") * 8 + F.col("i"), F.lit(n_supp)).alias(
            "ps_suppkey"
        ),
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("p_partkey").cast("string"),
                            F.lit("#ps"),
                            F.col("i").cast("string"),
                        )
                    ), 1, 15,
                ), 16, 10,
            ).cast("long"),
            F.lit(100000),
        ).alias("ps_cost_fp"),
        (
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("p_partkey").cast("string"),
                                F.lit("#av"),
                                F.col("i").cast("string"),
                            )
                        ), 1, 15,
                    ), 16, 10,
                ).cast("long"),
                F.lit(10000),
            ) + 1
        ).alias("ps_availqty"),
    )
    nsup = sup.join(
        F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"]
    ).select("s_suppkey")
    v = (
        ps.join(F.broadcast(nsup), ps["ps_suppkey"] == nsup["s_suppkey"])
        .groupBy("p_partkey")
        .agg(F.sum(F.col("ps_cost_fp") * F.col("ps_availqty")).alias("value_fp"))
    )
    # integer `div`, not float `/` + cast: a double quotient can round
    # across the integer boundary the oracle's exact `//` never crosses
    total = v.agg(F.expr("sum(value_fp) div 10000").alias("_thr"))
    return (
        v.crossJoin(F.broadcast(total))
        .filter(F.col("value_fp") > F.col("_thr"))
        .select("p_partkey", "value_fp")
        .orderBy(F.desc("value_fp"), "p_partkey")
    )


def q_tpch_q20(spark, sf):
    """Q20 TRUE form (part-promotion suppliers): the nested-subquery semi
    chain over partsupp — one nation's suppliers having SOME 'small%'
    part whose derived availability exceeds half their own 1995-96
    shipped quantity.  Same deterministic derived partsupp as
    tpch_q2/q11; the correlated half-sum comparison is decorrelated into
    a per-(supp, part) aggregate joined back and stays in exact integers
    (2·availqty > Σqty; an empty shipment sum excludes the row, matching
    the NULL-comparison semantics of the correlated original).
    Spark-first: selected parts broadcast into both the ps build and the
    lineitem scan; the only wide exchange is the (supp, part) quantity
    aggregation; the final supplier keep is one LEFT SEMI.  plan_audit's
    BNL_JOIN flag is the 8-row literal range crossJoin building the
    derived partsupp — adjudicated-benign by size (the q2 shape)."""
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part").filter(F.col("p_name").like("small%"))
    sup = load_table(spark, sf, "supplier")
    nat = load_table(spark, sf, "nation").filter(F.col("n_name") == "NATION_3")
    n_supp = sup.count()  # scalar: supplier count is dimension-sized
    ps = part.select("p_partkey").crossJoin(
        spark.range(8).select(F.col("id").cast("int").alias("i"))
    ).select(
        "p_partkey",
        F.pmod(F.col("p_partkey") * 8 + F.col("i"), F.lit(n_supp)).alias(
            "ps_suppkey"
        ),
        (
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("p_partkey").cast("string"),
                                F.lit("#av"),
                                F.col("i").cast("string"),
                            )
                        ), 1, 15,
                    ), 16, 10,
                ).cast("long"),
                F.lit(10000),
            ) + 1
        ).alias("ps_availqty"),
    )
    shipped = (
        li.join(
            F.broadcast(part.select("p_partkey")),
            li["l_partkey"] == F.col("p_partkey"),
        )
        .filter(
            (F.col("l_shipdate") >= "1995-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
        )
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("qty"))
    )
    promo = ps.join(
        shipped,
        (ps["ps_suppkey"] == shipped["l_suppkey"])
        & (ps["p_partkey"] == shipped["l_partkey"]),
    ).filter(2 * F.col("ps_availqty") > F.col("qty"))
    keep = promo.select("ps_suppkey").distinct()
    return (
        sup.join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
        .join(keep, sup["s_suppkey"] == keep["ps_suppkey"], "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_name", "s_suppkey")
    )


def q_mixture_sample(spark, sf):
    """Deterministic domain-mixture resampling (DoReMi/Pile-style target
    mixture): keep the largest sample whose source shares equal the target
    weights (0.5/0.25/0.25 over three sources), rows chosen by stable hash
    order — retry-safe and fully re-derivable in SQL (quota arithmetic
    mirrored op-for-op; weights sum to an exact float 1.0)."""
    from gujarati_readability_pagewise_spark.operators.sampling import (
        mixture_sample,
    )

    docs = load_table(spark, sf, "documents")
    out = mixture_sample(
        docs, "source", "doc_id", {"src0": 0.5, "src1": 0.25, "src2": 0.25}
    )
    return out.select("doc_id", "source", "mix_rank")


def q_streaming_scd2(spark, sf):
    """STREAM ≡ BATCH oracle for the incremental SCD2 merge: the same
    synthetic re-crawl log as scd2_url_history arrives as a file stream in
    arbitrary micro-batch order; scd2_stream_merge maintains the history
    table via log-append + per-bucket idempotent recompute (foreachBatch);
    the final table must equal the batch SCD2 derivation exactly — DuckDB
    re-derives it directly from the full log (same oracle SQL as the batch
    query)."""
    from gujarati_readability_pagewise_spark.streaming.ingest import (
        scd2_stream_merge,
    )

    log = _scd2_fetch_log(spark, sf)
    src, state = _stream_scratch(spark, "graft_stream_scd2")
    # 12 files -> several micro-batches at maxFilesPerTrigger=4, in
    # whatever order the file source lists them (the merge is order-free)
    log.repartition(12).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("doc_id bigint, fetch_ts timestamp, fp string")
        .option("maxFilesPerTrigger", 4)
        .parquet(src)
    )
    sq = (
        scd2_stream_merge(spark, stream, state, key_col="doc_id")
        .queryName("graft_stream_scd2")
        .start()
    )
    sq.processAllAvailable()
    sq.stop()
    return spark.read.parquet(f"{state}/history").select(
        "doc_id", "version", "valid_from", "valid_to", "fp", "is_current"
    )


def q_streaming_curation(spark, sf):
    """STREAM ≡ BATCH oracle for incremental corpus curation: documents
    arrive as a file stream in arbitrary micro-batch order;
    curate_stream_merge maintains the curated, exactly-deduped corpus via
    log-append + per-digest-bucket idempotent recompute (foreachBatch, the
    scd2 merge pattern) — the final kept table must equal the batch
    curation chain exactly, which DuckDB derives directly (corpus_curation
    rules + first-global-occurrence per content digest)."""
    from gujarati_readability_pagewise_spark.streaming.ingest import (
        curate_stream_merge,
    )

    docs = load_table(spark, sf, "documents").select("doc_id", "text", "source")
    src, state = _stream_scratch(spark, "graft_stream_curate")
    docs.repartition(12).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("doc_id bigint, text string, source string")
        .option("maxFilesPerTrigger", 4)
        .parquet(src)
    )
    sq = (
        curate_stream_merge(spark, stream, state)
        .queryName("graft_stream_curate")
        .start()
    )
    sq.processAllAvailable()
    sq.stop()
    return spark.read.parquet(f"{state}/kept").select(
        "doc_id", "source", F.md5("text").alias("text_md5")
    )


def q_salted_summary(spark, sf):
    """The salted two-stage aggregation under the gate: per-host
    count/sum/avg/min/max of l_quantity over the planted ~30%-hot-host
    derivation (heavy_hitters_approx's), computed via (key, salt) partials
    merged in a second stage — the wide-aggregation skew cure.  The oracle
    is a PLAIN GROUP BY: the two-stage result must be value-identical
    (quantities are integral doubles, so the partial sums merge exactly;
    the salt is a deterministic row hash, never rand())."""
    from gujarati_readability_pagewise_spark.operators.skew import salted_summary

    li = load_table(spark, sf, "lineitem")
    hosts = li.select(
        F.when(
            F.pmod(F.col("l_orderkey"), F.lit(10)) < 3, F.lit("hot.example.com")
        )
        .otherwise(
            F.concat(
                F.lit("host-"),
                F.pmod(F.col("l_orderkey"), F.lit(1000)).cast("string"),
                F.lit(".example.com"),
            )
        )
        .alias("host"),
        F.col("l_quantity").alias("qty"),
    )
    out = salted_summary(hosts, "host", "qty", n_salts=16)
    return out.select(
        "host",
        "n",
        F.col("sum_value").cast("double").alias("sum_qty"),
        "avg_value",
        F.col("min_value").alias("min_qty"),
        F.col("max_value").alias("max_qty"),
    )


def q_dedup_survivors(spark, sf):
    """The dedup ENDPOINT — which documents survive: LSH candidates →
    exact-Jaccard(≥0.5) VERIFY → connected components → one representative
    per component (highest n_chars, ties to the lowest doc_id; singletons
    survive as their own component).  Clustering runs on VERIFIED edges,
    never raw LSH candidates: one LSH false positive would glue two
    unrelated clusters together and the representative rule would then
    delete every real document but one (see dedup_verified_components).
    Emits the full audit table (doc_id, component, is_survivor); the
    oracle re-derives candidates, the exact-Jaccard verify, the
    recursive-CTE clustering, and the representative rule."""
    from gujarati_readability_pagewise_spark.operators.components import (
        cluster_representatives,
        connected_components,
    )
    from gujarati_readability_pagewise_spark.operators.dedup import near_dup_pairs

    docs = load_table(spark, sf, "documents")
    edges = near_dup_pairs(docs, min_jaccard=0.5).select("a", "b")
    return cluster_representatives(connected_components(edges), docs)


def _shingles_sql(where: str = "") -> str:
    """DuckDB CTE ``shingles(doc_id, shingle)``: the distinct
    ``SHINGLE_K``-char shingles of the ``documents`` rows that pass
    ``where`` (``operators.dedup.char_shingles``)."""
    k = SHINGLE_K
    return f"""shingles AS (
          SELECT DISTINCT doc_id, substr(text, i, {k}) AS shingle
          FROM documents, unnest(range(1, greatest(length(text) - {k - 1}, 1) + 1)) AS t(i)
          WHERE {where}length(substr(text, i, {k})) = {k})"""


def _jaccard_sql(pair: str = "{a} < {b}") -> str:
    """CTEs ``sizes(doc_id, sz)`` and ``inter(a, b, n_common)`` over
    ``shingles``: the exact intersection of every co-shingled doc pair
    (a, b) that satisfies ``pair``, a condition on the placeholders
    ``{a}`` and ``{b}``."""
    return f"""sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
             inter AS (
          SELECT s1.doc_id AS a, s2.doc_id AS b, count(*) AS n_common
          FROM shingles s1 JOIN shingles s2 USING (shingle)
          WHERE {pair.format(a="s1.doc_id", b="s2.doc_id")} GROUP BY 1, 2)"""


def _components_sql(pairs: str, key: str = "doc_id", a: str = "a", b: str = "b") -> str:
    """CTEs ``edges``, ``nodes``, the recursive closure ``reach(n, m)`` of
    the undirected pairs (``a``, ``b``) of CTE ``pairs``, and
    ``comp(key, component)`` with component = min reachable node — the
    ``operators.components.connected_components`` contract."""
    return f"""edges AS (SELECT {a} AS src, {b} AS dst FROM {pairs}
                       UNION SELECT {b}, {a} FROM {pairs}),
             nodes AS (SELECT DISTINCT src AS n FROM edges),
             reach(n, m) AS (
          SELECT n, n FROM nodes
          UNION
          SELECT r.n, e.dst FROM reach r JOIN edges e ON r.m = e.src),
             comp AS (SELECT n AS {key}, min(m) AS component FROM reach GROUP BY n)"""


def _near_dup_sql(pair: str = "{a} < {b}") -> str:
    """``WITH RECURSIVE`` and the near-dup policy's CTEs over ``documents``
    (``operators.dedup.near_dup_pairs``): ``shingles``, the MinHash
    signature ``sig``, its LSH band table ``banded``, the candidate pairs
    ``cands(a, b)`` that satisfy ``pair`` (as in ``_jaccard_sql``), and
    the verified candidates ``vp(a, b, n_common, jaccard)`` with jaccard
    >= 0.5 (integer counts, so the comparison is engine-exact).
    Callers append CTEs with a leading comma, or the final SELECT."""
    r = N_HASHES // N_BANDS
    sig_mins = ",\n                 ".join(
        f"min(('0x' || substr(md5(shingle || '#{i}'), 1, 15))::BIGINT)"
        for i in range(N_HASHES)
    )
    return f"""
        WITH RECURSIVE {_shingles_sql()},
             sig AS (
          SELECT doc_id, [{sig_mins}] AS sig
          FROM shingles GROUP BY doc_id),
             banded AS (
          SELECT doc_id AS k, b.band,
                 md5(array_to_string(sig[b.band*{r} + 1 : b.band*{r} + {r}], ',')) AS bh
          FROM sig, unnest({list(range(N_BANDS))}) AS b(band)),
             cands AS (
          SELECT DISTINCT a.k AS a, b.k AS b
          FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh
          WHERE {pair.format(a="a.k", b="b.k")}),
             {_jaccard_sql(pair)},
             vp AS (
          SELECT i.a, i.b, i.n_common,
                 i.n_common::DOUBLE / (za.sz + zb.sz - i.n_common) AS jaccard
          FROM inter i
          JOIN sizes za ON za.doc_id = i.a
          JOIN sizes zb ON zb.doc_id = i.b
          WHERE EXISTS (SELECT 1 FROM cands c WHERE c.a = i.a AND c.b = i.b)
            AND i.n_common::DOUBLE / (za.sz + zb.sz - i.n_common) >= 0.5)"""


def _share_sql(char_class: str) -> str:
    """DuckDB share of ``text``'s characters in ``char_class``
    (``functions.textstats._ratio``)."""
    return (
        f"(length(text) - length(regexp_replace(text, '{char_class}', '', 'g')))::DOUBLE"
        " / greatest(length(text), 1)"
    )


# DuckDB twins of textstats.lang_id_expr and quality_score_expr over `text`;
# the digit/punctuation class is a name because Python 3.11 allows no
# backslash inside an f-string expression
_SOUP_CLASS = r"[0-9!-/:-@\[-`{-~]"
_LANG_ID_SQL = f"""CASE
                       WHEN {_share_sql('[઀-૿]')} > 0.3 THEN 'gu'
                       WHEN {_share_sql('[ऀ-ॿ]')} > 0.3 THEN 'hi'
                       WHEN {_share_sql('[A-Za-z]')} > 0.4 THEN 'en'
                       ELSE 'und' END"""
_QUALITY_SQL = f"""least(greatest(
                       0.4 * (CASE WHEN length(text) BETWEEN 100 AND 20000 THEN 1.0
                                   WHEN length(text) >= 20 THEN 0.5 ELSE 0.0 END)
                       + 0.4 * ({_share_sql('[A-Za-z઀-૿ऀ-ॿ]')})
                       - 0.2 * ({_share_sql(_SOUP_CLASS)})
                       + 0.2, 0.0), 1.0)"""


# DuckDB twin of textstats.curation_keep_expr: one condition per funnel
# stage over the columns of _curated_sql's `scored`
_CURATION_STAGES = (
    f"lang_pred IN ({', '.join(map(repr, CURATION_LANGS))})",
    f"q >= {MIN_QUALITY}",
    f"n_chars BETWEEN {LENGTH_BAND[0]} AND {LENGTH_BAND[1]}",
)
_CURATION_KEEP_SQL = " AND ".join(_CURATION_STAGES)


def _curated_sql() -> str:
    """DuckDB CTEs ``scored(doc_id, source, text, lang_pred, q, n_chars)``
    over ``documents`` and ``kept``, its rows that pass the curation rule."""
    return f"""scored AS (
          SELECT doc_id, source, text,
                 {_LANG_ID_SQL} AS lang_pred,
                 {_QUALITY_SQL} AS q,
                 length(text) AS n_chars
          FROM documents),
             kept AS (SELECT * FROM scored WHERE {_CURATION_KEEP_SQL})"""


def _sentences_sql(where: str = "length(arr[i]) > 0") -> str:
    """DuckDB CTE ``s(doc_id, idx, last, sent)``: each ``documents`` text
    split at '. ' (``functions.repetition``'s sentences; on the page
    template, the golden extractor's blocks), one row per piece that
    passes ``where``, ``last`` true for a text's final piece."""
    return rf"""s AS (
          SELECT doc_id, i AS idx, i = len(arr) AS last, arr[i] AS sent
          FROM (SELECT doc_id, regexp_split_to_array(text, '\. ') AS arr
                FROM documents),
               unnest(range(1, len(arr) + 1)) t(i)
          WHERE {where})"""


def _bigrams_sql(**carry: str) -> str:
    """DuckDB CTE ``gr(doc_id, *carry, gram)``: every adjacent pair of
    whitespace tokens of each ``documents`` text, 'a b' (the bigrams of
    ``functions.repetition``); ``carry`` maps extra output columns to
    their expressions over ``documents``."""
    inner = "".join(f", {e} AS {c}" for c, e in carry.items())
    outer = "".join(f", {c}" for c in carry)
    return rf"""gr AS (
          SELECT doc_id{outer}, tk[i] || ' ' || tk[i + 1] AS gram
          FROM (SELECT doc_id{inner},
                       regexp_split_to_array(trim(text), '\s+') AS tk
                FROM documents),
               unnest(range(1, greatest(len(tk) - 1, 0) + 1)) t(i)
          WHERE len(tk) >= 2)"""


def _repetition_sql() -> str:
    """DuckDB CTEs of the Gopher repetition signals
    (``functions.repetition.repetition_signals``) over ``documents``,
    ending in ``rep(doc_id, n_sents, n_d, dupc, totc, top_2gram, top_frac,
    keep)``: sentence counts, duplicate-sentence chars, the most frequent
    bigram's char fraction and the keep rule."""
    return f"""{_sentences_sql()},
             ps AS (SELECT doc_id, sent, count(*) AS cnt FROM s GROUP BY 1, 2),
             sig AS (
          SELECT doc_id,
                 CAST(sum(cnt) AS BIGINT) AS n_sents,
                 CAST(count(*) AS BIGINT) AS n_d,
                 CAST(sum((cnt - 1) * length(sent)) AS BIGINT) AS dupc,
                 CAST(sum(cnt * length(sent)) AS BIGINT) AS totc
          FROM ps GROUP BY 1),
             {_bigrams_sql(n_chars="length(text)")},
             gc AS (
          SELECT doc_id, n_chars, gram, count(*) AS cnt
          FROM gr GROUP BY 1, 2, 3),
             top AS (
          SELECT doc_id, gram,
                 cnt * length(gram) / n_chars::DOUBLE AS frac,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY cnt DESC, gram ASC) AS rn
          FROM gc),
             rep AS (
          SELECT sig.*,
                 COALESCE(top.gram, '') AS top_2gram,
                 COALESCE(top.frac, 0.0) AS top_frac,
                 CASE WHEN (sig.n_sents - sig.n_d) / sig.n_sents::DOUBLE
                             <= {MAX_DUP_SENT_FRACTION}
                           AND COALESCE(top.frac, 0.0) <= {MAX_TOP_2GRAM_CHAR_FRACTION}
                      THEN 1 ELSE 0 END AS keep
          FROM sig LEFT JOIN top ON top.doc_id = sig.doc_id AND top.rn = 1)"""


def _fluency_sql() -> str:
    """DuckDB CTEs ``gr``, the corpus bigram counts ``c`` and
    ``flu(doc_id, n_bigrams, mean_bigram_count)``: each document's mean
    corpus count over its bigrams (``functions.repetition.bigram_fluency``)."""
    return f"""{_bigrams_sql()},
             c AS (
          SELECT gram, CAST(count(*) AS BIGINT) AS corpus_cnt
          FROM gr GROUP BY gram),
             flu AS (
          SELECT gr.doc_id,
                 CAST(count(*) AS BIGINT) AS n_bigrams,
                 CAST(sum(c.corpus_cnt) AS BIGINT) / count(*)::DOUBLE
                   AS mean_bigram_count
          FROM gr JOIN c ON c.gram = gr.gram
          GROUP BY gr.doc_id)"""


def _dsir_grams_sql() -> str:
    """DuckDB CTEs ``gr`` and ``grams(doc_id, lang, bucket)``: each
    document's unigrams and bigrams hashed into 4096 buckets (DSIR's
    hashed n-gram features)."""
    return rf"""{_bigrams_sql(lang="lang")},
             grams AS (
          SELECT doc_id, lang,
                 ('0x' || substr(md5(gram), 1, 15))::BIGINT % 4096 AS bucket
          FROM (SELECT doc_id, lang, t.w AS gram
                FROM documents,
                     unnest(regexp_split_to_array(trim(text), '\s+')) t(w)
                WHERE length(t.w) > 0
                UNION ALL SELECT doc_id, lang, gram FROM gr))"""


def _spans_sql() -> str:
    """DuckDB CTEs ``s``, ``blocks(doc_id, i, para, n_words)``,
    ``labeled(doc_id, i, para, kept)`` and ``agg(doc_id, text_out)``: the
    golden extractor (``functions.extract``) on each document's page.  Its
    blocks are the text's '. ' pieces with the '.' put back on all but the
    last, blank ones dropped; a block is kept with at least
    MIN_CONTENT_WORDS words, or with at least MIN_RESCUE_WORDS next to a
    block of MIN_CONTENT_WORDS; ``agg`` joins a doc's kept blocks."""
    hi, lo = MIN_CONTENT_WORDS, MIN_RESCUE_WORDS
    return rf"""{_sentences_sql("TRUE")},
             blocks AS (
          SELECT doc_id, idx AS i, para,
                 len(regexp_split_to_array(trim(para), '\s+')) AS n_words
          FROM (SELECT doc_id, idx,
                       CASE WHEN last THEN sent ELSE sent || '.' END AS para
                FROM s)
          WHERE trim(para) != ''),
             labeled AS (
          SELECT doc_id, i, para,
                 (n_words >= {hi}) OR (n_words >= {lo} AND (
                    coalesce(lag(n_words >= {hi}) OVER w, false) OR
                    coalesce(lead(n_words >= {hi}) OVER w, false))) AS kept
          FROM blocks WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
             agg AS (
          SELECT doc_id,
                 string_agg(para, chr(10) || chr(10) ORDER BY i) AS text_out
          FROM labeled WHERE kept GROUP BY doc_id)"""


# url of a document's page (sources.catalog.pages_from_documents)
_PAGE_URL_SQL = (
    "'https://' || source || '.example.com/doc/' || doc_id || '-r0.html'"
)


def _dup_spans_sql(docs: str = "TRUE") -> str:
    """DuckDB CTEs of ExactSubstr (``operators.dedup.duplicate_spans``)
    over ``documents``: each ``_SUBSTR_WINDOW``-char window's hash
    (``wins``), its global first occurrence at the lowest (doc_id, pos)
    (``marked``), the other occurrences in docs that pass ``docs``
    (``dups``), merged into islands ``spans(doc_id, g, span_start,
    span_end, n_windows)``."""
    w = _SUBSTR_WINDOW
    return f"""wins AS (
          SELECT doc_id, i AS pos, md5(substr(text, i, {w})) AS h
          FROM documents,
               unnest(range(1, greatest(length(text) - {w - 1}, 0) + 1)) t(i)),
             marked AS (
          SELECT doc_id, pos,
                 row_number() OVER (PARTITION BY h
                                    ORDER BY doc_id, pos) AS rn
          FROM wins),
             dups AS (SELECT doc_id, pos FROM marked WHERE rn > 1 AND {docs}),
             brk AS (
          SELECT doc_id, pos,
                 CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
                                                ORDER BY pos) > {w}
                      THEN 1 ELSE 0 END AS b
          FROM dups),
             grp AS (
          SELECT doc_id, pos,
                 sum(b) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
          FROM brk),
             spans AS (
          SELECT doc_id, g, min(pos) AS span_start,
                 max(pos) + {w - 1} AS span_end, count(*) AS n_windows
          FROM grp GROUP BY doc_id, g)"""


def _dup_span_audit_sql(docs: str = "TRUE") -> str:
    """DuckDB twin of ``_span_audit``: per document that passes ``docs``,
    (doc_id, n_spans, dup_chars, n_dup_windows) of its ExactSubstr spans."""
    return f"""
        WITH {_dup_spans_sql(docs)},
             per_doc AS (
          SELECT doc_id,
                 CAST(count(*) AS BIGINT) AS n_spans,
                 CAST(sum(span_end - span_start + 1) AS BIGINT) AS dup_chars,
                 CAST(sum(n_windows) AS BIGINT) AS n_dup_windows
          FROM spans GROUP BY doc_id)
        SELECT d.doc_id,
               coalesce(p.n_spans, 0) AS n_spans,
               coalesce(p.dup_chars, 0) AS dup_chars,
               coalesce(p.n_dup_windows, 0) AS n_dup_windows
        FROM documents d LEFT JOIN per_doc p USING (doc_id)
        WHERE {docs}
    """


def _simhash_sql() -> str:
    """DuckDB CTEs ``toks``, ``sums`` and ``fp(doc_id, simhash)``: the
    16-bit SimHash (``operators.dedup.simhash``) of documents 0-199."""
    sums = ",\n                 ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(16)
    )
    fp = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {2**b} ELSE 0 END)" for b in range(16)
    )
    return rf"""toks AS (
          SELECT doc_id, t.tok,
                 ('0x' || substr(md5(t.tok), 1, 15))::BIGINT AS h
          FROM documents,
               unnest(regexp_split_to_array(trim(text), '\s+')) AS t(tok)
          WHERE doc_id < 200 AND length(t.tok) > 0),
             sums AS (
          SELECT doc_id,
                 {sums}
          FROM toks GROUP BY doc_id),
             fp AS (SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM sums)"""


def _dedup_survivors_oracle() -> str:
    """DuckDB oracle for dedup_survivors: the verified near-dup pairs, their
    recursive-CTE clustering (as in the dedup_components oracle), and the
    representative rule (n_chars DESC, doc_id ASC per component; docs in
    no verified pair are their own component)."""
    return _near_dup_sql() + f""",
             {_components_sql("vp")},
             labeled AS (
          SELECT d.doc_id, d.n_chars,
                 COALESCE(c.component, d.doc_id) AS component
          FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
             ranked AS (
          SELECT doc_id, component,
                 row_number() OVER (PARTITION BY component
                                    ORDER BY n_chars DESC, doc_id ASC) AS rn
          FROM labeled)
        SELECT doc_id, component,
               CASE WHEN rn = 1 THEN 1 ELSE 0 END AS is_survivor
        FROM ranked
    """


def _pii_fixpoint_oracle() -> str:
    """DuckDB oracle for pii_scrub_fixpoint: re-derives the planting and
    runs the full email→ipv6→ipv4→phone replacement chain TWICE (the
    patterns are dialect-identical by construction; see functions/scrub).
    """
    from gujarati_readability_pagewise_spark.functions.scrub import (
        EMAIL_RE,
        IPV4_RE,
        IPV6_RE,
        PHONE_RE,
    )

    def chain(col: str) -> str:
        return (
            "regexp_replace(regexp_replace(regexp_replace(regexp_replace("
            f"{col}, '{EMAIL_RE}', '<EMAIL>', 'g'), "
            f"'{IPV6_RE}', '\\1<IPV6>\\3', 'g'), "
            f"'{IPV4_RE}', '\\1<IP>\\4', 'g'), "
            f"'{PHONE_RE}', '<PHONE>', 'g')"
        )

    return f"""
        WITH planted AS (
          SELECT doc_id,
                 text || ' ips 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                      || '.1,10.0.' || CAST(doc_id % 256 AS VARCHAR)
                      || '.2 via fe80::' || CAST(doc_id % 9999 AS VARCHAR)
                      || ' end' AS text
          FROM documents),
             p1 AS (SELECT doc_id, {chain("text")} AS text FROM planted),
             p2 AS (SELECT doc_id, {chain("text")} AS text FROM p1)
        SELECT p1.doc_id,
               CAST(len(regexp_extract_all(p1.text, '{IPV4_RE}')) AS INT)
                 AS residual_ips_pass1,
               CAST(len(regexp_extract_all(p2.text, '{IPV4_RE}')) AS INT)
                 AS residual_ips_fixpoint,
               md5(p2.text) AS scrubbed_md5
        FROM p1 JOIN p2 USING (doc_id)
    """


def q_pii_scrub(spark, sf):
    """PII scrubbing (the email/IPv4/phone redaction tier every public
    corpus pipeline runs before training): deterministic PII is planted
    into the documents (every 7th doc an email + an IPv4, every 11th a
    phone number), then functions/scrub redacts in a fixed chain and
    emits audit counts + an md5 of the redacted text — the oracle
    re-derives the planting AND the full replacement chain (pattern
    dialect restricted to constructs with identical Java-regex/RE2
    semantics)."""
    from gujarati_readability_pagewise_spark.functions.scrub import (
        scrub_documents,
    )

    docs = load_table(spark, sf, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example-site.org via 10.0."),
                    F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
                    F.lit(".15"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(
                    F.lit(" call +1 555 010 "),
                    F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return scrub_documents(planted)


def q_pii_scrub_fixpoint(spark, sf):
    """PII scrub HARDENING case: two IPv4s separated by a single delimiter
    (the boundary class consumes the comma, so one pass leaves the second
    address unredacted — identically in both engines) plus an IPv6.  The
    query emits pass-1 residual counts (proving the gap is real) and the
    fixpoint digest (proving scrub_pii(fixpoint=True, ipv6=True) closes
    it); the oracle re-derives the planting and BOTH passes of the full
    replacement chain."""
    from gujarati_readability_pagewise_spark.functions.scrub import (
        IPV4_RE,
        scrub_pii,
    )

    docs = load_table(spark, sf, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" ips 10.0."),
            F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
            F.lit(".1,10.0."),
            F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
            F.lit(".2 via fe80::"),
            F.pmod(F.col("doc_id"), F.lit(9999)).cast("string"),
            F.lit(" end"),
        ).alias("text"),
    )
    t = F.col("text")
    once = scrub_pii(t, fixpoint=False, ipv6=True)
    fix = scrub_pii(t, fixpoint=True, ipv6=True)
    return planted.select(
        "doc_id",
        F.regexp_count(once, F.lit(IPV4_RE)).alias("residual_ips_pass1"),
        F.regexp_count(fix, F.lit(IPV4_RE)).alias("residual_ips_fixpoint"),
        F.md5(fix).alias("scrubbed_md5"),
    )


def q_tpch_q13(spark, sf):
    """Q13 shape — the one classic outer-join form the suite lacked: LEFT
    join customer→orders with the predicate in the join (zero-order
    customers must survive with c_count=0), count per customer, then a
    second aggregation ON the count.  Scale shape: the left join shuffles
    on custkey (AQE skew-split eligible); the distribution agg groups on a
    tiny integer domain, so the second shuffle is negligible and map-side
    combine collapses it early."""
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders").filter(
        F.col("o_orderpriority") != F.lit("1-URGENT")
    )
    c_orders = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        c_orders.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def q_heavy_hitters_approx(spark, sf):
    """The skew machinery's sampled pre-pass under the hard gate: plant a
    deterministic hot host over lineitem (~30% of rows), detect it from a
    content-deterministic 1/50 hash sample (operators/skew.
    heavy_hitters_hash_sampled — retry/partitioning-independent, unlike
    rand() sampling), and emit approx vs EXACT share side by side so the
    gate checks both the sampling identity and the agreement.  All
    divisions are int/int → bit-identical across engines."""
    from gujarati_readability_pagewise_spark.operators.skew import (
        heavy_hitters_hash_sampled,
    )

    li = load_table(spark, sf, "lineitem")
    hosts = li.select(
        F.concat(
            F.col("l_orderkey").cast("string"),
            F.lit("#"),
            F.col("l_linenumber").cast("string"),
        ).alias("row_key"),
        F.when(
            F.pmod(F.col("l_orderkey"), F.lit(10)) < 3, F.lit("hot.example.com")
        )
        .otherwise(
            F.concat(
                F.lit("host-"),
                F.pmod(F.col("l_orderkey"), F.lit(1000)).cast("string"),
                F.lit(".example.com"),
            )
        )
        .alias("host"),
    )
    approx = heavy_hitters_hash_sampled(
        hosts, "host", sample_on="row_key", min_share=0.1, mod=50, seed=7
    )
    total = hosts.agg(F.count("*").alias("_n"))
    exact = (
        hosts.groupBy("host")
        .agg(F.count("*").alias("n_exact"))
        .crossJoin(F.broadcast(total))
        .withColumn("share_exact", F.col("n_exact") / F.col("_n").cast("double"))
        .drop("_n")
    )
    return approx.join(exact, "host").select(
        "host", "n_sampled", "share_est", "n_exact", "share_exact"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDERING IS LOAD-BEARING: the round driver's correctness gate samples
    # the FIRST 50 entries of this dict (each CORRECTNESS_r* key set equals
    # its era's first 50).  Round-5 rotation policy: (1) every query whose
    # code or oracle changed this round leads (monitor densification,
    # curation pair-semantics, ExactSubstr head_k, packing incl. the
    # string-key form, streaming hygiene, feature-kernel fused passes,
    # and the round-5 additions dsir_select/bpe_merges/tpch_q11/tpch_q20/
    # streaming_schedule/host_blocklist/dsir_incremental), then (2) the
    # stale-witness backlog — queries whose newest
    # green driver row is r03 or older, oldest first — fills the window to
    # 50.  The remaining stale entries sit at positions 51+ and rotate
    # forward next round.  Everything past position 50 stays enforced by
    # the full local gate (tools/verify_contract.py, 133/133) and pytest.
    return {
        "volume_anomalies": q_volume_anomalies,
        "streaming_anomalies": q_streaming_anomalies,
        "streaming_curation": q_streaming_curation,
        "dedup_exact_substr": q_dedup_exact_substr,
        "dedup_incremental_substr": q_dedup_incremental_substr,
        "dedup_cut_text": q_dedup_cut_text,
        "sequence_packing": q_sequence_packing,
        "interval_join": q_interval_join,
        "streaming_windowed_counts": q_streaming_windowed_counts,
        "streaming_dedup_urls": q_streaming_dedup_urls,
        "pipeline_features": q_pipeline_features,
        "pipeline_extract": q_pipeline_extract,
        "pipeline_score_summary": q_pipeline_score_summary,
        "multimodal_features": q_multimodal_features,
        "dsir_select": q_dsir_select,
        "bpe_merges": q_bpe_merges,
        "tpch_q11": q_tpch_q11,
        "tpch_q20": q_tpch_q20,
        "streaming_schedule": q_streaming_schedule,
        "host_blocklist": q_host_blocklist,
        "sequence_packing_url": q_sequence_packing_url,
        "dsir_incremental": q_dsir_incremental,
        "corpus_datasheet": q_corpus_datasheet,
        "training_order": q_training_order,
        "decontaminate_semantic": q_decontaminate_semantic,
        "robots_filter": q_robots_filter,
        "embedding_pool": q_embedding_pool,
        "quality_drift": q_quality_drift,
        "a10_json_param_mean": q_a10_json_param_mean,
        "a1_class_distribution": q_a1_class_distribution,
        "a2_host_summary": q_a2_host_summary,
        "a3_group_decision": q_a3_group_decision,
        "a4_confusion_matrix": q_a4_confusion_matrix,
        "a5_eval_metrics": q_a5_eval_metrics,
        "a6_group_stats": q_a6_group_stats,
        "a7_two_level_rollup": q_a7_two_level_rollup,
        "a9_group_first": q_a9_group_first,
        "dedup_exact": q_dedup_exact,
        "e3_standardize": q_e3_standardize,
        "f1_host_extract": q_f1_host_extract,
        "f1_slug_cascade": q_f1_slug_cascade,
        "f2_rating_parse": q_f2_rating_parse,
        "f5_json_fence_strip": q_f5_json_fence_strip,
        "j1_semi_join": q_j1_semi_join,
        "j2_left_join": q_j2_left_join,
        "j5_anti_join": q_j5_anti_join,
        "lang_distribution": q_lang_distribution,
        "min_price_supplier": q_min_price_supplier,
        "o1_multi_sort": q_o1_multi_sort,
        "o2_sort_by_agg": q_o2_sort_by_agg,
        "o3_sorted_distinct": q_o3_sorted_distinct,
        "p7_extension_filter": q_p7_extension_filter,
        "pivot_counts": q_pivot_counts,
        "rollup_counts": q_rollup_counts,
        "sessionization": q_sessionization,
        "similarity_topk": q_similarity_topk,
        # ---- position 51+: outside the driver's 50-query sample window;
        # ---- enforced by the full local gate (133/133) and pytest ----
        "text_quality": q_text_quality,
        "text_token_count": q_text_token_count,
        "tpch_q1": q_tpch_q1,
        "tpch_q12": q_tpch_q12,
        "tpch_q14": q_tpch_q14,
        "tpch_q16": q_tpch_q16,
        "tpch_q17": q_tpch_q17,
        "tpch_q18": q_tpch_q18,
        "tpch_q22": q_tpch_q22,
        "tpch_q3": q_tpch_q3,
        "tpch_q4": q_tpch_q4,
        "tpch_q5": q_tpch_q5,
        "tpch_q6": q_tpch_q6,
        "u1_split_counts": q_u1_split_counts,
        "u2_count_distinct": q_u2_count_distinct,
        "u3_union_distinct": q_u3_union_distinct,
        "u4_intersect": q_u4_intersect,
        "u5_except": q_u5_except,
        "w1_latest_per_group": q_w1_latest_per_group,
        "w2_topk": q_w2_topk,
        "w3_topk_indices": q_w3_topk_indices,
        "w4_running_sum": q_w4_running_sum,
        "a5b_auc": q_a5b_auc,
        "asof_join": q_asof_join,
        "bigram_fluency": q_bigram_fluency,
        "dedup_incremental": q_dedup_incremental,
        "dedup_sentences": q_dedup_sentences,
        "f3_ts_format": q_f3_ts_format,
        "gopher_repetition": q_gopher_repetition,
        "heavy_hitters_approx": q_heavy_hitters_approx,
        "histogram_quantiles": q_histogram_quantiles,
        "layout_spans": q_layout_spans,
        "mixture_sample": q_mixture_sample,
        "recrawl_diff": q_recrawl_diff,
        "report_pred_histogram": q_report_pred_histogram,
        "report_roc_points": q_report_roc_points,
        "scd2_url_history": q_scd2_url_history,
        "similarity_quantized_topk": q_similarity_quantized_topk,
        "streaming_scd2": q_streaming_scd2,
        "text_fingerprint": q_text_fingerprint,
        "text_lang_id": q_text_lang_id,
        "text_length_histogram": q_text_length_histogram,
        "text_quality_score": q_text_quality_score,
        "text_top_bigrams": q_text_top_bigrams,
        "tpch_q13": q_tpch_q13,
        "tpch_q15": q_tpch_q15,
        "tpch_q19": q_tpch_q19,
        "url_canonicalize": q_url_canonicalize,
        "corpus_curation": q_corpus_curation,
        "crawl_schedule": q_crawl_schedule,
        "curation_funnel": q_curation_funnel,
        "decontaminate": q_decontaminate,
        "dedup_components": q_dedup_components,
        "dedup_embedding": q_dedup_embedding,
        "dedup_embedding_lsh": q_dedup_embedding_lsh,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_simhash": q_dedup_simhash,
        "dedup_simhash_pairs": q_dedup_simhash_pairs,
        "dedup_survivors": q_dedup_survivors,
        "dedup_verified_components": q_dedup_verified_components,
        "dedup_verified_pairs": q_dedup_verified_pairs,
        "graph_degrees": q_graph_degrees,
        "graph_pagerank": q_graph_pagerank,
        "host_quota_sample": q_host_quota_sample,
        "ngram_novelty": q_ngram_novelty,
        "pii_scrub": q_pii_scrub,
        "pii_scrub_fixpoint": q_pii_scrub_fixpoint,
        "quality_buckets": q_quality_buckets,
        "quality_weighted_sample": q_quality_weighted_sample,
        "salted_summary": q_salted_summary,
        "semantic_dedup": q_semantic_dedup,
        "sequence_chunks": q_sequence_chunks,
        "similarity_ivf_topk": q_similarity_ivf_topk,
        "similarity_lsh_recall": q_similarity_lsh_recall,
        "similarity_lsh_topk": q_similarity_lsh_topk,
        "tpch_q10": q_tpch_q10,
        "tpch_q2": q_tpch_q2,
        "tpch_q21": q_tpch_q21,
        "tpch_q7": q_tpch_q7,
        "tpch_q8": q_tpch_q8,
        "tpch_q9": q_tpch_q9,
        "vocab_coverage": q_vocab_coverage,
    }


def oracle_sql() -> dict[str, str]:
    oracles = {
        "similarity_ivf_topk": _ivf_oracle(),
        "pipeline_score_summary": _score_summary_oracle(),
        "gopher_repetition": f"""
            WITH {_repetition_sql()}
            SELECT doc_id, n_sents,
                   (n_sents - n_d) / n_sents::DOUBLE AS dup_sent_fraction,
                   dupc / totc::DOUBLE AS dup_sent_char_fraction,
                   top_2gram, top_frac AS top_2gram_char_fraction, keep
            FROM rep
        """,
        "dedup_sentences": f"""
            WITH {_sentences_sql()},
                 k AS (
              SELECT doc_id, idx, sent,
                     row_number() OVER (PARTITION BY md5(sent)
                                        ORDER BY doc_id, idx) AS rn
              FROM s),
                 reb AS (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                     string_agg(sent, '. ' ORDER BY idx) AS new_text
              FROM k WHERE rn = 1 GROUP BY doc_id),
                 tot AS (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sents
              FROM s GROUP BY doc_id)
            SELECT t.doc_id, t.n_sents,
                   COALESCE(r.n_kept, 0) AS n_kept,
                   md5(COALESCE(r.new_text, '')) AS text_md5
            FROM tot t LEFT JOIN reb r ON r.doc_id = t.doc_id
        """,
        "bigram_fluency": f"WITH {_fluency_sql()} SELECT * FROM flu",
        "histogram_quantiles": """
            WITH mm AS (
              SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi,
                     count(l_extendedprice) AS n
              FROM lineitem),
                 b AS (
              SELECT CASE WHEN mm.hi = mm.lo THEN 0
                          ELSE least(CAST(floor((l_extendedprice - mm.lo)
                                     / ((mm.hi - mm.lo) / 256.0)) AS INT), 255)
                     END AS bucket
              FROM lineitem, mm
              WHERE l_extendedprice IS NOT NULL),
                 counts AS (SELECT bucket, count(*) AS cnt FROM b GROUP BY bucket),
                 cum AS (
              SELECT bucket,
                     CAST(sum(cnt) OVER (ORDER BY bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS cum_count
              FROM counts),
                 hit AS (
              SELECT p_permille, bucket, cum_count,
                     row_number() OVER (PARTITION BY p_permille
                                        ORDER BY bucket) AS rn
              FROM cum, unnest([500, 900, 990]) t(p_permille), mm
              WHERE cum_count >= (mm.n * p_permille + 999) // 1000)
            SELECT CAST(p_permille AS INT) AS p_permille,
                   bucket, cum_count,
                   mm.lo + bucket * ((mm.hi - mm.lo) / 256.0) AS est_value
            FROM hit, mm WHERE rn = 1
        """,
        "scd2_url_history": """
            WITH log AS (
              SELECT doc_id,
                     epoch_ms((1704067200 + doc_id * 100 + fetch_i) * 1000)
                       AS fetch_ts,
                     md5(CASE WHEN fetch_i >= 1 AND doc_id % 3 = 0
                              THEN CASE WHEN fetch_i = 2 AND doc_id % 5 = 0
                                        THEN text || ' [u2]'
                                        ELSE text || ' [u1]' END
                              ELSE text END) AS fp
              FROM documents, unnest([0, 1, 2]) t(fetch_i)
              WHERE doc_id < 300),
                 ch AS (
              SELECT doc_id, fetch_ts, fp,
                     lag(fp) OVER (PARTITION BY doc_id ORDER BY fetch_ts)
                       AS prev
              FROM log),
                 vers AS (
              SELECT doc_id, fetch_ts, fp,
                     CAST(row_number() OVER (PARTITION BY doc_id
                                             ORDER BY fetch_ts) AS INT)
                       AS version,
                     lead(fetch_ts) OVER (PARTITION BY doc_id
                                          ORDER BY fetch_ts) AS valid_to
              FROM ch WHERE prev IS NULL OR fp <> prev)
            SELECT doc_id, version, fetch_ts AS valid_from, valid_to, fp,
                   CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS is_current
            FROM vers
        """,
        "similarity_quantized_topk": _quantized_oracle(),
        "dedup_incremental": _near_dup_sql("{a} >= 400 AND {b} < 400") + """
        SELECT a, b, n_common, round(jaccard, 4) AS jaccard
        FROM vp ORDER BY a, b
        """,
        "tpch_q15": """
            WITH rev AS (
              SELECT l_suppkey,
                     CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                              * 100) AS BIGINT)) AS BIGINT) AS total_rev_fp
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate <  TIMESTAMP '1996-04-01'
              GROUP BY l_suppkey)
            SELECT s.s_suppkey, s.s_name, r.total_rev_fp
            FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
            WHERE r.total_rev_fp = (SELECT max(total_rev_fp) FROM rev)
        """,
        "tpch_q19": """
            SELECT CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                     * 100) AS BIGINT)) AS BIGINT) AS revenue_fp,
                   count(*) AS n_lines
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10
                   AND l.l_quantity BETWEEN 1 AND 20)
               OR (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 20
                   AND l.l_quantity BETWEEN 10 AND 30)
               OR (p.p_brand = 'Brand#17' AND p.p_size BETWEEN 1 AND 30
                   AND l.l_quantity BETWEEN 20 AND 40)
        """,
        "pii_scrub_fixpoint": _pii_fixpoint_oracle(),
        "semantic_dedup": _semantic_dedup_oracle(),
        "quality_buckets": f"""
            WITH {_fluency_sql()},
                 labeled AS (
              SELECT f.doc_id, f.n_bigrams, f.mean_bigram_count, d.source,
                     ntile(3) OVER (PARTITION BY d.source
                       ORDER BY f.mean_bigram_count DESC, f.doc_id ASC)
                       AS ppl_bucket
              FROM flu f JOIN documents d USING (doc_id))
            SELECT source, CAST(ppl_bucket AS INT) AS ppl_bucket,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_bigrams) AS BIGINT) AS sum_bigrams
            FROM labeled GROUP BY 1, 2 ORDER BY source, ppl_bucket
        """,
        "dedup_cut_text": f"""
            WITH {_dup_spans_sql()},
                 segs AS (
              -- kept segment BEFORE each span, from the previous span's
              -- end (cursor rule identical to cut_spans' aggregate)
              SELECT doc_id,
                     coalesce(lag(span_end) OVER w, 0) + 1 AS seg_start,
                     span_start - 1 AS seg_end
              FROM spans WINDOW w AS (PARTITION BY doc_id ORDER BY span_start)
              UNION ALL
              SELECT doc_id, max(span_end) + 1 AS seg_start,
                     2147483647 AS seg_end
              FROM spans GROUP BY doc_id),
                 cut AS (
              SELECT s.doc_id,
                     string_agg(
                       substr(d.text, s.seg_start,
                              greatest(least(s.seg_end, length(d.text))
                                       - s.seg_start + 1, 0)),
                       '' ORDER BY s.seg_start) AS cut_text
              FROM segs s JOIN documents d USING (doc_id)
              GROUP BY s.doc_id)
            SELECT d.doc_id,
                   md5(coalesce(c.cut_text, d.text)) AS cut_md5,
                   CAST(length(d.text)
                        - length(coalesce(c.cut_text, d.text)) AS BIGINT)
                     AS n_cut_chars
            FROM documents d LEFT JOIN cut c USING (doc_id)
        """,
        "dedup_incremental_substr": _dup_span_audit_sql("doc_id >= 350"),
        "volume_anomalies": """
            WITH planted AS (
              SELECT ts, event_type FROM events
              UNION ALL
              SELECT TIMESTAMP '2024-01-20 03:00:07' AS ts,
                     'click' AS event_type
              FROM events WHERE event_id % 7 = 0),
                 counts AS (
              SELECT event_type AS key,
                     CAST(floor(epoch(ts) / 21600) AS BIGINT) * 21600
                       AS bucket_start,
                     CAST(count(*) AS BIGINT) AS n
              FROM planted GROUP BY 1, 2),
                 span AS (
              SELECT key, min(bucket_start) AS lo, max(bucket_start) AS hi
              FROM counts GROUP BY key),
                 grid AS (
              SELECT key, unnest(generate_series(lo, hi, 21600))
                       AS bucket_start
              FROM span),
                 dense AS (
              SELECT g.key, g.bucket_start,
                     CAST(coalesce(c.n, 0) AS BIGINT) AS n
              FROM grid g LEFT JOIN counts c
                ON g.key = c.key AND g.bucket_start = c.bucket_start),
                 win AS (
              SELECT key, bucket_start, n,
                     CAST(count(n) OVER w AS BIGINT) AS w_cnt,
                     CAST(coalesce(sum(n) OVER w, 0) AS BIGINT) AS sum_prior,
                     CAST(coalesce(sum(n * n) OVER w, 0) AS BIGINT)
                       AS sumsq_prior
              FROM dense
              WINDOW w AS (PARTITION BY key ORDER BY bucket_start
                           ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
            SELECT key, bucket_start, n, w_cnt, sum_prior, sumsq_prior,
                   CASE WHEN w_cnt >= 8
                         AND w_cnt * n > sum_prior
                         AND (w_cnt * n - sum_prior) * (w_cnt * n - sum_prior)
                             > 9 * (w_cnt * sumsq_prior
                                    - sum_prior * sum_prior)
                        THEN 1 ELSE 0 END AS is_anomaly
            FROM win
        """,
        "dsir_select": f"""
            WITH {_dsir_grams_sql()},
                 tgt AS (
              SELECT bucket, CAST(count(*) AS BIGINT) AS ct
              FROM grams WHERE lang = 'en' GROUP BY 1),
                 raw AS (
              SELECT bucket, CAST(count(*) AS BIGINT) AS cr
              FROM grams GROUP BY 1),
                 tot AS (
              SELECT (SELECT CAST(sum(ct) AS BIGINT) FROM tgt) AS t_t,
                     (SELECT CAST(sum(cr) AS BIGINT) FROM raw) AS t_r),
                 scored AS (
              SELECT g.doc_id,
                     CAST(count(*) AS BIGINT) AS n_grams,
                     CAST(sum(coalesce(t.ct, 0) + 1) AS BIGINT) AS s_target,
                     CAST(sum(r.cr + 1) AS BIGINT) AS s_raw
              FROM grams g
              LEFT JOIN tgt t USING (bucket)
              JOIN raw r USING (bucket)
              GROUP BY 1)
            SELECT * FROM (
              SELECT CAST(row_number() OVER
                       (ORDER BY CAST(s_target * (t_r + 4096) AS DOUBLE)
                                 / CAST(s_raw * (t_t + 4096) AS DOUBLE) DESC,
                                 doc_id) AS INT) AS rank,
                     doc_id, n_grams, s_target, s_raw,
                     CAST(s_target * (t_r + 4096) AS DOUBLE)
                       / CAST(s_raw * (t_t + 4096) AS DOUBLE) AS importance
              FROM scored, tot)
            WHERE rank <= 150
        """,
        "bpe_merges": """
            WITH words AS (
              SELECT t.w, CAST(count(*) AS BIGINT) AS wcnt
              FROM documents,
                   unnest(regexp_split_to_array(trim(text), '\\s+')) t(w)
              WHERE length(t.w) >= 2
              GROUP BY t.w),
                 pairs AS (
              SELECT substr(w, i, 2) AS pair, wcnt
              FROM words, unnest(range(1, length(w))) t(i)),
                 counts AS (
              SELECT pair, CAST(sum(wcnt) AS BIGINT) AS n_occurrences
              FROM pairs GROUP BY pair)
            SELECT CAST(row_number() OVER
                     (ORDER BY n_occurrences DESC, pair) AS INT) AS rank,
                   pair, n_occurrences
            FROM counts
            ORDER BY n_occurrences DESC, pair
            LIMIT 50
        """,
        "host_blocklist": """
            WITH pages AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 5 = 0
                          THEN 'cdn.' || source || '.example.org'
                          ELSE (CASE WHEN doc_id % 3 = 0 THEN 'www.'
                                     ELSE '' END)
                               || source || '.example.com' END AS host
              FROM documents),
                 bl(domain) AS (
              VALUES ('example.org'), ('src3.example.com'),
                     ('src12.example.com')),
                 parts AS (
              SELECT doc_id, host, string_split(lower(host), '.') AS ls
              FROM pages),
                 sfx AS (
              SELECT doc_id,
                     array_to_string(list_slice(ls, i, len(ls)), '.') AS s
              FROM parts, unnest(range(1, len(ls) + 1)) t(i)),
                 hit AS (
              SELECT DISTINCT doc_id FROM sfx JOIN bl ON sfx.s = bl.domain)
            SELECT p.doc_id, p.host,
                   CASE WHEN h.doc_id IS NULL THEN 0 ELSE 1 END AS blocked
            FROM pages p LEFT JOIN hit h ON h.doc_id = p.doc_id
        """,
        "sequence_packing_url": """
            WITH keyed AS (
              SELECT 'https://' || source || '.example.com/doc/'
                       || CAST(doc_id AS VARCHAR) AS url,
                     CASE WHEN trim(text) = '' THEN 0
                          ELSE CAST(len(regexp_split_to_array(trim(text),
                                    '\\s+')) AS INT) END AS n_tokens
              FROM documents),
                 c AS (
              SELECT url, n_tokens,
                     CAST(coalesce(sum(n_tokens) OVER (ORDER BY url
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS BIGINT) AS cum_before
              FROM keyed)
            SELECT url, n_tokens, cum_before,
                   CAST(cum_before // 256 AS BIGINT) AS start_chunk,
                   CAST(cum_before % 256 AS BIGINT) AS start_offset,
                   CAST(CASE WHEN n_tokens = 0 THEN cum_before // 256
                        ELSE (cum_before + n_tokens - 1) // 256 END
                     AS BIGINT) AS end_chunk
            FROM c
        """,
        "dsir_incremental": f"""
            WITH {_dsir_grams_sql()},
                 idx AS (
              SELECT bucket,
                     CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT)
                       AS ct,
                     CAST(count(*) AS BIGINT) AS cr
              FROM grams WHERE doc_id < 400 GROUP BY bucket),
                 tot AS (
              SELECT CAST(sum(ct) AS BIGINT) AS t_t,
                     CAST(sum(cr) AS BIGINT) AS t_r FROM idx)
            SELECT g.doc_id,
                   CAST(count(*) AS BIGINT) AS n_grams,
                   CAST(sum(coalesce(i.ct, 0) + 1) AS BIGINT) AS s_target,
                   CAST(sum(coalesce(i.cr, 0) + 1) AS BIGINT) AS s_raw,
                   CAST(CAST(sum(coalesce(i.ct, 0) + 1) AS BIGINT)
                        * ((SELECT t_r FROM tot) + 4096) AS DOUBLE)
                     / CAST(CAST(sum(coalesce(i.cr, 0) + 1) AS BIGINT)
                        * ((SELECT t_t FROM tot) + 4096) AS DOUBLE)
                     AS importance
            FROM grams g LEFT JOIN idx i USING (bucket)
            WHERE g.doc_id >= 400
            GROUP BY g.doc_id
        """,
        "corpus_datasheet": f"""
            WITH base AS (
              SELECT source, doc_id,
                     CASE WHEN trim(text) = '' THEN 0
                          ELSE CAST(len(regexp_split_to_array(trim(text),
                                    '\\s+')) AS BIGINT) END AS tok,
                     CAST(length(text) AS BIGINT) AS chars,
                     {_LANG_ID_SQL} AS lang_pred,
                     md5(text) AS digest
              FROM documents)
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(tok) AS BIGINT) AS n_tokens,
                   CAST(sum(chars) AS BIGINT) AS n_chars,
                   min(chars) AS min_chars,
                   max(chars) AS max_chars,
                   CAST(sum(CASE WHEN lang_pred = 'en' THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_en,
                   CAST(sum(CASE WHEN lang_pred = 'gu' THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_gu,
                   CAST(sum(CASE WHEN lang_pred = 'hi' THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_hi,
                   CAST(sum(CASE WHEN lang_pred = 'und' THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_und,
                   CAST(count(DISTINCT digest) AS BIGINT) AS n_unique_texts,
                   CAST(count(*) - count(DISTINCT digest) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE) AS dup_rate
            FROM base GROUP BY source ORDER BY source
        """,
        "training_order": """
            WITH t AS (
              SELECT d.doc_id, e.epoch,
                     ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '#ep'
                          || CAST(e.epoch AS VARCHAR)), 1, 15))::BIGINT AS h
              FROM documents d,
                   (SELECT unnest([0, 1]) AS epoch) e)
            SELECT doc_id, CAST(epoch AS INT) AS epoch,
                   CAST(row_number() OVER (PARTITION BY epoch
                                           ORDER BY h, doc_id) - 1
                     AS BIGINT) AS position
            FROM t
        """,
        "decontaminate_semantic": f"""
            WITH e AS (SELECT vec_id AS eid, embedding AS evec
                       FROM embeddings WHERE vec_id < 20),
                 c AS (SELECT vec_id, embedding AS cvec
                       FROM embeddings WHERE vec_id >= 20),
                 pairs AS (
              SELECT c.vec_id, {_cos_sql("c.cvec", "e.evec")} AS cos
              FROM c CROSS JOIN e),
                 agg AS (
              SELECT vec_id,
                     CAST(sum(CASE WHEN cos >= 0.95 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_eval_hits,
                     max(cos) AS mc
              FROM pairs GROUP BY vec_id)
            SELECT vec_id, n_eval_hits, round(mc, 4) AS max_cos,
                   CAST(CASE WHEN n_eval_hits > 0 THEN 1 ELSE 0 END AS INT)
                     AS contaminated
            FROM agg
        """,
        "robots_filter": r"""
            WITH robots(host, robots_txt) AS (VALUES
              ('h0', 'User-agent: *' || chr(10) || 'Disallow: /private'
                     || chr(10) || 'Disallow: /tmp' || chr(10)),
              ('h1', 'User-agent: *' || chr(10) || 'Allow: /' || chr(10)),
              ('h3', 'Disallow: /private' || chr(10)
                     || '# mirror of h0 minus /tmp' || chr(10))),
                 rules AS (
              SELECT host,
                     regexp_extract_all(robots_txt,
                       'Disallow:\s*(/\S*)', 1) AS dp
              FROM robots),
                 fetches AS (
              SELECT doc_id,
                     'h' || CAST(doc_id % 5 AS VARCHAR) AS host,
                     (CASE WHEN doc_id % 3 = 0 THEN '/private/p'
                           WHEN doc_id % 3 = 1 THEN '/tmp-cache/p'
                           ELSE '/pub/p' END)
                       || CAST(doc_id AS VARCHAR) AS path
              FROM documents)
            SELECT f.doc_id, f.host, f.path,
                   CAST(CASE WHEN len(list_filter(coalesce(r.dp, []),
                                  p -> starts_with(f.path, p))) > 0
                        THEN 0 ELSE 1 END AS INT) AS allowed
            FROM fetches f LEFT JOIN rules r ON r.host = f.host
        """,
        "embedding_pool": """
            WITH q AS (
              SELECT vec_id // 4 AS grp, t.i - 1 AS pos,
                     CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1000000)
                       AS BIGINT) AS qv
              FROM embeddings,
                   unnest(range(1, len(embedding) + 1)) t(i)),
                 s AS (
              SELECT grp, pos, CAST(sum(qv) AS BIGINT) AS sq,
                     CAST(count(*) AS BIGINT) AS n
              FROM q GROUP BY grp, pos)
            SELECT grp, n AS n_chunks, CAST(pos AS INT) AS pos,
                   CAST(sq AS DOUBLE) / 1000000 / CAST(n AS DOUBLE)
                     AS pooled_val
            FROM s
        """,
        "quality_drift": f"""
            WITH scored AS (
              SELECT 'corpus' AS grp,
                     1704067200 + (doc_id % 48) * 3600 AS tsec,
                     CAST(floor({_QUALITY_SQL} * 10000) AS BIGINT)
                     - (CASE WHEN doc_id % 48 = 40 THEN 2000 ELSE 0 END)
                       AS score
              FROM documents),
                 counts AS (
              SELECT grp AS key,
                     CAST(tsec // 3600 AS BIGINT) * 3600 AS bucket_start,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(score) AS BIGINT) AS score_sum
              FROM scored GROUP BY 1, 2),
                 span AS (
              SELECT key, min(bucket_start) AS lo, max(bucket_start) AS hi
              FROM counts GROUP BY key),
                 grid AS (
              SELECT key, unnest(generate_series(lo, hi, 3600))
                       AS bucket_start
              FROM span),
                 dense AS (
              SELECT g.key, g.bucket_start,
                     CAST(coalesce(c.n, 0) AS BIGINT) AS n,
                     CAST(coalesce(c.score_sum, 0) AS BIGINT) AS score_sum
              FROM grid g LEFT JOIN counts c
                ON g.key = c.key AND g.bucket_start = c.bucket_start),
                 win AS (
              SELECT key, bucket_start, n, score_sum,
                     CAST(coalesce(sum(n) OVER w, 0) AS BIGINT) AS w_n,
                     CAST(coalesce(sum(score_sum) OVER w, 0) AS BIGINT)
                       AS w_sum,
                     CAST(count(n) OVER w AS BIGINT) AS w_buckets
              FROM dense
              WINDOW w AS (PARTITION BY key ORDER BY bucket_start
                           ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
            SELECT key, bucket_start, n, score_sum, w_n, w_sum,
                   CASE WHEN w_buckets >= 8 AND n > 0 AND w_n > 0
                         AND 1 * abs(score_sum * w_n - w_sum * n)
                             > 1200 * n * w_n
                        THEN 1 ELSE 0 END AS is_drift
            FROM win
        """,
        "vocab_coverage": """
            WITH toks AS (
              SELECT t.token FROM documents,
                   unnest(regexp_split_to_array(trim(text), '\\s+')) t(token)
              WHERE length(t.token) > 0),
                 counts AS (
              SELECT token, CAST(count(*) AS BIGINT) AS cnt
              FROM toks GROUP BY token),
                 total AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM counts),
                 top AS (
              SELECT token, cnt FROM counts
              ORDER BY cnt DESC, token LIMIT 100)
            SELECT CAST(row_number() OVER (ORDER BY cnt DESC, token) AS INT)
                     AS rank,
                   token, cnt,
                   CAST(sum(cnt) OVER (ORDER BY cnt DESC, token
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS cum_cnt,
                   CAST(sum(cnt) OVER (ORDER BY cnt DESC, token
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) / CAST((SELECT t FROM total) AS DOUBLE)
                     AS cum_coverage
            FROM top
        """,
        "sequence_packing": """
            WITH t AS (
              SELECT doc_id,
                     CASE WHEN trim(text) = '' THEN 0
                          ELSE CAST(len(regexp_split_to_array(trim(text),
                                    '\\s+')) AS INT) END AS n_tokens
              FROM documents),
                 c AS (
              SELECT doc_id, n_tokens,
                     CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS BIGINT) AS cum_before
              FROM t)
            SELECT doc_id, n_tokens, cum_before,
                   CAST(cum_before // 512 AS BIGINT) AS start_chunk,
                   CAST(cum_before % 512 AS BIGINT) AS start_offset,
                   CAST(CASE WHEN n_tokens = 0 THEN cum_before // 512
                        ELSE (cum_before + n_tokens - 1) // 512 END
                        AS BIGINT) AS end_chunk
            FROM c
        """,
        "crawl_schedule": """
            WITH pages AS (
              SELECT doc_id, 'h' || CAST(doc_id % 7 AS VARCHAR) AS host
              FROM documents)
            SELECT doc_id, host,
                   CAST(row_number() OVER (PARTITION BY host
                     ORDER BY ('0x' || substr(md5(doc_id::VARCHAR || '#q0'),
                               1, 15))::BIGINT, doc_id) AS INT) AS slot,
                   CAST((row_number() OVER (PARTITION BY host
                     ORDER BY ('0x' || substr(md5(doc_id::VARCHAR || '#q0'),
                               1, 15))::BIGINT, doc_id) - 1) * 10 AS BIGINT)
                     AS sched_offset_s
            FROM pages
        """,
        "dedup_exact_substr": _dup_span_audit_sql(),
        "tpch_q8": """
            WITH flows AS (
              SELECT EXTRACT(year FROM o.o_orderdate) AS o_year,
                     CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100)
                          AS BIGINT) AS vol_fp,
                     sn.n_name AS supp_nation
              FROM lineitem l
              JOIN orders o ON o.o_orderkey = l.l_orderkey
              JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'PROMO'
              JOIN customer c ON c.c_custkey = o.o_custkey
              JOIN nation cn ON cn.n_nationkey = c.c_nationkey
              JOIN region r ON r.r_regionkey = cn.n_regionkey
                           AND r.r_name = 'ASIA'
              JOIN supplier s ON s.s_suppkey = l.l_suppkey
              JOIN nation sn ON sn.n_nationkey = s.s_nationkey
              WHERE o.o_orderdate BETWEEN DATE '1995-01-01'
                                      AND DATE '1996-12-31')
            SELECT CAST(o_year AS INT) AS o_year,
                   CAST(sum(CASE WHEN supp_nation = 'NATION_3'
                                 THEN vol_fp ELSE 0 END) AS BIGINT)
                     AS nation_vol_fp,
                   CAST(sum(vol_fp) AS BIGINT) AS total_vol_fp,
                   CAST(sum(CASE WHEN supp_nation = 'NATION_3'
                                 THEN vol_fp ELSE 0 END) AS BIGINT)
                     / CAST(CAST(sum(vol_fp) AS BIGINT) AS DOUBLE)
                     AS mkt_share
            FROM flows GROUP BY o_year ORDER BY o_year
        """,
        "tpch_q9": """
            SELECT n.n_name AS nation,
                   CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
                   CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                              * 100) AS BIGINT)
                        - CAST(floor(p.p_retailprice * 10) AS BIGINT)
                          * CAST(l.l_quantity AS BIGINT)) AS BIGINT)
                     AS profit_fp
            FROM lineitem l
            JOIN part p ON p.p_partkey = l.l_partkey
                       AND p.p_name LIKE '%red%'
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            JOIN nation n ON n.n_nationkey = s.s_nationkey
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            GROUP BY 1, 2 ORDER BY nation, o_year DESC
        """,
        "tpch_q11": """
            WITH ps AS (
              SELECT p.p_partkey,
                     (p.p_partkey * 8 + t.i) % (SELECT count(*) FROM supplier)
                       AS ps_suppkey,
                     ('0x' || substr(md5(p.p_partkey::VARCHAR || '#ps'
                          || t.i::VARCHAR), 1, 15))::BIGINT % 100000
                       AS ps_cost_fp,
                     ('0x' || substr(md5(p.p_partkey::VARCHAR || '#av'
                          || t.i::VARCHAR), 1, 15))::BIGINT % 10000 + 1
                       AS ps_availqty
              FROM part p, unnest([0, 1, 2, 3, 4, 5, 6, 7]) t(i)),
                 nsup AS (
              SELECT s.s_suppkey FROM supplier s
              JOIN nation n ON n.n_nationkey = s.s_nationkey
              WHERE n.n_name = 'NATION_7'),
                 v AS (
              SELECT p_partkey,
                     CAST(sum(ps_cost_fp * ps_availqty) AS BIGINT) AS value_fp
              FROM ps JOIN nsup ON nsup.s_suppkey = ps.ps_suppkey
              GROUP BY 1)
            SELECT p_partkey, value_fp FROM v
            WHERE value_fp > (SELECT CAST(sum(value_fp) // 10000 AS BIGINT)
                              FROM v)
            ORDER BY value_fp DESC, p_partkey
        """,
        "tpch_q20": """
            WITH sel AS (
              SELECT p_partkey FROM part WHERE p_name LIKE 'small%'),
                 ps AS (
              SELECT p.p_partkey,
                     (p.p_partkey * 8 + t.i) % (SELECT count(*) FROM supplier)
                       AS ps_suppkey,
                     ('0x' || substr(md5(p.p_partkey::VARCHAR || '#av'
                          || t.i::VARCHAR), 1, 15))::BIGINT % 10000 + 1
                       AS ps_availqty
              FROM part p JOIN sel USING (p_partkey),
                   unnest([0, 1, 2, 3, 4, 5, 6, 7]) t(i)),
                 sp AS (
              SELECT l_suppkey, l_partkey,
                     CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
              FROM lineitem JOIN sel ON sel.p_partkey = l_partkey
              WHERE l_shipdate >= DATE '1995-01-01'
                AND l_shipdate <  DATE '1997-01-01'
              GROUP BY 1, 2),
                 keep AS (
              SELECT DISTINCT ps.ps_suppkey
              FROM ps JOIN sp ON sp.l_suppkey = ps.ps_suppkey
                             AND sp.l_partkey = ps.p_partkey
              WHERE 2 * ps.ps_availqty > sp.qty)
            SELECT s.s_suppkey, s.s_name
            FROM supplier s
            JOIN nation n ON n.n_nationkey = s.s_nationkey
                         AND n.n_name = 'NATION_3'
            JOIN keep ON keep.ps_suppkey = s.s_suppkey
            ORDER BY s.s_name, s.s_suppkey
        """,
        "tpch_q21": """
            SELECT s.s_name, count(*) AS numwait
            FROM supplier s
            JOIN nation n ON n.n_nationkey = s.s_nationkey
              AND n.n_name IN ('NATION_0', 'NATION_1', 'NATION_2',
                               'NATION_3', 'NATION_4')
            JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
            JOIN orders o ON o.o_orderkey = l1.l_orderkey
            WHERE o.o_orderstatus = 'F'
              AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
              AND EXISTS (SELECT 1 FROM lineitem l2
                          WHERE l2.l_orderkey = l1.l_orderkey
                            AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (SELECT 1 FROM lineitem l3
                              WHERE l3.l_orderkey = l1.l_orderkey
                                AND l3.l_suppkey <> l1.l_suppkey
                                AND l3.l_shipdate > o.o_orderdate
                                    + INTERVAL 60 DAY)
            GROUP BY s.s_name
            ORDER BY numwait DESC, s.s_name
        """,
        "mixture_sample": """
            WITH c AS (
              SELECT source, count(*) AS n FROM documents
              WHERE source IN ('src0', 'src1', 'src2') GROUP BY source),
                 wts0 AS (
              SELECT * FROM (VALUES ('src0', 0.5e0), ('src1', 0.25e0),
                                    ('src2', 0.25e0)) w(source, wt)),
                 wts AS (
              -- normalized share, mirroring sampling.py's w / sum(weights)
              SELECT source, wt / (SELECT sum(wt) FROM wts0) AS wt FROM wts0),
                 t AS (
              SELECT min(c.n / w.wt) AS t_max FROM c JOIN wts w USING (source)),
                 q AS (
              -- floor() == Python int() for positive quotas (trunc toward zero);
              -- bare CAST(x AS INT) rounds half-to-even in DuckDB and diverges
              -- whenever t_max*wt lands exactly on x.5 (odd src0 count).
              SELECT w.source, CAST(floor(t.t_max * w.wt) AS INT) AS quota
              FROM wts w, t),
                 ranked AS (
              SELECT d.doc_id, d.source,
                     CAST(row_number() OVER (
                       PARTITION BY d.source
                       ORDER BY ('0x' || substr(md5(d.doc_id::VARCHAR || '#q0'),
                                 1, 15))::BIGINT, d.doc_id) AS INT) AS mix_rank
              FROM documents d WHERE d.source IN ('src0', 'src1', 'src2'))
            SELECT r.doc_id, r.source, r.mix_rank
            FROM ranked r JOIN q ON q.source = r.source AND r.mix_rank <= q.quota
        """,
        "dedup_survivors": _dedup_survivors_oracle(),
        "salted_summary": """
            WITH hosts AS (
              SELECT CASE WHEN l_orderkey % 10 < 3 THEN 'hot.example.com'
                          ELSE 'host-' || CAST(l_orderkey % 1000 AS VARCHAR)
                               || '.example.com' END AS host,
                     l_quantity AS qty
              FROM lineitem)
            SELECT host, count(*) AS n,
                   sum(qty) AS sum_qty,
                   sum(qty) / count(*) AS avg_value,
                   min(qty) AS min_qty,
                   max(qty) AS max_qty
            FROM hosts GROUP BY host
        """,
        "pii_scrub": """
            WITH planted AS (
              SELECT doc_id,
                     text
                     || CASE WHEN doc_id % 7 = 0
                             THEN ' contact user' || CAST(doc_id AS VARCHAR)
                                  || '@example-site.org via 10.0.'
                                  || CAST(doc_id % 256 AS VARCHAR) || '.15'
                             ELSE '' END
                     || CASE WHEN doc_id % 11 = 0
                             THEN ' call +1 555 010 '
                                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                             ELSE '' END AS text
              FROM documents)
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT)
                     AS n_emails,
                   CAST(len(regexp_extract_all(text,
                     '(^|[^\\p{L}0-9_.])((\\d{1,3}\\.){3}\\d{1,3})([^\\p{L}0-9_.]|$)')) AS INT) AS n_ips,
                   CAST(len(regexp_extract_all(text,
                     '\\+?\\d[\\d -]{7,}\\d')) AS INT) AS n_phones,
                   md5(regexp_replace(regexp_replace(regexp_replace(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                     '<EMAIL>', 'g'),
                     '(^|[^\\p{L}0-9_.])((\\d{1,3}\\.){3}\\d{1,3})([^\\p{L}0-9_.]|$)', '\\1<IP>\\4', 'g'),
                     '\\+?\\d[\\d -]{7,}\\d', '<PHONE>', 'g')) AS scrubbed_md5
            FROM planted
        """,
        "tpch_q10": """
            SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
                   CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                        * 100) AS BIGINT)) AS BIGINT) AS revenue_fp
            FROM customer c
            JOIN orders o ON o.o_custkey = c.c_custkey
            JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            JOIN nation n ON n.n_nationkey = c.c_nationkey
            WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
              AND o.o_orderdate <  TIMESTAMP '1996-07-01'
              AND l.l_returnflag = 'R'
            GROUP BY 1, 2, 3, 4
            ORDER BY revenue_fp DESC, c.c_custkey ASC
            LIMIT 20
        """,
        "tpch_q7": """
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   CAST(year(l.l_shipdate) AS INT) AS l_year,
                   CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                        * 100) AS BIGINT)) AS BIGINT) AS revenue_fp
            FROM lineitem l
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
            JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
            WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
               OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
            GROUP BY 1, 2, 3
        """,
        "tpch_q13": """
            SELECT c_count, count(*) AS custdist FROM (
              SELECT c.c_custkey, count(o.o_orderkey) AS c_count
              FROM customer c LEFT JOIN orders o
                ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
              GROUP BY c.c_custkey) t
            GROUP BY c_count ORDER BY custdist DESC, c_count DESC
        """,
        "heavy_hitters_approx": """
            WITH hosts AS (
              SELECT CAST(l_orderkey AS VARCHAR) || '#' || CAST(l_linenumber AS VARCHAR)
                       AS row_key,
                     CASE WHEN l_orderkey % 10 < 3 THEN 'hot.example.com'
                          ELSE 'host-' || CAST(l_orderkey % 1000 AS VARCHAR)
                               || '.example.com' END AS host
              FROM lineitem),
                 sampled AS (
              SELECT host FROM hosts
              WHERE ('0x' || substr(md5(row_key || '#7'), 1, 15))::BIGINT % 50 = 0),
                 approx AS (
              SELECT host, count(*) AS n_sampled,
                     count(*) / (SELECT count(*) FROM sampled)::DOUBLE AS share_est
              FROM sampled GROUP BY host),
                 exact AS (
              SELECT host, count(*) AS n_exact,
                     count(*) / (SELECT count(*) FROM hosts)::DOUBLE AS share_exact
              FROM hosts GROUP BY host)
            SELECT a.host, a.n_sampled, a.share_est, e.n_exact, e.share_exact
            FROM approx a JOIN exact e USING (host)
            WHERE a.share_est >= 0.05
            ORDER BY a.host
        """,
        "a1_class_distribution": (
            "SELECT label, count(*) AS n FROM embeddings GROUP BY label ORDER BY label"
        ),
        "a2_host_summary": """
            SELECT source,
                   count(*) AS total_docs,
                   round(avg(n_chars), 4) AS avg_chars,
                   round(stddev_samp(n_chars), 4) AS std_chars,
                   min(n_chars) AS min_chars,
                   max(n_chars) AS max_chars
            FROM documents GROUP BY source ORDER BY source
        """,
        "a3_group_decision": """
            SELECT source,
                   CASE WHEN avg(n_chars) > 250 THEN 1 ELSE 0 END AS group_flag
            FROM documents GROUP BY source ORDER BY source
        """,
        "a4_confusion_matrix": """
            SELECT label AS true_label,
                   CAST(vec_id % 3 AS INT) AS pred,
                   count(*) AS n
            FROM embeddings GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "a5_eval_metrics": """
            WITH d AS (
              SELECT CASE WHEN value > 10 THEN 0 ELSE 1 END AS lab,
                     CASE WHEN user_id % 2 = 0 THEN 0 ELSE 1 END AS pred
              FROM events)
            SELECT count(*) AS n,
                   CAST(sum(CASE WHEN lab = 0 AND pred = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                   CAST(sum(CASE WHEN lab = 1 AND pred = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                   CAST(sum(CASE WHEN lab = 0 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
                   round(sum(CASE WHEN lab = 0 AND pred = 0 THEN 1 ELSE 0 END)::DOUBLE
                     / nullif(sum(CASE WHEN pred = 0 THEN 1 ELSE 0 END), 0), 4) AS precision_pos0,
                   round(sum(CASE WHEN lab = 0 AND pred = 0 THEN 1 ELSE 0 END)::DOUBLE
                     / nullif(sum(CASE WHEN lab = 0 THEN 1 ELSE 0 END), 0), 4) AS recall_pos0
            FROM d
        """,
        "a6_group_stats": """
            SELECT l_orderkey,
                   round(avg(l_quantity), 4) AS avg_qty,
                   min(l_quantity) AS min_qty,
                   max(l_quantity) AS max_qty,
                   round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
                   count(*) AS n_lines
            FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey
        """,
        "a7_two_level_rollup": """
            WITH per_order AS (
              SELECT l_orderkey,
                     CAST(floor(CAST(sum(CAST(l_quantity AS BIGINT)) * 10000 AS DOUBLE)
                                / count(*)) AS BIGINT) AS o_avg_qty_fp
              FROM lineitem GROUP BY l_orderkey)
            SELECT o_custkey,
                   CAST(floor(CAST(sum(o_avg_qty_fp) AS DOUBLE) / count(*)) AS BIGINT)
                     / 10000.0 AS cust_avg_qty,
                   count(*) AS n_orders
            FROM per_order JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_custkey ORDER BY o_custkey
        """,
        "j1_semi_join": """
            SELECT c_custkey, c_mktsegment FROM customer c
            WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
            ORDER BY c_custkey
        """,
        "j2_left_join": """
            SELECT o_orderkey, coalesce(c_mktsegment, 'UNKNOWN') AS segment
            FROM orders LEFT JOIN customer ON o_custkey = c_custkey
            ORDER BY o_orderkey
        """,
        "j5_anti_join": """
            SELECT c_custkey, c_name FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
            ORDER BY c_custkey
        """,
        "w1_latest_per_group": """
            SELECT user_id, event_id, ts, event_type FROM (
              SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
              FROM events) WHERE rn = 1 ORDER BY user_id
        """,
        "w2_topk": """
            SELECT o_orderkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 5
        """,
        "w4_running_sum": """
            SELECT user_id, event_id,
                   round(sum(value) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                   AS running_value
            FROM events ORDER BY user_id, event_id
        """,
        "o1_multi_sort": """
            SELECT event_type, user_id, count(*) AS n
            FROM events GROUP BY event_type, user_id ORDER BY event_type, user_id
        """,
        "o3_sorted_distinct": "SELECT DISTINCT source FROM documents ORDER BY source",
        "u1_split_counts": """
            SELECT CASE WHEN doc_id % 5 = 0 THEN 'test' ELSE 'train' END AS split,
                   count(*) AS n
            FROM documents GROUP BY 1 ORDER BY 1
        """,
        "u2_count_distinct": """
            SELECT event_type,
                   count(DISTINCT user_id) AS n_users,
                   count(*) AS n_events
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "f1_host_extract": """
            SELECT doc_id,
                   regexp_extract(
                     'https://' || source || '.example.com/doc/' || doc_id || '.html',
                     'https://([^/]+)/', 1) AS host
            FROM documents ORDER BY doc_id
        """,
        "f2_rating_parse": r"""
            SELECT p_partkey,
                   CAST(regexp_extract(p_size || '/5 (Good)',
                        '(\d+(?:\.\d+)?)/5', 1) AS DOUBLE) AS rating
            FROM part ORDER BY p_partkey
        """,
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_extendedprice), 4) AS avg_price,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus
        """,
        "u4_intersect": """
            SELECT o_custkey FROM orders
            WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
            INTERSECT
            SELECT o_custkey FROM orders
            WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
            ORDER BY o_custkey
        """,
        "u5_except": """
            SELECT DISTINCT c_nationkey AS nationkey FROM customer
            EXCEPT
            SELECT DISTINCT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 9000
            ORDER BY nationkey
        """,
        "tpch_q3": """
            SELECT o_orderkey, o_orderdate, o_orderpriority,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
              AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
            GROUP BY o_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, o_orderkey ASC LIMIT 10
        """,
        "tpch_q5": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM region
            JOIN nation ON n_regionkey = r_regionkey
            JOIN customer ON c_nationkey = n_nationkey
            JOIN orders ON o_custkey = c_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
            WHERE r_name = 'ASIA'
            GROUP BY n_name ORDER BY revenue DESC, n_name ASC
        """,
        "tpch_q6": """
            SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
                   count(*) AS n
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
              AND l_discount BETWEEN 0.05 AND 0.07
              AND l_quantity < 24
        """,
        "tpch_q4": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
              AND EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
            GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        "tpch_q12": """
            SELECT l_returnflag,
                   sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                            THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
                   sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                            THEN 0 ELSE 1 END)::BIGINT AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
            GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        "tpch_q14": """
            WITH s AS (
              SELECT round(sum(CASE WHEN p_type = 'ECONOMY'
                               THEN l_extendedprice * (1 - l_discount)
                               ELSE 0.0 END), 2) AS promo_rev,
                     round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_rev
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
                AND l_shipdate < TIMESTAMP '1997-07-01 00:00:00'
            )
            SELECT promo_rev, total_rev,
                   floor(100.0 * promo_rev / total_rev * 10000) / 10000
                     AS promo_share_pct
            FROM s
        """,
        "tpch_q16": """
            SELECT p_brand, p_type, p_size,
                   count(DISTINCT l_suppkey) AS supplier_cnt
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#1'
              AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
            GROUP BY p_brand, p_type, p_size
            ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC
            LIMIT 20
        """,
        "tpch_q18": """
            SELECT c_name, c_custkey, o_orderkey, o_orderdate,
                   round(o_totalprice, 2) AS totalprice,
                   round(sum_qty, 2) AS sum_qty
            FROM (SELECT l_orderkey, sum(l_quantity) AS sum_qty
                  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250) big
            JOIN orders ON big.l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY totalprice DESC, o_orderkey ASC LIMIT 20
        """,
        "tpch_q22": """
            SELECT c_nationkey, count(*) AS numcust,
                   round(sum(c_acctbal), 2) AS totacctbal
            FROM customer
            WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
              AND NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
            GROUP BY c_nationkey ORDER BY c_nationkey
        """,
        "sessionization": """
            WITH g AS (
              SELECT user_id, event_id, ts, value,
                     CASE WHEN epoch(ts) - lag(epoch(ts)) OVER
                            (PARTITION BY user_id ORDER BY ts, event_id) > 1800
                          OR lag(ts) OVER
                            (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                          THEN 1 ELSE 0 END AS new_sess
              FROM events),
                 s AS (
              SELECT user_id, value,
                     CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                       AS session_id
              FROM g)
            SELECT user_id, session_id,
                   count(*) AS n_events,
                   round(sum(value), 2) AS session_value
            FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id
        """,
        "pivot_counts": """
            SELECT event_type,
                   CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                     AS even_users,
                   CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS odd_users
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "dedup_exact": """
            SELECT md5(text) AS text_hash, count(*) AS n_copies,
                   min(doc_id) AS keep_doc_id
            FROM documents GROUP BY md5(text) HAVING count(*) > 1
            ORDER BY text_hash
        """,
        "text_token_count": r"""
            SELECT doc_id,
                   CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens,
                   CAST(len(regexp_extract_all(text, '(\w+|[^\w\s])')) AS INT)
                     AS n_bpe_tokens,
                   length(text) AS n_chars_actual
            FROM documents ORDER BY doc_id
        """,
        "text_quality": """
            SELECT doc_id,
                   round(length(regexp_replace(text, '[^.!?,;:]', '', 'g'))::DOUBLE
                         / length(text), 4) AS punct_ratio,
                   round(length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE
                         / length(text), 4) AS digit_ratio,
                   round(length(regexp_replace(text, '[^ ]', '', 'g'))::DOUBLE
                         / length(text), 4) AS space_ratio
            FROM documents ORDER BY doc_id
        """,
        "lang_distribution": (
            "SELECT lang, count(*) AS n FROM documents GROUP BY lang ORDER BY lang"
        ),
        "w3_topk_indices": """
            SELECT CAST(t.i - 1 AS INT) AS dim,
                   round(embedding[t.i]::DOUBLE, 6) AS val
            FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
            WHERE vec_id = 0
            ORDER BY abs(embedding[t.i]::DOUBLE) DESC, dim ASC LIMIT 20
        """,
        "a9_group_first": """
            SELECT source, count(*) AS n_docs,
                   arg_min(text, doc_id) AS first_text,
                   count(DISTINCT lang) AS n_langs
            FROM documents GROUP BY source ORDER BY source
        """,
        "a10_json_param_mean": """
            SELECT event_type,
                   round(avg(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4) AS avg_k,
                   count(*) AS n
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "f5_json_fence_strip": r"""
            WITH fenced AS (
              SELECT p_partkey,
                     '```json' || chr(10) || '{"rating": "' || p_size ||
                     '/5 (Good)", "brand": "' || p_brand || '"}' || chr(10) || '```' AS s
              FROM part),
                 stripped AS (
              SELECT p_partkey,
                     regexp_replace(regexp_replace(s, '^```json\s*', ''), '\s*```$', '') AS j
              FROM fenced)
            SELECT p_partkey,
                   json_extract_string(j, '$.brand') AS brand,
                   CAST(regexp_extract(json_extract_string(j, '$.rating'),
                        '(\d+(?:\.\d+)?)/5', 1) AS DOUBLE) AS rating
            FROM stripped ORDER BY p_partkey
        """,
        "p7_extension_filter": """
            WITH named AS (
              SELECT doc_id,
                     'doc_' || doc_id || '.' ||
                     CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpg'
                                     WHEN 2 THEN 'txt' ELSE 'pdf' END AS fname
              FROM documents)
            SELECT doc_id, fname FROM named
            WHERE lower(regexp_extract(fname, '([^.]+)$', 1)) IN ('png', 'jpg')
            ORDER BY doc_id
        """,
        "u3_union_distinct": """
            SELECT DISTINCT name FROM (
              SELECT r_name AS name FROM region
              UNION ALL SELECT n_name AS name FROM nation)
            ORDER BY name
        """,
        "o2_sort_by_agg": """
            SELECT l_suppkey, round(sum(l_quantity), 2) AS total_qty
            FROM lineitem GROUP BY l_suppkey
            ORDER BY total_qty DESC, l_suppkey ASC LIMIT 20
        """,
        "rollup_counts": """
            SELECT l_returnflag, l_linestatus, count(*) AS n
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
            ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
        """,
        "e3_standardize": """
            WITH stats AS (
              SELECT avg(c_acctbal) AS mu, stddev_samp(c_acctbal) AS sd FROM customer)
            SELECT c_custkey,
                   round((c_acctbal - mu) / sd, 4) + 0.0 AS acctbal_std
            FROM customer CROSS JOIN stats ORDER BY c_custkey
        """,
        "dedup_minhash_lsh": _near_dup_sql() + """
        SELECT a, b FROM cands ORDER BY a, b
        """,
        "recrawl_diff": """
            WITH fetches AS (
              SELECT doc_id, source, f.fetch_no,
                     md5(CASE WHEN f.fetch_no = 1 AND doc_id % 3 = 0
                              THEN text || ' [updated]' ELSE text END) AS fp
              FROM documents, (SELECT unnest([0, 1]) AS fetch_no) f
              WHERE doc_id < 300),
                 diffed AS (
              SELECT source,
                     CASE WHEN fp <> lag(fp) OVER (PARTITION BY doc_id ORDER BY fetch_no)
                          THEN 1 ELSE 0 END AS changed
              FROM fetches QUALIFY fetch_no = 1)
            SELECT source,
                   CAST(sum(changed) AS BIGINT) AS n_changed,
                   CAST(sum(1 - changed) AS BIGINT) AS n_unchanged
            FROM diffed GROUP BY source ORDER BY source
        """,
        "url_canonicalize": """
            WITH noisy AS (
              SELECT doc_id,
                     'HTTPS://WWW.' || upper(source) || '.Example.COM/Doc/'
                       || CAST(doc_id AS VARCHAR)
                       || '?utm_source=feed&b=2&a=1&ref=tw&gclid=xyz#frag' AS url
              FROM documents WHERE doc_id < 400)
            SELECT doc_id,
                   lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]*)', 1))
                   || '://'
                   || lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]*)', 2))
                   || regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1)
                   || CASE WHEN canon_q = '' THEN '' ELSE '?' || canon_q END
                     AS canon_url
            FROM (
              SELECT doc_id, url,
                     array_to_string(list_sort(list_filter(
                       string_split(regexp_extract(url, '^[^#]*\\?([^#]*)', 1), '&'),
                       p -> len(p) > 0
                            AND NOT starts_with(p, 'utm_')
                            AND NOT starts_with(p, 'fbclid=')
                            AND NOT starts_with(p, 'gclid=')
                            AND NOT starts_with(p, 'ref='))), '&') AS canon_q
              FROM noisy)
            ORDER BY doc_id
        """,
        "dedup_verified_components": _near_dup_sql() + f""",
             {_components_sql("vp")}
        SELECT * FROM comp ORDER BY doc_id
        """,
        "dedup_components": _near_dup_sql() + f""",
             {_components_sql("cands")}
        SELECT * FROM comp ORDER BY doc_id
        """,
        "f1_slug_cascade": r"""
            WITH raw AS (
              SELECT doc_id,
                     '20240301120000_' || source || '_vol_' || (doc_id % 3) ||
                     (CASE WHEN doc_id % 2 = 0 THEN '_p1' ELSE '_p2' END) AS r
              FROM documents)
            SELECT doc_id,
                   trim(regexp_replace(
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(r, '^\d{14}_', ''),
                       '_p[12]$', ''),
                     '_\d+$', ''),
                   '_+', ' ', 'g')) AS slug
            FROM raw ORDER BY doc_id
        """,
        "f3_ts_format": """
            SELECT o_orderkey,
                   strftime(o_orderdate, '%Y%m%d_%H%M%S') AS stamp,
                   strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') AS iso
            FROM orders WHERE o_orderkey < 200 ORDER BY o_orderkey
        """,
        "a5b_auc": """
            WITH d AS (
              SELECT CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END AS pos,
                     value AS score, event_id
              FROM events),
                 ranked AS (
              SELECT pos, row_number() OVER (ORDER BY score ASC, event_id ASC) AS rk
              FROM d)
            SELECT round((sum(CASE WHEN pos = 1 THEN rk ELSE 0 END)
                          - sum(pos) * (sum(pos) + 1) / 2)::DOUBLE
                         / (sum(pos) * sum(1 - pos)), 6) AS auc,
                   CAST(sum(pos) AS BIGINT) AS n_pos,
                   CAST(sum(1 - pos) AS BIGINT) AS n_neg
            FROM ranked
        """,
        "dedup_verified_pairs": _near_dup_sql() + """
        SELECT a, b, n_common, round(jaccard, 4) AS jaccard
        FROM vp ORDER BY a, b
        """,
        "dedup_embedding": f"""
            WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300)
            SELECT a.vec_id AS a, b.vec_id AS b,
                   round({_cos_sql()}, 4) AS cos_sim
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE {_cos_sql()} > 0.38
            ORDER BY a, b
        """,
        "dedup_ngram_jaccard": f"""
            WITH {_shingles_sql("doc_id < 100 AND ")},
                 {_jaccard_sql()}
            SELECT a, b, n_common,
                   round(n_common::DOUBLE / (za.sz + zb.sz - n_common), 4) AS jaccard
            FROM inter
            JOIN sizes za ON za.doc_id = a
            JOIN sizes zb ON zb.doc_id = b
            ORDER BY jaccard DESC, a ASC, b ASC LIMIT 10
        """,
        "dedup_simhash": f"""
            WITH {_simhash_sql()}
            SELECT doc_id, simhash FROM fp ORDER BY doc_id
        """,
        "pipeline_features": _pipeline_features_oracle(),
        "streaming_windowed_counts": _streaming_oracle(),
        "sequence_chunks": """
            WITH toks AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS arr
              FROM documents),
                 c AS (
              SELECT doc_id, arr, t.i AS chunk_idx
              FROM toks, unnest(range(0, (len(arr) + 63) // 64)) t(i))
            SELECT doc_id,
                   CAST(chunk_idx AS INT) AS chunk_idx,
                   CAST(least(64, len(arr) - chunk_idx * 64) AS INT) AS n_tokens,
                   md5(array_to_string(arr[chunk_idx * 64 + 1 : chunk_idx * 64 + 64],
                                       ' ')) AS chunk_md5
            FROM c
        """,
        "decontaminate": """
            WITH toks AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS arr
              FROM documents),
                 cg AS (
              SELECT DISTINCT doc_id,
                     array_to_string(arr[i : i + 7], ' ') AS ngram
              FROM toks, unnest(range(1, greatest(len(arr) - 7, 0) + 1)) t(i)
              WHERE length(array_to_string(arr[i : i + 7], ' ')) > 0),
                 eg AS (SELECT doc_id, ngram FROM cg WHERE doc_id % 10 = 0)
            SELECT cg.doc_id AS corpus_id, eg.doc_id AS eval_id,
                   count(*) AS n_common
            FROM cg JOIN eg USING (ngram)
            GROUP BY 1, 2 HAVING count(*) >= 3
        """,
        "host_quota_sample": """
            WITH ranked AS (
              SELECT source, doc_id,
                     row_number() OVER (
                       PARTITION BY source
                       ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                 || '#q0'), 1, 15))::BIGINT, doc_id) AS quota_rank
              FROM documents)
            SELECT source, doc_id, CAST(quota_rank AS INT) AS quota_rank
            FROM ranked WHERE quota_rank <= 15
            ORDER BY source, quota_rank
        """,
        "curation_funnel": f"""
            WITH {_curated_sql()},
                 {_repetition_sql()},
                 flags AS (
              SELECT sc.doc_id, sc.source, sc.text,
                     CASE WHEN {_CURATION_STAGES[0]} THEN 1 ELSE 0 END AS f_lang,
                     CASE WHEN {_CURATION_STAGES[0]} AND {_CURATION_STAGES[1]}
                          THEN 1 ELSE 0 END AS f_q,
                     CASE WHEN {_CURATION_KEEP_SQL} THEN 1 ELSE 0 END AS f_len,
                     CASE WHEN {_CURATION_KEEP_SQL} AND COALESCE(r.keep, 0) = 1
                          THEN 1 ELSE 0 END AS f_rep
              FROM scored sc LEFT JOIN rep r ON r.doc_id = sc.doc_id),
                 final AS (
              SELECT source, CAST(count(*) AS BIGINT) AS n_final
              FROM (SELECT source,
                           row_number() OVER (PARTITION BY md5(text)
                                              ORDER BY doc_id) AS rn
                    FROM flags WHERE f_rep = 1)
              WHERE rn = 1 GROUP BY source)
            SELECT f.source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(f_lang) AS BIGINT) AS n_lang,
                   CAST(sum(f_q) AS BIGINT) AS n_q,
                   CAST(sum(f_len) AS BIGINT) AS n_len,
                   CAST(sum(f_rep) AS BIGINT) AS n_rep,
                   COALESCE(any_value(fi.n_final), 0) AS n_final
            FROM flags f LEFT JOIN final fi ON fi.source = f.source
            GROUP BY f.source
        """,
        "interval_join": """
            WITH intervals AS (
              SELECT user_id AS win_user, min(ts) AS start_ts,
                     min(ts) + INTERVAL 2 DAY AS end_ts
              FROM events GROUP BY user_id)
            SELECT i.win_user,
                   CAST(count(*) AS BIGINT) AS n_events_in_window,
                   CAST(count(DISTINCT e.event_type) AS BIGINT) AS n_types
            FROM intervals i
            JOIN events e ON e.ts >= i.start_ts AND e.ts <= i.end_ts
            GROUP BY i.win_user ORDER BY i.win_user
        """,
        "quality_weighted_sample": f"""
            WITH scored AS (
              SELECT doc_id, source,
                     {_QUALITY_SQL} AS q
              FROM documents)
            SELECT doc_id, source,
                   CAST(floor(q * 1000000) AS BIGINT) AS q_fp
            FROM scored
            WHERE ('0x' || substr(md5(doc_id::VARCHAR || '#q0'), 1, 15))::BIGINT
                    % 1000000
                  < least(greatest(CAST(floor(q * 1000000) AS BIGINT), 0),
                          1000000)
        """,
        "ngram_novelty": """
            WITH toks AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS arr
              FROM documents),
                 g AS (
              SELECT DISTINCT doc_id,
                     array_to_string(arr[i : i + 7], ' ') AS ngram
              FROM toks, unnest(range(1, greatest(len(arr) - 7, 0) + 1)) t(i)
              WHERE length(array_to_string(arr[i : i + 7], ' ')) > 0),
                 dfreq AS (
              SELECT ngram, count(*) AS df FROM g GROUP BY ngram),
                 per_doc AS (
              SELECT g.doc_id,
                     CAST(count(*) AS BIGINT) AS n_grams,
                     CAST(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_novel
              FROM g JOIN dfreq d USING (ngram) GROUP BY g.doc_id)
            SELECT t.doc_id,
                   coalesce(p.n_grams, 0) AS n_grams,
                   coalesce(p.n_novel, 0) AS n_novel,
                   p.n_novel / CAST(p.n_grams AS DOUBLE) AS novelty
            FROM toks t LEFT JOIN per_doc p USING (doc_id)
        """,
        "tpch_q2": """
            WITH ps AS (
              SELECT p.p_partkey, p.p_name,
                     CAST((p.p_partkey * 8 + t.i)
                          % (SELECT count(*) FROM supplier) AS BIGINT)
                       AS ps_suppkey,
                     ('0x' || substr(md5(p.p_partkey::VARCHAR || '#ps'
                          || t.i::VARCHAR), 1, 15))::BIGINT % 100000
                       AS ps_cost_fp
              FROM part p, unnest([0, 1, 2, 3, 4, 5, 6, 7]) t(i)
              WHERE p.p_size BETWEEN 10 AND 20),
                 eu AS (
              SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
              FROM supplier s
              JOIN nation n ON n.n_nationkey = s.s_nationkey
              JOIN region r ON r.r_regionkey = n.n_regionkey
                           AND r.r_name = 'EUROPE'),
                 cand AS (
              SELECT ps.p_partkey, ps.p_name, e.s_name, e.s_acctbal,
                     e.n_name, ps.ps_cost_fp
              FROM ps JOIN eu e ON e.s_suppkey = ps.ps_suppkey),
                 mins AS (
              SELECT p_partkey, min(ps_cost_fp) AS m FROM cand GROUP BY 1)
            SELECT c.s_acctbal, c.s_name, c.n_name, c.p_partkey, c.p_name,
                   CAST(c.ps_cost_fp AS BIGINT) AS ps_cost_fp
            FROM cand c
            JOIN mins ON mins.p_partkey = c.p_partkey
                     AND c.ps_cost_fp = mins.m
            ORDER BY c.s_acctbal DESC, c.n_name, c.s_name, c.p_partkey
        """,
        "streaming_curation": f"""
            WITH {_curated_sql()},
                 first AS (
              SELECT doc_id, digest FROM (
                SELECT doc_id, md5(text) AS digest,
                       row_number() OVER (PARTITION BY md5(text)
                                          ORDER BY doc_id) AS rn
                FROM kept)
              WHERE rn = 1)
            SELECT k.doc_id, k.source, md5(k.text) AS text_md5
            FROM kept k JOIN first ON first.doc_id = k.doc_id
                                  AND first.digest = md5(k.text)
        """,
        "corpus_curation": f"""
            WITH {_curated_sql()},
                 deduped AS (
              SELECT source, CAST(floor(q * 10000) AS BIGINT) AS q_fp
              FROM (SELECT source, q,
                           row_number() OVER (PARTITION BY md5(text)
                                              ORDER BY doc_id) AS rn
                    FROM kept)
              WHERE rn = 1),
                 agg AS (
              SELECT source, count(*) AS n_kept,
                     floor(CAST(sum(q_fp) AS DOUBLE) / count(*)) / 10000.0 AS avg_q
              FROM deduped GROUP BY source),
                 totals AS (
              SELECT source, count(*) AS n_docs FROM scored GROUP BY source)
            SELECT t.source,
                   CAST(t.n_docs AS BIGINT) AS n_docs,
                   CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
                   coalesce(a.n_kept, 0) / CAST(t.n_docs AS DOUBLE) AS kept_ratio,
                   coalesce(a.avg_q, 0.0) AS avg_q
            FROM totals t LEFT JOIN agg a ON a.source = t.source
            ORDER BY t.source
        """,
        "graph_pagerank": _pagerank_oracle(),
        "graph_degrees": """
            WITH params AS (SELECT count(*) AS n FROM documents),
                 edges AS (
              SELECT doc_id AS src, t.dst
              FROM documents, params,
                   unnest([(doc_id * 7 + 13) % params.n,
                           (doc_id * 31 + 7) % params.n,
                           (doc_id * 13 + 101) % params.n]) t(dst)),
                 o AS (SELECT src AS node, count(*) AS out_deg FROM edges GROUP BY src),
                 i AS (SELECT dst AS node, count(*) AS in_deg FROM edges GROUP BY dst)
            SELECT coalesce(o.node, i.node) AS node,
                   CAST(coalesce(o.out_deg, 0) AS BIGINT) AS out_deg,
                   CAST(coalesce(i.in_deg, 0) AS BIGINT) AS in_deg
            FROM o FULL JOIN i ON o.node = i.node
            ORDER BY node
        """,
        "multimodal_features": """
            SELECT doc_id AS media_id,
                   CAST(doc_id % 640 + 64 AS INT) AS width,
                   CAST(doc_id % 480 + 48 AS INT) AS height,
                   CAST(strlen(text) AS BIGINT) AS n_bytes,
                   CASE WHEN strlen(text) = 0 THEN 'empty' ELSE 'ok' END
                     AS decode_status,
                   ('0x' || substr(md5(text), 1, 2))::INT / 255.0 AS f0,
                   ('0x' || substr(md5(text), 3, 2))::INT / 255.0 AS f1,
                   ('0x' || substr(md5(text), 5, 2))::INT / 255.0 AS f2,
                   ('0x' || substr(md5(text), 7, 2))::INT / 255.0 AS f3,
                   ('0x' || substr(md5(text), 9, 2))::INT / 255.0 AS f4,
                   ('0x' || substr(md5(text), 11, 2))::INT / 255.0 AS f5,
                   ('0x' || substr(md5(text), 13, 2))::INT / 255.0 AS f6,
                   ('0x' || substr(md5(text), 15, 2))::INT / 255.0 AS f7,
                   ('0x' || substr(md5(text), 17, 2))::INT / 255.0 AS f8,
                   ('0x' || substr(md5(text), 19, 2))::INT / 255.0 AS f9,
                   ('0x' || substr(md5(text), 21, 2))::INT / 255.0 AS f10,
                   ('0x' || substr(md5(text), 23, 2))::INT / 255.0 AS f11,
                   ('0x' || substr(md5(text), 25, 2))::INT / 255.0 AS f12,
                   ('0x' || substr(md5(text), 27, 2))::INT / 255.0 AS f13,
                   ('0x' || substr(md5(text), 29, 2))::INT / 255.0 AS f14,
                   ('0x' || substr(md5(text), 31, 2))::INT / 255.0 AS f15
            FROM documents ORDER BY media_id
        """,
        "streaming_dedup_urls": """
            SELECT 'https://' || source || '.example.com/doc/' || doc_id AS url,
                   CAST(1 AS BIGINT) AS n
            FROM documents ORDER BY url
        """,
        "layout_spans": f"""
            WITH {_spans_sql()},
                 html_spans AS (
              SELECT doc_id, count(*) AS n FROM labeled WHERE kept GROUP BY doc_id),
                 text_spans AS (
              SELECT doc_id, count(*) AS n FROM blocks GROUP BY doc_id)
            SELECT {_PAGE_URL_SQL} AS url,
                   CASE WHEN doc_id % 3 = 0 THEN 'text' ELSE 'html' END AS kind,
                   CAST(CASE WHEN doc_id % 3 = 0
                             THEN coalesce(t.n, 0)
                             ELSE coalesce(h.n, 0) END AS INT) AS n_spans
            FROM documents d
            LEFT JOIN html_spans h USING (doc_id)
            LEFT JOIN text_spans t USING (doc_id)
            ORDER BY url
        """,
        "pipeline_extract": f"""
            WITH {_spans_sql()}
            SELECT {_PAGE_URL_SQL} AS url,
                   CASE WHEN coalesce(a.text_out, '') != '' THEN 'ok'
                        ELSE 'empty' END AS extract_status,
                   CAST(length(coalesce(a.text_out, '')) AS INT) AS n_text_chars,
                   md5(coalesce(a.text_out, '')) AS text_md5
            FROM documents d LEFT JOIN agg a USING (doc_id)
            ORDER BY url
        """,
        "tpch_q17": """
            WITH t AS (
              SELECT l_partkey, 0.2 * avg(l_quantity) AS qty_limit
              FROM lineitem GROUP BY l_partkey)
            SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
            FROM lineitem l
            JOIN part p ON p.p_partkey = l.l_partkey
            JOIN t ON t.l_partkey = l.l_partkey
            WHERE p.p_brand = 'Brand#13' AND l.l_quantity < t.qty_limit
        """,
        "min_price_supplier": """
            WITH li AS (SELECT * FROM lineitem WHERE l_partkey < 200),
                 mins AS (
              SELECT l_partkey, min(l_extendedprice) AS min_price
              FROM li GROUP BY l_partkey)
            SELECT li.l_partkey,
                   CAST(min(li.l_suppkey) AS BIGINT) AS best_suppkey,
                   mins.min_price
            FROM li JOIN mins
              ON li.l_partkey = mins.l_partkey
             AND li.l_extendedprice = mins.min_price
            GROUP BY li.l_partkey, mins.min_price
            ORDER BY li.l_partkey
        """,
        "similarity_lsh_recall": _lsh_recall_oracle(),
        "similarity_lsh_topk": _lsh_topk_oracle(),
        "dedup_embedding_lsh": _embedding_lsh_oracle(),
        "report_roc_points": """
            WITH d AS (
              SELECT CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END AS pos,
                     value AS score
              FROM events),
                 agg AS (
              SELECT score,
                     CAST(sum(pos) AS BIGINT) AS n_pos,
                     CAST(sum(1 - pos) AS BIGINT) AS n_neg
              FROM d GROUP BY score),
                 cum AS (
              SELECT score AS threshold,
                     CAST(sum(n_pos) OVER (ORDER BY score DESC) AS BIGINT) AS cum_tp,
                     CAST(sum(n_neg) OVER (ORDER BY score DESC) AS BIGINT) AS cum_fp
              FROM agg),
                 tot AS (
              SELECT CAST(sum(pos) AS BIGINT) AS tot_p,
                     CAST(sum(1 - pos) AS BIGINT) AS tot_n
              FROM d)
            SELECT threshold, cum_tp, cum_fp,
                   cum_tp::DOUBLE / tot_p AS tpr,
                   cum_fp::DOUBLE / tot_n AS fpr
            FROM cum, tot ORDER BY threshold DESC
        """,
        "report_pred_histogram": """
            WITH d AS (
              SELECT CASE WHEN user_id % 3 = 0 THEN 0 ELSE 1 END AS true_label,
                     value - floor(value) AS p
              FROM events),
                 b AS (
              SELECT true_label,
                     least(CAST(floor(p * 20) AS INT), 19) AS bin
              FROM d)
            SELECT true_label, bin,
                   bin / 20.0 AS bin_lo,
                   (bin + 1) / 20.0 AS bin_hi,
                   count(*) AS n
            FROM b GROUP BY true_label, bin
            ORDER BY true_label, bin
        """,
        "dedup_simhash_pairs": """
            WITH {simhash},
                 banded AS (
              SELECT doc_id, simhash, b.band,
                     (simhash >> (b.band * 4)) & 15 AS band_val
              FROM fp, unnest([0, 1, 2, 3]) AS b(band)),
                 cands AS (
              SELECT DISTINCT a.doc_id AS a, b.doc_id AS b,
                              a.simhash AS fp_a, b.simhash AS fp_b
              FROM banded a JOIN banded b
                ON a.band = b.band AND a.band_val = b.band_val
              WHERE a.doc_id < b.doc_id)
            SELECT a, b, CAST({ham} AS INT) AS hamming
            FROM cands WHERE {ham} <= 3
            ORDER BY a, b
        """.format(
            simhash=_simhash_sql(),
            ham="("
            + " + ".join(f"((xor(fp_a, fp_b) >> {b}) & 1)" for b in range(16))
            + ")",
        ),
        "text_lang_id": f"""
            WITH scored AS (SELECT {_LANG_ID_SQL} AS lang_pred FROM documents)
            SELECT lang_pred, count(*) AS n FROM scored GROUP BY lang_pred ORDER BY lang_pred
        """,
        "text_quality_score": f"""
            SELECT doc_id, round({_QUALITY_SQL}, 4) AS qscore
            FROM documents ORDER BY doc_id
        """,
        "text_fingerprint": """
            SELECT doc_id, ('0x' || substr(md5(text), 1, 15))::BIGINT AS fp
            FROM documents ORDER BY doc_id
        """,
        "text_top_bigrams": f"""
            WITH {_bigrams_sql()}
            SELECT gram AS bigram, count(*) AS n FROM gr
            GROUP BY gram ORDER BY n DESC, bigram ASC LIMIT 25
        """,
        "asof_join": """
            WITH r AS (
              SELECT o_custkey AS user_id, o_orderdate, o_orderkey,
                     row_number() OVER (PARTITION BY o_custkey, o_orderdate
                                        ORDER BY o_orderkey DESC) AS rn
              FROM orders
            ), r1 AS (SELECT user_id, o_orderdate, o_orderkey FROM r WHERE rn = 1)
            SELECT e.event_id, e.user_id,
                   r1.o_orderdate AS matched_ts, r1.o_orderkey
            FROM events e
            ASOF LEFT JOIN r1
              ON e.user_id = r1.user_id AND e.ts >= r1.o_orderdate
            WHERE e.user_id < 40
            ORDER BY e.event_id
        """,
        "text_length_histogram": """
            SELECT CAST(floor(n_chars / 500.0) AS INT) AS bucket,
                   count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM documents GROUP BY bucket ORDER BY bucket
        """,
        "similarity_topk": _cos_topk_sql(_BRUTE_PAIRS_SQL),
    }
    # a stream merge must return exactly its batch query's rows
    for stream, batch in (
        ("streaming_anomalies", "volume_anomalies"),
        ("streaming_scd2", "scd2_url_history"),
        ("streaming_schedule", "crawl_schedule"),
    ):
        oracles[stream] = oracles[batch]
    return oracles
