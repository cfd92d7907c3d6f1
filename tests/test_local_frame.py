"""session: driver-built rows as an Arrow-backed LocalRelation
(``local_frame``), and the default driver heap."""

import ast
import os
import pathlib

import pytest

from gujarati_readability_pagewise_spark.plans.checkpoint import MANIFEST_SCHEMA
from gujarati_readability_pagewise_spark.session import local_frame

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "gujarati_readability_pagewise_spark"

# every DDL the package passes to local_frame, plus two more int/string/
# double tables, with rows shaped like the caller's (NULLs included where
# the type allows them)
CASES = [
    (MANIFEST_SCHEMA, []),
    ("stage string, n double", [("n_input", 500.0), ("t_curation", 1.25)]),
    ("job_id string, metric string, value double",
     [("j", "rows_out", 4000.0), ("j", "auc", None), (None, "x", -0.0)]),
    ("_bkt int, _tp_off bigint, _fp_off bigint", [(0, 0, 0), (63, 2**40, 7)]),
    ("combo_idx int, params string, mean_score double", [(0, "a=1; b=2", 0.875)]),
    ("feature_idx int, feature string, importance double",
     [(0, "n_chars", 0.5), (1, "f1", 0.0)]),
    ("source string, _quota int", [("web", 10), ("books", 0)]),
    ("epoch int, _bkt int, _off bigint", [(0, 0, 0), (1, 3, 12345678901)]),
    ("_bkt int, _off bigint", [(0, 0), (1, 17)]),
    ("p_permille int", [(500,), (990,)]),
    ("cell int, cent array<double>", [(0, [0.25, -1.5]), (1, [])]),
    ("cell int, cent array<bigint>",
     [(0, [1, -2**62]), (1, None), (2, [3, None]), (3, [])]),
]


@pytest.mark.parametrize("ddl,rows", CASES, ids=[c[0] for c in CASES])
def test_local_frame_matches_create_dataframe(spark, ddl, rows):
    for rs in (rows, []):
        got = local_frame(spark, rs, ddl)
        want = spark.createDataFrame(rs, ddl)
        assert got.schema == want.schema  # names, types and nullability
        assert got.collect() == want.collect()
        plan = got._jdf.queryExecution().optimizedPlan().toString()
        assert plan.startswith("LocalRelation"), plan


def test_package_creates_frames_only_through_local_frame():
    """Every driver-built table reaches the JVM through local_frame."""
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        allowed = set()
        if path.name == "session.py" and path.parent == PACKAGE:
            for fn in ast.walk(tree):
                if isinstance(fn, ast.FunctionDef) and fn.name == "local_frame":
                    allowed = {id(n) for n in ast.walk(fn)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and id(node) not in allowed
            ):
                offenders.append(f"{path.relative_to(PACKAGE)}:{node.lineno}")
    assert not offenders, offenders


@pytest.mark.skipif(
    "SPARK_GRAFT_DRIVER_MEM" in os.environ, reason="the heap is set explicitly"
)
def test_default_driver_heap_at_most_quarter_of_memory(spark):
    """Without ``SPARK_GRAFT_DRIVER_MEM`` the driver heap, which holds every
    local-mode executor, is at most a quarter of physical memory, so a test
    run and a tool's session fit on one host side by side."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    conf = spark.sparkContext.getConf().get("spark.driver.memory")
    utils = spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils
    assert utils.byteStringAsBytes(conf) <= phys // 4
