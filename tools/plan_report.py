"""Generate PLANS.md — physical-plan evidence for the flagship queries.

tools/plan_audit.py is the structural GUARD (fails on antipatterns);
this is the human-readable EVIDENCE: for each flagship query it records
the design-for-100TB properties straight from the optimized plan —
pushed filters and pruned read schemas at the parquet scans, which joins
broadcast vs shuffle, how many whole-stage-codegen spans cover the plan,
and the exchange (shuffle) count.  Regenerate after plan-affecting
changes::

    python tools/plan_report.py          # rewrites PLANS.md at sf0.01
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

FLAGSHIPS = [
    "pipeline_extract",
    "pipeline_score_summary",
    "dedup_verified_pairs",
    "dedup_exact_substr",
    "dedup_incremental_substr",
    "bigram_fluency",
    "sequence_packing",
    "corpus_curation",
    "tpch_q8",
    "tpch_q21",
    "graph_pagerank",
    "histogram_quantiles",
    # round-5 flagships
    "dsir_select",
    "host_blocklist",
    "tpch_q11",
    "bpe_merges",
]


def summarize(plan: str) -> dict:
    # Count operators from the numbered DETAIL sections of the formatted
    # explain — each physical node's detail appears exactly once (shared
    # between the AQE Initial and Final trees), so plain counting is
    # right; deduping by section-local index would collapse distinct
    # operators when a subquery section restarts numbering
    names = [n for n in re.findall(r"^\(\d+\) ([A-Za-z]+)", plan, re.M)]
    return {
        "exchanges": names.count("Exchange"),
        "broadcast_joins": names.count("BroadcastHashJoin"),
        "sortmerge_joins": names.count("SortMergeJoin"),
        "shuffled_hash_joins": names.count("ShuffledHashJoin"),
        # SparkPlan.toString marks codegen stages as `*(N) Op`; the
        # "WholeStageCodegen (N)" spelling only appears in formatted mode
        "codegen_spans": len(
            set(re.findall(r"\*\((\d+)\)", plan))
            | set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))
            | set(re.findall(r"codegen id : (\d+)", plan))
        ),
        "pushed_filters": sorted(
            set(
                f
                for f in re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
                if f.strip()
            )
        ),
        "read_schemas": sorted(
            set(re.findall(r"ReadSchema: struct<([^>]{0,120})", plan))
        ),
        "row_python_udf": bool(re.search(r"BatchEvalPython", plan)),
        "arrow_stages": len(re.findall(r"(MapInPandas|ArrowEvalPython)", plan)),
    }


def main() -> int:
    import __spark_entry__ as m
    from gujarati_readability_pagewise_spark.session import get_spark

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(master="local[8]")
    qs = m.queries()
    lines = [
        "# PLANS — physical-plan evidence for the flagship queries",
        "",
        f"Generated by `python tools/plan_report.py` over `{sf}`.",
        "`tools/plan_audit.py` is the hard guard (runs over ALL contract",
        "queries, exit-1 on antipatterns); this file is the readable",
        "summary of the scale-relevant plan properties per flagship:",
        "shuffle count, broadcast vs shuffle joins, whole-stage-codegen",
        "coverage, parquet pushdown/pruning, and Arrow (vectorized Python)",
        "stages — row-at-a-time Python anywhere is a bug.",
        "",
    ]
    import contextlib
    import io

    for name in FLAGSHIPS:
        df = qs[name](spark, sf)
        # execute first THROUGH THE SAME Dataset: AQE only materializes
        # the final plan (and its codegen ids) on the QueryExecution that
        # actually ran — a noop write would execute a different one
        df.collect()
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        plan = buf.getvalue()
        s = summarize(plan)
        lines += [f"## {name}", ""]
        lines.append(
            f"- exchanges (shuffles): **{s['exchanges']}** · broadcast joins: "
            f"**{s['broadcast_joins']}** · sort-merge: {s['sortmerge_joins']} · "
            f"shuffled-hash: {s['shuffled_hash_joins']}"
        )
        lines.append(
            f"- whole-stage-codegen spans: {s['codegen_spans']} · "
            f"Arrow stages: {s['arrow_stages']} · row-Python UDF: "
            f"{'**YES (bug)**' if s['row_python_udf'] else 'none'}"
        )
        if s["pushed_filters"]:
            lines.append(f"- pushed filters: `{'; '.join(s['pushed_filters'])[:300]}`")
        for rs in s["read_schemas"][:4]:
            lines.append(f"- read schema: `struct<{rs}…`")
        lines.append("")
        spark.catalog.clearCache()
    open(os.path.join(ROOT, "PLANS.md"), "w").write("\n".join(lines) + "\n")
    print(f"PLANS.md written ({len(FLAGSHIPS)} flagships)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
