"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark at sf0.01 and its ``oracle_sql()``
on DuckDB over the same parquet, then compares row count + column names +
order-insensitive values (columns sorted by name, rows sorted, floats
rounded) — approximating the driver's value-hash check.

Usage: python tools/verify_contract.py [sf_dir] [query ...]
       python tools/verify_contract.py --scope-out SCOPE.json [sf_dir] [query ...]

``--scope-out`` writes a machine-readable result artifact: pass/fail
lists, the skipped-oracle map with reasons, counts, and per query the
sha256 of its oracle's result after the compare's own normalization
(``oracle_sha256``), so the scope files of two checkouts can be diffed
query by query to show that an oracle rewrite returns the same rows.
At an sf0.1 directory, queries named in ``SF01_ORACLE_EXCLUDED`` are
skipped (the exclusion is ORACLE cost — DuckDB-side recursive CTEs that
spill tens of GB — never engine cost: their Spark plans run at sf0.1 in
bench.py, and their oracles are verified green at sf0.01).
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

# Queries whose DUCKDB re-derivation is infeasible at sf0.1, measured
# round 5 on this host: each ran solo with a 600 s timeout and either
# timed out or filled ~79 GB of DuckDB temp spill.  Every other contract
# query (125/127) passes its oracle at sf0.1 — see
# CORRECTNESS_SF01_SCOPE.json for the verified list.
SF01_ORACLE_EXCLUDED = {
    "dedup_verified_components": (
        "oracle-side recursive CTE over the LSH->exact-Jaccard verified "
        "edge set (unrolled shingle self-join feeding WITH RECURSIVE): "
        ">600s / multi-GB spill in DuckDB at sf0.1; Spark plan runs sf0.1 "
        "in bench; oracle green at sf0.01"
    ),
    "dedup_survivors": (
        "same recursive-CTE verified-edge chain plus the survivor "
        "min-struct re-derivation: DuckDB temp spill exhausted disk at "
        "sf0.1; Spark plan runs sf0.1 in bench; oracle green at sf0.01"
    ),
}

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        kind = df[c].dtype.kind
        if kind in "iu":
            df[c] = df[c].astype("int64")
        elif kind == "f":
            df[c] = df[c].astype("float64").round(6)
        elif kind == "M":
            df[c] = df[c].astype("datetime64[us]").astype(str)
        else:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def oracle_sha256(duck_pdf: pd.DataFrame) -> str:
    """sha256 of a result as ``compare`` sees it (``_norm``-ed, as CSV)."""
    return hashlib.sha256(_norm(duck_pdf).to_csv(index=False).encode()).hexdigest()


def compare(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(
            f"columns differ: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}"
        )
        return problems
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} duck={len(duck_pdf)}")
    a, b = _norm(spark_pdf), _norm(duck_pdf)
    if len(a) == len(b):
        for c in a.columns:
            neq = a[c].astype(str) != b[c].astype(str)
            if neq.any():
                i = int(neq.idxmax())
                problems.append(
                    f"col {c}: {int(neq.sum())} diffs; first at row {i}: "
                    f"spark={a[c][i]!r} duck={b[c][i]!r}"
                )
    return problems


def main() -> int:
    args = sys.argv[1:]
    scope_out = None
    if "--scope-out" in args:
        i = args.index("--scope-out")
        if i + 1 >= len(args):
            print(__doc__)
            return 2
        scope_out = args[i + 1]
        args = args[:i] + args[i + 2:]
    sf = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    only = set(a for a in args if "/" not in a)
    excluded: dict[str, str] = {}
    if "sf0.1" in sf and not only:
        excluded = dict(SF01_ORACLE_EXCLUDED)

    import __spark_entry__ as entrymod
    from gujarati_readability_pagewise_spark.session import get_spark
    from gujarati_readability_pagewise_spark.sources.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )

    spark = get_spark(master="local[8]")
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    passed: list[str] = []
    failed: list[str] = []
    shas: dict[str, str] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name in excluded:
            print(f"excluded {name}: {excluded[name][:60]}...")
            continue
        # isolate queries: cached relations retained from a previous query
        # measurably SLOW later runs of the dedup family (stale InMemory
        # entries compete with fresh plans) — each query pays its own cost
        spark.catalog.clearCache()
        t0 = time.time()
        try:
            spark_pdf = fn(spark, sf).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark raised {type(e).__name__}: {e}")
            n_fail += 1
            failed.append(name)
            continue
        dt = time.time() - t0
        if name not in oracles:
            ok = len(spark_pdf) >= 0
            print(f"rows-only {name}: {len(spark_pdf)} rows ({dt:.1f}s)")
            n_rows_only += 1
            continue
        try:
            duck_pdf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb raised {type(e).__name__}: {e}")
            n_fail += 1
            failed.append(name)
            continue
        shas[name] = oracle_sha256(duck_pdf)
        problems = compare(spark_pdf, duck_pdf)
        if problems:
            print(f"FAIL {name} ({dt:.1f}s):")
            for p in problems:
                print("   ", p)
            n_fail += 1
            failed.append(name)
        else:
            print(f"PASS {name}: {len(spark_pdf)} rows ({dt:.1f}s)")
            n_pass += 1
            passed.append(name)
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only, "
          f"{len(excluded)} excluded")
    if scope_out:
        with open(scope_out, "w") as f:
            json.dump(
                {
                    "sf_dir": sf,
                    "counts": {
                        "total_contract_queries": len(qs),
                        "run": n_pass + n_fail + n_rows_only,
                        "pass": n_pass,
                        "fail": n_fail,
                        "rows_only": n_rows_only,
                        "excluded": len(excluded),
                    },
                    "pass": passed,
                    "fail": failed,
                    "excluded": excluded,
                    "oracle_sha256": shas,
                },
                f,
                indent=1,
            )
            f.write("\n")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
