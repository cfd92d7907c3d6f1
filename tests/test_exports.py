"""Export integrity: every name a package module lists in ``__all__``
exists, so ``from module import *`` cannot break on a stale entry, every
package module is reached from outside the tests, and the contract module
writes each policy once."""

import ast
import importlib
import pkgutil
from pathlib import Path

import pytest

import gujarati_readability_pagewise_spark as pkg


def test_every_all_entry_exists():
    names = [pkg.__name__] + [
        m.name for m in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + ".")
    ]
    checked = 0
    missing = []
    for name in names:
        mod = importlib.import_module(name)
        exported = getattr(mod, "__all__", None)
        if exported is None:
            continue
        checked += 1
        missing += [f"{name}.{n}" for n in exported if not hasattr(mod, n)]
    assert checked >= 30, checked
    assert not missing, missing


def _imported_modules(path, module):
    """Absolute names of every module an AST ``import``/``from`` in ``path``
    can load, function-local imports included; ``module`` is the dotted
    name of ``path`` (``None`` for a script), used to resolve relative
    imports.  ``from a import b`` yields ``a.b`` too, since ``b`` may be a
    submodule."""
    tree = ast.parse(path.read_text(), filename=str(path))
    package = module.rsplit(".", 1)[0] if module else ""
    if path.name == "__init__.py":
        package = module
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package.rsplit(".", node.level - 1)[0]
                base = f"{anchor}.{base}" if base else anchor
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    return names


def test_every_module_reached_outside_tests():
    """Every package module is reachable by static imports from a job, a
    tool, the bench scripts, ``__spark_entry__.py`` or the benchmark, so
    no module survives that only tests import."""
    root = Path(pkg.__file__).resolve().parents[1]
    pkg_dir = root / pkg.__name__
    modules = {}
    for path in pkg_dir.rglob("*.py"):
        parts = path.relative_to(root).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        modules[".".join(parts)] = path
    roots = [
        *(root / "jobs").glob("*.py"),
        *(root / "tools").glob("*.py"),
        *(root / "perfbench").glob("*.py"),
        root / "bench.py",
        root / "bench_extra.py",
        root / "__spark_entry__.py",
    ]
    reached = set()
    todo = [name for p in roots for name in _imported_modules(p, None)]
    while todo:
        name = todo.pop()
        # importing a.b.c runs a, a.b and a.b.c
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            prefix = ".".join(parts[:i])
            if prefix in modules and prefix not in reached:
                reached.add(prefix)
                todo.extend(_imported_modules(modules[prefix], prefix))
    unreached = sorted(set(modules) - reached)
    assert len(modules) > 40, len(modules)
    assert not unreached, unreached


# One signature fragment per policy that the contract module
# (``__spark_entry__.py``) builds its queries and DuckDB oracles from.
POLICY_FRAGMENTS = {
    "near_dup_minhash": "md5(shingle || '#",
    "extractor_span_rule": "coalesce(lag(n_words >= ",
    "page_url": "'-r0.html'",
    "exact_substr_windows": "md5(substr(text, i, ",
    "exact_substr_audit_sql": "AS BIGINT) AS n_dup_windows",
    "exact_substr_audit_spark": 'F.sum("n_windows").alias("n_dup_windows")',
    "ivf_fixed_point_mean": "CAST(sum(e.efp[{d + 1}]) // count(*) AS BIGINT)",
    "hyperplane_probe": "xor(s.sig, f.flip)",
    "cosine": "p -> CAST(p[1] * p[2] AS DOUBLE)",
    "topk_ranking": "PARTITION BY q_id",
    "simhash": "THEN 1 ELSE -1 END) AS s{b}",
    "curation_scored": "{_QUALITY_SQL} AS q,",
    "curation_rule": "IN ('gu', 'hi', 'en')",
    "repetition_keep": "(sig.n_sents - sig.n_d) / sig.n_sents::DOUBLE",
    "sentence_explode": r"regexp_split_to_array(text, '\. ')",
    "bigram_explode": "tk[i] || ' ' || tk[i + 1]",
    "bigram_fluency": "CAST(sum(c.corpus_cnt) AS BIGINT)",
    "dsir_buckets": "::BIGINT % 4096",
    "stream_scratch": "for q in spark.streams.active:",
    "scd2_fetch_log": 'F.lit(" [u2]")',
}


@pytest.mark.parametrize("fragment", POLICY_FRAGMENTS.values(), ids=POLICY_FRAGMENTS)
def test_contract_policy_written_once(fragment):
    """Each policy has one builder or helper in the contract module, so a
    change to the policy is one edit, not one per query and oracle."""
    root = Path(pkg.__file__).resolve().parents[1]
    assert (root / "__spark_entry__.py").read_text().count(fragment) == 1
