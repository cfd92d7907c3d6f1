"""Export integrity: every name a package module lists in ``__all__``
exists, so ``from module import *`` cannot break on a stale entry, every
package module and every public name in it is reached from outside the
tests, and the contract module writes each policy once."""

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


def _roots(root):
    """The files that run outside the tests: jobs, tools, the bench
    scripts, the contract module and the benchmark."""
    return [
        *(root / "jobs").glob("*.py"),
        *(root / "tools").glob("*.py"),
        *(root / "perfbench").glob("*.py"),
        root / "bench.py",
        root / "bench_extra.py",
        root / "__spark_entry__.py",
    ]


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
    reached = set()
    todo = [name for p in _roots(root) for name in _imported_modules(p, None)]
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


# Public names that no job, tool or query calls yet, kept on purpose.
REACHED_BY_DESIGN = {
    # the training path ROADMAP keeps: it fits the model the jobs score with
    "train_model",
    "grid_search",
    "save_model",
    "load_model",
    # the typed reader of the metrics table that both plans write
    "read_metrics",
    # the per-tree oracle of predict_proba's arena walk; tree_to_sql mirrors it
    "DecisionTree.predict_p0",
}


def _loads(node, pkg_aliases):
    """Identifiers that code under ``node`` loads: bare names, names that
    ``from ... import`` binds, and ``alias.attr`` where ``alias`` is bound
    by an import from this package.  Strings and docstrings do not count."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            out.add(n.id)
        elif isinstance(n, ast.ImportFrom):
            out.update(a.name for a in n.names)
        elif (
            isinstance(n, ast.Attribute)
            and isinstance(n.value, ast.Name)
            and n.value.id in pkg_aliases
        ):
            out.add(n.attr)
    return out


def _attrs(node):
    """Attribute names that code under ``node`` loads, ``x.name`` for any
    ``x``: each counts as a call of every method with that name."""
    return {
        n.attr
        for n in ast.walk(node)
        if isinstance(n, ast.Attribute) and isinstance(n.ctx, ast.Load)
    }


def _pkg_aliases(tree):
    """Names an import from this package binds in ``tree``; one may be a
    module, so its attributes are loads of that module's names."""
    out = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Import):
            out.update(
                (a.asname or a.name).split(".")[0]
                for a in n.names
                if a.name.split(".")[0] == pkg.__name__
            )
        elif isinstance(n, ast.ImportFrom) and (
            n.level or (n.module or "").split(".")[0] == pkg.__name__
        ):
            out.update(a.asname or a.name for a in n.names)
    return out


def test_every_public_name_reached_outside_tests():
    """Every ``__all__`` name, public top-level function or class and
    public method of a package module is loaded, transitively, from the
    roots of the module test, so no function survives that only tests
    call.  Names are matched without their module, and a method by any
    attribute load of its name, which can only over-count."""
    root = Path(pkg.__file__).resolve().parents[1]
    reached = set(REACHED_BY_DESIGN)
    attrs = set()
    for path in _roots(root):
        tree = ast.parse(path.read_text(), filename=str(path))
        reached |= _loads(tree, _pkg_aliases(tree))
        attrs |= _attrs(tree)
    bodies = {}
    public = []
    for path in (root / pkg.__name__).rglob("*.py"):
        tree = ast.parse(path.read_text(), filename=str(path))
        aliases = _pkg_aliases(tree)
        module = ".".join(path.relative_to(root / pkg.__name__).with_suffix("").parts)
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                loads, body_attrs = bodies.setdefault(node.name, (set(), set()))
                loads.update(_loads(node, aliases))
                body_attrs.update(_attrs(node))
                if not node.name.startswith("_"):
                    public.append((module, node.name))
                if isinstance(node, ast.ClassDef):
                    public += [
                        (module, f"{node.name}.{f.name}")
                        for f in node.body
                        if isinstance(f, ast.FunctionDef) and not f.name.startswith("_")
                    ]
            elif any(getattr(t, "id", None) == "__all__" for t in getattr(node, "targets", ())):
                public += [(module, n) for n in ast.literal_eval(node.value)]
            else:
                # module-level code runs on import, and every module is imported
                reached |= _loads(node, aliases)
                attrs |= _attrs(node)
    todo = list(reached)
    while todo:
        loads, body_attrs = bodies.get(todo.pop(), ((), ()))
        attrs.update(body_attrs)
        for name in loads:
            if name not in reached:
                reached.add(name)
                todo.append(name)
    unreached = sorted({
        f"{m}.{n}" for m, n in public
        # a method ``Class.name`` is also reached by any load of ``x.name``
        if n not in reached and n.partition(".")[2] not in attrs
    })
    assert len(public) > 200, len(public)
    assert not unreached, "\n".join(unreached)


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
    "curation_rule": "lang_pred IN ({', '.join(map(repr, CURATION_LANGS))})",
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
