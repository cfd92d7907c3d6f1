"""Export integrity: every name a package module lists in ``__all__``
exists, so ``from module import *`` cannot break on a stale entry, and
every package module is reached from outside the tests."""

import ast
import importlib
import pkgutil
from pathlib import Path

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
