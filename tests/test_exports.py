"""Export integrity: every name a package module lists in ``__all__``
exists, so ``from module import *`` cannot break on a stale entry."""

import importlib
import pkgutil

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
