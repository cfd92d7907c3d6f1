"""Seeded benchmark inputs and their on-disk cache.

Every input is a pure function of ``(workload, seed)``:

* the **document corpus** is fixed (``CORPUS_SEED``) and shaped like the
  ``documents`` table of the repository's sf test data: ~54 words drawn uniformly
  from a 30-word vocabulary, 10-100 words per doc, 5 % near-duplicates
  (an earlier doc's text plus `` dup``), a few exact copies, and a
  multilingual ``lang`` label.  The seed sets only row order and
  partitioning, so per-url results and the release funnel must not depend
  on it;
* the **skewed crawl pages** come from ``sources.pages.gen_pages_pdf(n,
  seed)``, so the seed changes the pages themselves.

Built inputs land under ``<checkout>/.perfbench_cache`` and are reused by
later runs with the same seed.  A directory counts as built only once its
``_COMPLETE`` marker exists, so an interrupted build is redone, never read.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")
MARKER = "_COMPLETE"

CORPUS_SEED = 42
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20


def gen_documents(n_docs: int, seed: int = CORPUS_SEED) -> pd.DataFrame:
    """documents(doc_id, text, lang, source, n_chars) as pandas."""
    rng = np.random.RandomState(seed)
    texts: list[str] = []
    for i in range(n_docs):
        u = rng.random_sample()
        if i and u < 0.05:
            texts.append(texts[int(rng.randint(0, i))] + " dup")
        elif i and u < 0.052:
            texts.append(texts[int(rng.randint(0, i))])
        else:
            n = int(rng.randint(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.randint(0, len(VOCAB), n)))
    langs = rng.choice(LANGS, size=n_docs, p=LANG_P)
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def cached(name: str, build: Callable[[str], None]) -> str:
    """Return ``CACHE/name``, calling ``build(tmp_dir)`` first if the
    directory has no completion marker.  ``build`` writes into a fresh
    temporary directory that is renamed into place only when it returns."""
    out = os.path.join(CACHE, name)
    if os.path.exists(os.path.join(out, MARKER)):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        build(tmp)
        with open(os.path.join(tmp, MARKER), "w"):
            pass
        shutil.rmtree(out, ignore_errors=True)  # an unfinished earlier build
        os.rename(tmp, out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def corpus_dir(n_docs: int) -> str:
    """A directory holding ``documents.parquet`` for the fixed corpus, in
    the layout ``sources.catalog`` reads."""

    def build(tmp: str) -> None:
        gen_documents(n_docs).to_parquet(
            os.path.join(tmp, "documents.parquet"), index=False
        )

    return cached(f"corpus_n{n_docs}", build)


def write_permuted(table, seed: int, n_files: int, out_dir: str) -> None:
    """Write ``table`` to ``out_dir`` as ``n_files`` parquet files, rows in
    an order set by ``seed``: the seed sets row order and partitioning."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    # Spark writes timestamps as INT96, which Arrow reads as zone-less
    # nanoseconds; store them as the UTC microseconds Spark reads back
    for i, f in enumerate(table.schema):
        if pa.types.is_timestamp(f.type):
            ts = table.column(i).cast(pa.timestamp("us", tz="UTC"))
            table = table.set_column(i, f.name, ts)
    perm = np.random.RandomState(seed).permutation(table.num_rows)
    shuffled = table.take(perm)
    os.makedirs(out_dir)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        part = shuffled.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(out_dir, f"part-{i:05d}.parquet"))
