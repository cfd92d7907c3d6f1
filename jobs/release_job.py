"""spark-submit launcher for the corpus-release job.

Usage::

    python tools/package.py
    spark-submit --master <cluster> --py-files dist/engine.zip \
        jobs/release_job.py <docs_parquet_dir> <out_root> \
        [--seq-len 512] [--jaccard 0.5] [--cut-window 40]

Takes a table with ``text`` and a document key, ``doc_id`` when the table
has that column, else ``url`` (so the extraction pipeline's
``<out_root>/extracted`` is a valid input), and produces the
training-ready release under ``out_root`` — curation chain, verified
near-dup removal, fixpoint PII scrub, and packed-sequence coordinates
(plans/release.run_release).

The application file must use absolute imports (spark-submit runs it as a
top-level script); the engine itself ships in the zip.
"""

import sys

from gujarati_readability_pagewise_spark.plans.release import run_release
from gujarati_readability_pagewise_spark.session import get_spark


def _opt(argv, flag, default, cast):
    return cast(argv[argv.index(flag) + 1]) if flag in argv else default


def main(argv):
    docs_dir, out_root = argv[1], argv[2]
    spark = get_spark(app_name="pagewise-corpus-release")
    docs = spark.read.parquet(docs_dir)
    result = run_release(
        spark,
        docs,
        out_root,
        key_col="doc_id" if "doc_id" in docs.columns else "url",
        seq_len=_opt(argv, "--seq-len", 512, int),
        jaccard_threshold=_opt(argv, "--jaccard", 0.5, float),
        cut_spans_window=_opt(argv, "--cut-window", None, int),
    )
    print(
        "RELEASE_RESULT:",
        {k: (round(v, 3) if isinstance(v, float) else v) for k, v in result.items()},
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv))
