"""spark-submit launcher for the extraction pipeline.

Usage::

    python tools/package.py
    spark-submit --master <cluster> --py-files dist/engine.zip \
        jobs/extract_pipeline.py <pages_parquet_dir> <out_root> [--iceberg <warehouse>]

With ``--iceberg`` the session is configured for an Iceberg hadoop catalog
(add ``--packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<v>``
to the spark-submit line).  The flag configures the session only: the
pipeline writes every output, the metrics table included, under
``<out_root>`` as parquet paths, so no write reaches the catalog.

The application file must use absolute imports (spark-submit runs it as a
top-level script); the engine itself ships in the zip.
"""

import sys

from gujarati_readability_pagewise_spark.plans.pipeline import run_pipeline
from gujarati_readability_pagewise_spark.session import get_spark
from gujarati_readability_pagewise_spark.sources.iceberg import iceberg_spark_confs


def main(argv):
    pages_dir, out_root = argv[1], argv[2]
    extra = {}
    if "--iceberg" in argv:
        wh = argv[argv.index("--iceberg") + 1]
        extra = iceberg_spark_confs(warehouse=wh)
    spark = get_spark(app_name="pagewise-extraction-pipeline", extra_conf=extra)
    result = run_pipeline(spark, spark.read.parquet(pages_dir), out_root)
    print(
        "PIPELINE_RESULT:",
        {k: (round(v, 3) if isinstance(v, float) else v) for k, v in result.items()},
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv))
