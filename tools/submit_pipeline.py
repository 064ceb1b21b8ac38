"""spark-submit entry point for the ER pipeline (north rule: the whole job
runs via ``spark-submit --py-files`` on a multi-executor cluster).

Usage:
    python tools/make_pyfiles.py                       # build blink_spark.zip
    spark-submit --py-files blink_spark.zip \
        tools/submit_pipeline.py <documents_parquet> <out_dir>

In spark-submit mode the session comes from the cluster manager; this script
only declares app-level SQL conf (AQE, Arrow) and never hardcodes a master.
"""

from __future__ import annotations

import argparse
import sys


def main() -> int:
    parser = argparse.ArgumentParser(description="blink_spark ER pipeline")
    parser.add_argument("documents", help="input documents parquet path")
    parser.add_argument("out_dir", help="output/checkpoint directory")
    args = parser.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("blink_spark_er")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )

    from blink_spark.pipeline import run_pipeline

    clusters = run_pipeline(spark, args.documents, args.out_dir)
    n = clusters.count()
    print(f"clusters written: {n} rows -> {args.out_dir}/clusters")
    return 0


if __name__ == "__main__":
    sys.exit(main())
