"""Minimal spark-submit entry: the flagship count on sf0.001.

Run as:
    spark-submit --py-files dist/robosat_spark.zip tools/submit_job.py [sf_dir]

Imports robosat_spark from the shipped zip (NOT from the repo checkout —
the test runs it from a neutral cwd to prove the packaging is complete)
and prints one line: FLAGSHIP_ROWS=<n>.
"""

from __future__ import annotations

import sys

from pyspark.sql import SparkSession


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from robosat_spark.operators.spatial_join import assign, assign_counts_per_tile
    from robosat_spark.sources.oracle_features import oracle_rect_features
    from robosat_spark.sources.pages import pages_from_events

    pg = pages_from_events(spark, sf_dir)
    ft = oracle_rect_features(spark)
    out = assign_counts_per_tile(assign(spark, pg, ft, zoom=12))
    print(f"FLAGSHIP_ROWS={out.count()}")
    spark.stop()


if __name__ == "__main__":
    main()
