"""Table scan for the driver-provided testdata tables.

One Parquet file per table under the scale-factor directory. The crawl
engine's own sinks (checkpoint pages, crawl log, frontier and the
bucketed state table) are direct Parquet writes in
``CrawlPlan.commit`` (plans/crawl.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one driver-provided table (SURVEY.md §2 S1 seed-table scan)."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
