"""Seed and robots frames over the synthetic web, for crawl tests.

``gen_pages`` (``reffy_spark.sources.synthetic``) builds the pages table;
these build the seed list and the robots table that go with it.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from reffy_spark.sources.synthetic import robots_rows, url_of_page

SEEDS_SCHEMA = "seed_idx int, url string, shortname string, standing string"


def gen_seeds(spark: SparkSession, n_pages: int, n_seeds: int) -> DataFrame:
    """Seed list = every k-th page, in deterministic seed order."""
    step = max(1, n_pages // max(n_seeds, 1))
    rows = []
    for idx, page in enumerate(range(0, n_pages, step)):
        if idx >= n_seeds:
            break
        rows.append((idx, url_of_page(page), f"spec-{page}", "good"))
    return spark.createDataFrame(rows, SEEDS_SCHEMA)


def gen_robots(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        pd.DataFrame(robots_rows()),
        "host string, path_prefix string, allow boolean, crawl_delay_ms int",
    )
