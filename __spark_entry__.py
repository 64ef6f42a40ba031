"""Driver contract for the spark-graft builder (PySpark target).

Thin adapter over the engine package's query catalog
(``azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.catalog``).
``entry(spark)`` is a smoke check; each ``queries()[name]`` is compared
against the matching ``oracle_sql()[name]`` via DuckDB (row-count + schema
+ order-insensitive value-hash) by ``tools/check_oracle.py``. The
``CORRECTNESS_r{N}.json`` files at the repo root record earlier external
runs of that check; nothing writes them any more.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark import (  # noqa: E402
    catalog,
)

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (star join -> revenue by region/year) at sf0.001."""
    return catalog.q_star_join(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md section 2."""
    return dict(catalog.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle twins; keys omitted here are rows-only checks."""
    return dict(catalog.ORACLES)
