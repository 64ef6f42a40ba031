from __future__ import annotations

import os
import sys
import uuid

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("ENGINE_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.session import (
        get_spark,
    )

    spark = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def assert_df_equal(actual, expected, sort_by=None):
    """Order-insensitive DataFrame equality on collected rows."""
    a = actual.toPandas()
    e = expected.toPandas()
    cols = sorted(a.columns)
    assert cols == sorted(e.columns), f"{cols} != {sorted(e.columns)}"
    key = sort_by or cols
    a = a[cols].sort_values(key).reset_index(drop=True)
    e = e[cols].sort_values(key).reset_index(drop=True)
    import pandas.testing as pdt

    pdt.assert_frame_equal(a, e, check_dtype=False)


def jobs_and_error(spark, build):
    """Call ``build()`` under a fresh job group: the number of Spark jobs
    it ran and the ValueError it raised (None if it returned)."""
    sc = spark.sparkContext
    group = f"build_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count the jobs of one build")
    err = None
    try:
        build()
    except ValueError as exc:
        err = exc
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), err
