"""End-to-end SCD1 medallion tests: the reference's de-facto golden test
(3-batch scenario, SURVEY.md section 5 / FIXTURES.md section 3) automated.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.plans.scd import (
    DuplicateMergeKeyError,
    merge_scd1_df,
)
from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.plans.star import (
    build_dim,
    build_fact,
)
from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.plans.versioned import (
    merge_scd1_versioned,
    read_version,
)

CARSALES_COLS = ["Branch_ID", "Dealer_ID", "BranchName", "DealerName", "Revenue", "Units_Sold"]


def carsales(spark, rows):
    return spark.createDataFrame(rows, CARSALES_COLS)


@pytest.fixture()
def batch0(spark):
    return carsales(
        spark,
        [
            ("BR1", "DL1", "Alpha Motors", "Deccan Motors", 1000, 2),
            ("BR2", "DL1", "Beta Motors", "Deccan Motors", 2000, 1),
            ("BR3", "DL2", "Gamma, Inc", "", 3000, 3),  # comma + empty name edges
        ],
    )


def test_initial_dim_build(spark, batch0):
    dim = build_dim(batch0, ["Branch_ID"], ["BranchName"], "dim_branch_key")
    rows = {r["Branch_ID"]: r for r in dim.collect()}
    assert len(rows) == 3
    assert sorted(r["dim_branch_key"] for r in rows.values()) == [1, 2, 3]
    assert rows["BR1"]["dim_branch_key"] == 1  # ordered by business key


def test_incremental_insert_gets_next_key(spark, batch0):
    dim0 = build_dim(batch0, ["Branch_ID"], ["BranchName"], "dim_branch_key")
    batch1 = carsales(spark, [("BR9", "DL9", "New Motors", "New Dealer", 99, 1)])
    dim1 = build_dim(batch1, ["Branch_ID"], ["BranchName"], "dim_branch_key", existing=dim0)
    merged = merge_scd1_df(dim0, dim1, ["dim_branch_key"])
    rows = {r["Branch_ID"]: r for r in merged.collect()}
    assert len(rows) == 4
    assert rows["BR9"]["dim_branch_key"] == 4  # old max + 1
    assert rows["BR1"]["BranchName"] == "Alpha Motors"  # untouched


def test_incremental_update_in_place(spark, batch0):
    dim0 = build_dim(batch0, ["Branch_ID"], ["BranchName"], "dim_branch_key")
    batch2 = carsales(spark, [("BR1", "DL1", "Alpha Motors up", "Deccan Motors", 1, 1)])
    dim2 = build_dim(batch2, ["Branch_ID"], ["BranchName"], "dim_branch_key", existing=dim0)
    merged = merge_scd1_df(dim0, dim2, ["dim_branch_key"])
    rows = {r["Branch_ID"]: r for r in merged.collect()}
    assert len(rows) == 3  # cardinality unchanged
    assert rows["BR1"]["BranchName"] == "Alpha Motors up"  # SCD1 in-place
    assert rows["BR1"]["dim_branch_key"] == 1  # same surrogate key


def test_merge_idempotent(spark, batch0):
    dim0 = build_dim(batch0, ["Branch_ID"], ["BranchName"], "dim_branch_key")
    batch2 = carsales(spark, [("BR1", "DL1", "Alpha Motors up", "Deccan Motors", 1, 1)])
    dim2 = build_dim(batch2, ["Branch_ID"], ["BranchName"], "dim_branch_key", existing=dim0)
    once = merge_scd1_df(dim0, dim2, ["dim_branch_key"])
    twice = merge_scd1_df(once, dim2, ["dim_branch_key"])
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_merge_rejects_duplicate_source_keys(spark):
    trg = spark.createDataFrame([(1, "a")], ["k", "v"])
    src = spark.createDataFrame([(1, "b"), (1, "c")], ["k", "v"])
    with pytest.raises(DuplicateMergeKeyError):
        merge_scd1_df(trg, src, ["k"])


def test_merge_path_atomic_swap(spark, tmp_path, batch0):
    """A merge into a table path publishes a new version atomically; the
    previous version stays readable."""
    target = str(tmp_path / "dim_branch")
    dim0 = build_dim(batch0, ["Branch_ID"], ["BranchName"], "dim_branch_key")
    assert merge_scd1_versioned(spark, target, dim0, ["dim_branch_key"]) == 1
    assert read_version(spark, target).count() == 3
    batch1 = carsales(spark, [("BR9", "DL9", "New Motors", "New Dealer", 99, 1)])
    dim1 = build_dim(
        batch1, ["Branch_ID"], ["BranchName"], "dim_branch_key",
        existing=read_version(spark, target),
    )
    assert merge_scd1_versioned(spark, target, dim1, ["dim_branch_key"]) == 2
    assert read_version(spark, target).count() == 4
    assert read_version(spark, target, version=1).count() == 3


def test_fact_build_star_join(spark, batch0):
    dim_branch = build_dim(batch0, ["Branch_ID"], ["BranchName"], "dim_branch_key")
    dim_dealer = build_dim(batch0, ["Dealer_ID"], ["DealerName"], "dim_dealer_key")
    fact = build_fact(
        batch0.alias("s"),
        [
            (dim_branch.alias("b"), F.col("s.Branch_ID") == F.col("b.Branch_ID"), "dim_branch_key"),
            (dim_dealer.alias("d"), F.col("s.Dealer_ID") == F.col("d.Dealer_ID"), "dim_dealer_key"),
        ],
        [F.col("s.Revenue"), F.col("s.Units_Sold")],
    )
    rows = fact.collect()
    assert len(rows) == 3  # one fact row per source row
    assert all(r["dim_branch_key"] is not None for r in rows)
    assert all(r["dim_dealer_key"] is not None for r in rows)


# ---------------------------------------------------------------------------
# SCD Type 3 (previous-value columns)
# ---------------------------------------------------------------------------


def _scd3_state(spark, rows):
    return spark.createDataFrame(rows, ["k", "name", "segment"])


def test_scd3_change_carries_previous_value(spark):
    from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.plans.scd3 import (
        merge_scd3_df,
    )

    b0 = _scd3_state(spark, [(1, "a", "s1"), (2, "b", "s2")])
    b1 = _scd3_state(spark, [(2, "b2", "s2x"), (3, "c", "s3")])
    state = merge_scd3_df(None, b0, ["k"], ["name"])
    state = merge_scd3_df(state, b1, ["k"], ["name"])
    got = {r["k"]: (r["name"], r["prev_name"], r["segment"])
           for r in state.collect()}
    assert got[1] == ("a", None, "s1")        # untouched
    assert got[2] == ("b2", "b", "s2x")       # changed: prev captured,
    #                                           non-tracked overwrites (Type 1)
    assert got[3] == ("c", None, "s3")        # new key: prev NULL


def test_scd3_idempotent_and_two_changes_keep_latest_prev(spark):
    from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.plans.scd3 import (
        merge_scd3_df,
    )

    b0 = _scd3_state(spark, [(1, "a", "s")])
    b1 = _scd3_state(spark, [(1, "b", "s")])
    b2 = _scd3_state(spark, [(1, "c", "s")])
    state = merge_scd3_df(None, b0, ["k"], ["name"])
    state = merge_scd3_df(state, b1, ["k"], ["name"])
    once = {r["k"]: (r["name"], r["prev_name"]) for r in state.collect()}
    assert once[1] == ("b", "a")
    # re-merging the identical batch must not clobber prev (no-op)
    again = merge_scd3_df(state, b1, ["k"], ["name"])
    assert {r["k"]: (r["name"], r["prev_name"]) for r in again.collect()} == once
    # a second real change keeps only the latest prior value (Type 3 keeps
    # depth-1 history by design)
    final = merge_scd3_df(again, b2, ["k"], ["name"])
    assert {r["k"]: (r["name"], r["prev_name"]) for r in final.collect()} == {
        1: ("c", "b")
    }


def test_scd3_rejects_duplicate_source_keys(spark):
    from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.plans.scd import (
        DuplicateMergeKeyError,
    )
    from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.plans.scd3 import (
        merge_scd3_df,
    )

    b0 = _scd3_state(spark, [(1, "a", "s")])
    dup = _scd3_state(spark, [(1, "x", "s"), (1, "y", "s")])
    state = merge_scd3_df(None, b0, ["k"], ["name"])
    with pytest.raises(DuplicateMergeKeyError):
        merge_scd3_df(state, dup, ["k"], ["name"])
