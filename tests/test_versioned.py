"""Versioned-table (transaction-log-lite) tests: atomic publish protocol,
time travel, crash-window behavior, vacuum retention."""

from __future__ import annotations

import os

import pytest

from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.plans.versioned import (
    commit_record,
    commit_version,
    current_version,
    list_versions,
    merge_scd1_versioned,
    read_version,
    vacuum,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "vt")


def test_commit_read_roundtrip_and_versions(spark, root):
    v1 = commit_version(_df(spark, [(1, "a"), (2, "b")]), root)
    v2 = commit_version(_df(spark, [(1, "a2"), (3, "c")]), root)
    assert (v1, v2) == (1, 2)
    assert current_version(root) == 2
    assert list_versions(root) == [1, 2]
    latest = {r["k"]: r["v"] for r in read_version(spark, root).collect()}
    assert latest == {1: "a2", 3: "c"}
    # time travel
    old = {r["k"]: r["v"] for r in read_version(spark, root, version=1).collect()}
    assert old == {1: "a", 2: "b"}


def test_crash_before_publish_leaves_previous_version_current(spark, root):
    commit_version(_df(spark, [(1, "a")]), root)
    # simulate a writer that wrote its snapshot but died before the
    # pointer flip: an orphan version directory, pointer unchanged
    orphan = os.path.join(root, "_versions", "v00000002")
    _df(spark, [(9, "zz")]).write.parquet(orphan)
    assert current_version(root) == 1
    assert {r["k"] for r in read_version(spark, root).collect()} == {1}
    # the next successful commit numbers PAST the orphan (no clobber)
    v = commit_version(_df(spark, [(2, "b")]), root)
    assert v == 3
    assert current_version(root) == 3


def test_merge_scd1_versioned_history(spark, root):
    merge_scd1_versioned(spark, root, _df(spark, [(1, "a"), (2, "b")]), ["k"])
    merge_scd1_versioned(spark, root, _df(spark, [(2, "B"), (3, "c")]), ["k"])
    merge_scd1_versioned(spark, root, _df(spark, [(1, "A")]), ["k"])
    assert current_version(root) == 3
    as_of = lambda v: {  # noqa: E731
        r["k"]: r["v"] for r in read_version(spark, root, version=v).collect()
    }
    assert as_of(1) == {1: "a", 2: "b"}
    assert as_of(2) == {1: "a", 2: "B", 3: "c"}
    assert as_of(3) == {1: "A", 2: "B", 3: "c"}


def test_vacuum_keeps_current_and_recent(spark, root):
    for i in range(4):
        commit_version(_df(spark, [(i, "x")]), root)
    removed = vacuum(root, keep_last=2)
    assert removed == [1, 2]
    assert list_versions(root) == [3, 4]
    assert {r["k"] for r in read_version(spark, root).collect()} == {3}
    with pytest.raises(FileNotFoundError):
        read_version(spark, root, version=1)


def test_retention_delete_is_versioned_and_exact(spark, tmp_path):
    """GDPR delete: the new version lacks exactly the tombstoned keys,
    the prior version still serves them (snapshot isolation), and
    vacuum reclaims it afterwards."""
    from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.plans.versioned import (
        commit_version,
        read_version,
        retention_delete,
        vacuum,
    )

    root = str(tmp_path / "tbl")
    rows = [(i, i % 5, f"v{i}") for i in range(50)]
    df = spark.createDataFrame(rows, ["id", "user", "payload"])
    v1 = commit_version(df, root)
    tomb = spark.createDataFrame([(1,), (3,)], ["user"])
    v2 = retention_delete(spark, root, tomb, ["user"])
    assert v2 == v1 + 1
    cur = read_version(spark, root)
    assert cur.filter("user in (1, 3)").count() == 0
    assert cur.count() == 30
    # snapshot isolation: the pre-delete version still has everything
    assert read_version(spark, root, version=v1).count() == 50
    # physical reclamation is a separate, explicit step
    removed = vacuum(root, keep_last=1)
    assert removed == [v1]
    assert read_version(spark, root).count() == 30


def _record_path(root, v):
    return os.path.join(root, "_versions", f"v{v:08d}", "_commit.json")


def test_commit_record_holds_schema_and_observed_stats(spark, root):
    """The commit record carries what the write job saw: the reader's
    schema (partition columns last), the row count and each bigint
    column's maximum. A read through it launches no Spark job and sees
    exactly the schema inference would give."""
    df = spark.createDataFrame(
        [(1, "a", 2019), (7, "b", 2020), (3, "c", 2020)], "k long, v string, yr int"
    )
    commit_version(df, root, partition_by=["yr"])
    rec = commit_record(root)
    assert rec["rows"] == 3 and rec["max"] == {"k": 7}
    assert [f["name"] for f in rec["schema"]["fields"]] == ["k", "v", "yr"]

    sc = spark.sparkContext
    group = "read-version-jobs"
    sc.setJobGroup(group, "read through the commit record")
    try:
        got = read_version(spark, root)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    snap = os.path.join(root, "_versions", "v00000001")
    assert got.schema == spark.read.parquet(snap).schema
    assert sorted(map(tuple, got.collect())) == [(1, "a", 2019), (3, "c", 2020), (7, "b", 2020)]


def test_snapshot_without_commit_record_reads_and_vacuums(spark, root):
    """Snapshots written before commit records existed still read (schema
    inferred); time travel returns each version's own schema; vacuum
    removes a record with its snapshot."""
    commit_version(_df(spark, [(1, "a")]), root)
    commit_version(
        spark.createDataFrame([(2, "b", 0.5)], "k long, v string, w double"), root
    )
    os.remove(_record_path(root, 2))  # a snapshot from before the records
    assert commit_record(root) is None
    assert read_version(spark, root).columns == ["k", "v", "w"]
    assert [tuple(r) for r in read_version(spark, root).collect()] == [(2, "b", 0.5)]
    assert read_version(spark, root, version=1).columns == ["k", "v"]
    assert commit_record(root, 1)["max"] == {"k": 1}

    commit_version(_df(spark, [(3, "c")]), root)
    assert vacuum(root, keep_last=1) == [1, 2]
    assert not os.path.exists(_record_path(root, 1))
    assert os.path.exists(_record_path(root, 3))
    assert commit_record(root, 1) is None
