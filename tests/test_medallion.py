"""End-to-end medallion pipeline test: the reference's 3-batch SCD1 golden
scenario (FIXTURES.md section 3) through ingest -> bronze -> silver -> gold,
driven from CSV files exactly like the reference's ADF flow."""

from __future__ import annotations

import random
import uuid

import pytest
from pyspark.sql import functions as F

from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.plans import (
    medallion,
)
from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.plans.medallion import (
    CARSALES,
    gold_data_dir,
    gold_table,
    register_gold,
    run_pipeline,
)
from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.plans.scd import (
    DuplicateMergeKeyError,
)

HEADER = (
    "Branch_ID,Dealer_ID,Model_ID,Revenue,Units_Sold,Date_ID,"
    "Day,Month,Year,BranchName,DealerName,Product_Name"
)


def make_batch0(n=200, seed=42):
    """Seeded carsales-shaped rows as field tuples (FIXTURES.md section 1,
    incl. quoted-comma and empty-name edge cases)."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        b = rng.randint(1, 150)
        d = rng.randint(1, 30)
        m = rng.randint(1, 25)
        dt = rng.randint(1, 100)
        dealer_name = "" if d == 30 else f"Dealer {d}"  # empty-name edge
        rows.append((
            f"BR{b:04d}", f"DLR{d:04d}", f"Mk{m % 5}-M{m}",
            rng.randint(100000, 30000000), rng.randint(1, 3), f"DT{dt:05d}",
            rng.randint(1, 28), rng.randint(1, 12), rng.randint(2017, 2020),
            f"Branch {b}, Inc", dealer_name, f"Make{m % 5}",
        ))
    return rows


NEW_ROW = ("XYZ9726", "XYZ0063", "ZYXM-13", 800000, 1, "DT01247",
           8, 8, 2020, "DataFam Motors", "Datafam Dealers", "Surprise")


def make_batch1(rows0):
    """3 rows reusing business keys that exist in batch0 + 1 brand-new row
    (mirrors IncrementalSales.csv: 3 known + XYZ9726/Surprise)."""
    return [rows0[0], rows0[1], rows0[2], NEW_ROW]


def make_batch2(batch1):
    """Same keys, DealerName suffixed ' up' (IncrementalSalesUpdate.csv)."""
    return [(*r[:10], f"{r[10]} up", r[11]) for r in batch1]


def _render(row):
    out = []
    for v in row:
        s = str(v)
        out.append(f'"{s}"' if "," in s else s)
    return ",".join(out)


def write_csv(path, rows):
    path.write_text(HEADER + "\n" + "\n".join(_render(r) for r in rows) + "\n")


@pytest.fixture()
def lake(tmp_path):
    return str(tmp_path / "lake")


def test_three_batch_scd1_scenario(spark, tmp_path, lake):
    csv = tmp_path / "batch.csv"

    # ---- batch 0: full load -------------------------------------------
    rows0 = make_batch0()
    write_csv(csv, rows0)
    counts0 = run_pipeline(spark, str(csv), lake)

    silver = spark.read.parquet(f"{lake}/silver/carsales")
    expected = {
        "dim_branch": silver.select("Branch_ID", "BranchName").distinct().count(),
        "dim_dealer": silver.select("Dealer_ID", "DealerName").distinct().count(),
        "dim_model": silver.select("Model_ID", "model_category").distinct().count(),
        "dim_date": silver.select("Date_ID").distinct().count(),
        "factsales": len(rows0),
    }
    assert counts0 == expected

    bronze = spark.read.parquet(f"{lake}/bronze/rawdata")
    assert "Product_Name" not in bronze.columns  # dropped at ingest
    assert silver.filter(
        F.col("model_category") != F.split("Model_ID", "-").getItem(0)
    ).count() == 0
    dealer_keys0 = {
        r["Dealer_ID"]: r["dim_dealer_key"]
        for r in gold_table(spark, lake, "dim_dealer").collect()
    }
    max_dealer_key0 = max(dealer_keys0.values())
    assert sorted(dealer_keys0.values()) == list(range(1, len(dealer_keys0) + 1))

    # ---- batch 1: incremental insert (1 brand-new business key) -------
    batch1 = make_batch1(rows0)
    write_csv(csv, batch1)
    counts1 = run_pipeline(spark, str(csv), lake)
    assert counts1["dim_dealer"] == counts0["dim_dealer"] + 1
    assert counts1["dim_branch"] == counts0["dim_branch"] + 1
    assert counts1["dim_model"] == counts0["dim_model"] + 1
    assert counts1["dim_date"] == counts0["dim_date"] + 1
    dealers1 = {
        r["Dealer_ID"]: r for r in gold_table(spark, lake, "dim_dealer").collect()
    }
    assert dealers1["XYZ0063"]["dim_dealer_key"] == max_dealer_key0 + 1  # old max + 1
    existing_dealer = batch1[0][1]
    assert dealers1[existing_dealer]["dim_dealer_key"] == dealer_keys0[existing_dealer]

    # ---- batch 2: incremental update (names suffixed ' up') -----------
    batch2 = make_batch2(batch1)
    write_csv(csv, batch2)
    counts2 = run_pipeline(spark, str(csv), lake)
    assert counts2["dim_dealer"] == counts1["dim_dealer"]  # cardinality unchanged
    dealers2 = {
        r["Dealer_ID"]: r for r in gold_table(spark, lake, "dim_dealer").collect()
    }
    assert dealers2["XYZ0063"]["DealerName"] == "Datafam Dealers up"  # updated in place
    assert dealers2["XYZ0063"]["dim_dealer_key"] == dealers1["XYZ0063"]["dim_dealer_key"]
    untouched = next(
        d for d in dealer_keys0 if d not in {r[1] for r in batch2}
    )
    assert dealers2[untouched]["DealerName"] == dealers1[untouched]["DealerName"]
    assert dealers2[untouched]["dim_dealer_key"] == dealer_keys0[untouched]

    # idempotence: re-running batch 2 changes nothing
    counts2b = run_pipeline(spark, str(csv), lake)
    assert counts2b == counts2


def test_fact_joins_resolve_surrogate_keys(spark, tmp_path, lake):
    csv = tmp_path / "batch.csv"
    write_csv(csv, make_batch0(50))
    run_pipeline(spark, str(csv), lake)
    fact = gold_table(spark, lake, "factsales")
    assert fact.count() == 50
    for spec in CARSALES.dims:
        assert fact.filter(F.col(spec.key_col).isNull()).count() == 0
    assert set(fact.columns) == {
        "Revenue", "Units_Sold", "RevPerUnit", "Year",
        "dim_branch_key", "dim_dealer_key", "dim_model_key", "dim_date_key",
    }


def test_fact_is_partitioned_and_pruned(spark, tmp_path, lake):
    """CARSALES defaults to a Year-partitioned gold fact; a year-filtered
    read must scan only that partition (PartitionFilters in the plan) —
    end-to-end through merge_scd1_path(partition_by=...), including an
    incremental merge preserving the layout."""
    import os

    csv = tmp_path / "batch.csv"
    rows0 = make_batch0(100)
    write_csv(csv, rows0)
    run_pipeline(spark, str(csv), lake)

    fact_dir = gold_data_dir(lake, "factsales")
    part_dirs = [d for d in os.listdir(fact_dir) if d.startswith("Year=")]
    years = {r[8] for r in rows0}
    assert len(part_dirs) == len(years)  # hive layout, one dir per year

    # incremental merge keeps the partitioned layout
    write_csv(csv, make_batch1(rows0))
    run_pipeline(spark, str(csv), lake)
    fact_dir = gold_data_dir(lake, "factsales")  # new snapshot after merge
    assert any(d.startswith("Year=") for d in os.listdir(fact_dir))

    pruned = spark.read.parquet(fact_dir).filter(F.col("Year") == 2019)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "Year" in plan.split("PartitionFilters")[1][:80]
    got_years = {r["Year"] for r in pruned.select("Year").distinct().collect()}
    assert got_years <= {2019}


def test_versioned_publish_survives_crash_mid_commit(spark, tmp_path, lake, monkeypatch):
    """The default publish protocol must leave NO state in which a gold
    table is unreadable: a crash after the snapshot write but before the
    pointer flip leaves the previous version current."""
    import os

    from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.plans import (
        versioned,
    )

    csv = tmp_path / "batch.csv"
    rows0 = make_batch0(30)
    write_csv(csv, rows0)
    run_pipeline(spark, str(csv), lake)
    before = gold_table(spark, lake, "dim_dealer").count()

    real_replace = os.replace

    def crash_on_pointer_flip(src, dst):
        if os.path.basename(dst) == "_latest":  # the version pointer file
            raise RuntimeError("simulated crash before publish")
        return real_replace(src, dst)

    monkeypatch.setattr(versioned.os, "replace", crash_on_pointer_flip)
    write_csv(csv, make_batch1(rows0))
    try:
        run_pipeline(spark, str(csv), lake)
    except RuntimeError:
        pass
    monkeypatch.setattr(versioned.os, "replace", real_replace)

    # previous version still current and readable — never a missing table
    assert gold_table(spark, lake, "dim_dealer").count() == before


def test_swap_publish_still_supported(spark, tmp_path, lake):
    """The plain directory-swap protocol stays available for external
    readers that address gold tables as bare parquet paths."""
    csv = tmp_path / "batch.csv"
    write_csv(csv, make_batch0(20))
    counts = run_pipeline(spark, str(csv), lake, publish="swap")
    assert counts["factsales"] == 20
    # directly parquet-addressable, no pointer indirection
    assert spark.read.parquet(f"{lake}/gold/factsales").count() == 20


def test_register_gold_exposes_sql_namespace(spark, tmp_path, lake):
    """After registration the gold layer is SQL-addressable as
    <db>.<table> (the reference's cars_catalog.gold.* shape), and
    re-running pipeline + registration re-points tables at the newest
    snapshot."""
    db = "gold_t"
    csv = tmp_path / "batch.csv"
    rows0 = make_batch0(40)
    write_csv(csv, rows0)
    run_pipeline(spark, str(csv), lake)
    try:
        names = register_gold(spark, lake, database=db)
        assert f"{db}.factsales" in names
        assert spark.sql(f"select count(*) n from {db}.factsales").collect()[0]["n"] == 40
        dealers0 = spark.sql(f"select count(*) n from {db}.dim_dealer").collect()[0]["n"]

        # incremental run adds one dealer; re-registration sees it
        write_csv(csv, make_batch1(rows0))
        run_pipeline(spark, str(csv), lake)
        register_gold(spark, lake, database=db)
        dealers1 = spark.sql(f"select count(*) n from {db}.dim_dealer").collect()[0]["n"]
        assert dealers1 == dealers0 + 1
    finally:
        spark.sql(f"drop database if exists {db} cascade")


#: the whole star for one small incremental batch, registration included
BATCH_JOB_BUDGET = 40


def test_incremental_batch_job_budget(spark, tmp_path, lake):
    """An incremental batch plus its registration launches at most
    BATCH_JOB_BUDGET Spark jobs: the batch is resolved once on the driver,
    reads take the committed schema, and counts, high-water marks and
    catalog entries come from the commits, not from new jobs."""
    db = "gold_budget"
    csv = tmp_path / "batch.csv"
    rows0 = make_batch0()
    write_csv(csv, rows0)
    run_pipeline(spark, str(csv), lake)
    sc = spark.sparkContext
    group = f"batch-budget-{uuid.uuid4().hex}"
    try:
        register_gold(spark, lake, database=db)
        write_csv(csv, make_batch1(rows0))
        sc.setJobGroup(group, "one incremental batch")
        try:
            counts = run_pipeline(spark, str(csv), lake)
            register_gold(spark, lake, database=db)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        n = spark.sql(f"select count(*) n from {db}.dim_dealer").collect()[0]["n"]
    finally:
        spark.sql(f"drop database if exists {db} cascade")
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= BATCH_JOB_BUDGET, f"{len(jobs)} jobs"
    assert counts["dim_dealer"] == n


def _scenario(spark, tmp_path, lake):
    """The three-batch scenario, then a batch that gives one dealer two
    names (rejected); returns every gold table's rows."""
    tmp_path.mkdir(exist_ok=True)
    csv = tmp_path / "scenario.csv"
    rows0 = make_batch0()
    batch1 = make_batch1(rows0)
    for rows in (rows0, batch1, make_batch2(batch1)):
        write_csv(csv, rows)
        run_pipeline(spark, str(csv), lake)
    clash = [rows0[0], (*rows0[0][:10], "Other Name", rows0[0][11])]
    write_csv(csv, clash)
    with pytest.raises(DuplicateMergeKeyError, match="dim_dealer_key"):
        run_pipeline(spark, str(csv), lake)
    tables = [spec.name for spec in CARSALES.dims] + [CARSALES.fact_name]
    return {
        t: sorted(map(tuple, gold_table(spark, lake, t).collect()), key=repr)
        for t in tables
    }


@pytest.mark.parametrize("path", ["driver", "spark"])
def test_batches_release_what_they_cache(spark, tmp_path, lake, monkeypatch, path):
    """No batch leaves a persisted RDD behind, on either resolution path,
    including a batch rejected with DuplicateMergeKeyError."""
    if path == "spark":
        monkeypatch.setattr(medallion, "DRIVER_BATCH_ROWS", 0)
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    _scenario(spark, tmp_path, lake)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


def test_driver_and_spark_paths_build_the_same_gold(spark, tmp_path, monkeypatch):
    """A batch resolved on the driver and the same batch resolved in
    Spark give identical gold tables: keys, attributes and fact rows."""
    driver = _scenario(spark, tmp_path / "d", str(tmp_path / "d" / "lake"))
    monkeypatch.setattr(medallion, "DRIVER_BATCH_ROWS", 0)
    in_spark = _scenario(spark, tmp_path / "s", str(tmp_path / "s" / "lake"))
    assert driver == in_spark
