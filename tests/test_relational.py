"""Unit tests for the relational operator layer + query catalog smoke."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark import (
    catalog,
)
from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.operators import (
    relational as R,
)
from tests.catalog_sweep import run_query


def test_project_prunes_scan(spark, sf_dir):
    df = R.project(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"), "l_orderkey", "l_quantity"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "l_extendedprice" not in plan  # column pruning reached the scan
    assert df.columns == ["l_orderkey", "l_quantity"]


def test_empty_like_sql_folds_to_local_relation(spark, sf_dir):
    df = R.empty_like_sql(spark.read.parquet(f"{sf_dir}/orders.parquet"))
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in optimized  # false filter folded, no scan
    assert df.count() == 0
    assert df.schema == spark.read.parquet(f"{sf_dir}/orders.parquet").schema


def test_left_anti_equals_handrolled(spark, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    idiomatic = R.left_anti(cust, orders, cust.c_custkey == orders.o_custkey).select(
        "c_custkey"
    )
    handrolled = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .filter(F.col("o_orderkey").isNull())
        .select("c_custkey")
    )
    assert sorted(r[0] for r in idiomatic.collect()) == sorted(
        r[0] for r in handrolled.collect()
    )


def test_surrogate_keys_dense_and_deterministic(spark, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").repartition(8)
    keyed = R.with_surrogate_key(cust, ["c_custkey"], "sk", start_at=101)
    keys = [r[0] for r in keyed.select("sk").collect()]
    n = cust.count()
    assert sorted(keys) == list(range(101, 101 + n))  # dense despite 8 partitions
    again = R.with_surrogate_key(cust, ["c_custkey"], "sk", start_at=101)
    pairs = {(r["c_custkey"], r["sk"]) for r in keyed.select("c_custkey", "sk").collect()}
    pairs2 = {(r["c_custkey"], r["sk"]) for r in again.select("c_custkey", "sk").collect()}
    assert pairs == pairs2  # deterministic across runs


def test_union_by_name_handles_column_order(spark):
    a = spark.createDataFrame([(1, "x")], ["id", "v"])
    b = spark.createDataFrame([("y", 2)], ["v", "id"])
    out = R.union_all(a, b)
    assert {(r["id"], r["v"]) for r in out.collect()} == {(1, "x"), (2, "y")}


def test_high_water_mark(spark):
    df = spark.createDataFrame([(5,), (9,), (2,)], ["k"])
    assert R.high_water_mark(df, "k") == 9
    assert R.high_water_mark(None, "k") == 0
    empty = df.filter(F.lit(False))
    assert R.high_water_mark(empty, "k") == 0


def test_global_row_number_matches_window_and_is_layout_independent(spark):
    """The two-phase range rank must equal a plain global row_number
    window on any input partitioning (the property that makes it a safe
    swap-in for un-partitioned windows)."""
    from pyspark.sql import Window

    rows = [(i, (i * 37) % 101) for i in range(500)]
    base = spark.createDataFrame(rows, ["k", "v"])
    want = {
        (r["k"], r["rn"])
        for r in base.withColumn(
            "rn", F.row_number().over(Window.orderBy("v", "k"))
        ).collect()
    }
    for parts in (1, 7):
        got = R.with_global_row_number(
            base.repartition(parts), ["v", "k"], rn_col="rn", n_col="n"
        )
        assert {(r["k"], r["rn"]) for r in got.collect()} == want
        assert got.select("n").distinct().collect()[0]["n"] == 500


def test_grouped_row_number_matches_window(spark):
    """Per-group two-phase rank == Window.partitionBy(g).orderBy(keys),
    including per-group totals, on a skewed group layout."""
    from pyspark.sql import Window

    rows = [(i, i % 3, (i * 53) % 97) for i in range(600)]
    base = spark.createDataFrame(rows, ["k", "g", "v"]).repartition(5)
    w = Window.partitionBy("g").orderBy("v", "k")
    want = {
        (r["k"], r["rn"])
        for r in base.withColumn("rn", F.row_number().over(w)).collect()
    }
    got = R.with_grouped_row_number(base, ["g"], ["v", "k"], rn_col="rn", n_col="n")
    assert {(r["k"], r["rn"]) for r in got.collect()} == want
    totals = {r["g"]: r["n"] for r in got.select("g", "n").distinct().collect()}
    assert totals == {0: 200, 1: 200, 2: 200}


def test_running_max_matches_window_and_is_layout_independent(spark):
    """Two-phase range prefix-max == un-partitioned running-max window
    (strict and inclusive forms) on any input partitioning."""
    from pyspark.sql import Window

    rows = [(i, (i * 37) % 101, ((i * 13) % 41) - 20) for i in range(500)]
    base = spark.createDataFrame(rows, ["k", "o", "v"])
    w = Window.orderBy("o", "k")
    for strict, upper in ((True, -1), (False, 0)):
        wf = w.rowsBetween(Window.unboundedPreceding, upper)
        want = {
            (r["k"], r["rm"])
            for r in base.withColumn("rm", F.max("v").over(wf)).collect()
        }
        for parts in (1, 7):
            got = R.with_running_max(
                base.repartition(parts), ["o", "k"], "v",
                out_col="rm", strict=strict,
            )
            assert {(r["k"], r["rm"]) for r in got.collect()} == want


def test_grouped_running_sum_matches_window_and_is_layout_independent(spark):
    """Two-phase grouped prefix sum == per-group running-sum window on any
    input partitioning, exact for integer values (incl. negatives)."""
    from pyspark.sql import Window

    rows = [
        (i, f"g{i % 3}", (i * 37) % 101, ((i * 13) % 41) - 20)
        for i in range(500)
    ]
    base = spark.createDataFrame(rows, ["k", "g", "o", "v"])
    wf = (
        Window.partitionBy("g")
        .orderBy("o", "k")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    want = {
        (r["k"], r["cs"])
        for r in base.withColumn("cs", F.sum("v").over(wf)).collect()
    }
    for parts in (1, 7):
        got = R.with_grouped_running_sum(
            base.repartition(parts), ["g"], ["o", "k"], "v", out_col="cs"
        )
        assert {(r["k"], r["cs"]) for r in got.collect()} == want


def _waterfill_reference(avails: dict[str, int], num: int, den: int):
    """Iterative level-fill reference: cap everything below the current
    water level, redistribute, repeat — independent of the closed form."""
    B = num * sum(avails.values()) // den
    alloc = {s: 0 for s in avails}
    active = sorted(avails, key=lambda s: (avails[s], s))
    R = B
    while active:
        t, rem = divmod(R, len(active))
        capped = [s for s in active if avails[s] <= t]
        if not capped:
            for idx, s in enumerate(active):
                alloc[s] = t + (1 if idx < rem else 0)
            return alloc
        for s in capped:
            alloc[s] = avails[s]
            R -= avails[s]
        active = [s for s in active if s not in capped]
    return alloc


def test_waterfill_matches_iterative_reference_on_skew(spark):
    """Closed-form allocation == the iterative level-fill on a strongly
    skewed availability profile (caps + remainder units both exercised),
    with the budget invariant and per-key bounds."""
    avails = {"s0": 1, "s1": 3, "s2": 7, "s3": 1000, "s4": 995, "s5": 40}
    df = spark.createDataFrame(sorted(avails.items()), ["key", "avail"])
    for parts in (1, 5):
        got = {
            r["key"]: (r["allocation"], r["capped"])
            for r in R.waterfill_allocation(
                df.repartition(parts), "key", "avail", 3, 4
            ).collect()
        }
        want = _waterfill_reference(avails, 3, 4)
        assert {k: v[0] for k, v in got.items()} == want
        assert sum(a for a, _ in got.values()) == 3 * sum(avails.values()) // 4
        for k, (a, capped) in got.items():
            assert a <= avails[k]
            assert capped == (a == avails[k] and avails[k] < max(want.values()))


def test_waterfill_matches_iterative_reference_property(spark):
    """Hypothesis: closed form == iterative reference on arbitrary
    availability profiles and budget fractions."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        avails=st.lists(st.integers(0, 50), min_size=1, max_size=8),
        frac=st.sampled_from([(1, 4), (1, 2), (3, 4), (9, 10), (99, 100)]),
    )
    def run(avails, frac):
        num, den = frac
        named = {f"k{i}": a for i, a in enumerate(avails)}
        df = spark.createDataFrame(sorted(named.items()), ["key", "avail"])
        got = {
            r["key"]: r["allocation"]
            for r in R.waterfill_allocation(df, "key", "avail", num, den).collect()
        }
        assert got == _waterfill_reference(named, num, den)

    run()


def test_pareto_frontier_matches_bruteforce(spark):
    """Sort-based 2-D skyline == quadratic dominance filter, with ties on
    both dimensions kept (mutually non-dominating duplicates)."""
    pts = [(i, float((i * 29) % 23), (i * 17) % 19) for i in range(120)]
    pts += [(900, 3.0, 18), (901, 3.0, 18)]  # exact duplicate pair
    base = spark.createDataFrame(pts, ["id", "cost", "gain"]).repartition(6)

    def dominated(p):
        return any(
            q[1] <= p[1] and q[2] >= p[2] and (q[1] < p[1] or q[2] > p[2])
            for q in pts
        )

    want = {p[0] for p in pts if not dominated(p)}
    got = R.pareto_frontier_2d(base, minimize="cost", maximize="gain")
    assert {r["id"] for r in got.collect()} == want
    assert {900, 901} <= want  # the duplicate pair is mutually safe


@pytest.mark.parametrize("name", sorted(catalog.QUERIES))
def test_catalog_query_runs(spark, sf_dir, name):
    run = run_query(spark, sf_dir, name)
    assert run.rows >= 0
    assert run.columns > 0


def test_waterfill_rejects_full_budget(spark):
    """budget >= total availability makes the sum-to-B contract
    unsatisfiable -- the operator must refuse, not silently under-fill."""
    import pytest

    df = spark.createDataFrame([("a", 10), ("b", 20)], ["key", "avail"])
    with pytest.raises(ValueError, match="budget fraction"):
        R.waterfill_allocation(df, "key", "avail", 1, 1)
    with pytest.raises(ValueError, match="budget fraction"):
        R.waterfill_allocation(df, "key", "avail", 5, 4)


def test_running_sum_refuses_without_exchange_reuse(spark):
    """Phase-1/phase-2 partition agreement rides exchange dedup; with
    reuse off the operator must fail fast instead of corrupting sums."""
    import pytest

    df = spark.createDataFrame([("g", 1, 10), ("g", 2, 20)], ["g", "o", "v"])
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try:
        with pytest.raises(RuntimeError, match="exchange.reuse"):
            R.with_grouped_running_sum(df, ["g"], ["o"], "v")
    finally:
        spark.conf.set("spark.sql.exchange.reuse", "true")
