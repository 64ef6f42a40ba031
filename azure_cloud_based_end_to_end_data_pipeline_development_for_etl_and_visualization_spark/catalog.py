"""Query catalog: every implemented operator as a (spark, sf_dir) -> DataFrame
callable plus its DuckDB oracle SQL twin.

This is the driver contract surface (``__spark_entry__.py`` re-exports it).
Keys mirror SURVEY.md section 2's ``queries()`` name column.

Determinism rules (so the driver's order-insensitive value hash matches):

- Aggregates over doubles are summed as ``decimal(18,6)`` then cast back to
  double. Per-row double arithmetic is bit-identical across engines (IEEE),
  but *sum order* is not; decimal sums are exact, hence order-independent.
  The testdata's doubles carry <= 4 decimal digits, so the decimal cast is
  lossless in both engines.
- Averages are ``cast(decimal_sum as double) / count`` — identical double
  division in both engines.
- Window starts and other derived timestamps are formatted to strings
  explicitly on both sides.
- Every computed column is aliased identically in Spark and SQL (the driver
  sorts columns by name before hashing).
"""

from __future__ import annotations

import os
import tempfile
import time
import uuid
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

#: Per-process scratch tag: side-effecting queries write under unique paths
#: so two concurrent sessions on one machine never corrupt each other's runs.
_RUN_TAG = uuid.uuid4().hex[:8]


def _tmp_path(name: str) -> str:
    return os.path.join(tempfile.gettempdir(), f"engine_{_RUN_TAG}_{name}")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events loader. The driver's events.parquet stores TIMESTAMP(NANOS),
    which Spark's vectorized reader rejects; read nanos as long and convert
    with exact integer division (``div`` — double division would lose
    microseconds at epoch-nano magnitudes). DuckDB truncates ns->us the
    same way, so oracle comparisons line up."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # window bucketing/formatting must agree with the oracle's naive
    # (UTC) timestamps regardless of the caller session's timezone
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``_events``. File streams need an explicit schema;
    taking it from the batch footer (instead of a hardcoded string) keeps
    the reader correct across the driver's testdata vintages — TIMESTAMP
    (NANOS) read as bigint-of-nanos vs plain ``timestamp[us]`` read as
    TIMESTAMP_NTZ — with the identical ``ts`` normalization as the batch
    loader, so stream results hash against the batch oracle."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    stream = (
        spark.readStream.schema(raw.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if dict(raw.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stream


def dec_sum(col: Column) -> Column:
    """Order-independent sum of a double expression (see module docstring)."""
    return F.sum(col.cast("decimal(18,6)")).cast("double")


def dec_avg(col: Column) -> Column:
    return F.sum(col.cast("decimal(18,6)")).cast("double") / F.count(col)


# ---------------------------------------------------------------------------
# 2.1 scans / sources / sinks
# ---------------------------------------------------------------------------


def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet scan (ref TESTING NOTEBOOK.ipynb:21-23 cell 0)."""
    return _t(spark, sf_dir, "region")


def q_sql_over_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL over a file path (ref gold_dim_branch.ipynb:35568 cell 7)."""
    path = os.path.join(sf_dir, "nation.parquet")
    return spark.sql(
        f"select n_nationkey, n_name, n_regionkey from parquet.`{path}`"
    )


def q_scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source round-trip (ref SalesData.csv ADF ingest).

    Materializes region as CSV (header) then reads it back — exercises the
    reference's CSV ingestion path on driver testdata. Columns are cast
    back to the parquet schema explicitly (CSV type inference differs
    between engines), so the oracle is simply the original region table:
    any value corruption through the CSV hop breaks the hash."""
    out = _tmp_path("csv_roundtrip")
    _t(spark, sf_dir, "region").coalesce(1).write.mode("overwrite").option(
        "header", "true"
    ).csv(out)
    return (
        spark.read.option("header", "true")
        .csv(out)
        .select(
            F.col("r_regionkey").cast("long").alias("r_regionkey"),
            F.col("r_name").cast("string").alias("r_name"),
        )
        .orderBy("r_regionkey")
    )


def q_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overwrite-mode table write + catalog registration + re-read
    (ref gold_dim_branch.ipynb:88171-88175 cell 35). Parquet preserves
    types exactly, so the oracle is the original nation projection — the
    write→register→read hop must be value-lossless to hash-match."""
    from .sources.io import write_table

    out = _tmp_path("write_roundtrip")
    table = f"nation_gold_{_RUN_TAG}"
    dim = (
        _t(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
    )
    write_table(dim, table, out)
    return spark.table(table).orderBy("n_nationkey")


def q_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outlier flagging (|value - mean| > 2 sigma per
    event_type) — the anomaly/drift gate a training pipeline runs before
    admitting a batch. Moments come from EXACT decimal power sums
    (order-independent, q_stats_moments' scheme) so mean/sigma — and
    therefore the flag decisions and z values — are bit-identical to the
    oracle. Plan shape: one map-side partial aggregation to a
    groups-sized stats relation, broadcast back onto the fact scan — the
    fact itself never shuffles."""
    from .operators.fastagg import exact_sums

    ev = _events(spark, sf_dir)
    v = F.col("value")
    sums = exact_sums(
        ev.filter(v.isNotNull()),
        ["event_type"],
        {"sx": (v, 6), "sxx": (v * v, 8)},
        count_alias="n",
    )
    nd = F.col("n").cast("double")
    mean = F.col("sx") / nd
    var = (F.col("sxx") - F.col("sx") * F.col("sx") / nd) / (nd - 1)
    stats = sums.select(
        "event_type", mean.alias("mu"), F.sqrt(var).alias("sigma")
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(F.abs(v - F.col("mu")) > 2 * F.col("sigma"))
        .select(
            "event_id",
            "event_type",
            "value",
            ((v - F.col("mu")) / F.col("sigma")).alias("z"),
        )
        .orderBy("event_id")
    )


def q_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift check between two time windows of the event
    stream: per event_type, observed late-half count vs the count
    expected if the type mix were stable, plus the chi-square term — the
    batch-admission drift gate for a training pipeline (alert on the
    total). All inputs are integer counts and the statistic is pure
    arithmetic (no transcendentals), so values are bit-identical across
    engines. One scan, one groups-sized aggregate, broadcast totals —
    the fact never shuffles."""
    ev = _events(spark, sf_dir)
    cutoff = F.lit("2024-01-16 00:00:00").cast(dict(ev.dtypes)["ts"])
    late = (F.col("ts") >= cutoff).cast("long")
    per_type = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(late).alias("n_late"),
    )
    totals = per_type.agg(
        F.sum("n_total").alias("g_total"), F.sum("n_late").alias("g_late")
    )
    j = per_type.crossJoin(F.broadcast(totals))
    expected = (
        F.col("n_total").cast("double")
        * F.col("g_late").cast("double")
        / F.col("g_total").cast("double")
    )
    dev = F.col("n_late").cast("double") - expected
    return j.select(
        "event_type",
        "n_total",
        "n_late",
        expected.alias("expected_late"),
        (dev * dev / expected).alias("chi2_term"),
    ).orderBy("event_type")


def q_runtime_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join pruning: a selective dim-side filter
    (urgent orders) is turned by Spark's InjectRuntimeFilter into a bloom
    filter applied to the FACT side before its shuffle — at 100 TB this
    prunes the dominant shuffle down to the matching ~20% without any
    manual semi-join. The plan is raise-checked for ``bloom_filter_agg``;
    values are oracle-checked against the plain join. Local-scale knobs
    (fact scans here are far below the 10 GB application-side default
    threshold, and the dims would broadcast) are set for the plan build
    and restored after — on a real cluster the defaults fire on their own.
    """
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
    )
    prev = {k: spark.conf.get(k, None) for k in keys}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
        urgent = _t(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        ).select("o_orderkey", "o_orderpriority")
        j = (
            li.join(urgent, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                dec_sum(F.col("l_quantity")).alias("sum_qty"),
            )
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        if "bloom_filter_agg" not in plan:  # raise, not assert: survives -O
            raise RuntimeError(
                "runtime bloom filter was not injected:\n" + plan[:4000]
            )
        return j
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink roundtrip: supplier projected, written as ORC
    (Spark's second built-in columnar format — zlib by default, same
    predicate-pushdown/column-pruning story as parquet), read back via
    ``spark.read.orc``. Must be value-lossless, so the oracle is the
    original supplier projection over parquet. Gives the engine a second
    columnar interchange format for lakes standardized on ORC (Hive
    heritage) without any code outside the DataFrameReader/Writer API."""
    out = _tmp_path("orc_roundtrip")
    dim = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    dim.write.mode("overwrite").orc(out)
    return spark.read.orc(out).orderBy("s_suppkey")


def q_scd1_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-batch SCD1 dimension scenario on driver testdata (rows-only;
    golden-path parity with gold_dim_dealer.ipynb + FIXTURES.md section 3).

    batch0: customers with c_custkey % 10 != 0 -> initial dim build.
    batch1: remaining customers -> whenNotMatchedInsertAll path.
    batch2: batch1 customers with names suffixed ' up' -> whenMatchedUpdateAll.
    Verified invariants live in tests/test_scd_pipeline.py; here we return
    the final dim so the driver sees stable rows/schema."""
    from .plans.scd import merge_scd1_df
    from .plans.star import build_dim

    cust = _t(spark, sf_dir, "customer")
    b0 = cust.filter(F.col("c_custkey") % 10 != 0)
    b1 = cust.filter(F.col("c_custkey") % 10 == 0)
    b2 = b1.withColumn("c_name", F.concat(F.col("c_name"), F.lit(" up")))

    dim = build_dim(b0, ["c_custkey"], ["c_name", "c_mktsegment"], "dim_customer_key")
    for batch in (b1, b2):
        nxt = build_dim(
            batch, ["c_custkey"], ["c_name", "c_mktsegment"], "dim_customer_key",
            existing=dim,
        )
        dim = merge_scd1_df(dim, nxt, ["dim_customer_key"])
    return dim.orderBy("dim_customer_key")


def q_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-batch SCD Type-2 scenario (rows-only): the history-keeping
    sibling of q_scd1_merge — changed names expire the current version
    and insert a new one with validity intervals (plans/scd2.py).
    Invariants (interval chaining, idempotence, as-of lookup) are pinned
    in tests/test_scd2.py."""
    import datetime as _dt

    from .plans.scd2 import merge_scd2_df

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    b0 = cust.filter(F.col("c_custkey") % 10 != 0)
    b1 = cust.filter(F.col("c_custkey") % 10 == 0)
    b2 = b1.withColumn("c_name", F.concat(F.col("c_name"), F.lit(" up")))

    state = merge_scd2_df(None, b0, ["c_custkey"], _dt.datetime(2024, 1, 1))
    state = merge_scd2_df(state, b1, ["c_custkey"], _dt.datetime(2024, 2, 1))
    state = merge_scd2_df(state, b2, ["c_custkey"], _dt.datetime(2024, 3, 1))
    # validity bounds as strings: the 9999-12-31 sentinel overflows
    # pandas/Arrow nanosecond timestamps on collect
    return state.select(
        "c_custkey",
        "c_name",
        "c_mktsegment",
        F.date_format("valid_from", "yyyy-MM-dd").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd").alias("valid_to"),
        "is_current",
    ).orderBy("c_custkey", "valid_from")


# ---------------------------------------------------------------------------
# 2.2 projections / filters / derivations
# ---------------------------------------------------------------------------


def q_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named projection (ref gold_dim_branch.ipynb:78681 cell 29)."""
    return _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")


def q_join_project_disambiguate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute-qualified post-join projection
    (ref gold_dim_branch.ipynb:43211 cell 14)."""
    cust = _t(spark, sf_dir, "customer").alias("c")
    nat = _t(spark, sf_dir, "nation").alias("n")
    j = cust.join(nat, F.col("c.c_nationkey") == F.col("n.n_nationkey"), "left")
    return j.select(F.col("c.c_custkey").alias("c_custkey"),
                    F.col("c.c_name").alias("c_name"),
                    F.col("n.n_name").alias("n_name"))


def q_filter_isnull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left join + IS NULL = hand-rolled anti join: customers with no orders
    (ref gold_dim_branch.ipynb:52656 cell 20)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    j = cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
    return j.filter(F.col("o_orderkey").isNull()).select("c_custkey", "c_name")


def q_filter_isnotnull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left join + IS NOT NULL = hand-rolled semi join
    (ref gold_dim_branch.ipynb:52524 cell 17)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    j = cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
    return j.filter(F.col("o_orderkey").isNotNull()).select(
        "c_custkey", "o_orderkey", "o_orderstatus"
    )


def q_empty_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``where 1=0`` schema stub — folds to an empty LocalRelation
    (ref gold_dim_branch.ipynb:43071-43077 cell 11)."""
    path = os.path.join(sf_dir, "lineitem.parquet")
    return spark.sql(
        f"select 1 as sk, l_orderkey, l_quantity from parquet.`{path}` where 1=0"
    )


def q_split_getitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String split + element access — silver's model_category derivation
    (SURVEY.md 1.3 [inferred])."""
    return _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.split(F.col("p_name"), " ").getItem(0).alias("name_head"),
        F.split(F.col("p_brand"), "#").getItem(1).alias("brand_num"),
    )


def q_arith_derive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic derived column — silver's RevPerUnit (SURVEY.md 1.3)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("price_per_unit"),
    )


# ---------------------------------------------------------------------------
# 2.3 joins
# ---------------------------------------------------------------------------


def q_left_join_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer key lookup (ref gold_dim_branch.ipynb:43210 cell 14)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    # customer scales with the fact — no hint; AQE broadcasts when small
    return orders.join(cust, orders.o_custkey == cust.c_custkey, "left").select(
        "o_orderkey", "o_custkey", "c_name", "c_nationkey"
    )


def q_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idiomatic left-semi (SURVEY.md 2.3 note)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select("o_custkey")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


def q_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idiomatic left-anti (SURVEY.md 2.3 note)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select("o_custkey")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


def q_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP: 4-way star join + grouped rollup — revenue by region/year
    (generalizes gold_fact_sales.ipynb:55996-56000 cell 8 + the Power BI
    reporting surface the gold layer exists to serve, SURVEY.md 2.4).

    Plan shape at scale: lineitem (the 100 TB side) never shuffles before
    aggregation when the other sides are small — nation/region (25/5 rows,
    constant) carry explicit broadcast hints; customer and orders SCALE
    with the fact, so they are unhinted and AQE/static sizing picks
    broadcast only when genuinely small. Partial aggregation runs map-side."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    reg = _t(spark, sf_dir, "region")

    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "left")
        .join(cust, orders.o_custkey == cust.c_custkey, "left")
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey, "left")
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey, "left")
    )
    from .operators.fastagg import exact_sums

    return exact_sums(
        joined,
        ["r_name", (F.year("o_orderdate").cast("long"), "order_year")],
        {"revenue": (F.col("l_extendedprice") * (1 - F.col("l_discount")), 6)},
        count_alias="n_items",
    ).orderBy("r_name", "order_year")


def q_star_join_preagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fact-fact scale variant of q_star_join: when orders is too big
    to broadcast (true at 100 TB), pre-aggregate lineitem per orderkey
    BEFORE the join — the join input shrinks from line items to orders,
    and the shuffle moves to the smaller post-agg relation. Catalyst does
    not push partial aggregates through joins itself; this encodes the
    rewrite explicitly. Same result as q_star_join (decimal sums are
    associative, so two-level summation is exact)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    reg = _t(spark, sf_dir, "region")

    per_order = li.groupBy("l_orderkey").agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
        ).alias("order_rev"),
        F.count(F.lit(1)).alias("order_items"),
    )
    joined = (
        per_order.join(orders, per_order.l_orderkey == orders.o_orderkey, "left")
        .join(cust, orders.o_custkey == cust.c_custkey, "left")
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey, "left")
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey, "left")
    )
    return (
        joined.groupBy(
            F.col("r_name"), F.year("o_orderdate").cast("long").alias("order_year")
        )
        .agg(
            F.sum("order_rev").cast("double").alias("revenue"),
            F.sum("order_items").alias("n_items"),
        )
        .orderBy("r_name", "order_year")
    )


# ---------------------------------------------------------------------------
# 2.4 / 2.5 aggregates, distinct, union, order/limit
# ---------------------------------------------------------------------------


def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT DISTINCT dim source (ref gold_dim_branch.ipynb:35568 cell 7)."""
    return _t(spark, sf_dir, "customer").select("c_nationkey", "c_mktsegment").distinct()


def q_max_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global MAX high-water mark (ref gold_dim_branch.ipynb:60158 cell 24)."""
    return _t(spark, sf_dir, "orders").agg(F.max("o_totalprice").alias("max_value"))


def q_cast_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAX over cast (ref gold_dim_date.ipynb:43850-43853 cell 23)."""
    return _t(spark, sf_dir, "lineitem").agg(
        F.max(F.col("l_quantity").cast("int")).alias("max_value")
    )


def q_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of disjoint splits (ref gold_dim_branch.ipynb:78820 cell 31)."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    f = orders.filter(F.col("o_orderstatus") == "F")
    o = orders.filter(F.col("o_orderstatus") == "O")
    return f.unionByName(o)


def q_filter_join_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped showcase: segment filter + date-range predicates
    pushed to both scans, two joins, grouped revenue, top-10. The shape
    that proves pushdown + broadcast + partial-agg compose (the date
    filters land in PushedFilters on orders AND lineitem)."""
    # orders/lineitem store TIMESTAMP_NTZ; an ntz literal keeps the
    # comparison independent of the (driver's) session timezone
    cutoff = F.lit("1998-06-01").cast("timestamp_ntz")
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


def q_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join (absent from the reference; part of the complete
    join surface). High-balance customers x big-ticket buyers."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    a = cust.filter(F.col("c_acctbal") > 9000.0).select(
        F.col("c_custkey").alias("a_key"), "c_acctbal"
    )
    b = (
        orders.filter(F.col("o_totalprice") > 300000.0)
        .groupBy(F.col("o_custkey").alias("b_key"))
        .agg(F.count(F.lit(1)).alias("n_big_orders"))
    )
    return (
        a.join(b, a.a_key == b.b_key, "full_outer")
        .select(
            F.coalesce(F.col("a_key"), F.col("b_key")).alias("custkey"),
            "c_acctbal",
            "n_big_orders",
        )
    )


def q_window_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit window frames: running total + 3-row moving sum per
    customer over order history. Frame sums go through the decimal cast so
    results are order-independent bit-for-bit (see module docstring)."""
    orders = _t(spark, sf_dir, "orders")
    order_spec = [F.col("o_orderdate"), F.col("o_orderkey")]
    running = (
        Window.partitionBy("o_custkey")
        .orderBy(*order_spec)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    moving = (
        Window.partitionBy("o_custkey")
        .orderBy(*order_spec)
        .rowsBetween(-2, Window.currentRow)
    )
    dec = F.col("o_totalprice").cast("decimal(18,6)")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(dec).over(running).cast("double").alias("running_total"),
        F.sum(dec).over(moving).cast("double").alias("moving_sum3"),
    )


def q_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit CROSS JOIN of two small relations (the scaffold grid for
    pivots/calendars). Deliberately dimension-sized — never fact x fact."""
    reg = _t(spark, sf_dir, "region").select("r_name")
    segs = _t(spark, sf_dir, "customer").select("c_mktsegment").distinct()
    return reg.crossJoin(segs).orderBy("r_name", "c_mktsegment")


def q_argminmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min_by/max_by: the order whose price is extremal per status —
    whole-row argmin/argmax without a self-join."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.max_by("o_orderkey", F.struct("o_totalprice", "o_orderkey")).alias(
                "priciest_order"
            ),
            F.min_by("o_orderkey", F.struct("o_totalprice", "o_orderkey")).alias(
                "cheapest_order"
            ),
        )
        .orderBy("o_orderstatus")
    )


def q_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned write + pruned read (rows-only: write side effect).
    Writes orders partitioned by status, reads back one partition, and
    asserts via the plan that only that partition's files are scanned —
    the 100 TB layout knob exercised end to end."""
    import shutil

    out = _tmp_path("part_prune")
    shutil.rmtree(out, ignore_errors=True)
    orders = _t(spark, sf_dir, "orders")
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    pruned = spark.read.parquet(out).filter(F.col("o_orderstatus") == "F")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    if "PartitionFilters" not in plan:  # explicit raise: survives python -O
        raise RuntimeError("partition pruning missing from plan:\n" + plan)
    return pruned.select("o_orderkey", "o_orderstatus").orderBy("o_orderkey")


def q_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted average: discount-weighted mean quantity per returnflag —
    sum(w*x)/sum(w) over exact decimal sums. (Magnitudes chosen so the
    summed unscaled decimals stay below 2^53: decimal->double conversion
    of larger sums is not identically rounded across engines — the same
    bound SCALING.md documents for dec_sum.)"""
    li = _t(spark, sf_dir, "lineitem")
    wx = F.sum(
        (F.col("l_discount") * F.col("l_quantity")).cast("decimal(28,8)")
    ).cast("double")
    w = F.sum(F.col("l_discount").cast("decimal(18,6)")).cast("double")
    return (
        li.groupBy("l_returnflag")
        .agg((wx / w).alias("disc_weighted_qty"))
        .orderBy("l_returnflag")
    )


def q_union_missing_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: unionByName(allowMissingColumns=True) —
    old-schema rows get nulls for columns added later (the medallion
    reality when silver gains a column mid-history)."""
    orders = _t(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") < 5000).select(
        "o_orderkey", "o_orderstatus"
    )
    new = orders.filter(F.col("o_orderkey") >= 5000).select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    )
    return old.unionByName(new, allowMissingColumns=True)


def q_sql_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full SQL-text entry path: the same engine through spark.sql() over
    registered views — segment revenue share per region (joins, CTE,
    window, exact decimal aggregation all in one SQL string)."""
    for t in ("customer", "orders", "nation", "region"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"{t}_sqlv")
    return spark.sql(
        """
        with spend as (
            select r.r_name, c.c_mktsegment,
                   cast(sum(cast(o.o_totalprice as decimal(18,6))) as double)
                       as revenue
            from orders o
            join customer c on o.o_custkey = c.c_custkey
            join nation n   on c.c_nationkey = n.n_nationkey
            join region r   on n.n_regionkey = r.r_regionkey
            group by r.r_name, c.c_mktsegment
        )
        select r_name, c_mktsegment, revenue,
               revenue / cast(sum(cast(revenue as decimal(18,6)))
                              over (partition by r_name) as double)
                   as region_share
        from spend
        order by r_name, c_mktsegment
        """.replace("orders o", "orders_sqlv o")
        .replace("customer c", "customer_sqlv c")
        .replace("nation n", "nation_sqlv n")
        .replace("region r", "region_sqlv r")
    )


def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct set semantics) — nations with customers in BOTH
    segments; plans as a left-semi join over distincts."""
    cust = _t(spark, sf_dir, "customer")
    a = cust.filter(F.col("c_mktsegment") == "AUTOMOBILE").select("c_nationkey")
    b = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_nationkey")
    return a.intersect(b)


def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct) — nations with AUTOMOBILE customers but no
    high-balance BUILDING customer; plans as a left-anti join."""
    cust = _t(spark, sf_dir, "customer")
    a = cust.filter(F.col("c_mktsegment") == "AUTOMOBILE").select("c_nationkey")
    b = cust.filter(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 9000.0)
    ).select("c_nationkey")
    return a.subtract(b)  # EXCEPT DISTINCT (exceptAll would be multiset)


def q_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN (uncorrelated subquery) — Catalyst rewrites to left-semi."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_sq")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer_sq")
    return spark.sql(
        """
        select o_orderkey, o_custkey
        from orders_sq
        where o_custkey in (
            select c_custkey from customer_sq where c_mktsegment = 'MACHINERY'
        )
        """
    )


def q_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated NOT EXISTS — customers who never placed a big-ticket
    order (anti-join rewrite)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_sq2")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer_sq2")
    return spark.sql(
        """
        select c_custkey, c_name
        from customer_sq2 c
        where not exists (
            select 1 from orders_sq2 o
            where o.o_custkey = c.c_custkey and o.o_totalprice > 300000.0
        )
        """
    )


def q_groupby_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped aggregation (TPC-H Q1 shape) — the reporting surface gold
    exists to serve (SURVEY.md 2.4)."""
    from .operators.fastagg import exact_sums

    li = _t(spark, sf_dir, "lineitem")
    sums = exact_sums(
        li,
        ["l_returnflag", "l_linestatus"],
        {
            "sum_qty": (F.col("l_quantity"), 6),
            "sum_base_price": (F.col("l_extendedprice"), 6),
            "sum_disc_price": (
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                6,
            ),
        },
        count_alias="count_order",
    )
    return sums.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        # dec_avg == exact sum / count: identical double division
        (F.col("sum_qty") / F.col("count_order")).alias("avg_qty"),
        "count_order",
    ).orderBy("l_returnflag", "l_linestatus")


def q_orderby_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k by aggregate (SURVEY.md 2.4: q_orderby_limit). Spark plans
    orderBy+limit as TakeOrderedAndProject — no global sort materialized."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(dec_sum(F.col("o_totalprice")).alias("total_spent"),
             F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("total_spent").desc(), F.col("o_custkey"))
        .limit(10)
    )


def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counting per group (the costly shuffle the approx
    variant avoids — see q_approx_distinct)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
        )
        .orderBy("l_returnflag")
    )


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct (rows-only: sketch estimates are
    engine-specific). At 100 TB this replaces the exact two-level shuffle
    with a constant-size mergeable sketch per partition."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", 0.02).alias("n_parts_approx"),
            F.approx_count_distinct("l_suppkey", 0.02).alias("n_supps_approx"),
        )
        .orderBy("l_returnflag")
    )


def q_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part extraction (dim_date enrichment surface, SURVEY.md 2.7)."""
    orders = _t(spark, sf_dir, "orders")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("o_year"),
        F.month("o_orderdate").cast("long").alias("o_month"),
        F.dayofmonth("o_orderdate").cast("long").alias("o_day"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date_str"),
    )


def q_percentile_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 per group by rank selection (value at row
    ceil(p*n) in sorted order). Interpolating percentile implementations
    differ bit-wise across engines (a+(b-a)*f vs (1-f)*a+f*b), so the
    engine exposes the selection form for cross-engine-deterministic
    results; F.percentile/approx_percentile remain available.

    Scale: ranks come from the two-phase grouped rank
    (operators/relational.with_grouped_row_number), so each group's sort
    is range-split across all reducers — NOT a per-group window, which
    with 3 return-flag groups over a 100 TB fact would mean three ~33 TB
    single-reducer sorts. When exactness isn't required,
    q_approx_percentile is the one-shuffle constant-state path
    (SCALING.md, CMS precedent)."""
    from .operators.relational import with_grouped_row_number

    li = _t(spark, sf_dir, "lineitem")
    ranked = with_grouped_row_number(
        li.select("l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber"),
        ["l_returnflag"],
        ["l_extendedprice", "l_orderkey", "l_linenumber"],
        rn_col="rn",
        n_col="n",
    )

    def pick(p: float) -> Column:
        return F.max(
            F.when(
                F.col("rn") == F.ceil(F.lit(p) * F.col("n")),
                F.col("l_extendedprice"),
            )
        )

    return (
        ranked.groupBy("l_returnflag")
        .agg(pick(0.5).alias("p50"), pick(0.9).alias("p90"), pick(0.99).alias("p99"))
        .orderBy("l_returnflag")
    )


def q_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based percentiles (rows-only: KLL/GK sketch internals are
    engine-specific) — the one-shuffle constant-state path SCALING.md
    prescribes for fact-wide quantiles; q_percentile_rank is the exact
    cross-engine-deterministic sibling."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_percentile(
                F.col("l_extendedprice"), F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)), 10000
            ).alias("approx_pcts")
        )
        .select(
            "l_returnflag",
            F.col("approx_pcts")[0].alias("p50"),
            F.col("approx_pcts")[1].alias("p90"),
            F.col("approx_pcts")[2].alias("p99"),
        )
        .orderBy("l_returnflag")
    )


def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): null keys
    match each other instead of vanishing — the semantic trap plain equi
    joins hide. Keys made nullable via nullif to exercise it."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", F.nullif(F.col("c_nationkey"), F.lit(7)).alias("nk")
    )
    nat = _t(spark, sf_dir, "nation").select(
        F.nullif(F.col("n_nationkey"), F.lit(7)).alias("nk2"), "n_name"
    )
    return (
        cust.join(nat, F.col("nk").eqNullSafe(F.col("nk2")), "inner")
        .select("c_custkey", "nk", "n_name")
    )


def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram binning — single map-side pass, no global
    min/max pre-scan (which would cost a second full read at 100 TB)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.floor(F.col("o_totalprice") / F.lit(25000.0)).alias("bin")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("bin")
    )


def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string-function surface (SURVEY.md 2.7: the engine exposes
    pyspark.sql.functions wholesale; this pins the common ones against the
    oracle's implementations)."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.regexp_replace(F.col("p_name"), "[aeiou]", "").alias("name_novowel"),
        F.length("p_name").cast("long").alias("name_len"),
        F.lpad("p_brand", 12, "*").alias("brand_padded"),
    )


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (reporting surface over gold, SURVEY.md 2.4):
    per (returnflag, linestatus), per returnflag, and grand total in one
    pass — Spark expands grouping sets inside a single shuffle."""
    from .operators.fastagg import exact_sums_rollup

    li = _t(spark, sf_dir, "lineitem")
    return exact_sums_rollup(
        li,
        ["l_returnflag", "l_linestatus"],
        {"sum_qty": (F.col("l_quantity"), 6)},
        count_alias="n",
    ).orderBy("l_returnflag", "l_linestatus")


def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over order status x priority."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(dec_sum(F.col("o_totalprice")).alias("sum_price"),
             F.count(F.lit(1)).alias("n"))
        .orderBy("o_orderstatus", "o_orderpriority")
    )


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS: per-nation and per-segment customer stats
    in one aggregation."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer_gs")
    return spark.sql(
        """
        select c_nationkey, c_mktsegment,
               count(1) as n,
               cast(sum(cast(c_acctbal as decimal(18,6))) as double) as sum_bal
        from customer_gs
        group by grouping sets ((c_nationkey), (c_mktsegment))
        """
    )


def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: customer counts, nations x market segments. Explicit pivot
    values keep the plan a single aggregate (no distinct-values pre-query)
    — at 100 TB an unspecified value list would scan twice."""
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    cust = _t(spark, sf_dir, "customer")
    piv = (
        cust.groupBy("c_nationkey")
        .pivot("c_mktsegment", segs)
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "c_nationkey",
        *[F.coalesce(F.col(s), F.lit(0)).alias(s) for s in segs],
    ).orderBy("c_nationkey")


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers by total spend within each market segment
    (rank-in-partition — the per-group variant of q_orderby_limit)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    spend = orders.groupBy("o_custkey").agg(
        dec_sum(F.col("o_totalprice")).alias("total_spent")
    )
    j = spend.join(cust, spend.o_custkey == cust.c_custkey).select(
        "c_custkey", "c_mktsegment", "total_spent"
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("total_spent").desc(), F.col("c_custkey")
    )
    return j.select(
        "*", F.row_number().over(w).cast("long").alias("rk")
    ).filter(F.col("rk") <= 3)


def q_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance / stddev / covariance / correlation per group.

    Spark's built-in stddev/corr use streaming moment updates whose double
    rounding depends on partition order, so results are not reproducible
    bit-for-bit across engines (or even runs). Here the moments come from
    EXACT decimal power sums (order-independent) with the closed-form
    combination done in doubles — the same expression the oracle runs, so
    values are bit-identical. At scale this is also the cheaper plan: one
    map-side partial aggregation of five sums, no second pass."""
    from .operators.fastagg import exact_sums

    li = _t(spark, sf_dir, "lineitem")
    d, q = F.col("l_discount"), F.col("l_quantity")
    sums = exact_sums(
        li,
        ["l_returnflag"],
        {
            "sx": (d, 6),
            "sxx": (d * d, 8),
            "sy": (q, 6),
            "syy": (q * q, 8),
            "sxy": (d * q, 8),
        },
        count_alias="n",
    )
    nd = F.col("n").cast("double")
    sx, sxx = F.col("sx"), F.col("sxx")
    sy, syy, sxy = F.col("sy"), F.col("syy"), F.col("sxy")
    var_x = (sxx - sx * sx / nd) / (nd - 1)
    var_y = (syy - sy * sy / nd) / (nd - 1)
    cov = (sxy - sx * sy / nd) / (nd - 1)
    return (
        sums.select(
            "l_returnflag",
            F.col("n"),
            (sx / nd).alias("mean_discount"),
            var_x.alias("var_discount"),
            F.sqrt(var_x).alias("stddev_discount"),
            cov.alias("covar_qty_discount"),
            (cov / (F.sqrt(var_x) * F.sqrt(var_y))).alias("corr_qty_discount"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# 2.6 surrogate keys
# ---------------------------------------------------------------------------


def q_surrogate_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dense surrogate keys via row_number — replaces the
    reference's monotonically_increasing_id (SURVEY.md 2.6 op 25)."""
    from .operators.relational import with_surrogate_key

    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return with_surrogate_key(nat, ["n_nationkey"], "nation_sk").select(
        "nation_sk", "n_nationkey", "n_name"
    )


def q_surrogate_key_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-scale surrogate keys: two-phase zipWithIndex-style assignment
    over lineitem — no single-reducer global sort (plan-asserted in
    tests/test_plans.py). Keys depend on partition layout, so the oracle
    verifies the *invariants* (dense 1..N, unique) rather than specific
    key values: n_rows == n_distinct_keys == max_key, min_key == 1."""
    from .operators.relational import with_surrogate_key_fact

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    keyed = with_surrogate_key_fact(li, "fact_sk")
    return keyed.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("fact_sk").alias("n_distinct_keys"),
        F.min("fact_sk").alias("min_key"),
        F.max("fact_sk").alias("max_key"),
    )


# ---------------------------------------------------------------------------
# analytic windows (SURVEY.md 2.8)
# ---------------------------------------------------------------------------


def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number over partitioned window: top-5 customers by balance per
    market segment."""
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        cust.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 5)
        .select("c_mktsegment", "rk", "c_custkey", "c_acctbal")
    )


def q_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead over event time per user (events table)."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
    )


# ---------------------------------------------------------------------------
# event-time windows + JSON over events (north star, SURVEY.md 2.8)
# ---------------------------------------------------------------------------


def q_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 6-hour windows per event_type (oracle: DuckDB time_bucket)."""
    from .streaming.windows import tumbling_agg

    ev = _events(spark, sf_dir)
    return tumbling_agg(
        ev, "ts", "6 hours", ["event_type"],
        [F.count(F.lit(1)).alias("n_events"), dec_sum(F.col("value")).alias("sum_value")],
    ).select("window_start", "event_type", "n_events", "sum_value")


def q_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-day windows every 12 hours (each event in 2 windows)."""
    from .streaming.windows import sliding_agg

    ev = _events(spark, sf_dir)
    return sliding_agg(
        ev, "ts", "1 day", "12 hours", ["event_type"],
        [F.count(F.lit(1)).alias("n_events")],
    ).select("window_start", "event_type", "n_events")


def q_window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows per user (2-hour gap); oracle is the classic
    gaps-and-islands SQL, so even session semantics are hash-checked."""
    from .streaming.windows import session_agg

    ev = _events(spark, sf_dir)
    return session_agg(
        ev, "ts", "2 hours", ["user_id"],
        [F.count(F.lit(1)).alias("n_events")],
    ).select("user_id", "session_start", "session_end", "n_events")


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from the events.props string column."""
    ev = _events(spark, sf_dir)
    return ev.select(
        "event_id",
        F.get_json_object(F.col("props"), "$.k").cast("long").alias("k_val"),
    )


def q_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-water-mark incremental ingest (ADF-copy equivalent, rows-only):
    seed the sink with events event_id < 5000, ingest the full source —
    only newer rows append; re-ingest is a no-op (asserted in tests)."""
    from .sources.ingest import ingest_batch_hwm

    sink = _tmp_path("incr_ingest")
    import shutil

    shutil.rmtree(sink, ignore_errors=True)
    ev = _events(spark, sf_dir)
    ev.filter(F.col("event_id") < 5000).write.mode("overwrite").parquet(sink)
    ingest_batch_hwm(spark, ev, sink, "event_id")
    return spark.read.parquet(sink).select("event_id", "user_id", "event_type")


def q_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling with forward fill: per user, a dense 6-hour
    grid from their first to last bucket, empty buckets carrying the last
    observed mean forward. The gap-filling op feature pipelines need
    before fixed-step models; grid generation is sequence-explode (no
    driver loop), fill is last(ignorenulls) over one window."""
    ev = _events(spark, sf_dir)
    bucketed = (
        ev.groupBy(
            "user_id",
            F.window("ts", "6 hours").start.alias("tb"),
        )
        .agg(dec_avg(F.col("value")).alias("mean_value"))
    )
    bounds = bucketed.groupBy("user_id").agg(
        F.min("tb").alias("mn"), F.max("tb").alias("mx")
    )
    # sequence over timestamps with an interval step keeps tb the same
    # type as the window start (LTZ or NTZ alike) — no epoch round-trip,
    # so the grid joins back to `bucketed` without a cast
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence(F.col("mn"), F.col("mx"), F.expr("INTERVAL 6 HOURS"))
        ).alias("tb"),
    )
    joined = grid.join(bucketed, ["user_id", "tb"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("tb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        F.date_format("tb", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        F.last("mean_value", ignorenulls=True).over(w).alias("value_ffill"),
        F.col("mean_value").isNull().alias("was_gap"),
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event matched to the user's most recent
    prior view (ts <= purchase ts). Union+window formulation — one shuffle,
    no non-equi join (operators/asof.py); oracle: DuckDB ASOF LEFT JOIN."""
    from .operators.asof import asof_join

    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    views = ev.filter(F.col("event_type") == "view").select("user_id", "ts", "value")
    j = asof_join(purchases, views, on="user_id", right_cols=["value"], suffix="_view")
    return j.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
        "value",
        F.date_format("ts_view", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("view_ts_str"),
        F.col("value_view").alias("view_value"),
    ).orderBy("event_id")


def q_data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint-check report over the warehouse (operators/quality.py):
    uniqueness, not-null, range, and referential integrity as one
    (check, violations) table — the promotion gate the reference's
    display()-and-eyeball workflow lacks."""
    from .operators.quality import (
        check_in_range,
        check_not_null,
        check_referential,
        check_unique,
        run_checks,
    )

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")
    return run_checks(
        [
            check_unique(orders, ["o_orderkey"]),
            check_unique(li, ["l_orderkey", "l_linenumber"]),
            check_not_null(orders, "o_custkey"),
            check_in_range(li, "l_discount", 0.0, 1.0),
            check_referential(orders, "o_custkey", cust, "c_custkey"),
            check_referential(li, "l_orderkey", orders, "o_orderkey"),
        ]
    ).orderBy("check")


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot diff: old = orders below a key cutoff, new = a
    shifted window with every 10th price bumped — classifies rows as
    inserted/deleted/changed/unchanged (operators/diff.py)."""
    from .operators.diff import snapshot_diff

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    old = orders.filter(F.col("o_orderkey") < 12000)
    new = orders.filter(F.col("o_orderkey") >= 2000).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 10 == 0, F.col("o_totalprice") + 1.0
        ).otherwise(F.col("o_totalprice")),
    )
    return snapshot_diff(old, new, ["o_orderkey"]).orderBy("o_orderkey")


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: label every event with its 1-based session
    sequence per user (30-min gap). Complements q_window_session (which
    returns per-session rollups, not per-event labels)."""
    from .operators.sessionize import sessionize

    ev = _events(spark, sf_dir)
    return sessionize(
        ev, "user_id", "ts", order_tiebreak="event_id", gap_seconds=1800.0
    ).select("event_id", "user_id", F.col("session_seq").cast("long").alias("session_seq"))


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal range join: clicks within 60 s after each error, via the
    bucketized rewrite (operators/range_join.py) — hash join on bucket
    keys, never the quadratic nested-loop a raw non-equi predicate plans."""
    from .operators.range_join import range_join

    ev = _events(spark, sf_dir)
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), F.col("ts").alias("err_ts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    j = range_join(errors, clicks, "err_ts", "click_ts", 0.0, 60.0)
    return j.select("error_id", "click_id").orderBy("error_id", "click_id")


def q_streaming_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState) over the
    events file read as a finite availableNow stream (rows-only: state-store
    output, genuinely non-SQL-expressible)."""
    import shutil

    from .streaming.stateful import running_totals

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # state-store instances scale with shuffle partitions; a plain driver
    # session defaults to 200 — cap for this bounded 150-key stream and
    # restore afterwards (fresh checkpoint per call, so the width is free
    # to differ between runs)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    ckpt = _tmp_path("stateful_ckpt")
    shutil.rmtree(ckpt, ignore_errors=True)
    stream = _events_stream(spark, sf_dir)
    out = running_totals(stream, "user_id", "value")
    q = (
        out.writeStream.format("memory")
        .queryName("engine_running_totals")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    # final state per key = last emitted row per key
    res = spark.table("engine_running_totals")
    w = Window.partitionBy("key").orderBy(F.col("n_events").desc())
    return (
        res.select("*", F.row_number().over(w).alias("__rn"))
        .filter(F.col("__rn") == 1)
        .select(F.col("key").alias("user_id"), "n_events", "total")
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# text analysis over documents (north star, SURVEY.md 2.8)
# ---------------------------------------------------------------------------


def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace tokenizer, lowercased)."""
    from .functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.token_count(F.col("text")).alias("n_tokens"),
        TX.unique_token_count(F.col("text")).alias("n_unique_tokens"),
    )


def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function surface (SURVEY.md 2.7) over tokenized documents:
    sort, distinct, slice, contains, join — emitted as scalars so the
    cross-engine hash compares cleanly."""
    from .functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", TX.tokens(F.col("text")).alias("t"))
    return toks.select(
        "doc_id",
        F.size("t").cast("long").alias("n"),
        F.size(F.array_distinct("t")).cast("long").alias("n_distinct"),
        F.concat_ws(" ", F.slice(F.array_sort("t"), 1, 3)).alias("first3_sorted"),
        F.array_contains("t", "the").alias("has_the"),
        F.element_at("t", 1).alias("first_token"),
        F.element_at("t", -1).alias("last_token"),
    )


def q_null_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-handling / comparison scalar surface: coalesce, nullif,
    greatest, least, conditional CASE."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.greatest(F.col("l_tax"), F.col("l_discount")).alias("max_rate"),
        F.least(F.col("l_tax"), F.col("l_discount")).alias("min_rate"),
        F.nullif(F.col("l_discount"), F.lit(0.0)).alias("discount_or_null"),
        F.coalesce(F.nullif(F.col("l_discount"), F.lit(0.0)), F.col("l_tax")).alias(
            "effective_rate"
        ),
        F.when(F.col("l_quantity") >= 25, F.lit("bulk"))
        .when(F.col("l_quantity") >= 10, F.lit("mid"))
        .otherwise(F.lit("small"))
        .alias("size_class"),
    )


def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token budgeting (functions/text.bpe_token_count) next to the
    whitespace count — the LLM-token estimate training pipelines meter by."""
    from .functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.token_count(F.col("text")).alias("n_ws_tokens"),
        TX.bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
    )


def q_text_term_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term frequency: explode tokens -> count -> top 20."""
    from .functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(TX.tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token"))
        .limit(20)
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring signals: char length, alpha ratio, stopword ratio."""
    from .functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("text_len"),
        TX.alpha_ratio(F.col("text")).alias("alpha_ratio"),
        TX.stopword_ratio(F.col("text")).alias("stopword_ratio"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-overlap language-ID heuristic."""
    from .functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.lang_id(F.col("text")).alias("lang_detected"))


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized md5 document fingerprint."""
    from .functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.fingerprint(F.col("text")).alias("fingerprint"))


def q_doc_fingerprint_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash fingerprint (order-sensitive polynomial hash over the
    token stream) — the incremental-friendly sibling of the md5 form."""
    from .functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", TX.rolling_hash(F.col("text")).alias("rolling_fp")
    )


# ---------------------------------------------------------------------------
# dedup family over documents (north star)
# ---------------------------------------------------------------------------


def q_text_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model scoring over documents via an Arrow-vectorized @pandas_udf
    (functions/scoring.py; rows-only — float transcendentals differ in
    ulps across engines; exactness vs the numpy formula is pinned in
    tests/test_scoring.py)."""
    from .functions import text as TX
    from .functions.scoring import quality_model_score

    docs = _t(spark, sf_dir, "documents")
    feats = docs.select(
        "doc_id",
        TX.alpha_ratio(F.col("text")).alias("ar"),
        TX.stopword_ratio(F.col("text")).alias("sr"),
        TX.token_count(F.col("text")).alias("nt"),
    )
    return feats.select(
        "doc_id",
        quality_model_score(F.col("ar"), F.col("sr"), F.col("nt")).alias("model_score"),
    ).orderBy("doc_id")


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized fingerprint; keeps min doc_id per group."""
    from .operators.dedup import dedup_exact_by_fingerprint

    docs = _t(spark, sf_dir, "documents")
    return dedup_exact_by_fingerprint(docs, "text", "doc_id")


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (8 hashes over word 3-gram shingles) — the
    md5-based hashing makes signatures bit-identical to the SQL oracle."""
    from .operators.dedup import minhash_signatures

    docs = _t(spark, sf_dir, "documents")
    return minhash_signatures(docs, "doc_id", "text", k=8).orderBy("doc_id")


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document."""
    from .operators.dedup import simhash

    docs = _t(spark, sf_dir, "documents")
    return simhash(docs, "doc_id", "text").orderBy("doc_id")


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard for doc pairs blocked by source within an id
    window — deterministic near-dup scan (oracle-checked); the LSH pipeline
    (q_minhash_lsh_pairs) is the at-scale path."""
    from .operators.dedup import ngram_jaccard_windowed

    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_windowed(docs, "doc_id", "text", "source", window=100)


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash->LSH->Jaccard-verify near-dup pipeline. Banding
    buckets on the band's VALUE VECTOR (collision-free), so the whole
    pipeline — signatures, banding self-join, Jaccard verification,
    threshold — is reproduced by the DuckDB oracle and hash-checked.
    Signatures are materialized once (sig_path) so the banding self-join
    scans k longs per doc instead of re-running the shingle pipeline."""
    from .operators.dedup import minhash_near_duplicates

    docs = _t(spark, sf_dir, "documents")
    return minhash_near_duplicates(
        docs, "doc_id", "text", threshold=0.5,
        sig_path=_tmp_path("lsh_pairs_sigs"),
    )


def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by content-independent id
    hash (md5 bucket in [0,1000): <900 train, <950 val, else test).
    Hash-based splits are reproducible across engines and stable under
    re-partitioning — rand()-based sampling is neither."""
    from .functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    bucket = TX.hash32(F.col("doc_id").cast("string")) % 1000
    return docs.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < 900, F.lit("train"))
        .when(bucket < 950, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic importance sampling: each document kept with
    probability proportional to a quality proxy (word count capped at
    200 -> weight in [0,1]), decided by comparing its id-hash bucket to
    the weight — the training-mix upsampling/downsampling op, but
    reproducible across engines, runs, and repartitioning (rand() is
    none of those). Integer hash vs floor(weight*10^4) comparison keeps
    the accept decision exact on both engines."""
    from .functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    n_words = F.size(TX.tokens(F.col("text")))
    weight = F.least(F.lit(1.0), n_words.cast("double") / F.lit(200.0))
    bucket = TX.hash32(F.col("doc_id").cast("string")) % 10000
    return (
        docs.select(
            "doc_id",
            n_words.cast("long").alias("n_words"),
            weight.alias("keep_weight"),
            bucket.alias("bucket"),
        )
        .filter(F.col("bucket") < F.floor(F.col("keep_weight") * 10000))
        .orderBy("doc_id")
    )


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-source keep rates (domain
    up/down-weighting, the training-mix knob) via the same id-hash bucket.
    Pure filter — no shuffle, no rand(), same sample on every run."""
    from .functions import text as TX

    rates = {"src0": 900, "src1": 700, "src2": 500, "src3": 100}  # per-mille
    docs = _t(spark, sf_dir, "documents")
    bucket = TX.hash32(F.col("doc_id").cast("string")) % 1000
    rate = F.coalesce(
        *[F.when(F.col("source") == s, F.lit(r)) for s, r in rates.items()],
        F.lit(300),
    )
    return (
        docs.select("doc_id", "source", bucket.alias("bucket"), rate.alias("rate"))
        .filter(F.col("bucket") < F.col("rate"))
        .select("doc_id", "source", "bucket")
    )


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Policy dedup: among exact duplicates (normalized fingerprint),
    keep the LONGEST document (quality proxy), tie-broken by doc_id —
    the keep-best policy real curation pipelines use instead of keep-min."""
    from .functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id",
        F.length("text").cast("long").alias("text_len"),
        TX.fingerprint(F.col("text")).alias("fingerprint"),
    )
    w = Window.partitionBy("fingerprint").orderBy(
        F.col("text_len").desc(), F.col("doc_id")
    )
    return (
        fp.select(
            "*",
            F.row_number().over(w).alias("__rn"),
            F.count(F.lit(1)).over(Window.partitionBy("fingerprint")).alias("n_dupes"),
        )
        .filter(F.col("__rn") == 1)
        .select("doc_id", "fingerprint", "text_len", "n_dupes")
    )


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation composite: quality-gate (alpha ratio, stopword
    ratio, token budget) -> exact dedup -> per-source token accounting.
    The one-query version of what a training-data run does to a crawl."""
    from .functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "source",
        TX.alpha_ratio(F.col("text")).alias("ar"),
        TX.stopword_ratio(F.col("text")).alias("sr"),
        TX.bpe_token_count(F.col("text")).alias("n_tok"),
        TX.fingerprint(F.col("text")).alias("fp"),
    ).filter(
        (F.col("ar") >= 0.5)
        & (F.col("sr") >= 0.02)
        & F.col("n_tok").between(10, 5000)
    )
    kept = (
        scored.groupBy("fp")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by("source", "doc_id").alias("source"),
            F.min_by("n_tok", "doc_id").alias("n_tok"),
        )
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
        )
        .orderBy("source")
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full near-dup clustering pipeline (rows-only: iterative label
    propagation, non-SQL-expressible): LSH candidate pairs -> connected
    components -> every doc mapped to its cluster representative.
    Correctness vs a reference union-find is property-tested in
    tests/test_components.py."""
    from .operators.components import dedup_clusters
    from .operators.dedup import minhash_near_duplicates

    # the iterated label frames are tiny; a plain session's 200-wide
    # shuffles would dominate each iteration — cap and restore
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        docs = _t(spark, sf_dir, "documents")
        pairs = minhash_near_duplicates(docs, "doc_id", "text", threshold=0.5)
        # connected_components runs eagerly (cache+count per iteration),
        # so the capped width governs the iterative jobs; the lazy tail
        # (final join) is label-sized and fine at any width
        out = dedup_clusters(pairs, docs, "doc_id").orderBy("doc_id")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return out


# ---------------------------------------------------------------------------
# similarity search over embeddings (north star)
# ---------------------------------------------------------------------------


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-10 for query vectors vec_id < 5.
    sim values are bit-identical to the DuckDB oracle (double fold)."""
    from .operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    # limit() makes the query-batch bound structural (cosine_topk
    # broadcasts the query side; its contract is a driver-bounded batch)
    queries = emb.filter(F.col("vec_id") < 5).limit(5)
    return cosine_topk(emb, queries, k=10).orderBy("query_id", "rank")


def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs within label blocks, cosine >= 0.35."""
    from .operators.similarity import threshold_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return threshold_pairs(emb, block_col="label", threshold=0.35).orderBy("a", "b")


def q_cosine_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via an IVF-flat index (k-means cells, n_probe
    nearest probed; rows-only — recall + exact-at-full-probe asserted in
    tests/test_skew_ivf.py)."""
    from .operators.similarity import cosine_topk_ivf

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return cosine_topk_ivf(emb, queries, k=10, n_centroids=16, n_probe=4).orderBy(
        "query_id", "rank"
    )


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via product quantization + asymmetric distance
    (operators/similarity.pq_train/pq_encode/pq_topk): corpus vectors
    compressed to 8 codes (4 bits each at 16 centroids/subspace — a 32x
    lighter scan than float32), queries scored against per-query lookup
    tables. Rows-only: codebooks come from float k-means averaging, so
    estimates are engine-specific; determinism + planted-near-dup recall
    are asserted in tests/test_similarity.py."""
    from .operators.similarity import pq_topk, pq_train

    emb = _t(spark, sf_dir, "embeddings")
    books = pq_train(emb, n_sub=8, dim=64, n_centroids=16, n_iters=2)
    queries = emb.filter(F.col("vec_id") < 5)
    # rerank=None on purpose: this entry pins the RAW ADC rung (the API
    # default is the tuned rerank=100 operating point)
    return pq_topk(emb, queries, books, k=10, rerank=None).orderBy(
        "query_id", "rank"
    )


def q_cosine_topk_ivf_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF at FULL probe (n_probe == n_centroids): every query visits
    every cell, so the result must be bit-identical to exact brute force —
    and is hash-checked against the same DuckDB oracle as q_cosine_topk.
    This verifies the whole IVF machinery (k-means assignment, cell join,
    ranking) end to end; centroid placement can only affect performance,
    never results, at full probe."""
    from .operators.similarity import cosine_topk_ivf

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return cosine_topk_ivf(emb, queries, k=10, n_centroids=8, n_probe=8).orderBy(
        "query_id", "rank"
    )


def q_cosine_topk_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION IVF path end-to-end: train centroids once, persist
    them (save/load_centroids parquet artifact), materialize the cell
    assignment (build_ivf_index), then answer the query batch from the
    prewarmed artifacts only — at full probe, so the result is
    bit-identical to exact brute force and rides the same DuckDB oracle
    as q_cosine_topk_ivf_exact. This hash-checks the artifact
    round-trip AND the indexed query path in one query; the bench's
    crossover section shows the same path beating the exact scan 2x at
    a 160k clustered corpus (r6 VERDICT item 6)."""
    from .operators.similarity import (
        build_ivf_index,
        cosine_topk_ivf,
        kmeans_centroids,
        load_centroids,
        save_centroids,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    cents = kmeans_centroids(emb, n_centroids=8, n_iters=2)
    cpath = _tmp_path("ivf_cents")
    save_centroids(spark, cents, cpath)
    cents = load_centroids(spark, cpath)
    index = build_ivf_index(emb, cents, _tmp_path("ivf_index"))
    return cosine_topk_ivf(
        emb, queries, k=10, n_probe=8, centroids=cents, index=index
    ).orderBy("query_id", "rank")


def q_cosine_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH bucketing (rows-only;
    recall measured in tests/test_similarity.py)."""
    from .operators.similarity import cosine_topk_lsh

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return cosine_topk_lsh(emb, queries, k=10).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# multimodal columns (north star) — opaque binary payloads + Arrow-batched
# feature extraction; documents.text doubles as the payload source since the
# driver testdata ships no media table
# ---------------------------------------------------------------------------


def _media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("media_type"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )


def q_multimodal_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload digest + size through the Arrow-batched mapInPandas
    path (multimodal/binary.py) — the oracle recomputes sha256 in SQL, so
    this checks the Python-worker plumbing end to end."""
    from .multimodal.binary import extract_features

    feats = extract_features(_media_table(spark, sf_dir))
    return feats.select("media_id", "content_digest", "n_bytes").orderBy("media_id")


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan (multimodal/binary.frame_sample_plan):
    documents stand in as videos (duration_ms = 10 x n_chars); each row
    explodes into per-frame work items with deterministic keys — the
    distributed fan-out a frame-decode stage consumes."""
    from .multimodal.binary import frame_sample_plan

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("media_type"),
        (F.col("n_chars") * 10).cast("long").alias("duration_ms"),
    )
    return frame_sample_plan(media, every_ms=1000).orderBy("media_id", "frame_idx")


def q_multimodal_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio chunking plan: each payload split into 5-second [start, end)
    chunk boundaries with deterministic keys — the pre-decode partitioning
    an ASR pipeline fans out over (multimodal/binary.chunk_plan)."""
    from .multimodal.binary import chunk_plan

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("media_type"),
        (F.col("n_chars") * 40).cast("long").alias("duration_ms"),
    )
    return chunk_plan(media, chunk_ms=5000).orderBy("media_id", "chunk_idx")


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-extraction output with the 16-dim feature vector posexploded
    to ``(media_id, dim_idx, feature_value)`` scalar rows.

    The scalar shape serves two masters: the driver's canonicalizer (which
    pandas-sorts every column and cannot hash an array cell — the round-5
    ``err``), and a full DuckDB oracle. The stub decoder derives dim ``i``
    from sha256-digest bytes ``[2i, 2i+2)`` and 16 dims exactly consume the
    32-byte digest, so the oracle recomputes every float bit-for-bit in SQL
    (``n/65536.0`` is exact in float32 and double alike). The array-valued
    API (:func:`multimodal.binary.extract_features`) is unchanged."""
    from .multimodal.binary import extract_features

    feats = extract_features(_media_table(spark, sf_dir))
    return (
        feats.select(
            "media_id",
            "n_bytes",
            F.posexplode("feature").alias("dim_idx", "value_f"),
        )
        .select(
            "media_id",
            "n_bytes",
            F.col("dim_idx").cast("long").alias("dim_idx"),
            F.col("value_f").cast("double").alias("feature_value"),
        )
        .orderBy("media_id", "dim_idx")
    )


# ---------------------------------------------------------------------------
# round-2 additions: distribution ranks, funnel analytics, text statistics,
# skew/bucketed join verification (all oracle-twinned)
# ---------------------------------------------------------------------------


def q_ntile_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions — quartile bucket (ntile),
    percent_rank and cume_dist — WITHOUT the un-partitioned window the
    textbook formulation uses (``Window.orderBy`` with no partitionBy is a
    single-reducer sort of the whole relation; fine on a dim, a
    scale-killer on a fact). Instead the two-phase distributed rank
    (operators/relational.with_global_row_number: range-repartition, then
    per-range row numbers offset by range counts) yields the exact global
    row number and total count, and every distribution function is plain
    arithmetic over (rn, n): ntile's uneven-bucket rule, percent_rank =
    (rn-1)/(n-1), cume_dist = rn/n. The total order includes the key as
    tiebreak, so rank == row_number and ties are stable."""
    from .operators.relational import with_global_row_number

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    ranked = with_global_row_number(
        cust, ["c_acctbal", "c_custkey"], rn_col="__rn", n_col="__n"
    )
    # ntile(4): first (n % 4) buckets hold (n div 4 + 1) rows, the rest
    # (n div 4) — the SQL-standard uneven split, from rn/n arithmetic only
    quartile = F.expr(
        "case when __rn <= (__n % 4) * (__n div 4 + 1)"
        "     then (__rn - 1) div (__n div 4 + 1) + 1"
        "     else (__n % 4)"
        "          + (__rn - (__n % 4) * (__n div 4 + 1) - 1) div (__n div 4)"
        "          + 1 end"
    )
    return ranked.select(
        "c_custkey",
        quartile.cast("long").alias("quartile"),
        F.expr("case when __n = 1 then 0.0 else (__rn - 1) / (__n - 1) end").alias(
            "pct_rank"
        ),
        F.expr("__rn / __n").alias("cume"),
    )


def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analytics over the event stream: how many users progressed
    view -> click -> purchase in strict timestamp order. One aggregation
    pass (conditional MIN per step), one count — no self-joins, which is
    the only formulation that survives a 100 TB event table."""
    ev = _events(spark, sf_dir)
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("view_ts"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("click_ts"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "purchase_ts"
        ),
    )
    stage = (
        F.when(
            F.col("view_ts").isNotNull()
            & (F.col("click_ts") > F.col("view_ts"))
            & (F.col("purchase_ts") > F.col("click_ts")),
            3,
        )
        .when(
            F.col("view_ts").isNotNull() & (F.col("click_ts") > F.col("view_ts")), 2
        )
        .when(F.col("view_ts").isNotNull(), 1)
        .otherwise(0)
    )
    return (
        per_user.select(stage.cast("long").alias("funnel_stage"))
        .groupBy("funnel_stage")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("funnel_stage")
    )


def q_word_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signal (Gopher-style quality filter):
    token count, distinct-token count, and the most repeated token's
    frequency — all integers, so the oracle is bit-exact. Docs with zero
    tokens carry no signal and are excluded (same in the oracle)."""
    from .functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(TX.tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return (
        tf.groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct_tokens"),
            F.max("tf").alias("max_term_freq"),
        )
        .orderBy("doc_id")
    )


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-scaled TF-IDF: per (doc, term) score = tf * 1e6 div df
    (floor division keeps the oracle bit-exact — float log-idf is not
    identically rounded across engines), top-3 terms per doc with (score
    desc, term asc) tiebreak. Shape: one explode + two map-side-combined
    aggregates + a broadcastable df join + per-doc top-k window."""
    from .functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(TX.tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(df_, "term").select(
        "doc_id",
        "term",
        "tf",
        "df",
        F.expr("tf * 1000000 div df").alias("tfidf_scaled"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf_scaled").desc(), F.col("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf_scaled")
        .orderBy("doc_id", F.col("tfidf_scaled").desc(), "term")
    )


def q_regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex feature extraction: numeric id out of a formatted code column
    (the log/URL-parsing workhorse). Simple character-class patterns only —
    portable across regex dialects."""
    return _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.regexp_extract(F.col("p_brand"), r"(\d+)", 1).alias("brand_num_str"),
        F.regexp_extract(F.col("p_brand"), r"(\d+)", 1).cast("long").alias("brand_num"),
    )


def q_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: '|'-joined sorted distinct market
    segments per nation (collect_set -> sort_array -> concat_ws keeps the
    result deterministic AND comparable as a plain string across
    engines — raw array columns compare engine-specifically)."""
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_nationkey")
        .agg(
            F.concat_ws(
                "|", F.sort_array(F.collect_set("c_mktsegment"))
            ).alias("segments"),
            F.count(F.lit(1)).alias("n_customers"),
        )
        .orderBy("c_nationkey")
    )


def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt — the inverse of q_pivot: wide part metrics to long
    (metric, val) rows. Zero-shuffle row expansion (an Expand node)."""
    part = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice").alias("p_retailprice"),
    )
    return part.unpivot(
        ids=["p_partkey"],
        values=["p_size", "p_retailprice"],
        variableColumnName="metric",
        valueColumnName="val",
    ).orderBy("p_partkey", "metric")


def q_date_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic beyond part extraction: shift, day diff, month
    truncation, end-of-month — the dim_date/ETL scheduling surface. All
    outputs formatted as strings/longs for engine-neutral comparison."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    orders = _t(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.date_format(F.date_add(d, 30), "yyyy-MM-dd").alias("plus_30"),
        F.datediff(F.lit("1998-12-31").cast("date"), d)
        .cast("long")
        .alias("days_to_eoy"),
        F.date_format(F.trunc(d, "month"), "yyyy-MM-dd").alias("month_start"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
    )


def q_try_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe coercion surface: try_cast yields NULL instead of
    erroring on bad input, try_divide instead of div-by-zero — the ops a
    production ingest uses on dirty columns (the reference's inferSchema
    CSVs would hit exactly these)."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.col("p_name").try_cast("long").alias("name_as_int"),  # always null
        F.regexp_extract("p_brand", r"(\d+)", 1).try_cast("long").alias(
            "brand_num"
        ),
        F.try_divide(F.col("p_retailprice"), F.col("p_size") - F.col("p_size"))
        .alias("div_by_zero"),  # always null, never an error
        F.try_divide(F.col("p_retailprice"), F.col("p_size")).alias(
            "price_per_size"
        ),
    )


def q_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation through the STREAMING engine (events
    read as an availableNow file stream, complete-mode memory sink). The
    oracle is the same SQL as the batch q_window_tumbling: streaming and
    batch must produce hash-identical results for the same input — the
    core guarantee that lets a pipeline promote a batch job to a stream
    without re-validating its numbers."""
    import shutil

    from .streaming.windows import tumbling_agg

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        stream = _events_stream(spark, sf_dir)
        agg = tumbling_agg(
            stream,
            "ts",
            "6 hours",
            ["event_type"],
            [
                F.count(F.lit(1)).alias("n_events"),
                dec_sum(F.col("value")).alias("sum_value"),
            ],
        )
        name = f"engine_stream_tumbling_{_RUN_TAG}"
        ckpt = _tmp_path("stream_tumbling_ckpt")
        shutil.rmtree(ckpt, ignore_errors=True)
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.table(name).select(
        "window_start", "event_type", "n_events", "sum_value"
    )


def q_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over a versioned table (plans/versioned): the
    q_scd1_merge 3-batch scenario committed as table versions via the
    atomic-pointer protocol, then read AS OF version 2 — after batch1's
    inserts, before batch2's updates. The oracle recomputes that
    intermediate state, so both the merge semantics AND the version
    isolation are hash-verified."""
    import shutil

    from .plans.star import build_dim
    from .plans.versioned import merge_scd1_versioned, read_version

    root = _tmp_path("time_travel")
    shutil.rmtree(root, ignore_errors=True)

    cust = _t(spark, sf_dir, "customer")
    b0 = cust.filter(F.col("c_custkey") % 10 != 0)
    b1 = cust.filter(F.col("c_custkey") % 10 == 0)
    b2 = b1.withColumn("c_name", F.concat(F.col("c_name"), F.lit(" up")))

    dim = build_dim(b0, ["c_custkey"], ["c_name", "c_mktsegment"], "dim_customer_key")
    merge_scd1_versioned(spark, root, dim, ["dim_customer_key"])
    for batch in (b1, b2):
        existing = read_version(spark, root)
        nxt = build_dim(
            batch, ["c_custkey"], ["c_name", "c_mktsegment"], "dim_customer_key",
            existing=existing,
        )
        merge_scd1_versioned(spark, root, nxt, ["dim_customer_key"])
    return read_version(spark, root, version=2).orderBy("dim_customer_key")


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per-document overlap of distinct word
    3-gram shingles against a benchmark set (stand-in: doc_id % 25 == 0),
    flagging docs with >= 50% shingle overlap. The op that keeps eval sets
    out of training data.

    Scale shape: shingles are hashed to longs (md5-based, so the oracle
    reproduces them) BEFORE the join — the contamination semi-join
    shuffles (doc_id, long) pairs, never shingle strings; the benchmark
    side is distinct-reduced and unhinted (real eval suites are bounded,
    but this stand-in scales with the corpus — AQE broadcasts it only
    when its runtime size is genuinely small). Integer counts
    and an integer threshold comparison keep the oracle bit-exact."""
    from .functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    # two-step per shingles_of's performance contract: materialize tokens in
    # their own projection so the transform lambda reads an array reference,
    # not a re-evaluated split()
    toks = docs.select("doc_id", TX.tokens(F.col("text")).alias("__toks"))
    sh = (
        toks.select(
            "doc_id",
            F.explode(
                F.array_distinct(TX.shingles_of(F.col("__toks"), 3))
            ).alias("s"),
        )
        .select("doc_id", TX.hash32(F.col("s")).alias("h"))
        .distinct()
    )
    bench = sh.filter(F.col("doc_id") % 25 == 0).select("h").distinct()
    probe = sh.filter(F.col("doc_id") % 25 != 0)
    tot = probe.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    cont = (
        probe.join(bench, "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    return (
        tot.join(cont, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("n_contaminated"), F.lit(0)).alias("n_contaminated"),
            (
                F.coalesce(F.col("n_contaminated"), F.lit(0)) * 2
                >= F.col("n_shingles")
            ).alias("is_contaminated"),
        )
        .orderBy("doc_id")
    )


def q_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level bigram counts, top-20 with (count desc, bigram asc)
    tiebreak — the n-gram LM / collocation statistics pass. One explode +
    one map-side-combined count + TakeOrdered (never a global sort)."""
    from .functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(TX.tokens(F.col("text")).alias("__toks"))
        .select(F.explode(TX.shingles_of(F.col("__toks"), 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram"))
        .limit(20)
    )


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join (operators/skew.salted_join): orders x customer
    16-way salted, then aggregated per market segment. The oracle is the
    PLAIN join — salting must be a pure physical rewrite with identical
    results, and this query hash-verifies that."""
    from .operators.skew import salted_join

    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    j = salted_join(orders, cust, ["custkey"], n_salts=16)
    return (
        j.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dec_sum(F.col("o_totalprice")).alias("total_revenue"),
        )
        .orderBy("c_mktsegment")
    )


def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both sides written CLUSTERED BY the join
    key into the same bucket count, so the sort-merge join needs NO
    exchange on either side — the layout investment that turns every
    repeated big-big join on that key into a shuffle-free scan at 100 TB.
    Plan-asserted here (raise, not assert); values oracle-checked against
    the plain join."""
    import shutil

    t_orders = f"orders_bkt_{_RUN_TAG}"
    t_cust = f"customer_bkt_{_RUN_TAG}"
    # housekeeping: previous processes' bucketed-table dirs are invisible
    # to this session's catalog but still occupy the warehouse — sweep
    # *_bkt_* dirs that aren't ours AND are old enough to belong to a dead
    # run (a concurrent live session's tables must not be deleted from
    # under it: that raced exactly once under parallel pytest + oracle
    # sweeps before the age gate)
    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    if os.path.isdir(warehouse):
        now = time.time()
        for d in os.listdir(warehouse):
            p = os.path.join(warehouse, d)
            try:
                stale = now - os.path.getmtime(p) > 3600
            except OSError:
                continue
            if "_bkt_" in d and not d.endswith(_RUN_TAG) and stale:
                shutil.rmtree(p, ignore_errors=True)
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    (
        orders.write.mode("overwrite")
        .bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .saveAsTable(t_orders)
    )
    (
        cust.write.mode("overwrite")
        .bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .saveAsTable(t_cust)
    )
    # hint('merge'): at test scale Catalyst would broadcast the small side
    # (which ignores bucketing entirely); the point here is the big-big
    # path, where bucketing makes the sort-merge join exchange-free
    j = spark.table(t_orders).join(
        spark.table(t_cust).hint("merge"),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    plan = j._jdf.queryExecution().executedPlan().toString()
    if "Exchange hashpartitioning" in plan:  # raise, not assert: survives -O
        raise RuntimeError(
            "bucketed sort-merge join still shuffles:\n" + plan
        )
    return (
        j.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dec_sum(F.col("o_totalprice")).alias("total_revenue"),
        )
        .orderBy("c_mktsegment")
    )


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (functions/text.redact_pii): emails, URLs and phone
    numbers replaced by typed tags, plus per-document span counts — the
    standard pre-training privacy pass. The synthetic corpus carries no
    PII, so the query plants a deterministic contact line per document
    first; the oracle applies the same injection + RE2-compatible regexes,
    so the redaction itself (not just a no-op passthrough) is
    hash-verified. Pure codegen'd regexp chain — no shuffle, no UDF."""
    from .functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com on (555) 014-"),
        F.lpad(F.pmod(F.col("doc_id"), 10000).cast("string"), 4, "0"),
        F.lit(" or https://example.org/u/"),
        F.col("doc_id").cast("string"),
    )
    counts = TX.pii_counts(planted)
    return docs.select(
        "doc_id",
        TX.redact_pii(planted).alias("clean_text"),
        counts["n_urls"].alias("n_urls"),
        counts["n_emails"].alias("n_emails"),
        counts["n_phones"].alias("n_phones"),
    )


def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-granularity exact dedup (operators/dedup.chunk_dedup):
    10-word chunks hashed and grouped corpus-wide; keeps the
    lexicographically-first (doc, position) occurrence per distinct chunk.
    Only duplicated chunks are returned (the boilerplate report a curation
    pass acts on). Shuffles digests + two longs, never chunk text."""
    from .operators.dedup import chunk_dedup

    docs = _t(spark, sf_dir, "documents")
    return chunk_dedup(docs, "doc_id", "text", chunk_tokens=10).filter(
        F.col("n_copies") > 1
    )


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (streaming/windows.streaming_dedup =
    dropDuplicatesWithinWatermark): the events file streamed TWICE
    (self-union) through the dedup operator must reproduce the batch
    distinct — each event exactly once. The duplicate copies are
    bit-identical rows, so which copy survives is immaterial and the
    result hashes against the plain-SQL oracle; state is bounded by the
    watermark horizon rather than growing with the stream."""
    import shutil

    from .streaming.windows import streaming_dedup

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        def one_stream() -> DataFrame:
            return _events_stream(spark, sf_dir)

        doubled = one_stream().unionAll(one_stream())
        dd = streaming_dedup(doubled, ["event_id"], "ts", "10 minutes")
        name = f"engine_stream_dedup_{_RUN_TAG}"
        ckpt = _tmp_path("stream_dedup_ckpt")
        shutil.rmtree(ckpt, ignore_errors=True)
        q = (
            dd.select("event_id", "event_type", "value")
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.table(name)


def q_streaming_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment (streaming/join.enrich_stream): the events
    stream left-joined per micro-batch against the STATIC customer
    dimension — no state store, dim broadcast when small. Must equal the
    batch left join, which is the oracle. The canonical streaming
    fact -> dim lookup."""
    import shutil

    from .streaming.join import enrich_stream

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        stream = _events_stream(spark, sf_dir).select(
            "event_id", "user_id", "event_type"
        )
        dim = _t(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
        enriched = enrich_stream(stream, dim, ["user_id"], how="left")
        name = f"engine_stream_enrich_{_RUN_TAG}"
        ckpt = _tmp_path("stream_enrich_ckpt")
        shutil.rmtree(ckpt, ignore_errors=True)
        q = (
            enriched.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.table(name)


def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (operators/packing.pack_sequences): every document
    labeled with the fixed-512-token training sequence its first token
    lands in under concat-and-chunk packing in doc_id order. Two-phase
    running sum — range shuffle + per-range windows — so no global
    single-reducer sort; the oracle is the naive global-window SQL, which
    hash-verifies that the distributed formulation computes the identical
    packing."""
    from .functions import text as TX
    from .operators.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    with_counts = docs.select(
        "doc_id", TX.token_count(F.col("text")).alias("n_tokens")
    )
    return pack_sequences(with_counts, "doc_id", "n_tokens", budget=512)


def q_streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregation through the STREAMING engine — the
    overlapping-window sibling of q_streaming_tumbling (each event lands
    in 2 windows). The oracle is the same SQL as the batch
    q_window_sliding: promoting the batch job to a stream must not change
    its numbers."""
    import shutil

    from .streaming.windows import sliding_agg

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        stream = _events_stream(spark, sf_dir)
        agg = sliding_agg(
            stream,
            "ts",
            "1 day",
            "12 hours",
            ["event_type"],
            [F.count(F.lit(1)).alias("n_events")],
        )
        name = f"engine_stream_sliding_{_RUN_TAG}"
        ckpt = _tmp_path("stream_sliding_ckpt")
        shutil.rmtree(ckpt, ignore_errors=True)
        q = (
            agg.select("window_start", "event_type", "n_events")
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.table(name)


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-aware CDC apply (operators/diff.apply_changelog): the
    q_snapshot_diff scenario's changelog (inserts past the cutoff,
    deletes below the new window, price updates on every 10th key)
    applied back onto the OLD snapshot must reconstruct the NEW one —
    which is exactly what the oracle computes. Completes the diff/apply
    pair and the delete semantic the SCD1 upsert merge lacks."""
    from .operators.diff import apply_changelog, snapshot_diff

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    old = orders.filter(F.col("o_orderkey") < 12000)
    new = orders.filter(F.col("o_orderkey") >= 2000).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 10 == 0, F.col("o_totalprice") + 1.0
        ).otherwise(F.col("o_totalprice")),
    )
    diff = snapshot_diff(old, new, ["o_orderkey"])
    changelog = diff.filter(F.col("change") != "unchanged").select(
        "o_orderkey",
        F.when(F.col("change") == "inserted", "I")
        .when(F.col("change") == "deleted", "D")
        .otherwise("U")
        .alias("op"),
        F.col("o_orderstatus_new").alias("o_orderstatus"),
        F.col("o_totalprice_new").alias("o_totalprice"),
    )
    return apply_changelog(
        old, changelog, ["o_orderkey"], ["o_orderstatus", "o_totalprice"]
    ).orderBy("o_orderkey")


def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-range scalar quantization of the embedding corpus
    (operators/similarity.quantize_embeddings): global (lo, hi) extrema
    → 0..255 codes, 4x less scan bandwidth for distance kernels. Integer
    outputs make the transform hash-verifiable; the oracle recomputes
    the same extrema and floor-rounding in SQL. Exploded to
    (vec_id, dim_idx, q) long format — the value-hash compare is over
    scalar cells."""
    from .operators.similarity import quantize_embeddings

    emb = _t(spark, sf_dir, "embeddings")
    q, _, _ = quantize_embeddings(emb, "vec_id", "embedding")
    return q.select(
        "vec_id", F.posexplode(F.col("qvec")).alias("dim_idx", "q")
    ).withColumn("dim_idx", F.col("dim_idx").cast("long")).orderBy(
        "vec_id", "dim_idx"
    )


def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet schema-evolution read: two batches written with different
    column sets (the real-world 'a column was added in March' layout),
    read back as ONE table via ``mergeSchema`` — absent columns surface
    as nulls. The oracle reconstructs the merged relation from the
    original nation table, so the write→evolve→merged-read hop is
    hash-verified. At scale, mergeSchema costs a footer read per file —
    pin the unified schema in a table format / metastore instead of
    re-inferring per query (plans/versioned does exactly that)."""
    import shutil

    out = _tmp_path("schema_evolution")
    shutil.rmtree(out, ignore_errors=True)
    nation = _t(spark, sf_dir, "nation")
    nation.select("n_nationkey", "n_name").write.parquet(f"{out}/b=1")
    nation.select("n_nationkey", "n_regionkey").write.parquet(f"{out}/b=2")
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(f"{out}/b=1", f"{out}/b=2")
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey", "n_name")
    )


def q_json_lines_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines file source: the events ``props`` JSON strings written
    out as a .jsonl file, read back with an EXPLICIT schema (never
    inference in production — inference is a full extra pass over 100 TB),
    then aggregated. Oracle extracts the same field from the original
    table, so the export→read→extract path is hash-verified."""
    import shutil

    out = _tmp_path("json_lines")
    shutil.rmtree(out, ignore_errors=True)
    ev = _events(spark, sf_dir)
    ev.select(F.col("props").alias("value")).write.text(out)
    parsed = spark.read.schema("k long").json(out)
    return (
        parsed.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("k")
    )


def q_streaming_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-window aggregation through the STREAMING engine (complete
    mode — sessions are not finalized-by-watermark, so none are withheld
    at stream end). Oracle = the same gaps-and-islands SQL as the batch
    q_window_session: the fourth streaming==batch equivalence, covering
    the only window kind whose extent is data-dependent."""
    import shutil

    from .streaming.windows import session_agg

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        stream = _events_stream(spark, sf_dir)
        agg = session_agg(
            stream, "ts", "2 hours", ["user_id"],
            [F.count(F.lit(1)).alias("n_events")],
        )
        name = f"engine_stream_session_{_RUN_TAG}"
        ckpt = _tmp_path("stream_session_ckpt")
        shutil.rmtree(ckpt, ignore_errors=True)
        q = (
            agg.select("user_id", "session_start", "session_end", "n_events")
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.table(name)


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimates (operators/sketch): a
    4x1024 mergeable sketch built over all document tokens in one
    aggregation, probed for the stopword list, reported next to the exact
    counts (the exact side exists for verification only — at 100 TB you
    keep the kilobyte sketch and drop the vocabulary-sized exact table).
    md5-salted bucket hashes make the sketch bit-reproducible in the
    DuckDB oracle, so the estimates are hash-verified, not just
    plausible."""
    from .functions import text as TX
    from .operators.sketch import cms_build, cms_estimate

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(F.explode(TX.tokens(F.col("text"))).alias("term"))
    sketch = cms_build(tok, "term", depth=4, width=1024)
    keys = spark.createDataFrame([(w,) for w in TX.EN_STOPWORDS], ["term"])
    est = cms_estimate(sketch, keys, "term", depth=4, width=1024)
    # exact counts only for the probed keys: filter BEFORE the groupBy so
    # the verification side shuffles ~30 stopword rows, not the whole
    # vocabulary (the sketch side stays the only full aggregation)
    exact = (
        tok.filter(F.col("term").isin(list(TX.EN_STOPWORDS)))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("exact_n"))
    )
    return (
        est.join(exact, "term", "left")
        .select(
            "term",
            F.col("cms_count").cast("long").alias("cms_count"),
            F.coalesce(F.col("exact_n"), F.lit(0)).cast("long").alias("exact_n"),
        )
        .orderBy("term")
    )


def _profile_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(18,2)").alias("o_totalprice"),
    )


_PROFILE_COLS = [
    "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority", "o_totalprice"
]


def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profile (operators/quality.profile_columns),
    EXACT mode: min/max/null-count/exact-distinct for five orders columns
    in ONE scan (multi-distinct planned via a single Expand — oracle-parity
    only; the default approx mode in q_profile_table_approx is the 100 TB
    path). The double column is pre-cast to decimal(18,2) so min/max
    render identically across engines."""
    from .operators.quality import profile_columns

    return profile_columns(
        _profile_input(spark, sf_dir), _PROFILE_COLS, approx=False
    ).orderBy("col_name")


def q_profile_table_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile in the default approximate mode: HLL++ distinct
    sketches, constant per-column state, NO Expand — the plan that
    survives a 100 TB fact (rows-only: sketch estimates are
    engine-specific, exactness is covered by q_profile_table's oracle and
    the relative-error pytest)."""
    from .operators.quality import profile_columns

    return profile_columns(
        _profile_input(spark, sf_dir), _PROFILE_COLS, approx=True
    ).orderBy("col_name")


def q_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (plans/incremental): the stored
    per-priority rollup of 'history' orders merged with the partial state
    of a new batch — without rescanning history. The oracle recomputes
    from scratch over everything, hash-verifying that
    merge(state(hist), state(batch)) == full recompute, exactly (decimal
    partial sums, not doubles)."""
    from .plans.incremental import aggregate_state, finalize_state, merge_state

    orders = _t(spark, sf_dir, "orders")
    hist = orders.filter(F.col("o_orderkey") % 10 != 0)
    batch = orders.filter(F.col("o_orderkey") % 10 == 0)
    keys = ["o_orderpriority"]
    merged = merge_state(
        aggregate_state(hist, keys, {"total_price": "o_totalprice"}),
        aggregate_state(batch, keys, {"total_price": "o_totalprice"}),
        keys,
    )
    return finalize_state(merged, keys).orderBy("o_orderpriority")


# ---------------------------------------------------------------------------
# round-6 additions: cohort retention, z-order layout, multimodal resize,
# minhash jaccard estimation (all oracle-twinned)
# ---------------------------------------------------------------------------


def q_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention over the event stream: users grouped by first-seen
    week, counted per week-since-signup — the companion analytic to
    q_funnel_steps. Two aggregations and one join, all keyed on user_id,
    so the shuffle partitioning is computed once and reused: first-seen
    per user (map-side-combined MIN), distinct (user, week) activity, and
    an equi-join back on user_id — never a self-join of raw events, which
    is the formulation that dies at 100 TB. Weeks are date_trunc Mondays
    in UTC, so datediff is always a multiple of 7 and the integer division
    is exact in both engines."""
    ev = _events(spark, sf_dir)
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    act = ev.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("act_week")
    ).distinct()
    return (
        act.join(firsts, "user_id")
        .select(
            "cohort_week",
            F.expr("datediff(act_week, cohort_week) div 7").alias("weeks_since"),
        )
        .groupBy("cohort_week", "weeks_since")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .select(
            # string week key: Spark date vs DuckDB timestamp canonicalize
            # differently in the harness; 'yyyy-MM-dd' is engine-neutral
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            "weeks_since",
            "n_active",
        )
        .orderBy("cohort_week", "weeks_since")
    )


#: Morton/Z-order interleave of two 16-bit values — generated once as SQL
#: text for both engines (pure integer bit arithmetic, bit-identical).
_Z_SPARK = " + ".join(
    f"shiftleft((shiftright(zx, {i}) & 1), {2 * i})"
    f" + shiftleft((shiftright(zy, {i}) & 1), {2 * i + 1})"
    for i in range(16)
)
_Z_DUCK = " + ".join(
    f"(((zx >> {i}) & 1) << {2 * i}) + (((zy >> {i}) & 1) << {2 * i + 1})"
    for i in range(16)
)
#: 8-bit-per-dimension Morton twin for q_zorder_pruning_stats, whose
#: dimensions are range-normalized to 0..255 before interleaving.
_Z8_DUCK = " + ".join(
    f"(((zx >> {i}) & 1) << {2 * i}) + (((zy >> {i}) & 1) << {2 * i + 1})"
    for i in range(8)
)


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) layout keys over two join/filter dimensions
    (l_partkey, l_suppkey): interleave the low 16 bits of each into one
    locality-preserving key, plus the top-10-bit bucket a writer would
    range-cluster files by.

    This is the multi-dimensional-clustering layout op (the OPTIMIZE
    ZORDER idea): range-partitioning and sorting by ``zval`` co-locates
    rows close in BOTH dimensions, so min/max file statistics prune scans
    for predicates on either column — a single-column sort gives pruning
    on one dimension only. The interleave itself is 64 integer bit ops,
    entirely inside whole-stage codegen; the returned frame is already
    range-clustered by ``zval`` exactly as the writer would lay it out."""
    li = _t(spark, sf_dir, "lineitem")
    z = li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr("pmod(l_partkey, 65536)").alias("zx"),
        F.expr("pmod(l_suppkey, 65536)").alias("zy"),
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.expr(f"({_Z_SPARK})").cast("long").alias("zval"),
    )
    return z.select(
        "l_orderkey",
        "l_linenumber",
        "zval",
        F.shiftright(F.col("zval"), 22).cast("long").alias("zbucket"),
    ).repartitionByRange(F.col("zval"))


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing through the Arrow mapInPandas path
    (multimodal/binary.resize_stub): metadata rewritten to the target
    dims, payload passed through opaquely — verified by recomputing the
    payload digest AFTER the Python batch hop, so the oracle catches any
    corruption in Arrow round-tripping of binary columns."""
    from .multimodal.binary import resize_stub

    resized = resize_stub(_media_table(spark, sf_dir), width=224, height=224)
    return resized.select(
        "media_id",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.sha2(F.col("payload"), 256).alias("content_digest"),
    ).orderBy("media_id")


def q_minhash_jaccard_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-based Jaccard ESTIMATION for LSH candidate pairs: the
    fraction of agreeing minhash rows (an unbiased estimator of true
    Jaccard) — the cheap middle stage between banding and exact
    verification. At 100 TB the estimate filters candidates using only
    the k-long signatures (already materialized, joined on compact ids),
    so the expensive shingle-set join of jaccard_pairs runs on a far
    smaller survivor set. Deterministic md5-based hashes make the
    estimate itself oracle-checkable bit-for-bit.

    The signature table is materialized once (dedup.materialized_signatures)
    — banding and the two estimation joins reference it 3x, and without
    materialization each reference re-runs the tokenize->shingle->hash
    pipeline over the corpus text (4 text scans measured where one
    suffices)."""
    from .operators.dedup import lsh_candidate_pairs, materialized_signatures

    docs = _t(spark, sf_dir, "documents")
    sigs = materialized_signatures(
        docs, "doc_id", "text", _tmp_path("minhash_sigs"), k=8
    )
    cands = lsh_candidate_pairs(sigs, "doc_id", k=8, bands=4)
    sa = sigs.select(
        F.col("doc_id").alias("a"),
        *[F.col(f"mh{i}").alias(f"__a{i}") for i in range(8)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("b"),
        *[F.col(f"mh{i}").alias(f"__b{i}") for i in range(8)],
    )
    agree = sum(
        F.when(F.col(f"__a{i}") == F.col(f"__b{i}"), 1).otherwise(0)
        for i in range(8)
    )
    return (
        cands.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            (agree.cast("double") / F.lit(8.0)).alias("est_jaccard"),
        )
        .orderBy("a", "b")
    )


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound heuristic quality gate in the Gopher/C4 style (Rae et al.
    2021 §A1.1 — public paper): word-count bounds, mean word length
    bounds, symbol-character ratio, and minimum distinct-stopword
    presence, combined into one keep flag. All signals are rational
    (integer counts and single IEEE divisions — no transcendentals), so
    every intermediate and the flag itself hash-match the DuckDB oracle
    bit-for-bit. One map-only pass over the corpus: the tokens array is
    materialized once per row and every signal derives from it or from
    two regexp_replace scans — no shuffle, no UDF, embarrassingly
    parallel at 100 TB."""
    from .functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    d = docs.select("doc_id", "text", TX.tokens(F.col("text")).alias("__toks"))
    n_words = F.size("__toks").cast("long")
    tok_chars = F.aggregate(
        F.transform(F.col("__toks"), lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    mean_wl = tok_chars.cast("double") / n_words.cast("double")
    n_sym = F.length("text") - F.length(
        F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", "")
    )
    sym_ratio = n_sym.cast("double") / F.length("text").cast("double")
    stop_arr = F.array(*[F.lit(s) for s in TX.EN_STOPWORDS])
    n_stop = F.size(
        F.array_intersect(F.array_distinct(F.col("__toks")), stop_arr)
    ).cast("long")
    keep = (
        (n_words >= 50)
        & (n_words <= 100000)
        & (mean_wl >= 3.0)
        & (mean_wl <= 10.0)
        & (sym_ratio < 0.1)
        & (n_stop >= 2)
    )
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        sym_ratio.alias("symbol_ratio"),
        n_stop.alias("n_stop_distinct"),
        keep.alias("keep"),
    ).orderBy("doc_id")


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap — the CommonCrawl-pipeline rule that no
    single domain may dominate the training mix: keep at most 50 docs per
    source, chosen by deterministic id-hash order (reproducible across
    runs, engines, and layouts; rand() is none of those). The per-group
    rank comes from the two-phase grouped rank
    (operators/relational.with_grouped_row_number), so a hot domain's
    sort is range-split across all reducers — NOT a per-domain window,
    which at web scale puts a billion-doc domain on one reducer."""
    from .functions import text as TX
    from .operators.relational import with_grouped_row_number

    docs = _t(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        "source",
        TX.hash32(F.col("doc_id").cast("string")).alias("__h"),
    )
    ranked = with_grouped_row_number(
        keyed, ["source"], ["__h", "doc_id"], rn_col="sample_rank", n_col="n_source"
    )
    return (
        ranked.filter(F.col("sample_rank") <= 50)
        .select("doc_id", "source", "sample_rank", "n_source")
        .orderBy("source", "sample_rank")
    )


def q_bigram_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining via association lift — p(xy)/(p(x)p(y)) as the
    rational form (c_xy * N) / (c_x * c_y), the transcendental-free core
    of PMI (PMI = log2(lift); taking the log changes no ranking and would
    cost cross-engine bit-equality). Top-20 pairs with support >= 5.

    Job shape: ONE corpus scan builds the pair-count table (explode +
    map-side-combined count), materialized as a compact parquet artifact
    — both marginals and the grand total then derive from that
    vocab²-bounded table, not from re-scans of the text (the
    minhash-signature lesson, dedup.materialized_signatures). Every
    count fits a double exactly (< 2^53), and the lift expression is the
    identical operation tree in both engines, so ordering and values
    hash-match."""
    from .functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    pairs = (
        docs.select(TX.tokens(F.col("text")).alias("__toks"))
        .select(F.explode(TX.shingles_of(F.col("__toks"), 2)).alias("bg"))
        .select(
            F.split(F.col("bg"), " ").getItem(0).alias("w1"),
            F.split(F.col("bg"), " ").getItem(1).alias("w2"),
        )
    )
    cxy = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_xy"))
    path = _tmp_path("bigram_counts")
    cxy.write.mode("overwrite").parquet(path)
    cxy = spark.read.parquet(path)
    cx = cxy.groupBy("w1").agg(F.sum("c_xy").alias("c_x"))
    cy = cxy.groupBy("w2").agg(F.sum("c_xy").alias("c_y"))
    total = cxy.agg(F.sum("c_xy").alias("n_total"))
    lift = (F.col("c_xy").cast("double") * F.col("n_total").cast("double")) / (
        F.col("c_x").cast("double") * F.col("c_y").cast("double")
    )
    return (
        cxy.join(cx, "w1")
        .join(cy, "w2")
        .crossJoin(F.broadcast(total))
        .filter(F.col("c_xy") >= 5)
        .select(
            "w1",
            "w2",
            F.col("c_xy").cast("long").alias("c_xy"),
            F.col("c_x").cast("long").alias("c_x"),
            F.col("c_y").cast("long").alias("c_y"),
            lift.alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "w1", "w2")
        .limit(20)
    )


def q_mad_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier gate via median absolute deviation — the
    heavy-tail-safe sibling of q_outlier_zscore (mean/stddev are
    themselves dragged by outliers; median/MAD are not). Both medians
    are exact rank selections (value at row ceil(n/2) of a total order —
    the lower median, no interpolation, engine-independent), each from
    a VALUE HISTOGRAM, so the fact is scanned ONCE and shuffled ONCE
    (the distinct (group, price) count aggregate — map-side combined);
    the lower median is the first value whose cumulative row count
    reaches ceil(n/2), the deviation multiset |x - med| derives from
    the histogram itself (counts re-keyed by adev — another
    histogram-sized op, the fact is never touched again), and MAD +
    outlier counts come from the derived histogram. Deviations compare
    EXACTLY: prices are doubles, |x - med| and 3*MAD are single IEEE
    operations, identical in DuckDB — and rank selection by VALUE order
    means tiebreak columns can't change the selected value, so the
    rank-formulation oracle is unchanged.

    Scale: every post-scan step is bounded by the VALUE DOMAIN (distinct
    prices, ~1.8e7 max), which does NOT grow with data volume — the
    per-group cumulative window runs over domain-bounded rows, never
    the fact. At sf0.1 prices are still near-distinct (594k histogram
    rows for 600k fact rows) so local time is flat vs the earlier
    two-phase-rank form (~2.7 s); the win is the 100 TB shape — fact
    work drops from two range shuffles + five scans to ONE scan + one
    map-combined shuffle, and everything after is O(domain). The
    per-group medians/MADs are COLLECTED between steps and spliced back
    as literals (groups-sized by construction — the HWM/centroid
    pattern)."""

    def _lit_map(rows: dict) -> Column:
        return F.coalesce(
            *[
                F.when(F.col("l_returnflag") == k, F.lit(v))
                for k, v in sorted(rows.items())
            ]
        )

    def _hist_median(hist: DataFrame, val_col: str) -> dict:
        """Value at row-rank ceil(n/2) per group, from (group, value, c)."""
        w_cum = (
            Window.partitionBy("l_returnflag")
            .orderBy(val_col)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        w_n = Window.partitionBy("l_returnflag")
        cum = hist.select(
            "l_returnflag",
            val_col,
            F.sum("c").over(w_cum).alias("__cum"),
            F.sum("c").over(w_n).alias("__n"),
        )
        rows = (
            cum.filter(F.col("__cum") >= F.ceil(F.col("__n") / 2))
            .groupBy("l_returnflag")
            .agg(F.min(val_col).alias("__med"))
            .collect()
        )
        return {r["l_returnflag"]: r["__med"] for r in rows}

    li = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    # three downstream consumers (median job, deviation re-key, final
    # stats) — pin the histogram as executor blocks so the fact groupBy
    # runs once (localCheckpoint beats a parquet round-trip here; a
    # 100 TB pipeline would persist the histogram as a real artifact,
    # losing executor blocks mid-query is a local-mode non-risk)
    hist = (
        li.groupBy("l_returnflag", "l_extendedprice")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )

    med = _hist_median(hist, "l_extendedprice")
    dev_hist = (
        hist.select(
            "l_returnflag",
            F.abs(F.col("l_extendedprice") - _lit_map(med)).alias("adev"),
            "c",
        )
        .groupBy("l_returnflag", "adev")
        .agg(F.sum("c").alias("c"))
    )
    mad = _hist_median(dev_hist, "adev")
    return (
        dev_hist.groupBy("l_returnflag")
        .agg(
            F.max(_lit_map(med)).alias("med"),
            F.max(_lit_map(mad)).alias("mad"),
            F.sum(
                F.when(
                    F.col("adev") > F.lit(3.0) * _lit_map(mad), F.col("c")
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_outliers"),
            F.sum("c").cast("long").alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ composed ANN (operators/similarity.cosine_topk_ivfpq):
    coarse k-means cells prune candidates, PQ asymmetric-distance scores
    the survivors over 8-byte codes — the IVFADC configuration
    billion-vector indexes run. Rows-only: centroids/codebooks come from
    float k-means, so estimates are engine-specific; recall against
    exact brute force is asserted in tests/test_similarity.py."""
    from .operators.similarity import cosine_topk_ivfpq, pq_train

    emb = _t(spark, sf_dir, "embeddings")
    books = pq_train(emb, n_sub=8, dim=64, n_centroids=16, n_iters=2)
    queries = emb.filter(F.col("vec_id") < 5)
    return cosine_topk_ivfpq(
        emb, queries, books, k=10, n_centroids=16, n_probe=4
    ).orderBy("query_id", "rank")


def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy join: probe names with a one-character corruption
    matched back to the customer dimension by edit distance <= 2 — the
    entity-resolution / record-linkage op, in the only formulation that
    survives scale: a BLOCKED equi-join (here on the digit suffix the
    corruption provably leaves intact) with the Levenshtein filter
    applied per candidate, never |probes| x |customers| distances. The
    metric is identical in Spark and DuckDB, so candidates, distances,
    and survivors all hash-match."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    probes = cust.filter(F.col("c_custkey") % 60 == 7).select(
        F.col("c_custkey").alias("probe_id"),
        F.concat(
            F.substring("c_name", 1, 9), F.lit("X"), F.expr("substring(c_name, 11)")
        ).alias("probe_name"),
        F.expr("substring(c_name, 11)").alias("__blk"),
    )
    cands = cust.join(
        probes, F.expr("substring(c_name, 11)") == probes["__blk"]
    ).select(
        "probe_id",
        "probe_name",
        "c_custkey",
        "c_name",
        F.levenshtein("probe_name", "c_name").cast("long").alias("dist"),
    )
    return cands.filter(F.col("dist") <= 2).orderBy("probe_id", "c_custkey")


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part<->supplier supply bipartite graph (edges =
    distinct lineitem (partkey, suppkey) pairs, both directions; node
    ids namespaced even/odd). Top-20 by rank. Rows-only: 10 float power
    iterations have no SQL twin; the operator is verified against a
    scalar reference recursion and for layout independence in
    tests/test_graph.py (operators/graph.pagerank)."""
    from .operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem")
    pairs = li.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    ).distinct()
    edges = pairs.union(pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    ranks = pagerank(edges, n_iters=5)
    return (
        ranks.select(
            F.col("node").cast("long").alias("node"),
            F.when(F.col("node") % 2 == 0, F.lit("part"))
            .otherwise(F.lit("supplier"))
            .alias("node_type"),
            (F.col("node") / 2).cast("long").alias("entity_id"),
            "rank",
        )
        .orderBy(F.col("rank").desc(), "node")
        .limit(20)
    )


def q_pagerank_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integerized PageRank over the same part<->supplier supply graph
    as q_pagerank, but with DEFINED truncating-integer-division
    semantics (operators/graph.pagerank_int) so a DuckDB unrolled-CTE
    twin reproduces the ranks BIT-EXACTLY — the cross-engine hash check
    the float version cannot have (r6 VERDICT item 5). 4 iterations;
    ranks scaled by 10^12; top-20 by (rank desc, node) — a total order,
    node is unique. The doubled bipartite orientation guarantees
    out-degree >= 1 everywhere, which is what lets the integer form
    drop the dangling-mass float scalar."""
    from .operators.graph import pagerank_int

    li = _t(spark, sf_dir, "lineitem")
    pairs = li.select(
        (F.col("l_partkey").cast("long") * 2).alias("src"),
        (F.col("l_suppkey").cast("long") * 2 + 1).alias("dst"),
    ).distinct()
    # both orientations from ONE explode over the distinct pairs (the
    # connected_components symmetrization rationale, r15): the union
    # form re-ran the distinct's final aggregate once per branch while
    # pagerank_int's up-front checkpoint materialized the edge list
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("src"), F.col("dst")),
                F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
            )
        ).alias("__e")
    ).select("__e.src", "__e.dst")
    ranks = pagerank_int(edges, n_iters=4)
    return (
        ranks.select(
            F.col("node").cast("long").alias("node"),
            F.when(F.col("node") % 2 == 0, F.lit("part"))
            .otherwise(F.lit("supplier"))
            .alias("node_type"),
            F.expr("node div 2").cast("long").alias("entity_id"),
            F.col("rank_i").alias("rank_scaled"),
        )
        .orderBy(F.col("rank_scaled").desc(), "node")
        .limit(20)
    )


def q_rolling_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 24-hour rolling aggregate per user via a value-based
    RANGE frame (``rangeBetween(-86400, 0)`` over epoch seconds) — the
    time-window feature a row-count frame (q_window_frame) cannot
    express: how many events / how much value in the PREVIOUS DAY,
    however many rows that is. Epochs are truncated to whole seconds
    identically in both engines, frame peers (equal epochs) are included
    by RANGE semantics in both, and the sum rides the decimal cast so
    accumulation order can't break the hash. Partitioned by user —
    high-cardinality, so the window distributes; no global sort."""
    from .functions.timeutil import epoch_seconds

    ev = _events(spark, sf_dir)
    base = ev.select(
        "event_id",
        "user_id",
        epoch_seconds(F.col("ts")).cast("long").alias("epoch_s"),
        "value",
    )
    w = Window.partitionBy("user_id").orderBy("epoch_s").rangeBetween(-86400, 0)
    return base.select(
        "event_id",
        "user_id",
        "epoch_s",
        F.count(F.lit(1)).over(w).cast("long").alias("n_24h"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .over(w)
        .cast("double")
        .alias("sum_24h"),
    ).orderBy("event_id")


def q_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavior transition matrix: per-user consecutive
    event-type pairs (lag over (ts, event_id)) counted into a
    (prev_type, next_type, n, share) matrix — the Markov-chain
    statistics session-modeling and next-event-prediction features are
    built from. ``share`` is the row-normalized probability as ONE IEEE
    division of exact integer counts. One user-partitioned window (high
    cardinality, distributes) + one pairs-sized aggregation."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .filter(F.col("prev_type").isNotNull())
    )
    counts = pairs.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = counts.groupBy("prev_type").agg(F.sum("n").alias("row_total"))
    return (
        counts.join(totals, "prev_type")
        .select(
            "prev_type",
            "next_type",
            F.col("n").cast("long").alias("n"),
            (F.col("n").cast("double") / F.col("row_total").cast("double")).alias(
                "share"
            ),
        )
        .orderBy("prev_type", "next_type")
    )


#: q_corr_matrix integerization scales: per-row scaled magnitudes stay
#: <= ~5e11, so a 1e6-row input partition's long sum stays under 2^63 at
#: any data volume (the fastagg bound) and every floored value is an
#: exact double (< 2^53)
_CORR_SCALE1 = {"qty": 6, "price": 10, "disc": 8, "tax": 8}
_CORR_SCALE2 = {
    ("qty", "qty"): 8, ("qty", "price"): 10, ("qty", "disc"): 8,
    ("qty", "tax"): 8, ("price", "price"): 10, ("price", "disc"): 10,
    ("price", "tax"): 10, ("disc", "disc"): 10, ("disc", "tax"): 10,
    ("tax", "tax"): 10,
}


def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over the fact's four numeric
    measures in ONE scan: a single aggregate collects all 15 power sums
    (4 sums, 4 squares, 6 cross-products, count) and every pairwise corr
    is closed-form arithmetic over that one row — versus 6 separate
    corr() calls = 6 fact scans.

    Sums ride the fastagg scheme, not decimals: Spark decimals past
    precision 18 leave the long-backed fast path (measured 6.3 s at
    sf0.1 with decimal(38,8) products vs 1.4 s here). Each value is
    integerized as ``floor(x * 10^scale + 0.5) -> long`` (plain codegen;
    F.round's per-row BigDecimal alone cost ~2x), summed as longs per
    input partition, merged exactly as decimal(38,0), and unscaled with
    exactly two IEEE roundings (int -> nearest double, / 10^scale) that
    DuckDB reproduces operation-for-operation — so the matrix stays
    hash-identical. Price is pre-divided by 2^17 (exact: exponent-only)
    to keep its squares inside the per-partition overflow bound;
    correlation is scale-invariant so the statistic is unchanged. The
    moments carry ~1e-8 relative integerization error — q_stats_moments
    remains the exact-decimal sibling."""
    li = _t(spark, sf_dir, "lineitem")
    cols = {
        "qty": F.col("l_quantity"),
        "price": F.col("l_extendedprice") / F.lit(131072.0),
        "disc": F.col("l_discount"),
        "tax": F.col("l_tax"),
    }
    names = list(cols)

    def scaled(expr: Column, s: int) -> Column:
        return F.floor(expr * F.lit(float(10**s)) + F.lit(0.5))

    pid = F.spark_partition_id().alias("__cm_pid")
    aggs = [F.count(F.lit(1)).alias("__cm_n")]
    for a in names:
        aggs.append(F.sum(scaled(cols[a], _CORR_SCALE1[a])).alias(f"__l_{a}"))
    for (a, b), s in _CORR_SCALE2.items():
        aggs.append(
            F.sum(scaled(cols[a] * cols[b], s)).alias(f"__l_{a}_{b}")
        )
    stage1 = li.groupBy(pid).agg(*aggs)
    finals = [F.sum("__cm_n").alias("n")]
    for a in names:
        finals.append(
            (
                F.sum(F.col(f"__l_{a}").cast("decimal(38,0)")).cast("double")
                / F.lit(float(10 ** _CORR_SCALE1[a]))
            ).alias(f"s_{a}")
        )
    for (a, b), s in _CORR_SCALE2.items():
        finals.append(
            (
                F.sum(F.col(f"__l_{a}_{b}").cast("decimal(38,0)")).cast("double")
                / F.lit(float(10**s))
            ).alias(f"s_{a}_{b}")
        )
    agg = stage1.agg(*finals)

    nd = F.col("n").cast("double")

    def var(a: str) -> Column:
        return (
            F.col(f"s_{a}_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}") / nd
        ) / (nd - 1)

    def corr(a: str, b: str) -> Column:
        cov = (
            F.col(f"s_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}") / nd
        ) / (nd - 1)
        return cov / (F.sqrt(var(a)) * F.sqrt(var(b)))

    pairs = [(a, b) for i, a in enumerate(names) for b in names[i + 1 :]]
    rows = F.array(
        *[
            F.struct(
                F.lit(a).alias("col_x"),
                F.lit(b).alias("col_y"),
                corr(a, b).alias("corr"),
            )
            for a, b in pairs
        ]
    )
    return (
        agg.select(F.explode(rows).alias("r"))
        .select("r.col_x", "r.col_y", "r.corr")
        .orderBy("col_x", "col_y")
    )


def q_ab_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t statistic between event-type cohorts ('view' vs
    'purchase' value distributions) — the A/B-experiment readout, from
    ONE pass of exact-decimal power sums per cohort: t = (m1-m2) /
    sqrt(v1/n1 + v2/n2), plus the Welch-Satterthwaite degrees of
    freedom. Everything below the final sqrt/divisions is
    order-independent decimal arithmetic, and sqrt/divide are single
    IEEE ops identical in DuckDB, so the statistic hash-matches. (The
    p-value needs the t CDF — a transcendental; by the engine's
    chi-square precedent the STATISTIC is the oracle-checked surface
    and thresholding happens downstream.)"""
    ev = _events(spark, sf_dir)
    g = (
        ev.filter(F.col("event_type").isin("view", "purchase"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("s"),
            F.sum((F.col("value") * F.col("value")).cast("decimal(28,8)"))
            .cast("double")
            .alias("ss"),
        )
    )
    a = g.filter(F.col("event_type") == "view").select(
        F.col("n").alias("n1"), F.col("s").alias("s1"), F.col("ss").alias("ss1")
    )
    b = g.filter(F.col("event_type") == "purchase").select(
        F.col("n").alias("n2"), F.col("s").alias("s2"), F.col("ss").alias("ss2")
    )
    j = a.crossJoin(b)
    n1, n2 = F.col("n1").cast("double"), F.col("n2").cast("double")
    m1, m2 = F.col("s1") / n1, F.col("s2") / n2
    v1 = (F.col("ss1") - F.col("s1") * F.col("s1") / n1) / (n1 - 1)
    v2 = (F.col("ss2") - F.col("s2") * F.col("s2") / n2) / (n2 - 1)
    se2 = v1 / n1 + v2 / n2
    dof = (se2 * se2) / (
        (v1 / n1) * (v1 / n1) / (n1 - 1) + (v2 / n2) * (v2 / n2) / (n2 - 1)
    )
    return j.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        m1.alias("mean_view"),
        m2.alias("mean_purchase"),
        ((m1 - m2) / F.sqrt(se2)).alias("t_stat"),
        dof.alias("welch_dof"),
    )


def q_streaming_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-key EWMA anomaly detection
    (streaming/stateful.ewma_anomaly) over the events file as a finite
    availableNow stream — final per-key baseline state + cumulative
    alert counts. Rows-only like q_streaming_running_totals: the EW
    recursions are multiply-add folds whose SQL closed form would need
    pow(), so cross-engine bit-equality is a pytest concern
    (tests/test_stateful_rangejoin.py replays micro-batches against a
    scalar reference recursion)."""
    import shutil

    from .streaming.stateful import ewma_anomaly

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    ckpt = _tmp_path("ewma_ckpt")
    shutil.rmtree(ckpt, ignore_errors=True)
    stream = _events_stream(spark, sf_dir)
    out = ewma_anomaly(stream, "user_id", "value", "event_id")
    q = (
        out.writeStream.format("memory")
        .queryName("engine_ewma_anomaly")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    res = spark.table("engine_ewma_anomaly")
    w = Window.partitionBy("key").orderBy(F.col("n_events").desc())
    return (
        res.select("*", F.row_number().over(w).alias("__rn"))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("key").alias("user_id"),
            "n_events",
            "ew_mean",
            "ew_var",
            "n_alerts",
        )
        .orderBy("user_id")
    )


def q_unigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained unigram-LM perplexity per document — the classic
    LM-based quality filter (CCNet, Wenzek et al. 2020: docs whose
    perplexity under a reference LM is extreme are low-quality). Add-one
    smoothed: nll(t) = -log2((c_t + 1) / (N + V)); per-doc output is
    mean bits and ppl = 2^mean.

    Job shape: ONE corpus scan builds the token-count table (map-side
    combined, vocab-bounded, materialized as a parquet artifact — the
    LM is a first-class reusable asset, and training + scoring both
    reference it); scoring re-scans the corpus, explodes tokens, and
    hash-joins the counts on the token key — vocab-sized build side, so
    AQE broadcasts it at small scale and shuffles compact (token, count)
    pairs at web scale. N and V ride a broadcast 1-row cross join.
    Rows-only: log2 is a transcendental whose last ulp is libm-specific
    (chi-square/t-test precedent keeps transcendentals out of oracle
    surfaces); parity vs a pure-Python reference is asserted to 1e-9 in
    tests/test_dedup_text.py."""
    from .functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    path = _tmp_path("unigram_lm")
    counts.write.mode("overwrite").parquet(path)
    counts = spark.read.parquet(path)
    totals = counts.agg(
        F.sum("c").cast("long").alias("N"), F.count(F.lit(1)).alias("V")
    )
    nll = -F.log2(
        (F.col("c") + 1).cast("double") / (F.col("N") + F.col("V")).cast("double")
    )
    return (
        toks.join(counts, "tok")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.avg(nll).alias("avg_nll_bits"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "avg_nll_bits",
            F.pow(F.lit(2.0), F.col("avg_nll_bits")).alias("ppl"),
        )
        .orderBy("doc_id")
    )


def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (streaming/join.interval_join_streams):
    error events joined to the same user's clicks within the following
    6 hours, replayed as a finite availableNow stream — Spark's
    native stream-stream join IS the scale path (both sides hash-
    partition on user_id; the watermark + time-range condition lets the
    state store evict rows once they can no longer match, so state is
    bounded by watermark horizon x arrival rate, not stream length).
    Bounded replay completes in one micro-batch, so the result equals
    the batch join and the DuckDB oracle hash-checks it — the same
    check class as q_streaming_dedup/enrich."""
    import shutil

    from .streaming.join import interval_join_streams

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    # state-store instances scale with shuffle width x join sides; the
    # bounded 150-user replay needs few (fresh checkpoint per call, so
    # the width is free to differ between runs)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    ckpt = _tmp_path("sj_ckpt")
    shutil.rmtree(ckpt, ignore_errors=True)
    stream = _events_stream(spark, sf_dir)
    errors = stream.filter(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("error_id"), "ts"
    )
    clicks = stream.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    joined = interval_join_streams(
        errors, clicks, "user_id", "ts", "click_ts", 21600, watermark="12 hours"
    ).select("error_id", "click_id")
    q = (
        joined.writeStream.format("memory")
        .queryName("engine_interval_join")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return (
        spark.table("engine_interval_join")
        .select("error_id", "click_id")
        .orderBy("error_id", "click_id")
    )


#: q_linreg reuses q_corr_matrix's integerization scales for the
#: (qty, price) measure pair — same per-partition long-sum overflow bound.
_LINREG_SUMS = {
    "sx": ("x", 6), "sy": ("y", 10),
    "sxx": ("x * x", 8), "sxy": ("x * y", 10), "syy": ("y * y", 10),
}


def q_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinary-least-squares fit of l_extendedprice ~ l_quantity from
    ONE fact scan: the five power sums (plus count) ride q_corr_matrix's
    integerized fastagg scheme (floor(v * 10^s + 0.5) -> long per row,
    long sums per input partition, exact decimal(38,0) merge, two IEEE
    roundings back), and slope / intercept / r-squared are closed-form
    arithmetic over that single row — the regression readout feature
    pipelines want without 2+ passes or an ML-library dependency.

    Price is pre-divided by 2^17 (exact, exponent-only) to keep its
    squares inside the per-partition long bound; the slope and intercept
    are un-scaled at the end by the same power of two (exact), and
    r-squared is scale-invariant. Every post-aggregate op is mirrored
    operation-for-operation in the DuckDB oracle, so the statistics
    hash-match bit-for-bit."""
    li = _t(spark, sf_dir, "lineitem")
    x = F.col("l_quantity")
    y = F.col("l_extendedprice") / F.lit(131072.0)
    exprs = {"x": x, "y": y, "x * x": x * x, "x * y": x * y, "y * y": y * y}

    def scaled(expr: Column, s: int) -> Column:
        return F.floor(expr * F.lit(float(10**s)) + F.lit(0.5))

    pid = F.spark_partition_id().alias("__lr_pid")
    stage1 = li.groupBy(pid).agg(
        F.count(F.lit(1)).alias("__lr_n"),
        *[
            F.sum(scaled(exprs[e], s)).alias(f"__lr_{name}")
            for name, (e, s) in _LINREG_SUMS.items()
        ],
    )
    agg = stage1.agg(
        F.sum("__lr_n").alias("n"),
        *[
            (
                F.sum(F.col(f"__lr_{name}").cast("decimal(38,0)")).cast("double")
                / F.lit(float(10**s))
            ).alias(name)
            for name, (_e, s) in _LINREG_SUMS.items()
        ],
    )
    nd = F.col("n").cast("double")
    sxy_c = F.col("sxy") - F.col("sx") * F.col("sy") / nd
    sxx_c = F.col("sxx") - F.col("sx") * F.col("sx") / nd
    syy_c = F.col("syy") - F.col("sy") * F.col("sy") / nd
    slope_scaled = sxy_c / sxx_c
    return agg.select(
        F.col("n").cast("long").alias("n"),
        (slope_scaled * F.lit(131072.0)).alias("slope"),
        (
            (F.col("sy") / nd - slope_scaled * (F.col("sx") / nd))
            * F.lit(131072.0)
        ).alias("intercept"),
        ((sxy_c * sxy_c) / (sxx_c * syy_c)).alias("r2"),
    )


def q_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill by LINEAR INTERPOLATION: per user, a dense
    6-hour grid between their first and last observed bucket; empty
    buckets get prev + (next - prev) * elapsed-fraction instead of
    q_resample_ffill's stair-step carry — the two-sided fill fixed-step
    feature models prefer for slowly-varying signals.

    Same distributed shape as the ffill sibling (bucketed means ->
    sequence-exploded grid -> one user-partitioned window sort); the
    previous/next observation value AND timestamp all come from
    last/first(ignorenulls) over two frames of that one sort — no
    self-join against the observation set. Interpolation arithmetic is
    integer epoch deltas + three IEEE ops, mirrored in the oracle."""
    from .functions.timeutil import epoch_seconds

    ev = _events(spark, sf_dir)
    bucketed = ev.groupBy(
        "user_id", F.window("ts", "6 hours").start.alias("tb")
    ).agg(dec_avg(F.col("value")).alias("mean_value"))
    bounds = bucketed.groupBy("user_id").agg(
        F.min("tb").alias("mn"), F.max("tb").alias("mx")
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence(F.col("mn"), F.col("mx"), F.expr("INTERVAL 6 HOURS"))
        ).alias("tb"),
    )
    joined = grid.join(bucketed, ["user_id", "tb"], "left")
    ep = epoch_seconds(F.col("tb")).cast("long")
    obs_t = F.when(F.col("mean_value").isNotNull(), ep)
    wp = (
        Window.partitionBy("user_id")
        .orderBy("tb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wn = (
        Window.partitionBy("user_id")
        .orderBy("tb")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    pv = F.last("mean_value", ignorenulls=True).over(wp)
    pt = F.last(obs_t, ignorenulls=True).over(wp)
    nv = F.first("mean_value", ignorenulls=True).over(wn)
    nt = F.first(obs_t, ignorenulls=True).over(wn)
    frac = (ep - pt).cast("double") / (nt - pt).cast("double")
    return joined.select(
        "user_id",
        F.date_format("tb", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        F.coalesce(F.col("mean_value"), pv + (nv - pv) * frac).alias(
            "value_interp"
        ),
        F.col("mean_value").isNull().alias("was_gap"),
    )


def q_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credited to the user's most
    recent STRICTLY-PRIOR click within a 7-day lookback — the marketing
    attribution readout, and the conditional flavor of the as-of join
    (the match is type-filtered, not just time-ordered).

    One user-partitioned window sort over ALL events: the last preceding
    click's id and epoch come from last(CASE WHEN click, ignorenulls)
    over an UNBOUNDED..1 PRECEDING frame (ties broken by event_id in the
    sort key, identically in the oracle), then purchases filter out and
    the lookback horizon nulls stale credits. No event-x-event self-join
    anywhere, so the 100 TB shape is exactly one shuffle of the fact."""
    from .functions.timeutil import epoch_seconds

    ev = _events(spark, sf_dir)
    ep = epoch_seconds(F.col("ts")).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_click = F.col("event_type") == "click"
    tagged = ev.select(
        "event_id",
        "user_id",
        "event_type",
        ep.alias("ep"),
        F.last(F.when(is_click, F.col("event_id")), ignorenulls=True)
        .over(w)
        .alias("lc_id"),
        F.last(F.when(is_click, ep), ignorenulls=True).over(w).alias("lc_ep"),
    )
    fresh = F.col("lc_ep") >= F.col("ep") - F.lit(7 * 86400)
    return (
        tagged.filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.when(fresh, F.col("lc_id")).alias("attrib_click_id"),
            F.when(fresh, F.col("ep") - F.col("lc_ep")).alias("attrib_age_s"),
        )
        .orderBy("event_id")
    )


def _checksum_row(df: DataFrame, name: str, cols: list[Column]) -> DataFrame:
    canon = F.concat_ws(
        "|", *[F.coalesce(c.cast("string"), F.lit("null")) for c in cols]
    )
    digest = F.conv(F.substring(F.sha2(canon, 256), 1, 15), 16, 10).cast("long")
    return (
        df.select(digest.alias("__d"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            # string output: a decimal(38,0) column would round-trip
            # through the harness' pandas hop as float64 on the DuckDB
            # side and lose the low digits — the one place the engine's
            # "cast decimal sums back to double" rule can't apply
            F.sum(F.col("__d").cast("decimal(38,0)"))
            .cast("string")
            .alias("checksum"),
        )
        .select(F.lit(name).alias("table_name"), "n_rows", "checksum")
    )


def q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent content fingerprint per table — the integrity
    check migrations and replication pipelines run on both sides of a
    copy. Each row's canonical projection (nulls sentineled, money
    columns re-decimalized, timestamps as epoch seconds) is SHA-256
    hashed; the first 60 bits are summed as an exact decimal, so the
    (count, checksum) pair is invariant to row order and partitioning
    and never leaves the JVM. SHA-256 and the hex prefix parse behave
    identically in DuckDB (probed: conv == '0x'-cast), making the
    fingerprints cross-engine comparable — the point of the op.

    Scale: map-only hash + one partial-aggregated scalar per table; no
    shuffle wider than the 1-row partials."""
    from .functions.timeutil import epoch_seconds

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    o = _checksum_row(
        orders,
        "orders",
        [
            F.col("o_orderkey"),
            F.col("o_custkey"),
            F.col("o_orderstatus"),
            F.col("o_totalprice").cast("decimal(18,2)"),
            epoch_seconds(F.col("o_orderdate")).cast("long"),
            F.col("o_orderpriority"),
        ],
    )
    c = _checksum_row(
        customer,
        "customer",
        [
            F.col("c_custkey"),
            F.col("c_name"),
            F.col("c_nationkey"),
            F.col("c_acctbal").cast("decimal(18,2)"),
            F.col("c_mktsegment"),
        ],
    )
    n = _checksum_row(
        nation,
        "nation",
        [F.col("n_nationkey"), F.col("n_name"), F.col("n_regionkey")],
    )
    return o.unionAll(c).unionAll(n).orderBy("table_name")


def q_compact_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction surfaced end-to-end (plans/compact.py): the
    orders table is deliberately fragmented into 24 task-sized files,
    bin-packed back to ~target-size files with clustering restored on
    o_orderkey (range repartition + within-partition sort), atomically
    swapped in, and read BACK through the compacted directory — the
    oracle is plain `select ... from orders`, so the driver hash proves
    the maintenance op preserved every row and value. File-count
    reduction and min/max clustering are pinned in tests/test_compact.py.

    Scale: compaction is read + shuffle + write of only the partition
    directory it's pointed at; see the module docstring for the
    hive-partition routine."""
    import shutil

    from .functions.timeutil import epoch_seconds
    from .plans.compact import compact_parquet_dir

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    src = _t(spark, sf_dir, "orders")
    path = _tmp_path("compact_orders")
    shutil.rmtree(path, ignore_errors=True)
    src.repartition(24).write.mode("overwrite").parquet(path)
    compact_parquet_dir(spark, path, target_mb=128, sort_cols=["o_orderkey"])
    return (
        spark.read.parquet(path)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            epoch_seconds(F.col("o_orderdate")).cast("long").alias("order_epoch"),
            "o_orderpriority",
        )
        .orderBy("o_orderkey")
    )


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer-merge training over the documents corpus
    (operators/bpe.py): one corpus scan builds the word-frequency
    vocabulary, then each of 12 merge rounds runs entirely over that
    vocabulary-bounded relation (pair explode -> argmax collect of ONE
    row -> JVM fold apply). Rows-only: 12 data-dependent iterations
    don't express as one SQL query; tests/test_bpe.py pins the learned
    rules against a pure-Python reference implementation (same
    tokenization, tie-break, and greedy application)."""
    from .operators.bpe import train_bpe_merges

    docs = _t(spark, sf_dir, "documents")
    merges = train_bpe_merges(docs, "text", n_merges=12, min_count=2)
    return spark.createDataFrame(
        [(i + 1, l, r, c) for i, (l, r, c) in enumerate(merges)],
        "rank int, left string, right string, pair_count bigint",
    ).orderBy("rank")


def q_linreg_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS: one slope/intercept/r² row per l_returnflag — the
    segmented-regression readout (drift per cohort) from ONE fact scan.
    Same integerized power-sum scheme as q_linreg, with the group key
    simply joining the stage-1 grouping: stage 1 sums longs per
    (returnflag, input partition), stage 2 merges exact decimals per
    returnflag — a groups x partitions-sized intermediate, so adding the
    dimension costs nothing over the global fit."""
    li = _t(spark, sf_dir, "lineitem")
    x = F.col("l_quantity")
    y = F.col("l_extendedprice") / F.lit(131072.0)
    exprs = {"x": x, "y": y, "x * x": x * x, "x * y": x * y, "y * y": y * y}

    def scaled(expr: Column, s: int) -> Column:
        return F.floor(expr * F.lit(float(10**s)) + F.lit(0.5))

    pid = F.spark_partition_id().alias("__lg_pid")
    stage1 = li.groupBy(F.col("l_returnflag"), pid).agg(
        F.count(F.lit(1)).alias("__lg_n"),
        *[
            F.sum(scaled(exprs[e], s)).alias(f"__lg_{name}")
            for name, (e, s) in _LINREG_SUMS.items()
        ],
    )
    agg = stage1.groupBy("l_returnflag").agg(
        F.sum("__lg_n").alias("n"),
        *[
            (
                F.sum(F.col(f"__lg_{name}").cast("decimal(38,0)")).cast("double")
                / F.lit(float(10**s))
            ).alias(name)
            for name, (_e, s) in _LINREG_SUMS.items()
        ],
    )
    nd = F.col("n").cast("double")
    sxy_c = F.col("sxy") - F.col("sx") * F.col("sy") / nd
    sxx_c = F.col("sxx") - F.col("sx") * F.col("sx") / nd
    syy_c = F.col("syy") - F.col("sy") * F.col("sy") / nd
    slope_scaled = sxy_c / sxx_c
    return agg.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        (slope_scaled * F.lit(131072.0)).alias("slope"),
        (
            (F.col("sy") / nd - slope_scaled * (F.col("sx") / nd))
            * F.lit(131072.0)
        ).alias("intercept"),
        ((sxy_c * sxy_c) / (sxx_c * syy_c)).alias("r2"),
    ).orderBy("l_returnflag")


def q_incremental_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance (plans/incremental.
    incremental_join_delta): orders arrive in three append batches and
    customers in two; the materialized orders⋈customer view is refreshed
    per batch by appending ONLY the delta terms
    (dO ⋈ C_sofar  ∪  O_prev ⋈ dC) — history x history is never
    recomputed. The oracle is the full-recompute join, so the driver
    hash proves the maintained view converges to it exactly.

    Scale: each refresh joins a batch-sized side against one full side
    (broadcast the batch); the maintained view is append-only parquet.
    Updates/deletes need retraction rows — that's q_cdc_apply/SCD
    territory, documented in the helper."""
    import shutil

    from .plans.incremental import incremental_join_delta

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o_batch = [orders.filter(F.col("o_orderkey") % 3 == i) for i in range(3)]
    c_old = cust.filter(F.col("c_custkey") % 2 == 0)
    c_new = cust.filter(F.col("c_custkey") % 2 == 1)
    on = F.col("o_custkey") == F.col("c_custkey")

    view_path = _tmp_path("ij_view")
    shutil.rmtree(view_path, ignore_errors=True)
    # batch 1: initial load — dO=batch0 against the initial customers
    d1 = incremental_join_delta(o_batch[0], None, None, c_old, on)
    d1.write.mode("overwrite").parquet(view_path)
    # batch 2: new orders AND new customers in the same refresh
    d2 = incremental_join_delta(o_batch[1], o_batch[0], c_new, cust, on)
    d2.write.mode("append").parquet(view_path)
    # batch 3: orders only, against the now-complete customer side
    d3 = incremental_join_delta(
        o_batch[2], o_batch[0].unionByName(o_batch[1]), None, cust, on
    )
    d3.write.mode("append").parquet(view_path)
    return (
        spark.read.parquet(view_path)
        .select("o_orderkey", "o_custkey", "c_mktsegment", "o_totalprice")
        .orderBy("o_orderkey")
    )


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document — the curation gate
    that catches both mojibake/random strings (entropy too high) and
    degenerate repetition (too low); complements the token-level
    signals in q_text_quality / q_word_repetition.

    Distributed shape: chars explode to (doc_id, ch) but the partial
    aggregate collapses them to per-doc histograms BEFORE the exchange
    (doc rows are contiguous within input partitions), so the shuffle
    carries ~docs x alphabet rows, not corpus bytes. Rows-only like
    q_unigram_perplexity — log2 ulps are libm-specific — with a 1e-9
    Python-reference parity pytest (tests/test_bpe.py)."""
    from .operators.bpe import chars

    docs = _t(spark, sf_dir, "documents")
    hist = (
        docs.select(
            "doc_id", F.explode(chars(F.lower(F.col("text")))).alias("ch")
        )
        .groupBy("doc_id", "ch")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = F.sum("c").cast("double")
    ent = F.log2(n) - F.sum(F.col("c") * F.log2("c")).cast("double") / n
    return (
        hist.groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_chars"),
            F.count(F.lit(1)).cast("long").alias("distinct_chars"),
            ent.alias("entropy"),
        )
        .select(
            "doc_id",
            "n_chars",
            "distinct_chars",
            "entropy",
            (F.col("entropy") < F.lit(3.0)).alias("low_entropy"),
        )
        .orderBy("doc_id")
    )


def q_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION: train 8 BPE merges on the corpus, then
    segment the 20 most frequent words with the learned rules
    (operators/bpe.encode_word — the char split + one JVM fold per
    rule). The train/apply pair is the full tokenizer loop; per-doc
    encoding at scale reuses the same expression over exploded words.
    Rows-only for the same reason as q_bpe_train (iterative training);
    the segmentations are pinned against the Python reference encoder
    in tests/test_bpe.py."""
    from .operators.bpe import encode_word, train_bpe_merges, word_counts

    docs = _t(spark, sf_dir, "documents")
    merges = train_bpe_merges(docs, "text", n_merges=8, min_count=2)
    top = (
        word_counts(docs)
        .orderBy(F.col("wc").desc(), "word")
        .limit(20)
        .select(
            "word", "wc", encode_word(F.col("word"), merges).alias("seg")
        )
    )
    return top.select(
        "word",
        "wc",
        F.concat_ws("|", F.col("seg")).alias("segmented"),
        F.size("seg").cast("long").alias("n_subwords"),
    ).orderBy(F.col("wc").desc(), "word")


def q_streaming_left_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the null-extension path
    that makes streaming joins hard: an unmatched error can only be
    declared unmatched once the WATERMARK passes its match horizon
    (ts + 6 h), and the watermark micro-batch N uses was computed from
    batch N-1's data. The replay therefore stages events as THREE files
    consumed one per micro-batch (maxFilesPerTrigger=1): the real
    events, then two sentinel batches (+2 d / +4 d, impossible user ids
    on both join sides) whose only job is to drag event time forward —
    batch 2 advances the watermark past every real horizon and batch 3
    runs with that watermark, evicting-and-emitting all real unmatched
    errors. The final filtered output equals the batch LEFT join, so
    the full DuckDB oracle hash-checks null-extension semantics
    (inner matches still emit eagerly in batch 1).

    Scale: identical state bound to the inner variant (watermark
    horizon x arrival rate) — outer adds only the per-row "seen a
    match" bit; the sentinel staging is a replay-harness artifact, not
    part of the operator."""
    import datetime
    import shutil

    from .streaming.join import interval_join_streams

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    ev = _events(spark, sf_dir)
    mx = ev.agg(F.max("ts")).collect()[0][0]

    stage = _tmp_path("lsj_stage")
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)

    def write_batch(df: DataFrame, name: str, mtime: float) -> None:
        tmp = f"{stage}.__w"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dst = os.path.join(stage, name)
        os.replace(os.path.join(tmp, part), dst)
        shutil.rmtree(tmp, ignore_errors=True)
        os.utime(dst, (mtime, mtime))

    now = time.time()
    write_batch(ev, "batch0.parquet", now - 60)
    for i, days in enumerate((2, 4), start=1):
        ts = mx + datetime.timedelta(days=days)
        uid = -(2 * i)
        sent = spark.createDataFrame(
            [
                (-(4 * i), ts, uid, "error", 0.0, "{}"),
                (-(4 * i) - 1, ts, uid - 1, "click", 0.0, "{}"),
            ],
            ev.schema,
        )
        write_batch(sent, f"batch{i}.parquet", now - 60 + 20 * i)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    errors = stream.filter(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("error_id"), "ts"
    )
    clicks = stream.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    joined = interval_join_streams(
        errors,
        clicks,
        "user_id",
        "ts",
        "click_ts",
        21600,
        watermark="1 minute",
        how="left_outer",
    ).select("error_id", "click_id")
    ckpt = _tmp_path("lsj_ckpt")
    shutil.rmtree(ckpt, ignore_errors=True)
    q = (
        joined.writeStream.format("memory")
        .queryName("engine_left_interval")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return (
        spark.table("engine_left_interval")
        .filter(F.col("error_id") >= 0)  # sentinels are harness plumbing
        .orderBy("error_id", "click_id")
    )


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: near-duplicate documents must
    never straddle a split boundary (a test doc with a train-side
    near-copy leaks the benchmark), so the assignment hashes the
    NEAR-DUP CLUSTER REPRESENTATIVE, not the document — LSH candidate
    pairs -> connected components (operators/components) -> the same
    deterministic md5 bucket rule as q_split_assign applied to the rep.
    Singletons hash their own id, so the two splits agree wherever
    leakage is impossible.

    Rows-only (the component labels come from iterative propagation,
    q_dedup_clusters precedent); tests/test_leakage_split.py pins the
    invariants: every cluster lands in exactly ONE split, every LSH
    pair co-locates, and singleton assignments equal q_split_assign's.
    Scale shape is the cluster pipeline's (banding equi-joins + narrow
    label iterations) plus a map-only hash."""
    from .functions import text as TX
    from .operators.components import dedup_clusters
    from .operators.dedup import minhash_near_duplicates

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        docs = _t(spark, sf_dir, "documents")
        pairs = minhash_near_duplicates(docs, "doc_id", "text", threshold=0.5)
        labeled = dedup_clusters(pairs, docs, "doc_id")
        bucket = TX.hash32(F.col("cluster_rep").cast("string")) % 1000
        out = labeled.select(
            "doc_id",
            "cluster_rep",
            bucket.alias("bucket"),
            F.when(bucket < 900, F.lit("train"))
            .when(bucket < 950, F.lit("val"))
            .otherwise(F.lit("test"))
            .alias("split"),
        ).orderBy("doc_id")
        # connected_components already ran eagerly under the capped
        # width (cache+count per iteration); the remaining tail is
        # label-sized and fine at any width
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return out


def q_split_singleton_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-expressible core of the leakage-safe split: documents
    with NO verified near-dup candidate (LSH pairs at Jaccard >= 0.5 —
    the exact pair set q_minhash_lsh_pairs hash-checks) are singleton
    clusters, and their split assignment is the pure md5-bucket rule on
    their OWN id. This oracle-ifies the dominant subset of
    q_leakage_safe_split (r6 VERDICT item 5): the iterative component
    labels only matter for pair members; everywhere else the two
    engines must agree bit-for-bit, and here they are hash-checked.
    Plan: the banding pipeline's equi-joins + one left-anti join + a
    map-only hash — no new shuffle class over q_minhash_lsh_pairs."""
    from .functions import text as TX
    from .operators.dedup import minhash_near_duplicates

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(
        docs, "doc_id", "text", threshold=0.5,
        sig_path=_tmp_path("singleton_sigs"),
    )
    members = (
        pairs.select(F.col("a").alias("doc_id"))
        .union(pairs.select(F.col("b").alias("doc_id")))
        .distinct()
    )
    bucket = TX.hash32(F.col("doc_id").cast("string")) % 1000
    return (
        docs.join(members, "doc_id", "left_anti")
        .select(
            "doc_id",
            bucket.alias("bucket"),
            F.when(bucket < 900, F.lit("train"))
            .when(bucket < 950, F.lit("val"))
            .otherwise(F.lit("test"))
            .alias("split"),
        )
        .orderBy("doc_id")
    )


def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline / Pareto frontier over the part catalog: parts where no
    other part is simultaneously cheaper-or-equal AND larger-or-equal
    (one strict) — the multi-objective selection operator
    (operators/relational.pareto_frontier_2d; Börzsönyi et al., ICDE
    2001). The oracle is the quadratic NOT EXISTS dominance predicate;
    the engine's plan is the linear sort-based form: per-price best size
    (ONE scan, map-side combined, domain-bounded), strict running max
    over ascending price via the two-phase range prefix
    (relational.with_running_max — the with_global_row_number pattern
    generalized to prefix aggregates, so NO un-partitioned data window),
    survivors re-attached by a frontier-sized broadcast join. At 100 TB
    the dominance join the SQL implies is infeasible; this plan's only
    full-relation ops are one scan and one map-combined aggregate."""
    from .operators.relational import pareto_frontier_2d

    part = _t(spark, sf_dir, "part")
    return (
        pareto_frontier_2d(part, minimize="p_retailprice", maximize="p_size")
        .select("p_partkey", "p_name", "p_retailprice", "p_size")
        .orderBy("p_retailprice", "p_partkey")
    )


def q_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over order baskets (market-basket
    analysis): for part pairs bought together in >= 3 orders, emit
    support count, per-antecedent confidence, and lift — the Apriori
    readout at pair depth, on the q_bigram_lift rational-form precedent
    (confidence = c_ab/c_a, lift = (c_ab*N)/(c_a*c_b): single
    identical-op-tree doubles, no transcendentals, so DuckDB
    hash-matches).

    Job shape: ONE fact shuffle total on the pair path — the fact
    groups to per-order sorted basket ARRAYS (collect_set + array_sort,
    map-side combined), megabaskets (> 30 distinct items, bot traffic
    in real logs) drop at that boundary on both engines, and the
    baskets materialize as an orders-sized parquet artifact. Pairs then
    come from BASKET-LOCAL array expansion (nested transform + flatten
    — pure codegen, O(basket²) per row but basket size is bounded by
    the guard), NOT from the incidence self-join a naive formulation
    would shuffle ~basket²·orders rows through; marginals and the order
    total read the same artifact. The p1 < p2 canonical orientation is
    free: arrays are sorted and de-duplicated."""
    li = _t(spark, sf_dir, "lineitem")
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("items"))
        .filter(F.size("items") <= 30)
    )
    path = _tmp_path("basket_arrays")
    baskets.write.mode("overwrite").parquet(path)
    baskets = spark.read.parquet(path)
    items = F.col("items")
    pair_structs = F.flatten(
        F.transform(
            items,
            lambda x, i: F.transform(
                F.slice(items, i + F.lit(2), F.size(items)),
                lambda y: F.struct(x.alias("p1"), y.alias("p2")),
            ),
        )
    )
    c_ab = (
        baskets.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.p1").alias("p1"), F.col("p.p2").alias("p2"))
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    marg = (
        baskets.select(F.explode(items).alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    m1 = marg.select(F.col("l_partkey").alias("p1"), F.col("c").alias("c_a"))
    m2 = marg.select(F.col("l_partkey").alias("p2"), F.col("c").alias("c_b"))
    total = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    lift = (F.col("c_ab").cast("double") * F.col("n_orders").cast("double")) / (
        F.col("c_a").cast("double") * F.col("c_b").cast("double")
    )
    return (
        c_ab.filter(F.col("c_ab") >= 3)
        .join(m1, "p1")
        .join(m2, "p2")
        .crossJoin(F.broadcast(total))
        .select(
            "p1",
            "p2",
            "c_ab",
            "c_a",
            "c_b",
            (F.col("c_ab").cast("double") / F.col("c_a").cast("double")).alias(
                "confidence"
            ),
            lift.alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "p1", "p2")
        .limit(20)
    )


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the part co-purchase graph (parts co-occurring
    in >= 2 order baskets are linked): node/edge/wedge/triangle counts +
    the global clustering coefficient, via DEGREE-ORDERED edge
    orientation (operators/graph.triangle_stats; Suri & Vassilvitskii,
    WWW 2011). Orientation bounds the wedge fan-out per node by oriented
    out-degree ~ O(sqrt(m)) even at hub nodes — the property that makes
    exact triangle counting feasible on power-law graphs at 100 TB,
    where the naive unordered wedge join explodes as deg² on hubs.

    The edge list builds like q_basket_rules' pair table (per-order
    sorted basket arrays in ONE fact shuffle, megabasket-guarded,
    basket-local codegen pair expansion — no incidence self-join) and
    materializes as a parquet artifact because the triangle join reads
    it three times. Every count is exact integer arithmetic (wedges via
    integer ``div``); the clustering coefficient 3T/W is the only
    double, a two-op tree DuckDB reproduces bit-for-bit — the oracle's
    triple self-join counts each triangle once through the canonical
    a<b<c edge ordering, agreeing with the degree-ordered count."""
    from .operators.graph import triangle_stats

    li = _t(spark, sf_dir, "lineitem")
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("items"))
        .filter(F.size("items") <= 30)
    )
    items = F.col("items")
    pair_structs = F.flatten(
        F.transform(
            items,
            lambda x, i: F.transform(
                F.slice(items, i + F.lit(2), F.size(items)),
                lambda y: F.struct(x.alias("p1"), y.alias("p2")),
            ),
        )
    )
    edges = (
        baskets.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.p1").alias("p1"), F.col("p.p2").alias("p2"))
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select(F.col("p1").alias("src"), F.col("p2").alias("dst"))
    )
    path = _tmp_path("copurchase_edges")
    edges.write.mode("overwrite").parquet(path)
    edges = spark.read.parquet(path)
    return triangle_stats(edges, "src", "dst")


def q_hll_incremental_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental distinct counting via MATERIALIZED HyperLogLog sketch
    partials (operators/sketch.hll_partials/hll_rollup, Spark's built-in
    Datasketches HLL): per-day user sketches are computed in one pass
    and persisted as ~KB binary states; the weekly distinct-user readout
    then merges SKETCHES — the raw events are never rescanned. This is
    the mergeable-state pattern (CMS / incremental-rollup precedent)
    applied to COUNT(DISTINCT): at 100 TB, daily partitions sketch once
    at ingest and any coarser or rolling grain is a kilobyte-weight
    union, where exact distinct would re-shuffle user ids over the full
    history per question asked.

    Rows-only: the estimate depends on Datasketches' internal hash,
    which DuckDB cannot reproduce. tests/test_sketch.py pins the two
    properties that matter: merged-daily == direct-weekly estimate
    EXACTLY (HLL union between same-lgK sketches is lossless), and the
    estimate lands within the published error envelope of exact
    COUNT(DISTINCT)."""
    from .operators.sketch import hll_partials, hll_rollup

    ev = _events(spark, sf_dir)
    daily = hll_partials(
        ev.withColumn("day", F.to_date("ts")), ["day"], "user_id"
    )
    path = _tmp_path("hll_daily")
    daily.write.mode("overwrite").parquet(path)
    daily = spark.read.parquet(path)
    weekly = hll_rollup(
        daily.withColumn("week", F.date_trunc("week", F.col("day")).cast("date")),
        ["week"],
        out_col="approx_users",
    )
    return weekly.orderBy("week")


def q_incremental_distinct_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact twin of q_hll_incremental_distinct (r6 VERDICT item 5):
    the per-day (day, user) INCIDENCE — not a sketch — is the
    materialized daily artifact (it dedups in one map-side-combined
    events scan and is users x active-days sized, orders of magnitude
    below event volume); the weekly exact COUNT(DISTINCT) then reads
    the artifact, never rescanning events. Same incremental-state
    pattern, integer-exact output, so DuckDB hash-checks it — the HLL
    variant stays the at-scale path (KB sketches vs user-id rows), this
    one pins the numbers. Week truncation is Monday-start in both
    engines."""
    ev = _events(spark, sf_dir)
    daily = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    path = _tmp_path("incidence_daily")
    daily.write.mode("overwrite").parquet(path)
    daily = spark.read.parquet(path)
    return (
        daily.withColumn(
            "week",
            F.date_format(F.date_trunc("week", F.col("day")), "yyyy-MM-dd"),
        )
        .groupBy("week")
        .agg(F.count_distinct("user_id").cast("long").alias("n_users"))
        .orderBy("week")
    )


def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling: per (user, 6-hour bucket) open/high/low/close
    value bars + event count and decimal-exact volume — the time-series
    compaction every monitoring/market pipeline runs. Open/close are
    ``min_by``/``max_by`` over the event time (deterministic: (user, ts)
    is unique in the data; DuckDB's ``arg_min``/``arg_max`` are the
    oracle twins), so the whole bar is ONE map-side-combinable aggregate
    — no window, no sort, one shuffle of (user, bucket) groups. Bucket
    epochs floor identically in both engines (q_rolling_time_window's
    floor-before-cast convention)."""
    from .functions.timeutil import epoch_seconds

    ev = _events(spark, sf_dir)
    bucket = (F.floor(epoch_seconds(F.col("ts")) / 21600) * 21600).cast("long")
    return (
        ev.select("user_id", bucket.alias("bucket_s"), "ts", "value")
        .groupBy("user_id", "bucket_s")
        .agg(
            F.min_by("value", "ts").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "ts").alias("close"),
            F.count(F.lit(1)).alias("n_events"),
            dec_sum(F.col("value")).alias("volume"),
        )
        .orderBy("user_id", "bucket_s")
    )


def q_rolling_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users (WAU) per day, plus same-day DAU —
    the windowed COUNT(DISTINCT) that no frame-based window can express
    (distinct doesn't decompose over sliding frames). Exact formulation:
    the (day, user) incidence dedups in ONE events scan (map-side
    combined) and materializes (it is users x active-days — orders of
    magnitude below event volume); each incidence row then FANS OUT to
    the <= 7 window anchors it serves (codegen sequence + explode),
    anchors restrict to observed days, and a count-distinct per anchor
    finishes. Shuffle volume is 7x the incidence, never 7x the events.
    At 100 TB the sketch twin (q_rolling_dau_hll) replaces the fan-out
    of user ids with a fan-out of per-day HLL sketches — 7 x ~4 KB per
    day total — which is the recommended scale path; this exact form is
    the oracle-checkable spec."""
    ev = _events(spark, sf_dir)
    ud = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    path = _tmp_path("user_day_incidence")
    ud.write.mode("overwrite").parquet(path)
    ud = spark.read.parquet(path)
    days = ud.select("day").distinct()
    fan = ud.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("day"),
        "user_id",
    )
    wau = (
        fan.join(days, "day")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    dau = ud.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    return (
        dau.join(wau, "day")
        .select(
            # engine-neutral string day key (q_retention_cohort precedent)
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
        )
        .orderBy("day")
    )


def q_rolling_dau_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB path for q_rolling_dau: per-day HLL partials
    (operators/sketch.hll_partials — the same persisted artifact
    q_hll_incremental_distinct materializes) fan out to their <= 7
    window anchors and union per anchor. The shuffle carries ~7 sketch
    binaries (~4 KB each) PER DAY — independent of user volume — versus
    the exact form's 7x user-day incidence. Rows-only (Datasketches
    internal hash); tests/test_sketch.py pins the estimates against the
    exact rolling counts within the published error envelope, and
    sketch-union losslessness is pinned by the incremental-distinct
    test."""
    from .operators.sketch import hll_partials

    ev = _events(spark, sf_dir)
    daily = hll_partials(
        ev.withColumn("day", F.to_date("ts")), ["day"], "user_id"
    )
    path = _tmp_path("hll_daily_rolling")
    daily.write.mode("overwrite").parquet(path)
    daily = spark.read.parquet(path)
    days = daily.select("day")
    fan = daily.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("day"),
        "hll_sketch",
    )
    return (
        fan.join(days, "day")
        .groupBy("day")
        .agg(
            F.hll_sketch_estimate(
                F.hll_union_agg(F.col("hll_sketch"), F.lit(False))
            ).alias("wau_approx")
        )
        .orderBy("day")
    )


#: q_semantic_dedup operating point: seeded-constant centroids compiled
#: into BOTH plans as literals (the q_ivf_recall_eval closure trick, r12
#: VERDICT item 2) — graduates this entry from rows-only to a full
#: cross-engine hash. The API's iterative k-means training keeps its own
#: coverage in tests/test_similarity.py.
_SEMDEDUP_SEED = 45
_SEMDEDUP_CELLS = 16
_SEMDEDUP_THRESHOLD = 0.93


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication over the embeddings table
    (operators/similarity.semantic_dedup; Abbas et al. 2023): cluster
    the embedding space, search near-dup pairs ONLY within each cluster
    (equi-join on the cell id — the pair space is cluster-bounded,
    never all-pairs), and keep each qualifying pair's more-central
    member (centroid cosine, id tiebreak). The embedding-space sibling
    of the MinHash/SimHash text dedup ladder — catches paraphrases
    lexical fingerprints miss.

    Centroids here are SEEDED plan literals so the DuckDB oracle
    recomputes cell assignment, centroid cosines, the within-cell pair
    scan, the loser set and the surviving rows bit-for-bit — the
    kept/dropped VERDICTS are driver-hash-checked, not judgment. (The
    production path trains data-dependent centroids via kmeans_centroids
    — better cells, same machinery — pinned in tests/test_similarity.py;
    centroid placement changes WHICH pairs meet inside a cell, i.e.
    recall, never the keep-rule semantics this entry proves.)"""
    from .operators.similarity import _hyperplanes, semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb,
        "vec_id",
        "embedding",
        threshold=_SEMDEDUP_THRESHOLD,
        centroids=_hyperplanes(_SEMDEDUP_CELLS, 64, seed=_SEMDEDUP_SEED),
        materialize_path=_tmp_path("semdedup_cells"),
    ).orderBy("vec_id")


def q_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM perplexity per document — the next rung
    above q_unigram_perplexity on the LM-quality-filter ladder:
    p(w|prev) = 0.7 * c(prev,w)/c(prev) + 0.3 * (c(w)+1)/(N+V), the
    Jelinek-Mercer mixture (bigram ML estimate backed by the add-one
    unigram); a document's first token scores unigram-only. Repetitive
    boilerplate scores LOW perplexity under the bigram term — this is
    the standard detector for templated/spun text.

    Job shape: tokens explode ONCE with positions; bigram and unigram
    count tables build from that relation (map-side combined) and
    materialize as parquet LM artifacts (training and scoring are
    separate jobs at scale — the unigram-LM lesson); scoring hash-joins
    the vocab-bounded counts on token keys (broadcast at small scale via
    AQE, compact pairs at web scale). The per-doc lag window partitions
    by doc_id — high cardinality, distributes. Rows-only (log2 ulps are
    libm-specific); 1e-9 parity vs a pure-Python reference in
    tests/test_dedup_text.py."""
    from .functions import text as TX

    lam = 0.7
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(TX.tokens(F.col("text"))).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    seq = toks.select(
        "doc_id", "pos", F.lag("tok").over(w).alias("prev"), F.col("tok")
    )
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c_w"))
    big = (
        seq.filter(F.col("prev").isNotNull())
        .groupBy("prev", "tok")
        .agg(F.count(F.lit(1)).alias("c_bg"))
    )
    uni_path, big_path = _tmp_path("bigram_lm_uni"), _tmp_path("bigram_lm_big")
    uni.write.mode("overwrite").parquet(uni_path)
    big.write.mode("overwrite").parquet(big_path)
    uni = spark.read.parquet(uni_path)
    big = spark.read.parquet(big_path)
    totals = uni.agg(
        F.sum("c_w").cast("long").alias("N"), F.count(F.lit(1)).alias("V")
    )
    prev_c = uni.select(
        F.col("tok").alias("prev"), F.col("c_w").alias("c_prev")
    )
    scored = (
        seq.join(uni, "tok")
        .join(F.broadcast(totals))
        .join(prev_c, "prev", "left")
        .join(big, ["prev", "tok"], "left")
    )
    p_uni = (F.col("c_w") + 1).cast("double") / (
        F.col("N") + F.col("V")
    ).cast("double")
    p_big = F.coalesce(F.col("c_bg"), F.lit(0)).cast("double") / F.col(
        "c_prev"
    ).cast("double")
    p = F.when(F.col("prev").isNull(), p_uni).otherwise(
        F.lit(lam) * p_big + F.lit(1.0 - lam) * p_uni
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.avg(-F.log2(p)).alias("avg_nll_bits"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "avg_nll_bits",
            F.pow(F.lit(2.0), F.col("avg_nll_bits")).alias("ppl"),
        )
        .orderBy("doc_id")
    )


def q_zorder_pruning_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-skipping PAYOFF of q_zorder_layout, measured: per-file
    min/max statistics (the Delta/Iceberg skipping metadata a writer
    records) under (a) the Morton z-order file layout and (b) a
    single-column partkey-clustered layout, probed with a SUPPLIER-band
    predicate — the dimension the single-column sort cannot prune.
    Emits per-layout file counts, skippable-file counts (stats range
    disjoint from the predicate band), and the skip fraction. Z-order
    interleaving keeps both dimensions partially sorted within each
    file, so a ~N^(1/2) fraction of files overlaps any 1-D band; the
    partkey-sorted layout scatters suppkey uniformly through every
    file (skip fraction ~0). Everything is two map-side-combined
    aggregates over codegen'd bit ops — exact, so the DuckDB oracle
    hash-checks the claim rather than taking it on faith.

    Both dimensions are RANGE-NORMALIZED to a common 8-bit domain before
    interleaving (floor-scale by the key maxima, attached via a
    broadcast 1-row cross join — no literal splicing): raw Morton over
    unequal key widths degenerates (a 7-bit suppkey contributes nothing
    to the top interleave bits, making 'z-order' ≈ a partkey sort and
    the measured skip fraction 0 — exactly the bug this query existed to
    catch). With normalization the result is scale-invariant: 56 of 64
    z-files skip the ~10%-band probe, 0 of 64 partkey-sorted files do."""
    li = _t(spark, sf_dir, "lineitem")
    m = li.agg(
        F.max("l_partkey").alias("xm"), F.max("l_suppkey").alias("ym")
    )
    scaled = (
        li.select("l_partkey", "l_suppkey")
        .crossJoin(F.broadcast(m))
        .select(
            F.expr("(l_partkey * 256) div (xm + 1)").alias("zx"),
            F.expr("(l_suppkey * 256) div (ym + 1)").alias("zy"),
        )
    )
    z8 = " + ".join(
        f"shiftleft((shiftright(zx, {i}) & 1), {2 * i})"
        f" + shiftleft((shiftright(zy, {i}) & 1), {2 * i + 1})"
        for i in range(8)
    )
    files = scaled.select(
        "zy",
        F.shiftright(F.expr(f"({z8})").cast("long"), 10).alias("zorder_f"),
        F.shiftright(F.col("zx"), 2).cast("long").alias("partsort_f"),
    )
    lo, hi = 102, 127  # the scaled ~10% supplier band

    def stats(file_col: str, layout: str) -> DataFrame:
        per_file = files.groupBy(file_col).agg(
            F.min("zy").alias("min_zy"), F.max("zy").alias("max_zy")
        )
        skip = (F.col("max_zy") < lo) | (F.col("min_zy") > hi)
        return per_file.agg(
            F.lit(layout).alias("layout"),
            F.count(F.lit(1)).alias("n_files"),
            F.sum(skip.cast("long")).cast("long").alias("n_skippable"),
        ).select(
            "layout",
            "n_files",
            "n_skippable",
            (F.col("n_skippable").cast("double") / F.col("n_files").cast("double")).alias(
                "skip_frac"
            ),
        )

    return (
        stats("zorder_f", "zorder")
        .unionByName(stats("partsort_f", "partkey_sort"))
        .orderBy("layout")
    )


def q_streaming_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sketch MAINTENANCE: the corpus arrives as three
    micro-batches (staged files, one per trigger) and a count-min sketch
    is incrementally accumulated in foreachBatch — each batch builds its
    own sketch and cell-wise merges it into a BATCH-ID-VERSIONED parquet
    state (operators/sketch.cms_merge; writing state_v{n} from
    state_v{n-1} is idempotent under micro-batch replay, the versioned-
    publish crash story). Because cell addition commutes, the final
    accumulated sketch is BIT-IDENTICAL to the batch-built one, so the
    stopword estimates hash-match the full DuckDB oracle — a streaming
    continuous query whose state artifact is exactly verifiable, the
    q_streaming_dedup check class applied to sketch state. At 100 TB
    the per-batch state is a kilobyte grid regardless of stream volume."""
    import os
    import shutil

    from .functions import text as TX
    from .operators.sketch import cms_build, cms_estimate, cms_merge

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        docs = _t(spark, sf_dir, "documents")
        stage = _tmp_path("cms_stage")
        shutil.rmtree(stage, ignore_errors=True)
        for i in range(3):
            docs.filter(F.pmod(F.col("doc_id"), 3) == i).coalesce(1).write.mode(
                "append"
            ).parquet(stage)
        state_dir = _tmp_path("cms_state")
        shutil.rmtree(state_dir, ignore_errors=True)
        ckpt = _tmp_path("cms_ckpt")
        shutil.rmtree(ckpt, ignore_errors=True)

        def accumulate(batch_df: DataFrame, batch_id: int) -> None:
            tok = batch_df.select(
                F.explode(TX.tokens(F.col("text"))).alias("term")
            )
            sk = cms_build(tok, "term", depth=4, width=1024)
            prev = os.path.join(state_dir, f"v{batch_id - 1}")
            if batch_id > 0 and os.path.exists(prev):
                sk = cms_merge(spark.read.parquet(prev), sk)
            sk.write.mode("overwrite").parquet(
                os.path.join(state_dir, f"v{batch_id}")
            )

        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        q = (
            stream.writeStream.foreachBatch(accumulate)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        last = max(
            int(d[1:]) for d in os.listdir(state_dir) if d.startswith("v")
        )
        final = spark.read.parquet(os.path.join(state_dir, f"v{last}"))
        keys = spark.createDataFrame(
            [(w,) for w in TX.EN_STOPWORDS], ["term"]
        )
        out = (
            cms_estimate(final, keys, "term", depth=4, width=1024)
            .select("term", F.col("cms_count").cast("long").alias("cms_count"))
            .orderBy("term")
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return out


def q_cube_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users across the whole (event_type x day) CUBE lattice
    from ONE scan: the events table sketches once at the finest grain
    (per-(type, day) HLL partials), and every coarser cell — per-type,
    per-day, grand total — is a kilobyte-weight sketch UNION
    (operators/sketch.hll_rollup), never a rescan. COUNT(DISTINCT) does
    not decompose over GROUP BY CUBE (Spark's cube + countDistinct
    re-expands the input per grouping set); mergeable sketches restore
    the rollup property approximately — the standard OLAP-cube
    materialization pattern for distinct measures. Rows-only
    (Datasketches hashes); tests/test_sketch.py checks every lattice
    cell against its exact distinct count within the error envelope."""
    from .operators.sketch import hll_partials, hll_rollup

    ev = _events(spark, sf_dir)
    base = hll_partials(
        ev.withColumn("day", F.to_date("ts")), ["event_type", "day"], "user_id"
    )
    path = _tmp_path("hll_cube_base")
    base.write.mode("overwrite").parquet(path)
    base = spark.read.parquet(path)
    day_s = F.date_format("day", "yyyy-MM-dd")
    c_td = hll_rollup(base, ["event_type", "day"], out_col="approx_users").select(
        "event_type", day_s.alias("day"), "approx_users"
    )
    c_t = hll_rollup(base, ["event_type"], out_col="approx_users").select(
        "event_type", F.lit("ALL").alias("day"), "approx_users"
    )
    c_d = hll_rollup(base, ["day"], out_col="approx_users").select(
        F.lit("ALL").alias("event_type"), day_s.alias("day"), "approx_users"
    )
    c_all = hll_rollup(base, [], out_col="approx_users").select(
        F.lit("ALL").alias("event_type"),
        F.lit("ALL").alias("day"),
        "approx_users",
    )
    return (
        c_td.unionByName(c_t).unionByName(c_d).unionByName(c_all)
        .orderBy("event_type", "day")
    )


def q_scd2_asof_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension snapshot over the SCD2 history
    (plans/scd2.as_of): the q_scd2_merge 3-batch state queried AS OF
    2024-02-15 — keys whose version changed on 2024-03-01 must surface
    their 2024-02-01 version, everything else its original. The lookup
    is a pushed-down validity-interval FILTER (no join, no window); at
    100 TB a temporal fact enrichment equi-joins against this pruned
    snapshot — the batch twin of a streaming temporal lookup, and the
    capability Delta's time travel gives by version where SCD2 gives it
    by BUSINESS time."""
    import datetime as _dt

    from .plans.scd2 import as_of, merge_scd2_df

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    b0 = cust.filter(F.col("c_custkey") % 10 != 0)
    b1 = cust.filter(F.col("c_custkey") % 10 == 0)
    b2 = b1.withColumn("c_name", F.concat(F.col("c_name"), F.lit(" up")))
    state = merge_scd2_df(None, b0, ["c_custkey"], _dt.datetime(2024, 1, 1))
    state = merge_scd2_df(state, b1, ["c_custkey"], _dt.datetime(2024, 2, 1))
    state = merge_scd2_df(state, b2, ["c_custkey"], _dt.datetime(2024, 3, 1))
    return (
        as_of(state, _dt.datetime(2024, 2, 15))
        .select(
            "c_custkey",
            "c_name",
            "c_mktsegment",
            F.date_format("valid_from", "yyyy-MM-dd").alias("version_from"),
        )
        .orderBy("c_custkey")
    )


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve readout — the tokenizer-ablation
    statistic: what share of all corpus token OCCURRENCES is covered by
    the top-k vocabulary entries, for k in {10, 100, 1000}. High
    coverage at small k signals a heavily skewed (compressible) token
    distribution; the curve decides vocab size before training a
    tokenizer.

    Job shape: token counts build in ONE corpus scan (map-side
    combined, vocab-bounded) and the frequency ranking runs as the
    two-phase range rank over the COUNT table
    (relational.with_global_row_number on (-count, token) — the vocab
    relation grows with corpus, so even this sort avoids a single
    reducer). Each k's covered mass is then a conditional aggregate
    over rn — no cumulative-sum window at all. Counts and shares are
    exact (one IEEE division per row)."""
    from .functions import text as TX
    from .operators.relational import with_global_row_number

    docs = _t(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(TX.tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("negc", -F.col("c"))
    )
    path = _tmp_path("vocab_counts")
    counts.write.mode("overwrite").parquet(path)
    counts = spark.read.parquet(path)
    ranked = with_global_row_number(counts, ["negc", "tok"], rn_col="rn")
    ks = [10, 100, 1000]
    agg = ranked.agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum("c").cast("long").alias("total_tokens"),
        *[
            F.sum(F.when(F.col("rn") <= k, F.col("c")).otherwise(F.lit(0)))
            .cast("long")
            .alias(f"cov{k}")
            for k in ks
        ],
    )
    rows = [
        agg.select(
            F.lit(k).alias("k"),
            "vocab_size",
            "total_tokens",
            F.col(f"cov{k}").alias("covered_tokens"),
            (F.col(f"cov{k}").cast("double") / F.col("total_tokens").cast("double")).alias(
                "covered_share"
            ),
        )
        for k in ks
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("k")


def q_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact degree histogram of the part co-purchase graph — the
    power-law readout that decides whether hub-aware strategies
    (degree-ordered orientation, salting) matter for downstream graph
    ops. Same basket-local edge build as q_triangle_count; the
    histogram is two map-side-combined aggregates over the edge list
    (degree per node, then nodes per degree) — both bounded by the node
    count, never the fact."""
    li = _t(spark, sf_dir, "lineitem")
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("items"))
        .filter(F.size("items") <= 30)
    )
    items = F.col("items")
    pair_structs = F.flatten(
        F.transform(
            items,
            lambda x, i: F.transform(
                F.slice(items, i + F.lit(2), F.size(items)),
                lambda y: F.struct(x.alias("p1"), y.alias("p2")),
            ),
        )
    )
    edges = (
        baskets.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.p1").alias("src"), F.col("p.p2").alias("dst"))
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
    )
    deg = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return (
        deg.groupBy("deg")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("deg")
    )


def q_event_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top event-type paths: each user's journey sliced into consecutive
    type TRIGRAMS (two lags over the per-user time order), counted
    corpus-wide, top-20 — the product-analytics "common paths" readout
    one rung above q_transition_matrix's pair model. One
    user-partitioned window (high cardinality, distributes) + one
    paths-bounded aggregation; ordering ties break lexicographically so
    the limit is deterministic cross-engine."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (
        ev.select(
            F.lag("event_type", 2).over(w).alias("s1"),
            F.lag("event_type", 1).over(w).alias("s2"),
            F.col("event_type").alias("s3"),
        )
        .filter(F.col("s1").isNotNull())
    )
    return (
        tri.groupBy("s1", "s2", "s3")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "s1", "s2", "s3")
        .limit(20)
    )


def q_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT all-pairs near-dup scan via prefix filtering
    (operators/dedup.prefix_filter_pairs — the SSJoin/PPJoin candidate
    generation): every doc pair with word-3-gram Jaccard >= 0.5, no
    blocking window (q_ngram_jaccard's assumption) and no probabilistic
    misses (q_minhash_lsh_pairs' banding). Candidates are pairs sharing
    a shingle in their RAREST-FIRST prefix (first n - ceil(t*n) + 1
    shingles under the global document-frequency order) — pigeonhole-
    complete at threshold t, so the result is the full exact answer.
    The oracle derives the same pairs from the UNFILTERED inverted
    index (all shared-shingle pairs, then exact Jaccard) — two
    independent candidate routes agreeing is the completeness guarantee
    made checkable."""
    from .operators.dedup import prefix_filter_pairs

    docs = _t(spark, sf_dir, "documents")
    return prefix_filter_pairs(
        docs,
        "doc_id",
        "text",
        threshold=0.5,
        index_path=_tmp_path("prefix_index"),
    ).orderBy("a", "b")


def q_token_budget_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget fill — the corpus-assembly step that
    selects training documents greedily (longest first, id tiebreak)
    until each source's token budget (here half its total) is spent.
    Every doc gets an auditable (cum_tokens, budget, kept) row, the
    manifest a reproducible data build ships.

    Scale shape: the (doc_id, source, n_tokens) count table is
    materialized ONCE as a narrow artifact (the signatures lesson —
    three downstream references would each re-tokenize the corpus);
    budgets are a source-bounded aggregate; and the greedy frontier is
    relational.with_grouped_running_sum — the two-phase prefix sum that
    spreads each source's cumulative order across ALL reducers, where a
    plain Window.partitionBy(source) running sum would sort whole
    sources on single reducers (the q_domain_cap trap, now for prefix
    SUMS instead of ranks). Counts are integers, so kept/cum hash-match
    exactly."""
    from .functions import text as TX
    from .operators.relational import with_grouped_running_sum

    docs = _t(spark, sf_dir, "documents")
    counts = docs.select(
        "doc_id",
        "source",
        F.size(TX.tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    path = _tmp_path("budget_tokcounts")
    counts.write.mode("overwrite").parquet(path)
    counts = spark.read.parquet(path)
    budgets = counts.groupBy("source").agg(
        F.floor(F.sum("n_tokens") / 2).cast("long").alias("budget")
    )
    ordered = counts.withColumn("__negt", -F.col("n_tokens"))
    cum = with_grouped_running_sum(
        ordered, ["source"], ["__negt", "doc_id"], "n_tokens",
        out_col="cum_tokens",
    )
    return (
        cum.join(F.broadcast(budgets), "source")
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.col("cum_tokens").cast("long").alias("cum_tokens"),
            "budget",
            (F.col("cum_tokens") <= F.col("budget")).alias("kept"),
        )
        .orderBy("source", "doc_id")
    )


def q_mixture_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture allocation by exact water-filling — the corpus-mixing
    step of a training-data build: split a global token budget (9/10 of
    the corpus) across sources as evenly as possible, capping every
    source at its available tokens (no upsampling) and redistributing
    what the capped sources can't absorb. Closed form, all integers:
    sort sources by availability ascending; source i (of S, prefix sum
    P_i) is CAPPED iff even granting every later source a_i is
    affordable (P_i + a_i*(S-i) <= B — a prefix property, so capped
    sources are exactly the k smallest); the leftover R = B - P_k
    splits as floor(R/m) per uncapped source, with the R mod m
    remainder granted one token each to the m smallest uncapped sources
    (largest-remainder determinism). Allocations sum to B exactly.

    Scale shape: ONE corpus scan map-combines to the per-source count
    table (domains-sized — millions for a web corpus, never the data);
    ranking and the prefix sum both run through the two-phase range
    machinery (with_global_row_number / with_grouped_running_sum over
    the materialized artifact), and the three scalars (total, k, P_k)
    ride broadcast 1-row joins — the HWM pattern. Everything except the
    final fill_rate division is integer arithmetic, so the allocation
    hash-matches DuckDB bit-for-bit."""
    from .functions import text as TX
    from .operators.relational import waterfill_allocation

    docs = _t(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(
        F.sum(F.size(TX.tokens(F.col("text"))).cast("long")).alias("avail")
    )
    path = _tmp_path("mixture_counts")
    counts.write.mode("overwrite").parquet(path)
    counts = spark.read.parquet(path)
    return (
        waterfill_allocation(counts, "source", "avail", 9, 10)
        .select(
            "source",
            F.col("avail").alias("avail_tokens"),
            "capped",
            "allocation",
            (
                F.col("allocation").cast("double")
                / F.col("avail").cast("double")
            ).alias("fill_rate"),
        )
        .orderBy("source")
    )


def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duration-weighted mean (TWAP-style) of event values per user-day:
    each observation weighted by the seconds until the user's NEXT event
    that day (the piecewise-constant integral a plain AVG gets wrong
    whenever sampling is irregular — the standard time-series downsample
    for sensor/price feeds). The last observation of a day has no
    forward extent and drops out.

    One fact shuffle: a (user, day) window computes forward durations
    (high-cardinality key, distributes), then one map-combined
    aggregate. Exactness: values integerize as floor(v*1e6+0.5) longs
    (the fastagg scheme), durations are integer epoch deltas, so both
    sums are exact and the final twap is two IEEE ops mirrored in the
    oracle."""
    from .functions.timeutil import epoch_seconds

    ev = _events(spark, sf_dir)
    base = ev.select(
        "user_id",
        "event_id",
        F.floor(epoch_seconds(F.col("ts"))).cast("long").alias("ep"),
        F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("long").alias("v6"),
    ).withColumn("day_idx", F.expr("ep div 86400").cast("long"))
    w = Window.partitionBy("user_id", "day_idx").orderBy("ep", "event_id")
    seg = base.withColumn("dur", F.lead("ep").over(w) - F.col("ep")).filter(
        F.col("dur").isNotNull()
    )
    agg = seg.groupBy("user_id", "day_idx").agg(
        F.count(F.lit(1)).cast("long").alias("n_intervals"),
        F.sum("dur").cast("long").alias("total_dur"),
        F.sum((F.col("v6") * F.col("dur")).cast("decimal(28,0)"))
        .cast("long")
        .alias("swv"),
    )
    return (
        agg.filter(F.col("total_dur") > 0)
        .select(
            "user_id",
            "day_idx",
            "n_intervals",
            "total_dur",
            (
                (F.col("swv").cast("double") / F.lit(1e6))
                / F.col("total_dur").cast("double")
            ).alias("twap"),
        )
        .orderBy("user_id", "day_idx")
    )


def q_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic across ALL five event-type cohorts —
    the k-group generalization of q_ab_ttest's two-cohort Welch test
    (did any cohort's value distribution drift?). From ONE pass of
    exact-decimal power sums per cohort: SSB = sum(s_g^2/n_g) - S^2/N,
    SSW = sum(ss_g) - sum(s_g^2/n_g), F = (SSB/(k-1)) / (SSW/(N-k)).
    The five cohorts pivot to one row with a FIXED column order, so
    every double addition chains left-to-right identically in Spark and
    DuckDB — double sums across groups would otherwise be
    order-dependent. By the chi-square/t-test precedent the STATISTIC
    is the oracle surface; p-value thresholding (an incomplete-beta
    transcendental) happens downstream."""
    ev = _events(spark, sf_dir)
    types = ["click", "error", "purchase", "signup", "view"]
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("s"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(28,8)"))
        .cast("double")
        .alias("ss"),
    )
    one = g.agg(
        *[
            F.max(F.when(F.col("event_type") == t, F.col(c))).alias(f"{c}_{t}")
            for t in types
            for c in ("n", "s", "ss")
        ]
    )
    nL = [F.col(f"n_{t}") for t in types]
    n = [F.col(f"n_{t}").cast("double") for t in types]
    s = [F.col(f"s_{t}") for t in types]
    ss = [F.col(f"ss_{t}") for t in types]
    n_total = nL[0] + nL[1] + nL[2] + nL[3] + nL[4]
    N = n[0] + n[1] + n[2] + n[3] + n[4]
    S = s[0] + s[1] + s[2] + s[3] + s[4]
    T = (
        (s[0] * s[0] / n[0])
        + (s[1] * s[1] / n[1])
        + (s[2] * s[2] / n[2])
        + (s[3] * s[3] / n[3])
        + (s[4] * s[4] / n[4])
    )
    ssq = ss[0] + ss[1] + ss[2] + ss[3] + ss[4]
    ssb = T - S * S / N
    ssw = ssq - T
    f_stat = (ssb / F.lit(4.0)) / (ssw / (N - F.lit(5.0)))
    return one.select(
        F.lit(5).cast("long").alias("k"),
        n_total.cast("long").alias("n_total"),
        ssb.alias("ssb"),
        ssw.alias("ssw"),
        f_stat.alias("f_stat"),
    )


def q_interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval coalescing (the gaps-and-islands pattern on validity
    ranges): each event opens a 30-minute activity interval
    [ep, ep+1800); overlapping or touching intervals per user merge into
    maximal islands — the canonical cleanup for validity ranges, lock
    windows, and coverage spans that q_sessionize's fixed inter-event
    gap cannot express (an interval can bridge events the gap rule would
    split).

    One fact shuffle: a (user)-partitioned window (high-cardinality key,
    distributes) computes the EXCLUSIVE running max of interval ends; a
    new island starts where the current start exceeds it, and the
    island id is the inclusive running count of starts — two frames over
    ONE sort. Integer epochs end-to-end, so islands hash-match."""
    from .functions.timeutil import epoch_seconds

    ev = _events(spark, sf_dir)
    base = ev.select(
        "user_id",
        "event_id",
        F.floor(epoch_seconds(F.col("ts"))).cast("long").alias("s"),
    ).withColumn("e", F.col("s") + 1800)
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    prev_end = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = base.withColumn(
        "new_island",
        F.when(prev_end.isNull() | (F.col("s") > prev_end), 1).otherwise(0),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("new_island")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long"),
    )
    return (
        islands.groupBy("user_id", "island")
        .agg(
            F.min("s").cast("long").alias("island_start"),
            F.max("e").cast("long").alias("island_end"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .orderBy("user_id", "island")
    )


def q_scd3_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-batch SCD Type-3 scenario (plans/scd3.merge_scd3_df) — the
    previous-value-column sibling of q_scd1_merge/q_scd2_merge,
    completing the slowly-changing-dimension family. Same golden
    batches: %10!=0 keys initialize (prev_name NULL and never touched),
    %10==0 keys insert in batch 1 then change name in batch 2, so their
    prev_name must surface the ORIGINAL name next to the ' up' current.
    Batch 2 re-merged would be a no-op (idempotence pinned in
    tests/test_scd_pipeline.py); the final state is closed-form, so the
    full DuckDB oracle hash-checks the carry logic."""
    from .plans.scd3 import merge_scd3_df

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    b0 = cust.filter(F.col("c_custkey") % 10 != 0)
    b1 = cust.filter(F.col("c_custkey") % 10 == 0)
    b2 = b1.withColumn("c_name", F.concat(F.col("c_name"), F.lit(" up")))

    state = merge_scd3_df(None, b0, ["c_custkey"], ["c_name"])
    state = merge_scd3_df(state, b1, ["c_custkey"], ["c_name"])
    state = merge_scd3_df(state, b2, ["c_custkey"], ["c_name"])
    return state.select(
        "c_custkey",
        "c_name",
        "c_mktsegment",
        F.col("prev_c_name").alias("prev_name"),
    ).orderBy("c_custkey")


def q_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine document similarity
    (operators/similarity.sparse_cosine_pairs): top-3 most similar docs
    per doc over source-blocked id-window pairs — the bag-of-words
    similarity search that needs no embedding model, completing the
    similarity ladder's sparse rung (dense exact/LSH/IVF/PQ and shingle
    Jaccard already exist). Integer-scaled idf weights materialize once;
    dots sum only SHARED terms through the inverted index; the one
    cosine division + sqrt are IEEE-identical cross-engine, so the
    ranked pairs hash-match the full DuckDB oracle."""
    from .operators.similarity import sparse_cosine_pairs

    docs = _t(spark, sf_dir, "documents")
    return sparse_cosine_pairs(
        docs,
        "doc_id",
        "text",
        "source",
        _tmp_path("tfidf_weights"),
        window=100,
        topk=3,
    ).orderBy("a", F.col("cosine").desc(), "b")


def q_seasonal_naive_mape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtesting with the seasonal-naive baseline: predict
    each (event_type, 6 h bucket) mean value by the SAME series 24 h
    (4 buckets) earlier, and score MAPE per type — the sanity baseline
    every forecasting pipeline must beat, run as a backtest over the
    history.

    The 24 h-earlier lookup is a bucket-shifted EQUI-JOIN on
    (type, bucket-4), not lag(4) over a type-partitioned window: gaps in
    the series would silently misalign a row-offset lag (pred would be
    "4 observations ago", not "24 hours ago"), and the join needs no
    low-cardinality window at all. Bucket means materialize once
    (both join sides scan the artifact, not the fact). Exactness: means
    come from decimal sums; each APE is per-row IEEE arithmetic
    (identical cross-engine) integerized as floor(ape*1e12+0.5) before
    the cross-row sum, so MAPE is order-independent."""
    from .functions.timeutil import epoch_seconds

    ev = _events(spark, sf_dir)
    ser = (
        ev.select(
            "event_type",
            F.floor(epoch_seconds(F.col("ts"))).cast("long").alias("ep"),
            "value",
        )
        .withColumn("bucket", F.expr("ep div 21600").cast("long"))
        .groupBy("event_type", "bucket")
        .agg(
            (
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("m")
        )
    )
    path = _tmp_path("seasonal_series")
    ser.write.mode("overwrite").parquet(path)
    ser = spark.read.parquet(path)
    pred = ser.select(
        "event_type",
        (F.col("bucket") + 4).alias("bucket"),
        F.col("m").alias("pred"),
    )
    scored = (
        ser.join(pred, ["event_type", "bucket"])
        .filter(F.col("m") != 0)
        .withColumn(
            "a12",
            F.floor(
                F.abs(F.col("m") - F.col("pred")) / F.abs(F.col("m")) * 1e12
                + F.lit(0.5)
            ).cast("long"),
        )
    )
    totals = ser.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets")
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_scored"),
            (
                (F.sum("a12").cast("double") / F.lit(1e12))
                / F.count(F.lit(1)).cast("double")
            ).alias("mape"),
        )
        .join(F.broadcast(totals), "event_type")
        .select("event_type", "n_buckets", "n_scored", "mape")
        .orderBy("event_type")
    )


def q_logreg_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed logistic-regression training
    (operators/gradient.logreg_gd): predict purchase events from scaled
    value + time-of-day by 8 full-batch gradient steps — each step ONE
    map-combined aggregation over a materialized narrow feature table,
    weights riding back as broadcast literals (nothing data-sized on the
    driver). Gradient contributions integerize before the cross-row sum
    (floor(g*1e12+0.5)), so training is bit-reproducible under any
    layout. Rows-only by the perplexity precedent (sigmoid/log are libm
    transcendentals); tests/test_gradient.py pins exact layout
    independence, ~1e-6 numpy-reference parity, monotone loss, and
    better-than-majority accuracy."""
    from .functions.timeutil import epoch_seconds
    from .operators.gradient import logreg_gd, logreg_readout

    ev = _events(spark, sf_dir)
    feats = ev.select(
        (F.col("event_type") == "purchase").cast("double").alias("y"),
        (F.col("value") / 100.0).alias("x1"),
        (
            (F.floor(epoch_seconds(F.col("ts"))).cast("long") % 86400)
            / F.lit(86400.0)
        ).alias("x2"),
    )
    path = _tmp_path("logreg_feats")
    feats.write.mode("overwrite").parquet(path)
    feats = spark.read.parquet(path)
    w, _losses = logreg_gd(feats, "y", ["x1", "x2"], iters=8, lr=1.0)
    return logreg_readout(feats, "y", ["x1", "x2"], w)


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers — the privacy readout a
    release pipeline runs before publishing: group the dimension by its
    quasi-identifier tuple (market segment x nation) and flag every
    equivalence class smaller than k=5, whose members are re-identifiable
    by the tuple alone. One map-combined aggregate; integer counts
    hash-match."""
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_mktsegment", "c_nationkey")
        .agg(F.count(F.lit(1)).cast("long").alias("class_size"))
        .withColumn("at_risk", F.col("class_size") < 5)
        .orderBy("c_mktsegment", "c_nationkey")
    )


def q_streaming_full_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join — completing the streaming
    join family (inner: q_streaming_interval_join, left outer:
    q_streaming_left_interval): unmatched rows on BOTH sides
    null-extend, each under the watermark discipline (an error seals at
    ts + 6 h, a click seals once no future error can reach back to it).
    Same three-file staged replay — real events, then two sentinel
    batches on both sides that drag event time +2 d/+4 d so the final
    micro-batch runs under a watermark past every real horizon and
    flushes all unmatched state. The filtered output equals the batch
    FULL join, so the DuckDB oracle hash-checks both null-extension
    directions at once; state bound identical to inner (the outer forms
    add only matched bits)."""
    import datetime
    import shutil

    from .streaming.join import interval_join_streams

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    ev = _events(spark, sf_dir)
    mx = ev.agg(F.max("ts")).collect()[0][0]

    stage = _tmp_path("fsj_stage")
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)

    def write_batch(df: DataFrame, name: str, mtime: float) -> None:
        tmp = f"{stage}.__w"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dst = os.path.join(stage, name)
        os.replace(os.path.join(tmp, part), dst)
        shutil.rmtree(tmp, ignore_errors=True)
        os.utime(dst, (mtime, mtime))

    now = time.time()
    write_batch(ev, "batch0.parquet", now - 60)
    for i, days in enumerate((2, 4), start=1):
        ts = mx + datetime.timedelta(days=days)
        uid = -(2 * i)
        sent = spark.createDataFrame(
            [
                (-(4 * i), ts, uid, "error", 0.0, "{}"),
                (-(4 * i) - 1, ts, uid - 1, "click", 0.0, "{}"),
            ],
            ev.schema,
        )
        write_batch(sent, f"batch{i}.parquet", now - 60 + 20 * i)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    errors = stream.filter(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("error_id"), "ts"
    )
    clicks = stream.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    joined = interval_join_streams(
        errors,
        clicks,
        "user_id",
        "ts",
        "click_ts",
        21600,
        watermark="1 minute",
        how="full_outer",
    ).select("error_id", "click_id")
    ckpt = _tmp_path("fsj_ckpt")
    shutil.rmtree(ckpt, ignore_errors=True)
    q = (
        joined.writeStream.format("memory")
        .queryName("engine_full_interval")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return (
        spark.table("engine_full_interval")
        .filter(
            (F.col("error_id").isNull() | (F.col("error_id") >= 0))
            & (F.col("click_id").isNull() | (F.col("click_id") >= 0))
        )
        .orderBy("error_id", "click_id")
    )


def q_epoch_reshard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-epoch shuffle + balanced sharding: order
    the corpus by a seeded content-independent hash (reshuffling =
    changing the seed, reproducing a run = keeping it — rand() is
    neither), then cut the shuffled order into 8 contiguous near-equal
    shards, ``shard = (rn-1)*8 div n``. The step that turns a curated
    corpus into the randomized shard files a training job consumes.

    Scale shape: ranking the hash order runs through the two-phase
    range rank over a materialized (doc_id, hash) artifact —
    `repartitionByRange` on the hash IS the shuffle, each reducer
    sorts only its range, and writing shard files afterwards is a
    partitionBy(shard) write with no further movement. All integers, so
    the assignment hash-matches DuckDB."""
    from .functions import text as TX
    from .operators.relational import with_global_row_number

    docs = _t(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id",
        TX.hash32(
            F.concat(F.col("doc_id").cast("string"), F.lit(":epoch0"))
        ).alias("h"),
    )
    path = _tmp_path("epoch_hashes")
    hashed.write.mode("overwrite").parquet(path)
    hashed = spark.read.parquet(path)
    ranked = with_global_row_number(hashed, ["h", "doc_id"], rn_col="rn", n_col="n")
    return ranked.select(
        "doc_id",
        F.col("rn").cast("long").alias("rn"),
        F.expr("(rn - 1) * 8 div n").cast("long").alias("shard"),
    ).orderBy("rn")


def q_date_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated calendar (date) dimension — the warehouse table every
    star schema joins for fiscal rollups, built from nothing:
    sequence-explode the 2024 day range and derive attributes with
    PORTABLE integer arithmetic only. Notably dow uses the epoch-day
    formula ``(epoch_day + 4) % 7`` (1970-01-01 was a Thursday; 0 =
    Sunday) because engine-native dayofweek()/isodow() disagree on
    numbering across engines. Map-only over a generated relation —
    no input scan at all."""
    d = F.col("d")
    epoch_day = F.datediff(d, F.lit("1970-01-01").cast("date"))
    dow = (epoch_day + 4) % 7
    return (
        spark.range(1)
        .select(
            F.explode(
                F.sequence(
                    F.lit("2024-01-01").cast("date"),
                    F.lit("2024-12-31").cast("date"),
                )
            ).alias("d")
        )
        .select(
            F.date_format(d, "yyyy-MM-dd").alias("date_str"),
            F.year(d).cast("long").alias("year"),
            F.quarter(d).cast("long").alias("quarter"),
            F.month(d).cast("long").alias("month"),
            F.dayofmonth(d).cast("long").alias("day_of_month"),
            epoch_day.cast("long").alias("epoch_day"),
            dow.cast("long").alias("dow"),
            ((dow == 0) | (dow == 6)).alias("is_weekend"),
        )
        .orderBy("epoch_day")
    )


def q_concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency by sweep line: every event opens a 30-minute
    interval; +1/-1 boundary deltas sorted by time make the running sum
    the number of concurrently open intervals at each instant — the
    classic interval-concurrency question (open sessions, connection
    load, licenses in use) answered WITHOUT a self-join. Half-open
    [s, e) semantics: at equal timestamps the -1 sorts first (delta
    ascending), so an interval ending exactly when another starts never
    overlaps it.

    The running sum is GLOBAL over the fact-sized boundary list — the
    canonical un-partitioned-window trap — so it runs through the
    two-phase range prefix sum (with_grouped_running_sum over a constant
    group): every reducer sorts one time range, carries ride a
    partition-count-sized window. Readout: per-day boundary count + max
    concurrency observed at that day's boundaries (levels only change at
    boundaries)."""
    from .functions.timeutil import epoch_seconds
    from .operators.relational import with_grouped_running_sum

    ev = _events(spark, sf_dir)
    base = ev.select(
        "event_id", F.floor(epoch_seconds(F.col("ts"))).cast("long").alias("s")
    )
    bounds = base.select(
        F.col("s").alias("t"), F.lit(1).alias("delta"), "event_id"
    ).unionAll(
        base.select(
            (F.col("s") + 1800).alias("t"), F.lit(-1).alias("delta"), "event_id"
        )
    )
    path = _tmp_path("sweep_bounds")
    bounds.write.mode("overwrite").parquet(path)
    bounds = spark.read.parquet(path).withColumn("__g", F.lit(0))
    running = with_grouped_running_sum(
        bounds, ["__g"], ["t", "delta", "event_id"], "delta", out_col="level"
    )
    return (
        running.withColumn("day_idx", F.expr("t div 86400").cast("long"))
        .groupBy("day_idx")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_boundaries"),
            F.max("level").cast("long").alias("max_concurrent"),
        )
        .orderBy("day_idx")
    )


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-core of a part co-purchase graph (operators/graph.k_core):
    iterative peeling strips nodes with < 4 surviving neighbors until a
    fixpoint — the periphery filter run before community detection or
    graph embeddings. The graph restricts to the partkey%20==0 part
    family so edge DENSITY is scale-invariant and peeling actually
    cascades at every sf: the unrestricted basket graph is near-regular
    (degree ~115 — any small k keeps everything), while
    q_triangle_count's w>=2 repeat filter thins super-linearly with
    scale (its sf0.1 2-core is 3 nodes). Each peel round is two
    node-keyed aggregations + two semi-joins, survivor count the only
    driver scalar. Rows-only (iterative, q_pagerank precedent);
    tests/test_graph.py pins equality with a Python peeling reference
    on arbitrary small graphs plus the k-core invariant (every
    surviving node keeps >= k surviving neighbors)."""
    from .operators.graph import k_core

    li = _t(spark, sf_dir, "lineitem")
    baskets = (
        li.groupBy("l_orderkey")
        .agg(
            F.array_sort(
                F.filter(F.collect_set("l_partkey"), lambda x: x % 20 == 0)
            ).alias("items")
        )
        .filter((F.size("items") >= 2) & (F.size("items") <= 30))
    )
    items = F.col("items")
    pair_structs = F.flatten(
        F.transform(
            items,
            lambda x, i: F.transform(
                F.slice(items, i + F.lit(2), F.size(items)),
                lambda y: F.struct(x.alias("p1"), y.alias("p2")),
            ),
        )
    )
    edges = (
        baskets.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.p1").alias("p1"), F.col("p.p2").alias("p2"))
        .agg(F.count(F.lit(1)).alias("w"))
        .select(F.col("p1").alias("src"), F.col("p2").alias("dst"))
    )
    path = _tmp_path("kcore_edges")
    edges.write.mode("overwrite").parquet(path)
    edges = spark.read.parquet(path)
    return k_core(edges, k=4).orderBy("node")


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (operators/similarity.hard_negatives): per
    query embedding, the 3 most-similar vectors with a DIFFERENT label —
    the near-boundary negatives contrastive/metric training needs
    (random negatives contribute no gradient). Exact oracle like
    q_cosine_topk: the cosine is the same double fold, the label filter
    runs before the per-query window."""
    from .operators.similarity import hard_negatives

    emb = _t(spark, sf_dir, "embeddings")
    # limit() makes the broadcast query batch structurally bounded
    queries = emb.filter(F.col("vec_id") < 20).limit(20)
    return hard_negatives(emb, queries, "label", k=3).orderBy(
        "query_id", "rank"
    )


def q_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic random negative sampling: 3 pseudo-random negatives
    per document, reproducible across runs and layouts (rand() is
    neither). Docs get dense positions 1..n via the two-phase range
    rank; negative j for a doc is the doc ``1 + (rn - 1 + 1 +
    hash(doc:negj) % (n-1)) % n`` — a hash-seeded CYCLIC SHIFT of 1..n-1
    positions, which can never land on the doc itself and is uniform
    over the other n-1 docs. One equi-join maps positions back to ids.
    All integer arithmetic on the cross-engine md5 hash, so the sampled
    ids hash-match DuckDB exactly."""
    from .functions import text as TX
    from .operators.relational import with_global_row_number

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    path = _tmp_path("negsample_ids")
    docs.write.mode("overwrite").parquet(path)
    docs = spark.read.parquet(path)
    ranked = with_global_row_number(docs, ["doc_id"], rn_col="rn", n_col="n")
    js = ranked.select(
        "doc_id",
        "rn",
        "n",
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j"),
    )
    h = TX.hash32(
        F.concat(
            F.col("doc_id").cast("string"), F.lit(":neg"), F.col("j").cast("string")
        )
    )
    neg_rn = (F.col("rn") - 1 + 1 + h % (F.col("n") - 1)) % F.col("n") + 1
    picked = js.select(
        "doc_id", "j", neg_rn.cast("long").alias("neg_rn")
    )
    lookup = ranked.select(
        F.col("rn").alias("neg_rn"), F.col("doc_id").alias("neg_doc_id")
    )
    return (
        picked.join(lookup, "neg_rn")
        .select("doc_id", F.col("j").cast("long").alias("j"), "neg_doc_id")
        .orderBy("doc_id", "j")
    )


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label prototype (centroid) embeddings — the class prototypes
    behind nearest-centroid classification, SemDeDup's cells, and
    embedding-space drift monitoring: posexplode the vectors and average
    each (label, dim) cell. Component values integerize as
    floor(v*1e6+0.5) longs before the cross-row sum (float addition is
    order-dependent; the fastagg scheme), so the centroid matrix is
    layout-independent and hash-matches DuckDB. Output is
    labels x dims rows — bounded regardless of corpus size; the single
    shuffle carries (label, dim, long) partials."""
    emb = _t(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode("embedding").alias("dim", "v")
    )
    return (
        ex.groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.floor(F.col("v") * 1e6 + F.lit(0.5)).cast("long"))
            .cast("long")
            .alias("s6"),
        )
        .select(
            "label",
            F.col("dim").cast("long").alias("dim"),
            "n",
            (
                (F.col("s6").cast("double") / F.lit(1e6))
                / F.col("n").cast("double")
            ).alias("centroid_val"),
        )
        .orderBy("label", "dim")
    )


def q_gdpr_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure on a versioned table
    (plans/versioned.retention_delete): orders commit as version 1, a
    tombstone list (custkeys % 97 == 0) anti-joins them away into
    version 2 through the same atomic pointer protocol as every other
    publish — in-flight readers keep their snapshot, vacuum reclaims
    files later (the logical-delete-then-vacuum contract of every table
    format). The returned post-delete summary hash-matches the oracle's
    NOT-IN recomputation, proving the rewrite deleted exactly the
    tombstoned keys; version isolation itself is pinned in
    tests/test_versioned.py."""
    import shutil

    from .plans.versioned import commit_version, read_version, retention_delete

    root = _tmp_path("gdpr_orders")
    shutil.rmtree(root, ignore_errors=True)
    orders = _t(spark, sf_dir, "orders")
    commit_version(orders, root)
    tombstones = orders.select("o_custkey").distinct().filter(
        F.col("o_custkey") % 97 == 0
    )
    retention_delete(spark, root, tombstones, ["o_custkey"])
    return (
        read_version(spark, root)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.count(F.when(F.col("o_custkey") % 97 == 0, 1))
            .cast("long")
            .alias("n_tombstoned_left"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


def q_quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assert-and-quarantine ingest routing
    (operators/quality.quarantine_split): three named validity rules
    over the event stream — value <= 90, type is not 'error', the JSON
    payload's k < 90 — label every row with its failed-rule reasons
    instead of silently dropping it; clean rows forward, the rest go to
    the dead-letter route WITH an audit trail. Map-only (rules are
    codegen'd expressions, reasons a deterministic-order concat); the
    labeled table is the catalog surface so the oracle hash-checks both
    the routing decision and every reason string."""
    from .operators.quality import quarantine_split

    ev = _events(spark, sf_dir)
    rules = {
        "value_range": F.col("value") <= 90,
        "not_error": F.col("event_type") != "error",
        "payload_k": F.get_json_object(F.col("props"), "$.k").cast("long") < 90,
    }
    _valid, _bad, labeled = quarantine_split(ev, rules)
    return labeled.select(
        "event_id", "event_type", "valid", "reasons"
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# round-7 additions: drift / inequality / encoding / segmentation /
# time-series / CV-fold / containment
# ---------------------------------------------------------------------------


def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D between the value distributions
    of 'click' vs 'view' events — the nonparametric drift detector that
    complements q_drift_chi2 (chi2 needs categories; KS reads the whole
    CDF gap). Exact integer form: values bin to cents
    (``floor(value*100)``), the (bin, n_click, n_view) histogram is
    value-domain-sized (the q_mad_outlier shape: ONE fact scan,
    O(domain) afterwards), cumulative counts ride a domain-sized window,
    and D's numerator ``max |cum_c * n_v - cum_v * n_c|`` is exact
    decimal(38,0) arithmetic — one IEEE division at the end, so DuckDB
    hash-matches bit-for-bit."""
    ev = _events(spark, sf_dir)
    base = ev.filter(F.col("event_type").isin("click", "view")).select(
        "event_type",
        F.floor(F.col("value") * F.lit(100.0)).cast("long").alias("bin"),
    )
    hist = base.groupBy("bin").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("nc"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("nv"),
    )
    # totals are the FINAL cumulative counts (the histogram is consumed
    # once — a second totals aggregate would re-scan events), read back
    # per row via an unbounded frame over the same domain-sized window
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.select(
        F.sum("nc").over(w).alias("cum_c"),
        F.sum("nv").over(w).alias("cum_v"),
        F.sum("nc").over(w_all).cast("long").alias("n_click"),
        F.sum("nv").over(w_all).cast("long").alias("n_view"),
    )
    return (
        cum.agg(
            F.max("n_click").alias("n_click"),
            F.max("n_view").alias("n_view"),
            F.max(
                F.abs(
                    F.col("cum_c").cast("decimal(38,0)") * F.col("n_view")
                    - F.col("cum_v").cast("decimal(38,0)") * F.col("n_click")
                )
            )
            .cast("double")
            .alias("d_num"),
        )
        .select(
            "n_click",
            "n_view",
            "d_num",
            (
                F.col("d_num")
                / (
                    F.col("n_click").cast("double")
                    * F.col("n_view").cast("double")
                )
            ).alias("ks_d"),
        )
    )


def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue concentration — the
    inequality readout (whale-dependence) growth and risk teams track:
    ``G = (2*sum(i*x_i) - (n+1)*sum(x_i)) / (n*sum(x_i))`` over
    revenues sorted ascending. Exact path: order cents integerize as
    ``floor(p*100 + 0.5)`` longs (one fact scan, map-side combined to
    per-customer revenue), ranks come from the two-phase range rank
    (operators/relational.with_global_row_number — NO un-partitioned
    data window), rank-weighted sums merge as decimal(38,0), and G is
    one IEEE division of two exactly-computed integers — DuckDB
    hash-matches."""
    from .operators.relational import with_global_row_number

    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        orders.select(
            "o_custkey",
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("cents").alias("rev"))
    )
    ranked = with_global_row_number(
        per_cust, ["rev", "o_custkey"], rn_col="i", n_col="n"
    )
    agg = ranked.agg(
        F.max("n").cast("long").alias("n"),
        F.sum(F.col("rev").cast("decimal(38,0)")).alias("__sx"),
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("rev")).alias("__six"),
    )
    return agg.select(
        "n",
        F.col("__sx").cast("double").alias("total_cents"),
        (
            (F.lit(2) * F.col("__six") - (F.col("n") + 1) * F.col("__sx"))
            .cast("double")
            / (F.col("n") * F.col("__sx")).cast("double")
        ).alias("gini"),
    )


def q_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of the customer's nation against
    order value — the categorical-feature encoder that avoids target
    leakage (each row's own target is excluded from its group mean:
    ``(sum_g - x) / (n_g - 1)``). Exact: cents integerize per order,
    per-nation sums are ONE map-side-combined aggregate of the
    orders⋈customer lookup join, the nation table of (n_g, sum_g) is
    25 rows broadcast back, and the encoding is one IEEE division of
    exact integers per row. Customer SCALES WITH THE FACT (sf×150k
    rows; billions at 100 TB), so its join carries NO build-side hint
    — a shuffle on the high-cardinality ``o_custkey`` is the correct
    100 TB plan, and AQE still broadcasts when the side is genuinely
    small. Only the 25-row nation aggregate is force-broadcast."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    oc = orders.select(
        "o_orderkey",
        "o_custkey",
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    ).join(
        cust.select("c_custkey", "c_nationkey"),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    nat = oc.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("s_g"),
    )
    return (
        oc.join(F.broadcast(nat), "c_nationkey")
        .filter(F.col("n_g") > 1)
        .select(
            "o_orderkey",
            F.col("c_nationkey").cast("long").alias("nationkey"),
            (
                (F.col("s_g") - F.col("cents")).cast("double")
                / (F.col("n_g") - 1).cast("double")
            ).alias("loo_enc_cents"),
        )
        .orderBy("o_orderkey")
    )


def q_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer Recency (days since last order,
    against the corpus max date), Frequency (order count), Monetary
    (revenue cents), each scored into quintiles 1..5 — the classic
    customer-value segmentation. Quintiles avoid the global-sort
    ``ntile(5)`` trap (ONE reducer sorts every customer): each score is
    ``(5*(rank-1)) div n + 1`` over the two-phase range rank, all
    integer arithmetic so DuckDB's ``row_number()`` twin hash-matches.
    Rank orientation: every rank ascends on (metric, custkey); R's
    bucket is then INVERTED (6 - bucket) because small recency is good
    while large frequency/monetary are — so 5 always means 'best'."""
    from .operators.relational import with_global_row_number

    orders = _t(spark, sf_dir, "orders")
    per = (
        orders.select(
            "o_custkey",
            F.to_date("o_orderdate").alias("d"),
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("o_custkey")
        .agg(
            F.max("d").alias("last_d"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum("cents").alias("monetary_cents"),
        )
    )
    maxd = per.agg(F.max("last_d").alias("__maxd"))
    base = per.crossJoin(F.broadcast(maxd)).select(
        "o_custkey",
        F.datediff(F.col("__maxd"), F.col("last_d"))
        .cast("long")
        .alias("recency_days"),
        "frequency",
        "monetary_cents",
    )
    base = with_global_row_number(
        base, ["recency_days", "o_custkey"], rn_col="__rr", n_col="__n"
    )
    base = with_global_row_number(
        base, ["frequency", "o_custkey"], rn_col="__fr", n_col="__n2"
    )
    base = with_global_row_number(
        base, ["monetary_cents", "o_custkey"], rn_col="__mr", n_col="__n3"
    )
    bucket = lambda rn: (  # noqa: E731
        F.expr(f"(5 * ({rn} - 1)) div __n") + 1
    ).cast("long")
    r_score = (F.lit(6) - bucket("__rr")).cast("long")
    return base.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        r_score.alias("r_score"),
        bucket("__fr").alias("f_score"),
        bucket("__mr").alias("m_score"),
        F.concat_ws(
            "", r_score, bucket("__fr"), bucket("__mr")
        ).alias("segment"),
    ).orderBy("o_custkey")


def q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 and lag-7 autocorrelation of the daily revenue series —
    the seasonality diagnostic behind q_seasonal_naive_mape's model
    choice (a high lag-7 r justifies the weekly-naive forecast). Daily
    cents aggregate exactly (ONE fact scan, day-domain-sized output);
    lagged pairs come from a calendar self-join (day+k = day — gap
    days drop on both engines identically); Pearson r uses exact
    decimal(38,0) power sums over the day-sized pair relation with the
    final sqrt/divide as mirrored IEEE ops — the q_linreg scheme
    without row-level scaling because daily cents are already
    integers."""
    orders = _t(spark, sf_dir, "orders")
    daily = (
        orders.select(
            F.to_date("o_orderdate").alias("d"),
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("d")
        .agg(F.sum("cents").alias("rev"))
    )
    outs = []
    for lag in (1, 7):
        a = daily.select(F.col("d").alias("da"), F.col("rev").alias("x"))
        b = daily.select(F.col("d").alias("db"), F.col("rev").alias("y"))
        pairs = a.join(b, F.date_add(F.col("da"), lag) == F.col("db"))
        dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
        agg = pairs.agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(dec("x")).alias("sx"),
            F.sum(dec("y")).alias("sy"),
            F.sum(dec("x") * F.col("x")).alias("sxx"),
            F.sum(dec("x") * F.col("y")).alias("sxy"),
            F.sum(dec("y") * F.col("y")).alias("syy"),
        )
        outs.append(
            agg.select(
                F.lit(lag).cast("long").alias("lag"),
                "n_pairs",
                (
                    (F.col("n_pairs") * F.col("sxy") - F.col("sx") * F.col("sy"))
                    .cast("double")
                    / (
                        F.sqrt(
                            (
                                F.col("n_pairs") * F.col("sxx")
                                - F.col("sx") * F.col("sx")
                            ).cast("double")
                        )
                        * F.sqrt(
                            (
                                F.col("n_pairs") * F.col("syy")
                                - F.col("sy") * F.col("sy")
                            ).cast("double")
                        )
                    )
                ).alias("autocorr"),
            )
        )
    return outs[0].unionByName(outs[1]).orderBy("lag")


def q_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold cross-validation assignment with a per-
    (source, fold) balance readout — the CV counterpart of
    q_split_assign: fold = md5-bucket(doc_id) % 5 is content-
    independent, reproducible across engines/runs/layouts (rand() is
    none of those), and the count matrix is the balance check a
    stratified protocol audits before training. Map-only hash + one
    tiny aggregate."""
    from .functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            "source",
            (TX.hash32(F.col("doc_id").cast("string")) % 5).alias("fold"),
        )
        .groupBy("source", "fold")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("source", "fold")
    )


def q_benford_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit conformance of order amounts — the classic
    fabricated-data / unit-mixup detector for financial facts: observed
    first-digit counts of the cents value vs Benford's expected
    ``log10(1 + 1/d)`` shares, chi-square readout. Exactness: the first
    digit comes from the BIGINT cents string (never from float log10 —
    double->varchar formatting and libm log are engine-specific; a
    bigint's decimal rendering is not), the 9 observed counts pivot
    into ONE row via conditional aggregates, and the chi-square is a
    single fixed-order expression over those ints and the 9 Python
    literal probabilities — deterministic IEEE both sides. ONE
    map-side-combined scan."""
    orders = _t(spark, sf_dir, "orders")
    import math

    digit = F.substring(
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .cast("string"),
        1,
        1,
    ).cast("int")
    base = orders.select(digit.alias("d")).filter(F.col("d") >= 1)
    agg = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        *[
            F.sum(F.when(F.col("d") == i, 1).otherwise(0))
            .cast("long")
            .alias(f"o{i}")
            for i in range(1, 10)
        ],
    )
    probs = {i: math.log10(1 + 1 / i) for i in range(1, 10)}
    chi = None
    for i in range(1, 10):
        e = F.col("n").cast("double") * F.lit(probs[i])
        term = (F.col(f"o{i}").cast("double") - e) * (
            F.col(f"o{i}").cast("double") - e
        ) / e
        chi = term if chi is None else chi + term
    return agg.select(
        "n", *[f"o{i}" for i in range(1, 10)], chi.alias("chi2")
    )


def q_survival_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier risk table for view->purchase conversion: per user,
    duration in days from first 'view' to first subsequent 'purchase'
    (censored at the corpus max day when no purchase follows); for each
    observed duration, the at-risk count, conversion events, and
    censorings — the survival-analysis readout behind time-to-convert /
    churn curves, exact-integer so DuckDB hash-matches (the survival
    PRODUCT itself is a float fold the caller derives; the risk table
    is the canonical artifact). Shape: one events scan to per-user
    firsts (map-side combined), a duration histogram, then reverse
    cumulative at-risk counts over the duration-domain-sized relation
    (the q_ks_test window class)."""
    ev = _events(spark, sf_dir)
    per = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "first_view"
        ),
    ).filter(F.col("first_view").isNotNull())
    # first purchase AT OR AFTER the first view — a user whose only
    # early purchase precedes first_view but who purchases again later
    # is a conversion (first-ever min(ts) would misclassify them as
    # censored; that drift between docstring and readout was round-7
    # ADVICE)
    pur = (
        ev.filter(F.col("event_type") == "purchase")
        .join(per, "user_id")
        .filter(F.col("ts") >= F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("__first_purchase_after"))
    )
    maxd = ev.agg(F.max(F.to_date("ts")).alias("__maxd"))
    durations = (
        per.join(pur, "user_id", "left")
        .crossJoin(F.broadcast(maxd))
        .select(
            F.datediff(
                F.to_date("__first_purchase_after"), F.to_date("first_view")
            ).alias("__event_dur"),
            F.datediff(F.col("__maxd"), F.to_date("first_view")).alias(
                "__censor_dur"
            ),
        )
        .select(
            F.coalesce(F.col("__event_dur"), F.col("__censor_dur"))
            .cast("long")
            .alias("dur"),
            F.col("__event_dur").isNotNull().alias("converted"),
        )
    )
    hist = durations.groupBy("dur").agg(
        F.sum(F.when(F.col("converted"), 1).otherwise(0))
        .cast("long")
        .alias("d_events"),
        F.sum(F.when(F.col("converted"), 0).otherwise(1))
        .cast("long")
        .alias("c_censored"),
    )
    w_ge = Window.orderBy("dur").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    return hist.select(
        "dur",
        F.sum(F.col("d_events") + F.col("c_censored"))
        .over(w_ge)
        .cast("long")
        .alias("n_at_risk"),
        "d_events",
        "c_censored",
    ).orderBy("dur")


def q_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership (operators/sketch.bloom_build/probe) —
    the missing member of the sketch family (CMS frequency, HLL
    cardinality, Bloom membership): a 1024-bit, 4-hash filter over the
    'BUILDING'-segment customer keys, probed with every ordering
    customer; the readout is probed / maybe / true-member /
    false-positive counts plus the realized FP rate. md5-sliced
    hashing makes the FILTER ITSELF bit-reproducible — the oracle
    rebuilds it and hash-checks even the false positives, the property
    that lets a 100 TB pipeline ship the KB-sized bit set to every
    join site as a semi-join pre-filter (q_runtime_filter_join's
    engine-injected bloom, surfaced as an explicit reusable
    artifact)."""
    from .operators.sketch import bloom_build, bloom_probe

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    members = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("key")
    )
    bits = bloom_build(members, "key")
    probes = orders.select(F.col("o_custkey").alias("key")).distinct()
    verdicts = bloom_probe(bits, probes, "key")
    truth = probes.join(
        members.withColumn("__true", F.lit(True)), "key", "left"
    ).select("key", F.coalesce(F.col("__true"), F.lit(False)).alias("is_member"))
    joined = verdicts.join(truth, "key")
    return joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_probed"),
        F.sum(F.when(F.col("maybe_member"), 1).otherwise(0))
        .cast("long")
        .alias("n_maybe"),
        F.sum(F.when(F.col("is_member"), 1).otherwise(0))
        .cast("long")
        .alias("n_true"),
        F.sum(
            F.when(F.col("maybe_member") & ~F.col("is_member"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_false_pos"),
    ).select(
        "n_probed",
        "n_maybe",
        "n_true",
        "n_false_pos",
        (
            F.col("n_false_pos").cast("double")
            / (F.col("n_probed") - F.col("n_true")).cast("double")
        ).alias("fp_rate"),
    )


def q_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate recall audit (q_simhash_eval's sibling for
    the OTHER detector): on the blocked pair universe where exact
    Jaccard is affordable, score LSH banding's candidate set against
    truth (Jaccard >= 0.5) — the measured recall/precision that
    justifies trusting banding at unblocked scale, where no exact
    audit is possible. Both signals are deterministic (md5 MinHash,
    exact shingle sets), so the confusion matrix hash-checks
    cross-engine. The banding pipeline runs once (materialized
    signatures); truth pairs ride the narrow blocked join."""
    from .operators.dedup import (
        jaccard_pairs,
        lsh_candidate_pairs,
        materialized_signatures,
    )

    docs = _t(spark, sf_dir, "documents")
    narrow = docs.select(F.col("source").alias("blk"), F.col("doc_id"))
    pairs = (
        narrow.select("blk", F.col("doc_id").alias("a"))
        .join(narrow.select("blk", F.col("doc_id").alias("b")), "blk")
        .filter((F.col("a") < F.col("b")) & (F.col("b") - F.col("a") <= 100))
        .select("a", "b")
    )
    jac = jaccard_pairs(docs, pairs, "doc_id", "text")
    sigs = materialized_signatures(
        docs, "doc_id", "text", _tmp_path("lshrecall_sigs")
    )
    cands = lsh_candidate_pairs(sigs, "doc_id").withColumn(
        "predicted", F.lit(True)
    )
    scored = jac.join(cands, ["a", "b"], "left").select(
        (F.col("jaccard") >= 0.5).alias("actual"),
        F.coalesce(F.col("predicted"), F.lit(False)).alias("predicted"),
    )
    agg = scored.agg(
        F.sum(F.when(F.col("actual") & F.col("predicted"), 1).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum(F.when(~F.col("actual") & F.col("predicted"), 1).otherwise(0))
        .cast("long")
        .alias("fp"),
        F.sum(F.when(F.col("actual") & ~F.col("predicted"), 1).otherwise(0))
        .cast("long")
        .alias("fn"),
        F.sum(F.when(~F.col("actual") & ~F.col("predicted"), 1).otherwise(0))
        .cast("long")
        .alias("tn"),
    )
    return agg.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.when(
            F.col("tp") + F.col("fn") > 0,
            F.col("tp").cast("double")
            / (F.col("tp") + F.col("fn")).cast("double"),
        ).alias("recall"),
        F.when(
            F.col("tp") + F.col("fp") > 0,
            F.col("tp").cast("double")
            / (F.col("tp") + F.col("fp")).cast("double"),
        ).alias("candidate_precision"),
    )


def q_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres price index per month over the lineitem fact: unit
    prices (extendedprice/quantity) weighted by BASE-month quantities —
    'what would the base basket cost at month t's prices', the
    inflation-tracking readout retail/procurement analytics publish.
    Exact path: per (month, part) cents and quantities aggregate in ONE
    scan; unit prices stay RATIONAL (cents_t * qty_0 products as
    decimal(38,0) after cross-multiplying denominators out:
    ``index_t = sum_p(c_t/q_t * q_0) / sum_p(c_0/q_0 * q_0)`` is
    evaluated as exact integer sums of ``c_t * q_0 * q_0_den`` terms —
    here simplified by summing ``c_t * q_0`` against ``q_t``-normalized
    prices via ONE division per part, then dec_sum for order-safe
    accumulation); the final index is a fixed-order double division.
    Only months sharing parts with the base month contribute
    (inner-join semantics, identical both engines)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.date_format("o_orderdate", "yyyy-MM").alias("month")
    )
    base = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            "month",
            "l_partkey",
            F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
            F.col("l_quantity").cast("long").alias("qty"),
        )
        .groupBy("month", "l_partkey")
        .agg(
            F.sum("cents").alias("c"),
            F.sum("qty").alias("q"),
        )
    )
    first_month = base.agg(F.min("month").alias("__m0"))
    m0 = (
        base.join(
            F.broadcast(first_month), base["month"] == F.col("__m0")
        )
        .select(
            F.col("l_partkey").alias("__pk0"),
            F.col("c").alias("c0"),
            F.col("q").alias("q0"),
        )
    )
    # per-part basket terms stay EXACT integers: the unit-price ratio
    # cross-multiplies to (c_t * q0 * 10^6) div q_t under defined
    # truncating division (a double->decimal(18,6) cast of the ratio is
    # NOT hash-safe — engines round arbitrary doubles differently at
    # the 6th decimal; caught by the sf0.1 sweep), so the micro-cent
    # basket sums merge exactly and the index is one IEEE division.
    # m0 is parts-dimension-sized (sf x 200k rows) — it SCALES, so no
    # build-side hint: the equi-join shuffles on l_partkey at scale and
    # AQE broadcasts only when the base basket is genuinely small.
    joined = base.join(
        m0, base["l_partkey"] == F.col("__pk0")
    ).select(
        "month",
        F.expr(
            "(CAST(c AS DECIMAL(38,0)) * q0 * 1000000) div q"
        ).alias("pt_q0_micro"),
        F.expr("CAST(c0 AS DECIMAL(38,0)) * 1000000").alias("p0_q0_micro"),
    )
    return (
        joined.groupBy("month")
        .agg(
            F.sum("pt_q0_micro").alias("__num"),
            F.sum("p0_q0_micro").alias("__den"),
        )
        .select(
            "month",
            (
                F.col("__num").cast("double") / F.col("__den").cast("double")
            ).alias("laspeyres_index"),
        )
        .orderBy("month")
    )


def q_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization of the daily revenue series (Lin et al., DMKD
    2007): z-normalize against the series mean/std, then map each day
    to one of four symbols at the standard Gaussian breakpoints
    (-0.6745, 0, 0.6745) — the symbolic representation motif-discovery
    and anomaly pipelines index time series by. Exactness: daily cents
    and the power sums are exact integers; mean and std are TWO shared
    fixed-order IEEE scalars (std as one sqrt of an exact-integer
    ratio), the z-score one subtraction + division per row, and the
    breakpoints are literals — so the symbol string itself
    hash-matches. One fact scan; everything after is day-domain."""
    orders = _t(spark, sf_dir, "orders")
    daily = (
        orders.select(
            F.to_date("o_orderdate").alias("d"),
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("d")
        .agg(F.sum("cents").alias("x"))
    )
    w_all = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    stats = daily.select(
        "d",
        "x",
        F.count(F.lit(1)).over(w_all).cast("long").alias("__n"),
        F.sum("x").over(w_all).cast("decimal(38,0)").alias("__sx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
        .over(w_all)
        .alias("__sxx"),
    )
    mean = F.col("__sx").cast("double") / F.col("__n").cast("double")
    std = F.sqrt(
        (F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx"))
        .cast("double")
        / (F.col("__n") * F.col("__n")).cast("double")
    )
    z = (F.col("x").cast("double") - mean) / std
    sym = (
        F.when(z < F.lit(-0.6745), F.lit("a"))
        .when(z < F.lit(0.0), F.lit("b"))
        .when(z < F.lit(0.6745), F.lit("c"))
        .otherwise(F.lit("d"))
    )
    return stats.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("x").cast("long").alias("cents"),
        z.alias("z"),
        sym.alias("sax_symbol"),
    ).orderBy("day")


def q_join_cardinality_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation from CMS inner products (the AMS/CMS
    optimizer trick): ``|A join B|`` on a key equals the inner product
    of the two frequency vectors, and the minimum over depth rows of
    ``sum_b cms_A[d][b] * cms_B[d][b]`` upper-bounds it using only two
    kilobyte sketches — how an optimizer chooses join order WITHOUT
    scanning either side. Here: lineitem joined to orders on orderkey,
    estimate vs exact count and the realized overestimate ratio. The
    md5-salted sketches are bit-reproducible, so the ESTIMATE ITSELF
    (not just the exact count) hash-checks cross-engine. Two one-pass
    sketch builds + a cell equi-join of two 4x1024 grids; the exact
    side is one keyed aggregate join for the audit column."""
    from .operators.sketch import cms_build

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").cast("string").alias("key")
    )
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("string").alias("key")
    )
    sk_a = cms_build(li, "key", depth=4, width=1024)
    sk_b = cms_build(orders, "key", depth=4, width=1024)
    prod = (
        sk_a.withColumnRenamed("cnt", "ca")
        .join(
            sk_b.withColumnRenamed("cnt", "cb"),
            ["depth_idx", "bucket"],
        )
        .groupBy("depth_idx")
        .agg(
            F.sum(F.col("ca").cast("decimal(38,0)") * F.col("cb"))
            .cast("long")
            .alias("__ip")
        )
        .agg(F.min("__ip").cast("long").alias("est_join_size"))
    )
    exact = (
        li.groupBy("key")
        .agg(F.count(F.lit(1)).alias("na"))
        .join(orders.groupBy("key").agg(F.count(F.lit(1)).alias("nb")), "key")
        .agg(
            F.sum(F.col("na").cast("decimal(38,0)") * F.col("nb"))
            .cast("long")
            .alias("exact_join_size")
        )
    )
    return prod.crossJoin(F.broadcast(exact)).select(
        "est_join_size",
        "exact_join_size",
        (
            F.col("est_join_size").cast("double")
            / F.col("exact_join_size").cast("double")
        ).alias("overestimate_ratio"),
    )


def q_equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equi-height) histogram of order value: ten buckets
    holding equal ROW counts, with each bucket's exact boundary values
    and its exact cents mass — the statistics structure optimizers and
    data-profilers collect when value distributions are skewed
    (equi-WIDTH buckets put 90% of rows in one bin; equi-depth adapts).
    Bucketing is ``(10*(rank-1)) div n + 1`` over the two-phase range
    rank on (cents, orderkey) — a total order, so bucket boundaries are
    deterministic and DuckDB's row_number() twin hash-matches; min/max
    per bucket are the exact fences a pruning layer would persist."""
    from .operators.relational import with_global_row_number

    orders = _t(spark, sf_dir, "orders")
    vals = orders.select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    ranked = with_global_row_number(
        vals, ["cents", "o_orderkey"], rn_col="i", n_col="n"
    )
    return (
        ranked.select(
            (F.expr("(10 * (i - 1)) div n") + 1).cast("long").alias("bucket"),
            "cents",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("cents").cast("long").alias("lo_cents"),
            F.max("cents").cast("long").alias("hi_cents"),
            F.sum(F.col("cents").cast("decimal(38,0)"))
            .cast("double")
            .alias("sum_cents"),
        )
        .orderBy("bucket")
    )


def q_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-duplicate matrix: verified LSH pairs (Jaccard
    >= 0.5, the exact q_minhash_lsh_pairs set) grouped by the SOURCE
    PAIR they connect — the contamination-origin readout: which feeds
    re-publish each other's content (and, when one 'source' is an
    evaluation benchmark, where test-set leakage enters). Canonical
    (lo, hi) source orientation; within-source pairs appear on the
    diagonal. The pair pipeline is the banding equi-join; attaching two
    source labels is two id-equi-joins against the narrow (doc_id,
    source) projection."""
    from .operators.dedup import minhash_near_duplicates

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(
        docs, "doc_id", "text", threshold=0.5,
        sig_path=_tmp_path("xsrc_sigs"),
    )
    src = docs.select("doc_id", "source")
    labeled = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("a"), F.col("source").alias("src_a")
            ),
            "a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("b"), F.col("source").alias("src_b")
            ),
            "b",
        )
        .select(
            F.least("src_a", "src_b").alias("source_lo"),
            F.greatest("src_a", "src_b").alias("source_hi"),
        )
    )
    return (
        labeled.groupBy("source_lo", "source_hi")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .orderBy("source_lo", "source_hi")
    )


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per source: BPE-pretokens per whitespace word
    and characters per BPE token — the tokenizer-efficiency metric
    multilingual corpus reports lead with (high fertility = the
    tokenizer fragments that domain; drives vocab decisions next to
    q_vocab_coverage's ablation). Exact integer sums from ONE scan
    (map-side combined), two IEEE divisions per source row."""
    from .functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    agg = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(TX.token_count(F.col("text"))).cast("long").alias("n_words"),
        F.sum(TX.bpe_token_count(F.col("text")))
        .cast("long")
        .alias("n_bpe_tokens"),
        F.sum(F.length(F.col("text"))).cast("long").alias("n_chars"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_words",
        "n_bpe_tokens",
        "n_chars",
        (
            F.col("n_bpe_tokens").cast("double")
            / F.col("n_words").cast("double")
        ).alias("fertility"),
        (
            F.col("n_chars").cast("double")
            / F.col("n_bpe_tokens").cast("double")
        ).alias("chars_per_token"),
    ).orderBy("source")


def q_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture weights for domain sampling (the
    multilingual-corpus balancing rule, alpha = 0.5): upweight small
    sources by sampling proportional to ``n^alpha`` instead of ``n``.
    sqrt is a correctly-rounded IEEE op in both engines, and the
    normalization avoids cross-row float accumulation entirely by
    FIXED-POINT integerizing each sqrt (``floor(sqrt(n)*1e9 + 0.5)``
    -> bigint) so the denominator is an EXACT integer sum — the weight
    is then one IEEE division per source. Compare ``share_raw`` (raw
    n/total) to ``weight_t05``: the readout shows how much the
    temperature flattens the mixture."""
    docs = _t(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    scaled = counts.withColumn(
        "__sq",
        F.floor(
            F.sqrt(F.col("n_docs").cast("double")) * F.lit(1e9) + F.lit(0.5)
        ).cast("long"),
    )
    w_all = Window.orderBy("source").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return scaled.select(
        "source",
        "n_docs",
        (
            F.col("n_docs").cast("double")
            / F.sum("n_docs").over(w_all).cast("double")
        ).alias("share_raw"),
        (
            F.col("__sq").cast("double")
            / F.sum("__sq").over(w_all).cast("double")
        ).alias("weight_t05"),
    ).orderBy("source")


def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card — the datasheet block a corpus release
    documents (Gebru et al.): document/word/BPE-token/char volumes,
    mean document length, language composition (share of 'en'), and
    the exact-duplicate rate (1 - distinct md5(text) / docs). One scan
    plus a source-sized readout; every rate is a single IEEE division
    of exact integers, so the whole card hash-checks cross-engine."""
    from .functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    agg = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(TX.token_count(F.col("text"))).cast("long").alias("n_words"),
        F.sum(TX.bpe_token_count(F.col("text")))
        .cast("long")
        .alias("n_bpe_tokens"),
        F.sum(F.length(F.col("text"))).cast("long").alias("n_chars"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long")
        .alias("n_en"),
        F.count_distinct(F.md5(F.col("text")))
        .cast("long")
        .alias("n_unique_texts"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_words",
        "n_bpe_tokens",
        "n_chars",
        (
            F.col("n_words").cast("double") / F.col("n_docs").cast("double")
        ).alias("mean_words_per_doc"),
        (
            F.col("n_en").cast("double") / F.col("n_docs").cast("double")
        ).alias("share_en"),
        (
            F.lit(1.0)
            - F.col("n_unique_texts").cast("double")
            / F.col("n_docs").cast("double")
        ).alias("exact_dup_rate"),
    ).orderBy("source")


def q_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve in deciles — q_gini's distributional readout: rank
    customers ascending by revenue, bucket into ten equal-count groups
    (``(10*(rank-1)) div n + 1`` over the two-phase range rank, the
    q_rfm bucketing), and report each decile's exact cents plus the
    cumulative share — 'the bottom 50% of customers contribute X% of
    revenue'. All counts/sums exact; the share is one IEEE division per
    decile row over a 10-row relation."""
    from .operators.relational import with_global_row_number

    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        orders.select(
            "o_custkey",
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("cents").alias("rev"))
    )
    ranked = with_global_row_number(
        per_cust, ["rev", "o_custkey"], rn_col="i", n_col="n"
    )
    dec = ranked.select(
        (F.expr("(10 * (i - 1)) div n") + 1).cast("long").alias("decile"),
        "rev",
    ).groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_cust"),
        F.sum(F.col("rev").cast("decimal(38,0)")).alias("__dc"),
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return dec.select(
        "decile",
        "n_cust",
        F.col("__dc").cast("double").alias("decile_cents"),
        F.sum("__dc").over(w).cast("double").alias("cum_cents"),
        (
            F.sum("__dc").over(w).cast("double")
            / F.sum("__dc").over(w_all).cast("double")
        ).alias("cum_share"),
    ).orderBy("decile")


def q_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-order gap statistics per customer — the purchase-cadence /
    churn-risk feature (a customer whose current silence exceeds their
    historical max gap is churning): per customer with >= 2 orders, the
    order count, exact total and max gap in days (consecutive orders
    under a per-customer date sort), and the mean gap as one division.
    One scan; the lag window partitions by customer (high cardinality —
    distributes); day arithmetic is integer-exact cross-engine."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    gaps = (
        orders.select(
            "o_custkey", "o_orderkey", F.to_date("o_orderdate").alias("d")
        )
        .withColumn("__prev", F.lag("d").over(w))
        .withColumn(
            "gap", F.datediff(F.col("d"), F.col("__prev")).cast("long")
        )
    )
    return (
        gaps.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("gap").cast("long").alias("sum_gap_days"),
            F.max("gap").cast("long").alias("max_gap_days"),
        )
        .filter(F.col("n_orders") >= 2)
        .select(
            "o_custkey",
            "n_orders",
            "sum_gap_days",
            "max_gap_days",
            (
                F.col("sum_gap_days").cast("double")
                / (F.col("n_orders") - 1).cast("double")
            ).alias("mean_gap_days"),
        )
        .orderBy("o_custkey")
    )


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document from three exact counts —
    sentences (runs of [.!?]; fragment docs with no terminal
    punctuation count as ONE sentence, the standard fragment rule),
    words (the shared tokenizer), syllable
    proxies (vowel-group runs, the standard heuristic) — the
    readability gate curation stacks run next to Gopher/C4 rules.
    Counts are regex-extract sizes (identical across engines for these
    character-class patterns); the score is a fixed-order expression
    over two divisions and three float literals, so DuckDB
    hash-matches. Map-only — embarrassingly parallel at any scale."""
    from .functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.size(TX.tokens(F.col("text"))).cast("long").alias("n_words"),
        F.greatest(
            F.size(
                F.regexp_extract_all(F.col("text"), F.lit(r"[.!?]+"), 0)
            ),
            F.lit(1),
        )
        .cast("long")
        .alias("n_sentences"),
        F.size(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiou]+"), 0)
        )
        .cast("long")
        .alias("n_syllables"),
    )
    score = (
        F.lit(206.835)
        - F.lit(1.015)
        * (F.col("n_words").cast("double") / F.col("n_sentences").cast("double"))
        - F.lit(84.6)
        * (
            F.col("n_syllables").cast("double")
            / F.col("n_words").cast("double")
        )
    )
    return (
        base.filter(F.col("n_words") > 0)
        .select("doc_id", "n_words", "n_sentences", "n_syllables",
                score.alias("flesch"))
        .orderBy("doc_id")
    )


def q_weekday_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday seasonal decomposition of daily revenue: per ISO weekday
    (1=Mon..7=Sun), the day count, exact cents, the weekday mean, and
    its EFFECT (deviation from the global daily mean) — the additive
    seasonality readout behind q_autocorr's lag-7 signal and the
    weekly-naive forecast. Day aggregation happens once (fact scan ->
    day-domain); weekday uses Spark's weekday()+1 == DuckDB's isodow
    (both Monday-based — dayofweek's Sunday-start convention differs
    between engines and is avoided); means and the effect are
    fixed-order IEEE expressions over exact integers."""
    orders = _t(spark, sf_dir, "orders")
    daily = (
        orders.select(
            F.to_date("o_orderdate").alias("d"),
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("d")
        .agg(F.sum("cents").alias("x"))
    )
    per_wd = daily.select(
        (F.weekday("d") + 1).cast("long").alias("iso_weekday"), "x"
    ).groupBy("iso_weekday").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("__s"),
    )
    w_all = Window.orderBy("iso_weekday").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    mean_wd = F.col("__s").cast("double") / F.col("n_days").cast("double")
    mean_g = (
        F.sum("__s").over(w_all).cast("double")
        / F.sum("n_days").over(w_all).cast("double")
    )
    return per_wd.select(
        "iso_weekday",
        "n_days",
        F.col("__s").cast("double").alias("sum_cents"),
        mean_wd.alias("weekday_mean_cents"),
        (mean_wd - mean_g).alias("effect_cents"),
    ).orderBy("iso_weekday")


def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative lifetime value by signup cohort: users grouped by
    first-seen week, their event value accumulated per week-of-age, and
    the running total normalized per cohort member — the LTV curve
    growth teams read retention against (q_retention_cohort's value
    sibling). Exact: value cents integerize per event, per-(cohort,
    age) sums are ONE map-side-combined aggregate over the
    user-attributed stream, the cumulative rides a window partitioned
    by cohort over the week-domain-sized matrix (never event-sized),
    and ltv_per_user is one IEEE division of exact integers."""
    ev = _events(spark, sf_dir)
    cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    sizes = firsts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_n")
    )
    per_age = (
        ev.select(
            "user_id",
            F.date_trunc("week", "ts").cast("date").alias("act_week"),
            cents.alias("cents"),
        )
        .join(firsts, "user_id")
        .select(
            "cohort_week",
            F.expr("datediff(act_week, cohort_week) div 7").alias(
                "weeks_since"
            ),
            "cents",
        )
        .groupBy("cohort_week", "weeks_since")
        .agg(F.sum("cents").alias("week_cents"))
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("weeks_since")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        per_age.withColumn(
            "cum_cents", F.sum("week_cents").over(w).cast("long")
        )
        .join(F.broadcast(sizes), "cohort_week")
        .select(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            F.col("weeks_since").cast("long").alias("weeks_since"),
            F.col("week_cents").cast("long").alias("week_cents"),
            "cum_cents",
            "cohort_n",
            (
                F.col("cum_cents").cast("double")
                / F.col("cohort_n").cast("double")
            ).alias("ltv_per_user_cents"),
        )
        .orderBy("cohort_week", "weeks_since")
    )


def q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap matrix: for every event-type pair, the distinct
    users doing BOTH, each marginal audience, and the Jaccard overlap —
    the segment-intersection readout behind audience planning and
    cannibalization checks. The (type, user) incidence dedups in ONE
    events scan and materializes implicitly as the self-join input
    (types are a handful, users high-cardinality — the join key is
    user_id, so it distributes); marginals broadcast back onto the
    pair counts; Jaccard is one IEEE division of exact integers."""
    ev = _events(spark, sf_dir)
    inc = ev.select("event_type", "user_id").distinct()
    a = inc.select(F.col("event_type").alias("ta"), "user_id")
    b = inc.select(F.col("event_type").alias("tb"), "user_id")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    marg = inc.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    ma = marg.select(F.col("event_type").alias("ta"), F.col("n_users").alias("n_a"))
    mb = marg.select(F.col("event_type").alias("tb"), F.col("n_users").alias("n_b"))
    return (
        inter.join(F.broadcast(ma), "ta")
        .join(F.broadcast(mb), "tb")
        .select(
            "ta",
            "tb",
            "n_a",
            "n_b",
            "n_both",
            (
                F.col("n_both").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
        .orderBy("ta", "tb")
    )


def q_simhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator evaluation as a query: SimHash's hamming-distance
    verdict scored against exact shingle Jaccard on the same blocked
    pair set — the precision/recall audit a dedup pipeline runs before
    trusting a cheap detector at scale (prediction: hamming <= 9 of 32
    bits; truth: Jaccard >= 0.5). Everything is deterministic (md5
    token hashes, integer bit ops, exact set sizes), so the CONFUSION
    MATRIX ITSELF hash-checks cross-engine — the evaluation is
    verified, not sampled. One narrow blocked pair generation (the
    q_ngram_jaccard class) feeding both signals."""
    from .operators.dedup import jaccard_pairs, simhash

    docs = _t(spark, sf_dir, "documents")
    narrow = docs.select(F.col("source").alias("blk"), F.col("doc_id"))
    pairs = (
        narrow.select("blk", F.col("doc_id").alias("a"))
        .join(narrow.select("blk", F.col("doc_id").alias("b")), "blk")
        .filter((F.col("a") < F.col("b")) & (F.col("b") - F.col("a") <= 100))
        .select("a", "b")
    )
    jac = jaccard_pairs(docs, pairs, "doc_id", "text")
    sims = simhash(docs, "doc_id", "text")
    sa = sims.select(F.col("doc_id").alias("a"), F.col("simhash").alias("ha"))
    sb = sims.select(F.col("doc_id").alias("b"), F.col("simhash").alias("hb"))
    scored = (
        jac.join(sa, "a")
        .join(sb, "b")
        .select(
            (F.col("jaccard") >= 0.5).alias("actual"),
            (
                F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))) <= 9
            ).alias("predicted"),
        )
    )
    agg = scored.agg(
        F.sum(F.when(F.col("actual") & F.col("predicted"), 1).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum(F.when(~F.col("actual") & F.col("predicted"), 1).otherwise(0))
        .cast("long")
        .alias("fp"),
        F.sum(F.when(F.col("actual") & ~F.col("predicted"), 1).otherwise(0))
        .cast("long")
        .alias("fn"),
        F.sum(F.when(~F.col("actual") & ~F.col("predicted"), 1).otherwise(0))
        .cast("long")
        .alias("tn"),
    )
    return agg.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.when(
            F.col("tp") + F.col("fp") > 0,
            F.col("tp").cast("double")
            / (F.col("tp") + F.col("fp")).cast("double"),
        ).alias("precision"),
        F.when(
            F.col("tp") + F.col("fn") > 0,
            F.col("tp").cast("double")
            / (F.col("tp") + F.col("fn")).cast("double"),
        ).alias("recall"),
    )


def q_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for the A/B readout (Deng et al., WSDM
    2013): users hash-split into two deterministic variants, their
    PRE-period value (first half of the observation window) used as the
    covariate to adjust the POST-period metric —
    ``adj = mean_post_v - theta * (mean_pre_v - mean_pre_global)`` with
    ``theta = cov(pre, post) / var(pre)``. The experimentation-platform
    op that typically halves required sample sizes. Exact: the window
    midpoint is integer day arithmetic, per-user pre/post cents are ONE
    map-side-combined conditional aggregate, theta's numerator and
    denominator are exact decimal power sums (q_linreg class), and
    every mean/adjustment is a fixed-order IEEE expression both engines
    mirror."""
    ev = _events(spark, sf_dir)
    cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("__d0"),
        F.max(F.to_date("ts")).alias("__d1"),
    )
    per_user = (
        ev.select("user_id", F.to_date("ts").alias("d"), cents.alias("cents"))
        .crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            F.when(
                F.datediff(F.col("d"), F.col("__d0"))
                < F.expr("datediff(__d1, __d0) div 2"),
                F.col("cents"),
            )
            .otherwise(0)
            .alias("pre_c"),
            F.when(
                F.datediff(F.col("d"), F.col("__d0"))
                >= F.expr("datediff(__d1, __d0) div 2"),
                F.col("cents"),
            )
            .otherwise(0)
            .alias("post_c"),
        )
        .groupBy("user_id")
        .agg(
            F.sum("pre_c").alias("pre"),
            F.sum("post_c").alias("post"),
        )
        .select(
            "user_id",
            "pre",
            "post",
            F.pmod(
                F.conv(
                    F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
                    16,
                    10,
                ).cast("long"),
                F.lit(2),
            ).alias("variant"),
        )
    )
    g = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("pre").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("post").cast("decimal(38,0)")).alias("sy"),
        F.sum(F.col("pre").cast("decimal(38,0)") * F.col("pre")).alias("sxx"),
        F.sum(F.col("pre").cast("decimal(38,0)") * F.col("post")).alias(
            "sxy"
        ),
    )
    v = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n_v"),
        F.sum(F.col("pre").cast("decimal(38,0)")).alias("sx_v"),
        F.sum(F.col("post").cast("decimal(38,0)")).alias("sy_v"),
    )
    theta = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
            "double"
        )
    )
    mean_pre_g = F.col("sx").cast("double") / F.col("n").cast("double")
    mean_post_v = F.col("sy_v").cast("double") / F.col("n_v").cast("double")
    mean_pre_v = F.col("sx_v").cast("double") / F.col("n_v").cast("double")
    return (
        v.crossJoin(F.broadcast(g))
        .select(
            F.col("variant").cast("long").alias("variant"),
            "n_v",
            mean_post_v.alias("mean_post_cents"),
            theta.alias("theta"),
            (mean_post_v - theta * (mean_pre_v - mean_pre_g)).alias(
                "adjusted_mean_cents"
            ),
        )
        .orderBy("variant")
    )


def q_streaming_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Bloom-filter MAINTENANCE (the q_streaming_cms_topk
    check class applied to membership state): the member set arrives as
    three micro-batches; each batch's bit positions union into a
    BATCH-ID-VERSIONED parquet state (idempotent under micro-batch
    replay — bit-set union commutes AND absorbs duplicates, so crash
    recovery is free). The accumulated filter is therefore BIT-IDENTICAL
    to the batch-built one, and the final probe readout hash-matches the
    full q_bloom_filter DuckDB oracle — a streaming continuous query
    with an EXACT cross-engine check. At 100 TB the state is <= width
    rows per version regardless of stream volume."""
    import os
    import shutil

    from .operators.sketch import bloom_build, bloom_probe

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        cust = _t(spark, sf_dir, "customer")
        members = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
            F.col("c_custkey").alias("key")
        )
        stage = _tmp_path("bloom_stage")
        shutil.rmtree(stage, ignore_errors=True)
        for i in range(3):
            members.filter(F.pmod(F.col("key"), 3) == i).coalesce(1).write.mode(
                "append"
            ).parquet(stage)
        state_dir = _tmp_path("bloom_state")
        shutil.rmtree(state_dir, ignore_errors=True)
        ckpt = _tmp_path("bloom_ckpt")
        shutil.rmtree(ckpt, ignore_errors=True)

        def accumulate(batch_df: DataFrame, batch_id: int) -> None:
            bits = bloom_build(batch_df, "key")
            prev = os.path.join(state_dir, f"v{batch_id - 1}")
            if batch_id > 0 and os.path.exists(prev):
                bits = (
                    spark.read.parquet(prev).unionByName(bits).distinct()
                )
            bits.write.mode("overwrite").parquet(
                os.path.join(state_dir, f"v{batch_id}")
            )

        stream = (
            spark.readStream.schema(members.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        q = (
            stream.writeStream.foreachBatch(accumulate)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        last = max(
            int(d[1:]) for d in os.listdir(state_dir) if d.startswith("v")
        )
        bits = spark.read.parquet(os.path.join(state_dir, f"v{last}"))

        orders = _t(spark, sf_dir, "orders")
        probes = orders.select(F.col("o_custkey").alias("key")).distinct()
        verdicts = bloom_probe(bits, probes, "key")
        truth = probes.join(
            members.withColumn("__true", F.lit(True)), "key", "left"
        ).select(
            "key", F.coalesce(F.col("__true"), F.lit(False)).alias("is_member")
        )
        out = (
            verdicts.join(truth, "key")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_probed"),
                F.sum(F.when(F.col("maybe_member"), 1).otherwise(0))
                .cast("long")
                .alias("n_maybe"),
                F.sum(F.when(F.col("is_member"), 1).otherwise(0))
                .cast("long")
                .alias("n_true"),
                F.sum(
                    F.when(
                        F.col("maybe_member") & ~F.col("is_member"), 1
                    ).otherwise(0)
                )
                .cast("long")
                .alias("n_false_pos"),
            )
            .select(
                "n_probed",
                "n_maybe",
                "n_true",
                "n_false_pos",
                (
                    F.col("n_false_pos").cast("double")
                    / (F.col("n_probed") - F.col("n_true")).cast("double")
                ).alias("fp_rate"),
            )
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return out


def q_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on the daily revenue series: the day
    maximizing |n * prefix_t - t * S| — the scaled cumulative deviation
    from the global mean (multiplying through by n keeps EVERY step in
    exact integer arithmetic; the classic C_t = prefix_t - t*S/n would
    accumulate float error). One fact scan to daily cents, then a
    day-domain-sized window pass for prefix sums and row indexes —
    the q_ks_test shape. Returns the argmax day, its scaled CUSUM, and
    the two segment means it splits (one IEEE division each) — the
    regime-shift readout monitoring pipelines alert on."""
    orders = _t(spark, sf_dir, "orders")
    daily = (
        orders.select(
            F.to_date("o_orderdate").alias("d"),
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("d")
        .agg(F.sum("cents").alias("x"))
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = daily.select(
        "d",
        F.row_number().over(Window.orderBy("d")).cast("long").alias("t"),
        F.sum("x").over(w).cast("decimal(38,0)").alias("prefix"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("n"),
        F.sum("x").over(w_all).cast("decimal(38,0)").alias("s"),
    )
    scored = cum.select(
        "d",
        "t",
        "prefix",
        "n",
        "s",
        F.abs(F.col("n") * F.col("prefix") - F.col("t") * F.col("s")).alias(
            "__c"
        ),
    )
    best = scored.orderBy(
        F.col("__c").desc(), F.col("d")
    ).limit(1)
    return best.select(
        F.date_format("d", "yyyy-MM-dd").alias("change_day"),
        F.col("__c").cast("double").alias("cusum_scaled"),
        (F.col("prefix").cast("double") / F.col("t").cast("double")).alias(
            "mean_before_cents"
        ),
        (
            (F.col("s") - F.col("prefix")).cast("double")
            / (F.col("n") - F.col("t")).cast("double")
        ).alias("mean_after_cents"),
    )


def q_minhash_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment C(a,b) = |A∩B|/|A| (and the
    mirror) for blocked doc pairs — the subset/superset near-dup class
    Jaccard misses (operators/dedup.containment_pairs; Broder's
    containment): a doc quoted whole inside a larger one scores ~1 in
    one direction while its Jaccard stays low. Same narrow blocked
    candidate generation as q_ngram_jaccard; sizes are computed on
    long-hashed shingles, values identical to the string-set oracle."""
    from .operators.dedup import ngram_containment_windowed

    docs = _t(spark, sf_dir, "documents")
    return ngram_containment_windowed(
        docs, "doc_id", "text", "source", window=100
    ).orderBy("a", "b")


# ---------------------------------------------------------------------------
# round 8: rank statistics (Spearman / Kruskal-Wallis / ROC-AUC / Kendall)
# ---------------------------------------------------------------------------


def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between customer order frequency and
    revenue — the monotone-association sibling of q_corr_matrix's
    Pearson (robust to the heavy-tailed monetary distribution). Ranks
    come from TWO two-phase global range ranks (with_global_row_number
    — no single-reducer sort; ties broken by custkey, so ranks are
    exact integer permutations both engines); rho is Pearson over the
    integer ranks via exact decimal(38,0) power sums with the final
    sqrt/divide as mirrored IEEE ops — the q_autocorr scheme on rank
    space. ONE orders scan, customers-sized relation after."""
    from .operators.relational import with_global_row_number

    orders = _t(spark, sf_dir, "orders")
    per = (
        orders.select(
            "o_custkey",
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum("cents").alias("monetary_cents"),
        )
    )
    base = with_global_row_number(
        per, ["frequency", "o_custkey"], rn_col="__rf"
    )
    base = with_global_row_number(
        base, ["monetary_cents", "o_custkey"], rn_col="__rm", n_col="__n"
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    agg = base.agg(
        F.max("__n").cast("long").alias("n"),
        F.sum(dec("__rf")).alias("sx"),
        F.sum(dec("__rm")).alias("sy"),
        F.sum(dec("__rf") * F.col("__rf")).alias("sxx"),
        F.sum(dec("__rf") * F.col("__rm")).alias("sxy"),
        F.sum(dec("__rm") * F.col("__rm")).alias("syy"),
    )
    return agg.select(
        "n",
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            .cast("double")
            / (
                F.sqrt(
                    (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                    .cast("double")
                )
                * F.sqrt(
                    (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
                    .cast("double")
                )
            )
        ).alias("spearman_rho"),
    )


def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across the five event-type cohorts — the
    rank-based (distribution-free) counterpart of q_anova_f: did any
    cohort's VALUE DISTRIBUTION shift, judged on ranks so outliers
    can't dominate. One global two-phase rank of every value (total
    order (value, event_id) — deterministic tie policy, identical both
    engines), per-cohort rank sums as exact decimals, then
    ``H = 12/(N(N+1)) * sum(R_g^2/n_g) - 3(N+1)`` over a FIXED-ORDER
    five-cohort pivot (the q_anova_f chaining discipline — double sums
    across groups are order-dependent)."""
    from .operators.relational import with_global_row_number

    ev = _events(spark, sf_dir)
    types = ["click", "error", "purchase", "signup", "view"]
    ranked = with_global_row_number(
        ev.select("event_id", "event_type", "value"),
        ["value", "event_id"],
        rn_col="__rk",
    )
    g = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum(F.col("__rk").cast("decimal(38,0)")).cast("double").alias("r_g"),
    )
    one = g.agg(
        *[
            F.max(F.when(F.col("event_type") == t, F.col(c))).alias(
                f"{c}_{i}"
            )
            for i, t in enumerate(types)
            for c in ("n_g", "r_g")
        ]
    )
    n = [F.col(f"n_g_{i}") for i in range(5)]
    r = [F.col(f"r_g_{i}") for i in range(5)]
    n_total = n[0] + n[1] + n[2] + n[3] + n[4]
    nd = n_total.cast("double")
    t_sum = (
        (r[0] * r[0] / n[0].cast("double"))
        + (r[1] * r[1] / n[1].cast("double"))
        + (r[2] * r[2] / n[2].cast("double"))
        + (r[3] * r[3] / n[3].cast("double"))
        + (r[4] * r[4] / n[4].cast("double"))
    )
    h = F.lit(12.0) / (nd * (nd + F.lit(1.0))) * t_sum - F.lit(3.0) * (
        nd + F.lit(1.0)
    )
    return one.select(
        F.lit(5).cast("long").alias("k"),
        n_total.cast("long").alias("n_total"),
        h.alias("h_stat"),
    )


def q_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC of ``value`` as a purchase-vs-view classifier score —
    the model-eval readout a training pipeline computes for every
    candidate quality/score column, via the rank-sum identity
    ``AUC = (R_pos - n_pos(n_pos+1)/2) / (n_pos * n_neg)`` (the
    Mann-Whitney U statistic normalized): one global two-phase rank
    over the pooled cohorts (tie policy: (value, event_id) total order,
    identical both engines), one tiny aggregate, exact integers until
    the single final IEEE division."""
    from .operators.relational import with_global_row_number

    ev = _events(spark, sf_dir).filter(
        F.col("event_type").isin("purchase", "view")
    )
    ranked = with_global_row_number(
        ev.select("event_id", "event_type", "value"),
        ["value", "event_id"],
        rn_col="__rk",
    )
    agg = ranked.agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("long")
        .alias("n_pos"),
        F.sum(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        )
        .cast("long")
        .alias("n_neg"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase", F.col("__rk")
            ).otherwise(0).cast("decimal(38,0)")
        ).alias("r_pos"),
    )
    # cross-multiplied by 2 so every intermediate is an exact integer
    # (a decimal division would round at scale 6 in Spark)
    num = F.lit(2).cast("decimal(38,0)") * F.col("r_pos") - F.col(
        "n_pos"
    ).cast("decimal(38,0)") * (F.col("n_pos") + 1)
    den = (
        F.lit(2).cast("decimal(38,0)") * F.col("n_pos") * F.col("n_neg")
    )
    return agg.select(
        "n_pos",
        "n_neg",
        (num.cast("double") / den.cast("double")).alias("auc"),
    )


def q_kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between daily revenue and daily order count — the
    concordance view of the volume/value relationship, exact over the
    DAY-DOMAIN pair space (n_days^2/2 pairs — bounded by the calendar,
    never fact-sized; the q_ks_test domain-relation discipline).
    Concordant/discordant/tie counts are exact integers from a d1 < d2
    self-join; ``tau_b = (C-D) / (sqrt(n0-tx) * sqrt(n0-ty))`` is the
    only float arithmetic, mirrored operation-for-operation."""
    orders = _t(spark, sf_dir, "orders")
    daily = (
        orders.select(
            F.to_date("o_orderdate").alias("d"),
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("d")
        .agg(
            F.sum("cents").alias("x"),
            F.count(F.lit(1)).cast("long").alias("y"),
        )
    )
    a = daily.select(
        F.col("d").alias("da"), F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = daily.select(
        F.col("d").alias("db"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    pairs = a.join(b, F.col("da") < F.col("db"))
    sgn = (F.col("xb") - F.col("xa")) * (F.col("yb") - F.col("ya"))
    agg = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n0"),
        F.sum(F.when(sgn > 0, 1).otherwise(0)).cast("long").alias("c"),
        F.sum(F.when(sgn < 0, 1).otherwise(0)).cast("long").alias("d"),
        F.sum(F.when(F.col("xa") == F.col("xb"), 1).otherwise(0))
        .cast("long")
        .alias("tx"),
        F.sum(F.when(F.col("ya") == F.col("yb"), 1).otherwise(0))
        .cast("long")
        .alias("ty"),
    )
    return agg.select(
        "n0",
        "c",
        "d",
        "tx",
        "ty",
        (
            (F.col("c") - F.col("d")).cast("double")
            / (
                F.sqrt((F.col("n0") - F.col("tx")).cast("double"))
                * F.sqrt((F.col("n0") - F.col("ty")).cast("double"))
            )
        ).alias("tau_b"),
    )


# ---------------------------------------------------------------------------
# round 8: economic readouts (HHI / winsorized mean / ABC / MoM growth)
# ---------------------------------------------------------------------------


def q_herfindahl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration index of nation revenue
    shares within each region — the market-concentration readout
    (sum of squared shares; 1/25..1). Exact rational:
    ``HHI = sum(s_i^2) / S^2`` cross-multiplies the shares away, so
    the only floats are one varchar-routed cast of the exact
    decimal(38,0) square sum and one IEEE square+divide. Customer
    SCALES with the fact — its join is UNHINTED (AQE decides); the
    25-row nation table broadcasts."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    region = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    per_nat = (
        orders.select(
            "o_custkey",
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_nationkey")
        .agg(F.sum("cents").alias("s_i"))
    )
    dec = F.col("s_i").cast("decimal(38,0)")
    return (
        per_nat.join(
            F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .join(
            F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
        )
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nations"),
            F.sum(dec).cast("decimal(38,0)").alias("__s"),
            F.sum(dec * F.col("s_i")).alias("__ssq"),
        )
        .select(
            F.col("r_name").alias("region"),
            "n_nations",
            F.col("__s").cast("long").alias("total_cents"),
            (
                F.col("__ssq").cast("double")
                / (F.col("__s").cast("double") * F.col("__s").cast("double"))
            ).alias("hhi"),
        )
        .orderBy("region")
    )


def q_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean of order value (clip at the exact p5/p95 rank
    positions, then average) — the robust-central-tendency readout that
    survives fat tails without discarding rows like a trimmed mean.
    Bounds come from ONE pass over the two-phase global rank (the exact
    rank-selection discipline of q_percentile_rank — no interpolation,
    so both engines pick the identical order statistics); the clip +
    mean is a second map-side-combined pass with exact decimal sums and
    one final IEEE division."""
    from .operators.relational import with_global_row_number

    orders = _t(spark, sf_dir, "orders")
    vals = orders.select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    ranked = with_global_row_number(
        vals, ["cents", "o_orderkey"], rn_col="__rn", n_col="__n"
    )
    lo_pos = F.expr("(5 * (__n - 1)) div 100") + 1
    hi_pos = F.expr("(95 * (__n - 1)) div 100") + 1
    bounds = ranked.agg(
        F.min(F.when(F.col("__rn") == lo_pos, F.col("cents"))).alias(
            "lo_cents"
        ),
        F.min(F.when(F.col("__rn") == hi_pos, F.col("cents"))).alias(
            "hi_cents"
        ),
    )
    clipped = vals.crossJoin(F.broadcast(bounds)).select(
        "lo_cents",
        "hi_cents",
        F.greatest(
            F.col("lo_cents"), F.least(F.col("hi_cents"), F.col("cents"))
        ).alias("w"),
    )
    return clipped.groupBy("lo_cents", "hi_cents").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (
            F.sum(F.col("w").cast("decimal(38,0)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("winsorized_mean_cents"),
    )


def q_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification of parts by revenue: rank parts by
    revenue descending, class A = the head covering 80% of cumulative
    revenue, B to 95%, C the tail — the inventory-analytics cut.
    Scale shape: the descending rank AND the cumulative revenue both
    ride the two-phase range machinery (rank via negated cents — no
    single-reducer sort; cumulative via with_grouped_running_sum over a
    constant group), and the class decision is an INTEGER
    cross-multiplied comparison (cum*100 vs total*80 in decimal — no
    share floats at all), so the readout is exact."""
    from .operators.relational import with_grouped_running_sum

    li = _t(spark, sf_dir, "lineitem")
    per_part = (
        li.select(
            "l_partkey",
            F.floor(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
                * F.lit(100.0)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("cents"),
        )
        .groupBy("l_partkey")
        .agg(F.sum("cents").alias("rev"))
        .withColumn("__neg", -F.col("rev"))
        .withColumn("__g", F.lit(0))
    )
    path = _tmp_path("abc_parts")
    per_part.write.mode("overwrite").parquet(path)
    per_part = spark.read.parquet(path)
    cum = with_grouped_running_sum(
        per_part, ["__g"], ["__neg", "l_partkey"], "rev", out_col="__cum"
    )
    total = per_part.agg(
        F.sum(F.col("rev").cast("decimal(38,0)")).alias("__total")
    )
    classed = cum.crossJoin(F.broadcast(total)).select(
        "rev",
        F.when(
            F.col("__cum").cast("decimal(38,0)") * 100
            <= F.col("__total") * 80,
            "A",
        )
        .when(
            F.col("__cum").cast("decimal(38,0)") * 100
            <= F.col("__total") * 95,
            "B",
        )
        .otherwise("C")
        .alias("abc_class"),
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum(F.col("rev").cast("decimal(38,0)"))
            .cast("long")
            .alias("class_revenue_cents"),
        )
        .orderBy("abc_class")
    )


def q_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth — the first derivative every
    reporting surface publishes. ONE fact scan to exact monthly cents
    (month-domain-sized relation, so the lag window is a ~100-row sort,
    not the un-partitioned-window trap); growth is one IEEE division of
    exact integers; the first month's ratio is NULL on both engines."""
    orders = _t(spark, sf_dir, "orders")
    monthly = (
        orders.select(
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("month")
        .agg(F.sum("cents").alias("rev_cents"))
    )
    w = Window.orderBy("month")
    return (
        monthly.withColumn("prev_cents", F.lag("rev_cents").over(w))
        .select(
            "month",
            "rev_cents",
            "prev_cents",
            (
                (F.col("rev_cents") - F.col("prev_cents")).cast("double")
                / F.col("prev_cents").cast("double")
            ).alias("mom_ratio"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# round 8: curation / corpus-assembly additions
# ---------------------------------------------------------------------------


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Novel-shingle share per document in doc_id (= ingestion) order —
    the corpus-redundancy growth curve dedup teams watch: a shingle is
    NOVEL in the first document (min doc_id) that contains it, and a
    crawl whose late documents contribute few novel shingles has gone
    stale. Shape: tokens materialize once (shingles_of contract),
    shingles hash to longs via the cross-engine md5 hash32 (strings
    never shuffle; identical collisions both engines), ONE group-by
    shingle for the first-seen owner, one join back, per-doc counts +
    a single IEEE division."""
    from .functions.text import hash32, shingles_of, tokens

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens(F.col("text")).alias("__toks"))
    sh = (
        toks.select(
            "doc_id", F.explode(shingles_of(F.col("__toks"))).alias("__s")
        )
        .select("doc_id", hash32(F.col("__s")).alias("h"))
        .distinct()
    )
    path = _tmp_path("novelty_shingles")
    sh.write.mode("overwrite").parquet(path)
    sh = spark.read.parquet(path)
    first = sh.groupBy("h").agg(F.min("doc_id").alias("__first_doc"))
    per_doc = (
        sh.join(first, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(
                F.when(F.col("__first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_novel"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_novel",
        (
            F.col("n_novel").cast("double")
            / F.col("n_shingles").cast("double")
        ).alias("novelty_share"),
    ).orderBy("doc_id")


def q_vocab_overlap_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources — the domain-shift
    readout behind mixture design (two sources with near-disjoint
    vocabularies need separate curation thresholds). Distinct
    (source, token-hash) incidence builds once (strings hash to longs,
    cross-engine md5); the pair space is |sources|^2 over per-source
    DISTINCT vocabularies, never document-sized; Jaccard is exact
    integer counts + one division."""
    from .functions.text import hash32, tokens

    docs = _t(spark, sf_dir, "documents")
    voc = (
        docs.select("source", F.explode(tokens(F.col("text"))).alias("__t"))
        .select("source", hash32(F.col("__t")).alias("h"))
        .distinct()
    )
    path = _tmp_path("vocab_sources")
    voc.write.mode("overwrite").parquet(path)
    voc = spark.read.parquet(path)
    sizes = voc.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = voc.select(F.col("source").alias("source_a"), "h")
    b = voc.select(F.col("source").alias("source_b"), "h")
    inter = (
        a.join(b, "h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    return (
        inter.join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("source_a"), F.col("n").alias("n_a")
                )
            ),
            "source_a",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("source_b"), F.col("n").alias("n_b")
                )
            ),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast(
                    "double"
                )
            ).alias("vocab_jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


def q_rag_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunk plan with overlap (size 64 tokens, stride
    48 — 16-token overlap): the RAG/embedding chunking manifest, emitted
    as pure integer boundaries BEFORE any text materializes — the
    fan-out stage that feeds an embed/index pipeline. One map-only pass
    (token count per doc, sequence-explode of chunk starts); every
    column is exact integer arithmetic, so the whole plan hash-checks."""
    from .functions.text import token_count

    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    ).filter(F.col("n_tokens") >= 1)
    starts = base.select(
        "doc_id",
        "n_tokens",
        F.explode(
            F.sequence(F.lit(0), F.col("n_tokens") - 1, F.lit(48))
        ).alias("tok_start"),
    )
    return starts.select(
        "doc_id",
        (F.col("tok_start") / 48).cast("long").alias("chunk_id"),
        F.col("tok_start").cast("long").alias("tok_start"),
        F.least(F.col("tok_start") + 64, F.col("n_tokens"))
        .cast("long")
        .alias("tok_end"),
        (
            F.least(F.col("tok_start") + 64, F.col("n_tokens"))
            - F.col("tok_start")
        )
        .cast("long")
        .alias("chunk_tokens"),
        (
            F.least(F.col("tok_start") + 64, F.col("n_tokens"))
            == F.col("n_tokens")
        ).alias("is_last"),
    ).orderBy("doc_id", "chunk_id")


def q_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k deterministic corpus sample (k=100): rank every document
    by its md5 hash (content-independent, layout/run-reproducible —
    what rand() reservoir sampling cannot promise) and keep the k
    smallest. The rank rides the two-phase range machinery, so no
    single reducer ever sorts the corpus — the distributed 'reservoir'
    done right; downstream eval sets cite (doc_id, sample_rank)."""
    from .functions.text import hash32
    from .operators.relational import with_global_row_number

    docs = _t(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id", "source", hash32(F.col("doc_id").cast("string")).alias("__h")
    )
    ranked = with_global_row_number(
        hashed, ["__h", "doc_id"], rn_col="__rn"
    )
    return (
        ranked.filter(F.col("__rn") <= 100)
        .select(
            "doc_id", "source", F.col("__rn").cast("long").alias("sample_rank")
        )
        .orderBy("sample_rank")
    )


def q_multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact binary-payload dedup over the media table: content digests
    come through the Arrow mapInPandas path (multimodal/binary), groups
    form on the 32-byte digest (payloads never shuffle — the
    digest-not-text discipline of q_dedup_exact applied to media), and
    each group's canonical copy is its min media_id. The oracle
    recomputes sha256 in SQL, so the Python-worker plumbing AND the
    dedup decision hash-check together."""
    from .multimodal.binary import extract_features

    feats = extract_features(_media_table(spark, sf_dir)).select(
        "media_id", "content_digest"
    )
    w = Window.partitionBy("content_digest")
    return (
        feats.withColumn(
            "group_size", F.count(F.lit(1)).over(w).cast("long")
        )
        .withColumn(
            "is_canonical",
            F.col("media_id") == F.min("media_id").over(w),
        )
        .select("media_id", "content_digest", "group_size", "is_canonical")
        .orderBy("media_id")
    )


def q_dup_cluster_size_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram of the near-dup clustering — the dedup
    quality readout reviewers ask for first (a giant cluster means the
    threshold collapsed the corpus; all-singletons means it is too
    strict). Reuses the full LSH -> connected-components pipeline and
    aggregates (size, n_clusters); the DuckDB twin wraps the same
    recursive-CTE closure oracle that verifies q_dedup_clusters."""
    from .operators.components import dedup_clusters
    from .operators.dedup import minhash_near_duplicates

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        docs = _t(spark, sf_dir, "documents")
        pairs = minhash_near_duplicates(docs, "doc_id", "text", threshold=0.5)
        labeled = dedup_clusters(pairs, docs, "doc_id")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    sizes = labeled.groupBy("cluster_rep").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
        .orderBy("cluster_size")
    )


# ---------------------------------------------------------------------------
# round 8: relational / temporal scenarios
# ---------------------------------------------------------------------------


def q_fifo_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO queue matching: per user, the k-th purchase pairs with the
    k-th view (rank equi-join — the set-based formulation of 'consume
    the queue in order', no per-row loop, no state machine). The signed
    lag between the paired events is the queue wait. Shape: two
    user-partitioned rank windows (high-cardinality key, distributes)
    + one (user, k) equi-join; integer epoch arithmetic end to end."""
    from .functions.timeutil import epoch_seconds

    ev = _events(spark, sf_dir)
    base = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.floor(epoch_seconds(F.col("ts"))).cast("long").alias("ep"),
    )
    w = Window.partitionBy("user_id").orderBy("ep", "event_id")
    views = (
        base.filter(F.col("event_type") == "view")
        .withColumn("k", F.row_number().over(w))
        .select("user_id", "k", F.col("ep").alias("view_ep"))
    )
    purchases = (
        base.filter(F.col("event_type") == "purchase")
        .withColumn("k", F.row_number().over(w))
        .select("user_id", "k", F.col("ep").alias("purchase_ep"))
    )
    matched = purchases.join(views, ["user_id", "k"])
    return (
        matched.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_matched"),
            F.sum(F.col("purchase_ep") - F.col("view_ep"))
            .cast("long")
            .alias("total_wait_seconds"),
        )
        .select(
            "user_id",
            "n_matched",
            "total_wait_seconds",
            (
                F.col("total_wait_seconds").cast("double")
                / F.col("n_matched").cast("double")
            ).alias("mean_wait_seconds"),
        )
        .orderBy("user_id")
    )


def q_null_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-key skew handling for outer joins — THE production join
    pathology: 20% of facts carry a NULL dimension key (unattributed
    orders), and a plain outer join ships every one of them through the
    shuffle to hash to the same reducer-side null bucket. The engine
    splits the nulls off BEFORE the exchange (they can never match —
    SQL null-equality), joins only keyed rows, and unions the null
    stripe back — the null-segregation rewrite. Result is
    hash-identical to the naive left join the oracle runs."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    facts = orders.select(
        "o_orderkey",
        F.when(F.col("o_custkey") % 5 == 0, None)
        .otherwise(F.col("o_custkey"))
        .alias("cust_key"),
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    keyed = facts.filter(F.col("cust_key").isNotNull()).join(
        cust, F.col("cust_key") == F.col("c_custkey"), "left"
    )
    nulls = facts.filter(F.col("cust_key").isNull()).select(
        "o_orderkey",
        "cust_key",
        "cents",
        F.lit(None).cast("long").alias("c_custkey"),
        F.lit(None).cast("string").alias("c_mktsegment"),
    )
    return (
        keyed.select(
            "o_orderkey", "cust_key", "cents", "c_custkey", "c_mktsegment"
        )
        .unionByName(nulls)
        .select(
            "o_orderkey",
            "cents",
            F.col("c_mktsegment").alias("segment"),
            F.col("c_mktsegment").isNotNull().alias("attributed"),
        )
        .orderBy("o_orderkey")
    )


def q_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-CONSTRAINED funnel: first view -> first click within 1 hour
    of it -> first purchase within 24 hours of that click, per user —
    the windowed variant q_funnel_steps cannot express (its stages have
    no deadline, so stale conversions inflate every step). Three
    per-user conditional aggregates chained by bounded joins; integer
    epoch arithmetic; the readout is stage counts + two IEEE ratios."""
    from .functions.timeutil import epoch_seconds

    ev = _events(spark, sf_dir)
    base = ev.select(
        "user_id",
        "event_type",
        F.floor(epoch_seconds(F.col("ts"))).cast("long").alias("ep"),
    )
    fv = (
        base.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ep").alias("view_ep"))
    )
    fc = (
        base.filter(F.col("event_type") == "click")
        .join(fv, "user_id")
        .filter(
            (F.col("ep") >= F.col("view_ep"))
            & (F.col("ep") <= F.col("view_ep") + 3600)
        )
        .groupBy("user_id")
        .agg(F.min("ep").alias("click_ep"))
    )
    fp = (
        base.filter(F.col("event_type") == "purchase")
        .join(fc, "user_id")
        .filter(
            (F.col("ep") >= F.col("click_ep"))
            & (F.col("ep") <= F.col("click_ep") + 86400)
        )
        .groupBy("user_id")
        .agg(F.min("ep").alias("purchase_ep"))
    )
    agg = (
        fv.join(fc, "user_id", "left")
        .join(fp, "user_id", "left")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_viewed"),
            F.count("click_ep").cast("long").alias("n_clicked_1h"),
            F.count("purchase_ep").cast("long").alias("n_purchased_24h"),
        )
    )
    return agg.select(
        "n_viewed",
        "n_clicked_1h",
        "n_purchased_24h",
        (
            F.col("n_clicked_1h").cast("double")
            / F.col("n_viewed").cast("double")
        ).alias("click_rate"),
        (
            F.col("n_purchased_24h").cast("double")
            / F.col("n_viewed").cast("double")
        ).alias("conversion_rate"),
    )


def q_late_arriving_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arriving dimension scenario: facts land before 20% of their
    customer rows exist; unresolved keys take the -1 placeholder nation
    (the inferred-member pattern), and when the dim batch arrives only
    the PLACEHOLDER rows re-join — never the resolved majority. Final
    state is closed-form (every key eventually resolves), so the oracle
    is the plain join with a repair-flag; the Spark side actually runs
    the two-pass flow, proving repair touches the placeholder stripe
    only."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    facts = orders.select(
        "o_orderkey",
        "o_custkey",
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    dim_b1 = cust.filter(F.col("c_custkey") % 5 != 0)
    dim_b2 = cust.filter(F.col("c_custkey") % 5 == 0)
    pass1 = facts.join(
        dim_b1, F.col("o_custkey") == F.col("c_custkey"), "left"
    ).select(
        "o_orderkey",
        "o_custkey",
        "cents",
        F.coalesce(F.col("c_nationkey").cast("long"), F.lit(-1)).alias(
            "nationkey"
        ),
    )
    resolved = pass1.filter(F.col("nationkey") != -1).withColumn(
        "late_resolved", F.lit(False)
    )
    repaired = (
        pass1.filter(F.col("nationkey") == -1)
        .drop("nationkey")
        .join(dim_b2, F.col("o_custkey") == F.col("c_custkey"), "left")
        .select(
            "o_orderkey",
            "o_custkey",
            "cents",
            F.coalesce(F.col("c_nationkey").cast("long"), F.lit(-1)).alias(
                "nationkey"
            ),
            F.lit(True).alias("late_resolved"),
        )
    )
    return (
        resolved.unionByName(repaired)
        .groupBy("nationkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.col("cents").cast("decimal(38,0)"))
            .cast("long")
            .alias("revenue_cents"),
            F.sum(F.when(F.col("late_resolved"), 1).otherwise(0))
            .cast("long")
            .alias("n_late_resolved"),
        )
        .orderBy("nationkey")
    )


def q_cumulative_distinct_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users to date, per day — the corpus/user growth curve.
    The naive form (COUNT(DISTINCT) over an expanding window) rescans
    history per day; the first-seen identity makes it ONE scan: a user
    counts on exactly their first day, so users-to-date = running sum
    of new-user counts over the DAY-DOMAIN relation (the q_ks_test
    window class — calendar-sized, never fact-sized)."""
    ev = _events(spark, sf_dir)
    firsts = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    per_day = firsts.groupBy("first_day").agg(
        F.count(F.lit(1)).cast("long").alias("n_new_users")
    )
    w = Window.orderBy("first_day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_day.select(
        F.date_format("first_day", "yyyy-MM-dd").alias("day"),
        "n_new_users",
        F.sum("n_new_users").over(w).cast("long").alias("users_to_date"),
    ).orderBy("day")


def q_decile_transition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer value-quintile migration between the first and second
    half of the order history — the churn/upsell matrix: where did Q5
    customers of H1 land in H2? Halves split at the integer midpoint
    day (scalar broadcast); customers active in BOTH halves rank into
    quintiles per half via the two-phase range rank (integer bucket
    arithmetic, no ntile, no global sort); the readout is the 5x5
    transition count grid."""
    from .operators.relational import with_global_row_number

    orders = _t(spark, sf_dir, "orders")
    base = orders.select(
        "o_custkey",
        F.to_date("o_orderdate").alias("d"),
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    bounds = base.agg(
        F.min("d").alias("__mn"), F.max("d").alias("__mx")
    ).select(
        F.date_add(
            F.col("__mn"),
            (F.datediff(F.col("__mx"), F.col("__mn")) / 2).cast("int"),
        ).alias("__mid")
    )
    halves = (
        base.crossJoin(F.broadcast(bounds))
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.when(F.col("d") <= F.col("__mid"), F.col("cents")).otherwise(
                    0
                )
            ).alias("h1_cents"),
            F.sum(
                F.when(F.col("d") > F.col("__mid"), F.col("cents")).otherwise(0)
            ).alias("h2_cents"),
            F.sum(F.when(F.col("d") <= F.col("__mid"), 1).otherwise(0)).alias(
                "n1"
            ),
            F.sum(F.when(F.col("d") > F.col("__mid"), 1).otherwise(0)).alias(
                "n2"
            ),
        )
        .filter((F.col("n1") > 0) & (F.col("n2") > 0))
        .select("o_custkey", "h1_cents", "h2_cents")
    )
    path = _tmp_path("decile_halves")
    halves.write.mode("overwrite").parquet(path)
    halves = spark.read.parquet(path)
    ranked = with_global_row_number(
        halves, ["h1_cents", "o_custkey"], rn_col="__r1", n_col="__n"
    )
    ranked = with_global_row_number(
        ranked, ["h2_cents", "o_custkey"], rn_col="__r2"
    )
    q1 = (F.expr("(5 * (__r1 - 1)) div __n") + 1).cast("long")
    q2 = (F.expr("(5 * (__r2 - 1)) div __n") + 1).cast("long")
    return (
        ranked.select(q1.alias("q_h1"), q2.alias("q_h2"))
        .groupBy("q_h1", "q_h2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
        .orderBy("q_h1", "q_h2")
    )


# ---------------------------------------------------------------------------
# round 8 batch 2: skew / histograms / embedding QA / rolling trend
# ---------------------------------------------------------------------------


def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics for events.user_id — the profile a
    shuffle planner consults before choosing salting/AQE-skew-split:
    per-key frequencies bucketed into power-of-two bands (bucket =
    bit length of the count — ``length(bin(f))``, pure integer, no
    libm log2), with key counts, event mass, max frequency, and each
    band's share of total events. Two tiny aggregates after the one
    fact scan; output is ~64 rows at any scale."""
    ev = _events(spark, sf_dir)
    freq = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("f")
    )
    per_bucket = (
        freq.withColumn("bucket", F.length(F.bin(F.col("f"))).cast("long"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum("f").cast("long").alias("bucket_events"),
            F.max("f").cast("long").alias("max_freq"),
        )
    )
    w = Window.partitionBy()
    return per_bucket.select(
        "bucket",
        "n_keys",
        "bucket_events",
        "max_freq",
        (
            F.col("bucket_events").cast("double")
            / F.sum("bucket_events").over(w).cast("double")
        ).alias("events_share"),
    ).orderBy("bucket")


def q_doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length distribution per source in power-of-two buckets
    (bit-length trick again — no float log) — the length profile behind
    truncation/packing budgets and the first thing a curation report
    plots. Map-only token counts, one combine-able aggregate,
    sources x ~20 buckets output at any corpus size."""
    from .functions.text import token_count

    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "source", token_count(F.col("text")).alias("n_tokens")
    )
    return (
        base.withColumn(
            "bucket", F.length(F.bin(F.col("n_tokens"))).cast("long")
        )
        .groupBy("source", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("n_tokens").cast("long").alias("min_tokens"),
            F.max("n_tokens").cast("long").alias("max_tokens"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
        .orderBy("source", "bucket")
    )


def q_embedding_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm profile of the embedding corpus — the vector
    QA gate (norm collapse / explosion detection before any index is
    built). Norms come from the bit-reproducible left-fold dot
    (functions/vectors — the q_cosine_topk precedent), integerize to
    micro-units, and the per-label moments ride exact decimal power
    sums with the mean/std as mirrored IEEE ops."""
    from .functions import vectors as V

    emb = _t(spark, sf_dir, "embeddings")
    inorm = (
        emb.select(
            "label",
            F.floor(
                V.norm(F.col("embedding")) * F.lit(1e6) + F.lit(0.5)
            )
            .cast("long")
            .alias("nm"),
        )
    )
    dec = F.col("nm").cast("decimal(38,0)")
    agg = inorm.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec).alias("sx"),
        F.sum(dec * F.col("nm")).alias("sxx"),
        F.min("nm").cast("long").alias("min_norm_micro"),
        F.max("nm").cast("long").alias("max_norm_micro"),
    )
    return agg.select(
        F.col("label").cast("long").alias("label"),
        "n",
        (F.col("sx").cast("double") / F.col("n").cast("double")).alias(
            "mean_norm_micro"
        ),
        (
            F.sqrt(
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                .cast("double")
            )
            / F.col("n").cast("double")
        ).alias("std_norm_micro"),
        "min_norm_micro",
        "max_norm_micro",
    ).orderBy("label")


def q_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """28-day rolling OLS slope of daily revenue on the day index — the
    local trend detector behind 'is this series turning'. The frame
    sums are window power sums over the DAY-DOMAIN series (calendar-
    sized; the q_ks_test window class), all exact integers cast to
    decimal before the composite products; slope emits only where the
    frame has >= 2 distinct days."""
    orders = _t(spark, sf_dir, "orders")
    daily = (
        orders.select(
            F.to_date("o_orderdate").alias("d"),
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("d")
        .agg(F.sum("cents").alias("x"))
    )
    mind = daily.agg(F.min("d").alias("__mind"))
    base = daily.crossJoin(F.broadcast(mind)).select(
        "d",
        "x",
        F.datediff(F.col("d"), F.col("__mind")).cast("long").alias("t"),
    )
    w = Window.orderBy("t").rowsBetween(-27, Window.currentRow)
    dec = lambda c: F.sum(F.col(c).cast("decimal(38,0)")).over(w)  # noqa: E731
    framed = base.select(
        "d",
        "x",
        F.count(F.lit(1)).over(w).cast("long").alias("n_frame"),
        dec("t").alias("st"),
        dec("x").alias("sx"),
        F.sum((F.col("t") * F.col("t")).cast("decimal(38,0)")).over(w).alias(
            "stt"
        ),
        F.sum((F.col("t") * F.col("x")).cast("decimal(38,0)")).over(w).alias(
            "stx"
        ),
    )
    num = F.col("n_frame") * F.col("stx") - F.col("st") * F.col("sx")
    den = F.col("n_frame") * F.col("stt") - F.col("st") * F.col("st")
    return framed.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("x").alias("rev_cents"),
        "n_frame",
        F.when(
            (F.col("n_frame") >= 2) & (den != 0),
            num.cast("double") / den.cast("double"),
        ).alias("slope_cents_per_day"),
    ).orderBy("day")


def q_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday seasonality strength of the daily revenue series: eta² =
    SSB/SST of the ISO-weekday grouping — 'how much of daily variance
    is explained by day-of-week', the statistic that justifies (or
    kills) q_seasonal_naive_mape's weekly model. q_anova_f's fixed-
    order pivot discipline over the 7 weekday cohorts of the DAY-DOMAIN
    series; exact integer group sums, varchar-routed wide casts, fixed
    double chains."""
    orders = _t(spark, sf_dir, "orders")
    daily = (
        orders.select(
            F.to_date("o_orderdate").alias("d"),
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("d")
        .agg(F.sum("cents").alias("x"))
        .select(
            F.dayofweek(F.col("d")).alias("__dow_sun1"),
            "x",
        )
        .select(
            # ISO weekday 1..7 (Mon..Sun) from Spark's Sunday-1 dayofweek
            F.when(F.col("__dow_sun1") == 1, 7)
            .otherwise(F.col("__dow_sun1") - 1)
            .alias("wd"),
            "x",
        )
    )
    dec = F.col("x").cast("decimal(38,0)")
    g = daily.groupBy("wd").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum(dec).cast("double").alias("s_g"),
        F.sum(dec * F.col("x")).cast("double").alias("ss_g"),
    )
    one = g.agg(
        *[
            F.max(F.when(F.col("wd") == i, F.col(c))).alias(f"{c}_{i}")
            for i in range(1, 8)
            for c in ("n_g", "s_g", "ss_g")
        ]
    )
    n = [F.col(f"n_g_{i}") for i in range(1, 8)]
    s = [F.col(f"s_g_{i}") for i in range(1, 8)]
    ss = [F.col(f"ss_g_{i}") for i in range(1, 8)]
    n_total = n[0] + n[1] + n[2] + n[3] + n[4] + n[5] + n[6]
    nd = n_total.cast("double")
    s_tot = s[0] + s[1] + s[2] + s[3] + s[4] + s[5] + s[6]
    ss_tot = ss[0] + ss[1] + ss[2] + ss[3] + ss[4] + ss[5] + ss[6]
    t_sum = (
        (s[0] * s[0] / n[0].cast("double"))
        + (s[1] * s[1] / n[1].cast("double"))
        + (s[2] * s[2] / n[2].cast("double"))
        + (s[3] * s[3] / n[3].cast("double"))
        + (s[4] * s[4] / n[4].cast("double"))
        + (s[5] * s[5] / n[5].cast("double"))
        + (s[6] * s[6] / n[6].cast("double"))
    )
    ssb = t_sum - s_tot * s_tot / nd
    sst = ss_tot - s_tot * s_tot / nd
    return one.select(
        n_total.cast("long").alias("n_days"),
        ssb.alias("ssb"),
        sst.alias("sst"),
        (ssb / sst).alias("eta2_weekday"),
    )


# ---------------------------------------------------------------------------
# round 8: LSH parameter sweep + streaming CDC apply
# ---------------------------------------------------------------------------


def q_lsh_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding parameter sweep: the SAME 8-wide signature artifact
    banded three ways — (2 bands x 4 rows), (4 x 2), (8 x 1) — with
    candidate volume and verified precision (true Jaccard >= 0.5) per
    configuration. This is the measurement behind choosing (b, r): more
    bands = higher recall = more candidates to verify; the sweep makes
    the trade a TABLE instead of folklore. Signatures materialize ONCE
    (the artifact pattern); ONE banding join + ONE verify over the
    widest config's candidates feed all three rows — the narrower
    configs' memberships are signature expressions (r15, see below)."""
    from functools import reduce

    from .operators.dedup import (
        hashed_shingle_sets,
        jaccard_pairs,
        lsh_candidate_pairs,
        materialized_signatures,
    )

    docs = _t(spark, sf_dir, "documents")
    sigs = materialized_signatures(
        docs, "doc_id", "text", _tmp_path("band_sweep_sigs")
    )
    # the verification-side shingle sets ALSO materialize once: three
    # configs re-reference them, and each re-reference would re-run
    # tokenize->shingle->hash over the corpus (measured ~1/3 of the
    # sweep's wall clock at sf0.1)
    sets_path = _tmp_path("band_sweep_sets")
    hashed_shingle_sets(docs, "doc_id", "text").write.mode(
        "overwrite"
    ).parquet(sets_path)
    sets = spark.read.parquet(sets_path)
    # verify ONCE, tag per-config membership with signature flags (r15):
    # with aligned band boundaries the candidate sets NEST — a pair
    # agreeing on a 4-row band agrees on both its 2-row halves, so
    # C(2x4) ⊆ C(4x2) ⊆ C(8x1) — hence Jaccard needs computing only
    # over the widest config's candidates, and each narrower config's
    # membership is a pure EXPRESSION over the pair's two signatures
    # (all rows of any of its bands equal). The old loop ran three
    # banding self-joins and three shingle-set verify joins (shuffling
    # the set ARRAYS by pair endpoint per config); now ONE banding
    # join + ONE verify + two narrow 8-long signature joins feed a
    # single aggregate that emits all six counts, reshaped to the same
    # three rows (guide §2.3/§2.4: shuffle the payload once, reattach
    # decisions by expression). Candidate counts and per-pair jaccard
    # are identical — equivalence pinned in tests/test_round15.py; the
    # DuckDB twin still recomputes every config independently.
    cands8 = lsh_candidate_pairs(sigs, "doc_id", k=8, bands=8)
    ver8 = jaccard_pairs(docs, cands8, "doc_id", "text", sets=sets)
    sig_a = sigs.select(
        F.col("doc_id").alias("a"),
        *[F.col(f"mh{i}").alias(f"__a{i}") for i in range(8)],
    )
    sig_b = sigs.select(
        F.col("doc_id").alias("b"),
        *[F.col(f"mh{i}").alias(f"__b{i}") for i in range(8)],
    )

    # per-column == is NULL-propagating: this relies on minhash_signatures
    # never emitting a NULL mh column (shingle-less docs get no row)
    def _band_agree(start: int, width: int):
        eqs = [
            F.col(f"__a{i}") == F.col(f"__b{i}")
            for i in range(start, start + width)
        ]
        return reduce(lambda x, y: x & y, eqs)

    agree4 = reduce(
        lambda x, y: x | y, [_band_agree(b * 2, 2) for b in range(4)]
    )
    agree2 = reduce(
        lambda x, y: x | y, [_band_agree(b * 4, 4) for b in range(2)]
    )
    flagged = (
        ver8.join(sig_a, "a")
        .join(sig_b, "b")
        .select(
            "jaccard", agree2.alias("__in2"), agree4.alias("__in4")
        )
    )
    true_ = F.col("jaccard") >= 0.5
    counts = flagged.agg(
        F.sum(F.when(F.col("__in2"), 1).otherwise(0)).cast("long").alias("c2"),
        F.sum(F.when(F.col("__in2") & true_, 1).otherwise(0))
        .cast("long").alias("t2"),
        F.sum(F.when(F.col("__in4"), 1).otherwise(0)).cast("long").alias("c4"),
        F.sum(F.when(F.col("__in4") & true_, 1).otherwise(0))
        .cast("long").alias("t4"),
        F.count(F.lit(1)).cast("long").alias("c8"),
        F.sum(F.when(true_, 1).otherwise(0)).cast("long").alias("t8"),
    )
    rows3 = counts.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(2).cast("long").alias("bands"),
                    F.lit(4).cast("long").alias("rows_per_band"),
                    F.col("c2").alias("n_candidates"),
                    F.col("t2").alias("n_true"),
                ),
                F.struct(
                    F.lit(4).cast("long").alias("bands"),
                    F.lit(2).cast("long").alias("rows_per_band"),
                    F.col("c4").alias("n_candidates"),
                    F.col("t4").alias("n_true"),
                ),
                F.struct(
                    F.lit(8).cast("long").alias("bands"),
                    F.lit(1).cast("long").alias("rows_per_band"),
                    F.col("c8").alias("n_candidates"),
                    F.col("t8").alias("n_true"),
                ),
            )
        ).alias("__r")
    ).select(
        "__r.bands",
        "__r.rows_per_band",
        "__r.n_candidates",
        "__r.n_true",
        F.when(
            F.col("__r.n_candidates") > 0,
            F.col("__r.n_true").cast("double")
            / F.col("__r.n_candidates").cast("double"),
        ).alias("candidate_precision"),
    )
    return rows3.orderBy("bands")


def q_streaming_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC APPLY (the q_streaming_bloom check class for
    changelogs): q_cdc_apply's I/U/D changelog arrives as three
    micro-batches; foreachBatch applies each onto a BATCH-ID-VERSIONED
    snapshot state (recomputing v(b) from v(b-1) — idempotent under
    micro-batch replay, the crash-recovery contract). Each key appears
    once in the changelog, so batch boundaries cannot reorder a key's
    ops, and the final state is exactly the batch apply — the readout
    rides q_cdc_apply's DuckDB oracle unchanged."""
    import os
    import shutil

    from .operators.diff import apply_changelog, snapshot_diff

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        orders = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        old = orders.filter(F.col("o_orderkey") < 12000)
        new = orders.filter(F.col("o_orderkey") >= 2000).withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 10 == 0, F.col("o_totalprice") + 1.0
            ).otherwise(F.col("o_totalprice")),
        )
        diff = snapshot_diff(old, new, ["o_orderkey"])
        changelog = diff.filter(F.col("change") != "unchanged").select(
            "o_orderkey",
            F.when(F.col("change") == "inserted", "I")
            .when(F.col("change") == "deleted", "D")
            .otherwise("U")
            .alias("op"),
            F.col("o_orderstatus_new").alias("o_orderstatus"),
            F.col("o_totalprice_new").alias("o_totalprice"),
        )
        stage = _tmp_path("cdc_stage")
        shutil.rmtree(stage, ignore_errors=True)
        for i in range(3):
            changelog.filter(
                F.pmod(F.col("o_orderkey"), 3) == i
            ).coalesce(1).write.mode("append").parquet(stage)
        state_dir = _tmp_path("cdc_state")
        shutil.rmtree(state_dir, ignore_errors=True)
        ckpt = _tmp_path("cdc_ckpt")
        shutil.rmtree(ckpt, ignore_errors=True)
        old_path = _tmp_path("cdc_initial")
        old.write.mode("overwrite").parquet(old_path)

        def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
            prev = os.path.join(state_dir, f"v{batch_id - 1}")
            snap = (
                spark.read.parquet(prev)
                if batch_id > 0 and os.path.exists(prev)
                else spark.read.parquet(old_path)
            )
            out = apply_changelog(
                snap,
                batch_df,
                ["o_orderkey"],
                ["o_orderstatus", "o_totalprice"],
            )
            out.write.mode("overwrite").parquet(
                os.path.join(state_dir, f"v{batch_id}")
            )

        stream = (
            spark.readStream.schema(changelog.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        q = (
            stream.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        last = max(
            int(d[1:]) for d in os.listdir(state_dir) if d.startswith("v")
        )
        return (
            spark.read.parquet(os.path.join(state_dir, f"v{last}"))
            .orderBy("o_orderkey")
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


# ---------------------------------------------------------------------------
# round-8 batch 3: rank/agreement statistics, exact medians, dyadic
# time-series smoothing, graph refinement, MIPS retrieval, adaptive
# curation filters, global-share relational scenarios
# ---------------------------------------------------------------------------


def q_grouped_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group median order value by order priority — the
    rank-selection statistic done WITHOUT ``percentile`` (a
    single-reducer sort per group when the optimizer can't split it) and
    without approximation: the two-phase grouped rank
    (operators/relational.with_grouped_row_number) spreads each
    priority's sort across all reducers, then the median is the 1-2
    middle rows selected by pure (rn, n) arithmetic — ``lo=(n+1) div
    2``, ``hi=n div 2 + 1`` — and one bounded aggregate. Exact at any
    scale: the only rows that survive the rank filter are 2 per group.
    Cents integerize; the even-n midpoint average of two longs is
    .5-exact in double, so the readout hash-checks."""
    from .operators.relational import with_grouped_row_number

    orders = _t(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderpriority",
        "o_orderkey",
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    ranked = with_grouped_row_number(
        base, ["o_orderpriority"], ["cents", "o_orderkey"], rn_col="rn",
        n_col="n",
    )
    mid = ranked.filter(
        (F.col("rn") == F.expr("(n + 1) div 2"))
        | (F.col("rn") == F.expr("n div 2 + 1"))
    )
    return (
        mid.groupBy("o_orderpriority")
        .agg(
            F.max("n").cast("long").alias("n_orders"),
            (
                F.sum("cents").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("median_cents"),
        )
        .orderBy("o_orderpriority")
    )


def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two customer-value raters — the
    account-balance quintile and the realized-revenue quintile — the
    chance-corrected agreement score behind label-quality audits
    (rater A = a prior, rater B = an outcome; kappa near 0 says the
    prior adds nothing). Both quintiles come from the two-phase global
    rank (no single-reducer sort; ``((rn-1)*5) div n``), the confusion
    matrix is one 25-cell aggregate, and kappa reduces to ONE IEEE
    division of exact integers: ``(N·D - S) / (N² - S)`` with D the
    diagonal count and ``S = Σ_k row_k·col_k`` (the ``N·po - N²·pe``
    cross-multiplication, so no float accumulates). All post-rank
    relations are quintile-sized."""
    from .operators.relational import with_global_row_number

    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("ck"),
        F.floor(F.col("c_acctbal") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("ac"),
    )
    rev = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
                .cast("long")
            )
            .cast("long")
            .alias("rev")
        )
    )
    j = cust.join(rev, cust.ck == rev.o_custkey).select("ck", "ac", "rev")
    ra = with_global_row_number(j, ["ac", "ck"], rn_col="ra", n_col="n")
    rb = with_global_row_number(
        ra.select("ck", "rev", "ra", "n"), ["rev", "ck"], rn_col="rb"
    )
    lab = rb.select(
        F.expr("((ra - 1) * 5) div n").alias("qa"),
        F.expr("((rb - 1) * 5) div n").alias("qb"),
    )
    cells = lab.groupBy("qa", "qb").agg(F.count(F.lit(1)).alias("m"))
    tot = cells.agg(
        F.sum("m").cast("long").alias("n_customers"),
        F.sum(F.when(F.col("qa") == F.col("qb"), F.col("m")).otherwise(0))
        .cast("long")
        .alias("diag"),
    )
    rk = cells.groupBy("qa").agg(F.sum("m").alias("rk"))
    ck_ = cells.groupBy("qb").agg(F.sum("m").alias("colk"))
    s = (
        rk.join(ck_, rk.qa == ck_.qb)
        .agg(
            F.sum(F.col("rk").cast("decimal(38,0)") * F.col("colk"))
            .alias("s")
        )
    )
    return (
        tot.crossJoin(F.broadcast(s))
        .select(
            "n_customers",
            "diag",
            (
                (
                    F.col("n_customers").cast("decimal(38,0)") * F.col("diag")
                    - F.col("s")
                ).cast("double")
                / (
                    F.col("n_customers").cast("decimal(38,0)")
                    * F.col("n_customers")
                    - F.col("s")
                ).cast("double")
            ).alias("kappa"),
        )
    )


def q_chi2_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square decomposition of the market-segment × region
    contingency table — the independence diagnostic read CELL BY CELL
    (which segment over-indexes in which region), the form that stays
    hash-checkable: each cell's expected count and chi² term are single
    IEEE divisions of exact integers (``(N·obs - r·c)²`` and ``N·r·c``
    as decimals), where a float chi² TOTAL would depend on summation
    order and is left to the caller. One fact-side aggregate (customer
    scan → 25 cells, map-side combined); nation/region are bounded dims
    and broadcast; the margins come from quintile-sized self-aggregates
    broadcast back onto the cells."""
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    cells = (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("c_mktsegment", "r_name")
        .agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
    )
    rows_m = cells.groupBy("c_mktsegment").agg(F.sum("n_obs").alias("r_tot"))
    cols_m = cells.groupBy("r_name").agg(F.sum("n_obs").alias("c_tot"))
    n_tot = cells.agg(F.sum("n_obs").cast("long").alias("n_total"))
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    return (
        cells.join(F.broadcast(rows_m), "c_mktsegment")
        .join(F.broadcast(cols_m), "r_name")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "c_mktsegment",
            "r_name",
            "n_obs",
            (
                (dec("r_tot") * F.col("c_tot")).cast("double")
                / F.col("n_total").cast("double")
            ).alias("expected"),
            (
                (
                    (dec("n_total") * F.col("n_obs")
                     - dec("r_tot") * F.col("c_tot"))
                    * (dec("n_total") * F.col("n_obs")
                       - dec("r_tot") * F.col("c_tot"))
                ).cast("double")
                / (dec("n_total") * F.col("r_tot") * F.col("c_tot"))
                .cast("double")
            ).alias("chi2_term"),
        )
        .orderBy("c_mktsegment", "r_name")
    )


def q_ewma_dyadic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of daily revenue with
    DYADIC weights (α=1/2, 16-term horizon) — the trend smoother made
    bit-reproducible: weights ``2^(15-i)`` are exact longs, so the
    windowed numerator ``Σ rev_{t-i}·2^(15-i)`` is an exact decimal and
    the EWMA is ONE IEEE division by the (gap-renormalized) weight sum —
    where a float ``ewm`` recursion is unhashable (order- and
    history-dependent). The lag grid is an equi-join, not a range scan:
    each day exploded × a broadcast 16-row lag dimension lands on its
    anchor day by date equality, then anchors semi-join to days that
    exist (calendar gaps renormalize instead of decaying toward 0).
    Day-domain-sized throughout — the calendar, not the fact, bounds
    every post-aggregate relation."""
    orders = _t(spark, sf_dir, "orders")
    daily = (
        orders.select(
            F.to_date("o_orderdate").alias("d"),
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("d")
        .agg(F.sum("cents").alias("rev"))
    )
    lags = spark.createDataFrame(
        [(i, 1 << (15 - i)) for i in range(16)], "i int, w long"
    )
    contrib = daily.crossJoin(F.broadcast(lags)).select(
        F.date_add(F.col("d"), F.col("i")).alias("da"),
        "rev",
        "w",
    )
    anchors = daily.select(F.col("d").alias("da"))
    return (
        contrib.join(anchors, "da")
        .groupBy("da")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            (
                F.sum(F.col("rev").cast("decimal(38,0)") * F.col("w"))
                .cast("double")
                / F.sum("w").cast("double")
            ).alias("ewma_cents"),
        )
        .select(
            F.date_format("da", "yyyy-MM-dd").alias("d"),
            "n_terms",
            "ewma_cents",
        )
        .orderBy("d")
    )


def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily revenue drawdown curve: each day's gap below the
    running-peak revenue, ``(peak - rev) / peak`` — the risk readout
    behind capacity planning and anomaly triage (how far below the
    best-ever day are we, day by day). The running peak is the exact
    two-phase prefix max (operators/relational.with_running_max:
    range-repartition → per-range maxima → broadcast carry-ins), NEVER a
    single-reducer global-sort window; the drawdown is a per-row IEEE
    division of exact cents, so the whole curve hash-checks. Day-domain
    sized after one fact aggregate."""
    from .operators.relational import with_running_max

    orders = _t(spark, sf_dir, "orders")
    daily = (
        orders.select(
            F.to_date("o_orderdate").alias("d"),
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("d")
        .agg(F.sum("cents").alias("rev_cents"))
    )
    peaked = with_running_max(
        daily, ["d"], "rev_cents", out_col="peak_cents", strict=False
    )
    return peaked.select(
        F.date_format("d", "yyyy-MM-dd").alias("d"),
        "rev_cents",
        F.col("peak_cents").cast("long").alias("peak_cents"),
        (
            (F.col("peak_cents") - F.col("rev_cents")).cast("double")
            / F.col("peak_cents").cast("double")
        ).alias("drawdown"),
    ).orderBy("d")


def q_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient of the part co-purchase
    graph (operators/graph.local_clustering) — the node-level
    decomposition of q_triangle_count's one global number, and the
    standard community-structure feature (a part whose co-purchase
    neighbors also co-purchase each other sits inside a basket motif;
    lcc=0 marks a pure hub). Same basket-local edge build as
    q_triangle_count (ONE fact shuffle, megabasket-guarded, no
    incidence self-join) and the same degree-ordered triangle join
    (oriented fan-out O(sqrt(m)) at hubs); the refinement surfaces each
    triangle's corner triple and aggregates a narrow (node) stream.
    ``lcc = 2·T_v / (deg_v·(deg_v-1))`` is per-row IEEE over exact
    integers — the full per-node table hash-checks."""
    from .operators.graph import local_clustering

    li = _t(spark, sf_dir, "lineitem")
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("items"))
        .filter(F.size("items") <= 30)
    )
    items = F.col("items")
    pair_structs = F.flatten(
        F.transform(
            items,
            lambda x, i: F.transform(
                F.slice(items, i + F.lit(2), F.size(items)),
                lambda y: F.struct(x.alias("p1"), y.alias("p2")),
            ),
        )
    )
    edges = (
        baskets.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.p1").alias("p1"), F.col("p.p2").alias("p2"))
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select(F.col("p1").alias("src"), F.col("p2").alias("dst"))
    )
    return local_clustering(edges, "src", "dst").orderBy("node")


def q_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product retrieval (operators/similarity.mips_topk):
    top-10 items per query ranked by the RAW dot product q·x — the
    recommender/reranker scoring problem, which cosine machinery gets
    wrong whenever corpus norms vary (a long vector can win the inner
    product while losing on angle). The operator reduces MIPS to cosine
    search via norm augmentation (append sqrt(M²-‖x‖²) to items, 0 to
    queries — Bachrach et al., RecSys 2014), which at scale drops the
    problem onto the existing IVF cell equi-join; this catalog entry
    runs the 8-cell augmented-IVF path at FULL probe, so the result is
    provably exact (the q_cosine_topk_ivf_exact precedent) and the
    brute-force oracle hash-matches, while the plan already has the
    cell-join shape that n_probe < n_cells exploits at 100 TB. Scores
    are left-fold JVM dots of the original vectors — bit-identical in
    DuckDB."""
    from .operators.similarity import mips_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return mips_topk(
        emb, queries, k=10, n_centroids=8, n_probe=8, n_iters=2
    ).orderBy("query_id", "rank")


def q_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification by neighbor vote: each held-out query vector
    takes the majority label of its 10 nearest corpus neighbors by
    cosine (ties → smaller label id) — the label-propagation /
    weak-supervision primitive over the embedding table. Retrieval is
    the exact broadcast(queries)×corpus JVM-cosine scan
    (operators/similarity.cosine_topk — swap in the IVF artifact path at
    scale unchanged: the vote only consumes (query, neighbor) pairs);
    the vote itself is a |Q|·k-sized count + one deterministic
    row_number pick. Integer votes, integer labels — hash-exact."""
    from .operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    # limit() makes the broadcast query batch structurally bounded
    queries = emb.filter(F.col("vec_id") < 32).limit(32)
    corpus = emb.filter(F.col("vec_id") >= 32)
    nn = cosine_topk(corpus, queries, k=10)
    votes = (
        nn.join(
            emb.select(F.col("vec_id").alias("neighbor_id"), "label"),
            "neighbor_id",
        )
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).cast("long").alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("label")
    )
    return (
        votes.withColumn("pick", F.row_number().over(w))
        .filter(F.col("pick") == 1)
        .select(
            "query_id",
            F.col("label").cast("long").alias("pred_label"),
            "votes",
        )
        .orderBy("query_id")
    )


def q_revenue_share_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts whose revenue exceeds 1.5× the mean part revenue — the
    TPC-H Q11 HAVING-against-a-global-scalar scenario made
    SCALE-INVARIANT (a fixed share threshold empties as the part count
    grows; ``rev > 1.5·total/n_parts`` keeps the same ~1% tail at any
    SF — TPC-H part revenue is tight, max/mean ≈ 1.8). One fact
    aggregate by part, one 1-row scalar aggregate broadcast back, and
    the filter is an EXACT decimal cross-multiplication
    ``2·rev·n_parts > 3·total`` — no float threshold, so engines agree
    on every boundary row. The share column is a per-row IEEE division,
    reported for the readout only."""
    li = _t(spark, sf_dir, "lineitem")
    per_part = (
        li.groupBy("l_partkey")
        .agg(
            F.sum(
                F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5))
                .cast("long")
            )
            .cast("long")
            .alias("rev_cents")
        )
    )
    scal = per_part.agg(
        F.sum(F.col("rev_cents").cast("decimal(38,0)")).alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_parts"),
    )
    return (
        per_part.crossJoin(F.broadcast(scal))
        .filter(
            F.lit(2).cast("decimal(38,0)")
            * F.col("rev_cents")
            * F.col("n_parts")
            > F.lit(3).cast("decimal(38,0)") * F.col("total")
        )
        .select(
            "l_partkey",
            "rev_cents",
            (
                F.col("rev_cents").cast("double")
                / F.col("total").cast("double")
            ).alias("share"),
        )
        .orderBy(F.col("rev_cents").desc(), "l_partkey")
    )


def q_above_brand_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand premium-lineitem census: how many lineitems price above
    their own brand's average — the TPC-H Q17 correlated-average
    scenario as a full-brand readout. Part SCALES with the fact, so the
    part join carries NO build-side hint (plain equi-join on
    ``l_partkey``; AQE broadcasts only when genuinely small); the brand
    aggregate is bounded (25 brands) and IS broadcast back. The
    above-average test is an exact integer cross-multiplication
    ``cents·n_b > s_b`` — no float average is ever compared — and the
    final fractions are per-row IEEE over exact counts."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    priced = li.join(part, li.l_partkey == part.p_partkey).select(
        "p_brand", "cents"
    )
    brand = priced.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n_b"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("s_b"),
    )
    return (
        priced.join(F.broadcast(brand), "p_brand")
        .groupBy("p_brand")
        .agg(
            F.max("n_b").alias("n_total"),
            F.sum(
                F.when(
                    F.col("cents").cast("decimal(38,0)") * F.col("n_b")
                    > F.col("s_b"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_above"),
        )
        .select(
            "p_brand",
            "n_total",
            "n_above",
            (
                F.col("n_above").cast("double")
                / F.col("n_total").cast("double")
            ).alias("above_frac"),
        )
        .orderBy("p_brand")
    )


def q_acf_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function over lags 1..14 in ONE pass — the full
    ACF diagnostic (q_autocorr generalized from two hand-picked lags)
    without 14 separate self-joins: the daily series explodes across a
    broadcast 14-row lag dimension into (anchor-day, lag) contributions,
    ONE date equi-join lands them on their anchors, and ONE aggregate
    grouped by lag accumulates the exact decimal power sums of every
    lag simultaneously. Pearson r per lag is the mirrored
    divide-of-exact-integers tree (the q_linreg scheme). The joined
    relation is |days|×14 — calendar-bounded, independent of fact
    scale."""
    orders = _t(spark, sf_dir, "orders")
    daily = (
        orders.select(
            F.to_date("o_orderdate").alias("d"),
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("d")
        .agg(F.sum("cents").alias("rev"))
    )
    lags = spark.range(1, 15).select(F.col("id").cast("int").alias("lag"))
    shifted = daily.crossJoin(F.broadcast(lags)).select(
        F.date_add(F.col("d"), F.col("lag")).alias("da"),
        F.col("rev").alias("x"),
        "lag",
    )
    anchored = shifted.join(
        daily.select(F.col("d").alias("da"), F.col("rev").alias("y")), "da"
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    agg = anchored.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(dec("x")).alias("sx"),
        F.sum(dec("y")).alias("sy"),
        F.sum(dec("x") * F.col("x")).alias("sxx"),
        F.sum(dec("x") * F.col("y")).alias("sxy"),
        F.sum(dec("y") * F.col("y")).alias("syy"),
    )
    return agg.select(
        F.col("lag").cast("long").alias("lag"),
        "n_pairs",
        (
            (F.col("n_pairs") * F.col("sxy") - F.col("sx") * F.col("sy"))
            .cast("double")
            / (
                F.sqrt(
                    (F.col("n_pairs") * F.col("sxx")
                     - F.col("sx") * F.col("sx")).cast("double")
                )
                * F.sqrt(
                    (F.col("n_pairs") * F.col("syy")
                     - F.col("sy") * F.col("sy")).cast("double")
                )
            )
        ).alias("acf"),
    ).orderBy("lag")


def q_length_band_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive token-length band filter: keep documents inside the
    corpus's own (P5, P95] token-count band — the percentile-adaptive
    length cut real curation pipelines run where fixed thresholds
    (q_gopher_rules) mis-fire across domains with different length
    norms. The percentile is the two-phase global rank (no
    single-reducer sort): rank inclusion is pure integer arithmetic
    ``rn·100 > 5·n AND rn·100 <= 95·n`` — no float quantile value is
    ever compared, so boundary docs agree across engines. The readout
    is the per-source audit (kept/total/band bounds) a curation run
    logs before committing the cut."""
    from .functions import text as TX
    from .operators.relational import with_global_row_number

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", TX.token_count(F.col("text")).alias("tok_n")
    )
    ranked = with_global_row_number(
        docs, ["tok_n", "doc_id"], rn_col="rn", n_col="n"
    )
    flagged = ranked.select(
        "source",
        "tok_n",
        (
            (F.col("rn") * 100 > F.lit(5) * F.col("n"))
            & (F.col("rn") * 100 <= F.lit(95) * F.col("n"))
        ).alias("kept"),
    )
    bounds = flagged.filter("kept").agg(
        F.min("tok_n").cast("long").alias("band_lo"),
        F.max("tok_n").cast("long").alias("band_hi"),
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("kept"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
        )
        .crossJoin(F.broadcast(bounds))
        .select(
            "source",
            "n_docs",
            "n_kept",
            (
                F.col("n_kept").cast("double") / F.col("n_docs").cast("double")
            ).alias("kept_frac"),
            "band_lo",
            "band_hi",
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

#: Every catalog query by name, in registration order: this literal, then
#: the ``QUERIES[...] = ...`` registrations that follow their definitions.
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q_dedup_clusters": q_dedup_clusters,
    "q_leakage_safe_split": q_leakage_safe_split,
    "q_tokenizer_fertility": q_tokenizer_fertility,
    "q_mixture_temperature": q_mixture_temperature,
    "q_dataset_card": q_dataset_card,
    "q_cross_source_dups": q_cross_source_dups,
    "q_equi_depth_histogram": q_equi_depth_histogram,
    "q_sax_symbols": q_sax_symbols,
    "q_join_cardinality_est": q_join_cardinality_est,
    "q_lsh_recall_eval": q_lsh_recall_eval,
    "q_price_index": q_price_index,
    "q_spearman_corr": q_spearman_corr,
    "q_kruskal_wallis": q_kruskal_wallis,
    "q_roc_auc": q_roc_auc,
    "q_kendall_tau_daily": q_kendall_tau_daily,
    "q_herfindahl": q_herfindahl,
    "q_winsorized_mean": q_winsorized_mean,
    "q_abc_pareto": q_abc_pareto,
    "q_mom_growth": q_mom_growth,
    "q_ngram_novelty": q_ngram_novelty,
    "q_vocab_overlap_sources": q_vocab_overlap_sources,
    "q_rag_chunk_overlap": q_rag_chunk_overlap,
    "q_reservoir_sample": q_reservoir_sample,
    "q_multimodal_dedup": q_multimodal_dedup,
    "q_dup_cluster_size_dist": q_dup_cluster_size_dist,
    "q_fifo_match": q_fifo_match,
    "q_null_skew_join": q_null_skew_join,
    "q_funnel_windowed": q_funnel_windowed,
    "q_late_arriving_dim": q_late_arriving_dim,
    "q_cumulative_distinct_daily": q_cumulative_distinct_daily,
    "q_decile_transition": q_decile_transition,
    "q_lsh_band_sweep": q_lsh_band_sweep,
    "q_streaming_cdc_apply": q_streaming_cdc_apply,
    "q_key_skew_profile": q_key_skew_profile,
    "q_doc_length_histogram": q_doc_length_histogram,
    "q_embedding_norm_profile": q_embedding_norm_profile,
    "q_rolling_slope": q_rolling_slope,
    "q_seasonality_strength": q_seasonality_strength,
    "q_autocorr": q_autocorr,
    "q_gini": q_gini,
    "q_ks_test": q_ks_test,
    "q_changepoint": q_changepoint,
    "q_ab_cuped": q_ab_cuped,
    "q_survival_table": q_survival_table,
    "q_linreg": q_linreg,
    "q_linreg_group": q_linreg_group,
    "q_corr_matrix": q_corr_matrix,
    "q_anova_f": q_anova_f,
    "q_target_encode_loo": q_target_encode_loo,
    "q_rfm": q_rfm,
    "q_scd2_asof_lookup": q_scd2_asof_lookup,
    "q_vocab_coverage": q_vocab_coverage,
    "q_degree_distribution": q_degree_distribution,
    "q_event_path_topk": q_event_path_topk,
    "q_prefix_filter_join": q_prefix_filter_join,
    "q_token_budget_fill": q_token_budget_fill,
    "q_mixture_waterfill": q_mixture_waterfill,
    "q_time_weighted_avg": q_time_weighted_avg,
    "q_interval_coalesce": q_interval_coalesce,
    "q_scd3_merge": q_scd3_merge,
    "q_tfidf_cosine_pairs": q_tfidf_cosine_pairs,
    "q_seasonal_naive_mape": q_seasonal_naive_mape,
    "q_logreg_gd": q_logreg_gd,
    "q_k_anonymity": q_k_anonymity,
    "q_streaming_full_interval": q_streaming_full_interval,
    "q_epoch_reshard": q_epoch_reshard,
    "q_date_dim": q_date_dim,
    "q_concurrency_sweep": q_concurrency_sweep,
    "q_kcore": q_kcore,
    "q_hard_negatives": q_hard_negatives,
    "q_negative_samples": q_negative_samples,
    "q_label_centroids": q_label_centroids,
    "q_gdpr_delete": q_gdpr_delete,
    "q_quarantine_split": q_quarantine_split,
    "q_pagerank_exact": q_pagerank_exact,
    "q_split_singleton_agreement": q_split_singleton_agreement,
    "q_incremental_distinct_exact": q_incremental_distinct_exact,
    "q_kfold_assign": q_kfold_assign,
    "q_minhash_containment": q_minhash_containment,
    "q_cosine_topk_ivf_indexed": q_cosine_topk_ivf_indexed,
    "q_cosine_topk_lsh": q_cosine_topk_lsh,
    "q_benford_check": q_benford_check,
    "q_bloom_filter": q_bloom_filter,
    "q_streaming_bloom": q_streaming_bloom,
    "q_cohort_ltv": q_cohort_ltv,
    "q_audience_overlap": q_audience_overlap,
    "q_simhash_eval": q_simhash_eval,
    "q_lorenz_deciles": q_lorenz_deciles,
    "q_order_gaps": q_order_gaps,
    "q_readability": q_readability,
    "q_weekday_decompose": q_weekday_decompose,
    "q_star_join": q_star_join,
    "q_scd1_merge": q_scd1_merge,
    "q_scd2_merge": q_scd2_merge,
    "q_window_tumbling": q_window_tumbling,
    "q_window_session": q_window_session,
    "q_asof_join": q_asof_join,
    "q_dedup_exact": q_dedup_exact,
    "q_dedup_minhash": q_dedup_minhash,
    "q_minhash_lsh_pairs": q_minhash_lsh_pairs,
    "q_cosine_topk": q_cosine_topk,
    "q_decontaminate": q_decontaminate,
    "q_time_travel": q_time_travel,
    "q_surrogate_key_fact": q_surrogate_key_fact,
    "q_orc_roundtrip": q_orc_roundtrip,
    "q_runtime_filter_join": q_runtime_filter_join,
    "q_resample_ffill": q_resample_ffill,
    "q_sessionize": q_sessionize,
    "q_range_join": q_range_join,
    "q_streaming_tumbling": q_streaming_tumbling,
    "q_funnel_steps": q_funnel_steps,
    "q_salted_join": q_salted_join,
    "q_cms_heavy_hitters": q_cms_heavy_hitters,
    "q_outlier_zscore": q_outlier_zscore,
    "q_drift_chi2": q_drift_chi2,
    "q_sample_weighted": q_sample_weighted,
    "q_profile_table_approx": q_profile_table_approx,
    "q_pq_topk": q_pq_topk,
    "q_multimodal_features": q_multimodal_features,
    "q_ntile_cume": q_ntile_cume,
    "q_percentile_rank": q_percentile_rank,
    "q_retention_cohort": q_retention_cohort,
    "q_zorder_layout": q_zorder_layout,
    "q_multimodal_resize": q_multimodal_resize,
    "q_minhash_jaccard_est": q_minhash_jaccard_est,
    "q_gopher_rules": q_gopher_rules,
    "q_domain_cap": q_domain_cap,
    "q_bigram_lift": q_bigram_lift,
    "q_mad_outlier": q_mad_outlier,
    "q_ivfpq_topk": q_ivfpq_topk,
    "q_fuzzy_join": q_fuzzy_join,
    "q_pagerank": q_pagerank,
    "q_rolling_time_window": q_rolling_time_window,
    "q_transition_matrix": q_transition_matrix,
    "q_ab_ttest": q_ab_ttest,
    "q_streaming_anomaly": q_streaming_anomaly,
    "q_unigram_perplexity": q_unigram_perplexity,
    "q_streaming_interval_join": q_streaming_interval_join,
    "q_interpolate_linear": q_interpolate_linear,
    "q_last_touch": q_last_touch,
    "q_table_checksum": q_table_checksum,
    "q_compact_files": q_compact_files,
    "q_bpe_train": q_bpe_train,
    "q_incremental_join": q_incremental_join,
    "q_char_entropy": q_char_entropy,
    "q_bpe_apply": q_bpe_apply,
    "q_streaming_left_interval": q_streaming_left_interval,
    "q_skyline": q_skyline,
    "q_basket_rules": q_basket_rules,
    "q_triangle_count": q_triangle_count,
    "q_hll_incremental_distinct": q_hll_incremental_distinct,
    "q_ohlc_bars": q_ohlc_bars,
    "q_rolling_dau": q_rolling_dau,
    "q_rolling_dau_hll": q_rolling_dau_hll,
    "q_semantic_dedup": q_semantic_dedup,
    "q_bigram_perplexity": q_bigram_perplexity,
    "q_zorder_pruning_stats": q_zorder_pruning_stats,
    "q_streaming_cms_topk": q_streaming_cms_topk,
    "q_cube_distinct_sketch": q_cube_distinct_sketch,
    "q_word_repetition": q_word_repetition,
    "q_tfidf_topk": q_tfidf_topk,
    "q_regex_extract": q_regex_extract,
    "q_bucketed_join": q_bucketed_join,
    "q_bigram_counts": q_bigram_counts,
    "q_string_agg": q_string_agg,
    "q_unpivot": q_unpivot,
    "q_date_arith": q_date_arith,
    "q_try_cast": q_try_cast,
    "q_multimodal_chunks": q_multimodal_chunks,
    "q_pii_redact": q_pii_redact,
    "q_chunk_dedup": q_chunk_dedup,
    "q_streaming_dedup": q_streaming_dedup,
    "q_streaming_enrich": q_streaming_enrich,
    "q_sequence_pack": q_sequence_pack,
    "q_profile_table": q_profile_table,
    "q_incremental_rollup": q_incremental_rollup,
    "q_streaming_sliding": q_streaming_sliding,
    "q_streaming_session": q_streaming_session,
    "q_schema_evolution": q_schema_evolution,
    "q_json_lines_source": q_json_lines_source,
    "q_embed_quantize": q_embed_quantize,
    "q_cdc_apply": q_cdc_apply,
    "q_cosine_topk_ivf": q_cosine_topk_ivf,
    "q_text_model_score": q_text_model_score,
    "q_partitioned_prune": q_partitioned_prune,
    "q_curation_pipeline": q_curation_pipeline,
    "q_surrogate_key": q_surrogate_key,
    "q_window_rank": q_window_rank,
    "q_lag_lead": q_lag_lead,
    "q_window_sliding": q_window_sliding,
    "q_json_extract": q_json_extract,
    "q_data_quality": q_data_quality,
    "q_snapshot_diff": q_snapshot_diff,
    "q_text_tokens": q_text_tokens,
    "q_token_count_bpe": q_token_count_bpe,
    "q_text_term_freq": q_text_term_freq,
    "q_text_quality": q_text_quality,
    "q_lang_id": q_lang_id,
    "q_doc_fingerprint": q_doc_fingerprint,
    "q_doc_fingerprint_rolling": q_doc_fingerprint_rolling,
    "q_split_assign": q_split_assign,
    "q_sample_stratified": q_sample_stratified,
    "q_dedup_keep_best": q_dedup_keep_best,
    "q_dedup_simhash": q_dedup_simhash,
    "q_ngram_jaccard": q_ngram_jaccard,
    "q_embed_neardup": q_embed_neardup,
    "q_multimodal_digest": q_multimodal_digest,
    "q_multimodal_frames": q_multimodal_frames,
    "q_string_funcs": q_string_funcs,
    "q_array_funcs": q_array_funcs,
    "q_null_funcs": q_null_funcs,
    "q_scan_csv": q_scan_csv,
    "q_write_roundtrip": q_write_roundtrip,
    "q_cosine_topk_ivf_exact": q_cosine_topk_ivf_exact,
    "q_incremental_ingest": q_incremental_ingest,
    "q_streaming_running_totals": q_streaming_running_totals,
    "q_scan_parquet": q_scan_parquet,
    "q_sql_over_path": q_sql_over_path,
    "q_project": q_project,
    "q_join_project_disambiguate": q_join_project_disambiguate,
    "q_filter_isnull": q_filter_isnull,
    "q_filter_isnotnull": q_filter_isnotnull,
    "q_empty_relation": q_empty_relation,
    "q_split_getitem": q_split_getitem,
    "q_arith_derive": q_arith_derive,
    "q_left_join_lookup": q_left_join_lookup,
    "q_left_semi": q_left_semi,
    "q_left_anti": q_left_anti,
    "q_star_join_preagg": q_star_join_preagg,
    "q_distinct": q_distinct,
    "q_max_global": q_max_global,
    "q_cast_agg": q_cast_agg,
    "q_union_all": q_union_all,
    "q_filter_join_topk": q_filter_join_topk,
    "q_full_outer_join": q_full_outer_join,
    "q_window_frame": q_window_frame,
    "q_cross_join": q_cross_join,
    "q_argminmax": q_argminmax,
    "q_weighted_avg": q_weighted_avg,
    "q_union_missing_cols": q_union_missing_cols,
    "q_sql_analytics": q_sql_analytics,
    "q_intersect": q_intersect,
    "q_except": q_except,
    "q_in_subquery": q_in_subquery,
    "q_exists_subquery": q_exists_subquery,
    "q_groupby_agg": q_groupby_agg,
    "q_orderby_limit": q_orderby_limit,
    "q_count_distinct": q_count_distinct,
    "q_approx_distinct": q_approx_distinct,
    "q_date_parts": q_date_parts,
    "q_rollup": q_rollup,
    "q_cube": q_cube,
    "q_grouping_sets": q_grouping_sets,
    "q_pivot": q_pivot,
    "q_topk_per_group": q_topk_per_group,
    "q_stats_moments": q_stats_moments,
    "q_approx_percentile": q_approx_percentile,
    "q_null_safe_join": q_null_safe_join,
    "q_histogram": q_histogram,
}

# -- shared DuckDB SQL fragments for the text/dedup oracles ------------------

_DK_TOKENS = "string_split_regex(lower(text), '\\s+')"
_DK_SHINGLES = (
    "list_transform(generate_series(1, greatest(len(w)-2, 0)),"
    " i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])"
)
_DK_HASH32 = "('0x' || substr(md5(s), 1, 8))::bigint"
_DK_STOPLIST = "['" + "','".join(
    ("the", "and", "of", "to", "a", "in", "is", "it", "for", "on", "with", "as")
) + "']"

_DK_MINHASH_SQL = f"""
    with t as (select doc_id, {_DK_TOKENS} as w from documents),
    sh as (select doc_id, unnest({_DK_SHINGLES}) as s from t),
    h as (select doc_id, {_DK_HASH32} as h from sh)
    select doc_id,
           {", ".join(f"min(({a}*h + {b}) % 4294967311) as mh{i}" for i, (a, b) in enumerate([(1000003, 12345), (999331, 67891), (777857, 23456), (650011, 78912), (524287, 34567), (402653, 89123), (301141, 45678), (218971, 91234)]))}
    from h group by doc_id order by doc_id
"""

_DK_SIMHASH_SQL = f"""
    with t as (select doc_id, unnest({_DK_TOKENS}) as s from documents),
    h as (select doc_id, {_DK_HASH32} as h from t),
    b as (select doc_id,
          {", ".join(f"sum(case when (h >> {i}) & 1 = 1 then 1 else -1 end) as s{i}" for i in range(32))}
          from h group by doc_id)
    select doc_id,
           ({" + ".join(f"(case when s{i} > 0 then {2**i} else 0 end)" for i in range(32))})::bigint as simhash
    from b order by doc_id
"""

_DK_COSINE = (
    "list_sum(list_transform(generate_series(1, 64), i -> {a}[i]::double * {b}[i]::double))"
)


def _dk_cosine(a: str, b: str) -> str:
    dot = _DK_COSINE.format(a=a, b=b)
    na = _DK_COSINE.format(a=a, b=a)
    nb = _DK_COSINE.format(a=b, b=b)
    return f"{dot} / (sqrt({na}) * sqrt({nb}))"

#: shared CTE chain: the LSH candidate pipeline -> verified pairs at
#: Jaccard >= 0.5 (the exact pair set q_minhash_lsh_pairs hash-checks)
_DK_LSH_PAIR_CTES = f"""
        sig as ({_DK_MINHASH_SQL}),
        bands as (
            select doc_id, 0 as band_id, mh0 as v0, mh1 as v1 from sig
            union all select doc_id, 1, mh2, mh3 from sig
            union all select doc_id, 2, mh4, mh5 from sig
            union all select doc_id, 3, mh6, mh7 from sig
        ),
        cand as (
            select distinct l.doc_id as a, r.doc_id as b
            from bands l join bands r
              on l.band_id = r.band_id and l.v0 = r.v0 and l.v1 = r.v1
             and l.doc_id < r.doc_id
        ),
        sh as (
            select doc_id, list_distinct({_DK_SHINGLES}) as sh
            from (select doc_id, {_DK_TOKENS} as w from documents)
        ),
        pairs as (
            select a, b from (
                select c.a, c.b,
                       len(list_distinct(list_intersect(sa.sh, sb.sh)))::double
                           / len(list_distinct(sa.sh || sb.sh)) as jaccard
                from cand c
                join sh sa on sa.doc_id = c.a
                join sh sb on sb.doc_id = c.b
            ) where jaccard >= 0.5
        )"""

#: transitive closure over the pair graph -> min-reachable-id component
#: labels (DuckDB recursive CTE; label propagation's fixpoint is exactly
#: the min id reachable, so the iterative Spark result is reproducible)
_DK_COMPONENT_CTES = """
        sym(u, v) as (select a, b from pairs union all select b, a from pairs),
        ns(n) as (select u from sym group by u),
        reach(node, r) as (
            select n, n from ns
            union
            select s.u, reach.r from sym s join reach on reach.node = s.v
        ),
        comp as (select node, min(r) as component from reach group by node),
        lab as (
            select d.doc_id,
                   coalesce(c.component, d.doc_id) as cluster_rep
            from documents d left join comp c on c.node = d.doc_id
        )"""


def _dk_pagerank_exact_sql(n_iters: int = 4, scale: int = 10**12) -> str:
    """Unrolled-CTE twin of operators/graph.pagerank_int: every step is
    bigint arithmetic with DuckDB's truncating ``//``, matching Spark's
    ``div`` — one (s_i, r_i) CTE pair per iteration, no recursion (no
    engine-specific recursive-aggregate restrictions to trip on)."""
    ctes = [
        "pairs as (select distinct l_partkey::bigint * 2 as src,"
        " l_suppkey::bigint * 2 + 1 as dst from lineitem)",
        "e as (select src, dst from pairs"
        " union all select dst as src, src as dst from pairs)",
        # the doubled orientation means every node appears as a src,
        # so deg's key set IS the node set (pagerank_int asserts this)
        "deg as (select src as node, count(*)::bigint as deg"
        " from e group by src)",
        "nodes as (select node from deg)",
        "c as (select count(*)::bigint as n from nodes)",
        f"r0 as (select node, ({scale} // n)::bigint as r from nodes, c)",
    ]
    for i in range(1, n_iters + 1):
        ctes.append(
            f"s{i} as (select e.dst as node, (sum(r.r // d.deg))::bigint as s"
            f" from e join r{i - 1} r on r.node = e.src"
            f" join deg d on d.node = e.src group by e.dst)"
        )
        ctes.append(
            f"r{i} as (select nodes.node,"
            f" ((15 * ({scale} // c.n)) // 100"
            f" + (85 * coalesce(s{i}.s, 0)) // 100)::bigint as r"
            f" from nodes cross join c"
            f" left join s{i} on s{i}.node = nodes.node)"
        )
    return (
        "with " + ",\n".join(ctes) + f"""
        select node,
               case when node % 2 = 0 then 'part' else 'supplier' end
                   as node_type,
               (node // 2)::bigint as entity_id,
               r as rank_scaled
        from r{n_iters}
        order by rank_scaled desc, node
        limit 20
    """
    )


#: DuckDB oracle twins. Omitted keys => driver records rows-only checks.
ORACLES: dict[str, str] = {
    "q_ks_test": """
        with base as (
            select event_type, floor(value * 100)::bigint as bin
            from events where event_type in ('click', 'view')
        ),
        hist as (
            select bin,
                   sum(case when event_type = 'click' then 1 else 0 end)::bigint
                       as nc,
                   sum(case when event_type = 'view' then 1 else 0 end)::bigint
                       as nv
            from base group by bin
        ),
        cum as (
            select sum(nc) over w as cum_c, sum(nv) over w as cum_v
            from hist
            window w as (order by bin
                         rows between unbounded preceding and current row)
        ),
        tot as (
            select sum(nc)::bigint as n_click, sum(nv)::bigint as n_view
            from hist
        ),
        agg as (
            select n_click, n_view,
                   max(abs(cum_c::hugeint * n_view
                           - cum_v::hugeint * n_click))::varchar::double as d_num
            from cum, tot group by n_click, n_view
        )
        select n_click, n_view, d_num,
               d_num / (n_click::double * n_view::double) as ks_d
        from agg
    """,
    "q_gini": """
        with per as (
            select o_custkey,
                   sum(floor(o_totalprice * 100 + 0.5)::bigint)::bigint as rev
            from orders group by o_custkey
        ),
        ranked as (
            select rev,
                   row_number() over (order by rev, o_custkey) as i,
                   count(*) over () as n
            from per
        ),
        agg as (
            select max(n)::bigint as n, sum(rev) as sx,
                   sum(i::hugeint * rev) as six
            from ranked
        )
        select n, sx::varchar::double as total_cents,
               (2 * six - (n + 1) * sx)::varchar::double / (n * sx)::varchar::double as gini
        from agg
    """,
    "q_target_encode_loo": """
        with oc as (
            select o_orderkey, c_nationkey,
                   floor(o_totalprice * 100 + 0.5)::bigint as cents
            from orders join customer on o_custkey = c_custkey
        ),
        nat as (
            select c_nationkey, count(*)::bigint as n_g,
                   sum(cents) as s_g
            from oc group by c_nationkey
        )
        select o_orderkey, oc.c_nationkey::bigint as nationkey,
               (s_g - cents)::double / (n_g - 1)::double as loo_enc_cents
        from oc join nat on oc.c_nationkey = nat.c_nationkey
        where n_g > 1
        order by o_orderkey
    """,
    "q_rfm": """
        with per as (
            select o_custkey, max(o_orderdate::date) as last_d,
                   count(*)::bigint as frequency,
                   sum(floor(o_totalprice * 100 + 0.5)::bigint)::bigint
                       as monetary_cents
            from orders group by o_custkey
        ),
        mx as (select max(last_d) as maxd from per),
        base as (
            select o_custkey,
                   date_diff('day', last_d, maxd)::bigint as recency_days,
                   frequency, monetary_cents
            from per, mx
        ),
        r as (
            select *,
                   row_number() over (order by recency_days, o_custkey) as rr,
                   row_number() over (order by frequency, o_custkey) as fr,
                   row_number() over (order by monetary_cents, o_custkey) as mr,
                   count(*) over () as n
            from base
        ),
        s as (
            select o_custkey, recency_days, frequency, monetary_cents,
                   (6 - ((5 * (rr - 1)) // n + 1))::bigint as r_score,
                   ((5 * (fr - 1)) // n + 1)::bigint as f_score,
                   ((5 * (mr - 1)) // n + 1)::bigint as m_score
            from r
        )
        select o_custkey, recency_days, frequency, monetary_cents,
               r_score, f_score, m_score,
               concat(r_score, f_score, m_score) as segment
        from s order by o_custkey
    """,
    "q_autocorr": """
        with daily as (
            select o_orderdate::date as d,
                   sum(floor(o_totalprice * 100 + 0.5)::bigint)::bigint as rev
            from orders group by 1
        ),
        a1 as (
            select count(*)::bigint as n_pairs,
                   sum(a.rev::hugeint) as sx, sum(b.rev::hugeint) as sy,
                   sum(a.rev::hugeint * a.rev) as sxx,
                   sum(a.rev::hugeint * b.rev) as sxy,
                   sum(b.rev::hugeint * b.rev) as syy
            from daily a join daily b on a.d + 1 = b.d
        ),
        a7 as (
            select count(*)::bigint as n_pairs,
                   sum(a.rev::hugeint) as sx, sum(b.rev::hugeint) as sy,
                   sum(a.rev::hugeint * a.rev) as sxx,
                   sum(a.rev::hugeint * b.rev) as sxy,
                   sum(b.rev::hugeint * b.rev) as syy
            from daily a join daily b on a.d + 7 = b.d
        )
        select 1::bigint as lag, n_pairs,
               (n_pairs * sxy - sx * sy)::varchar::double
                   / (sqrt((n_pairs * sxx - sx * sx)::varchar::double)
                      * sqrt((n_pairs * syy - sy * sy)::varchar::double)) as autocorr
        from a1
        union all
        select 7::bigint as lag, n_pairs,
               (n_pairs * sxy - sx * sy)::varchar::double
                   / (sqrt((n_pairs * sxx - sx * sx)::varchar::double)
                      * sqrt((n_pairs * syy - sy * sy)::varchar::double)) as autocorr
        from a7
        order by lag
    """,
    "q_kfold_assign": """
        select source,
               ('0x' || substr(md5(doc_id::varchar), 1, 8))::bigint % 5
                   as fold,
               count(*)::bigint as n_docs
        from documents
        group by 1, 2
        order by 1, 2
    """,
    "q_minhash_containment": f"""
        with t as (
            select doc_id, source, list_distinct({_DK_SHINGLES}) as sh
            from (select doc_id, source, {_DK_TOKENS} as w from documents)
        )
        select a.doc_id as a, b.doc_id as b,
               case when len(a.sh) > 0 then
                   len(list_distinct(list_intersect(a.sh, b.sh)))::double
                       / len(a.sh) end as containment_ab,
               case when len(b.sh) > 0 then
                   len(list_distinct(list_intersect(a.sh, b.sh)))::double
                       / len(b.sh) end as containment_ba
        from t a join t b
          on a.source = b.source and a.doc_id < b.doc_id
         and b.doc_id - a.doc_id <= 100
        order by a, b
    """,
    "q_pagerank_exact": _dk_pagerank_exact_sql(),
    "q_incremental_distinct_exact": """
        select strftime(date_trunc('week', ts), '%Y-%m-%d') as week,
               count(distinct user_id)::bigint as n_users
        from events
        group by 1
        order by 1
    """,
    "q_split_singleton_agreement": f"""
        with sig as ({_DK_MINHASH_SQL}),
        bands as (
            select doc_id, 0 as band_id, mh0 as v0, mh1 as v1 from sig
            union all select doc_id, 1, mh2, mh3 from sig
            union all select doc_id, 2, mh4, mh5 from sig
            union all select doc_id, 3, mh6, mh7 from sig
        ),
        cand as (
            select distinct l.doc_id as a, r.doc_id as b
            from bands l join bands r
              on l.band_id = r.band_id and l.v0 = r.v0 and l.v1 = r.v1
             and l.doc_id < r.doc_id
        ),
        sh as (
            select doc_id, list_distinct({_DK_SHINGLES}) as sh
            from (select doc_id, {_DK_TOKENS} as w from documents)
        ),
        pairs as (
            select a, b from (
                select c.a, c.b,
                       len(list_distinct(list_intersect(sa.sh, sb.sh)))::double
                           / len(list_distinct(sa.sh || sb.sh)) as jaccard
                from cand c
                join sh sa on sa.doc_id = c.a
                join sh sb on sb.doc_id = c.b
            ) where jaccard >= 0.5
        ),
        members as (
            select a as doc_id from pairs
            union
            select b as doc_id from pairs
        ),
        singles as (
            select d.doc_id,
                   ('0x' || substr(md5(d.doc_id::varchar), 1, 8))::bigint
                       % 1000 as bucket
            from documents d
            where d.doc_id not in (select doc_id from members)
        )
        select doc_id, bucket,
               case when bucket < 900 then 'train'
                    when bucket < 950 then 'val'
                    else 'test' end as split
        from singles
        order by doc_id
    """,
    "q_scan_parquet": "select r_regionkey, r_name from region",
    "q_sql_over_path": "select n_nationkey, n_name, n_regionkey from nation",
    # Roundtrip oracles read the ORIGINAL tables (never the written
    # artifacts — no ordering dependency between the Spark run and the
    # oracle run): the written-then-reread values must equal the source
    # values bit-for-bit or the hash breaks.
    "q_scan_csv": """
        select r_regionkey::bigint as r_regionkey, r_name
        from region order by r_regionkey
    """,
    "q_write_roundtrip": """
        select n_nationkey, n_name, n_regionkey
        from nation order by n_nationkey
    """,
    "q_orc_roundtrip": """
        select s_suppkey, s_name, s_nationkey, s_acctbal
        from supplier order by s_suppkey
    """,
    "q_outlier_zscore": """
        with s as (
            select event_type,
                   count(value) as n,
                   cast(cast(sum(cast(value as decimal(18,6))) as varchar) as double) as sx,
                   cast(cast(sum(cast(value * value as decimal(28,8))) as varchar) as double) as sxx
            from events where value is not null group by event_type
        ),
        st as (
            select event_type, sx / n as mu,
                   sqrt((sxx - sx * sx / n) / (n - 1)) as sigma
            from s
        )
        select e.event_id, e.event_type, e.value,
               (e.value - st.mu) / st.sigma as z
        from events e join st using (event_type)
        where abs(e.value - st.mu) > 2 * st.sigma
        order by e.event_id
    """,
    "q_drift_chi2": """
        with per_type as (
            select event_type,
                   count(*) as n_total,
                   sum(case when ts >= timestamp '2024-01-16 00:00:00'
                       then 1 else 0 end)::bigint as n_late
            from events group by event_type
        ),
        totals as (
            select sum(n_total)::bigint as g_total,
                   sum(n_late)::bigint as g_late
            from per_type
        )
        select event_type, n_total, n_late,
               n_total::double * g_late::double / g_total::double
                   as expected_late,
               (n_late::double - n_total::double * g_late::double / g_total::double)
                 * (n_late::double - n_total::double * g_late::double / g_total::double)
                 / (n_total::double * g_late::double / g_total::double)
                   as chi2_term
        from per_type cross join totals
        order by event_type
    """,
    "q_runtime_filter_join": """
        select o_orderpriority,
               count(*) as n_items,
               sum(l_quantity::decimal(18,6))::varchar::double as sum_qty
        from lineitem join orders on l_orderkey = o_orderkey
        where o_orderpriority = '1-URGENT'
        group by o_orderpriority
    """,
    # SCD1 three-batch scenario (q_scd1_merge): batch0 = keys %10!=0 get
    # dense keys 1..N ordered by business key; batch1 inserts the %10==0
    # keys at HWM+1.. (= count(b0)+row_number); batch2 updates their names
    # in place ('<name> up'), keys retained. The oracle recomputes that
    # final state directly.
    "q_scd1_merge": """
        with b0 as (
            select distinct c_custkey, c_name, c_mktsegment
            from customer where c_custkey % 10 <> 0
        ),
        b1 as (
            select distinct c_custkey, c_name || ' up' as c_name, c_mktsegment
            from customer where c_custkey % 10 = 0
        ),
        k0 as (
            select row_number() over (order by c_custkey) as dim_customer_key,
                   c_custkey, c_name, c_mktsegment
            from b0
        ),
        k1 as (
            select (select count(*) from b0)
                     + row_number() over (order by c_custkey) as dim_customer_key,
                   c_custkey, c_name, c_mktsegment
            from b1
        )
        select dim_customer_key, c_custkey, c_name, c_mktsegment from k0
        union all
        select dim_customer_key, c_custkey, c_name, c_mktsegment from k1
        order by dim_customer_key
    """,
    # SCD2 three-batch scenario (q_scd2_merge): %10!=0 keys inserted
    # 2024-01-01 and never touched (current, far-future valid_to);
    # %10==0 keys inserted 2024-02-01, expired 2024-03-01 by the name
    # change, and re-inserted as the current ' up' version.
    "q_scd2_merge": """
        with base as (select c_custkey, c_name, c_mktsegment from customer)
        select c_custkey, c_name, c_mktsegment,
               '2024-01-01' as valid_from, '9999-12-31' as valid_to,
               true as is_current
        from base where c_custkey % 10 <> 0
        union all
        select c_custkey, c_name, c_mktsegment,
               '2024-02-01', '2024-03-01', false
        from base where c_custkey % 10 = 0
        union all
        select c_custkey, c_name || ' up', c_mktsegment,
               '2024-03-01', '9999-12-31', true
        from base where c_custkey % 10 = 0
        order by c_custkey, valid_from
    """,
    # Fact keys are layout-dependent; the oracle pins the *invariants*:
    # dense (min 1, max N), unique (distinct == rows).
    "q_surrogate_key_fact": """
        select count(*)::bigint as n_rows,
               count(*)::bigint as n_distinct_keys,
               1::bigint as min_key,
               count(*)::bigint as max_key
        from lineitem
    """,
    "q_partitioned_prune": """
        select o_orderkey, o_orderstatus from orders
        where o_orderstatus = 'F' order by o_orderkey
    """,
    "q_project": "select c_custkey, c_name, c_mktsegment from customer",
    "q_join_project_disambiguate": """
        select c.c_custkey, c.c_name, n.n_name
        from customer c left join nation n on c.c_nationkey = n.n_nationkey
    """,
    "q_filter_isnull": """
        select c.c_custkey, c.c_name
        from customer c left join orders o on c.c_custkey = o.o_custkey
        where o.o_orderkey is null
    """,
    "q_filter_isnotnull": """
        select c.c_custkey, o.o_orderkey, o.o_orderstatus
        from customer c left join orders o on c.c_custkey = o.o_custkey
        where o.o_orderkey is not null
    """,
    "q_empty_relation": "select 1 as sk, l_orderkey, l_quantity from lineitem where 1=0",
    "q_split_getitem": """
        select p_partkey,
               split_part(p_name, ' ', 1) as name_head,
               split_part(p_brand, '#', 2) as brand_num
        from part
    """,
    "q_arith_derive": """
        select l_orderkey, l_linenumber,
               l_extendedprice * (1 - l_discount) as net_price,
               l_extendedprice / l_quantity as price_per_unit
        from lineitem
    """,
    "q_left_join_lookup": """
        select o.o_orderkey, o.o_custkey, c.c_name, c.c_nationkey
        from orders o left join customer c on o.o_custkey = c.c_custkey
    """,
    "q_left_semi": """
        select c_custkey, c_name from customer
        where c_custkey in (select o_custkey from orders)
    """,
    "q_left_anti": """
        select c_custkey, c_name from customer
        where c_custkey not in (select o_custkey from orders where o_custkey is not null)
    """,
    "q_star_join_preagg": """
        with per_order as (
            select l_orderkey,
                   sum(cast(l_extendedprice * (1 - l_discount) as decimal(18,6)))
                       as order_rev,
                   count(*) as order_items
            from lineitem group by l_orderkey
        )
        select r.r_name, year(o.o_orderdate) as order_year,
               cast(cast(sum(order_rev) as varchar) as double) as revenue,
               sum(order_items)::bigint as n_items
        from per_order p
        left join orders o   on p.l_orderkey = o.o_orderkey
        left join customer c on o.o_custkey = c.c_custkey
        left join nation n   on c.c_nationkey = n.n_nationkey
        left join region r   on n.n_regionkey = r.r_regionkey
        group by 1, 2 order by 1, 2
    """,
    "q_star_join": """
        select r.r_name, year(o.o_orderdate) as order_year,
               cast(cast(sum(cast(l.l_extendedprice * (1 - l.l_discount) as decimal(18,6))) as varchar) as double) as revenue,
               count(*) as n_items
        from lineitem l
        left join orders o   on l.l_orderkey = o.o_orderkey
        left join customer c on o.o_custkey = c.c_custkey
        left join nation n   on c.c_nationkey = n.n_nationkey
        left join region r   on n.n_regionkey = r.r_regionkey
        group by 1, 2 order by 1, 2
    """,
    "q_distinct": "select distinct c_nationkey, c_mktsegment from customer",
    "q_max_global": "select max(o_totalprice) as max_value from orders",
    "q_cast_agg": "select max(cast(l_quantity as int)) as max_value from lineitem",
    "q_union_all": """
        select o_orderkey, o_orderstatus from orders where o_orderstatus = 'F'
        union all
        select o_orderkey, o_orderstatus from orders where o_orderstatus = 'O'
    """,
    "q_groupby_agg": """
        select l_returnflag, l_linestatus,
               cast(cast(sum(cast(l_quantity as decimal(18,6))) as varchar) as double) as sum_qty,
               cast(cast(sum(cast(l_extendedprice as decimal(18,6))) as varchar) as double) as sum_base_price,
               cast(cast(sum(cast(l_extendedprice * (1 - l_discount) as decimal(18,6))) as varchar) as double) as sum_disc_price,
               cast(cast(sum(cast(l_quantity as decimal(18,6))) as varchar) as double) / count(l_quantity) as avg_qty,
               count(*) as count_order
        from lineitem
        group by l_returnflag, l_linestatus
        order by l_returnflag, l_linestatus
    """,
    "q_orderby_limit": """
        select o_custkey,
               cast(cast(sum(cast(o_totalprice as decimal(18,6))) as varchar) as double) as total_spent,
               count(*) as n_orders
        from orders
        group by o_custkey
        order by total_spent desc, o_custkey
        limit 10
    """,
    "q_count_distinct": """
        select l_returnflag,
               count(distinct l_partkey) as n_parts,
               count(distinct l_suppkey) as n_supps
        from lineitem group by l_returnflag order by l_returnflag
    """,
    "q_date_parts": """
        select o_orderkey,
               year(o_orderdate) as o_year,
               month(o_orderdate) as o_month,
               day(o_orderdate) as o_day,
               strftime(o_orderdate, '%Y-%m-%d') as o_date_str
        from orders
    """,
    "q_filter_join_topk": """
        select l_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') as orderdate,
               o_orderpriority,
               cast(cast(sum(cast(l_extendedprice * (1 - l_discount)
                    as decimal(18,6))) as varchar) as double) as revenue
        from customer, orders, lineitem
        where c_mktsegment = 'BUILDING'
          and c_custkey = o_custkey
          and l_orderkey = o_orderkey
          and o_orderdate < timestamp '1998-06-01'
          and l_shipdate > timestamp '1998-06-01'
        group by l_orderkey, orderdate, o_orderpriority
        order by revenue desc, l_orderkey
        limit 10
    """,
    "q_full_outer_join": """
        with a as (
            select c_custkey as a_key, c_acctbal from customer
            where c_acctbal > 9000.0
        ), b as (
            select o_custkey as b_key, count(*) as n_big_orders from orders
            where o_totalprice > 300000.0 group by o_custkey
        )
        select coalesce(a_key, b_key) as custkey, c_acctbal, n_big_orders
        from a full outer join b on a_key = b_key
    """,
    "q_window_frame": """
        select o_custkey, o_orderkey,
               cast(cast(sum(cast(o_totalprice as decimal(18,6))) over (
                   partition by o_custkey order by o_orderdate, o_orderkey
                   rows between unbounded preceding and current row
               ) as varchar) as double) as running_total,
               cast(cast(sum(cast(o_totalprice as decimal(18,6))) over (
                   partition by o_custkey order by o_orderdate, o_orderkey
                   rows between 2 preceding and current row
               ) as varchar) as double) as moving_sum3
        from orders
    """,
    "q_cross_join": """
        select r_name, c_mktsegment
        from region cross join (select distinct c_mktsegment from customer)
        order by r_name, c_mktsegment
    """,
    "q_argminmax": """
        with r as (
            select o_orderstatus, o_orderkey,
                   row_number() over (partition by o_orderstatus
                       order by o_totalprice desc, o_orderkey desc) as rmax,
                   row_number() over (partition by o_orderstatus
                       order by o_totalprice asc, o_orderkey asc) as rmin
            from orders
        )
        select o_orderstatus,
               max(case when rmax = 1 then o_orderkey end) as priciest_order,
               max(case when rmin = 1 then o_orderkey end) as cheapest_order
        from r group by o_orderstatus order by o_orderstatus
    """,
    "q_weighted_avg": """
        select l_returnflag,
               cast(cast(sum(cast(l_discount * l_quantity as decimal(28,8))) as varchar) as double)
                   / cast(cast(sum(cast(l_discount as decimal(18,6))) as varchar) as double)
                   as disc_weighted_qty
        from lineitem group by l_returnflag order by l_returnflag
    """,
    "q_union_missing_cols": """
        select o_orderkey, o_orderstatus, null as o_orderpriority
        from orders where o_orderkey < 5000
        union all by name
        select o_orderkey, o_orderstatus, o_orderpriority
        from orders where o_orderkey >= 5000
    """,
    "q_sql_analytics": """
        with spend as (
            select r.r_name, c.c_mktsegment,
                   cast(cast(sum(cast(o.o_totalprice as decimal(18,6))) as varchar) as double)
                       as revenue
            from orders o
            join customer c on o.o_custkey = c.c_custkey
            join nation n   on c.c_nationkey = n.n_nationkey
            join region r   on n.n_regionkey = r.r_regionkey
            group by r.r_name, c.c_mktsegment
        )
        select r_name, c_mktsegment, revenue,
               revenue / cast(cast(sum(cast(revenue as decimal(18,6)))
                              over (partition by r_name) as varchar) as double)
                   as region_share
        from spend
        order by r_name, c_mktsegment
    """,
    "q_intersect": """
        select c_nationkey from customer where c_mktsegment = 'AUTOMOBILE'
        intersect
        select c_nationkey from customer where c_mktsegment = 'BUILDING'
    """,
    "q_except": """
        select c_nationkey from customer where c_mktsegment = 'AUTOMOBILE'
        except
        select c_nationkey from customer
        where c_mktsegment = 'BUILDING' and c_acctbal > 9000.0
    """,
    "q_in_subquery": """
        select o_orderkey, o_custkey from orders
        where o_custkey in (
            select c_custkey from customer where c_mktsegment = 'MACHINERY'
        )
    """,
    "q_exists_subquery": """
        select c_custkey, c_name from customer c
        where not exists (
            select 1 from orders o
            where o.o_custkey = c.c_custkey and o.o_totalprice > 300000.0
        )
    """,
    "q_percentile_rank": """
        with ranked as (
            select l_returnflag, l_extendedprice,
                   row_number() over (
                       partition by l_returnflag
                       order by l_extendedprice, l_orderkey, l_linenumber
                   ) as rn,
                   count(*) over (partition by l_returnflag) as n
            from lineitem
        )
        select l_returnflag,
               max(case when rn = ceil(0.5  * n) then l_extendedprice end) as p50,
               max(case when rn = ceil(0.9  * n) then l_extendedprice end) as p90,
               max(case when rn = ceil(0.99 * n) then l_extendedprice end) as p99
        from ranked group by l_returnflag order by l_returnflag
    """,
    "q_null_safe_join": """
        with c as (select c_custkey, nullif(c_nationkey, 7) as nk from customer),
             n as (select nullif(n_nationkey, 7) as nk2, n_name from nation)
        select c_custkey, nk, n_name
        from c join n on nk is not distinct from nk2
    """,
    "q_histogram": """
        select cast(floor(o_totalprice / 25000.0) as bigint) as bin,
               count(*) as n
        from orders group by bin order by bin
    """,
    "q_string_funcs": """
        select p_partkey,
               upper(p_name) as name_upper,
               substr(p_type, 1, 5) as type_prefix,
               concat_ws('|', p_brand, p_type) as brand_type,
               regexp_replace(p_name, '[aeiou]', '', 'g') as name_novowel,
               length(p_name) as name_len,
               lpad(p_brand, 12, '*') as brand_padded
        from part
    """,
    "q_data_quality": """
        select 'unique(o_orderkey)' as "check",
               (select coalesce(sum(n - 1), 0) from (
                   select count(*) as n from orders group by o_orderkey having count(*) > 1
               ))::bigint as violations
        union all
        select 'unique(l_orderkey,l_linenumber)',
               (select coalesce(sum(n - 1), 0) from (
                   select count(*) as n from lineitem
                   group by l_orderkey, l_linenumber having count(*) > 1
               ))::bigint
        union all
        select 'not_null(o_custkey)',
               (select count(*) - count(o_custkey) from orders)::bigint
        union all
        select 'in_range(l_discount,[0.0,1.0])',
               (select sum(case when l_discount is null
                                 or l_discount < 0.0 or l_discount > 1.0
                                then 1 else 0 end) from lineitem)::bigint
        union all
        select 'fk(o_custkey->c_custkey)',
               (select count(*) from orders
                where o_custkey not in (select c_custkey from customer))::bigint
        union all
        select 'fk(l_orderkey->o_orderkey)',
               (select count(*) from lineitem
                where l_orderkey not in (select o_orderkey from orders))::bigint
        order by "check"
    """,
    "q_snapshot_diff": """
        with old as (
            select o_orderkey, o_orderstatus, o_totalprice from orders
            where o_orderkey < 12000
        ),
        new as (
            select o_orderkey, o_orderstatus,
                   case when o_orderkey % 10 = 0 then o_totalprice + 1.0
                        else o_totalprice end as o_totalprice
            from orders where o_orderkey >= 2000
        )
        select coalesce(old.o_orderkey, new.o_orderkey) as o_orderkey,
               case when old.o_orderkey is null then 'inserted'
                    when new.o_orderkey is null then 'deleted'
                    when old.o_orderstatus is not distinct from new.o_orderstatus
                     and old.o_totalprice is not distinct from new.o_totalprice
                        then 'unchanged'
                    else 'changed' end as change,
               old.o_orderstatus as o_orderstatus_old,
               old.o_totalprice as o_totalprice_old,
               new.o_orderstatus as o_orderstatus_new,
               new.o_totalprice as o_totalprice_new
        from old full outer join new on old.o_orderkey = new.o_orderkey
        order by o_orderkey
    """,
    "q_sessionize": """
        with flags as (
            select event_id, user_id, ts,
                   case when lag(ts) over w is null
                          or epoch(ts) - epoch(lag(ts) over w) > 1800.0
                        then 1 else 0 end as is_start
            from events
            window w as (partition by user_id order by ts, event_id)
        )
        select event_id, user_id,
               cast(sum(is_start) over (
                   partition by user_id order by ts, event_id
                   rows between unbounded preceding and current row
               ) as bigint) as session_seq
        from flags
    """,
    "q_range_join": """
        select e.event_id as error_id, c.event_id as click_id
        from (select * from events where event_type = 'error') e
        join (select * from events where event_type = 'click') c
          on epoch(c.ts) >= epoch(e.ts) + 0.0
         and epoch(c.ts) <  epoch(e.ts) + 60.0
        order by error_id, click_id
    """,
    "q_rollup": """
        select l_returnflag, l_linestatus,
               cast(cast(sum(cast(l_quantity as decimal(18,6))) as varchar) as double) as sum_qty,
               count(*) as n
        from lineitem
        group by rollup (l_returnflag, l_linestatus)
    """,
    "q_cube": """
        select o_orderstatus, o_orderpriority,
               cast(cast(sum(cast(o_totalprice as decimal(18,6))) as varchar) as double) as sum_price,
               count(*) as n
        from orders
        group by cube (o_orderstatus, o_orderpriority)
    """,
    "q_grouping_sets": """
        select c_nationkey, c_mktsegment,
               count(*) as n,
               cast(cast(sum(cast(c_acctbal as decimal(18,6))) as varchar) as double) as sum_bal
        from customer
        group by grouping sets ((c_nationkey), (c_mktsegment))
    """,
    "q_pivot": """
        select c_nationkey,
               count(*) filter (where c_mktsegment = 'AUTOMOBILE') as "AUTOMOBILE",
               count(*) filter (where c_mktsegment = 'BUILDING')   as "BUILDING",
               count(*) filter (where c_mktsegment = 'FURNITURE')  as "FURNITURE",
               count(*) filter (where c_mktsegment = 'HOUSEHOLD')  as "HOUSEHOLD",
               count(*) filter (where c_mktsegment = 'MACHINERY')  as "MACHINERY"
        from customer group by c_nationkey order by c_nationkey
    """,
    "q_topk_per_group": """
        with spend as (
            select o_custkey,
                   cast(cast(sum(cast(o_totalprice as decimal(18,6))) as varchar) as double) as total_spent
            from orders group by o_custkey
        )
        select c_custkey, c_mktsegment, total_spent,
               row_number() over (
                   partition by c_mktsegment
                   order by total_spent desc, c_custkey
               ) as rk
        from spend join customer on o_custkey = c_custkey
        qualify rk <= 3
    """,
    "q_stats_moments": """
        with s as (
            select l_returnflag,
                   count(*) as n,
                   cast(cast(sum(cast(l_discount as decimal(18,6))) as varchar) as double) as sx,
                   cast(cast(sum(cast(l_discount * l_discount as decimal(28,8))) as varchar) as double) as sxx,
                   cast(cast(sum(cast(l_quantity as decimal(18,6))) as varchar) as double) as sy,
                   cast(cast(sum(cast(l_quantity * l_quantity as decimal(28,8))) as varchar) as double) as syy,
                   cast(cast(sum(cast(l_discount * l_quantity as decimal(28,8))) as varchar) as double) as sxy
            from lineitem group by l_returnflag
        )
        select l_returnflag, n,
               sx / n as mean_discount,
               (sxx - sx * sx / n) / (n - 1) as var_discount,
               sqrt((sxx - sx * sx / n) / (n - 1)) as stddev_discount,
               (sxy - sx * sy / n) / (n - 1) as covar_qty_discount,
               ((sxy - sx * sy / n) / (n - 1))
                 / (sqrt((sxx - sx * sx / n) / (n - 1))
                    * sqrt((syy - sy * sy / n) / (n - 1))) as corr_qty_discount
        from s order by l_returnflag
    """,
    "q_resample_ffill": """
        with b as (
            select user_id, time_bucket(interval 6 hours, ts) as tb,
                   cast(cast(sum(cast(value as decimal(18,6))) as varchar) as double)
                       / count(value) as mean_value
            from events group by user_id, tb
        ),
        bounds as (
            select user_id, min(tb) as mn, max(tb) as mx from b group by user_id
        ),
        grid as (
            select user_id, unnest(generate_series(mn, mx, interval 6 hours)) as tb
            from bounds
        )
        select g.user_id,
               strftime(g.tb, '%Y-%m-%d %H:%M:%S') as bucket,
               last_value(b.mean_value ignore nulls) over (
                   partition by g.user_id order by g.tb
                   rows between unbounded preceding and current row
               ) as value_ffill,
               b.mean_value is null as was_gap
        from grid g
        left join b on g.user_id = b.user_id and g.tb = b.tb
    """,
    "q_asof_join": """
        select p.event_id, p.user_id,
               strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') as ts_str,
               p.value,
               strftime(v.ts, '%Y-%m-%d %H:%M:%S.%f') as view_ts_str,
               v.value as view_value
        from (select * from events where event_type = 'purchase') p
        asof left join (select * from events where event_type = 'view') v
          on p.user_id = v.user_id and p.ts >= v.ts
        order by p.event_id
    """,
    "q_multimodal_chunks": """
        with m as (
            select doc_id as media_id,
                   cast(n_chars * 40 as bigint) as duration_ms
            from documents
        ),
        c as (
            select media_id, duration_ms,
                   unnest(generate_series(
                       0, greatest(ceil(duration_ms / 5000.0)::bigint - 1, 0)
                   )) as chunk_idx
            from m
        )
        select media_id, chunk_idx,
               chunk_idx * 5000 as chunk_start_ms,
               least((chunk_idx + 1) * 5000, duration_ms) as chunk_end_ms,
               media_id::varchar || '_' || chunk_idx::varchar as chunk_key
        from c order by media_id, chunk_idx
    """,
    "q_multimodal_frames": """
        with m as (
            select doc_id as media_id,
                   cast(n_chars * 10 as bigint) as duration_ms
            from documents
        ),
        f as (
            select media_id,
                   unnest(generate_series(0, greatest(duration_ms // 1000 - 1, 0)))
                       as frame_idx
            from m
        )
        select media_id, frame_idx,
               frame_idx * 1000 as frame_ts_ms,
               media_id::varchar || '_' || frame_idx::varchar as frame_key
        from f order by media_id, frame_idx
    """,
    "q_multimodal_digest": """
        select doc_id as media_id,
               sha256(text) as content_digest,
               octet_length(cast(text as blob)) as n_bytes
        from documents order by doc_id
    """,
    "q_multimodal_features": """
        with d as (
            select doc_id as media_id,
                   sha256(text) as digest,
                   octet_length(cast(text as blob)) as n_bytes
            from documents
        ),
        i as (select unnest(generate_series(0, 15)) as dim_idx)
        select media_id, n_bytes, dim_idx::bigint as dim_idx,
               ('0x' || substr(digest, 4 * dim_idx + 1, 4))::bigint / 65536.0
                   as feature_value
        from d cross join i
        order by media_id, dim_idx
    """,
    "q_surrogate_key": """
        select row_number() over (order by n_nationkey) as nation_sk,
               n_nationkey, n_name
        from nation
    """,
    "q_window_rank": """
        select c_mktsegment, rk, c_custkey, c_acctbal from (
            select c_mktsegment, c_custkey, c_acctbal,
                   row_number() over (
                       partition by c_mktsegment
                       order by c_acctbal desc, c_custkey
                   ) as rk
            from customer
        ) where rk <= 5
    """,
    "q_lag_lead": """
        select user_id, event_id,
               lag(value)  over (partition by user_id order by ts, event_id) as prev_value,
               lead(value) over (partition by user_id order by ts, event_id) as next_value
        from events
    """,
    "q_window_tumbling": """
        select strftime(time_bucket(interval '6 hours', ts), '%Y-%m-%d %H:%M:%S') as window_start,
               event_type, count(*) as n_events,
               cast(cast(sum(cast(value as decimal(18,6))) as varchar) as double) as sum_value
        from events group by 1, 2
    """,
    "q_window_sliding": """
        with b as (
            select time_bucket(interval '12 hours', ts) as tb, event_type from events
        ),
        w as (
            select event_type, tb - (o.k * interval '12 hours') as ws
            from b cross join (values (0), (1)) as o(k)
        )
        select strftime(ws, '%Y-%m-%d %H:%M:%S') as window_start,
               event_type, count(*) as n_events
        from w group by 1, 2
    """,
    "q_window_session": """
        with l as (
            select user_id, ts,
                   lag(ts) over (partition by user_id order by ts) as pts
            from events
        ),
        f as (
            select user_id, ts,
                   case when pts is null or ts - pts > interval '2 hours'
                        then 1 else 0 end as brk
            from l
        ),
        g as (
            select user_id, ts,
                   sum(brk) over (partition by user_id order by ts
                                  rows unbounded preceding) as grp
            from f
        )
        select user_id,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S') as session_start,
               strftime(max(ts) + interval '2 hours', '%Y-%m-%d %H:%M:%S') as session_end,
               count(*) as n_events
        from g group by user_id, grp
    """,
    "q_json_extract": """
        select event_id, cast(props->>'$.k' as bigint) as k_val from events
    """,
    "q_array_funcs": f"""
        with t as (select doc_id, {_DK_TOKENS} as t from documents)
        select doc_id,
               len(t)::bigint as n,
               len(list_distinct(t))::bigint as n_distinct,
               array_to_string(list_sort(t)[1:3], ' ') as first3_sorted,
               list_contains(t, 'the') as has_the,
               t[1] as first_token,
               t[-1] as last_token
        from t
    """,
    "q_null_funcs": """
        select l_orderkey, l_linenumber,
               greatest(l_tax, l_discount) as max_rate,
               least(l_tax, l_discount) as min_rate,
               nullif(l_discount, 0.0) as discount_or_null,
               coalesce(nullif(l_discount, 0.0), l_tax) as effective_rate,
               case when l_quantity >= 25 then 'bulk'
                    when l_quantity >= 10 then 'mid'
                    else 'small' end as size_class
        from lineitem
    """,
    "q_token_count_bpe": f"""
        select doc_id,
               len({_DK_TOKENS})::bigint as n_ws_tokens,
               len(regexp_extract_all(lower(text),
                   ' ?[a-z]+| ?[0-9]+| ?[^\\sa-z0-9]+'))::bigint as n_bpe_tokens
        from documents
    """,
    "q_text_tokens": f"""
        select doc_id,
               len({_DK_TOKENS})::bigint as n_tokens,
               len(list_distinct({_DK_TOKENS}))::bigint as n_unique_tokens
        from documents
    """,
    "q_text_term_freq": f"""
        select token, count(*) as cnt
        from (select unnest({_DK_TOKENS}) as token from documents)
        group by token order by cnt desc, token limit 20
    """,
    "q_text_quality": f"""
        select doc_id,
               length(text)::bigint as text_len,
               length(regexp_replace(lower(text), '[^a-z ]', '', 'g'))::double
                   / length(text) as alpha_ratio,
               len(list_filter({_DK_TOKENS}, t -> list_contains({_DK_STOPLIST}, t)))::double
                   / len({_DK_TOKENS}) as stopword_ratio
        from documents
    """,
    "q_lang_id": f"""
        select doc_id,
               case when len(list_intersect(list_distinct({_DK_TOKENS}), {_DK_STOPLIST})) >= 1
                    then 'en' else 'unk' end as lang_detected
        from documents
    """,
    "q_split_assign": """
        with b as (
            select doc_id,
                   ('0x' || substr(md5(doc_id::varchar), 1, 8))::bigint % 1000
                       as bucket
            from documents
        )
        select doc_id, bucket,
               case when bucket < 900 then 'train'
                    when bucket < 950 then 'val'
                    else 'test' end as split
        from b
    """,
    "q_sample_stratified": """
        with b as (
            select doc_id, source,
                   ('0x' || substr(md5(doc_id::varchar), 1, 8))::bigint % 1000
                       as bucket,
                   case source when 'src0' then 900 when 'src1' then 700
                               when 'src2' then 500 when 'src3' then 100
                               else 300 end as rate
            from documents
        )
        select doc_id, source, bucket from b where bucket < rate
    """,
    "q_sample_weighted": """
        with b as (
            select doc_id,
                   len(string_split_regex(lower(text), '\\s+'))::bigint
                       as n_words,
                   least(1.0, len(string_split_regex(lower(text), '\\s+'))
                       / 200.0) as keep_weight,
                   ('0x' || substr(md5(doc_id::varchar), 1, 8))::bigint % 10000
                       as bucket
            from documents
        )
        select doc_id, n_words, keep_weight, bucket
        from b where bucket < floor(keep_weight * 10000)
        order by doc_id
    """,
    "q_dedup_keep_best": """
        with fp as (
            select doc_id, length(text)::bigint as text_len,
                   md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
                       as fingerprint
            from documents
        )
        select doc_id, fingerprint, text_len,
               count(*) over (partition by fingerprint) as n_dupes
        from fp
        qualify row_number() over (
            partition by fingerprint order by text_len desc, doc_id
        ) = 1
    """,
    "q_curation_pipeline": f"""
        with scored as (
            select doc_id, source,
                   length(regexp_replace(lower(text), '[^a-z ]', '', 'g'))::double
                       / length(text) as ar,
                   len(list_filter({_DK_TOKENS},
                       t -> list_contains({_DK_STOPLIST}, t)))::double
                       / len({_DK_TOKENS}) as sr,
                   len(regexp_extract_all(lower(text),
                       ' ?[a-z]+| ?[0-9]+| ?[^\\sa-z0-9]+'))::bigint as n_tok,
                   md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) as fp
            from documents
        ),
        filt as (
            select * from scored
            where ar >= 0.5 and sr >= 0.02 and n_tok between 10 and 5000
        ),
        kept as (
            select fp, min(doc_id) as doc_id,
                   arg_min(source, doc_id) as source,
                   arg_min(n_tok, doc_id) as n_tok
            from filt group by fp
        )
        select source, count(*) as n_docs,
               sum(n_tok)::bigint as total_tokens
        from kept group by source order by source
    """,
    "q_doc_fingerprint_rolling": f"""
        with t as (
            select doc_id,
                   list_transform({_DK_TOKENS},
                       s -> ('0x' || substr(md5(s), 1, 8))::bigint) as h
            from documents
        )
        select doc_id,
               list_reduce(h, (acc, x) -> (acc * 31 + x) % 2147483647)
                   as rolling_fp
        from t
    """,
    "q_doc_fingerprint": """
        select doc_id,
               md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) as fingerprint
        from documents
    """,
    "q_dedup_exact": """
        select md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) as fingerprint,
               min(doc_id) as doc_id, count(*) as n_copies
        from documents group by 1
    """,
    "q_dedup_minhash": _DK_MINHASH_SQL,
    "q_dedup_simhash": _DK_SIMHASH_SQL,
    # same md5-based minhashes as q_dedup_minhash; bands of 2 rows bucket on
    # the band's value pair (matches operators/dedup.lsh_candidate_pairs,
    # which buckets on values, not an engine hash), then true-Jaccard verify
    "q_minhash_lsh_pairs": f"""
        with sig as ({_DK_MINHASH_SQL}),
        bands as (
            select doc_id, 0 as band_id, mh0 as v0, mh1 as v1 from sig
            union all select doc_id, 1, mh2, mh3 from sig
            union all select doc_id, 2, mh4, mh5 from sig
            union all select doc_id, 3, mh6, mh7 from sig
        ),
        cand as (
            select distinct l.doc_id as a, r.doc_id as b
            from bands l join bands r
              on l.band_id = r.band_id and l.v0 = r.v0 and l.v1 = r.v1
             and l.doc_id < r.doc_id
        ),
        sh as (
            select doc_id, list_distinct({_DK_SHINGLES}) as sh
            from (select doc_id, {_DK_TOKENS} as w from documents)
        )
        select * from (
            select c.a, c.b,
                   len(list_distinct(list_intersect(sa.sh, sb.sh)))::double
                       / len(list_distinct(sa.sh || sb.sh)) as jaccard
            from cand c
            join sh sa on sa.doc_id = c.a
            join sh sb on sb.doc_id = c.b
        ) where jaccard >= 0.5
    """,
    "q_ntile_cume": """
        select c_custkey,
               ntile(4) over w as quartile,
               percent_rank() over w as pct_rank,
               cume_dist() over w as cume
        from customer
        window w as (order by c_acctbal, c_custkey)
    """,
    "q_funnel_steps": """
        with per_user as (
            select user_id,
                   min(case when event_type = 'view' then ts end) as view_ts,
                   min(case when event_type = 'click' then ts end) as click_ts,
                   min(case when event_type = 'purchase' then ts end) as purchase_ts
            from events group by user_id
        )
        select funnel_stage, count(*) as n_users from (
            select case
                when view_ts is not null and click_ts > view_ts
                     and purchase_ts > click_ts then 3
                when view_ts is not null and click_ts > view_ts then 2
                when view_ts is not null then 1
                else 0 end as funnel_stage
            from per_user
        ) group by funnel_stage order by funnel_stage
    """,
    "q_word_repetition": f"""
        with tf as (
            select doc_id, tok, count(*) as tf
            from (select doc_id, unnest({_DK_TOKENS}) as tok from documents)
            group by doc_id, tok
        )
        select doc_id,
               sum(tf)::bigint as n_tokens,
               count(*)::bigint as n_distinct_tokens,
               max(tf)::bigint as max_term_freq
        from tf group by doc_id order by doc_id
    """,
    "q_tfidf_topk": f"""
        with tf as (
            select doc_id, term, count(*) as tf
            from (select doc_id, unnest({_DK_TOKENS}) as term from documents)
            group by doc_id, term
        ),
        dfreq as (select term, count(*) as df from tf group by term),
        scored as (
            select tf.doc_id, tf.term, tf.tf, dfreq.df,
                   tf.tf * 1000000 // dfreq.df as tfidf_scaled
            from tf join dfreq using (term)
        )
        select doc_id, term, tf::bigint as tf, df::bigint as df,
               tfidf_scaled::bigint as tfidf_scaled
        from (
            select *, row_number() over (
                partition by doc_id order by tfidf_scaled desc, term
            ) as rk from scored
        ) where rk <= 3
        order by doc_id, tfidf_scaled desc, term
    """,
    "q_regex_extract": """
        select p_partkey,
               regexp_extract(p_brand, '(\\d+)', 1) as brand_num_str,
               regexp_extract(p_brand, '(\\d+)', 1)::bigint as brand_num
        from part
    """,
    "q_string_agg": """
        select c_nationkey,
               array_to_string(list_sort(list(distinct c_mktsegment)), '|')
                   as segments,
               count(*)::bigint as n_customers
        from customer group by c_nationkey order by c_nationkey
    """,
    # dialect-portable UNPIVOT: the explicit union-all formulation
    "q_unpivot": """
        select p_partkey, 'p_size' as metric, p_size::double as val from part
        union all
        select p_partkey, 'p_retailprice', p_retailprice from part
        order by p_partkey, metric
    """,
    "q_date_arith": """
        select o_orderkey,
               strftime(o_orderdate::date + 30, '%Y-%m-%d') as plus_30,
               (date '1998-12-31' - o_orderdate::date)::bigint as days_to_eoy,
               strftime(date_trunc('month', o_orderdate::date), '%Y-%m-%d')
                   as month_start,
               strftime(last_day(o_orderdate::date), '%Y-%m-%d') as month_end
        from orders
    """,
    "q_try_cast": """
        select p_partkey,
               try_cast(p_name as bigint) as name_as_int,
               try_cast(regexp_extract(p_brand, '(\\d+)', 1) as bigint)
                   as brand_num,
               p_retailprice / nullif(p_size - p_size, 0) as div_by_zero,
               p_retailprice / nullif(p_size, 0) as price_per_size
        from part
    """,
    # the streaming path must equal the batch path: same SQL as
    # q_window_tumbling
    "q_cosine_topk_ivf_exact": f"""
        with p as (
            select q.vec_id as query_id, c.vec_id as neighbor_id,
                   {_dk_cosine('q.embedding', 'c.embedding')} as sim
            from embeddings q, embeddings c
            where q.vec_id < 5 and c.vec_id != q.vec_id
        )
        select query_id, neighbor_id, rank, sim from (
            select *, row_number() over (
                partition by query_id order by sim desc, neighbor_id
            ) as rank from p
        ) where rank <= 10 order by query_id, rank
    """,
    "q_streaming_tumbling": """
        select strftime(time_bucket(interval '6 hours', ts), '%Y-%m-%d %H:%M:%S') as window_start,
               event_type, count(*) as n_events,
               cast(cast(sum(cast(value as decimal(18,6))) as varchar) as double) as sum_value
        from events group by 1, 2
    """,
    # version 2 = after batch1 (inserts, original names), before batch2
    # (the ' up' renames) — same key assignment as the q_scd1_merge oracle
    "q_time_travel": """
        with b0 as (
            select distinct c_custkey, c_name, c_mktsegment
            from customer where c_custkey % 10 <> 0
        ),
        b1 as (
            select distinct c_custkey, c_name, c_mktsegment
            from customer where c_custkey % 10 = 0
        ),
        k0 as (
            select row_number() over (order by c_custkey) as dim_customer_key,
                   c_custkey, c_name, c_mktsegment
            from b0
        ),
        k1 as (
            select (select count(*) from b0)
                     + row_number() over (order by c_custkey) as dim_customer_key,
                   c_custkey, c_name, c_mktsegment
            from b1
        )
        select dim_customer_key, c_custkey, c_name, c_mktsegment from k0
        union all
        select dim_customer_key, c_custkey, c_name, c_mktsegment from k1
        order by dim_customer_key
    """,
    "q_decontaminate": f"""
        with t as (select doc_id, {_DK_TOKENS} as w from documents),
        sh as (
            select distinct doc_id, {_DK_HASH32} as h
            from (select doc_id, unnest({_DK_SHINGLES}) as s from t)
        ),
        bench as (select distinct h from sh where doc_id % 25 = 0),
        probe as (select * from sh where doc_id % 25 <> 0),
        tot as (select doc_id, count(*) as n_shingles from probe group by doc_id),
        cont as (
            select doc_id, count(*) as n_contaminated
            from probe where h in (select h from bench) group by doc_id
        )
        select t.doc_id,
               t.n_shingles::bigint as n_shingles,
               coalesce(c.n_contaminated, 0)::bigint as n_contaminated,
               (coalesce(c.n_contaminated, 0) * 2 >= t.n_shingles)
                   as is_contaminated
        from tot t left join cont c using (doc_id)
        order by doc_id
    """,
    "q_bigram_counts": f"""
        select bigram, count(*)::bigint as n
        from (
            select unnest(list_transform(
                generate_series(1, greatest(len(w) - 1, 0)),
                i -> w[i] || ' ' || w[i + 1]
            )) as bigram
            from (select {_DK_TOKENS} as w from documents)
        )
        group by bigram order by n desc, bigram limit 20
    """,
    # the salted/bucketed rewrites must be invisible in the results: both
    # oracles are the PLAIN join + aggregate
    "q_salted_join": """
        select c_mktsegment, count(*)::bigint as n_orders,
               cast(cast(sum(cast(o_totalprice as decimal(18,6))) as varchar) as double)
                   as total_revenue
        from orders join customer on o_custkey = c_custkey
        group by c_mktsegment order by c_mktsegment
    """,
    "q_bucketed_join": """
        select c_mktsegment, count(*)::bigint as n_orders,
               cast(cast(sum(cast(o_totalprice as decimal(18,6))) as varchar) as double)
                   as total_revenue
        from orders join customer on o_custkey = c_custkey
        group by c_mktsegment order by c_mktsegment
    """,
    "q_ngram_jaccard": f"""
        with t as (
            select doc_id, source, list_distinct({_DK_SHINGLES}) as sh
            from (select doc_id, source, {_DK_TOKENS} as w from documents)
        )
        select a.doc_id as a, b.doc_id as b,
               len(list_distinct(list_intersect(a.sh, b.sh)))::double
                   / len(list_distinct(a.sh || b.sh)) as jaccard
        from t a join t b
          on a.source = b.source and a.doc_id < b.doc_id and b.doc_id - a.doc_id <= 100
    """,
    "q_cosine_topk": f"""
        with p as (
            select q.vec_id as query_id, c.vec_id as neighbor_id,
                   {_dk_cosine('q.embedding', 'c.embedding')} as sim
            from embeddings q, embeddings c
            where q.vec_id < 5 and c.vec_id != q.vec_id
        )
        select query_id, neighbor_id, rank, sim from (
            select *, row_number() over (
                partition by query_id order by sim desc, neighbor_id
            ) as rank from p
        ) where rank <= 10 order by query_id, rank
    """,
    "q_embed_neardup": f"""
        select a.label as label, a.vec_id as a, b.vec_id as b,
               {_dk_cosine('a.embedding', 'b.embedding')} as sim
        from embeddings a join embeddings b
          on a.label = b.label and a.vec_id < b.vec_id
        where {_dk_cosine('a.embedding', 'b.embedding')} >= 0.35
        order by a, b
    """,
    # PII patterns are identical strings on both sides (common Java/RE2
    # subset); the planted contact line makes the redaction a real
    # transformation, not a no-op passthrough.
    "q_pii_redact": """
        with p as (
            select doc_id,
                   text || ' contact user' || doc_id::varchar
                        || '@mail.example.com on (555) 014-'
                        || lpad((doc_id % 10000)::varchar, 4, '0')
                        || ' or https://example.org/u/' || doc_id::varchar
                       as planted
            from documents
        )
        select doc_id,
               regexp_replace(
                   regexp_replace(
                       regexp_replace(planted, 'https?://[^\\s]+', '<URL>', 'g'),
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                   '\\(?[0-9]{3}\\)?[-. ][0-9]{3}[-. ][0-9]{4}',
                   '<PHONE>', 'g') as clean_text,
               len(regexp_extract_all(planted, 'https?://[^\\s]+'))::bigint
                   as n_urls,
               len(regexp_extract_all(
                   planted, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'
               ))::bigint as n_emails,
               len(regexp_extract_all(
                   planted, '\\(?[0-9]{3}\\)?[-. ][0-9]{3}[-. ][0-9]{4}'
               ))::bigint as n_phones
        from p
    """,
    # min(doc*100000 + i) is the lexicographic (doc, position) min as long
    # as a document has < 100k chunks — mirrors Spark's min(struct(...)).
    "q_chunk_dedup": f"""
        with t as (select doc_id, {_DK_TOKENS} as w from documents),
        i as (select doc_id, w,
                     unnest(generate_series(0, (len(w) - 1) // 10)) as i
              from t),
        c as (select doc_id, i,
                     md5(array_to_string(w[i*10+1 : i*10+10], ' ')) as chunk_hash
              from i)
        select chunk_hash,
               count(*) as n_copies,
               min(doc_id * 100000 + i) // 100000 as first_doc,
               min(doc_id * 100000 + i) % 100000 as first_chunk
        from c
        group by 1
        having count(*) > 1
    """,
    # the streamed self-union deduped on event_id must equal batch DISTINCT
    "q_streaming_dedup": """
        select event_id, event_type, value from events
    """,
    # per-micro-batch stream-static join must equal the batch left join
    "q_streaming_enrich": """
        select e.event_id, e.user_id, e.event_type, c.c_mktsegment as segment
        from events e left join customer c on e.user_id = c.c_custkey
    """,
    # the naive global-window packing the two-phase distributed form must equal
    "q_sequence_pack": """
        with t as (
            select doc_id,
                   len(string_split_regex(lower(text), '\\s+'))::bigint
                       as n_tokens
            from documents
        ),
        c as (
            select doc_id, n_tokens,
                   coalesce(sum(n_tokens) over (
                       order by doc_id
                       rows between unbounded preceding and 1 preceding
                   ), 0)::bigint as start
            from t
        )
        select doc_id, n_tokens,
               (start // 512)::bigint as seq_id,
               (start % 512)::bigint as seq_offset
        from c
    """,
    "q_profile_table": """
        with p as (
            select o_orderkey, o_custkey, o_orderdate, o_orderpriority,
                   o_totalprice::decimal(18,2) as o_totalprice
            from orders
        )
        select * from (
            select 'o_orderkey' as col_name,
                   min(o_orderkey)::varchar as min_value,
                   max(o_orderkey)::varchar as max_value,
                   sum(case when o_orderkey is null then 1 else 0 end)::bigint
                       as n_nulls,
                   count(distinct o_orderkey)::bigint as n_distinct
            from p
            union all
            select 'o_custkey', min(o_custkey)::varchar,
                   max(o_custkey)::varchar,
                   sum(case when o_custkey is null then 1 else 0 end)::bigint,
                   count(distinct o_custkey)::bigint
            from p
            union all
            select 'o_orderdate', min(o_orderdate)::varchar,
                   max(o_orderdate)::varchar,
                   sum(case when o_orderdate is null then 1 else 0 end)::bigint,
                   count(distinct o_orderdate)::bigint
            from p
            union all
            select 'o_orderpriority', min(o_orderpriority),
                   max(o_orderpriority),
                   sum(case when o_orderpriority is null then 1 else 0 end)::bigint,
                   count(distinct o_orderpriority)::bigint
            from p
            union all
            select 'o_totalprice', min(o_totalprice)::varchar,
                   max(o_totalprice)::varchar,
                   sum(case when o_totalprice is null then 1 else 0 end)::bigint,
                   count(distinct o_totalprice)::bigint
            from p
        )
        order by col_name
    """,
    # applying the changelog to OLD must reconstruct NEW exactly
    "q_cdc_apply": """
        select o_orderkey, o_orderstatus,
               case when o_orderkey % 10 = 0 then o_totalprice + 1.0
                    else o_totalprice end as o_totalprice
        from orders
        where o_orderkey >= 2000
        order by o_orderkey
    """,
    # same extrema + floor rounding recomputed in SQL
    "q_embed_quantize": """
        with ext as (
            select min(m) as lo, max(x) as hi
            from (
                select list_min(embedding)::double as m,
                       list_max(embedding)::double as x
                from embeddings
            )
        )
        select vec_id,
               (i - 1)::bigint as dim_idx,
               floor((embedding[i]::double - ext.lo)
                     * (255.0 / (ext.hi - ext.lo)) + 0.5)::int as q
        from embeddings, ext,
             (select unnest(generate_series(1, 64)) as i)
        order by vec_id, dim_idx
    """,
    # merged-schema read reconstructed from the original table
    "q_schema_evolution": """
        select n_nationkey, n_name, null::bigint as n_regionkey from nation
        union all
        select n_nationkey, null::varchar as n_name, n_regionkey from nation
        order by n_nationkey, n_name
    """,
    # export->jsonl-read->extract must equal extracting from the table
    "q_json_lines_source": """
        select cast(props->>'$.k' as bigint) as k, count(*) as n
        from events group by 1 order by 1
    """,
    # streaming session agg must equal the batch gaps-and-islands (same SQL)
    "q_streaming_session": """
        with l as (
            select user_id, ts,
                   lag(ts) over (partition by user_id order by ts) as pts
            from events
        ),
        f as (
            select user_id, ts,
                   case when pts is null or ts - pts > interval '2 hours'
                        then 1 else 0 end as brk
            from l
        ),
        g as (
            select user_id, ts,
                   sum(brk) over (partition by user_id order by ts
                                  rows unbounded preceding) as grp
            from f
        )
        select user_id,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S') as session_start,
               strftime(max(ts) + interval '2 hours', '%Y-%m-%d %H:%M:%S') as session_end,
               count(*) as n_events
        from g group by user_id, grp
    """,
    # the md5-salted sketch is bit-reproducible: estimates hash-match
    "q_cms_heavy_hitters": """
        with tok as (
            select unnest(string_split_regex(lower(text), '\\s+')) as term
            from documents
        ),
        cells as (
            select k.d as depth_idx,
                   ('0x' || substr(md5('cms:' || term), 1 + 8 * k.d, 8))::bigint
                       % 1024 as bucket,
                   count(*) as cnt
            from tok cross join (values (0), (1), (2), (3)) as k(d)
            group by 1, 2
        ),
        stop(term) as (
            values ('the'), ('and'), ('of'), ('to'), ('a'), ('in'), ('is'),
                   ('it'), ('for'), ('on'), ('with'), ('as')
        ),
        probes as (
            select term, k.d as depth_idx,
                   ('0x' || substr(md5('cms:' || term), 1 + 8 * k.d, 8))::bigint
                       % 1024 as bucket
            from stop cross join (values (0), (1), (2), (3)) as k(d)
        ),
        est as (
            select p.term, min(coalesce(c.cnt, 0))::bigint as cms_count
            from probes p
            left join cells c using (depth_idx, bucket)
            group by 1
        ),
        exact as (select term, count(*) as exact_n from tok group by 1)
        select e.term, e.cms_count, coalesce(x.exact_n, 0)::bigint as exact_n
        from est e left join exact x using (term)
        order by term
    """,
    # streaming sliding agg must equal the batch sliding window (same SQL)
    "q_streaming_sliding": """
        with b as (
            select time_bucket(interval '12 hours', ts) as tb, event_type from events
        ),
        w as (
            select event_type, tb - (o.k * interval '12 hours') as ws
            from b cross join (values (0), (1)) as o(k)
        )
        select strftime(ws, '%Y-%m-%d %H:%M:%S') as window_start,
               event_type, count(*) as n_events
        from w group by 1, 2
    """,
    # incremental merge must equal the from-scratch rollup
    "q_incremental_rollup": """
        select o_orderpriority,
               count(*) as n_rows,
               cast(cast(sum(cast(o_totalprice as decimal(18,6))) as varchar) as double)
                   as total_price
        from orders
        group by o_orderpriority
        order by o_orderpriority
    """,
    "q_retention_cohort": """
        with firsts as (
            select user_id, date_trunc('week', min(ts))::date as cohort_week
            from events group by user_id
        ),
        act as (
            select distinct user_id, date_trunc('week', ts)::date as act_week
            from events
        )
        select strftime(cohort_week, '%Y-%m-%d') as cohort_week,
               (date_diff('day', cohort_week, act_week) // 7)::bigint
                   as weeks_since,
               count(*)::bigint as n_active
        from act join firsts using (user_id)
        group by 1, 2
        order by 1, 2
    """,
    "q_zorder_layout": f"""
        with z as (
            select l_orderkey, l_linenumber,
                   (l_partkey % 65536) as zx, (l_suppkey % 65536) as zy
            from lineitem
        ),
        v as (
            select l_orderkey, l_linenumber, ({_Z_DUCK})::bigint as zval
            from z
        )
        select l_orderkey, l_linenumber, zval, (zval >> 22)::bigint as zbucket
        from v order by l_orderkey, l_linenumber
    """,
    "q_multimodal_resize": """
        select doc_id as media_id,
               224 as width, 224 as height,
               sha256(text) as content_digest
        from documents order by media_id
    """,
    "q_minhash_jaccard_est": f"""
        with sig as ({_DK_MINHASH_SQL}),
        bands as (
            select doc_id, 0 as band_id, mh0 as v0, mh1 as v1 from sig
            union all select doc_id, 1, mh2, mh3 from sig
            union all select doc_id, 2, mh4, mh5 from sig
            union all select doc_id, 3, mh6, mh7 from sig
        ),
        cand as (
            select distinct l.doc_id as a, r.doc_id as b
            from bands l join bands r
              on l.band_id = r.band_id and l.v0 = r.v0 and l.v1 = r.v1
             and l.doc_id < r.doc_id
        )
        select c.a, c.b,
               ({" + ".join(f"case when sa.mh{i} = sb.mh{i} then 1 else 0 end" for i in range(8))})
                   / 8.0 as est_jaccard
        from cand c
        join sig sa on sa.doc_id = c.a
        join sig sb on sb.doc_id = c.b
        order by c.a, c.b
    """,
    "q_gopher_rules": f"""
        with t as (
            select doc_id, text, {_DK_TOKENS} as w from documents
        ),
        m as (
            select doc_id,
                   len(w)::bigint as n_words,
                   list_sum(list_transform(w, x -> len(x)))::double
                       / len(w)::double as mean_word_len,
                   (len(text) - len(regexp_replace(lower(text),
                        '[^a-z0-9 ]', '', 'g')))::double
                       / len(text)::double as symbol_ratio,
                   len(list_intersect(list_distinct(w), {_DK_STOPLIST}))::bigint
                       as n_stop_distinct
            from t
        )
        select doc_id, n_words, mean_word_len, symbol_ratio, n_stop_distinct,
               (n_words >= 50 and n_words <= 100000
                and mean_word_len >= 3.0 and mean_word_len <= 10.0
                and symbol_ratio < 0.1 and n_stop_distinct >= 2) as keep
        from m order by doc_id
    """,
    "q_domain_cap": """
        with h as (
            select doc_id, source,
                   ('0x' || substr(md5(doc_id::varchar), 1, 8))::bigint as hh
            from documents
        ),
        r as (
            select doc_id, source,
                   row_number() over (partition by source
                                      order by hh, doc_id) as sample_rank,
                   count(*) over (partition by source) as n_source
            from h
        )
        select doc_id, source, sample_rank::bigint as sample_rank,
               n_source::bigint as n_source
        from r where sample_rank <= 50
        order by source, sample_rank
    """,
    "q_bigram_lift": f"""
        with pairs as (
            select string_split(bg, ' ')[1] as w1,
                   string_split(bg, ' ')[2] as w2
            from (
                select unnest(list_transform(
                    generate_series(1, greatest(len(w) - 1, 0)),
                    i -> w[i] || ' ' || w[i + 1]
                )) as bg
                from (select {_DK_TOKENS} as w from documents)
            )
        ),
        cxy as (select w1, w2, count(*)::bigint as c_xy
                from pairs group by w1, w2),
        cx as (select w1, sum(c_xy)::bigint as c_x from cxy group by w1),
        cy as (select w2, sum(c_xy)::bigint as c_y from cxy group by w2),
        tot as (select sum(c_xy)::bigint as n_total from cxy)
        select w1, w2, c_xy, c_x, c_y,
               (c_xy::double * n_total::double)
                   / (c_x::double * c_y::double) as lift
        from cxy join cx using (w1) join cy using (w2) cross join tot
        where c_xy >= 5
        order by lift desc, w1, w2 limit 20
    """,
    "q_mad_outlier": """
        with base as (
            select l_returnflag, l_extendedprice, l_orderkey, l_linenumber
            from lineitem
        ),
        r1 as (
            select *,
                   row_number() over (partition by l_returnflag
                       order by l_extendedprice, l_orderkey, l_linenumber) as rn,
                   count(*) over (partition by l_returnflag) as n
            from base
        ),
        med as (select l_returnflag, l_extendedprice as med
                from r1 where rn = ceil(n / 2.0)),
        dev as (
            select b.l_returnflag, b.l_orderkey, b.l_linenumber, m.med,
                   abs(b.l_extendedprice - m.med) as adev
            from base b join med m using (l_returnflag)
        ),
        r2 as (
            select *,
                   row_number() over (partition by l_returnflag
                       order by adev, l_orderkey, l_linenumber) as rn2,
                   count(*) over (partition by l_returnflag) as n2
            from dev
        ),
        mad as (select l_returnflag, adev as mad
                from r2 where rn2 = ceil(n2 / 2.0))
        select d.l_returnflag, max(d.med) as med, max(md.mad) as mad,
               sum(case when d.adev > 3.0 * md.mad then 1 else 0 end)::bigint
                   as n_outliers,
               count(*)::bigint as n_rows
        from dev d join mad md using (l_returnflag)
        group by d.l_returnflag order by d.l_returnflag
    """,
    "q_fuzzy_join": """
        with probes as (
            select c_custkey as probe_id,
                   substr(c_name, 1, 9) || 'X' || substr(c_name, 11)
                       as probe_name,
                   substr(c_name, 11) as blk
            from customer where c_custkey % 60 = 7
        )
        select p.probe_id, p.probe_name, c.c_custkey, c.c_name,
               levenshtein(p.probe_name, c.c_name)::bigint as dist
        from probes p join customer c on substr(c.c_name, 11) = p.blk
        where levenshtein(p.probe_name, c.c_name) <= 2
        order by p.probe_id, c.c_custkey
    """,
    "q_rolling_time_window": """
        with e as (
            -- floor before the cast: DuckDB's double->bigint cast ROUNDS
            -- half the epochs up, Spark's truncates — floor matches both
            select event_id, user_id, floor(epoch(ts))::bigint as epoch_s,
                   value
            from events
        )
        select event_id, user_id, epoch_s,
               (count(*) over w)::bigint as n_24h,
               cast(cast(sum(cast(value as decimal(18,6))) over w as varchar) as double)
                   as sum_24h
        from e
        window w as (partition by user_id order by epoch_s
                     range between 86400 preceding and current row)
        order by event_id
    """,
    "q_transition_matrix": """
        with pairs as (
            select user_id,
                   lag(event_type) over (partition by user_id
                                         order by ts, event_id) as prev_type,
                   event_type as next_type
            from events
        ),
        counts as (
            select prev_type, next_type, count(*)::bigint as n
            from pairs where prev_type is not null
            group by prev_type, next_type
        ),
        totals as (
            select prev_type, sum(n)::bigint as row_total
            from counts group by prev_type
        )
        select c.prev_type, c.next_type, c.n,
               c.n::double / t.row_total::double as share
        from counts c join totals t using (prev_type)
        order by c.prev_type, c.next_type
    """,
    # integerized moments mirror q_corr_matrix operation-for-operation:
    # floor(x * 10^s + 0.5)::bigint per row, exact integer sum, int ->
    # nearest double, / 10^s (Spark: long-sum per partition + decimal
    # merge — integer addition is associative, so the split is invisible)
    "q_corr_matrix": f"""
        with v as (
            select l_quantity as qty,
                   l_extendedprice / 131072.0 as price,
                   l_discount as disc,
                   l_tax as tax
            from lineitem
        ),
        s as (
            select count(*)::double as n,
                   {", ".join(
                       f"sum(floor({a} * 1e{s} + 0.5)::bigint)::varchar::double / 1e{s} as s_{a}"
                       for a, s in _CORR_SCALE1.items()
                   )},
                   {", ".join(
                       f"sum(floor({a} * {b} * 1e{s} + 0.5)::bigint)::varchar::double / 1e{s} as s_{a}_{b}"
                       for (a, b), s in _CORR_SCALE2.items()
                   )}
            from v
        ),
        m as (
            select 'qty' as col_x, 'price' as col_y,
                   ((s_qty_price - s_qty * s_price / n) / (n - 1))
                     / (sqrt((s_qty_qty - s_qty * s_qty / n) / (n - 1))
                        * sqrt((s_price_price - s_price * s_price / n) / (n - 1))) as corr
            from s
            union all
            select 'qty', 'disc',
                   ((s_qty_disc - s_qty * s_disc / n) / (n - 1))
                     / (sqrt((s_qty_qty - s_qty * s_qty / n) / (n - 1))
                        * sqrt((s_disc_disc - s_disc * s_disc / n) / (n - 1)))
            from s
            union all
            select 'qty', 'tax',
                   ((s_qty_tax - s_qty * s_tax / n) / (n - 1))
                     / (sqrt((s_qty_qty - s_qty * s_qty / n) / (n - 1))
                        * sqrt((s_tax_tax - s_tax * s_tax / n) / (n - 1)))
            from s
            union all
            select 'price', 'disc',
                   ((s_price_disc - s_price * s_disc / n) / (n - 1))
                     / (sqrt((s_price_price - s_price * s_price / n) / (n - 1))
                        * sqrt((s_disc_disc - s_disc * s_disc / n) / (n - 1)))
            from s
            union all
            select 'price', 'tax',
                   ((s_price_tax - s_price * s_tax / n) / (n - 1))
                     / (sqrt((s_price_price - s_price * s_price / n) / (n - 1))
                        * sqrt((s_tax_tax - s_tax * s_tax / n) / (n - 1)))
            from s
            union all
            select 'disc', 'tax',
                   ((s_disc_tax - s_disc * s_tax / n) / (n - 1))
                     / (sqrt((s_disc_disc - s_disc * s_disc / n) / (n - 1))
                        * sqrt((s_tax_tax - s_tax * s_tax / n) / (n - 1)))
            from s
        )
        select col_x, col_y, corr from m order by col_x, col_y
    """,
    "q_ab_ttest": """
        with g as (
            select event_type,
                   count(*) as n,
                   cast(cast(sum(cast(value as decimal(18,6))) as varchar) as double) as s,
                   cast(cast(sum(cast(value * value as decimal(28,8))) as varchar) as double)
                       as ss
            from events
            where event_type in ('view', 'purchase')
            group by event_type
        ),
        a as (select n as n1, s as s1, ss as ss1 from g
              where event_type = 'view'),
        b as (select n as n2, s as s2, ss as ss2 from g
              where event_type = 'purchase')
        select n1::bigint as n1, n2::bigint as n2,
               s1 / n1 as mean_view,
               s2 / n2 as mean_purchase,
               ((s1 / n1) - (s2 / n2))
                 / sqrt(((ss1 - s1 * s1 / n1) / (n1 - 1)) / n1
                        + ((ss2 - s2 * s2 / n2) / (n2 - 1)) / n2) as t_stat,
               (  (((ss1 - s1 * s1 / n1) / (n1 - 1)) / n1
                   + ((ss2 - s2 * s2 / n2) / (n2 - 1)) / n2)
                * (((ss1 - s1 * s1 / n1) / (n1 - 1)) / n1
                   + ((ss2 - s2 * s2 / n2) / (n2 - 1)) / n2))
                 / (  (((ss1 - s1 * s1 / n1) / (n1 - 1)) / n1)
                    * (((ss1 - s1 * s1 / n1) / (n1 - 1)) / n1) / (n1 - 1)
                    + (((ss2 - s2 * s2 / n2) / (n2 - 1)) / n2)
                    * (((ss2 - s2 * s2 / n2) / (n2 - 1)) / n2) / (n2 - 1))
                 as welch_dof
        from a cross join b
    """,
    "q_streaming_interval_join": """
        with e as (
            select user_id, event_id as error_id, ts
            from events where event_type = 'error'
        ),
        c as (
            select user_id, event_id as click_id, ts as click_ts
            from events where event_type = 'click'
        )
        select e.error_id, c.click_id
        from e join c
          on e.user_id = c.user_id
         and c.click_ts >= e.ts
         and c.click_ts <= e.ts + interval 21600 seconds
        order by e.error_id, c.click_id
    """,
    # integerized moments mirror q_corr_matrix / q_linreg: floor(v * 10^s
    # + 0.5)::bigint per row, exact sum, two IEEE roundings back; the
    # closed-form slope/intercept/r2 arithmetic is operation-for-operation
    # the Spark expression tree
    "q_linreg": """
        with v as (
            select l_quantity as x, l_extendedprice / 131072.0 as y
            from lineitem
        ),
        s as (
            select count(*)::double as n,
                   sum(floor(x * 1e6 + 0.5)::bigint)::varchar::double / 1e6 as sx,
                   sum(floor(y * 1e10 + 0.5)::bigint)::varchar::double / 1e10 as sy,
                   sum(floor(x * x * 1e8 + 0.5)::bigint)::varchar::double / 1e8 as sxx,
                   sum(floor(x * y * 1e10 + 0.5)::bigint)::varchar::double / 1e10
                       as sxy,
                   sum(floor(y * y * 1e10 + 0.5)::bigint)::varchar::double / 1e10
                       as syy
            from v
        )
        select n::bigint as n,
               ((sxy - sx * sy / n) / (sxx - sx * sx / n)) * 131072.0
                   as slope,
               (sy / n - ((sxy - sx * sy / n) / (sxx - sx * sx / n))
                           * (sx / n)) * 131072.0 as intercept,
               ((sxy - sx * sy / n) * (sxy - sx * sy / n))
                 / ((sxx - sx * sx / n) * (syy - sy * sy / n)) as r2
        from s
    """,
    "q_interpolate_linear": """
        with b as (
            select user_id, time_bucket(interval 6 hours, ts) as tb,
                   cast(cast(sum(cast(value as decimal(18,6))) as varchar) as double)
                       / count(value) as mean_value
            from events group by user_id, tb
        ),
        bounds as (
            select user_id, min(tb) as mn, max(tb) as mx from b group by user_id
        ),
        grid as (
            select user_id, unnest(generate_series(mn, mx, interval 6 hours)) as tb
            from bounds
        ),
        j as (
            select g.user_id, g.tb, b.mean_value
            from grid g
            left join b on g.user_id = b.user_id and g.tb = b.tb
        ),
        w as (
            select user_id, tb, mean_value,
                   floor(epoch(tb))::bigint as ep,
                   last_value(mean_value ignore nulls) over wp as pv,
                   last_value(case when mean_value is not null
                                   then floor(epoch(tb))::bigint end
                              ignore nulls) over wp as pt,
                   first_value(mean_value ignore nulls) over wn as nv,
                   first_value(case when mean_value is not null
                                    then floor(epoch(tb))::bigint end
                               ignore nulls) over wn as nt
            from j
            window wp as (partition by user_id order by tb
                          rows between unbounded preceding and 1 preceding),
                   wn as (partition by user_id order by tb
                          rows between 1 following and unbounded following)
        )
        select user_id, strftime(tb, '%Y-%m-%d %H:%M:%S') as bucket,
               coalesce(mean_value,
                        pv + (nv - pv)
                               * ((ep - pt)::double / (nt - pt)::double))
                   as value_interp,
               mean_value is null as was_gap
        from w
    """,
    "q_last_touch": """
        with t as (
            select event_id, user_id, event_type,
                   floor(epoch(ts))::bigint as ep,
                   last_value(case when event_type = 'click'
                                   then event_id end ignore nulls)
                       over w as lc_id,
                   last_value(case when event_type = 'click'
                                   then floor(epoch(ts))::bigint end
                              ignore nulls) over w as lc_ep
            from events
            window w as (partition by user_id order by ts, event_id
                         rows between unbounded preceding and 1 preceding)
        )
        select event_id, user_id,
               case when lc_ep >= ep - 604800 then lc_id end
                   as attrib_click_id,
               case when lc_ep >= ep - 604800 then ep - lc_ep end
                   as attrib_age_s
        from t
        where event_type = 'purchase'
        order by event_id
    """,
    # sha256 + first-15-hex-chars parse behave identically in both engines
    # (Spark conv(substr(sha2), 16, 10) == DuckDB '0x'-prefixed cast,
    # probed on a literal); sums are exact decimals
    "q_table_checksum": """
        with o as (
            select concat_ws('|',
                       coalesce(o_orderkey::varchar, 'null'),
                       coalesce(o_custkey::varchar, 'null'),
                       coalesce(o_orderstatus, 'null'),
                       coalesce((o_totalprice::decimal(18,2))::varchar,
                                'null'),
                       coalesce((floor(epoch(o_orderdate))::bigint)::varchar,
                                'null'),
                       coalesce(o_orderpriority, 'null')) as c
            from orders
        ),
        cu as (
            select concat_ws('|',
                       coalesce(c_custkey::varchar, 'null'),
                       coalesce(c_name, 'null'),
                       coalesce(c_nationkey::varchar, 'null'),
                       coalesce((c_acctbal::decimal(18,2))::varchar, 'null'),
                       coalesce(c_mktsegment, 'null')) as c
            from customer
        ),
        na as (
            select concat_ws('|',
                       coalesce(n_nationkey::varchar, 'null'),
                       coalesce(n_name, 'null'),
                       coalesce(n_regionkey::varchar, 'null')) as c
            from nation
        )
        select 'orders' as table_name, count(*)::bigint as n_rows,
               (sum(('0x' || substr(sha256(c), 1, 15))::bigint)
                   ::decimal(38,0))::varchar as checksum
        from o
        union all
        select 'customer', count(*)::bigint,
               (sum(('0x' || substr(sha256(c), 1, 15))::bigint)
                   ::decimal(38,0))::varchar
        from cu
        union all
        select 'nation', count(*)::bigint,
               (sum(('0x' || substr(sha256(c), 1, 15))::bigint)
                   ::decimal(38,0))::varchar
        from na
        order by table_name
    """,
    "q_compact_files": """
        select o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               floor(epoch(o_orderdate))::bigint as order_epoch,
               o_orderpriority
        from orders
        order by o_orderkey
    """,
    "q_linreg_group": """
        with v as (
            select l_returnflag,
                   l_quantity as x, l_extendedprice / 131072.0 as y
            from lineitem
        ),
        s as (
            select l_returnflag,
                   count(*)::double as n,
                   sum(floor(x * 1e6 + 0.5)::bigint)::varchar::double / 1e6 as sx,
                   sum(floor(y * 1e10 + 0.5)::bigint)::varchar::double / 1e10 as sy,
                   sum(floor(x * x * 1e8 + 0.5)::bigint)::varchar::double / 1e8 as sxx,
                   sum(floor(x * y * 1e10 + 0.5)::bigint)::varchar::double / 1e10
                       as sxy,
                   sum(floor(y * y * 1e10 + 0.5)::bigint)::varchar::double / 1e10
                       as syy
            from v group by l_returnflag
        )
        select l_returnflag, n::bigint as n,
               ((sxy - sx * sy / n) / (sxx - sx * sx / n)) * 131072.0
                   as slope,
               (sy / n - ((sxy - sx * sy / n) / (sxx - sx * sx / n))
                           * (sx / n)) * 131072.0 as intercept,
               ((sxy - sx * sy / n) * (sxy - sx * sy / n))
                 / ((sxx - sx * sx / n) * (syy - sy * sy / n)) as r2
        from s
        order by l_returnflag
    """,
    # full recompute: the maintained view must converge to exactly this
    "q_incremental_join": """
        select o_orderkey, o_custkey, c_mktsegment, o_totalprice
        from orders join customer on o_custkey = c_custkey
        order by o_orderkey
    """,
    # the staged replay must converge to the batch LEFT join — the
    # null-extended rows are exactly the watermark-evicted state
    "q_streaming_left_interval": """
        with e as (
            select user_id, event_id as error_id, ts
            from events where event_type = 'error'
        ),
        c as (
            select user_id, event_id as click_id, ts as click_ts
            from events where event_type = 'click'
        )
        select e.error_id, c.click_id
        from e left join c
          on e.user_id = c.user_id
         and c.click_ts >= e.ts
         and c.click_ts <= e.ts + interval 21600 seconds
        order by e.error_id, c.click_id
    """,
    # Quadratic dominance NOT EXISTS — the semantic spec; the engine's
    # sort-based linear plan must select the identical row set.
    "q_skyline": """
        select p_partkey, p_name, p_retailprice, p_size
        from part p
        where not exists (
            select 1 from part q
            where q.p_retailprice <= p.p_retailprice
              and q.p_size >= p.p_size
              and (q.p_retailprice < p.p_retailprice or q.p_size > p.p_size)
        )
        order by p_retailprice, p_partkey
    """,
    "q_basket_rules": """
        with op as (
            select distinct l_orderkey, l_partkey from lineitem
        ),
        ok as (
            select l_orderkey from op group by l_orderkey
            having count(*) <= 30
        ),
        op2 as (select op.* from op join ok using (l_orderkey)),
        c as (
            select a.l_partkey as p1, b.l_partkey as p2, count(*) as c_ab
            from op2 a join op2 b
              on a.l_orderkey = b.l_orderkey and a.l_partkey < b.l_partkey
            group by 1, 2
        ),
        m as (select l_partkey, count(*) as c from op2 group by 1),
        n as (select count(distinct l_orderkey) as n_orders from op2)
        select c.p1, c.p2, c.c_ab, ma.c as c_a, mb.c as c_b,
               c.c_ab::double / ma.c::double as confidence,
               (c.c_ab::double * n_orders::double)
                   / (ma.c::double * mb.c::double) as lift
        from c
        join m ma on ma.l_partkey = c.p1
        join m mb on mb.l_partkey = c.p2
        cross join n
        where c.c_ab >= 3
        order by lift desc, c.p1, c.p2
        limit 20
    """,
    # Canonical a<b<c triple join counts each triangle exactly once,
    # agreeing with the engine's degree-ordered orientation count.
    "q_triangle_count": """
        with op as (
            select distinct l_orderkey, l_partkey from lineitem
        ),
        ok as (
            select l_orderkey from op group by l_orderkey
            having count(*) <= 30
        ),
        op2 as (select op.* from op join ok using (l_orderkey)),
        e as (
            select a.l_partkey as src, b.l_partkey as dst
            from op2 a join op2 b
              on a.l_orderkey = b.l_orderkey and a.l_partkey < b.l_partkey
            group by 1, 2
            having count(*) >= 2
        ),
        deg as (
            select node, count(*) as d from (
                select src as node from e
                union all
                select dst as node from e
            ) group by 1
        ),
        tri as (
            select count(*) as t
            from e e1
            join e e2 on e1.dst = e2.src
            join e e3 on e3.src = e1.src and e3.dst = e2.dst
        ),
        ns as (
            select count(*) as n_nodes,
                   cast(sum(d * (d - 1)) // 2 as bigint) as n_wedges
            from deg
        ),
        es as (select count(*) as n_edges from e)
        select ns.n_nodes, es.n_edges, ns.n_wedges,
               tri.t as n_triangles,
               3.0::double * tri.t / ns.n_wedges as clustering_coeff
        from ns cross join es cross join tri
    """,
    # (user_id, ts) is unique, so arg_min/arg_max over ts are
    # deterministic twins of min_by/max_by. Bucket epochs floor before
    # the cast (the q_rolling_time_window convention).
    "q_ohlc_bars": """
        select user_id,
               (floor(epoch(ts) / 21600) * 21600)::bigint as bucket_s,
               arg_min(value, ts) as open,
               max(value) as high,
               min(value) as low,
               arg_max(value, ts) as close,
               count(*) as n_events,
               cast(cast(sum(cast(value as decimal(18,6))) as varchar) as double) as volume
        from events
        group by 1, 2
        order by user_id, bucket_s
    """,
    "q_rolling_dau": """
        with ud as (
            select distinct cast(date_trunc('day', ts) as date) as day,
                   user_id
            from events
        ),
        days as (select distinct day from ud),
        wau as (
            select d.day, count(distinct u.user_id) as wau
            from days d
            join ud u on u.day between d.day - 6 and d.day
            group by d.day
        ),
        dau as (select day, count(distinct user_id) as dau from ud group by day)
        select strftime(days.day, '%Y-%m-%d') as day, dau.dau, wau.wau
        from days join dau using (day) join wau using (day)
        order by day
    """,
    "q_zorder_pruning_stats": f"""
        with m as (
            select max(l_partkey) as xm, max(l_suppkey) as ym from lineitem
        ),
        zxy as (
            select (l_partkey * 256) // (xm + 1) as zx,
                   (l_suppkey * 256) // (ym + 1) as zy
            from lineitem cross join m
        ),
        files as (
            select zy,
                   (({_Z8_DUCK})::bigint >> 10) as zorder_f,
                   (zx >> 2)::bigint as partsort_f
            from zxy
        ),
        z as (
            select zorder_f, min(zy) as min_zy, max(zy) as max_zy
            from files group by 1
        ),
        p as (
            select partsort_f, min(zy) as min_zy, max(zy) as max_zy
            from files group by 1
        ),
        zs as (
            select 'zorder' as layout, count(*) as n_files,
                   cast(sum(case when max_zy < 102 or min_zy > 127
                                 then 1 else 0 end) as bigint) as n_skippable
            from z
        ),
        ps as (
            select 'partkey_sort' as layout, count(*) as n_files,
                   cast(sum(case when max_zy < 102 or min_zy > 127
                                 then 1 else 0 end) as bigint) as n_skippable
            from p
        )
        select layout, n_files, n_skippable,
               n_skippable::double / n_files::double as skip_frac
        from (select * from zs union all select * from ps)
        order by layout
    """,
    # the streaming-accumulated sketch is cell-identical to a batch
    # build (cell addition commutes), so the full-corpus oracle applies
    "q_streaming_cms_topk": """
        with tok as (
            select unnest(string_split_regex(lower(text), '\\s+')) as term
            from documents
        ),
        cells as (
            select k.d as depth_idx,
                   ('0x' || substr(md5('cms:' || term), 1 + 8 * k.d, 8))::bigint
                       % 1024 as bucket,
                   count(*) as cnt
            from tok cross join (values (0), (1), (2), (3)) as k(d)
            group by 1, 2
        ),
        stop(term) as (
            values ('the'), ('and'), ('of'), ('to'), ('a'), ('in'), ('is'),
                   ('it'), ('for'), ('on'), ('with'), ('as')
        ),
        probes as (
            select term, k.d as depth_idx,
                   ('0x' || substr(md5('cms:' || term), 1 + 8 * k.d, 8))::bigint
                       % 1024 as bucket
            from stop cross join (values (0), (1), (2), (3)) as k(d)
        )
        select p.term, min(coalesce(c.cnt, 0))::bigint as cms_count
        from probes p
        left join cells c using (depth_idx, bucket)
        group by 1
        order by p.term
    """,
    # AS OF 2024-02-15: unchanged keys show their initial version,
    # %10 keys the 2024-02-01 one; the 2024-03-01 rewrite is invisible.
    "q_scd2_asof_lookup": """
        with base as (select c_custkey, c_name, c_mktsegment from customer)
        select c_custkey, c_name, c_mktsegment,
               '2024-01-01' as version_from
        from base where c_custkey % 10 <> 0
        union all
        select c_custkey, c_name, c_mktsegment, '2024-02-01'
        from base where c_custkey % 10 = 0
        order by c_custkey
    """,
    "q_vocab_coverage": """
        with counts as (
            select term as tok, count(*) as c from (
                select unnest(string_split_regex(lower(text), '\\s+')) as term
                from documents
            ) group by 1
        ),
        ranked as (
            select c, row_number() over (order by c desc, tok) as rn
            from counts
        ),
        agg as (
            select count(*) as vocab_size,
                   cast(sum(c) as bigint) as total_tokens,
                   cast(sum(case when rn <= 10 then c else 0 end) as bigint) as cov10,
                   cast(sum(case when rn <= 100 then c else 0 end) as bigint) as cov100,
                   cast(sum(case when rn <= 1000 then c else 0 end) as bigint) as cov1000
            from ranked
        )
        select k, vocab_size, total_tokens, covered_tokens,
               covered_tokens::double / total_tokens::double as covered_share
        from (
            select 10 as k, vocab_size, total_tokens, cov10 as covered_tokens from agg
            union all
            select 100, vocab_size, total_tokens, cov100 from agg
            union all
            select 1000, vocab_size, total_tokens, cov1000 from agg
        )
        order by k
    """,
    "q_degree_distribution": """
        with op as (
            select distinct l_orderkey, l_partkey from lineitem
        ),
        ok as (
            select l_orderkey from op group by l_orderkey
            having count(*) <= 30
        ),
        op2 as (select op.* from op join ok using (l_orderkey)),
        e as (
            select a.l_partkey as src, b.l_partkey as dst
            from op2 a join op2 b
              on a.l_orderkey = b.l_orderkey and a.l_partkey < b.l_partkey
            group by 1, 2
            having count(*) >= 2
        ),
        deg as (
            select node, count(*) as deg from (
                select src as node from e
                union all
                select dst as node from e
            ) group by 1
        )
        select deg, count(*) as n_nodes
        from deg group by 1 order by deg
    """,
    "q_event_path_topk": """
        with tri as (
            select lag(event_type, 2) over w as s1,
                   lag(event_type, 1) over w as s2,
                   event_type as s3
            from events
            window w as (partition by user_id order by ts, event_id)
        )
        select s1, s2, s3, count(*) as n
        from tri where s1 is not null
        group by 1, 2, 3
        order by n desc, s1, s2, s3
        limit 20
    """,
    # independent candidate route: the UNFILTERED inverted index (all
    # shared-shingle pairs) — agreement with the engine's prefix-pruned
    # index is the completeness guarantee, oracle-checked
    "q_prefix_filter_join": f"""
        with t as (select doc_id, {_DK_TOKENS} as w from documents),
        inv as (
            select distinct doc_id, s
            from (select doc_id, unnest({_DK_SHINGLES}) as s from t)
        ),
        pairs as (
            select a.doc_id as a, b.doc_id as b
            from inv a join inv b on a.s = b.s and a.doc_id < b.doc_id
            group by 1, 2
        ),
        sh as (
            select doc_id, list_distinct({_DK_SHINGLES}) as sh from t
        )
        select * from (
            select p.a, p.b,
                   len(list_distinct(list_intersect(sa.sh, sb.sh)))::double
                       / len(list_distinct(sa.sh || sb.sh)) as jaccard
            from pairs p
            join sh sa on sa.doc_id = p.a
            join sh sb on sb.doc_id = p.b
        ) where jaccard >= 0.5
        order by a, b
    """,
    "q_token_budget_fill": f"""
        with d as (
            select doc_id, source, len({_DK_TOKENS})::bigint as n_tokens
            from documents
        ),
        b as (
            select source,
                   cast(floor(sum(n_tokens) / 2) as bigint) as budget
            from d group by source
        ),
        c as (
            select doc_id, source, n_tokens,
                   sum(n_tokens) over (
                       partition by source
                       order by n_tokens desc, doc_id
                       rows between unbounded preceding and current row
                   ) as cum_tokens
            from d
        )
        select c.doc_id, c.source, c.n_tokens,
               c.cum_tokens::bigint as cum_tokens, b.budget,
               c.cum_tokens <= b.budget as kept
        from c join b using (source)
        order by source, doc_id
    """,
    "q_mixture_waterfill": f"""
        with d as (
            select source, sum(len({_DK_TOKENS}))::bigint as avail
            from documents group by source
        ),
        tot as (
            select count(*)::bigint as S,
                   (9 * sum(avail) // 10)::bigint as B
            from d
        ),
        r as (
            select source, avail,
                   row_number() over (order by avail, source) as i,
                   (sum(avail) over (
                       order by avail, source
                       rows between unbounded preceding and current row
                   ))::bigint as P
            from d
        ),
        c as (
            select r.*, tot.S, tot.B,
                   (r.P + r.avail * (tot.S - r.i) <= tot.B) as capped
            from r cross join tot
        ),
        kk as (
            select count(*) filter (where capped)::bigint as k,
                   coalesce(sum(avail) filter (where capped), 0)::bigint as Pk
            from c
        ),
        f as (
            select c.*, kk.k, (c.B - kk.Pk) as R, (c.S - kk.k) as m
            from c cross join kk
        ),
        alloc as (
            select source, avail, capped,
                   (case when capped then avail
                         when m > 0 then (R // m)
                              + (case when i - k <= (R % m) then 1 else 0 end)
                         else 0 end)::bigint as allocation
            from f
        )
        select source, avail as avail_tokens, capped, allocation,
               allocation::double / avail::double as fill_rate
        from alloc order by source
    """,
    "q_time_weighted_avg": """
        with e as (
            -- floor matches both engines' double->bigint (Spark truncates,
            -- DuckDB rounds); v*1e6+0.5 is the shared integerization
            select user_id, event_id,
                   floor(epoch(ts))::bigint as ep,
                   floor(value * 1e6 + 0.5)::bigint as v6
            from events
        ),
        d as (select e.*, ep // 86400 as day_idx from e),
        seg as (
            select user_id, day_idx, v6, ep,
                   lead(ep) over (
                       partition by user_id, day_idx order by ep, event_id
                   ) - ep as dur
            from d
        ),
        agg as (
            select user_id, day_idx,
                   count(*)::bigint as n_intervals,
                   sum(dur)::bigint as total_dur,
                   sum(v6 * dur)::bigint as swv
            from seg where dur is not null
            group by 1, 2
        )
        select user_id, day_idx, n_intervals, total_dur,
               (swv::double / 1e6) / total_dur::double as twap
        from agg where total_dur > 0
        order by user_id, day_idx
    """,
    # fixed-order pivot so every cross-cohort double addition chains
    # left-to-right exactly as the Spark expression tree does
    "q_anova_f": """
        with g as (
            select event_type, count(*)::bigint as n,
                   cast(cast(sum(cast(value as decimal(18,6))) as varchar) as double) as s,
                   cast(cast(sum(cast(value * value as decimal(28,8))) as varchar) as double)
                       as ss
            from events group by event_type
        ),
        p as (
            select
                max(case when event_type = 'click' then n end) as n1,
                max(case when event_type = 'click' then s end) as s1,
                max(case when event_type = 'click' then ss end) as ss1,
                max(case when event_type = 'error' then n end) as n2,
                max(case when event_type = 'error' then s end) as s2,
                max(case when event_type = 'error' then ss end) as ss2,
                max(case when event_type = 'purchase' then n end) as n3,
                max(case when event_type = 'purchase' then s end) as s3,
                max(case when event_type = 'purchase' then ss end) as ss3,
                max(case when event_type = 'signup' then n end) as n4,
                max(case when event_type = 'signup' then s end) as s4,
                max(case when event_type = 'signup' then ss end) as ss4,
                max(case when event_type = 'view' then n end) as n5,
                max(case when event_type = 'view' then s end) as s5,
                max(case when event_type = 'view' then ss end) as ss5
            from g
        )
        select 5::bigint as k,
               (n1 + n2 + n3 + n4 + n5)::bigint as n_total,
               (((s1 * s1 / n1::double) + (s2 * s2 / n2::double)
                 + (s3 * s3 / n3::double) + (s4 * s4 / n4::double)
                 + (s5 * s5 / n5::double))
                - (s1 + s2 + s3 + s4 + s5) * (s1 + s2 + s3 + s4 + s5)
                  / (n1::double + n2::double + n3::double + n4::double
                     + n5::double)) as ssb,
               ((ss1 + ss2 + ss3 + ss4 + ss5)
                - ((s1 * s1 / n1::double) + (s2 * s2 / n2::double)
                   + (s3 * s3 / n3::double) + (s4 * s4 / n4::double)
                   + (s5 * s5 / n5::double))) as ssw,
               ((((s1 * s1 / n1::double) + (s2 * s2 / n2::double)
                  + (s3 * s3 / n3::double) + (s4 * s4 / n4::double)
                  + (s5 * s5 / n5::double))
                 - (s1 + s2 + s3 + s4 + s5) * (s1 + s2 + s3 + s4 + s5)
                   / (n1::double + n2::double + n3::double + n4::double
                      + n5::double)) / 4.0)
               / (((ss1 + ss2 + ss3 + ss4 + ss5)
                   - ((s1 * s1 / n1::double) + (s2 * s2 / n2::double)
                      + (s3 * s3 / n3::double) + (s4 * s4 / n4::double)
                      + (s5 * s5 / n5::double)))
                  / ((n1::double + n2::double + n3::double + n4::double
                      + n5::double) - 5.0)) as f_stat
        from p
    """,
    "q_interval_coalesce": """
        with base as (
            select user_id, event_id,
                   floor(epoch(ts))::bigint as s,
                   floor(epoch(ts))::bigint + 1800 as e
            from events
        ),
        flagged as (
            select user_id, s, e,
                   case when max(e) over (
                            partition by user_id order by s, event_id
                            rows between unbounded preceding and 1 preceding
                        ) is null
                        or s > max(e) over (
                            partition by user_id order by s, event_id
                            rows between unbounded preceding and 1 preceding
                        )
                        then 1 else 0 end as new_island,
                   event_id
            from base
        ),
        islands as (
            select user_id, s, e,
                   (sum(new_island) over (
                       partition by user_id order by s, event_id
                       rows between unbounded preceding and current row
                   ))::bigint as island
            from flagged
        )
        select user_id, island,
               min(s)::bigint as island_start,
               max(e)::bigint as island_end,
               count(*)::bigint as n_events
        from islands
        group by user_id, island
        order by user_id, island
    """,
    # SCD3 three-batch final state in closed form: untouched keys keep
    # prev_name NULL; changed keys carry the original name beside the
    # ' up' current value
    "q_scd3_merge": """
        select c_custkey, c_name, c_mktsegment,
               cast(null as varchar) as prev_name
        from customer where c_custkey % 10 <> 0
        union all
        select c_custkey, c_name || ' up', c_mktsegment,
               c_name as prev_name
        from customer where c_custkey % 10 = 0
        order by c_custkey
    """,
    "q_tfidf_cosine_pairs": f"""
        with tf as (
            select doc_id, t as term, count(*)::bigint as tf
            from (select doc_id, unnest({_DK_TOKENS}) as t from documents)
            group by 1, 2
        ),
        dfreq as (select term, count(*)::bigint as df from tf group by term),
        w as (
            select tf.doc_id, tf.term, (tf.tf * 1000000) // dfreq.df as w
            from tf join dfreq using (term)
        ),
        norms as (
            select doc_id, sum(w * w)::bigint as n2 from w group by doc_id
        ),
        pairs as (
            select a.doc_id as a, b.doc_id as b
            from documents a join documents b
              on a.source = b.source
             and a.doc_id < b.doc_id
             and b.doc_id - a.doc_id <= 100
        ),
        dots as (
            select p.a, p.b, sum(wa.w * wb.w)::bigint as dot
            from pairs p
            join w wa on wa.doc_id = p.a
            join w wb on wb.doc_id = p.b and wb.term = wa.term
            group by 1, 2
        ),
        scored as (
            select d.a, d.b, d.dot,
                   d.dot::double / sqrt(na.n2::double * nb.n2::double)
                       as cosine
            from dots d
            join norms na on na.doc_id = d.a
            join norms nb on nb.doc_id = d.b
        ),
        ranked as (
            select *, row_number() over (
                       partition by a order by cosine desc, b
                   ) as rk
            from scored
        )
        select a, b, dot, cosine from ranked where rk <= 3
        order by a, cosine desc, b
    """,
    "q_seasonal_naive_mape": """
        with ser as (
            select event_type,
                   floor(epoch(ts))::bigint // 21600 as bucket,
                   cast(cast(sum(cast(value as decimal(18,6))) as varchar) as double)
                       / count(*) as m
            from events
            group by 1, 2
        ),
        pred as (
            select event_type, bucket + 4 as bucket, m as pred from ser
        ),
        scored as (
            select s.event_type,
                   floor(abs(s.m - p.pred) / abs(s.m) * 1e12 + 0.5)::bigint
                       as a12
            from ser s join pred p using (event_type, bucket)
            where s.m <> 0
        ),
        totals as (
            select event_type, count(*)::bigint as n_buckets
            from ser group by event_type
        )
        select s.event_type, t.n_buckets,
               count(*)::bigint as n_scored,
               (sum(a12)::varchar::double / 1e12) / count(*)::double as mape
        from scored s join totals t using (event_type)
        group by s.event_type, t.n_buckets
        order by s.event_type
    """,
    "q_k_anonymity": """
        select c_mktsegment, c_nationkey,
               count(*)::bigint as class_size,
               count(*) < 5 as at_risk
        from customer
        group by c_mktsegment, c_nationkey
        order by c_mktsegment, c_nationkey
    """,
    "q_streaming_full_interval": """
        with e as (
            select user_id, event_id as error_id, ts
            from events where event_type = 'error'
        ),
        c as (
            select user_id, event_id as click_id, ts as click_ts
            from events where event_type = 'click'
        )
        select e.error_id, c.click_id
        from e full join c
          on e.user_id = c.user_id
         and c.click_ts >= e.ts
         and c.click_ts <= e.ts + interval 21600 seconds
        order by e.error_id, c.click_id
    """,
    "q_epoch_reshard": """
        with d as (
            select doc_id,
                   ('0x' || substr(md5(doc_id::varchar || ':epoch0'), 1, 8))
                       ::bigint as h
            from documents
        ),
        r as (
            select doc_id,
                   row_number() over (order by h, doc_id) as rn,
                   count(*) over () as n
            from d
        )
        select doc_id, rn::bigint as rn,
               ((rn - 1) * 8 // n)::bigint as shard
        from r order by rn
    """,
    # dow via the portable epoch-day formula — engine-native
    # dayofweek()/isodow() numberings disagree across engines
    "q_date_dim": """
        with days as (
            select unnest(generate_series(
                date '2024-01-01', date '2024-12-31', interval 1 day
            ))::date as d
        ),
        attrs as (
            select d, (d - date '1970-01-01')::bigint as epoch_day
            from days
        )
        select strftime(d, '%Y-%m-%d') as date_str,
               year(d)::bigint as year,
               quarter(d)::bigint as quarter,
               month(d)::bigint as month,
               day(d)::bigint as day_of_month,
               epoch_day,
               ((epoch_day + 4) % 7)::bigint as dow,
               ((epoch_day + 4) % 7 = 0 or (epoch_day + 4) % 7 = 6)
                   as is_weekend
        from attrs order by epoch_day
    """,
    "q_concurrency_sweep": """
        with base as (
            select event_id, floor(epoch(ts))::bigint as s from events
        ),
        bounds as (
            select s as t, 1 as delta, event_id from base
            union all
            select s + 1800 as t, -1 as delta, event_id from base
        ),
        running as (
            select t, (sum(delta) over (
                       order by t, delta, event_id
                       rows between unbounded preceding and current row
                   ))::bigint as level
            from bounds
        )
        select t // 86400 as day_idx,
               count(*)::bigint as n_boundaries,
               max(level)::bigint as max_concurrent
        from running
        group by 1 order by day_idx
    """,
    "q_hard_negatives": f"""
        with p as (
            select q.vec_id as query_id, c.vec_id as neighbor_id,
                   c.label as neg_label,
                   {_dk_cosine('q.embedding', 'c.embedding')} as sim
            from embeddings q, embeddings c
            where q.vec_id < 20 and c.label != q.label
        )
        select query_id, neighbor_id, neg_label, rank, sim from (
            select *, row_number() over (
                partition by query_id order by sim desc, neighbor_id
            ) as rank from p
        ) where rank <= 3 order by query_id, rank
    """,
    "q_negative_samples": """
        with r as (
            select doc_id,
                   row_number() over (order by doc_id) as rn,
                   count(*) over () as n
            from documents
        ),
        js as (
            select doc_id, rn, n, unnest([1, 2, 3]) as j from r
        ),
        picked as (
            select doc_id, j::bigint as j,
                   ((rn - 1 + 1
                     + ('0x' || substr(md5(doc_id::varchar || ':neg'
                                       || j::varchar), 1, 8))::bigint
                       % (n - 1)) % n + 1)::bigint as neg_rn
            from js
        )
        select p.doc_id, p.j, r.doc_id as neg_doc_id
        from picked p join r on r.rn = p.neg_rn
        order by p.doc_id, p.j
    """,
    "q_label_centroids": """
        with ex as (
            select label,
                   generate_subscripts(embedding, 1) - 1 as dim,
                   unnest(embedding) as v
            from embeddings
        )
        select label, dim::bigint as dim,
               count(*)::bigint as n,
               (sum(floor(v * 1e6 + 0.5)::bigint)::varchar::double / 1e6)
                   / count(*)::double as centroid_val
        from ex
        group by label, dim
        order by label, dim
    """,
    "q_gdpr_delete": """
        select o_orderstatus,
               count(*)::bigint as n_orders,
               count(case when o_custkey % 97 = 0 then 1 end)::bigint
                   as n_tombstoned_left,
               cast(cast(sum(cast(o_totalprice as decimal(18,2))) as varchar) as double)
                   as total_price
        from orders
        where o_custkey % 97 <> 0
        group by o_orderstatus
        order by o_orderstatus
    """,
    "q_quarantine_split": """
        with labeled as (
            select event_id, event_type,
                   concat_ws('|',
                       case when not coalesce(value <= 90, false)
                            then 'value_range' end,
                       case when not coalesce(event_type != 'error', false)
                            then 'not_error' end,
                       case when not coalesce(
                                try_cast(json_extract_string(props, '$.k')
                                         as bigint) < 90, false)
                            then 'payload_k' end
                   ) as reasons
            from events
        )
        select event_id, event_type, reasons = '' as valid, reasons
        from labeled
        order by event_id
    """,
}

# the indexed IVF path is bit-identical to full-probe IVF (same query
# batch, same k) — it shares the exact-brute-force oracle
ORACLES["q_cosine_topk_ivf_indexed"] = ORACLES["q_cosine_topk_ivf_exact"]

# round-7: label propagation's fixpoint (min reachable id) IS
# SQL-expressible as a recursive transitive closure — the two
# cluster-label queries graduate from rows-only to cross-engine hash
# checks (r6 VERDICT item 5 extended)
ORACLES["q_dedup_clusters"] = f"""
    with recursive
    {_DK_LSH_PAIR_CTES},
    {_DK_COMPONENT_CTES}
    select doc_id, cluster_rep from lab order by doc_id
"""
ORACLES["q_leakage_safe_split"] = f"""
    with recursive
    {_DK_LSH_PAIR_CTES},
    {_DK_COMPONENT_CTES},
    b as (
        select doc_id, cluster_rep,
               ('0x' || substr(md5(cluster_rep::varchar), 1, 8))::bigint
                   % 1000 as bucket
        from lab
    )
    select doc_id, cluster_rep, bucket,
           case when bucket < 900 then 'train'
                when bucket < 950 then 'val'
                else 'test' end as split
    from b order by doc_id
"""


def _dk_lsh_topk_sql(n_planes: int = 8, dim: int = 64, k: int = 10) -> str:
    """DuckDB twin of q_cosine_topk_lsh: the hyperplanes are SEEDED
    numpy constants compiled into both plans as literals, the sign-bit
    dot rides the same sequential left-fold as _DK_COSINE (list_sum ==
    Spark's aggregate fold, proven by the q_cosine_topk oracle), so the
    bucket ids — and therefore the candidate set and ranking — are
    bit-reproducible cross-engine. LSH graduates from 'approximate,
    recall-tested' to deterministic hash-checked: approximate vs the
    EXACT top-k, exact vs its own specification."""
    from .operators.similarity import _hyperplanes

    planes = _hyperplanes(n_planes, dim, seed=7)

    def dot(plane) -> str:
        lits = "[" + ",".join(repr(float(x)) for x in plane) + "]"
        return (
            f"list_sum(list_transform(generate_series(1, {dim}),"
            f" j -> embedding[j]::double * ({lits})[j]))"
        )

    bits = " + ".join(
        f"(case when {dot(p)} > 0 then {2**i} else 0 end)"
        for i, p in enumerate(planes)
    )
    return f"""
        with cb as (
            select vec_id, embedding, ({bits})::bigint as bucket
            from embeddings
        ),
        scored as (
            select q.vec_id as query_id, c.vec_id as neighbor_id,
                   {_dk_cosine('q.embedding', 'c.embedding')} as sim
            from cb q join cb c
              on q.bucket = c.bucket and c.vec_id != q.vec_id
            where q.vec_id < 5
        )
        select query_id, neighbor_id, rank, sim from (
            select *, row_number() over (
                partition by query_id order by sim desc, neighbor_id
            ) as rank from scored
        ) where rank <= {k} order by query_id, rank
    """


ORACLES["q_cosine_topk_lsh"] = _dk_lsh_topk_sql()


def _dk_benford_sql() -> str:
    """Benford twin: the same Python float literals for the 9 expected
    shares (repr round-trips exactly), the same fixed-order chi-square
    expression — the only floats are shared literals and mirrored IEEE
    ops over exact counts."""
    import math

    obs = ", ".join(
        f"sum(case when d = {i} then 1 else 0 end)::bigint as o{i}"
        for i in range(1, 10)
    )
    chi = " + ".join(
        f"((o{i}::double - (n::double * {math.log10(1 + 1 / i)!r}))"
        f" * (o{i}::double - (n::double * {math.log10(1 + 1 / i)!r}))"
        f" / (n::double * {math.log10(1 + 1 / i)!r}))"
        for i in range(1, 10)
    )
    return f"""
        with base as (
            select substr(floor(o_totalprice * 100 + 0.5)::bigint::varchar,
                          1, 1)::int as d
            from orders
        ),
        agg as (
            select count(*)::bigint as n, {obs}
            from base where d >= 1
        )
        select n, {", ".join(f"o{i}" for i in range(1, 10))},
               {chi} as chi2
        from agg
    """


ORACLES["q_benford_check"] = _dk_benford_sql()
ORACLES["q_survival_table"] = """
    with per as (
        select user_id,
               min(case when event_type = 'view' then ts end) as first_view
        from events group by user_id
    ),
    pur as (
        select e.user_id, min(e.ts) as fp
        from events e join per using (user_id)
        where e.event_type = 'purchase' and e.ts >= per.first_view
        group by e.user_id
    ),
    mx as (select max(ts::date) as maxd from events),
    durs as (
        select coalesce(
                   date_diff('day', first_view::date, fp::date),
                   date_diff('day', first_view::date, maxd)
               )::bigint as dur,
               fp is not null as converted
        from per left join pur using (user_id), mx
        where first_view is not null
    ),
    hist as (
        select dur,
               sum(case when converted then 1 else 0 end)::bigint as d_events,
               sum(case when converted then 0 else 1 end)::bigint as c_censored
        from durs group by dur
    )
    select dur,
           sum(d_events + c_censored) over (
               order by dur
               rows between current row and unbounded following
           )::bigint as n_at_risk,
           d_events, c_censored
    from hist order by dur
"""
ORACLES["q_bloom_filter"] = """
    with members as (
        select c_custkey as key from customer
        where c_mktsegment = 'BUILDING'
    ),
    mh as (select md5(concat('bloom:', key::varchar)) as h from members),
    bits as (
        select distinct
               ('0x' || substr(h, 1 + 8 * i, 8))::bigint % 1024 as bit
        from mh, (values (0), (1), (2), (3)) s(i)
    ),
    probes as (select distinct o_custkey as key from orders),
    ph as (
        select key, md5(concat('bloom:', key::varchar)) as h from probes
    ),
    kp as (
        select distinct key,
               ('0x' || substr(h, 1 + 8 * i, 8))::bigint % 1024 as bit
        from ph, (values (0), (1), (2), (3)) s(i)
    ),
    npos as (select key, count(*)::bigint as n_pos from kp group by key),
    nhit as (
        select key, count(*)::bigint as n_hit
        from kp join bits using (bit) group by key
    ),
    verd as (
        select npos.key, coalesce(n_hit, 0) = n_pos as maybe_member
        from npos left join nhit using (key)
    ),
    truth as (
        select p.key, m.key is not null as is_member
        from probes p left join members m on m.key = p.key
    ),
    agg as (
        select count(*)::bigint as n_probed,
               sum(case when maybe_member then 1 else 0 end)::bigint
                   as n_maybe,
               sum(case when is_member then 1 else 0 end)::bigint as n_true,
               sum(case when maybe_member and not is_member then 1 else 0
                   end)::bigint as n_false_pos
        from verd join truth using (key)
    )
    select n_probed, n_maybe, n_true, n_false_pos,
           n_false_pos::double / (n_probed - n_true)::double as fp_rate
    from agg
"""
# streaming bloom accumulates the IDENTICAL bit set (union commutes and
# absorbs replays) -> shares the batch filter's oracle
ORACLES["q_streaming_bloom"] = ORACLES["q_bloom_filter"]
ORACLES["q_changepoint"] = """
    with daily as (
        select o_orderdate::date as d,
               sum(floor(o_totalprice * 100 + 0.5)::bigint)::bigint as x
        from orders group by 1
    ),
    cum as (
        select d,
               row_number() over (order by d) as t,
               sum(x) over (order by d
                            rows between unbounded preceding
                            and current row) as prefix,
               count(*) over () as n,
               sum(x) over () as s
        from daily
    ),
    scored as (
        select d, t::bigint as t, prefix, n::bigint as n, s,
               abs(n * prefix - t * s) as c
        from cum
    )
    select strftime(d, '%Y-%m-%d') as change_day,
           c::varchar::double as cusum_scaled,
           prefix::varchar::double / t::double as mean_before_cents,
           (s - prefix)::varchar::double / (n - t)::double as mean_after_cents
    from scored order by c desc, d limit 1
"""


ORACLES["q_cohort_ltv"] = """
    with firsts as (
        select user_id, date_trunc('week', min(ts))::date as cohort_week
        from events group by user_id
    ),
    sizes as (
        select cohort_week, count(*)::bigint as cohort_n
        from firsts group by 1
    ),
    per_age as (
        select f.cohort_week,
               (date_diff('day', f.cohort_week,
                          date_trunc('week', e.ts)::date) // 7)::bigint
                   as weeks_since,
               sum(floor(e.value * 100 + 0.5)::bigint)::bigint as week_cents
        from events e join firsts f using (user_id)
        group by 1, 2
    ),
    cum as (
        select cohort_week, weeks_since, week_cents,
               sum(week_cents) over (
                   partition by cohort_week order by weeks_since
                   rows between unbounded preceding and current row
               )::bigint as cum_cents
        from per_age
    )
    select strftime(cohort_week, '%Y-%m-%d') as cohort_week, weeks_since,
           week_cents, cum_cents, cohort_n,
           cum_cents::double / cohort_n::double as ltv_per_user_cents
    from cum join sizes using (cohort_week)
    order by 1, 2
"""
ORACLES["q_audience_overlap"] = """
    with inc as (select distinct event_type, user_id from events),
    inter as (
        select a.event_type as ta, b.event_type as tb,
               count(*)::bigint as n_both
        from inc a join inc b
          on a.user_id = b.user_id and a.event_type < b.event_type
        group by 1, 2
    ),
    marg as (
        select event_type, count(*)::bigint as n_users
        from inc group by 1
    )
    select ta, tb, ma.n_users as n_a, mb.n_users as n_b, n_both,
           n_both::double
               / (ma.n_users + mb.n_users - n_both)::double as jaccard
    from inter
    join marg ma on ma.event_type = ta
    join marg mb on mb.event_type = tb
    order by ta, tb
"""
ORACLES["q_simhash_eval"] = f"""
    with sims as ({_DK_SIMHASH_SQL}),
    t as (
        select doc_id, source, list_distinct({_DK_SHINGLES}) as sh
        from (select doc_id, source, {_DK_TOKENS} as w from documents)
    ),
    p as (
        select a.doc_id as a, b.doc_id as b,
               len(list_distinct(list_intersect(a.sh, b.sh)))::double
                   / len(list_distinct(a.sh || b.sh)) as jaccard
        from t a join t b
          on a.source = b.source and a.doc_id < b.doc_id
         and b.doc_id - a.doc_id <= 100
    ),
    scored as (
        select (jaccard >= 0.5) as actual,
               (bit_count(xor(sa.simhash, sb.simhash)) <= 9) as predicted
        from p
        join sims sa on sa.doc_id = p.a
        join sims sb on sb.doc_id = p.b
    ),
    agg as (
        select
            sum(case when actual and predicted then 1 else 0 end)::bigint
                as tp,
            sum(case when not actual and predicted then 1 else 0 end)::bigint
                as fp,
            sum(case when actual and not predicted then 1 else 0 end)::bigint
                as fn,
            sum(case when not actual and not predicted then 1 else 0
                end)::bigint as tn
        from scored
    )
    select tp, fp, fn, tn,
           case when tp + fp > 0
                then tp::double / (tp + fp)::double end as "precision",
           case when tp + fn > 0
                then tp::double / (tp + fn)::double end as recall
    from agg
"""
ORACLES["q_ab_cuped"] = """
    with b as (select min(ts::date) as d0, max(ts::date) as d1 from events),
    pu as (
        select user_id,
               sum(case when date_diff('day', d0, ts::date)
                             < date_diff('day', d0, d1) // 2
                        then floor(value * 100 + 0.5)::bigint
                        else 0 end)::bigint as pre,
               sum(case when date_diff('day', d0, ts::date)
                             >= date_diff('day', d0, d1) // 2
                        then floor(value * 100 + 0.5)::bigint
                        else 0 end)::bigint as post
        from events, b group by user_id
    ),
    pv as (
        select user_id, pre, post,
               ('0x' || substr(md5(user_id::varchar), 1, 8))::bigint % 2
                   as variant
        from pu
    ),
    g as (
        select count(*)::bigint as n, sum(pre) as sx, sum(post) as sy,
               sum(pre::hugeint * pre) as sxx,
               sum(pre::hugeint * post) as sxy
        from pv
    ),
    v as (
        select variant, count(*)::bigint as n_v,
               sum(pre) as sx_v, sum(post) as sy_v
        from pv group by variant
    )
    select variant::bigint as variant, n_v,
           sy_v::varchar::double / n_v::double as mean_post_cents,
           (n * sxy - sx * sy)::varchar::double
               / (n * sxx - sx * sx)::varchar::double as theta,
           (sy_v::varchar::double / n_v::double)
               - ((n * sxy - sx * sy)::varchar::double
                  / (n * sxx - sx * sx)::varchar::double)
                 * ((sx_v::varchar::double / n_v::double)
                    - (sx::varchar::double / n::double)) as adjusted_mean_cents
    from v, g order by variant
"""


ORACLES["q_lorenz_deciles"] = """
    with per as (
        select o_custkey,
               sum(floor(o_totalprice * 100 + 0.5)::bigint)::bigint as rev
        from orders group by o_custkey
    ),
    ranked as (
        select rev,
               row_number() over (order by rev, o_custkey) as i,
               count(*) over () as n
        from per
    ),
    dec as (
        select ((10 * (i - 1)) // n + 1)::bigint as decile,
               count(*)::bigint as n_cust,
               sum(rev) as dc
        from ranked group by 1
    )
    select decile, n_cust,
           dc::varchar::double as decile_cents,
           (sum(dc) over (order by decile
                rows between unbounded preceding and current row))::varchar::double
               as cum_cents,
           (sum(dc) over (order by decile
                rows between unbounded preceding and current row))::varchar::double
               / (sum(dc) over ())::varchar::double as cum_share
    from dec order by decile
"""
ORACLES["q_order_gaps"] = """
    with g as (
        select o_custkey,
               date_diff('day',
                         lag(o_orderdate::date) over w,
                         o_orderdate::date)::bigint as gap
        from orders
        window w as (partition by o_custkey
                     order by o_orderdate::date, o_orderkey)
    ),
    agg as (
        select o_custkey, count(*)::bigint as n_orders,
               sum(gap)::bigint as sum_gap_days,
               max(gap)::bigint as max_gap_days
        from g group by o_custkey
    )
    select o_custkey, n_orders, sum_gap_days, max_gap_days,
           sum_gap_days::double / (n_orders - 1)::double as mean_gap_days
    from agg where n_orders >= 2
    order by o_custkey
"""
ORACLES["q_readability"] = f"""
    with base as (
        select doc_id,
               len({_DK_TOKENS})::bigint as n_words,
               greatest(len(regexp_extract_all(text, '[.!?]+')), 1)::bigint
                   as n_sentences,
               len(regexp_extract_all(lower(text), '[aeiou]+'))::bigint
                   as n_syllables
        from documents
    )
    select doc_id, n_words, n_sentences, n_syllables,
           206.835
               - 1.015 * (n_words::double / n_sentences::double)
               - 84.6 * (n_syllables::double / n_words::double) as flesch
    from base
    where n_words > 0
    order by doc_id
"""
ORACLES["q_weekday_decompose"] = """
    with daily as (
        select o_orderdate::date as d,
               sum(floor(o_totalprice * 100 + 0.5)::bigint)::bigint as x
        from orders group by 1
    ),
    per_wd as (
        select isodow(d)::bigint as iso_weekday,
               count(*)::bigint as n_days,
               sum(x) as s
        from daily group by 1
    )
    select iso_weekday, n_days, s::varchar::double as sum_cents,
           s::varchar::double / n_days::double as weekday_mean_cents,
           s::varchar::double / n_days::double
               - (sum(s) over ())::varchar::double / (sum(n_days) over ())::varchar::double
               as effect_cents
    from per_wd order by iso_weekday
"""


_DK_BPE_COUNT = (
    "len(regexp_extract_all(lower(text),"
    " ' ?[a-z]+| ?[0-9]+| ?[^\\sa-z0-9]+'))::bigint"
)

ORACLES["q_tokenizer_fertility"] = f"""
    with agg as (
        select source, count(*)::bigint as n_docs,
               sum(len({_DK_TOKENS})::bigint)::bigint as n_words,
               sum({_DK_BPE_COUNT})::bigint as n_bpe_tokens,
               sum(length(text)::bigint)::bigint as n_chars
        from documents group by source
    )
    select source, n_docs, n_words, n_bpe_tokens, n_chars,
           n_bpe_tokens::double / n_words::double as fertility,
           n_chars::double / n_bpe_tokens::double as chars_per_token
    from agg order by source
"""
ORACLES["q_mixture_temperature"] = """
    with counts as (
        select source, count(*)::bigint as n_docs
        from documents group by source
    ),
    scaled as (
        select source, n_docs,
               floor(sqrt(n_docs::double) * 1e9 + 0.5)::bigint as sq
        from counts
    )
    select source, n_docs,
           n_docs::double
               / (sum(n_docs) over (order by source
                    rows between unbounded preceding
                    and unbounded following))::double as share_raw,
           sq::double
               / (sum(sq) over (order by source
                    rows between unbounded preceding
                    and unbounded following))::double as weight_t05
    from scaled order by source
"""
ORACLES["q_dataset_card"] = f"""
    with agg as (
        select source, count(*)::bigint as n_docs,
               sum(len({_DK_TOKENS})::bigint)::bigint as n_words,
               sum({_DK_BPE_COUNT})::bigint as n_bpe_tokens,
               sum(length(text)::bigint)::bigint as n_chars,
               sum(case when lang = 'en' then 1 else 0 end)::bigint as n_en,
               count(distinct md5(text))::bigint as n_unique_texts
        from documents group by source
    )
    select source, n_docs, n_words, n_bpe_tokens, n_chars,
           n_words::double / n_docs::double as mean_words_per_doc,
           n_en::double / n_docs::double as share_en,
           1.0 - n_unique_texts::double / n_docs::double as exact_dup_rate
    from agg order by source
"""


ORACLES["q_cross_source_dups"] = f"""
    with recursive
    {_DK_LSH_PAIR_CTES}
    select least(sa.source, sb.source) as source_lo,
           greatest(sa.source, sb.source) as source_hi,
           count(*)::bigint as n_pairs
    from pairs p
    join documents sa on sa.doc_id = p.a
    join documents sb on sb.doc_id = p.b
    group by 1, 2
    order by 1, 2
"""


ORACLES["q_equi_depth_histogram"] = """
    with vals as (
        select o_orderkey,
               floor(o_totalprice * 100 + 0.5)::bigint as cents
        from orders
    ),
    ranked as (
        select cents,
               row_number() over (order by cents, o_orderkey) as i,
               count(*) over () as n
        from vals
    )
    select ((10 * (i - 1)) // n + 1)::bigint as bucket,
           count(*)::bigint as n_rows,
           min(cents)::bigint as lo_cents,
           max(cents)::bigint as hi_cents,
           sum(cents)::varchar::double as sum_cents
    from ranked
    group by 1
    order by 1
"""


ORACLES["q_sax_symbols"] = """
    with daily as (
        select o_orderdate::date as d,
               sum(floor(o_totalprice * 100 + 0.5)::bigint)::bigint as x
        from orders group by 1
    ),
    stats as (
        select d, x,
               count(*) over ()::bigint as n,
               sum(x) over () as sx,
               sum(x::hugeint * x) over () as sxx
        from daily
    ),
    z as (
        select d, x,
               (x::double - sx::varchar::double / n::double)
                   / sqrt((n * sxx - sx * sx)::varchar::double / (n * n)::double)
                   as z
        from stats
    )
    select strftime(d, '%Y-%m-%d') as day, x::bigint as cents, z,
           case when z < -0.6745 then 'a'
                when z < 0.0 then 'b'
                when z < 0.6745 then 'c'
                else 'd' end as sax_symbol
    from z order by day
"""
ORACLES["q_join_cardinality_est"] = """
    with la as (select l_orderkey::varchar as key from lineitem),
    ob as (select o_orderkey::varchar as key from orders),
    ca as (
        select k.d as depth_idx,
               ('0x' || substr(md5('cms:' || key), 1 + 8 * k.d, 8))::bigint
                   % 1024 as bucket,
               count(*)::bigint as cnt
        from la cross join (values (0), (1), (2), (3)) as k(d)
        group by 1, 2
    ),
    cb as (
        select k.d as depth_idx,
               ('0x' || substr(md5('cms:' || key), 1 + 8 * k.d, 8))::bigint
                   % 1024 as bucket,
               count(*)::bigint as cnt
        from ob cross join (values (0), (1), (2), (3)) as k(d)
        group by 1, 2
    ),
    ip as (
        select ca.depth_idx,
               sum(ca.cnt::hugeint * cb.cnt)::bigint as v
        from ca join cb using (depth_idx, bucket)
        group by 1
    ),
    est as (select min(v)::bigint as est_join_size from ip),
    exact as (
        select sum(a.na::hugeint * b.nb)::bigint as exact_join_size
        from (select key, count(*)::bigint as na from la group by key) a
        join (select key, count(*)::bigint as nb from ob group by key) b
          using (key)
    )
    select est_join_size, exact_join_size,
           est_join_size::double / exact_join_size::double
               as overestimate_ratio
    from est, exact
"""


ORACLES["q_lsh_recall_eval"] = f"""
    with sig as ({_DK_MINHASH_SQL}),
    bands as (
        select doc_id, 0 as band_id, mh0 as v0, mh1 as v1 from sig
        union all select doc_id, 1, mh2, mh3 from sig
        union all select doc_id, 2, mh4, mh5 from sig
        union all select doc_id, 3, mh6, mh7 from sig
    ),
    cand as (
        select distinct l.doc_id as a, r.doc_id as b
        from bands l join bands r
          on l.band_id = r.band_id and l.v0 = r.v0 and l.v1 = r.v1
         and l.doc_id < r.doc_id
    ),
    t as (
        select doc_id, source, list_distinct({_DK_SHINGLES}) as sh
        from (select doc_id, source, {_DK_TOKENS} as w from documents)
    ),
    p as (
        select a.doc_id as a, b.doc_id as b,
               len(list_distinct(list_intersect(a.sh, b.sh)))::double
                   / len(list_distinct(a.sh || b.sh)) as jaccard
        from t a join t b
          on a.source = b.source and a.doc_id < b.doc_id
         and b.doc_id - a.doc_id <= 100
    ),
    scored as (
        select (p.jaccard >= 0.5) as actual,
               (c.a is not null) as predicted
        from p left join cand c on c.a = p.a and c.b = p.b
    ),
    agg as (
        select
            sum(case when actual and predicted then 1 else 0 end)::bigint
                as tp,
            sum(case when not actual and predicted then 1 else 0 end)::bigint
                as fp,
            sum(case when actual and not predicted then 1 else 0 end)::bigint
                as fn,
            sum(case when not actual and not predicted then 1 else 0
                end)::bigint as tn
        from scored
    )
    select tp, fp, fn, tn,
           case when tp + fn > 0
                then tp::double / (tp + fn)::double end as recall,
           case when tp + fp > 0
                then tp::double / (tp + fp)::double end
               as candidate_precision
    from agg
"""
ORACLES["q_price_index"] = """
    with base as (
        select strftime(o_orderdate, '%Y-%m') as month, l_partkey,
               sum(floor(l_extendedprice * 100 + 0.5)::bigint)::bigint as c,
               sum(l_quantity::bigint)::bigint as q
        from lineitem join orders on l_orderkey = o_orderkey
        group by 1, 2
    ),
    m0 as (
        select l_partkey, c as c0, q as q0 from base
        where month = (select min(month) from base)
    ),
    joined as (
        select month,
               (b.c::hugeint * m0.q0 * 1000000) // b.q as pt_q0_micro,
               m0.c0::hugeint * 1000000 as p0_q0_micro
        from base b join m0 using (l_partkey)
    )
    select month,
           sum(pt_q0_micro)::varchar::double / sum(p0_q0_micro)::varchar::double
               as laspeyres_index
    from joined group by month order by month
"""


# -- round 8: rank statistics ------------------------------------------------

QUERIES["q_spearman_corr"] = q_spearman_corr
ORACLES["q_spearman_corr"] = """
    with per as (
        select o_custkey, count(*)::bigint as f,
               sum(floor(o_totalprice * 100 + 0.5)::bigint)::bigint as m
        from orders group by o_custkey
    ),
    r as (
        select row_number() over (order by f, o_custkey) as rf,
               row_number() over (order by m, o_custkey) as rm,
               count(*) over () as n
        from per
    ),
    a as (
        select max(n)::bigint as n,
               sum(rf::hugeint) as sx, sum(rm::hugeint) as sy,
               sum(rf::hugeint * rf) as sxx,
               sum(rf::hugeint * rm) as sxy,
               sum(rm::hugeint * rm) as syy
        from r
    )
    select n,
           (n * sxy - sx * sy)::varchar::double
               / (sqrt((n * sxx - sx * sx)::varchar::double)
                  * sqrt((n * syy - sy * sy)::varchar::double))
               as spearman_rho
    from a
"""

QUERIES["q_kruskal_wallis"] = q_kruskal_wallis
ORACLES["q_kruskal_wallis"] = """
    with r as (
        select event_type,
               row_number() over (order by value, event_id) as rk
        from events
    ),
    g as (
        select event_type, count(*)::bigint as n_g,
               sum(rk::hugeint)::varchar::double as r_g
        from r group by event_type
    ),
    p as (
        select
            max(case when event_type = 'click' then n_g end) as n_g_0,
            max(case when event_type = 'click' then r_g end) as r_g_0,
            max(case when event_type = 'error' then n_g end) as n_g_1,
            max(case when event_type = 'error' then r_g end) as r_g_1,
            max(case when event_type = 'purchase' then n_g end) as n_g_2,
            max(case when event_type = 'purchase' then r_g end) as r_g_2,
            max(case when event_type = 'signup' then n_g end) as n_g_3,
            max(case when event_type = 'signup' then r_g end) as r_g_3,
            max(case when event_type = 'view' then n_g end) as n_g_4,
            max(case when event_type = 'view' then r_g end) as r_g_4
        from g
    )
    select 5::bigint as k,
           (n_g_0 + n_g_1 + n_g_2 + n_g_3 + n_g_4)::bigint as n_total,
           12.0 / ((n_g_0 + n_g_1 + n_g_2 + n_g_3 + n_g_4)::double
                   * ((n_g_0 + n_g_1 + n_g_2 + n_g_3 + n_g_4)::double + 1.0))
               * ((r_g_0 * r_g_0 / n_g_0::double)
                  + (r_g_1 * r_g_1 / n_g_1::double)
                  + (r_g_2 * r_g_2 / n_g_2::double)
                  + (r_g_3 * r_g_3 / n_g_3::double)
                  + (r_g_4 * r_g_4 / n_g_4::double))
           - 3.0 * ((n_g_0 + n_g_1 + n_g_2 + n_g_3 + n_g_4)::double + 1.0)
               as h_stat
    from p
"""

QUERIES["q_roc_auc"] = q_roc_auc
ORACLES["q_roc_auc"] = """
    with r as (
        select event_type,
               row_number() over (order by value, event_id) as rk
        from events where event_type in ('purchase', 'view')
    ),
    a as (
        select sum(case when event_type = 'purchase' then 1 else 0 end)::bigint
                   as n_pos,
               sum(case when event_type = 'view' then 1 else 0 end)::bigint
                   as n_neg,
               sum(case when event_type = 'purchase' then rk::hugeint
                        else 0 end) as r_pos
        from r
    )
    select n_pos, n_neg,
           (2 * r_pos - n_pos::hugeint * (n_pos + 1))::varchar::double
               / (2 * n_pos::hugeint * n_neg)::varchar::double as auc
    from a
"""

QUERIES["q_kendall_tau_daily"] = q_kendall_tau_daily
ORACLES["q_kendall_tau_daily"] = """
    with daily as (
        select o_orderdate::date as dd,
               sum(floor(o_totalprice * 100 + 0.5)::bigint)::bigint as x,
               count(*)::bigint as y
        from orders group by 1
    ),
    pairs as (
        select a.x as xa, a.y as ya, b.x as xb, b.y as yb
        from daily a join daily b on a.dd < b.dd
    ),
    agg as (
        select count(*)::bigint as n0,
               sum(case when (xb - xa) * (yb - ya) > 0 then 1 else 0 end)::bigint as c,
               sum(case when (xb - xa) * (yb - ya) < 0 then 1 else 0 end)::bigint as d,
               sum(case when xa = xb then 1 else 0 end)::bigint as tx,
               sum(case when ya = yb then 1 else 0 end)::bigint as ty
        from pairs
    )
    select n0, c, d, tx, ty,
           (c - d)::double
               / (sqrt((n0 - tx)::double) * sqrt((n0 - ty)::double)) as tau_b
    from agg
"""


# -- round 8: economic readouts ----------------------------------------------

QUERIES["q_herfindahl"] = q_herfindahl
ORACLES["q_herfindahl"] = """
    with per_nat as (
        select c_nationkey,
               sum(floor(o_totalprice * 100 + 0.5)::bigint)::bigint as s_i
        from orders join customer on o_custkey = c_custkey
        group by c_nationkey
    )
    select r_name as region,
           count(*)::bigint as n_nations,
           sum(s_i)::bigint as total_cents,
           sum(s_i::hugeint * s_i)::varchar::double
               / (sum(s_i)::varchar::double * sum(s_i)::varchar::double)
               as hhi
    from per_nat
    join nation on c_nationkey = n_nationkey
    join region on n_regionkey = r_regionkey
    group by r_name
    order by region
"""

QUERIES["q_winsorized_mean"] = q_winsorized_mean
ORACLES["q_winsorized_mean"] = """
    with vals as (
        select o_orderkey,
               floor(o_totalprice * 100 + 0.5)::bigint as cents
        from orders
    ),
    ranked as (
        select cents,
               row_number() over (order by cents, o_orderkey) as rn,
               count(*) over () as n
        from vals
    ),
    bounds as (
        select min(case when rn = (5 * (n - 1)) // 100 + 1 then cents end)
                   as lo_cents,
               min(case when rn = (95 * (n - 1)) // 100 + 1 then cents end)
                   as hi_cents
        from ranked
    )
    select lo_cents, hi_cents,
           count(*)::bigint as n,
           sum(greatest(lo_cents, least(hi_cents, cents)))::varchar::double
               / count(*)::double as winsorized_mean_cents
    from vals, bounds
    group by lo_cents, hi_cents
"""

QUERIES["q_abc_pareto"] = q_abc_pareto
ORACLES["q_abc_pareto"] = """
    with per_part as (
        select l_partkey,
               sum(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                   ::bigint)::bigint as rev
        from lineitem group by l_partkey
    ),
    cum as (
        select rev,
               sum(rev) over (order by -rev, l_partkey
                   rows between unbounded preceding and current row) as c,
               sum(rev) over () as total
        from per_part
    ),
    classed as (
        select rev,
               case when c::hugeint * 100 <= total * 80 then 'A'
                    when c::hugeint * 100 <= total * 95 then 'B'
                    else 'C' end as abc_class
        from cum
    )
    select abc_class,
           count(*)::bigint as n_parts,
           sum(rev)::bigint as class_revenue_cents
    from classed group by abc_class order by abc_class
"""

QUERIES["q_mom_growth"] = q_mom_growth
ORACLES["q_mom_growth"] = """
    with monthly as (
        select strftime(o_orderdate::date, '%Y-%m') as month,
               sum(floor(o_totalprice * 100 + 0.5)::bigint)::bigint
                   as rev_cents
        from orders group by 1
    )
    select month, rev_cents,
           lag(rev_cents) over (order by month) as prev_cents,
           (rev_cents - lag(rev_cents) over (order by month))::double
               / (lag(rev_cents) over (order by month))::double as mom_ratio
    from monthly order by month
"""


# -- round 8: curation / corpus-assembly -------------------------------------

QUERIES["q_ngram_novelty"] = q_ngram_novelty
ORACLES["q_ngram_novelty"] = f"""
    with t as (select doc_id, {_DK_TOKENS} as w from documents),
    shex as (select doc_id, unnest({_DK_SHINGLES}) as s from t),
    sh as (
        select distinct doc_id, {_DK_HASH32} as h from shex
    ),
    first as (select h, min(doc_id) as first_doc from sh group by h),
    per_doc as (
        select sh.doc_id,
               count(*)::bigint as n_shingles,
               sum(case when first.first_doc = sh.doc_id then 1 else 0
                   end)::bigint as n_novel
        from sh join first using (h)
        group by sh.doc_id
    )
    select doc_id, n_shingles, n_novel,
           n_novel::double / n_shingles::double as novelty_share
    from per_doc order by doc_id
"""

QUERIES["q_vocab_overlap_sources"] = q_vocab_overlap_sources
ORACLES["q_vocab_overlap_sources"] = f"""
    with tok as (select source, unnest({_DK_TOKENS}) as s from documents),
    voc as (select distinct source, {_DK_HASH32} as h from tok),
    sizes as (select source, count(*)::bigint as n from voc group by source),
    inter as (
        select a.source as source_a, b.source as source_b,
               count(*)::bigint as n_common
        from voc a join voc b on a.h = b.h and a.source < b.source
        group by 1, 2
    )
    select source_a, source_b,
           sa.n as n_a, sb.n as n_b, n_common,
           n_common::double / (sa.n + sb.n - n_common)::double
               as vocab_jaccard
    from inter
    join sizes sa on sa.source = inter.source_a
    join sizes sb on sb.source = inter.source_b
    order by source_a, source_b
"""

QUERIES["q_rag_chunk_overlap"] = q_rag_chunk_overlap
ORACLES["q_rag_chunk_overlap"] = f"""
    with base as (
        select doc_id, len({_DK_TOKENS})::bigint as n_tokens
        from documents
    ),
    starts as (
        select doc_id, n_tokens, unnest(generate_series(0, n_tokens - 1, 48))
                   as tok_start
        from base where n_tokens >= 1
    )
    select doc_id,
           (tok_start // 48)::bigint as chunk_id,
           tok_start::bigint as tok_start,
           least(tok_start + 64, n_tokens)::bigint as tok_end,
           (least(tok_start + 64, n_tokens) - tok_start)::bigint
               as chunk_tokens,
           least(tok_start + 64, n_tokens) = n_tokens as is_last
    from starts order by doc_id, chunk_id
"""

QUERIES["q_reservoir_sample"] = q_reservoir_sample
ORACLES["q_reservoir_sample"] = """
    with hashed as (
        select doc_id, source,
               ('0x' || substr(md5(doc_id::varchar), 1, 8))::bigint as h
        from documents
    ),
    ranked as (
        select doc_id, source,
               row_number() over (order by h, doc_id) as rn
        from hashed
    )
    select doc_id, source, rn::bigint as sample_rank
    from ranked where rn <= 100 order by sample_rank
"""

QUERIES["q_multimodal_dedup"] = q_multimodal_dedup
ORACLES["q_multimodal_dedup"] = """
    with feats as (
        select doc_id as media_id, sha256(text) as content_digest
        from documents
    )
    select media_id, content_digest,
           count(*) over (partition by content_digest)::bigint as group_size,
           media_id = min(media_id) over (partition by content_digest)
               as is_canonical
    from feats order by media_id
"""

QUERIES["q_dup_cluster_size_dist"] = q_dup_cluster_size_dist
ORACLES["q_dup_cluster_size_dist"] = f"""
    with base as ({ORACLES["q_dedup_clusters"]}),
    sizes as (
        select cluster_rep, count(*)::bigint as cluster_size
        from base group by cluster_rep
    )
    select cluster_size, count(*)::bigint as n_clusters
    from sizes group by cluster_size order by cluster_size
"""


# -- round 8: relational / temporal scenarios --------------------------------

QUERIES["q_fifo_match"] = q_fifo_match
ORACLES["q_fifo_match"] = """
    with base as (
        select user_id, event_id, event_type,
               floor(epoch(ts))::bigint as ep
        from events
    ),
    v as (
        select user_id,
               row_number() over (partition by user_id
                                  order by ep, event_id) as k,
               ep as view_ep
        from base where event_type = 'view'
    ),
    p as (
        select user_id,
               row_number() over (partition by user_id
                                  order by ep, event_id) as k,
               ep as purchase_ep
        from base where event_type = 'purchase'
    ),
    m as (select p.user_id, purchase_ep, view_ep from p join v using (user_id, k))
    select user_id,
           count(*)::bigint as n_matched,
           sum(purchase_ep - view_ep)::bigint as total_wait_seconds,
           sum(purchase_ep - view_ep)::varchar::double / count(*)::double
               as mean_wait_seconds
    from m group by user_id order by user_id
"""

QUERIES["q_null_skew_join"] = q_null_skew_join
ORACLES["q_null_skew_join"] = """
    with facts as (
        select o_orderkey,
               case when o_custkey % 5 = 0 then null
                    else o_custkey end as cust_key,
               floor(o_totalprice * 100 + 0.5)::bigint as cents
        from orders
    )
    select o_orderkey, cents,
           c_mktsegment as segment,
           c_mktsegment is not null as attributed
    from facts left join customer on cust_key = c_custkey
    order by o_orderkey
"""

QUERIES["q_funnel_windowed"] = q_funnel_windowed
ORACLES["q_funnel_windowed"] = """
    with base as (
        select user_id, event_type, floor(epoch(ts))::bigint as ep
        from events
    ),
    fv as (
        select user_id, min(ep) as view_ep
        from base where event_type = 'view' group by user_id
    ),
    fc as (
        select b.user_id, min(ep) as click_ep
        from base b join fv using (user_id)
        where event_type = 'click'
          and ep >= view_ep and ep <= view_ep + 3600
        group by b.user_id
    ),
    fp as (
        select b.user_id, min(ep) as purchase_ep
        from base b join fc using (user_id)
        where event_type = 'purchase'
          and ep >= click_ep and ep <= click_ep + 86400
        group by b.user_id
    ),
    agg as (
        select count(*)::bigint as n_viewed,
               count(click_ep)::bigint as n_clicked_1h,
               count(purchase_ep)::bigint as n_purchased_24h
        from fv left join fc using (user_id) left join fp using (user_id)
    )
    select n_viewed, n_clicked_1h, n_purchased_24h,
           n_clicked_1h::double / n_viewed::double as click_rate,
           n_purchased_24h::double / n_viewed::double as conversion_rate
    from agg
"""

QUERIES["q_late_arriving_dim"] = q_late_arriving_dim
ORACLES["q_late_arriving_dim"] = """
    with facts as (
        select o_orderkey, o_custkey,
               floor(o_totalprice * 100 + 0.5)::bigint as cents
        from orders
    )
    select coalesce(c_nationkey::bigint, -1) as nationkey,
           count(*)::bigint as n_orders,
           sum(cents)::bigint as revenue_cents,
           sum(case when o_custkey % 5 = 0 then 1 else 0 end)::bigint
               as n_late_resolved
    from facts left join customer on o_custkey = c_custkey
    group by 1 order by 1
"""

QUERIES["q_cumulative_distinct_daily"] = q_cumulative_distinct_daily
ORACLES["q_cumulative_distinct_daily"] = """
    with firsts as (
        select user_id, min(ts::date) as first_day from events group by user_id
    ),
    per_day as (
        select first_day, count(*)::bigint as n_new_users
        from firsts group by first_day
    )
    select strftime(first_day, '%Y-%m-%d') as day,
           n_new_users,
           sum(n_new_users) over (order by first_day
               rows between unbounded preceding and current row)::bigint
               as users_to_date
    from per_day order by day
"""

QUERIES["q_decile_transition"] = q_decile_transition
ORACLES["q_decile_transition"] = """
    with base as (
        select o_custkey, o_orderdate::date as d,
               floor(o_totalprice * 100 + 0.5)::bigint as cents
        from orders
    ),
    bounds as (
        select min(d) + ((max(d) - min(d)) // 2)::integer as mid from base
    ),
    halves as (
        select o_custkey,
               sum(case when d <= mid then cents else 0 end)::bigint
                   as h1_cents,
               sum(case when d > mid then cents else 0 end)::bigint
                   as h2_cents,
               sum(case when d <= mid then 1 else 0 end) as n1,
               sum(case when d > mid then 1 else 0 end) as n2
        from base, bounds group by o_custkey
    ),
    active as (
        select o_custkey, h1_cents, h2_cents
        from halves where n1 > 0 and n2 > 0
    ),
    ranked as (
        select row_number() over (order by h1_cents, o_custkey) as r1,
               row_number() over (order by h2_cents, o_custkey) as r2,
               count(*) over () as n
        from active
    )
    select ((5 * (r1 - 1)) // n + 1)::bigint as q_h1,
           ((5 * (r2 - 1)) // n + 1)::bigint as q_h2,
           count(*)::bigint as n_customers
    from ranked group by 1, 2 order by 1, 2
"""


# -- round 8: LSH parameter sweep + streaming CDC apply ----------------------


def _dk_band_sweep_sql() -> str:
    """DuckDB twin of q_lsh_band_sweep: per (bands, rows) config, the
    value-vector banding over the shared md5 minhash signature CTE plus
    per-candidate true-Jaccard verification (string shingle sets — the
    sizes, hence every value, match the Spark side's hashed sets)."""
    configs = [(2, 4), (4, 2), (8, 1)]
    ctes = [
        f"sig as ({_DK_MINHASH_SQL})",
        f"""sh as (
            select doc_id, list_distinct({_DK_SHINGLES}) as sh
            from (select doc_id, {_DK_TOKENS} as w from documents)
        )""",
    ]
    selects = []
    for bands, r in configs:
        band_rows = " union all ".join(
            "select doc_id, {b} as band_id, [{cols}] as bucket from sig".format(
                b=b, cols=", ".join(f"mh{b * r + i}" for i in range(r))
            )
            for b in range(bands)
        )
        ctes.append(f"bands_{bands} as ({band_rows})")
        selects.append(
            f"""
            select {bands}::bigint as bands, {r}::bigint as rows_per_band,
                   n_candidates, n_true,
                   case when n_candidates > 0
                        then n_true::double / n_candidates::double
                   end as candidate_precision
            from (
                select count(*)::bigint as n_candidates,
                       sum(case when jaccard >= 0.5 then 1 else 0 end)::bigint
                           as n_true
                from (
                    select len(list_distinct(list_intersect(sa.sh, sb.sh)))::double
                               / len(list_distinct(sa.sh || sb.sh)) as jaccard
                    from (
                        select distinct l.doc_id as a, r2.doc_id as b
                        from bands_{bands} l join bands_{bands} r2
                          on l.band_id = r2.band_id and l.bucket = r2.bucket
                         and l.doc_id < r2.doc_id
                    ) c
                    join sh sa on sa.doc_id = c.a
                    join sh sb on sb.doc_id = c.b
                )
            )"""
        )
    return (
        "with " + ",\n".join(ctes) + "\n"
        + " union all ".join(selects)
        + " order by bands"
    )


QUERIES["q_lsh_band_sweep"] = q_lsh_band_sweep
ORACLES["q_lsh_band_sweep"] = _dk_band_sweep_sql()

QUERIES["q_streaming_cdc_apply"] = q_streaming_cdc_apply
ORACLES["q_streaming_cdc_apply"] = ORACLES["q_cdc_apply"]


# -- round 8 batch 2 oracles -------------------------------------------------

QUERIES["q_key_skew_profile"] = q_key_skew_profile
ORACLES["q_key_skew_profile"] = """
    with freq as (
        select user_id, count(*)::bigint as f from events group by user_id
    ),
    per_bucket as (
        select length(bin(f))::bigint as bucket,
               count(*)::bigint as n_keys,
               sum(f)::bigint as bucket_events,
               max(f)::bigint as max_freq
        from freq group by 1
    )
    select bucket, n_keys, bucket_events, max_freq,
           bucket_events::double
               / (sum(bucket_events) over ())::varchar::double
               as events_share
    from per_bucket order by bucket
"""

QUERIES["q_doc_length_histogram"] = q_doc_length_histogram
ORACLES["q_doc_length_histogram"] = f"""
    with base as (
        select source, len({_DK_TOKENS})::bigint as n_tokens from documents
    )
    select source, length(bin(n_tokens))::bigint as bucket,
           count(*)::bigint as n_docs,
           min(n_tokens)::bigint as min_tokens,
           max(n_tokens)::bigint as max_tokens,
           sum(n_tokens)::bigint as total_tokens
    from base group by 1, 2 order by 1, 2
"""

QUERIES["q_embedding_norm_profile"] = q_embedding_norm_profile
ORACLES["q_embedding_norm_profile"] = """
    with inorm as (
        select label,
               floor(sqrt(list_sum(list_transform(generate_series(1, 64),
                   i -> embedding[i]::double * embedding[i]::double)))
                   * 1e6 + 0.5)::bigint as nm
        from embeddings
    ),
    agg as (
        select label, count(*)::bigint as n,
               sum(nm::hugeint) as sx,
               sum(nm::hugeint * nm) as sxx,
               min(nm)::bigint as min_norm_micro,
               max(nm)::bigint as max_norm_micro
        from inorm group by label
    )
    select label::bigint as label, n,
           sx::varchar::double / n::double as mean_norm_micro,
           sqrt((n * sxx - sx * sx)::varchar::double) / n::double
               as std_norm_micro,
           min_norm_micro, max_norm_micro
    from agg order by label
"""

QUERIES["q_rolling_slope"] = q_rolling_slope
ORACLES["q_rolling_slope"] = """
    with daily as (
        select o_orderdate::date as d,
               sum(floor(o_totalprice * 100 + 0.5)::bigint)::bigint as x
        from orders group by 1
    ),
    base as (
        select d, x, (d - min(d) over ())::bigint as t from daily
    ),
    framed as (
        select d, x,
               count(*) over w::bigint as n_frame,
               sum(t) over w as st,
               sum(x) over w as sx,
               sum(t::hugeint * t) over w as stt,
               sum(t::hugeint * x) over w as stx
        from base
        window w as (order by t rows between 27 preceding and current row)
    )
    select strftime(d, '%Y-%m-%d') as day,
           x as rev_cents,
           n_frame,
           case when n_frame >= 2
                 and n_frame * stt - st * st <> 0
                then (n_frame * stx - st * sx)::varchar::double
                     / (n_frame * stt - st * st)::varchar::double
           end as slope_cents_per_day
    from framed order by day
"""

QUERIES["q_seasonality_strength"] = q_seasonality_strength
ORACLES["q_seasonality_strength"] = """
    with daily as (
        select o_orderdate::date as d,
               sum(floor(o_totalprice * 100 + 0.5)::bigint)::bigint as x
        from orders group by 1
    ),
    wk as (select isodow(d)::bigint as wd, x from daily),
    g as (
        select wd, count(*)::bigint as n_g,
               sum(x::hugeint)::varchar::double as s_g,
               sum(x::hugeint * x)::varchar::double as ss_g
        from wk group by wd
    ),
    p as (
        select
            max(case when wd = 1 then n_g end) as n_g_1,
            max(case when wd = 1 then s_g end) as s_g_1,
            max(case when wd = 1 then ss_g end) as ss_g_1,
            max(case when wd = 2 then n_g end) as n_g_2,
            max(case when wd = 2 then s_g end) as s_g_2,
            max(case when wd = 2 then ss_g end) as ss_g_2,
            max(case when wd = 3 then n_g end) as n_g_3,
            max(case when wd = 3 then s_g end) as s_g_3,
            max(case when wd = 3 then ss_g end) as ss_g_3,
            max(case when wd = 4 then n_g end) as n_g_4,
            max(case when wd = 4 then s_g end) as s_g_4,
            max(case when wd = 4 then ss_g end) as ss_g_4,
            max(case when wd = 5 then n_g end) as n_g_5,
            max(case when wd = 5 then s_g end) as s_g_5,
            max(case when wd = 5 then ss_g end) as ss_g_5,
            max(case when wd = 6 then n_g end) as n_g_6,
            max(case when wd = 6 then s_g end) as s_g_6,
            max(case when wd = 6 then ss_g end) as ss_g_6,
            max(case when wd = 7 then n_g end) as n_g_7,
            max(case when wd = 7 then s_g end) as s_g_7,
            max(case when wd = 7 then ss_g end) as ss_g_7
        from p_src
    ),
    p_src as (select * from g)
    select
        (n_g_1 + n_g_2 + n_g_3 + n_g_4 + n_g_5 + n_g_6 + n_g_7)::bigint
            as n_days,
        (((s_g_1 * s_g_1 / n_g_1::double) + (s_g_2 * s_g_2 / n_g_2::double)
          + (s_g_3 * s_g_3 / n_g_3::double) + (s_g_4 * s_g_4 / n_g_4::double)
          + (s_g_5 * s_g_5 / n_g_5::double) + (s_g_6 * s_g_6 / n_g_6::double)
          + (s_g_7 * s_g_7 / n_g_7::double))
         - (s_g_1 + s_g_2 + s_g_3 + s_g_4 + s_g_5 + s_g_6 + s_g_7)
           * (s_g_1 + s_g_2 + s_g_3 + s_g_4 + s_g_5 + s_g_6 + s_g_7)
           / (n_g_1 + n_g_2 + n_g_3 + n_g_4 + n_g_5 + n_g_6 + n_g_7)::double)
            as ssb,
        ((ss_g_1 + ss_g_2 + ss_g_3 + ss_g_4 + ss_g_5 + ss_g_6 + ss_g_7)
         - (s_g_1 + s_g_2 + s_g_3 + s_g_4 + s_g_5 + s_g_6 + s_g_7)
           * (s_g_1 + s_g_2 + s_g_3 + s_g_4 + s_g_5 + s_g_6 + s_g_7)
           / (n_g_1 + n_g_2 + n_g_3 + n_g_4 + n_g_5 + n_g_6 + n_g_7)::double)
            as sst,
        (((s_g_1 * s_g_1 / n_g_1::double) + (s_g_2 * s_g_2 / n_g_2::double)
          + (s_g_3 * s_g_3 / n_g_3::double) + (s_g_4 * s_g_4 / n_g_4::double)
          + (s_g_5 * s_g_5 / n_g_5::double) + (s_g_6 * s_g_6 / n_g_6::double)
          + (s_g_7 * s_g_7 / n_g_7::double))
         - (s_g_1 + s_g_2 + s_g_3 + s_g_4 + s_g_5 + s_g_6 + s_g_7)
           * (s_g_1 + s_g_2 + s_g_3 + s_g_4 + s_g_5 + s_g_6 + s_g_7)
           / (n_g_1 + n_g_2 + n_g_3 + n_g_4 + n_g_5 + n_g_6 + n_g_7)::double)
        / (((ss_g_1 + ss_g_2 + ss_g_3 + ss_g_4 + ss_g_5 + ss_g_6 + ss_g_7)
         - (s_g_1 + s_g_2 + s_g_3 + s_g_4 + s_g_5 + s_g_6 + s_g_7)
           * (s_g_1 + s_g_2 + s_g_3 + s_g_4 + s_g_5 + s_g_6 + s_g_7)
           / (n_g_1 + n_g_2 + n_g_3 + n_g_4 + n_g_5 + n_g_6 + n_g_7)::double))
            as eta2_weekday
    from p
"""


# -- round 8 batch 3: rank/agreement stats, dyadic smoothing, graph
#    refinement, MIPS, adaptive curation, global-share scenarios ------------

QUERIES["q_grouped_median"] = q_grouped_median
ORACLES["q_grouped_median"] = """
    with base as (
        select o_orderpriority, o_orderkey,
               floor(o_totalprice * 100 + 0.5)::bigint as cents
        from orders
    ),
    r as (
        select o_orderpriority, cents,
               row_number() over (partition by o_orderpriority
                                  order by cents, o_orderkey) as rn,
               count(*) over (partition by o_orderpriority) as n
        from base
    )
    select o_orderpriority, max(n)::bigint as n_orders,
           sum(cents)::double / count(*)::double as median_cents
    from r
    where rn = (n + 1) // 2 or rn = n // 2 + 1
    group by o_orderpriority
    order by o_orderpriority
"""

QUERIES["q_cohens_kappa"] = q_cohens_kappa
ORACLES["q_cohens_kappa"] = """
    with j as (
        select c_custkey as ck,
               floor(c_acctbal * 100 + 0.5)::bigint as ac, rev
        from customer
        join (select o_custkey,
                     sum(floor(o_totalprice * 100 + 0.5)::bigint)::bigint
                         as rev
              from orders group by 1) o on c_custkey = o_custkey
    ),
    r as (
        select ck,
               row_number() over (order by ac, ck) as ra,
               row_number() over (order by rev, ck) as rb,
               count(*) over () as n
        from j
    ),
    lab as (
        select ((ra - 1) * 5) // n as qa, ((rb - 1) * 5) // n as qb from r
    ),
    cells as (select qa, qb, count(*)::bigint as m from lab group by 1, 2),
    tot as (
        select sum(m)::bigint as n_customers,
               sum(case when qa = qb then m else 0 end)::bigint as diag
        from cells
    ),
    marg as (
        select rm.qa as k, rm.rk, cm.colk
        from (select qa, sum(m)::hugeint as rk from cells group by 1) rm
        join (select qb, sum(m)::hugeint as colk from cells group by 1) cm
          on rm.qa = cm.qb
    ),
    s as (select sum(rk * colk)::hugeint as s from marg)
    select n_customers, diag,
           (n_customers::hugeint * diag - s)::varchar::double
           / (n_customers::hugeint * n_customers - s)::varchar::double
               as kappa
    from tot cross join s
"""

QUERIES["q_chi2_contingency"] = q_chi2_contingency
ORACLES["q_chi2_contingency"] = """
    with cells as (
        select c_mktsegment, r_name, count(*)::bigint as n_obs
        from customer
        join nation on c_nationkey = n_nationkey
        join region on n_regionkey = r_regionkey
        group by 1, 2
    ),
    rm as (
        select c_mktsegment, sum(n_obs)::hugeint as r_tot
        from cells group by 1
    ),
    cm as (select r_name, sum(n_obs)::hugeint as c_tot from cells group by 1),
    nt as (select sum(n_obs)::bigint as n_total from cells)
    select cells.c_mktsegment, cells.r_name, n_obs,
           (r_tot * c_tot)::varchar::double / n_total::double as expected,
           ((n_total::hugeint * n_obs - r_tot * c_tot)
            * (n_total::hugeint * n_obs - r_tot * c_tot))::varchar::double
           / (n_total::hugeint * r_tot * c_tot)::varchar::double as chi2_term
    from cells
    join rm using (c_mktsegment)
    join cm using (r_name)
    cross join nt
    order by c_mktsegment, r_name
"""

QUERIES["q_ewma_dyadic"] = q_ewma_dyadic
ORACLES["q_ewma_dyadic"] = """
    with daily as (
        select o_orderdate::date as d,
               sum(floor(o_totalprice * 100 + 0.5)::bigint)::bigint as rev
        from orders group by 1
    ),
    lags as (select unnest(generate_series(0, 15)) as i),
    contrib as (
        select d + i::int as da, rev, (1::bigint << (15 - i)::int) as w
        from daily cross join lags
    ),
    j as (
        select c.da, c.rev, c.w from contrib c
        join (select d from daily) a on c.da = a.d
    )
    select da::varchar as d, count(*)::bigint as n_terms,
           sum(rev::hugeint * w)::varchar::double / sum(w)::double
               as ewma_cents
    from j group by da order by d
"""

QUERIES["q_max_drawdown"] = q_max_drawdown
ORACLES["q_max_drawdown"] = """
    with daily as (
        select o_orderdate::date as d,
               sum(floor(o_totalprice * 100 + 0.5)::bigint)::bigint
                   as rev_cents
        from orders group by 1
    ),
    p as (
        select d, rev_cents,
               max(rev_cents) over (
                   order by d
                   rows between unbounded preceding and current row
               )::bigint as peak_cents
        from daily
    )
    select d::varchar as d, rev_cents, peak_cents,
           (peak_cents - rev_cents)::double / peak_cents::double as drawdown
    from p order by d
"""

QUERIES["q_local_clustering"] = q_local_clustering
ORACLES["q_local_clustering"] = """
    with op as (select distinct l_orderkey, l_partkey from lineitem),
    ok as (select l_orderkey from op group by l_orderkey
           having count(*) <= 30),
    op2 as (select op.* from op join ok using (l_orderkey)),
    e as (
        select a.l_partkey as src, b.l_partkey as dst
        from op2 a join op2 b
          on a.l_orderkey = b.l_orderkey and a.l_partkey < b.l_partkey
        group by 1, 2 having count(*) >= 2
    ),
    deg as (
        select node, count(*)::bigint as deg from (
            select src as node from e union all select dst as node from e
        ) group by 1
    ),
    tri as (
        select e1.src as x, e1.dst as y, e2.dst as z
        from e e1
        join e e2 on e1.dst = e2.src
        join e e3 on e3.src = e1.src and e3.dst = e2.dst
    ),
    tc as (
        select node, count(*)::bigint as n_tri from (
            select x as node from tri
            union all select y from tri
            union all select z from tri
        ) group by 1
    )
    select deg.node, deg.deg, coalesce(tc.n_tri, 0)::bigint as n_tri,
           (2 * coalesce(tc.n_tri, 0))::double
           / (deg.deg * (deg.deg - 1))::double as lcc
    from deg left join tc using (node)
    where deg.deg >= 2
    order by deg.node
"""

QUERIES["q_mips_topk"] = q_mips_topk
ORACLES["q_mips_topk"] = f"""
    with p as (
        select q.vec_id as query_id, c.vec_id as neighbor_id,
               {_DK_COSINE.format(a='q.embedding', b='c.embedding')} as ip
        from embeddings q, embeddings c
        where q.vec_id < 5 and c.vec_id != q.vec_id
    )
    select query_id, neighbor_id, rank, ip from (
        select *, row_number() over (
            partition by query_id order by ip desc, neighbor_id
        ) as rank from p
    ) where rank <= 10 order by query_id, rank
"""

QUERIES["q_knn_label_vote"] = q_knn_label_vote
ORACLES["q_knn_label_vote"] = f"""
    with nn as (
        select query_id, neighbor_id from (
            select q.vec_id as query_id, c.vec_id as neighbor_id,
                   row_number() over (
                       partition by q.vec_id
                       order by {_dk_cosine('q.embedding', 'c.embedding')}
                           desc, c.vec_id
                   ) as rank
            from embeddings q, embeddings c
            where q.vec_id < 32 and c.vec_id >= 32
        ) where rank <= 10
    ),
    v as (
        select nn.query_id, e.label, count(*)::bigint as votes
        from nn join embeddings e on nn.neighbor_id = e.vec_id
        group by 1, 2
    )
    select query_id, pred_label, votes from (
        select query_id, label::bigint as pred_label, votes,
               row_number() over (
                   partition by query_id order by votes desc, label
               ) as pick
        from v
    ) where pick = 1 order by query_id
"""

QUERIES["q_revenue_share_filter"] = q_revenue_share_filter
ORACLES["q_revenue_share_filter"] = """
    with per as (
        select l_partkey,
               sum(floor(l_extendedprice * 100 + 0.5)::bigint)::bigint
                   as rev_cents
        from lineitem group by 1
    ),
    s as (
        select sum(rev_cents)::hugeint as total,
               count(*)::bigint as n_parts
        from per
    )
    select l_partkey, rev_cents,
           rev_cents::double / total::varchar::double as share
    from per cross join s
    where 2 * rev_cents::hugeint * n_parts > 3 * total
    order by rev_cents desc, l_partkey
"""

QUERIES["q_above_brand_avg"] = q_above_brand_avg
ORACLES["q_above_brand_avg"] = """
    with priced as (
        select p_brand, floor(l_extendedprice * 100 + 0.5)::bigint as cents
        from lineitem join part on l_partkey = p_partkey
    ),
    b as (
        select p_brand, count(*)::bigint as n_b, sum(cents)::hugeint as s_b
        from priced group by 1
    ),
    agg as (
        select pr.p_brand, max(b.n_b)::bigint as n_total,
               sum(case when pr.cents::hugeint * b.n_b > b.s_b
                        then 1 else 0 end)::bigint as n_above
        from priced pr join b using (p_brand)
        group by 1
    )
    select p_brand, n_total, n_above,
           n_above::double / n_total::double as above_frac
    from agg order by p_brand
"""

QUERIES["q_acf_grid"] = q_acf_grid
ORACLES["q_acf_grid"] = """
    with daily as (
        select o_orderdate::date as d,
               sum(floor(o_totalprice * 100 + 0.5)::bigint)::bigint as rev
        from orders group by 1
    ),
    lags as (select unnest(generate_series(1, 14)) as lag),
    shifted as (
        select d + lag::int as da, rev as x, lag from daily cross join lags
    ),
    j as (
        select s.lag, s.x, a.rev as y
        from shifted s join daily a on s.da = a.d
    ),
    agg as (
        select lag, count(*)::bigint as n_pairs,
               sum(x::hugeint) as sx, sum(y::hugeint) as sy,
               sum(x::hugeint * x) as sxx, sum(x::hugeint * y) as sxy,
               sum(y::hugeint * y) as syy
        from j group by lag
    )
    select lag::bigint as lag, n_pairs,
           (n_pairs * sxy - sx * sy)::varchar::double
           / (sqrt((n_pairs * sxx - sx * sx)::varchar::double)
              * sqrt((n_pairs * syy - sy * sy)::varchar::double)) as acf
    from agg order by lag
"""

QUERIES["q_length_band_filter"] = q_length_band_filter
ORACLES["q_length_band_filter"] = f"""
    with t as (
        select doc_id, source, len({_DK_TOKENS})::bigint as tok_n
        from documents
    ),
    r as (
        select source, tok_n,
               row_number() over (order by tok_n, doc_id) as rn,
               count(*) over () as n
        from t
    ),
    f as (
        select source, tok_n,
               (rn * 100 > 5 * n and rn * 100 <= 95 * n) as kept
        from r
    ),
    b as (
        select min(tok_n)::bigint as band_lo, max(tok_n)::bigint as band_hi
        from f where kept
    ),
    agg as (
        select source, count(*)::bigint as n_docs,
               sum(case when kept then 1 else 0 end)::bigint as n_kept
        from f group by 1
    )
    select source, n_docs, n_kept,
           n_kept::double / n_docs::double as kept_frac,
           band_lo, band_hi
    from agg cross join b
    order by source
"""


# ---------------------------------------------------------------------------
# round-8 batch 4: weighted selection, cross-series diagnostics, dispersion,
# temporal splits, activity profiling, corpus law checks
# ---------------------------------------------------------------------------


def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact WEIGHTED median line price per return flag (weight =
    quantity) — the selection statistic behind "the price a typical UNIT
    shipped at" (not the typical line). No per-group sort reducer: the
    cumulative weight comes from the two-phase grouped running sum
    (operators/relational.with_grouped_running_sum — each flag's prefix
    sum is spread across ALL reducers), the group totals are a
    broadcastable 3-row aggregate, and the median is the single boundary
    row where the running weight crosses half the total
    (``2*(run-w) < total <= 2*run``) — exactly one row per group
    survives, selected by pure integer arithmetic. Prices integerize to
    cents; quantities are integral by data contract."""
    from .operators.relational import with_grouped_running_sum

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("long").alias("qty"),
        F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    run = with_grouped_running_sum(
        li,
        ["l_returnflag"],
        ["cents", "l_orderkey", "l_linenumber"],
        "qty",
        out_col="run_w",
    )
    totals = li.groupBy("l_returnflag").agg(
        F.sum("qty").cast("long").alias("total_w")
    )
    cross = run.join(F.broadcast(totals), "l_returnflag").filter(
        (F.lit(2) * (F.col("run_w") - F.col("qty")) < F.col("total_w"))
        & (F.lit(2) * F.col("run_w") >= F.col("total_w"))
    )
    return cross.select(
        "l_returnflag",
        F.col("total_w").alias("total_qty"),
        F.col("cents").alias("median_price_cents"),
    ).orderBy("l_returnflag")


def q_cross_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation between the daily view series and the
    daily purchase series at lags -7..+7 — the "do views predict
    purchases N days out" diagnostic. Mirrors q_acf_grid's one-pass
    shape: both daily series reduce in one events scan each
    (calendar-bounded relations), the 15-row lag dimension broadcasts,
    ONE date equi-join aligns (x_t, y_{t+lag}) pairs, and one aggregate
    per lag accumulates exact integer power sums; Pearson r per lag is
    the mirrored divide-of-exact-integers tree. DuckDB divides through
    ::varchar (correctly-rounded strtod) per the wide-int hazard rule."""
    ev = _events(spark, sf_dir)
    daily = (
        ev.groupBy(
            F.to_date("ts").alias("d"), F.col("event_type").alias("t")
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .cache()
    )
    x = daily.filter(F.col("t") == "view").select("d", F.col("c").alias("x"))
    y = daily.filter(F.col("t") == "purchase").select(
        F.col("d").alias("da"), F.col("c").alias("y")
    )
    lags = spark.range(-7, 8).select(F.col("id").cast("int").alias("lag"))
    shifted = x.crossJoin(F.broadcast(lags)).select(
        F.date_add(F.col("d"), F.col("lag")).alias("da"), "x", "lag"
    )
    joined = shifted.join(y, "da")
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    agg = joined.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(dec("x")).alias("sx"),
        F.sum(dec("y")).alias("sy"),
        F.sum(dec("x") * F.col("x")).alias("sxx"),
        F.sum(dec("x") * F.col("y")).alias("sxy"),
        F.sum(dec("y") * F.col("y")).alias("syy"),
    )
    return agg.select(
        F.col("lag").cast("long").alias("lag"),
        "n_pairs",
        (
            (F.col("n_pairs") * F.col("sxy") - F.col("sx") * F.col("sy"))
            .cast("double")
            / (
                F.sqrt(
                    (
                        F.col("n_pairs") * F.col("sxx")
                        - F.col("sx") * F.col("sx")
                    ).cast("double")
                )
                * F.sqrt(
                    (
                        F.col("n_pairs") * F.col("syy")
                        - F.col("sy") * F.col("sy")
                    ).cast("double")
                )
            )
        ).alias("ccf"),
    ).orderBy("lag")


def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user burstiness (Fano factor of the zero-filled daily event
    count: var/mean over the FULL day domain) banded into
    under-dispersed / Poisson-like / bursty — the traffic-shape screen
    behind bot detection and rate-limit budgeting. Zero-filling is
    algebraic, not materialized: with D global days, S1 = Σc, S2 = Σc²
    over ACTIVE days only, fano = (D·S2 - S1²)/(D·S1) exactly — no
    |users|×|days| dense relation. Bands compare the ratio to 1/2 and
    3/2 by integer cross-multiplication (no division), and the banded
    ppm-scaled fano min/max are exact floor divisions. One scan, one
    (user, day) map-side-combined aggregate, one per-user aggregate, a
    broadcast 1-row day-domain scalar, and a 3-row output."""
    ev = _events(spark, sf_dir)
    daily = ev.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("c")
    )
    per_user = daily.groupBy("user_id").agg(
        F.sum("c").cast("long").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
    )
    days = daily.select("d").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_days")
    )
    scored = per_user.crossJoin(F.broadcast(days)).select(
        "user_id",
        "s1",
        (
            F.col("n_days").cast("decimal(38,0)") * F.col("s2")
            - F.col("s1").cast("decimal(38,0)") * F.col("s1")
        ).alias("num"),
        (F.col("n_days").cast("decimal(38,0)") * F.col("s1")).alias("den"),
    )
    banded = scored.select(
        "user_id",
        "s1",
        F.expr("num * 1000000 div den").cast("long").alias("fano_ppm"),
        F.when(F.lit(2) * F.col("num") < F.col("den"), "under")
        .when(F.lit(2) * F.col("num") < F.lit(3) * F.col("den"), "poisson")
        .otherwise("bursty")
        .alias("band"),
    )
    return (
        banded.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("s1").cast("long").alias("sum_events"),
            F.min("fano_ppm").alias("min_fano_ppm"),
            F.max("fano_ppm").alias("max_fano_ppm"),
        )
        .orderBy("band")
    )


def q_embargo_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/embargo/test split with leakage readout — the
    time-series counterpart of q_leakage_safe_split's group closure: the
    cutoff lands at 70% of the observed day span (pure integer date
    arithmetic on broadcast bounds), a 3-day embargo absorbs
    label-horizon bleed, and the report counts, per split, events and
    distinct users plus how many TEST users also appear in TRAIN (the
    identity-leakage count an embargo does NOT remove — it exists to be
    read, not hidden). One scan for bounds (2-value aggregate,
    broadcast), one tagged scan for the per-split rollup, and a
    distinct-user semi-overlap join keyed on user_id (high cardinality,
    distributes)."""
    ev = _events(spark, sf_dir).select(
        "user_id", F.to_date("ts").alias("d")
    )
    bounds = ev.agg(
        F.min("d").alias("dmin"), F.max("d").alias("dmax")
    ).select(
        "dmin",
        F.expr(
            "date_add(dmin, cast((datediff(dmax, dmin) * 7) div 10 as int))"
        ).alias("cutoff"),
    )
    tagged = ev.crossJoin(F.broadcast(bounds)).select(
        "user_id",
        F.when(F.col("d") < F.col("cutoff"), "train")
        .when(F.col("d") < F.date_add(F.col("cutoff"), 3), "embargo")
        .otherwise("test")
        .alias("split"),
    )
    per_split = tagged.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )
    train_u = (
        tagged.filter(F.col("split") == "train").select("user_id").distinct()
    )
    test_u = (
        tagged.filter(F.col("split") == "test").select("user_id").distinct()
    )
    leak = test_u.join(train_u, "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_leaked")
    )
    return (
        per_split.crossJoin(F.broadcast(leak))
        .select(
            "split",
            "n_events",
            "n_users",
            F.when(F.col("split") == "test", F.col("n_leaked"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("n_leaked_users"),
        )
        .orderBy("split")
    )


def q_hour_week_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-week activity heatmap: events and distinct users per (ISO
    weekday, hour) cell plus each cell's ppm share of total traffic —
    the capacity-planning / anomaly-baseline readout. One scan, one
    168-cell map-side-combined aggregate; the global total comes from
    re-aggregating the 168-row relation (never a data-sized window), and
    the share is an exact integer floor division. ISO weekday is pinned
    cross-engine (Spark ``weekday()+1`` == DuckDB ``isodow``)."""
    ev = _events(spark, sf_dir)
    cells = ev.groupBy(
        (F.expr("weekday(ts)") + F.lit(1)).cast("long").alias("iso_dow"),
        F.hour("ts").cast("long").alias("hr"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )
    total = cells.agg(F.sum("n_events").cast("long").alias("total"))
    return (
        cells.crossJoin(F.broadcast(total))
        .select(
            "iso_dow",
            "hr",
            "n_events",
            "n_users",
            F.expr("n_events * 1000000 div total").alias("share_ppm"),
        )
        .orderBy("iso_dow", "hr")
    )


def q_repeat_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand repeat-purchase rate: the share of (customer, part) pairs
    ordered in 2+ DISTINCT months, rolled up per brand — the loyalty
    readout behind assortment planning. The fact-fact join
    (lineitem ⟕ orders on orderkey) shuffles both sides on the join key
    and feeds a map-side-combined (custkey, partkey) aggregate with a
    distinct-month count; the brand rollup is a plain equi-join on
    l_partkey — part scales with the fact (sf×200k rows), so no
    broadcast hint: AQE picks broadcast only when the side is
    genuinely small. The rate is an exact ppm floor division. Pair
    grain is bounded by customers×parts-they-buy — it scales with the
    fact table, and every step on it distributes."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        "o_custkey",
        F.date_trunc("month", "o_orderdate").cast("date").alias("m"),
    )
    pairs = (
        li.join(orders, "l_orderkey")
        .groupBy("o_custkey", "l_partkey")
        .agg(F.countDistinct("m").alias("n_months"))
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    branded = pairs.join(part, pairs.l_partkey == part.p_partkey)
    return (
        branded.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(
                F.when(F.col("n_months") >= 2, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_repeat"),
        )
        .select(
            "p_brand",
            "n_pairs",
            "n_repeat",
            F.expr("n_repeat * 1000000 div n_pairs").alias("repeat_ppm"),
        )
        .orderBy("p_brand")
    )


def q_weekly_active_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week active-user overlap: for every week with a
    successor, both actives, the intersection, and the Jaccard — the
    retention/churn pulse (a collapsing Jaccard = audience turnover
    even when the topline count holds). The (week, user) incidence
    dedups in one scan; the intersection is a self equi-join keyed on
    (user_id, week) — user_id keeps the key high-cardinality so it
    distributes; week sizes are a tiny per-week aggregate joined twice
    (current and shifted). Counts stay under 2^53, so the one IEEE
    division hashes exactly cross-engine."""
    ev = _events(spark, sf_dir)
    wa = ev.select(
        F.to_date(F.date_trunc("week", "ts")).alias("wk"), "user_id"
    ).distinct()
    sizes = wa.groupBy("wk").agg(F.count(F.lit(1)).cast("long").alias("n"))
    nxt = wa.select(F.date_sub("wk", 7).alias("wk"), "user_id")
    inter = (
        wa.join(nxt.withColumnRenamed("wk", "wk2"),
                (F.col("wk") == F.col("wk2"))
                & (wa.user_id == nxt.user_id))
        .groupBy("wk")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    s_next = sizes.select(
        F.date_sub("wk", 7).alias("wk"), F.col("n").alias("n_next")
    )
    return (
        sizes.join(s_next, "wk")
        .join(inter.withColumnRenamed("n_inter", "n_inter_raw"), "wk", "left")
        .select(
            F.col("wk").cast("string").alias("week_start"),
            F.col("n").alias("n_curr"),
            "n_next",
            F.coalesce(F.col("n_inter_raw"), F.lit(0)).alias("n_inter"),
            (
                F.coalesce(F.col("n_inter_raw"), F.lit(0)).cast("double")
                / (
                    F.col("n") + F.col("n_next")
                    - F.coalesce(F.col("n_inter_raw"), F.lit(0))
                ).cast("double")
            ).alias("jaccard"),
        )
        .orderBy("week_start")
    )


def q_zipf_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law check over the corpus: the top-50 terms with rank,
    frequency, and the rank·frequency product normalized to the top
    term (ppm) — under Zipf, ``r·f_r`` is near-constant, so a collapsing
    rf_ppm curve flags a truncated or templated vocabulary (the
    corpus-health screen run before tokenizer training). Term counts
    reduce in one explode + map-side-combined aggregate; the top-50 is
    a TakeOrderedAndProject (never a global sort); ranking and the
    rank·freq arithmetic run on the 50-row relation. Deterministic
    (freq desc, term asc) total order both engines."""
    from .functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(TX.tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    top = freq.orderBy(F.col("freq").desc(), "term").limit(50)
    w = Window.orderBy(F.col("freq").desc(), "term")
    ranked = top.withColumn("rank", F.row_number().over(w).cast("long"))
    f1 = ranked.filter(F.col("rank") == 1).select(
        F.col("freq").alias("f1")
    )
    return (
        ranked.crossJoin(F.broadcast(f1))
        .select(
            "rank",
            "term",
            "freq",
            (F.col("rank") * F.col("freq")).cast("long").alias("rf"),
            F.expr("rank * freq * 1000000 div f1").cast("long").alias(
                "rf_ppm"
            ),
        )
        .orderBy("rank")
    )


QUERIES["q_weighted_median"] = q_weighted_median
ORACLES["q_weighted_median"] = """
    with li as (
        select l_returnflag, l_orderkey, l_linenumber,
               l_quantity::bigint as qty,
               floor(l_extendedprice * 100 + 0.5)::bigint as cents
        from lineitem
    ),
    r as (
        select *,
               sum(qty) over (
                   partition by l_returnflag
                   order by cents, l_orderkey, l_linenumber
                   rows between unbounded preceding and current row
               )::bigint as run_w,
               sum(qty) over (partition by l_returnflag)::bigint as total_w
        from li
    )
    select l_returnflag, total_w as total_qty,
           cents as median_price_cents
    from r
    where 2 * (run_w - qty) < total_w and 2 * run_w >= total_w
    order by l_returnflag
"""

QUERIES["q_cross_corr"] = q_cross_corr
ORACLES["q_cross_corr"] = """
    with daily as (
        select date_trunc('day', ts)::date as d, event_type as t,
               count(*)::bigint as c
        from events group by 1, 2
    ),
    x as (select d, c as x from daily where t = 'view'),
    y as (select d as da, c as y from daily where t = 'purchase'),
    lags as (select unnest(generate_series(-7, 7)) as lag),
    shifted as (
        select d + lag::int as da, x, lag from x cross join lags
    ),
    j as (select s.lag, s.x, y.y from shifted s join y using (da)),
    agg as (
        select lag, count(*)::bigint as n_pairs,
               sum(x::hugeint) as sx, sum(y::hugeint) as sy,
               sum(x::hugeint * x) as sxx, sum(x::hugeint * y) as sxy,
               sum(y::hugeint * y) as syy
        from j group by lag
    )
    select lag::bigint as lag, n_pairs,
           (n_pairs * sxy - sx * sy)::varchar::double
           / (sqrt((n_pairs * sxx - sx * sx)::varchar::double)
              * sqrt((n_pairs * syy - sy * sy)::varchar::double)) as ccf
    from agg order by lag
"""

QUERIES["q_burstiness"] = q_burstiness
ORACLES["q_burstiness"] = """
    with daily as (
        select user_id, date_trunc('day', ts)::date as d,
               count(*)::bigint as c
        from events group by 1, 2
    ),
    pu as (
        select user_id, sum(c)::bigint as s1, sum(c * c)::bigint as s2
        from daily group by 1
    ),
    dd as (select count(distinct d)::hugeint as n_days from daily),
    scored as (
        select user_id, s1,
               n_days * s2 - s1::hugeint * s1 as num,
               n_days * s1 as den
        from pu cross join dd
    ),
    banded as (
        select user_id, s1,
               ((num * 1000000) // den)::bigint as fano_ppm,
               case when 2 * num < den then 'under'
                    when 2 * num < 3 * den then 'poisson'
                    else 'bursty' end as band
        from scored
    )
    select band, count(*)::bigint as n_users,
           sum(s1)::bigint as sum_events,
           min(fano_ppm)::bigint as min_fano_ppm,
           max(fano_ppm)::bigint as max_fano_ppm
    from banded group by band order by band
"""

QUERIES["q_embargo_split"] = q_embargo_split
ORACLES["q_embargo_split"] = """
    with ev as (
        select user_id, date_trunc('day', ts)::date as d from events
    ),
    b as (
        select min(d) as dmin,
               min(d) + ((max(d) - min(d)) * 7 // 10)::int as cutoff
        from ev
    ),
    tagged as (
        select user_id,
               case when d < cutoff then 'train'
                    when d < cutoff + 3 then 'embargo'
                    else 'test' end as split
        from ev cross join b
    ),
    per_split as (
        select split, count(*)::bigint as n_events,
               count(distinct user_id)::bigint as n_users
        from tagged group by split
    ),
    leak as (
        select count(*)::bigint as n_leaked from (
            select distinct user_id from tagged where split = 'test'
            intersect
            select distinct user_id from tagged where split = 'train'
        )
    )
    select split, n_events, n_users,
           case when split = 'test' then n_leaked else 0 end::bigint
               as n_leaked_users
    from per_split cross join leak
    order by split
"""

QUERIES["q_hour_week_heatmap"] = q_hour_week_heatmap
ORACLES["q_hour_week_heatmap"] = """
    with cells as (
        select isodow(ts)::bigint as iso_dow, hour(ts)::bigint as hr,
               count(*)::bigint as n_events,
               count(distinct user_id)::bigint as n_users
        from events group by 1, 2
    ),
    t as (select sum(n_events)::bigint as total from cells)
    select iso_dow, hr, n_events, n_users,
           (n_events * 1000000 // total)::bigint as share_ppm
    from cells cross join t
    order by iso_dow, hr
"""

QUERIES["q_repeat_rate"] = q_repeat_rate
ORACLES["q_repeat_rate"] = """
    with pairs as (
        select o.o_custkey, l.l_partkey,
               count(distinct date_trunc('month', o.o_orderdate))
                   as n_months
        from lineitem l join orders o on l.l_orderkey = o.o_orderkey
        group by 1, 2
    ),
    branded as (
        select p.p_brand,
               case when n_months >= 2 then 1 else 0 end as rpt
        from pairs join part p on pairs.l_partkey = p.p_partkey
    )
    select p_brand, count(*)::bigint as n_pairs,
           sum(rpt)::bigint as n_repeat,
           (sum(rpt)::bigint * 1000000 // count(*))::bigint as repeat_ppm
    from branded group by 1 order by 1
"""

QUERIES["q_weekly_active_overlap"] = q_weekly_active_overlap
ORACLES["q_weekly_active_overlap"] = """
    with wa as (
        select distinct date_trunc('week', ts)::date as wk, user_id
        from events
    ),
    sizes as (select wk, count(*)::bigint as n from wa group by wk),
    inter as (
        select a.wk, count(*)::bigint as n_inter
        from wa a join wa b
          on b.wk = a.wk + 7 and b.user_id = a.user_id
        group by a.wk
    )
    select s.wk::varchar as week_start, s.n as n_curr,
           sn.n as n_next,
           coalesce(i.n_inter, 0)::bigint as n_inter,
           coalesce(i.n_inter, 0)::double
           / (s.n + sn.n - coalesce(i.n_inter, 0))::double as jaccard
    from sizes s
    join sizes sn on sn.wk = s.wk + 7
    left join inter i on i.wk = s.wk
    order by week_start
"""

QUERIES["q_zipf_check"] = q_zipf_check
ORACLES["q_zipf_check"] = f"""
    with tf as (
        select unnest({_DK_TOKENS}) as term from documents
    ),
    freq as (select term, count(*)::bigint as freq from tf group by term),
    ranked as (
        select term, freq,
               row_number() over (order by freq desc, term)::bigint as rank
        from freq
    ),
    top as (select * from ranked where rank <= 50),
    f1 as (select freq as f1 from top where rank = 1)
    select rank, term, freq,
           (rank * freq)::bigint as rf,
           (rank * freq * 1000000 // f1)::bigint as rf_ppm
    from top cross join f1
    order by rank
"""


# ---------------------------------------------------------------------------
# round-9 batch 1: rank statistics + classic reporting shapes
# ---------------------------------------------------------------------------


def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U between BUILDING and MACHINERY customers' order
    values — the two-sample rank test behind "did this cohort shift?"
    readouts (q_kruskal_wallis's k-sample cousin, and the statistic
    q_roc_auc normalizes). One pooled two-phase global rank (tie policy:
    the (cents, o_orderkey) total order, identical in both engines — the
    q_roc_auc convention), one tiny aggregate, exact integers until the
    single common-language-effect-size division. The orders ⟕ customer
    join is unhinted (customer scales with the fact)."""
    from .operators.relational import with_global_row_number

    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select("c_custkey", "c_mktsegment")
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    pooled = orders.join(
        cust, orders.o_custkey == cust.c_custkey
    ).select("o_orderkey", "c_mktsegment", "cents")
    ranked = with_global_row_number(
        pooled, ["cents", "o_orderkey"], rn_col="__rk"
    )
    agg = ranked.agg(
        F.sum(F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0))
        .cast("long")
        .alias("n_building"),
        F.sum(F.when(F.col("c_mktsegment") == "MACHINERY", 1).otherwise(0))
        .cast("long")
        .alias("n_machinery"),
        F.sum(
            F.when(F.col("c_mktsegment") == "BUILDING", F.col("__rk"))
            .otherwise(0)
            .cast("decimal(38,0)")
        ).alias("r_a"),
    )
    # 2U = 2R_a - n_a(n_a+1): exact integer; cles = U / (n_a n_b) stays
    # cross-multiplied so the only float op is the final division
    u2 = F.lit(2).cast("decimal(38,0)") * F.col("r_a") - F.col(
        "n_building"
    ).cast("decimal(38,0)") * (F.col("n_building") + 1)
    den = (
        F.lit(2).cast("decimal(38,0)")
        * F.col("n_building")
        * F.col("n_machinery")
    )
    return agg.select(
        "n_building",
        "n_machinery",
        (u2.cast("double") / F.lit(2.0)).alias("u_building"),
        (u2.cast("double") / den.cast("double")).alias("cles"),
    )


def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on daily revenue vs its median — "is
    the above/below-median sequence random, or does demand streak?"
    (the q_changepoint family's nonparametric sibling). Everything
    lives on the DAY-DOMAIN relation (calendar-bounded, never
    fact-sized — the q_ks_test discipline): the median via rank + n
    over the domain, signs + lag over the day order, and z^2 fully
    cross-multiplied to exact integers — z^2 = (runs*n - n - 2*n1*n2)^2
    * (n-1) / (2*n1*n2*(2*n1*n2 - n)) with ONE IEEE division at the
    end. Days equal to the doubled-median are excluded (the standard
    treatment), which the doubled comparison keeps integer-exact for
    odd AND even day counts."""
    orders = _t(spark, sf_dir, "orders")
    daily = (
        orders.select(
            F.to_date("o_orderdate").alias("d"),
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("d")
        .agg(F.sum("cents").cast("long").alias("c"))
    )
    w = Window.orderBy("c", "d")
    ranked = daily.select(
        "d",
        "c",
        F.row_number().over(w).cast("long").alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("long").alias("n"),
    )
    med2 = ranked.filter(
        (F.col("rn") == F.expr("(n + 1) div 2"))
        | (F.col("rn") == F.expr("n div 2 + 1"))
    ).agg(
        (
            F.sum("c") * F.lit(2) / F.count(F.lit(1))
        ).cast("long").alias("med2")
    )
    signed = (
        daily.crossJoin(F.broadcast(med2))
        .filter(F.col("c") * 2 != F.col("med2"))
        .select(
            "d", F.when(F.col("c") * 2 > F.col("med2"), 1).otherwise(-1).alias("s")
        )
    )
    wd = Window.orderBy("d")
    runs = signed.select(
        "s",
        F.when(
            F.lag("s").over(wd).isNull() | (F.lag("s").over(wd) != F.col("s")),
            1,
        )
        .otherwise(0)
        .alias("new_run"),
    ).agg(
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0)).cast("long").alias("n_above"),
        F.sum(F.when(F.col("s") == -1, 1).otherwise(0)).cast("long").alias("n_below"),
        F.sum("new_run").cast("long").alias("n_runs"),
    )
    n = F.col("n_above") + F.col("n_below")
    p2 = (F.lit(2).cast("decimal(38,0)") * F.col("n_above") * F.col("n_below"))
    num = (
        (F.col("n_runs").cast("decimal(38,0)") * n - n - p2)
        * (F.col("n_runs").cast("decimal(38,0)") * n - n - p2)
        * (n - 1)
    )
    den = p2 * (p2 - n)
    return runs.select(
        "n_above",
        "n_below",
        "n_runs",
        (num.cast("double") / den.cast("double")).alias("z2"),
    )


def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of daily revenue: the MEDIAN of all
    pairwise slopes — the outlier-proof answer to "is revenue drifting
    up?" (one blowout day moves OLS, not this). The pair space is the
    DAY DOMAIN squared (calendar-bounded at any SF — the
    q_kendall_tau_daily discipline), slopes are the identical
    (long-long)::double / (long)::double in both engines, and the
    median is rank-selected by the two-phase global row number under
    the (slope, d1, d2) total order — no single-reducer sort, no
    percentile(). r15: selection replaces full ranking
    (operators/relational.global_middle_rows) — only the range
    partition(s) holding the two middle ranks get sorted, instead of
    every range sorting its full slice of the 2.9M pairs; ranks,
    tiebreaks and the selected rows are identical (A/B 1.09x, rows
    equal; the win compounds with pair count at scale)."""
    from .operators.relational import global_middle_rows

    orders = _t(spark, sf_dir, "orders")
    daily = (
        orders.select(
            F.to_date("o_orderdate").alias("d"),
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("d")
        .agg(F.sum("cents").cast("long").alias("c"))
    )
    a = daily.select(F.col("d").alias("d1"), F.col("c").alias("c1"))
    b = daily.select(F.col("d").alias("d2"), F.col("c").alias("c2"))
    pairs = a.join(b, F.col("d1") < F.col("d2")).select(
        "d1",
        "d2",
        (
            (F.col("c2") - F.col("c1")).cast("double")
            / F.datediff("d2", "d1").cast("double")
        ).alias("slope"),
    )
    mid = global_middle_rows(
        pairs, ["slope", "d1", "d2"], rn_col="rn", n_col="n"
    )
    return mid.agg(
        F.max("n").cast("long").alias("n_pairs"),
        (F.sum("slope") / F.count(F.lit(1)).cast("double")).alias(
            "median_slope_cents_per_day"
        ),
    )


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) with maximum shipped revenue in
    a quarter — per-supplier exact micro-cent revenue (price and
    discount integerize exactly at 2 decimals, so rev_u = cents *
    (100 - disc_pct) is an integer), a 1-row global max broadcast back
    (hint-audit class: ungrouped aggregate), and an unhinted supplier
    join (supplier scales with the fact). Ties all surface — the
    argmax-join idiom, not LIMIT 1."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    rev = (
        li.select(
            "l_suppkey",
            (
                F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5))
                .cast("long")
                * (
                    F.lit(100)
                    - F.floor(F.col("l_discount") * F.lit(100.0) + F.lit(0.5))
                    .cast("long")
                )
            ).alias("rev_u"),
        )
        .groupBy("l_suppkey")
        .agg(F.sum("rev_u").cast("decimal(38,0)").alias("total_rev_u"))
    )
    mx = rev.agg(F.max("total_rev_u").alias("__mx"))
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx), rev.total_rev_u == F.col("__mx"))
        .join(supp, rev.l_suppkey == supp.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_rev_u").cast("double").alias("total_rev_u"),
        )
        .orderBy("s_suppkey")
    )


def q_promo_share_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: monthly PROMO revenue share in exact ppm —
    conditional aggregation over the lineitem ⟕ part join (unhinted:
    part scales with the fact; AQE broadcasts only when small). Revenue
    integerizes to micro-cent units, sums ride decimal(38,0) (long
    overflows at 100 TB), and the share is an integer floor division —
    no float touches the readout."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.date_format("l_shipdate", "yyyy-MM").alias("month"),
        (
            F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            * (
                F.lit(100)
                - F.floor(F.col("l_discount") * F.lit(100.0) + F.lit(0.5))
                .cast("long")
            )
        ).alias("rev_u"),
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    joined = li.join(part, li.l_partkey == part.p_partkey)
    # two-level fastagg discipline: LONG partials per (month, input
    # partition) stay in codegen (a per-partition-month partial is
    # bounded ~1e16 << 2^63 at 128 MB partitions), the decimal(38,0)
    # merge runs over months x partitions rows only — identical exact
    # integers, ~2x faster than per-row decimal accumulation at sf0.1
    stage1 = joined.groupBy(
        "month", F.spark_partition_id().alias("__p")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum(
            F.when(F.col("p_type") == "PROMO", F.col("rev_u")).otherwise(0)
        ).cast("long").alias("__pl"),
        F.sum("rev_u").cast("long").alias("__tl"),
    )
    return (
        stage1.groupBy("month")
        .agg(
            F.sum("__n").cast("long").alias("n_lines"),
            F.sum(F.col("__pl").cast("decimal(38,0)")).alias("__promo"),
            F.sum(F.col("__tl").cast("decimal(38,0)")).alias("__total"),
        )
        .select(
            "month",
            "n_lines",
            F.expr("cast((__promo * 1000000) div __total as bigint)").alias(
                "promo_ppm"
            ),
        )
        .orderBy("month")
    )


def q_late_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders counted by priority where AT LEAST ONE
    line shipped more than 60 days after the order date — the
    EXISTS-correlated-subquery idiom as a left-semi equi-join with a
    residual timestamp predicate (the key equality drives the shuffle;
    the inequality evaluates on matched pairs only). Both sides scale
    with the fact; no hints, AQE decides."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.expr("o_orderdate + INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("n_late_orders"))
        .orderBy("o_orderpriority")
    )


QUERIES["q_mann_whitney"] = q_mann_whitney
ORACLES["q_mann_whitney"] = """
    with pooled as (
        select o.o_orderkey, c.c_mktsegment,
               floor(o.o_totalprice * 100 + 0.5)::bigint as cents
        from orders o
        join customer c on o.o_custkey = c.c_custkey
        where c.c_mktsegment in ('BUILDING', 'MACHINERY')
    ),
    r as (
        select c_mktsegment,
               row_number() over (order by cents, o_orderkey) as rk
        from pooled
    ),
    a as (
        select sum(case when c_mktsegment = 'BUILDING' then 1 else 0 end)::bigint
                   as n_building,
               sum(case when c_mktsegment = 'MACHINERY' then 1 else 0 end)::bigint
                   as n_machinery,
               sum(case when c_mktsegment = 'BUILDING' then rk::hugeint
                        else 0 end) as r_a
        from r
    )
    select n_building, n_machinery,
           (2 * r_a - n_building::hugeint * (n_building + 1))::varchar::double
               / 2.0 as u_building,
           (2 * r_a - n_building::hugeint * (n_building + 1))::varchar::double
               / (2 * n_building::hugeint * n_machinery)::varchar::double
               as cles
    from a
"""

QUERIES["q_runs_test"] = q_runs_test
ORACLES["q_runs_test"] = """
    with daily as (
        select o_orderdate::date as d,
               sum(floor(o_totalprice * 100 + 0.5)::bigint)::bigint as c
        from orders group by 1
    ),
    r as (
        select d, c, row_number() over (order by c, d) as rn,
               count(*) over () as n
        from daily
    ),
    med as (
        select (sum(c) * 2 / count(*))::bigint as med2
        from r where rn = (n + 1) // 2 or rn = n // 2 + 1
    ),
    signed as (
        select d, case when c * 2 > med2 then 1 else -1 end as s
        from daily cross join med
        where c * 2 != med2
    ),
    runs as (
        select sum(case when s = 1 then 1 else 0 end)::bigint as n_above,
               sum(case when s = -1 then 1 else 0 end)::bigint as n_below,
               sum(case when prev is null or prev != s then 1 else 0
                   end)::bigint as n_runs
        from (select s, lag(s) over (order by d) as prev from signed)
    )
    select n_above, n_below, n_runs,
           ((n_runs::hugeint * (n_above + n_below) - (n_above + n_below)
             - 2 * n_above::hugeint * n_below)
            * (n_runs::hugeint * (n_above + n_below) - (n_above + n_below)
               - 2 * n_above::hugeint * n_below)
            * (n_above + n_below - 1))::varchar::double
           / ((2 * n_above::hugeint * n_below)
              * (2 * n_above::hugeint * n_below
                 - (n_above + n_below)))::varchar::double as z2
    from runs
"""

QUERIES["q_theil_sen"] = q_theil_sen
ORACLES["q_theil_sen"] = """
    with daily as (
        select o_orderdate::date as d,
               sum(floor(o_totalprice * 100 + 0.5)::bigint)::bigint as c
        from orders group by 1
    ),
    pairs as (
        select a.d as d1, b.d as d2,
               (b.c - a.c)::double / date_diff('day', a.d, b.d)::double
                   as slope
        from daily a join daily b on a.d < b.d
    ),
    r as (
        select slope, row_number() over (order by slope, d1, d2) as rn,
               count(*) over () as n
        from pairs
    )
    select max(n)::bigint as n_pairs,
           sum(slope) / count(*)::double as median_slope_cents_per_day
    from r where rn = (n + 1) // 2 or rn = n // 2 + 1
"""

QUERIES["q_top_supplier"] = q_top_supplier
ORACLES["q_top_supplier"] = """
    with rev as (
        select l_suppkey,
               sum(floor(l_extendedprice * 100 + 0.5)::bigint
                   * (100 - floor(l_discount * 100 + 0.5)::bigint))
                   as total_rev_u
        from lineitem
        where l_shipdate >= timestamp '1996-01-01'
          and l_shipdate < timestamp '1996-04-01'
        group by l_suppkey
    ),
    mx as (select max(total_rev_u) as m from rev)
    select s.s_suppkey, s.s_name, r.total_rev_u::varchar::double as total_rev_u
    from rev r
    join mx on r.total_rev_u = mx.m
    join supplier s on r.l_suppkey = s.s_suppkey
    order by s.s_suppkey
"""

QUERIES["q_promo_share_monthly"] = q_promo_share_monthly
ORACLES["q_promo_share_monthly"] = """
    with base as (
        select strftime(l_shipdate::date, '%Y-%m') as month,
               p.p_type,
               floor(l_extendedprice * 100 + 0.5)::bigint
                   * (100 - floor(l_discount * 100 + 0.5)::bigint) as rev_u
        from lineitem l join part p on l.l_partkey = p.p_partkey
    )
    select month, count(*)::bigint as n_lines,
           ((sum(case when p_type = 'PROMO' then rev_u::hugeint else 0 end)
             * 1000000)
            // sum(rev_u::hugeint))::bigint as promo_ppm
    from base group by month order by month
"""

QUERIES["q_late_ship_priority"] = q_late_ship_priority
ORACLES["q_late_ship_priority"] = """
    select o_orderpriority, count(*)::bigint as n_late_orders
    from orders o
    where exists (
        select 1 from lineitem l
        where l.l_orderkey = o.o_orderkey
          and l.l_shipdate > o.o_orderdate + interval 60 day
    )
    group by o_orderpriority
    order by o_orderpriority
"""


# ---------------------------------------------------------------------------
# round-9 batch 2: temporal engagement + graph readouts
# ---------------------------------------------------------------------------


def q_dwell_time_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event dwell-time distribution in power-of-two second bands
    (bit-length bucketing — the q_key_skew_profile no-libm trick) — the
    engagement-cadence histogram behind session-timeout and bot-gap
    tuning. Gaps come from ONE user-partitioned lead (per-user windows
    distribute across reducers; user_id is high-cardinality); seconds
    floor to integers BEFORE differencing so the band arithmetic never
    touches a float; output is ~20 band rows at any scale with exact
    ppm shares."""
    from .functions.timeutil import epoch_seconds

    ev = _events(spark, sf_dir)
    base = ev.select(
        "user_id",
        "event_id",
        F.floor(epoch_seconds(F.col("ts"))).cast("long").alias("es"),
    )
    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    gaps = base.select(
        (F.lead("es").over(w) - F.col("es")).alias("gap_s")
    ).filter(F.col("gap_s").isNotNull())
    banded = (
        gaps.select(F.length(F.bin(F.col("gap_s"))).cast("long").alias("band"))
        .groupBy("band")
        .agg(F.count(F.lit(1)).cast("long").alias("n_gaps"))
    )
    total = banded.agg(F.sum("n_gaps").cast("long").alias("__t"))
    return (
        banded.crossJoin(F.broadcast(total))
        .select(
            "band",
            "n_gaps",
            F.expr("n_gaps * 1000000 div __t").alias("share_ppm"),
        )
        .orderBy("band")
    )


def q_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per day — the engagement-quality pulse (a
    falling ratio = the same weekly audience shows up fewer days). The
    trailing-7-day WAU avoids a per-day range join: each (day, user)
    incidence row FANS OUT to the 7 target days it counts toward (a
    bounded x7 map-side multiplier), then one distinct-count per target
    day — shuffles stay keyed on (day, user), nothing re-scans. Exact
    integer ppm."""
    ev = _events(spark, sf_dir)
    inc = ev.select(
        F.to_date("ts").alias("d"), "user_id"
    ).distinct()
    dau = inc.groupBy("d").agg(
        F.countDistinct("user_id").cast("long").alias("dau")
    )
    fan = inc.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"), "d", "user_id"
    ).select(F.date_add("d", F.col("i")).alias("d"), "user_id")
    wau = fan.groupBy("d").agg(
        F.countDistinct("user_id").cast("long").alias("wau")
    )
    return (
        dau.join(wau, "d")
        .select(
            F.col("d").cast("string").alias("day"),
            "dau",
            "wau",
            F.expr("dau * 1000000 div wau").alias("stickiness_ppm"),
        )
        .orderBy("day")
    )


def q_cold_start_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of each month's active customers placing their FIRST-ever
    order — the acquisition-vs-retention mix every growth report opens
    with. Firsts are a per-customer min (map-side combined, one fact
    shuffle on custkey); actives are a distinct (month, customer)
    count; both land on the month domain where the exact ppm divides.
    'yyyy-MM' strings order correctly, so min(month) IS the first
    month."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", F.date_format("o_orderdate", "yyyy-MM").alias("m")
    )
    firsts = (
        orders.groupBy("o_custkey")
        .agg(F.min("m").alias("m"))
        .groupBy("m")
        .agg(F.count(F.lit(1)).cast("long").alias("n_first"))
    )
    actives = (
        orders.distinct()
        .groupBy("m")
        .agg(F.count(F.lit(1)).cast("long").alias("n_active"))
    )
    return (
        actives.join(firsts, "m", "left")
        .select(
            F.col("m").alias("month"),
            "n_active",
            F.coalesce("n_first", F.lit(0)).cast("long").alias("n_first"),
            F.expr(
                "coalesce(n_first, 0) * 1000000 div n_active"
            ).alias("cold_start_ppm"),
        )
        .orderBy("month")
    )


def q_user_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type concentration (Herfindahl in exact ppm) —
    the no-libm diversity score (entropy needs log; HHI is pure integer
    arithmetic: sum(c^2) * 1e6 div total^2) that segments single-note
    users from diverse ones. One (user, type) aggregate, one per-user
    rollup — both map-side combined on high-cardinality keys. Top 500
    by user_id keeps the readout bounded; the per-user relation itself
    scales and never collects."""
    ev = _events(spark, sf_dir)
    per_type = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    return (
        per_type.groupBy("user_id")
        .agg(
            F.sum("c").cast("long").alias("n_events"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("__s2"),
        )
        .select(
            "user_id",
            "n_events",
            F.expr(
                "__s2 * 1000000 div (n_events * n_events)"
            ).alias("hhi_ppm"),
        )
        .orderBy("user_id")
        .limit(500)
    )


def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the part co-purchase graph — do popular
    parts pair with popular parts? (Newman 2002's r, the mixing
    readout that predicts whether hub removal fragments the graph.)
    Edges come from basket-local array expansion (ONE fact shuffle, the
    q_basket_rules discipline — never an incidence self-join); degrees
    are one aggregate over the symmetric incidence; r uses both edge
    orientations so Sx == Sy and reduces to exact decimal(38,0) power
    sums with ONE IEEE division (the q_corr_matrix integerization)."""
    li = _t(spark, sf_dir, "lineitem")
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("items"))
        .filter(F.size("items") <= 30)
    )
    items = F.col("items")
    pair_structs = F.flatten(
        F.transform(
            items,
            lambda x, i: F.transform(
                F.slice(items, i + F.lit(2), F.size(items)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    edges = (
        baskets.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .distinct()
    )
    path = _tmp_path("assort_edges")
    edges.write.mode("overwrite").parquet(path)
    edges = spark.read.parquet(path)
    sym = edges.select("a", "b").unionAll(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).cast("long").alias("dg"))
    da = deg.select(F.col("a"), F.col("dg").alias("da"))
    db = deg.select(F.col("a").alias("b"), F.col("dg").alias("db"))
    both = edges.join(da, "a").join(db, "b")
    agg = both.agg(
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        F.sum((F.col("da") + F.col("db")).cast("decimal(38,0)")).alias("sx"),
        F.sum(
            (
                F.col("da").cast("decimal(38,0)") * F.col("da")
                + F.col("db").cast("decimal(38,0)") * F.col("db")
            )
        ).alias("sxx"),
        F.sum(
            F.lit(2).cast("decimal(38,0)") * F.col("da") * F.col("db")
        ).alias("sxy"),
    )
    n = F.lit(2).cast("decimal(38,0)") * F.col("n_edges")
    num = n * F.col("sxy") - F.col("sx") * F.col("sx")
    den = n * F.col("sxx") - F.col("sx") * F.col("sx")
    return agg.select(
        "n_edges",
        (num.cast("double") / den.cast("double")).alias("assortativity"),
    )


def q_common_neighbors_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by common-neighbor count: the top 20 part pairs
    sharing the most co-purchase partners WITHOUT being co-purchased
    themselves — the "customers who bought these also bought" candidate
    generator. The graph keeps only SUPPORT >= 2 edges (pairs
    co-purchased in 2+ orders): a single co-occurrence in a basket is
    noise, and the denoised graph is also what bounds the wedge budget
    — at sf0.1 the raw pair relation holds 1.2M one-off pairs vs 3.6k
    repeat edges (measured; 148M wedges collapse to ~1.4k). Wedges
    enumerate per center (two keyed equi-joins on the symmetric edge
    list — sum over centers of C(deg, 2)); direct edges drop via one
    anti join; the top-k is TakeOrderedAndProject, never a global
    sort."""
    li = _t(spark, sf_dir, "lineitem")
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("items"))
        .filter(F.size("items") <= 30)
    )
    items = F.col("items")
    pair_structs = F.flatten(
        F.transform(
            items,
            lambda x, i: F.transform(
                F.slice(items, i + F.lit(2), F.size(items)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    edges = (
        baskets.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("__sup"))
        .filter(F.col("__sup") >= 2)
        .select("a", "b")
    )
    path = _tmp_path("cn_edges")
    edges.write.mode("overwrite").parquet(path)
    edges = spark.read.parquet(path)
    sym = edges.select("a", "b").unionAll(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    e1 = sym.select(F.col("a").alias("x"), F.col("b").alias("u"))
    e2 = sym.select(F.col("a").alias("x"), F.col("b").alias("v"))
    wedges = (
        e1.join(e2, "x")
        .filter(F.col("u") < F.col("v"))
        .groupBy(F.col("u").alias("a"), F.col("v").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("cn"))
    )
    candidates = wedges.join(edges, ["a", "b"], "left_anti")
    return candidates.orderBy(
        F.col("cn").desc(), F.col("a"), F.col("b")
    ).limit(20)


QUERIES["q_dwell_time_bands"] = q_dwell_time_bands
ORACLES["q_dwell_time_bands"] = """
    with base as (
        select user_id, event_id, floor(epoch(ts))::bigint as es
        from events
    ),
    gaps as (
        select lead(es) over (partition by user_id order by es, event_id)
               - es as gap_s
        from base
    ),
    banded as (
        select length(bin(gap_s))::bigint as band, count(*)::bigint as n_gaps
        from gaps where gap_s is not null group by 1
    )
    select band, n_gaps,
           (n_gaps * 1000000 // (sum(n_gaps) over ()))::bigint as share_ppm
    from banded order by band
"""

QUERIES["q_dau_wau_stickiness"] = q_dau_wau_stickiness
ORACLES["q_dau_wau_stickiness"] = """
    with inc as (
        select distinct ts::date as d, user_id from events
    ),
    dau as (
        select d, count(distinct user_id)::bigint as dau from inc group by d
    ),
    fan as (
        select (d + to_days(i::int))::date as d, user_id
        from inc cross join range(7) r(i)
    ),
    wau as (
        select d, count(distinct user_id)::bigint as wau from fan group by d
    )
    select dau.d::varchar as day, dau.dau, wau.wau,
           (dau.dau * 1000000 // wau.wau)::bigint as stickiness_ppm
    from dau join wau on dau.d = wau.d
    order by day
"""

QUERIES["q_cold_start_rate"] = q_cold_start_rate
ORACLES["q_cold_start_rate"] = """
    with o as (
        select o_custkey, strftime(o_orderdate::date, '%Y-%m') as m
        from orders
    ),
    firsts as (
        select m, count(*)::bigint as n_first
        from (select o_custkey, min(m) as m from o group by o_custkey)
        group by m
    ),
    actives as (
        select m, count(*)::bigint as n_active
        from (select distinct o_custkey, m from o) group by m
    )
    select a.m as month, a.n_active,
           coalesce(f.n_first, 0)::bigint as n_first,
           (coalesce(f.n_first, 0) * 1000000 // a.n_active)::bigint
               as cold_start_ppm
    from actives a left join firsts f on a.m = f.m
    order by month
"""

QUERIES["q_user_hhi"] = q_user_hhi
ORACLES["q_user_hhi"] = """
    with per_type as (
        select user_id, event_type, count(*)::bigint as c
        from events group by 1, 2
    ),
    per_user as (
        select user_id, sum(c)::bigint as n_events,
               sum(c * c)::bigint as s2
        from per_type group by user_id
    )
    select user_id, n_events,
           (s2 * 1000000 // (n_events * n_events))::bigint as hhi_ppm
    from per_user order by user_id limit 500
"""

QUERIES["q_assortativity"] = q_assortativity
ORACLES["q_assortativity"] = """
    with baskets as (
        select l_orderkey, list_sort(list_distinct(list(l_partkey))) as items
        from lineitem group by l_orderkey
        having count(distinct l_partkey) <= 30
    ),
    inc as (
        select l_orderkey, unnest(items) as p from baskets
    ),
    edges as (
        select distinct a.p as a, b.p as b
        from inc a join inc b
          on a.l_orderkey = b.l_orderkey and a.p < b.p
    ),
    sym as (
        select a, b from edges union all select b, a from edges
    ),
    deg as (select a, count(*)::bigint as dg from sym group by a),
    eb as (
        select e.a, e.b, da.dg as da, db.dg as db
        from edges e join deg da on e.a = da.a join deg db on e.b = db.a
    ),
    agg as (
        select count(*)::bigint as n_edges,
               sum((da + db)::hugeint) as sx,
               sum(da::hugeint * da + db::hugeint * db) as sxx,
               sum(2 * da::hugeint * db) as sxy
        from eb
    )
    select n_edges,
           (2 * n_edges::hugeint * sxy - sx * sx)::varchar::double
           / (2 * n_edges::hugeint * sxx - sx * sx)::varchar::double
               as assortativity
    from agg
"""

QUERIES["q_common_neighbors_topk"] = q_common_neighbors_topk
ORACLES["q_common_neighbors_topk"] = """
    with baskets as (
        select l_orderkey, list_sort(list_distinct(list(l_partkey))) as items
        from lineitem group by l_orderkey
        having count(distinct l_partkey) <= 30
    ),
    inc as (
        select l_orderkey, unnest(items) as p from baskets
    ),
    edges as (
        select a.p as a, b.p as b
        from inc a join inc b
          on a.l_orderkey = b.l_orderkey and a.p < b.p
        group by 1, 2
        having count(*) >= 2
    ),
    sym as (
        select a, b from edges union all select b, a from edges
    ),
    wedges as (
        select e1.b as a, e2.b as b, count(*)::bigint as cn
        from sym e1 join sym e2 on e1.a = e2.a and e1.b < e2.b
        group by 1, 2
    )
    select w.a, w.b, w.cn
    from wedges w
    anti join edges e on w.a = e.a and w.b = e.b
    order by cn desc, a, b
    limit 20
"""


# ---------------------------------------------------------------------------
# round-9 batch 3: curation readouts + the Q10 reporting shape
# ---------------------------------------------------------------------------


def q_returned_items_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by RETURNED revenue in a
    quarter — the lost-revenue triage list. Date + returnflag filters
    push to both scans; the customer join is unhinted (customer scales
    with the fact) while nation (25 rows, constant) broadcasts; revenue
    stays exact micro-cent integers until the readout; the top-k is
    TakeOrderedAndProject, never a global sort."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-10-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp_ntz"))
    ).select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select(
        "l_orderkey",
        (
            F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            * (
                F.lit(100)
                - F.floor(F.col("l_discount") * F.lit(100.0) + F.lit(0.5))
                .cast("long")
            )
        ).alias("rev_u"),
    )
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per_cust = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum(F.col("rev_u").cast("decimal(38,0)")).alias("__rev"))
    )
    return (
        per_cust.join(cust, per_cust.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            F.col("__rev").cast("double").alias("returned_rev_u"),
        )
        .orderBy(F.col("returned_rev_u").desc(), F.col("c_custkey"))
        .limit(20)
    )


def q_dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor selection over near-dup clusters: for every LSH →
    connected-components cluster with 2+ members, keep the
    richest-content doc (max token count, ties to the smallest doc_id)
    — the canonicalization step between "find dups" (q_dedup_clusters)
    and "emit the deduped corpus". The argmax is ONE grouped
    max(struct(tok_n, -doc_id)) on the high-cardinality cluster key —
    no per-cluster window sort; the closure itself rides the
    q_dedup_clusters recursive-CTE oracle."""
    from .functions.text import token_count
    from .operators.components import dedup_clusters
    from .operators.dedup import minhash_near_duplicates

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        docs = _t(spark, sf_dir, "documents")
        pairs = minhash_near_duplicates(docs, "doc_id", "text", threshold=0.5)
        clusters = dedup_clusters(pairs, docs, "doc_id")
        tokc = docs.select(
            "doc_id", token_count(F.col("text")).cast("long").alias("tok_n")
        )
        per = (
            clusters.join(tokc, "doc_id")
            .groupBy("cluster_rep")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_members"),
                F.max(
                    F.struct(
                        F.col("tok_n").alias("t"),
                        (-F.col("doc_id")).alias("nd"),
                    )
                ).alias("__best"),
            )
        )
        out = (
            per.filter(F.col("n_members") >= 2)
            .select(
                "cluster_rep",
                "n_members",
                (-F.col("__best.nd")).cast("long").alias("survivor_id"),
                F.col("__best.t").alias("survivor_tokens"),
            )
            .orderBy("cluster_rep")
        )
        out.count()  # force the iterative stage under the capped width
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return out


def q_dedup_yield_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup yield as a function of the Jaccard threshold — the tuning
    curve a curation run reads before picking its cut (too low throws
    away distinct docs, too high keeps near-dups). ONE pass computes
    integer intersection/union sizes for the blocked candidate pairs
    (the q_ngram_jaccard candidate discipline: banded_id_pairs' linear
    (block, id-bucket) equi-join — never the block column alone, which
    is per-block quadratic and ~5-reducer-key skewed at 100 TB;
    shingle arrays attach to survivors only); each pair then fans out
    x5 to the thresholds it clears — integer cross-multiplication
    (100*i >= t*u), no float compare. Zero-pair thresholds still emit
    a row (left join from the literal threshold relation)."""
    from .operators.dedup import banded_id_pairs, hashed_shingle_sets

    docs = _t(spark, sf_dir, "documents")
    cand = banded_id_pairs(docs, "doc_id", "source", 100)
    sets_df = hashed_shingle_sets(docs, "doc_id", "text", 3)
    sa = sets_df.select(F.col("doc_id").alias("a"), F.col("sh").alias("sh_a"))
    sb = sets_df.select(F.col("doc_id").alias("b"), F.col("sh").alias("sh_b"))
    pv = (
        cand.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("long").alias("i"),
            F.size(F.array_union("sh_a", "sh_b")).cast("long").alias("u"),
        )
    )
    fan = pv.select(
        F.explode(F.array(*[F.lit(t) for t in (50, 60, 70, 80, 90)])).alias(
            "threshold_pct"
        ),
        "a",
        "b",
        "i",
        "u",
    ).filter(F.col("i") * 100 >= F.col("threshold_pct") * F.col("u"))
    counts = fan.groupBy("threshold_pct").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.countDistinct("b").cast("long").alias("n_docs_dropped"),
    )
    tdf = spark.range(1).select(
        F.explode(F.array(*[F.lit(t) for t in (50, 60, 70, 80, 90)])).alias(
            "threshold_pct"
        )
    )
    return (
        tdf.join(counts, "threshold_pct", "left")
        .select(
            F.col("threshold_pct").cast("long").alias("threshold_pct"),
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_docs_dropped", F.lit(0))
            .cast("long")
            .alias("n_docs_dropped"),
        )
        .orderBy("threshold_pct")
    )


def q_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative token-mass coverage of the top-N vocabulary (N in
    10/100/1k/10k) — the curve that sizes a tokenizer's vocab (where it
    flattens, extra entries buy nothing). Term frequencies aggregate
    once (vocab-bounded); ranks come from the two-phase global row
    number under (-freq, term) — no single-reducer sort; each top row
    fans out to the thresholds it falls under (x4 on <= 10k rows) and
    the coverage is an exact integer ppm against the one-row total."""
    from .functions.text import tokens
    from .operators.relational import with_global_row_number

    docs = _t(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    totals = freq.agg(
        F.sum("freq").cast("long").alias("total_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
    )
    ranked = with_global_row_number(
        freq.select("term", "freq", (-F.col("freq")).alias("__negf")),
        ["__negf", "term"],
        rn_col="rn",
    ).filter(F.col("rn") <= 10000)
    fan = ranked.select(
        F.explode(
            F.array(*[F.lit(n) for n in (10, 100, 1000, 10000)])
        ).alias("n_top"),
        "rn",
        "freq",
    ).filter(F.col("rn") <= F.col("n_top"))
    cov = fan.groupBy("n_top").agg(
        F.sum("freq").cast("long").alias("covered_tokens")
    )
    return (
        cov.crossJoin(F.broadcast(totals))
        .select(
            F.col("n_top").cast("long").alias("n_top"),
            "covered_tokens",
            "total_tokens",
            "vocab_size",
            F.expr("covered_tokens * 1000000 div total_tokens").alias(
                "coverage_ppm"
            ),
        )
        .orderBy("n_top")
    )


def q_contamination_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination rate PER SOURCE — q_decontaminate's
    per-document verdicts rolled up to the provenance grain, the view
    that tells a curation run WHICH feed leaks eval data. Same shingle
    pipeline (hashed longs before the join, distinct-reduced unhinted
    benchmark side), one extra source join + a 20-row aggregate; the
    flag and the rate stay exact integers."""
    from .functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", TX.tokens(F.col("text")).alias("__toks"))
    sh = (
        toks.select(
            "doc_id",
            F.explode(
                F.array_distinct(TX.shingles_of(F.col("__toks"), 3))
            ).alias("s"),
        )
        .select("doc_id", TX.hash32(F.col("s")).alias("h"))
        .distinct()
    )
    bench = sh.filter(F.col("doc_id") % 25 == 0).select("h").distinct()
    probe = sh.filter(F.col("doc_id") % 25 != 0)
    tot = probe.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sh")
    )
    cont = (
        probe.join(bench, "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_cont"))
    )
    per_doc = tot.join(cont, "doc_id", "left").select(
        "doc_id",
        F.when(
            F.coalesce(F.col("n_cont"), F.lit(0)) * 2 >= F.col("n_sh"), 1
        )
        .otherwise(0)
        .alias("flagged"),
    )
    src = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        per_doc.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("flagged").cast("long").alias("n_contaminated"),
        )
        .select(
            "source",
            "n_docs",
            "n_contaminated",
            F.expr("n_contaminated * 1000000 div n_docs").alias(
                "contaminated_ppm"
            ),
        )
        .orderBy("source")
    )


def q_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most repeated word 8-grams across the corpus with their
    document frequency — the boilerplate detector (headers, footers,
    cookie banners repeat verbatim across docs; a high occurrence count
    with high doc frequency is removable template text). Tokens
    materialize in their own projection (the shingles_of performance
    contract); counts are one combine-able aggregate over the exploded
    8-grams; the readout is TakeOrderedAndProject under the
    (occurrences desc, gram) total order."""
    from .functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", TX.tokens(F.col("text")).alias("__toks"))
    grams = toks.select(
        "doc_id",
        F.explode(TX.shingles_of(F.col("__toks"), 8)).alias("gram"),
    )
    return (
        grams.groupBy("gram")
        .agg(
            F.count(F.lit(1)).cast("long").alias("occurrences"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
        )
        .orderBy(F.col("occurrences").desc(), F.col("gram"))
        .limit(20)
    )


QUERIES["q_returned_items_topk"] = q_returned_items_topk
ORACLES["q_returned_items_topk"] = """
    with per_cust as (
        select o.o_custkey,
               sum((floor(l.l_extendedprice * 100 + 0.5)::bigint
                    * (100 - floor(l.l_discount * 100 + 0.5)::bigint))::hugeint)
                   as rev
        from lineitem l
        join orders o on l.l_orderkey = o.o_orderkey
        where l.l_returnflag = 'R'
          and o.o_orderdate >= timestamp '1995-10-01'
          and o.o_orderdate < timestamp '1996-01-01'
        group by o.o_custkey
    )
    select c.c_custkey, c.c_name, n.n_name,
           p.rev::varchar::double as returned_rev_u
    from per_cust p
    join customer c on p.o_custkey = c.c_custkey
    join nation n on c.c_nationkey = n.n_nationkey
    order by returned_rev_u desc, c.c_custkey
    limit 20
"""

QUERIES["q_dedup_survivorship"] = q_dedup_survivorship
ORACLES["q_dedup_survivorship"] = f"""
    with recursive
    {_DK_LSH_PAIR_CTES},
    {_DK_COMPONENT_CTES},
    tokc as (
        select doc_id, len({_DK_TOKENS})::bigint as tok_n from documents
    ),
    m as (
        select l.cluster_rep, l.doc_id, t.tok_n
        from lab l join tokc t on l.doc_id = t.doc_id
    ),
    r as (
        select cluster_rep, doc_id, tok_n,
               row_number() over (partition by cluster_rep
                                  order by tok_n desc, doc_id) as rk,
               count(*) over (partition by cluster_rep) as nm
        from m
    )
    select cluster_rep, nm::bigint as n_members,
           doc_id as survivor_id, tok_n as survivor_tokens
    from r where rk = 1 and nm >= 2
    order by cluster_rep
"""

QUERIES["q_dedup_yield_curve"] = q_dedup_yield_curve
ORACLES["q_dedup_yield_curve"] = f"""
    with t as (
        select doc_id, source, list_distinct({_DK_SHINGLES}) as sh
        from (select doc_id, source, {_DK_TOKENS} as w from documents)
    ),
    pv as (
        select a.doc_id as a, b.doc_id as b,
               len(list_distinct(list_intersect(a.sh, b.sh)))::bigint as i,
               len(list_distinct(a.sh || b.sh))::bigint as u
        from t a join t b
          on a.source = b.source and a.doc_id < b.doc_id
         and b.doc_id - a.doc_id <= 100
    ),
    th as (select unnest([50, 60, 70, 80, 90])::bigint as threshold_pct),
    counts as (
        select threshold_pct, count(*)::bigint as n_pairs,
               count(distinct b)::bigint as n_docs_dropped
        from pv cross join th
        where i * 100 >= threshold_pct * u
        group by threshold_pct
    )
    select th.threshold_pct,
           coalesce(c.n_pairs, 0)::bigint as n_pairs,
           coalesce(c.n_docs_dropped, 0)::bigint as n_docs_dropped
    from th left join counts c on th.threshold_pct = c.threshold_pct
    order by th.threshold_pct
"""

QUERIES["q_vocab_coverage_curve"] = q_vocab_coverage_curve
ORACLES["q_vocab_coverage_curve"] = f"""
    with tf as (
        select unnest({_DK_TOKENS}) as term from documents
    ),
    freq as (select term, count(*)::bigint as freq from tf group by term),
    totals as (
        select sum(freq)::bigint as total_tokens,
               count(*)::bigint as vocab_size
        from freq
    ),
    ranked as (
        select freq, row_number() over (order by freq desc, term) as rn
        from freq
    ),
    cov as (
        select n_top, sum(freq)::bigint as covered_tokens
        from ranked
        cross join (select unnest([10, 100, 1000, 10000])::bigint as n_top)
        where rn <= n_top
        group by n_top
    )
    select n_top, covered_tokens, total_tokens, vocab_size,
           (covered_tokens * 1000000 // total_tokens)::bigint as coverage_ppm
    from cov cross join totals
    order by n_top
"""

QUERIES["q_contamination_by_source"] = q_contamination_by_source
ORACLES["q_contamination_by_source"] = f"""
    with sh as (
        select distinct doc_id,
               ('0x' || substr(md5(s), 1, 8))::bigint as h
        from (
            select doc_id, unnest(list_distinct({_DK_SHINGLES})) as s
            from (select doc_id, {_DK_TOKENS} as w from documents)
        )
    ),
    bench as (select distinct h from sh where doc_id % 25 = 0),
    probe as (select * from sh where doc_id % 25 != 0),
    tot as (select doc_id, count(*)::bigint as n_sh from probe group by doc_id),
    cont as (
        select doc_id, count(*)::bigint as n_cont
        from probe semi join bench using (h)
        group by doc_id
    ),
    per_doc as (
        select t.doc_id,
               case when coalesce(c.n_cont, 0) * 2 >= t.n_sh then 1 else 0
               end as flagged
        from tot t left join cont c on t.doc_id = c.doc_id
    )
    select d.source, count(*)::bigint as n_docs,
           sum(p.flagged)::bigint as n_contaminated,
           (sum(p.flagged) * 1000000 // count(*))::bigint as contaminated_ppm
    from per_doc p join documents d on p.doc_id = d.doc_id
    group by d.source
    order by d.source
"""

_DK_SHINGLES8 = (
    "list_transform(generate_series(1, greatest(len(w)-7, 0)),"
    " i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]"
    " || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7])"
)

QUERIES["q_boilerplate_ngrams"] = q_boilerplate_ngrams
ORACLES["q_boilerplate_ngrams"] = f"""
    with grams as (
        select doc_id, unnest({_DK_SHINGLES8}) as gram
        from (select doc_id, {_DK_TOKENS} as w from documents)
    )
    select gram, count(*)::bigint as occurrences,
           count(distinct doc_id)::bigint as n_docs
    from grams
    group by gram
    order by occurrences desc, gram
    limit 20
"""


# ---------------------------------------------------------------------------
# round-9 batch 4: paired tests, grouped inequality, market structure
# ---------------------------------------------------------------------------


def q_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on per-part revenue, 1996 vs 1997 —
    the PAIRED nonparametric test (the panel-data sibling of
    q_mann_whitney's independent two-sample U): did the same parts earn
    more in 1997? Differences are exact micro-cent integers; zero
    differences drop (the standard treatment); |d| ranks come from the
    two-phase global rank under the (|d|, partkey) total order; and
    z^2 = 3*(4W+ - n(n+1))^2 / (2n(n+1)(2n+1)) is fully
    cross-multiplied — exact integers until ONE IEEE division."""
    from .operators.relational import with_global_row_number

    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    rev_u = (
        F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        * (
            F.lit(100)
            - F.floor(F.col("l_discount") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
        )
    )
    per = (
        li.select(
            "l_partkey",
            F.year("l_shipdate").alias("yr"),
            rev_u.alias("rev_u"),
        )
        .groupBy("l_partkey")
        .agg(
            F.sum(F.when(F.col("yr") == 1996, F.col("rev_u")).otherwise(0))
            .cast("long")
            .alias("r96"),
            F.sum(F.when(F.col("yr") == 1997, F.col("rev_u")).otherwise(0))
            .cast("long")
            .alias("r97"),
            F.sum(F.when(F.col("yr") == 1996, 1).otherwise(0)).alias("n96"),
            F.sum(F.when(F.col("yr") == 1997, 1).otherwise(0)).alias("n97"),
        )
        .filter((F.col("n96") > 0) & (F.col("n97") > 0))
        .select(
            "l_partkey", (F.col("r97") - F.col("r96")).alias("d")
        )
        .filter(F.col("d") != 0)
    )
    ranked = with_global_row_number(
        per.select("l_partkey", "d", F.abs("d").alias("ad")),
        ["ad", "l_partkey"],
        rn_col="rk",
    )
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(
            F.when(F.col("d") > 0, F.col("rk")).otherwise(0)
            .cast("decimal(38,0)")
        ).alias("__wp"),
    )
    n = F.col("n_pairs").cast("decimal(38,0)")
    dev = F.lit(4).cast("decimal(38,0)") * F.col("__wp") - n * (n + 1)
    num = F.lit(3).cast("decimal(38,0)") * dev * dev
    den = F.lit(2).cast("decimal(38,0)") * n * (n + 1) * (2 * n + 1)
    return agg.select(
        "n_pairs",
        F.col("__wp").cast("double").alias("w_plus"),
        (num.cast("double") / den.cast("double")).alias("z2"),
    )


def q_gini_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Gini of customer revenue — q_gini generalized to the
    GROUPED rank discipline: each nation's ascending-revenue sort is
    range-split across ALL reducers (operators/relational.
    with_grouped_row_number — a Window.partitionBy(nation) form would
    hand one reducer one nation's entire customer base at 100 TB). The
    orders ⟕ customer join is unhinted (both scale); rank-weighted sums
    merge as decimal(38,0); one IEEE division per nation row."""
    from .operators.relational import with_grouped_row_number

    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    per = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.sum("cents").cast("long").alias("rev"))
    )
    ranked = with_grouped_row_number(
        per, ["c_nationkey"], ["rev", "o_custkey"], rn_col="i", n_col="n"
    )
    agg = ranked.groupBy("c_nationkey").agg(
        F.max("n").cast("long").alias("n_customers"),
        F.sum(F.col("rev").cast("decimal(38,0)")).alias("__sx"),
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("rev")).alias("__six"),
    )
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        agg.join(F.broadcast(nat), agg.c_nationkey == nat.n_nationkey)
        .select(
            "n_name",
            "n_customers",
            (
                (
                    F.lit(2) * F.col("__six")
                    - (F.col("n_customers") + 1) * F.col("__sx")
                ).cast("double")
                / (F.col("n_customers") * F.col("__sx")).cast("double")
            ).alias("gini"),
        )
        .orderBy("n_name")
    )


def q_supplier_hhi_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier market concentration (Herfindahl, exact ppm) per nation
    — the antitrust-style readout of how contestable each nation's
    supply base is. Per-supplier revenue aggregates once (map-side
    combined); the supplier join is unhinted (supplier scales). Shares
    compute over per-supplier revenue FLOORED TO WHOLE DOLLARS (one
    mirrored floor division after the exact micro-cent sum): that keeps
    s2*1e6 inside decimal(38,0)/hugeint at 100 TB magnitudes AND keeps
    every integral-divide quotient long-sized — Spark's ``div`` returns
    a LONG quotient, and an inner div with a ~1e22 quotient silently
    overflows (caught by the sf0.1 sweep, round 9)."""
    li = _t(spark, sf_dir, "lineitem")
    rev_u = (
        F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        * (
            F.lit(100)
            - F.floor(F.col("l_discount") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
        )
    )
    per_supp = (
        li.select("l_suppkey", rev_u.alias("rev_u"))
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("rev_u").cast("decimal(38,0)")).alias("__rev_u"))
        .select(
            "l_suppkey",
            # micro-cents (1e-4 dollar units) -> whole dollars; the
            # quotient fits a long at any scale (1e13 dollars/supplier
            # is 9 orders below 2^63)
            F.expr("cast(__rev_u div 1000000 as bigint)").alias("rev_d"),
        )
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per_nat = (
        per_supp.join(supp, per_supp.l_suppkey == supp.s_suppkey)
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_suppliers"),
            F.sum(F.col("rev_d").cast("decimal(38,0)")).alias("__sx"),
            F.sum(
                F.col("rev_d").cast("decimal(38,0)") * F.col("rev_d")
            ).alias("__s2"),
        )
    )
    return (
        per_nat.join(F.broadcast(nat), per_nat.s_nationkey == nat.n_nationkey)
        .select(
            "n_name",
            "n_suppliers",
            F.expr(
                "cast((__s2 * 1000000) div (__sx * __sx) as bigint)"
            ).alias("hhi_ppm"),
        )
        .orderBy("n_name")
    )


def q_price_dispersion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by relative line-value dispersion — the pricing-
    consistency screen (a part whose line values swing wildly is being
    discounted erratically or sold in wildly varying quantities). The
    relative variance cross-multiplies to ONE exact integer ppm per
    part: rv_ppm = (n*sxx - sx^2) * 1e6 div sx^2 over decimal(38,0)
    power sums (map-side combined; one fact shuffle on partkey); the
    readout is TakeOrderedAndProject under (rv_ppm desc, partkey)."""
    li = _t(spark, sf_dir, "lineitem")
    per = (
        li.select(
            "l_partkey",
            F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(F.col("cents").cast("decimal(38,0)")).alias("__sx"),
            F.sum(
                F.col("cents").cast("decimal(38,0)") * F.col("cents")
            ).alias("__sxx"),
        )
        .filter(F.col("n_lines") >= 2)
    )
    rv = per.select(
        "l_partkey",
        "n_lines",
        F.expr(
            "cast(((n_lines * __sxx - __sx * __sx) * 1000000)"
            " div (__sx * __sx) as bigint)"
        ).alias("rv_ppm"),
    )
    return rv.orderBy(F.col("rv_ppm").desc(), F.col("l_partkey")).limit(20)


def q_split_balance_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QA for the hash split: per (source, split), the observed doc
    count against the expected thousandths share (train 900 / val 50 /
    test 50 of each source), with the absolute deviation in exact ppm
    of expected — the check that a content-independent hash split did
    not accidentally skew any source. Pure integer arithmetic on a
    sources x 3 relation."""
    from .functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    bucket = TX.hash32(F.col("doc_id").cast("string")) % 1000
    tagged = docs.select(
        "source",
        F.when(bucket < 900, F.lit("train"))
        .when(bucket < 950, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    obs = tagged.groupBy("source", "split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    totals = tagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("src_n")
    )
    share = (
        F.when(F.col("split") == "train", 900)
        .when(F.col("split") == "val", 50)
        .otherwise(50)
        .cast("long")
    )
    j = obs.join(totals, "source").withColumn("share_th", share)
    return j.select(
        "source",
        "split",
        "n_docs",
        (F.col("src_n") * F.col("share_th")).alias("expected_x1000"),
        F.expr(
            "abs(n_docs * 1000 - src_n * share_th) * 1000000"
            " div (src_n * share_th)"
        ).alias("deviation_ppm"),
    ).orderBy("source", "split")


def q_ma_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MA(7)/MA(28) crossover days of daily revenue — the trend-shift
    detector (fast average crossing the slow one). Everything lives on
    the DAY-DOMAIN relation: calendar-range window sums (RANGE frames
    on the day number, so date gaps are handled exactly), and the
    crossing test is fully cross-multiplied — a7 > a28 iff
    s7*c28 > s28*c7 with integer sums and window-row counts, so partial
    windows at the series head are exact too, no float ever compared.
    A crossover = the sign of (s7*c28 - s28*c7) changing day-over-day."""
    orders = _t(spark, sf_dir, "orders")
    daily = (
        orders.select(
            F.to_date("o_orderdate").alias("d"),
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("d")
        .agg(F.sum("cents").cast("long").alias("c"))
        .withColumn(
            "dn", F.datediff("d", F.lit("1995-01-01").cast("date")).cast("long")
        )
    )
    w7 = Window.orderBy("dn").rangeBetween(-6, 0)
    w28 = Window.orderBy("dn").rangeBetween(-27, 0)
    ma = daily.select(
        "d",
        F.sum("c").over(w7).cast("decimal(38,0)").alias("s7"),
        F.count(F.lit(1)).over(w7).cast("decimal(38,0)").alias("c7"),
        F.sum("c").over(w28).cast("decimal(38,0)").alias("s28"),
        F.count(F.lit(1)).over(w28).cast("decimal(38,0)").alias("c28"),
    )
    signed = ma.select(
        "d",
        F.when(
            F.col("s7") * F.col("c28") > F.col("s28") * F.col("c7"), 1
        )
        .when(F.col("s7") * F.col("c28") < F.col("s28") * F.col("c7"), -1)
        .otherwise(0)
        .cast("long")
        .alias("sgn"),
    )
    wd = Window.orderBy("d")
    return (
        signed.select(
            "d",
            "sgn",
            F.lag("sgn").over(wd).alias("prev"),
        )
        .filter(
            F.col("prev").isNotNull()
            & (F.col("sgn") != 0)
            & (F.col("prev") != 0)
            & (F.col("sgn") != F.col("prev"))
        )
        .select(
            F.col("d").cast("string").alias("day"),
            F.when(F.col("sgn") > 0, F.lit("golden"))
            .otherwise(F.lit("death"))
            .alias("cross"),
        )
        .orderBy("day")
    )


QUERIES["q_wilcoxon_signed_rank"] = q_wilcoxon_signed_rank
ORACLES["q_wilcoxon_signed_rank"] = """
    with per as (
        select l_partkey,
               sum(case when year(l_shipdate) = 1996 then
                   floor(l_extendedprice * 100 + 0.5)::bigint
                   * (100 - floor(l_discount * 100 + 0.5)::bigint)
                   else 0 end)::bigint as r96,
               sum(case when year(l_shipdate) = 1997 then
                   floor(l_extendedprice * 100 + 0.5)::bigint
                   * (100 - floor(l_discount * 100 + 0.5)::bigint)
                   else 0 end)::bigint as r97,
               sum(case when year(l_shipdate) = 1996 then 1 else 0
                   end) as n96,
               sum(case when year(l_shipdate) = 1997 then 1 else 0
                   end) as n97
        from lineitem
        where l_shipdate >= timestamp '1996-01-01'
          and l_shipdate < timestamp '1998-01-01'
        group by l_partkey
    ),
    diffs as (
        select l_partkey, r97 - r96 as d
        from per where n96 > 0 and n97 > 0 and r97 != r96
    ),
    ranked as (
        select d, row_number() over (order by abs(d), l_partkey) as rk
        from diffs
    ),
    agg as (
        select count(*)::bigint as n_pairs,
               sum(case when d > 0 then rk::hugeint else 0 end) as wp
        from ranked
    )
    select n_pairs, wp::varchar::double as w_plus,
           (3 * (4 * wp - n_pairs::hugeint * (n_pairs + 1))
              * (4 * wp - n_pairs::hugeint * (n_pairs + 1)))::varchar::double
           / (2 * n_pairs::hugeint * (n_pairs + 1)
              * (2 * n_pairs + 1))::varchar::double as z2
    from agg
"""

QUERIES["q_gini_by_nation"] = q_gini_by_nation
ORACLES["q_gini_by_nation"] = """
    with per as (
        select c.c_nationkey, o.o_custkey,
               sum(floor(o.o_totalprice * 100 + 0.5)::bigint)::bigint as rev
        from orders o join customer c on o.o_custkey = c.c_custkey
        group by 1, 2
    ),
    ranked as (
        select c_nationkey, rev,
               row_number() over (partition by c_nationkey
                                  order by rev, o_custkey) as i,
               count(*) over (partition by c_nationkey) as n
        from per
    ),
    agg as (
        select c_nationkey, max(n)::bigint as n_customers,
               sum(rev) as sx, sum(i::hugeint * rev) as six
        from ranked group by c_nationkey
    )
    select nn.n_name, a.n_customers,
           (2 * a.six - (a.n_customers + 1) * a.sx)::varchar::double
           / (a.n_customers * a.sx)::varchar::double as gini
    from agg a join nation nn on a.c_nationkey = nn.n_nationkey
    order by nn.n_name
"""

QUERIES["q_supplier_hhi_by_nation"] = q_supplier_hhi_by_nation
ORACLES["q_supplier_hhi_by_nation"] = """
    with per_supp as (
        select l_suppkey,
               (sum((floor(l_extendedprice * 100 + 0.5)::bigint
                    * (100 - floor(l_discount * 100 + 0.5)::bigint))::hugeint)
                // 1000000)::bigint as rev_d
        from lineitem group by l_suppkey
    ),
    per_nat as (
        select s.s_nationkey, count(*)::bigint as n_suppliers,
               sum(p.rev_d::hugeint) as sx,
               sum(p.rev_d::hugeint * p.rev_d) as s2
        from per_supp p join supplier s on p.l_suppkey = s.s_suppkey
        group by s.s_nationkey
    )
    select n.n_name, p.n_suppliers,
           ((p.s2 * 1000000) // (p.sx * p.sx))::bigint as hhi_ppm
    from per_nat p join nation n on p.s_nationkey = n.n_nationkey
    order by n.n_name
"""

QUERIES["q_price_dispersion_topk"] = q_price_dispersion_topk
ORACLES["q_price_dispersion_topk"] = """
    with per as (
        select l_partkey, count(*)::bigint as n_lines,
               sum(floor(l_extendedprice * 100 + 0.5)::bigint::hugeint) as sx,
               sum(floor(l_extendedprice * 100 + 0.5)::bigint::hugeint
                   * floor(l_extendedprice * 100 + 0.5)::bigint) as sxx
        from lineitem group by l_partkey
        having count(*) >= 2
    )
    select l_partkey, n_lines,
           (((n_lines * sxx - sx * sx) * 1000000) // (sx * sx))::bigint
               as rv_ppm
    from per
    order by rv_ppm desc, l_partkey
    limit 20
"""

QUERIES["q_split_balance_check"] = q_split_balance_check
ORACLES["q_split_balance_check"] = """
    with tagged as (
        select source,
               case when b < 900 then 'train'
                    when b < 950 then 'val' else 'test' end as split
        from (
            select source,
                   ('0x' || substr(md5(doc_id::varchar), 1, 8))::bigint
                       % 1000 as b
            from documents
        )
    ),
    obs as (
        select source, split, count(*)::bigint as n_docs
        from tagged group by 1, 2
    ),
    totals as (select source, count(*)::bigint as src_n from tagged group by 1)
    select o.source, o.split, o.n_docs,
           (t.src_n * case o.split when 'train' then 900
                      when 'val' then 50 else 50 end)::bigint
               as expected_x1000,
           (abs(o.n_docs * 1000 - t.src_n * case o.split when 'train' then 900
                                            when 'val' then 50 else 50 end)
            * 1000000
            // (t.src_n * case o.split when 'train' then 900
                          when 'val' then 50 else 50 end))::bigint
               as deviation_ppm
    from obs o join totals t on o.source = t.source
    order by o.source, o.split
"""

QUERIES["q_ma_crossover"] = q_ma_crossover
ORACLES["q_ma_crossover"] = """
    with daily as (
        select o_orderdate::date as d,
               sum(floor(o_totalprice * 100 + 0.5)::bigint)::bigint as c,
               date_diff('day', date '1995-01-01', o_orderdate::date)::bigint
                   as dn
        from orders group by 1, 3
    ),
    ma as (
        select d,
               sum(c) over (order by dn range between 6 preceding
                            and current row)::hugeint as s7,
               count(*) over (order by dn range between 6 preceding
                              and current row)::hugeint as c7,
               sum(c) over (order by dn range between 27 preceding
                            and current row)::hugeint as s28,
               count(*) over (order by dn range between 27 preceding
                              and current row)::hugeint as c28
        from daily
    ),
    signed as (
        select d, case when s7 * c28 > s28 * c7 then 1
                       when s7 * c28 < s28 * c7 then -1
                       else 0 end::bigint as sgn
        from ma
    ),
    flips as (
        select d, sgn, lag(sgn) over (order by d) as prev from signed
    )
    select d::varchar as day,
           case when sgn > 0 then 'golden' else 'death' end as cross
    from flips
    where prev is not null and sgn != 0 and prev != 0 and sgn != prev
    order by day
"""


# ---------------------------------------------------------------------------
# round-9 batch 5: causal readout, classifier eval, dedup economics
# ---------------------------------------------------------------------------


def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: BUILDING-segment customers (treated)
    vs the rest (control), mean order value 1996 (pre) vs 1997 (post) —
    the workhorse causal readout for "did the thing we did to THAT
    cohort move THEIR number beyond the market trend?". ONE fact scan
    of conditional integer sums (map-side combined); each cell mean is
    one IEEE division of exact integers; DiD is arithmetic over the
    four identically-computed doubles — both engines run the same op
    tree, so the readout hash-checks. The customer join is unhinted."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    ).select(
        "o_custkey",
        F.year("o_orderdate").alias("yr"),
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_mktsegment") == "BUILDING").alias("treated"),
    )
    j = orders.join(cust, orders.o_custkey == cust.c_custkey)

    def cell(treated: bool, yr: int, name: str) -> list:
        cond = (F.col("treated") == treated) & (F.col("yr") == yr)
        return [
            F.sum(F.when(cond, F.col("cents")).otherwise(0))
            .cast("decimal(38,0)")
            .alias(f"__s_{name}"),
            F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(
                f"n_{name}"
            ),
        ]

    agg = j.agg(
        *cell(True, 1996, "t_pre"),
        *cell(True, 1997, "t_post"),
        *cell(False, 1996, "c_pre"),
        *cell(False, 1997, "c_post"),
    )
    means = {
        n: (F.col(f"__s_{n}").cast("double") / F.col(f"n_{n}").cast("double"))
        for n in ("t_pre", "t_post", "c_pre", "c_post")
    }
    return agg.select(
        "n_t_pre",
        "n_t_post",
        "n_c_pre",
        "n_c_post",
        means["t_pre"].alias("mean_t_pre"),
        means["t_post"].alias("mean_t_post"),
        means["c_pre"].alias("mean_c_pre"),
        means["c_post"].alias("mean_c_post"),
        (
            (means["t_post"] - means["t_pre"])
            - (means["c_post"] - means["c_pre"])
        ).alias("did_cents"),
    )


def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the stopword language-ID heuristic against
    the labeled lang column — the eval every classifier-shaped curation
    filter needs before it gates data (here: how often non-English docs
    sneak past an English detector). One map-only detect pass, one
    (true, predicted) aggregate, within-true shares in exact ppm."""
    from .functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    tagged = docs.select(
        "lang", TX.lang_id(F.col("text")).alias("lang_detected")
    )
    cells = tagged.groupBy("lang", "lang_detected").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    totals = cells.groupBy("lang").agg(
        F.sum("n_docs").cast("long").alias("__lt")
    )
    return (
        cells.join(totals, "lang")
        .select(
            "lang",
            "lang_detected",
            "n_docs",
            F.expr("n_docs * 1000000 div __lt").alias("share_ppm"),
        )
        .orderBy("lang", "lang_detected")
    )


def q_dedup_token_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token savings from near-dup survivorship, per source — the
    economics readout of a dedup run (tokens are training cost; this is
    what the threshold choice buys). Dropped tokens = cluster members
    that are NOT the survivor (q_dedup_survivorship's argmax); rolled
    up with each source's total token mass into an exact ppm saving.
    Rides the recursive-CTE closure oracle."""
    from .functions.text import token_count
    from .operators.components import dedup_clusters
    from .operators.dedup import minhash_near_duplicates

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        docs = _t(spark, sf_dir, "documents")
        pairs = minhash_near_duplicates(docs, "doc_id", "text", threshold=0.5)
        clusters = dedup_clusters(pairs, docs, "doc_id")
        tokd = docs.select(
            "doc_id",
            "source",
            token_count(F.col("text")).cast("long").alias("tok_n"),
        )
        m = clusters.join(tokd, "doc_id")
        # survivor argmax as a window over the SAME key the old
        # groupBy+join-back aggregated on: one shuffle of m instead of
        # two (guide: a window partitioned like a preceding aggregation
        # needs no second exchange; r14 A/B 4.49 s -> 3.85 s, rows
        # identical — same max(struct) expression, same tiebreak)
        w_rep = Window.partitionBy("cluster_rep")
        survivor = (
            -F.max(
                F.struct(
                    F.col("tok_n").alias("t"), (-F.col("doc_id")).alias("nd")
                )
            ).over(w_rep)["nd"]
        ).cast("long")
        flagged = m.select(
            "source",
            "tok_n",
            (F.col("doc_id") != survivor).alias("dropped"),
        )
        out = (
            flagged.groupBy("source")
            .agg(
                F.sum("tok_n").cast("long").alias("total_tokens"),
                F.sum(F.when(F.col("dropped"), F.col("tok_n")).otherwise(0))
                .cast("long")
                .alias("dropped_tokens"),
            )
            .select(
                "source",
                "total_tokens",
                "dropped_tokens",
                F.expr(
                    "dropped_tokens * 1000000 div total_tokens"
                ).alias("savings_ppm"),
            )
            .orderBy("source")
        )
        # the r13-era mid-query count() (forcing the whole remaining
        # plan under the capped width) is gone (r15): the iterative CC
        # stage already runs eagerly under the cap inside
        # dedup_clusters, the r14 window rewrite removed the join-back
        # the cap protected, and the labels hand-off is now a
        # localCheckpoint — re-measured per r14 VERDICT item 7:
        # removing it is 1.06x faster (interleaved A/B, rows identical)
        # and the post-CC aggregate now runs at the scale-adaptive
        # default width instead of a local constant.
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return out


QUERIES["q_diff_in_diff"] = q_diff_in_diff
ORACLES["q_diff_in_diff"] = """
    with j as (
        select case when c.c_mktsegment = 'BUILDING' then 1 else 0
               end as treated,
               year(o.o_orderdate) as yr,
               floor(o.o_totalprice * 100 + 0.5)::bigint as cents
        from orders o join customer c on o.o_custkey = c.c_custkey
        where o.o_orderdate >= timestamp '1996-01-01'
          and o.o_orderdate < timestamp '1998-01-01'
    ),
    agg as (
        select
          sum(case when treated = 1 and yr = 1996 then cents::hugeint else 0
              end) as s_t_pre,
          sum(case when treated = 1 and yr = 1996 then 1 else 0
              end)::bigint as n_t_pre,
          sum(case when treated = 1 and yr = 1997 then cents::hugeint else 0
              end) as s_t_post,
          sum(case when treated = 1 and yr = 1997 then 1 else 0
              end)::bigint as n_t_post,
          sum(case when treated = 0 and yr = 1996 then cents::hugeint else 0
              end) as s_c_pre,
          sum(case when treated = 0 and yr = 1996 then 1 else 0
              end)::bigint as n_c_pre,
          sum(case when treated = 0 and yr = 1997 then cents::hugeint else 0
              end) as s_c_post,
          sum(case when treated = 0 and yr = 1997 then 1 else 0
              end)::bigint as n_c_post
        from j
    )
    select n_t_pre, n_t_post, n_c_pre, n_c_post,
           s_t_pre::varchar::double / n_t_pre::double as mean_t_pre,
           s_t_post::varchar::double / n_t_post::double as mean_t_post,
           s_c_pre::varchar::double / n_c_pre::double as mean_c_pre,
           s_c_post::varchar::double / n_c_post::double as mean_c_post,
           (s_t_post::varchar::double / n_t_post::double
            - s_t_pre::varchar::double / n_t_pre::double)
           - (s_c_post::varchar::double / n_c_post::double
              - s_c_pre::varchar::double / n_c_pre::double) as did_cents
    from agg
"""

QUERIES["q_langid_confusion"] = q_langid_confusion
ORACLES["q_langid_confusion"] = f"""
    with tagged as (
        select lang,
               case when len(list_intersect(list_distinct({_DK_TOKENS}),
                                            {_DK_STOPLIST})) >= 1
                    then 'en' else 'unk' end as lang_detected
        from documents
    ),
    cells as (
        select lang, lang_detected, count(*)::bigint as n_docs
        from tagged group by 1, 2
    )
    select c.lang, c.lang_detected, c.n_docs,
           (c.n_docs * 1000000 // t.lt)::bigint as share_ppm
    from cells c
    join (select lang, sum(n_docs)::bigint as lt from cells group by lang) t
      on c.lang = t.lang
    order by c.lang, c.lang_detected
"""

QUERIES["q_dedup_token_savings"] = q_dedup_token_savings
ORACLES["q_dedup_token_savings"] = f"""
    with recursive
    {_DK_LSH_PAIR_CTES},
    {_DK_COMPONENT_CTES},
    tokd as (
        select doc_id, source, len({_DK_TOKENS})::bigint as tok_n
        from documents
    ),
    m as (
        select l.cluster_rep, l.doc_id, t.source, t.tok_n
        from lab l join tokd t on l.doc_id = t.doc_id
    ),
    surv as (
        select cluster_rep, doc_id as survivor_id
        from (
            select cluster_rep, doc_id,
                   row_number() over (partition by cluster_rep
                                      order by tok_n desc, doc_id) as rk
            from m
        ) where rk = 1
    )
    select m.source, sum(m.tok_n)::bigint as total_tokens,
           sum(case when m.doc_id != s.survivor_id then m.tok_n else 0
               end)::bigint as dropped_tokens,
           (sum(case when m.doc_id != s.survivor_id then m.tok_n else 0 end)
            * 1000000 // sum(m.tok_n))::bigint as savings_ppm
    from m join surv s on m.cluster_rep = s.cluster_rep
    group by m.source
    order by m.source
"""


# ---------------------------------------------------------------------------
# round-9 batch 6: drift, latency SLAs, purchase-cycle readouts
# ---------------------------------------------------------------------------


def q_tv_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total-variation distance between the 1996 and 1997 order-value
    distributions ($100 bins) — the drift score that needs NO logs and
    no expected-count floor (q_drift_chi2's robust cousin; TV is what
    distribution-shift monitors alert on). One scan to per-bin counts
    for both periods, then TV = sum|p_i − q_i| / 2 fully
    cross-multiplied: sum over bins of |c96*n97 − c97*n96| as exact
    decimal, divided once by 2*n96*n97 in ppm — integer until the ppm
    floor division, whose quotient is <= 1e6 by construction."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    binned = orders.select(
        F.year("o_orderdate").alias("yr"),
        (
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            / F.lit(10000)
        ).cast("long").alias("bin"),
    )
    per_bin = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("yr") == 1996, 1).otherwise(0))
        .cast("long")
        .alias("c96"),
        F.sum(F.when(F.col("yr") == 1997, 1).otherwise(0))
        .cast("long")
        .alias("c97"),
    )
    agg = per_bin.agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.sum("c96").cast("long").alias("n96"),
        F.sum("c97").cast("long").alias("n97"),
    )
    tv = per_bin.crossJoin(F.broadcast(agg)).agg(
        F.sum(
            F.abs(
                F.col("c96").cast("decimal(38,0)") * F.col("n97")
                - F.col("c97").cast("decimal(38,0)") * F.col("n96")
            )
        ).alias("__num"),
        F.max("n_bins").cast("long").alias("n_bins"),
        F.max("n96").cast("long").alias("n96"),
        F.max("n97").cast("long").alias("n97"),
    )
    return tv.select(
        "n96",
        "n97",
        "n_bins",
        F.expr(
            "cast((__num * 1000000)"
            " div (2 * cast(n96 as decimal(38,0)) * n97) as bigint)"
        ).alias("tv_ppm"),
    )


def q_ship_latency_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency in WEEKLY bands per order priority — the
    operational SLA histogram (is URGENT actually shipping faster?).
    One orders ⟕ lineitem equi-join (both fact-sized, unhinted),
    integer datediff floor-divided into bands, and a
    priorities x bands aggregate with exact within-priority ppm
    shares. The band domain is calendar-span/7 (the synthetic ship
    dates aren't causally tied to their order dates, so bands cover the
    full +/- range) — calendar-bounded at any SF, never fact-sized."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "o_orderpriority",
        F.expr(
            "datediff(l_shipdate, o_orderdate) div 7"
        ).cast("long").alias("band_weeks"),
    )
    cells = j.groupBy("o_orderpriority", "band_weeks").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines")
    )
    totals = cells.groupBy("o_orderpriority").agg(
        F.sum("n_lines").cast("long").alias("__pt")
    )
    return (
        cells.join(totals, "o_orderpriority")
        .select(
            "o_orderpriority",
            "band_weeks",
            "n_lines",
            F.expr("n_lines * 1000000 div __pt").alias("share_ppm"),
        )
        .orderBy("o_orderpriority", "band_weeks")
    )


def q_reorder_interval_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median days between a customer's consecutive orders — the
    purchase-cycle constant behind replenishment marketing and churn
    cutoffs. Per-customer gaps come from ONE lag window partitioned on
    the high-cardinality custkey (distributes); the global median is
    rank-selected by the two-phase global row number under the
    (gap, custkey, orderkey) total order — no percentile(), no
    single-reducer sort."""
    from .operators.relational import with_global_row_number

    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", F.to_date("o_orderdate").alias("d")
    )
    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    gaps = orders.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(
            "d", F.lag("d").over(w)
        ).cast("long").alias("gap_days"),
    ).filter(F.col("gap_days").isNotNull())
    ranked = with_global_row_number(
        gaps, ["gap_days", "o_custkey", "o_orderkey"], rn_col="rn", n_col="n"
    )
    mid = ranked.filter(
        (F.col("rn") == F.expr("(n + 1) div 2"))
        | (F.col("rn") == F.expr("n div 2 + 1"))
    )
    return mid.agg(
        F.max("n").cast("long").alias("n_gaps"),
        (
            F.sum("gap_days").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("median_gap_days"),
    )


def q_first_vs_repeat_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean order value: first-ever order vs repeat orders — the
    acquisition-quality readout (do customers spend more once they
    trust the shop?). The first-order flag is rn == 1 of a per-customer
    window under the (date, orderkey) total order (high-cardinality
    partition key — distributes); the means are one conditional exact
    integer aggregate with two IEEE divisions and their identically-
    computed difference."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.to_date("o_orderdate").alias("d"),
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    flagged = orders.select(
        "cents", (F.row_number().over(w) == 1).alias("is_first")
    )
    agg = flagged.agg(
        F.sum(F.when(F.col("is_first"), 1).otherwise(0))
        .cast("long")
        .alias("n_first"),
        F.sum(F.when(~F.col("is_first"), 1).otherwise(0))
        .cast("long")
        .alias("n_repeat"),
        F.sum(F.when(F.col("is_first"), F.col("cents")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("__sf"),
        F.sum(F.when(~F.col("is_first"), F.col("cents")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("__sr"),
    )
    mean_f = F.col("__sf").cast("double") / F.col("n_first").cast("double")
    mean_r = F.col("__sr").cast("double") / F.col("n_repeat").cast("double")
    return agg.select(
        "n_first",
        "n_repeat",
        mean_f.alias("mean_first_cents"),
        mean_r.alias("mean_repeat_cents"),
        (mean_r - mean_f).alias("repeat_uplift_cents"),
    )


QUERIES["q_tv_drift"] = q_tv_drift
ORACLES["q_tv_drift"] = """
    with binned as (
        select year(o_orderdate) as yr,
               floor(o_totalprice * 100 + 0.5)::bigint // 10000 as bin
        from orders
        where o_orderdate >= timestamp '1996-01-01'
          and o_orderdate < timestamp '1998-01-01'
    ),
    per_bin as (
        select bin,
               sum(case when yr = 1996 then 1 else 0 end)::bigint as c96,
               sum(case when yr = 1997 then 1 else 0 end)::bigint as c97
        from binned group by bin
    ),
    agg as (
        select count(*)::bigint as n_bins, sum(c96)::bigint as n96,
               sum(c97)::bigint as n97
        from per_bin
    )
    select a.n96, a.n97, a.n_bins,
           ((select sum(abs(c96::hugeint * a.n97 - c97::hugeint * a.n96))
             from per_bin) * 1000000
            // (2 * a.n96::hugeint * a.n97))::bigint as tv_ppm
    from agg a
"""

QUERIES["q_ship_latency_bands"] = q_ship_latency_bands
ORACLES["q_ship_latency_bands"] = """
    with j as (
        select o.o_orderpriority,
               (date_diff('day', o.o_orderdate::date, l.l_shipdate::date)
                // 7)::bigint as band_weeks
        from lineitem l join orders o on l.l_orderkey = o.o_orderkey
    ),
    cells as (
        select o_orderpriority, band_weeks, count(*)::bigint as n_lines
        from j group by 1, 2
    )
    select c.o_orderpriority, c.band_weeks, c.n_lines,
           (c.n_lines * 1000000 // t.pt)::bigint as share_ppm
    from cells c
    join (select o_orderpriority, sum(n_lines)::bigint as pt
          from cells group by 1) t
      on c.o_orderpriority = t.o_orderpriority
    order by c.o_orderpriority, c.band_weeks
"""

QUERIES["q_reorder_interval_median"] = q_reorder_interval_median
ORACLES["q_reorder_interval_median"] = """
    with gaps as (
        select o_custkey, o_orderkey,
               date_diff('day',
                         lag(o_orderdate::date) over (
                             partition by o_custkey
                             order by o_orderdate::date, o_orderkey),
                         o_orderdate::date)::bigint as gap_days
        from orders
    ),
    r as (
        select gap_days,
               row_number() over (order by gap_days, o_custkey, o_orderkey)
                   as rn,
               count(*) over () as n
        from gaps where gap_days is not null
    )
    select max(n)::bigint as n_gaps,
           sum(gap_days)::double / count(*)::double as median_gap_days
    from r where rn = (n + 1) // 2 or rn = n // 2 + 1
"""

QUERIES["q_first_vs_repeat_value"] = q_first_vs_repeat_value
ORACLES["q_first_vs_repeat_value"] = """
    with flagged as (
        select floor(o_totalprice * 100 + 0.5)::bigint as cents,
               row_number() over (partition by o_custkey
                                  order by o_orderdate::date, o_orderkey)
                   = 1 as is_first
        from orders
    ),
    agg as (
        select sum(case when is_first then 1 else 0 end)::bigint as n_first,
               sum(case when is_first then 0 else 1 end)::bigint as n_repeat,
               sum(case when is_first then cents::hugeint else 0
                   end) as sf,
               sum(case when is_first then 0 else cents::hugeint
                   end) as sr
        from flagged
    )
    select n_first, n_repeat,
           sf::varchar::double / n_first::double as mean_first_cents,
           sr::varchar::double / n_repeat::double as mean_repeat_cents,
           sr::varchar::double / n_repeat::double
           - sf::varchar::double / n_first::double as repeat_uplift_cents
    from agg
"""


# ---------------------------------------------------------------------------
# round-10 batch 1: paired-binary test, Hellinger drift, order-shape
# distribution, order backlog, supplier rank shift
# ---------------------------------------------------------------------------


def q_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test on paired binary outcomes — did the same parts'
    return behavior change between 1996 and 1997? The PAIRED sibling of
    q_chi2_contingency (panel of parts observed in both years; only the
    DISCORDANT cells carry signal). One lineitem scan to per-part
    (shipped?, returned?) flags per year via conditional max; pairs are
    parts shipped in BOTH years; chi2 = (b-c)^2/(b+c) — exact integers
    until one IEEE division. Degenerate panel (ZERO discordant pairs):
    the statistic is undefined, and the divisor is nullif-guarded on
    BOTH engines so each emits NULL (unguarded, Spark's non-ANSI divide
    yields NULL while DuckDB's IEEE float division yields nan — a hash
    split waiting for degenerate data)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    per = (
        li.select(
            "l_partkey",
            F.year("l_shipdate").alias("yr"),
            (F.col("l_returnflag") == "R").cast("int").alias("r"),
        )
        .groupBy("l_partkey")
        .agg(
            F.max(F.when(F.col("yr") == 1996, 1).otherwise(0)).alias("p96"),
            F.max(F.when(F.col("yr") == 1997, 1).otherwise(0)).alias("p97"),
            F.max(
                F.when((F.col("yr") == 1996) & (F.col("r") == 1), 1).otherwise(0)
            ).alias("r96"),
            F.max(
                F.when((F.col("yr") == 1997) & (F.col("r") == 1), 1).otherwise(0)
            ).alias("r97"),
        )
        .filter((F.col("p96") == 1) & (F.col("p97") == 1))
    )
    agg = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.col("r96") * (1 - F.col("r97"))).cast("long").alias("b_96_only"),
        F.sum((1 - F.col("r96")) * F.col("r97")).cast("long").alias("c_97_only"),
    )
    d = F.col("b_96_only") - F.col("c_97_only")
    return agg.select(
        "n_pairs",
        "b_96_only",
        "c_97_only",
        (
            (d * d).cast("double")
            / F.nullif(
                (F.col("b_96_only") + F.col("c_97_only")).cast("double"),
                F.lit(0.0),
            )
        ).alias("mcnemar_chi2"),
    )


def q_hellinger_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-category Hellinger affinity terms between the 1996 and 1997
    order-priority mixes — the drift readout whose only float ops are
    IEEE-exact square roots (no logs, unlike PSI/JS; the geometric
    counterpart of q_tv_drift's L1). One orders scan to the 5x2
    contingency; each output row carries exact integer counts plus
    sqrt(c96*c97)/sqrt(n96*n97) — the Bhattacharyya term whose sum (and
    hence H = sqrt(1-BC)) a caller folds downstream; emitting per-row
    terms keeps the cross-engine float path a fixed two-sqrt-one-divide
    sequence per row, never an order-dependent float SUM."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    per = (
        orders.select(
            "o_orderpriority", F.year("o_orderdate").alias("yr")
        )
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.when(F.col("yr") == 1996, 1).otherwise(0))
            .cast("long")
            .alias("c96"),
            F.sum(F.when(F.col("yr") == 1997, 1).otherwise(0))
            .cast("long")
            .alias("c97"),
        )
    )
    totals = per.agg(
        F.sum("c96").cast("long").alias("n96"),
        F.sum("c97").cast("long").alias("n97"),
    )
    return (
        per.crossJoin(F.broadcast(totals))
        .select(
            "o_orderpriority",
            "c96",
            "c97",
            (
                F.sqrt((F.col("c96") * F.col("c97")).cast("double"))
                / F.sqrt((F.col("n96") * F.col("n97")).cast("double"))
            ).alias("bc_term"),
        )
        .orderBy("o_orderpriority")
    )


def q_order_linecount_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of line-item count per order (the order-shape
    histogram a capacity planner reads: TPC-H orders carry 1-7 lines).
    Two map-side-combined aggregates — per-order counts (fact-keyed,
    distributes), then the 7-row distribution — with exact ppm shares
    against a broadcast 1-row total."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines")
    )
    dist = per_order.groupBy("n_lines").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )
    total = dist.agg(F.sum("n_orders").cast("long").alias("__t"))
    return (
        dist.crossJoin(F.broadcast(total))
        .select(
            "n_lines",
            "n_orders",
            F.expr("n_orders * 1000000 div __t").alias("share_ppm"),
        )
        .orderBy("n_lines")
    )


def q_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily open-order backlog — orders placed but not yet fully
    shipped, the WIP curve an operations dashboard tracks. An order
    opens on o_orderdate and closes on max(l_shipdate); both event
    streams union into one day-domain aggregate, and the backlog is a
    cumulative sum over the DAY domain (calendar-bounded window, never
    the fact — the audit-whitelisted class)."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    close = li.groupBy("l_orderkey").agg(
        F.max(F.to_date("l_shipdate")).alias("close_d")
    )
    op = orders.join(close, orders.o_orderkey == close.l_orderkey)
    ev = op.select(
        F.to_date("o_orderdate").alias("d"),
        F.lit(1).alias("o"),
        F.lit(0).alias("c"),
    ).unionAll(op.select(F.col("close_d").alias("d"), F.lit(0), F.lit(1)))
    daily = ev.groupBy("d").agg(
        F.sum("o").cast("long").alias("opened"),
        F.sum("c").cast("long").alias("closed"),
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "opened",
        "closed",
        F.sum(F.col("opened") - F.col("closed")).over(w)
        .cast("long")
        .alias("backlog"),
    ).orderBy("day")


def q_supplier_rank_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top revenue-rank movers among suppliers, 1996 -> 1997 — the
    league-table churn readout (who rose, who fell). Per-(supplier,
    year) revenue is one exact micro-cent aggregate; within-year ranks
    come from the two-phase GLOBAL row number under the
    (yr, -rev, suppkey) total order, localized per year by subtracting
    the year's broadcast min-rn (a 2-row bounded aggregate) — no
    per-year single-reducer sort, no percent_rank. Ties cannot straddle
    years because yr leads the order."""
    from .operators.relational import with_global_row_number

    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    rev_u = (
        F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        * (
            F.lit(100)
            - F.floor(F.col("l_discount") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
        )
    )
    per = (
        li.select(
            "l_suppkey", F.year("l_shipdate").alias("yr"), rev_u.alias("rev_u")
        )
        .groupBy("l_suppkey", "yr")
        .agg(F.sum("rev_u").cast("long").alias("rev"))
        .withColumn("neg_rev", -F.col("rev"))
    )
    ranked = with_global_row_number(
        per, ["yr", "neg_rev", "l_suppkey"], rn_col="rn"
    )
    min_rn = ranked.groupBy("yr").agg(F.min("rn").alias("__mn"))
    ranked = ranked.join(F.broadcast(min_rn), "yr").select(
        "l_suppkey",
        "yr",
        (F.col("rn") - F.col("__mn") + 1).cast("long").alias("rank_in_yr"),
    )
    pivoted = ranked.groupBy("l_suppkey").agg(
        F.max(F.when(F.col("yr") == 1996, F.col("rank_in_yr"))).alias("r96"),
        F.max(F.when(F.col("yr") == 1997, F.col("rank_in_yr"))).alias("r97"),
    ).filter(F.col("r96").isNotNull() & F.col("r97").isNotNull())
    return (
        pivoted.select(
            "l_suppkey",
            "r96",
            "r97",
            (F.col("r96") - F.col("r97")).cast("long").alias("rank_gain"),
        )
        .orderBy(F.abs(F.col("rank_gain")).desc(), "l_suppkey")
        .limit(20)
    )


QUERIES["q_mcnemar_test"] = q_mcnemar_test
ORACLES["q_mcnemar_test"] = """
    with per as (
        select l_partkey,
               max(case when year(l_shipdate) = 1996 then 1 else 0
                   end) as p96,
               max(case when year(l_shipdate) = 1997 then 1 else 0
                   end) as p97,
               max(case when year(l_shipdate) = 1996
                         and l_returnflag = 'R' then 1 else 0
                   end) as r96,
               max(case when year(l_shipdate) = 1997
                         and l_returnflag = 'R' then 1 else 0
                   end) as r97
        from lineitem
        where l_shipdate >= timestamp '1996-01-01'
          and l_shipdate < timestamp '1998-01-01'
        group by l_partkey
    ),
    agg as (
        select count(*)::bigint as n_pairs,
               sum(r96 * (1 - r97))::bigint as b_96_only,
               sum((1 - r96) * r97)::bigint as c_97_only
        from per where p96 = 1 and p97 = 1
    )
    select n_pairs, b_96_only, c_97_only,
           ((b_96_only - c_97_only) * (b_96_only - c_97_only))::double
           / nullif((b_96_only + c_97_only)::double, 0.0) as mcnemar_chi2
    from agg
"""

QUERIES["q_hellinger_drift"] = q_hellinger_drift
ORACLES["q_hellinger_drift"] = """
    with per as (
        select o_orderpriority,
               sum(case when year(o_orderdate) = 1996 then 1 else 0
                   end)::bigint as c96,
               sum(case when year(o_orderdate) = 1997 then 1 else 0
                   end)::bigint as c97
        from orders
        where o_orderdate >= timestamp '1996-01-01'
          and o_orderdate < timestamp '1998-01-01'
        group by o_orderpriority
    ),
    t as (
        select sum(c96)::bigint as n96, sum(c97)::bigint as n97 from per
    )
    select p.o_orderpriority, p.c96, p.c97,
           sqrt((p.c96 * p.c97)::double) / sqrt((t.n96 * t.n97)::double)
               as bc_term
    from per p cross join t
    order by p.o_orderpriority
"""

QUERIES["q_order_linecount_dist"] = q_order_linecount_dist
ORACLES["q_order_linecount_dist"] = """
    with per_order as (
        select l_orderkey, count(*)::bigint as n_lines
        from lineitem group by l_orderkey
    ),
    dist as (
        select n_lines, count(*)::bigint as n_orders
        from per_order group by n_lines
    )
    select n_lines, n_orders,
           (n_orders * 1000000 // (select sum(n_orders)::bigint from dist))
               ::bigint as share_ppm
    from dist order by n_lines
"""

QUERIES["q_backlog_daily"] = q_backlog_daily
ORACLES["q_backlog_daily"] = """
    with close as (
        select l_orderkey, max(l_shipdate::date) as close_d
        from lineitem group by l_orderkey
    ),
    op as (
        select o.o_orderdate::date as open_d, c.close_d
        from orders o join close c on o.o_orderkey = c.l_orderkey
    ),
    ev as (
        select open_d as d, 1 as o, 0 as c from op
        union all
        select close_d as d, 0 as o, 1 as c from op
    ),
    daily as (
        select d, sum(o)::bigint as opened, sum(c)::bigint as closed
        from ev group by d
    )
    select strftime(d, '%Y-%m-%d') as day, opened, closed,
           (sum(opened - closed) over (order by d
                rows between unbounded preceding and current row))::bigint
               as backlog
    from daily order by day
"""

QUERIES["q_supplier_rank_shift"] = q_supplier_rank_shift
ORACLES["q_supplier_rank_shift"] = """
    with per as (
        select l_suppkey, year(l_shipdate) as yr,
               sum(floor(l_extendedprice * 100 + 0.5)::bigint
                   * (100 - floor(l_discount * 100 + 0.5)::bigint)
               )::bigint as rev
        from lineitem
        where l_shipdate >= timestamp '1996-01-01'
          and l_shipdate < timestamp '1998-01-01'
        group by l_suppkey, yr
    ),
    ranked as (
        select l_suppkey, yr,
               row_number() over (partition by yr
                                  order by rev desc, l_suppkey)::bigint
                   as rank_in_yr
        from per
    ),
    pivoted as (
        select l_suppkey,
               max(case when yr = 1996 then rank_in_yr end) as r96,
               max(case when yr = 1997 then rank_in_yr end) as r97
        from ranked group by l_suppkey
    )
    select l_suppkey, r96, r97, (r96 - r97)::bigint as rank_gain
    from pivoted
    where r96 is not null and r97 is not null
    order by abs(r96 - r97) desc, l_suppkey
    limit 20
"""


# ---------------------------------------------------------------------------
# round-10 batch 2: corpus lexical stats, stopword bands, dup-distance
# profile, seasonal index, weekend uplift, IQR fences
# ---------------------------------------------------------------------------


def q_type_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level type/token ratio per source — the lexical-diversity
    number a data curator compares across scrape sources (boilerplate
    farms repeat; organic text doesn't). One explode -> per-source
    count + countDistinct (both map-side-combined); TTR as exact ppm
    against the per-source token total."""
    from .functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(tokens(F.col("text"))).alias("term")
    )
    return (
        tok.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("total_tokens"),
            F.countDistinct("term").cast("long").alias("distinct_tokens"),
        )
        .select(
            "source",
            "total_tokens",
            "distinct_tokens",
            F.expr("distinct_tokens * 1000000 div total_tokens").alias(
                "ttr_ppm"
            ),
        )
        .orderBy("source")
    )


def q_stopword_band_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document counts by stopword-density band per source — the C4-style
    quality histogram (too few stopwords = code/tables/gibberish, the
    Gopher repetition signal's cheap cousin). The band is an exact
    integer cross-multiplication (10*n_stop div n_tok, 0..10 domain) —
    no float ratio compare — computed in one JVM expression pass;
    the aggregate domain is sources x 11 bands."""
    from .functions.text import EN_STOPWORDS, tokens

    docs = _t(spark, sf_dir, "documents")
    stop_arr = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    toks = tokens(F.col("text"))
    per = docs.select(
        "source",
        F.size(toks).cast("long").alias("n_tok"),
        F.size(
            F.filter(toks, lambda t: F.array_contains(stop_arr, t))
        ).cast("long").alias("n_stop"),
    )
    return (
        per.select(
            "source",
            F.expr("(10 * n_stop) div n_tok").alias("band"),
        )
        .groupBy("source", "band")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("source", "band")
    )


def q_candidate_jaccard_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard-decile histogram of the banded candidate pairs — the
    LSH/blocking tuning readout: how much of the candidate budget is
    spent on near-zero-similarity pairs (verify cost wasted) vs real
    near-dups. Candidates ride banded_id_pairs (the linear
    (block, id-bucket) equi-join); intersect/union sizes are exact
    integers on hashed shingle sets; the decile band is an integer
    cross-multiplication ((10*i) div u), and each band carries its id
    distance mass (sum of b-a) — locality per similarity grade in the
    same pass."""
    from .operators.dedup import banded_id_pairs, hashed_shingle_sets

    docs = _t(spark, sf_dir, "documents")
    cand = banded_id_pairs(docs, "doc_id", "source", 100)
    sets_df = hashed_shingle_sets(docs, "doc_id", "text", 3)
    sa = sets_df.select(F.col("doc_id").alias("a"), F.col("sh").alias("sh_a"))
    sb = sets_df.select(F.col("doc_id").alias("b"), F.col("sh").alias("sh_b"))
    pv = (
        cand.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("long").alias("i"),
            F.size(F.array_union("sh_a", "sh_b")).cast("long").alias("u"),
        )
    )
    return (
        pv.select(
            F.expr("(10 * i) div u").alias("jband"),
            (F.col("b") - F.col("a")).alias("dist"),
        )
        .groupBy("jband")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("dist").cast("long").alias("sum_dist"),
        )
        .orderBy("jband")
    )


def q_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly seasonal index of order revenue per year — month revenue
    against the year's monthly average, as exact ppm (1e6 = an average
    month; December retail spikes read directly). One orders scan to
    (yr, mo) cent sums; the index numerator promotes to decimal BEFORE
    the div so the quotient itself stays long-sized (<= 12e6 by
    construction — the HHI overflow discipline)."""
    orders = _t(spark, sf_dir, "orders")
    per = (
        orders.select(
            F.year("o_orderdate").alias("yr"),
            F.month("o_orderdate").cast("long").alias("mo"),
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("yr", "mo")
        .agg(F.sum("cents").cast("long").alias("rev_cents"))
    )
    yr_tot = per.groupBy("yr").agg(
        F.sum("rev_cents").cast("decimal(38,0)").alias("__yt")
    )
    return (
        per.join(F.broadcast(yr_tot), "yr")
        .select(
            F.col("yr").cast("long").alias("yr"),
            "mo",
            "rev_cents",
            F.expr(
                "cast(cast(rev_cents as decimal(38,0)) * 12000000"
                " div __yt as bigint)"
            ).alias("index_ppm"),
        )
        .orderBy("yr", "mo")
    )


def q_weekend_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekend vs weekday mean order value — the day-of-week mix
    readout behind staffing and promo scheduling. One conditional exact
    integer aggregate (cent sums as decimal, counts as long); the two
    means and their difference are the only IEEE ops, identically
    composed on both engines."""
    orders = _t(spark, sf_dir, "orders").select(
        # weekday(): 0=Monday .. 6=Sunday, so >= 5 is the weekend;
        # DuckDB mirrors it as isodow >= 6
        (F.weekday(F.to_date("o_orderdate")) >= 5).alias("is_we"),
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    agg = orders.agg(
        F.sum(F.when(F.col("is_we"), 1).otherwise(0)).cast("long").alias("n_we"),
        F.sum(F.when(~F.col("is_we"), 1).otherwise(0)).cast("long").alias("n_wd"),
        F.sum(F.when(F.col("is_we"), F.col("cents")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("__swe"),
        F.sum(F.when(~F.col("is_we"), F.col("cents")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("__swd"),
    )
    mean_we = F.col("__swe").cast("double") / F.col("n_we").cast("double")
    mean_wd = F.col("__swd").cast("double") / F.col("n_wd").cast("double")
    return agg.select(
        "n_we",
        "n_wd",
        mean_we.alias("mean_weekend_cents"),
        mean_wd.alias("mean_weekday_cents"),
        (mean_we - mean_wd).alias("weekend_uplift_cents"),
    )


def q_quantity_iqr_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey IQR outlier fences on quantity per return flag — the
    robust outlier screen (q_outlier_zscore's distribution-free
    sibling). Quartiles are RANK-SELECTED (R-1, no interpolation:
    elements at ceil(n/4) and ceil(3n/4)) via the two-phase grouped row
    number — every group's sort spreads across all reducers, no
    percentile() and no float interpolation to disagree cross-engine.
    Fence checks are integer cross-multiplications (2x vs 2q -/+ 3*iqr),
    so the whole query is exact."""
    from .operators.relational import with_grouped_row_number

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("qty"),
        "l_orderkey",
        "l_linenumber",
    )
    ranked = with_grouped_row_number(
        li,
        ["l_returnflag"],
        ["qty", "l_orderkey", "l_linenumber"],
        rn_col="rn",
        n_col="n",
    )
    quarts = (
        ranked.filter(
            (F.col("rn") == F.expr("(n + 3) div 4"))
            | (F.col("rn") == F.expr("(3 * n + 3) div 4"))
        )
        .groupBy("l_returnflag")
        .agg(
            F.max(
                F.when(F.col("rn") == F.expr("(n + 3) div 4"), F.col("qty"))
            ).alias("q1"),
            F.max(
                F.when(F.col("rn") == F.expr("(3 * n + 3) div 4"), F.col("qty"))
            ).alias("q3"),
        )
    )
    flagged = li.join(F.broadcast(quarts), "l_returnflag")
    return (
        flagged.groupBy("l_returnflag")
        .agg(
            F.max("q1").cast("long").alias("q1"),
            F.max("q3").cast("long").alias("q3"),
            F.sum(
                F.when(
                    F.lit(2) * F.col("qty")
                    < F.lit(2) * F.col("q1") - 3 * (F.col("q3") - F.col("q1")),
                    1,
                ).otherwise(0)
            ).cast("long").alias("n_low"),
            F.sum(
                F.when(
                    F.lit(2) * F.col("qty")
                    > F.lit(2) * F.col("q3") + 3 * (F.col("q3") - F.col("q1")),
                    1,
                ).otherwise(0)
            ).cast("long").alias("n_high"),
        )
        .orderBy("l_returnflag")
    )


QUERIES["q_type_token_ratio"] = q_type_token_ratio
ORACLES["q_type_token_ratio"] = f"""
    with tok as (
        select source, unnest({_DK_TOKENS}) as term from documents
    ),
    agg as (
        select source, count(*)::bigint as total_tokens,
               count(distinct term)::bigint as distinct_tokens
        from tok group by source
    )
    select source, total_tokens, distinct_tokens,
           (distinct_tokens * 1000000 // total_tokens)::bigint as ttr_ppm
    from agg order by source
"""

QUERIES["q_stopword_band_mix"] = q_stopword_band_mix
ORACLES["q_stopword_band_mix"] = f"""
    with per as (
        select source,
               len({_DK_TOKENS})::bigint as n_tok,
               len(list_filter({_DK_TOKENS},
                   t -> list_contains({_DK_STOPLIST}, t)))::bigint as n_stop
        from documents
    )
    select source, ((10 * n_stop) // n_tok)::bigint as band,
           count(*)::bigint as n_docs
    from per group by source, band
    order by source, band
"""

QUERIES["q_candidate_jaccard_hist"] = q_candidate_jaccard_hist
ORACLES["q_candidate_jaccard_hist"] = f"""
    with t as (
        select doc_id, source, list_distinct({_DK_SHINGLES}) as sh
        from (select doc_id, source, {_DK_TOKENS} as w from documents)
    ),
    pv as (
        select a.doc_id as a, b.doc_id as b,
               len(list_distinct(list_intersect(a.sh, b.sh)))::bigint as i,
               len(list_distinct(a.sh || b.sh))::bigint as u
        from t a join t b
          on a.source = b.source and a.doc_id < b.doc_id
         and b.doc_id - a.doc_id <= 100
    )
    select ((10 * i) // u)::bigint as jband,
           count(*)::bigint as n_pairs,
           sum(b - a)::bigint as sum_dist
    from pv
    group by jband order by jband
"""

QUERIES["q_seasonal_index"] = q_seasonal_index
ORACLES["q_seasonal_index"] = """
    with per as (
        select year(o_orderdate)::bigint as yr,
               month(o_orderdate)::bigint as mo,
               sum(floor(o_totalprice * 100 + 0.5)::bigint)::bigint
                   as rev_cents
        from orders group by yr, mo
    ),
    yt as (select yr, sum(rev_cents)::hugeint as yt from per group by yr)
    select p.yr, p.mo, p.rev_cents,
           (p.rev_cents::hugeint * 12000000 // y.yt)::bigint as index_ppm
    from per p join yt y on p.yr = y.yr
    order by p.yr, p.mo
"""

QUERIES["q_weekend_uplift"] = q_weekend_uplift
ORACLES["q_weekend_uplift"] = """
    with flagged as (
        select isodow(o_orderdate::date) >= 6 as is_we,
               floor(o_totalprice * 100 + 0.5)::bigint as cents
        from orders
    ),
    agg as (
        select sum(case when is_we then 1 else 0 end)::bigint as n_we,
               sum(case when is_we then 0 else 1 end)::bigint as n_wd,
               sum(case when is_we then cents::hugeint else 0 end) as swe,
               sum(case when is_we then 0 else cents::hugeint end) as swd
        from flagged
    )
    select n_we, n_wd,
           swe::varchar::double / n_we::double as mean_weekend_cents,
           swd::varchar::double / n_wd::double as mean_weekday_cents,
           swe::varchar::double / n_we::double
           - swd::varchar::double / n_wd::double as weekend_uplift_cents
    from agg
"""

QUERIES["q_quantity_iqr_fences"] = q_quantity_iqr_fences
ORACLES["q_quantity_iqr_fences"] = """
    with li as (
        select l_returnflag, l_quantity::bigint as qty, l_orderkey,
               l_linenumber
        from lineitem
    ),
    ranked as (
        select l_returnflag, qty,
               row_number() over (partition by l_returnflag
                                  order by qty, l_orderkey, l_linenumber)
                   as rn,
               count(*) over (partition by l_returnflag) as n
        from li
    ),
    quarts as (
        select l_returnflag,
               max(case when rn = (n + 3) // 4 then qty end)::bigint as q1,
               max(case when rn = (3 * n + 3) // 4 then qty end)::bigint
                   as q3
        from ranked
        where rn = (n + 3) // 4 or rn = (3 * n + 3) // 4
        group by l_returnflag
    )
    select li.l_returnflag, max(q.q1)::bigint as q1, max(q.q3)::bigint as q3,
           sum(case when 2 * li.qty < 2 * q.q1 - 3 * (q.q3 - q.q1)
                    then 1 else 0 end)::bigint as n_low,
           sum(case when 2 * li.qty > 2 * q.q3 + 3 * (q.q3 - q.q1)
                    then 1 else 0 end)::bigint as n_high
    from li join quarts q on li.l_returnflag = q.l_returnflag
    group by li.l_returnflag
    order by li.l_returnflag
"""


# ---------------------------------------------------------------------------
# round-10 batch 3: Brown-Forsythe variance test, market concentration,
# decile bounds, brand return rates, event-intensity distribution
# ---------------------------------------------------------------------------


def q_levene_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe (median-centered Levene) test — do the return-flag
    groups have equal quantity SPREAD? The variance-homogeneity check
    that guards q_anova_f's assumption. Group medians are rank-selected
    doubles-free (m2 = 2*median stays integer via the two middle
    elements); Z = |2q - m2| is exact; the F statistic's sums of squares
    use per-group ``Sj^2 div nj`` with decimal promotion so every
    quotient is long-sized at ANY scale (the HHI discipline; both
    engines truncate identically), and the final F is a fixed
    two-division-one-multiply IEEE sequence. Degenerate inputs (one
    group, or zero within-group spread) leave F undefined: both
    divisors are nullif-guarded on BOTH engines so each emits NULL
    instead of a cross-engine NULL-vs-inf hash split."""
    from .operators.relational import with_grouped_row_number

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("qty"),
        "l_orderkey",
        "l_linenumber",
    )
    ranked = with_grouped_row_number(
        li,
        ["l_returnflag"],
        ["qty", "l_orderkey", "l_linenumber"],
        rn_col="rn",
        n_col="n",
    )
    med2 = (
        ranked.filter(
            (F.col("rn") == F.expr("(n + 1) div 2"))
            | (F.col("rn") == F.expr("n div 2 + 1"))
        )
        .groupBy("l_returnflag")
        .agg(
            (
                F.sum(
                    F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("qty"))
                    .otherwise(0)
                )
                + F.sum(
                    F.when(F.col("rn") == F.expr("n div 2 + 1"), F.col("qty"))
                    .otherwise(0)
                )
            ).cast("long").alias("m2"),
        )
    )
    z = li.join(F.broadcast(med2), "l_returnflag").select(
        "l_returnflag",
        F.abs(F.lit(2) * F.col("qty") - F.col("m2")).alias("z"),
    )
    per = z.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("nj"),
        F.sum("z").cast("long").alias("sj"),
        F.sum(F.col("z") * F.col("z")).cast("long").alias("qj"),
    )
    agg = per.agg(
        F.sum("nj").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("k_groups"),
        F.sum("sj").cast("long").alias("__s"),
        F.sum("qj").cast("long").alias("__q"),
        F.sum(
            F.expr("cast(cast(sj as decimal(38,0)) * sj div nj as bigint)")
        ).cast("long").alias("__sq_over_n"),
    )
    ssb = F.col("__sq_over_n") - F.expr(
        "cast(cast(__s as decimal(38,0)) * __s div n_total as bigint)"
    )
    ssw = F.col("__q") - F.col("__sq_over_n")
    return agg.select(
        "n_total",
        "k_groups",
        ssb.cast("long").alias("ssb_t"),
        ssw.cast("long").alias("ssw_t"),
        (
            (
                (F.col("n_total") - F.col("k_groups")).cast("double")
                / F.nullif((F.col("k_groups") - 1).cast("double"), F.lit(0.0))
            )
            * (ssb.cast("double") / F.nullif(ssw.cast("double"), F.lit(0.0)))
        ).alias("bf_f"),
    )


def q_top2_share_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 supplier revenue share per nation — the concentration
    readout procurement reads next to q_supplier_hhi_by_nation (CR2 vs
    HHI). Supplier revenue is one exact cent aggregate; within-nation
    ranks ride the two-phase GROUPED row number (every nation's sort
    spreads across reducers); the share numerator promotes to decimal
    before div so the ppm quotient stays long-sized at any scale."""
    from .operators.relational import with_grouped_row_number

    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev_c = F.expr(
        "cast(floor(l_extendedprice * 100.0 + 0.5) as bigint)"
        " * (100 - cast(floor(l_discount * 100.0 + 0.5) as bigint)) div 100"
    )
    per_sup = (
        li.select("l_suppkey", rev_c.alias("rev_c"))
        .groupBy("l_suppkey")
        .agg(F.sum("rev_c").cast("long").alias("rev"))
        .join(sup, F.col("l_suppkey") == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .select("n_name", "l_suppkey", "rev")
    )
    # rank desc by revenue: order on the negated column (ascending API)
    ranked = with_grouped_row_number(
        per_sup.withColumn("neg_rev", -F.col("rev")),
        ["n_name"],
        ["neg_rev", "l_suppkey"],
        rn_col="rn",
    )
    agg = ranked.groupBy("n_name").agg(
        F.sum(F.when(F.col("rn") <= 2, F.col("rev")).otherwise(0))
        .cast("long")
        .alias("top2_rev_cents"),
        F.sum("rev").cast("long").alias("nation_rev_cents"),
    )
    return agg.select(
        "n_name",
        "top2_rev_cents",
        "nation_rev_cents",
        F.expr(
            "cast(cast(top2_rev_cents as decimal(38,0)) * 1000000"
            " div nation_rev_cents as bigint)"
        ).alias("top2_share_ppm"),
    ).orderBy("n_name")


def q_order_value_decile_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile boundary values of order value — the profile table a cost
    model or stratified sampler reads. Bounds are RANK-SELECTED at
    positions (d*n) div 10 via the two-phase global row number — exact,
    interpolation-free, and no single-reducer sort; the position-to-
    decile mapping is a 9-branch integer CASE evaluated only on the 9
    selected rows."""
    from .operators.relational import with_global_row_number

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    ranked = with_global_row_number(
        orders, ["cents", "o_orderkey"], rn_col="rn", n_col="n"
    )
    pos_pred = " or ".join(f"rn = ({d} * n) div 10" for d in range(1, 10))
    dec_case = "case " + " ".join(
        f"when rn = ({d} * n) div 10 then {d}" for d in range(9, 0, -1)
    ) + " end"
    return (
        ranked.filter(F.expr(pos_pred))
        .select(
            F.expr(dec_case).cast("long").alias("decile"),
            F.col("cents").alias("bound_cents"),
        )
        .groupBy("decile")
        .agg(F.max("bound_cents").alias("bound_cents"))
        .orderBy("decile")
    )


def q_return_rate_by_brand_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return rate per brand per 1996 month — the quality-control grid
    (which brand spiked returns, and when). One fact-fact equi-join
    (lineitem x part, unhinted — both scale), then a brands x 12
    bounded aggregate with exact ppm rates."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.select(
        "l_partkey",
        F.month("l_shipdate").cast("long").alias("mo"),
        (F.col("l_returnflag") == "R").cast("long").alias("ret"),
    ).join(part, F.col("l_partkey") == part.p_partkey)
    return (
        j.groupBy("p_brand", "mo")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum("ret").cast("long").alias("n_returned"),
        )
        .select(
            "p_brand",
            "mo",
            "n_lines",
            "n_returned",
            F.expr("n_returned * 1000000 div n_lines").alias("ret_ppm"),
        )
        .orderBy("p_brand", "mo")
    )


def q_events_per_user_day_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of events per active user-day — the engagement-
    intensity histogram behind DAU quality (1-event drive-bys vs power
    users). Two map-side-combined aggregates: per-(user, day) counts
    (fact-keyed, distributes), then the small count-domain histogram
    with exact ppm shares."""
    ev = _events(spark, sf_dir)
    per = (
        ev.select("user_id", F.to_date("ts").alias("d"))
        .groupBy("user_id", "d")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    dist = per.groupBy("n_events").agg(
        F.count(F.lit(1)).cast("long").alias("n_user_days")
    )
    total = dist.agg(F.sum("n_user_days").cast("long").alias("__t"))
    return (
        dist.crossJoin(F.broadcast(total))
        .select(
            "n_events",
            "n_user_days",
            F.expr("n_user_days * 1000000 div __t").alias("share_ppm"),
        )
        .orderBy("n_events")
    )


QUERIES["q_levene_quantity"] = q_levene_quantity
ORACLES["q_levene_quantity"] = """
    with li as (
        select l_returnflag, l_quantity::bigint as qty, l_orderkey,
               l_linenumber
        from lineitem
    ),
    ranked as (
        select l_returnflag, qty,
               row_number() over (partition by l_returnflag
                                  order by qty, l_orderkey, l_linenumber)
                   as rn,
               count(*) over (partition by l_returnflag) as n
        from li
    ),
    med2 as (
        select l_returnflag,
               (sum(case when rn = (n + 1) // 2 then qty else 0 end)
                + sum(case when rn = n // 2 + 1 then qty else 0 end)
               )::bigint as m2
        from ranked
        where rn = (n + 1) // 2 or rn = n // 2 + 1
        group by l_returnflag
    ),
    z as (
        select li.l_returnflag, abs(2 * li.qty - m.m2) as z
        from li join med2 m on li.l_returnflag = m.l_returnflag
    ),
    per as (
        select l_returnflag, count(*)::bigint as nj, sum(z)::bigint as sj,
               sum(z * z)::bigint as qj
        from z group by l_returnflag
    ),
    agg as (
        select sum(nj)::bigint as n_total, count(*)::bigint as k_groups,
               sum(sj)::bigint as s, sum(qj)::bigint as q,
               sum(((sj::hugeint * sj) // nj)::bigint)::bigint as sq_over_n
        from per
    )
    select n_total, k_groups,
           (sq_over_n - ((s::hugeint * s) // n_total)::bigint)::bigint
               as ssb_t,
           (q - sq_over_n)::bigint as ssw_t,
           ((n_total - k_groups)::double
            / nullif((k_groups - 1)::double, 0.0))
           * ((sq_over_n - ((s::hugeint * s) // n_total)::bigint)::double
              / nullif((q - sq_over_n)::double, 0.0)) as bf_f
    from agg
"""

QUERIES["q_top2_share_by_nation"] = q_top2_share_by_nation
ORACLES["q_top2_share_by_nation"] = """
    with per_sup as (
        select n.n_name, l.l_suppkey,
               sum(floor(l_extendedprice * 100.0 + 0.5)::bigint
                   * (100 - floor(l_discount * 100.0 + 0.5)::bigint)
                   // 100)::bigint as rev
        from lineitem l
        join supplier s on l.l_suppkey = s.s_suppkey
        join nation n on s.s_nationkey = n.n_nationkey
        group by n.n_name, l.l_suppkey
    ),
    ranked as (
        select n_name, rev,
               row_number() over (partition by n_name
                                  order by rev desc, l_suppkey) as rn
        from per_sup
    ),
    agg as (
        select n_name,
               sum(case when rn <= 2 then rev else 0 end)::bigint
                   as top2_rev_cents,
               sum(rev)::bigint as nation_rev_cents
        from ranked group by n_name
    )
    select n_name, top2_rev_cents, nation_rev_cents,
           (top2_rev_cents::hugeint * 1000000 // nation_rev_cents)::bigint
               as top2_share_ppm
    from agg order by n_name
"""

QUERIES["q_order_value_decile_bounds"] = q_order_value_decile_bounds
ORACLES["q_order_value_decile_bounds"] = """
    with ranked as (
        select floor(o_totalprice * 100 + 0.5)::bigint as cents,
               row_number() over (
                   order by floor(o_totalprice * 100 + 0.5)::bigint,
                            o_orderkey) as rn,
               count(*) over () as n
        from orders
    ),
    sel as (
        select case {cases} end as decile, cents
        from ranked
        where {preds}
    )
    select decile::bigint as decile, max(cents)::bigint as bound_cents
    from sel group by decile order by decile
""".format(
    cases=" ".join(
        f"when rn = ({d} * n) // 10 then {d}" for d in range(9, 0, -1)
    ),
    preds=" or ".join(f"rn = ({d} * n) // 10" for d in range(1, 10)),
)

QUERIES["q_return_rate_by_brand_month"] = q_return_rate_by_brand_month
ORACLES["q_return_rate_by_brand_month"] = """
    with j as (
        select p.p_brand, month(l.l_shipdate)::bigint as mo,
               case when l.l_returnflag = 'R' then 1 else 0 end as ret
        from lineitem l join part p on l.l_partkey = p.p_partkey
        where l.l_shipdate >= timestamp '1996-01-01'
          and l.l_shipdate < timestamp '1997-01-01'
    )
    select p_brand, mo, count(*)::bigint as n_lines,
           sum(ret)::bigint as n_returned,
           (sum(ret) * 1000000 // count(*))::bigint as ret_ppm
    from j group by p_brand, mo
    order by p_brand, mo
"""

QUERIES["q_events_per_user_day_dist"] = q_events_per_user_day_dist
ORACLES["q_events_per_user_day_dist"] = """
    with per as (
        select user_id, ts::date as d, count(*)::bigint as n_events
        from events group by user_id, d
    ),
    dist as (
        select n_events, count(*)::bigint as n_user_days
        from per group by n_events
    )
    select n_events, n_user_days,
           (n_user_days * 1000000
            // (select sum(n_user_days)::bigint from dist))::bigint
               as share_ppm
    from dist order by n_events
"""


# ---------------------------------------------------------------------------
# round-10 batch 4: brand correlation, spend consistency, char-class
# profile, discount effect grid, nation trade balance
# ---------------------------------------------------------------------------


def q_price_quantity_corr_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of price vs quantity per brand — the
    elasticity screen (negative r = price-sensitive demand). The five
    moments (n, Sx, Sy, Sxy, Sxx, Syy) accumulate as EXACT integers
    (decimal merge for the cent-scaled products); r composes from them
    in one fixed IEEE sequence per brand row — two sqrts, two
    multiplies, one divide — identical cross-engine. The unhinted
    lineitem x part join shuffles on partkey (both sides scale)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_quantity").cast("long").alias("x"),
        F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("y"),
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(part, li.l_partkey == part.p_partkey)
    m = j.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
    )
    num = (
        F.col("n").cast("decimal(38,0)") * F.col("sxy")
        - F.col("sx").cast("decimal(38,0)") * F.col("sy")
    ).cast("double")
    den_x = (
        F.col("n").cast("decimal(38,0)") * F.col("sxx")
        - F.col("sx").cast("decimal(38,0)") * F.col("sx")
    ).cast("double")
    den_y = (
        F.col("n").cast("decimal(38,0)") * F.col("syy")
        - F.col("sy") * F.col("sy")
    ).cast("double")
    return m.select(
        "p_brand",
        "n",
        (num / (F.sqrt(den_x) * F.sqrt(den_y))).alias("pearson_r"),
    ).orderBy("p_brand")


def q_spend_consistency_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers bucketed by spend consistency — the coefficient-of-
    variation segmentation (steady replenishers vs spiky bargain
    hunters) behind CRM tiering. CV^2 = (n*Q - S^2)/S^2 compares to the
    band thresholds {0.25, 0.5, 1.0} FULLY CROSS-MULTIPLIED in decimal
    (no sqrt, no float ratio) — the whole query is exact integers.
    Single-order customers are their own band (CV undefined)."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    per = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("decimal(38,0)").alias("s"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents")).alias(
            "q"
        ),
    )
    # cv2_num = n*Q - S^2 ; band k when cv2 < t_k^2, thresholds
    # 0.25/0.5/1.0 -> compare 16*cv2_num < S^2, 4*cv2_num < S^2, ...
    cv2n = F.col("n").cast("decimal(38,0)") * F.col("q") - F.col("s") * F.col("s")
    band = (
        F.when(F.col("n") == 1, F.lit("single_order"))
        .when(cv2n * 16 < F.col("s") * F.col("s"), F.lit("steady_cv<0.25"))
        .when(cv2n * 4 < F.col("s") * F.col("s"), F.lit("moderate_cv<0.5"))
        .when(cv2n < F.col("s") * F.col("s"), F.lit("variable_cv<1.0"))
        .otherwise(F.lit("spiky_cv>=1.0"))
    )
    return (
        per.select(band.alias("band"))
        .groupBy("band")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
        .orderBy("band")
    )


def q_char_class_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class composition per source — ppm of letters, digits,
    whitespace, punctuation (the junk-detection profile next to
    alpha_ratio: OCR noise is punct-heavy, tables are digit-heavy).
    Four regexp_replace lengths per doc in ONE JVM projection pass,
    summed exactly per source; shares are exact ppm divisions."""
    docs = _t(spark, sf_dir, "documents")
    lc = F.lower(F.col("text"))
    per = docs.select(
        "source",
        F.length("text").cast("long").alias("n_chars"),
        F.length(F.regexp_replace(lc, "[^a-z]", "")).cast("long").alias("n_alpha"),
        F.length(F.regexp_replace(lc, "[^0-9]", "")).cast("long").alias("n_digit"),
        F.length(F.regexp_replace(lc, r"[^\s]", "")).cast("long").alias("n_space"),
    )
    agg = per.groupBy("source").agg(
        F.sum("n_chars").cast("long").alias("chars"),
        F.sum("n_alpha").cast("long").alias("alpha"),
        F.sum("n_digit").cast("long").alias("digit"),
        F.sum("n_space").cast("long").alias("space"),
    )
    return agg.select(
        "source",
        "chars",
        F.expr("alpha * 1000000 div chars").alias("alpha_ppm"),
        F.expr("digit * 1000000 div chars").alias("digit_ppm"),
        F.expr("space * 1000000 div chars").alias("space_ppm"),
        F.expr(
            "(chars - alpha - digit - space) * 1000000 div chars"
        ).alias("other_ppm"),
    ).orderBy("source")


def q_discount_effect_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean quantity per discount level — does a deeper discount move
    more units? (the promo-effectiveness grid behind TPC-H Q19-style
    pricing analysis). Discount levels are exact integer percents
    (0..10 domain); per-level counts and quantity sums are exact longs;
    the mean is the single IEEE division per row."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_discount") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("disc_pct"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    return (
        li.groupBy("disc_pct")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum("qty").cast("long").alias("sum_qty"),
        )
        .select(
            "disc_pct",
            "n_lines",
            (
                F.col("sum_qty").cast("double") / F.col("n_lines").cast("double")
            ).alias("mean_qty"),
        )
        .orderBy("disc_pct")
    )


def q_nation_trade_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation trade balance: revenue earned by its suppliers vs
    spend by its customers — the two sides of the TPC-H economy in one
    readout. Each side is an independent fact aggregate (lineitem keyed
    by suppkey; lineitem x orders x customer keyed by custkey — all
    unhinted fact-fact equi-joins), meeting on the 25-row nation
    domain; revenue stays exact discounted cents throughout."""
    li = _t(spark, sf_dir, "lineitem")
    rev_c = F.expr(
        "cast(floor(l_extendedprice * 100.0 + 0.5) as bigint)"
        " * (100 - cast(floor(l_discount * 100.0 + 0.5) as bigint)) div 100"
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    supply = (
        li.select("l_suppkey", rev_c.alias("rev_c"))
        .join(sup, F.col("l_suppkey") == sup.s_suppkey)
        .groupBy("s_nationkey")
        .agg(F.sum("rev_c").cast("long").alias("supply_rev_cents"))
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    demand = (
        li.select("l_orderkey", rev_c.alias("rev_c"))
        .join(orders, F.col("l_orderkey") == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey")
        .agg(F.sum("rev_c").cast("long").alias("demand_spend_cents"))
    )
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        nat.join(
            F.broadcast(supply), nat.n_nationkey == supply.s_nationkey, "left"
        )
        .join(
            F.broadcast(demand), nat.n_nationkey == demand.c_nationkey, "left"
        )
        .select(
            "n_name",
            F.coalesce("supply_rev_cents", F.lit(0))
            .cast("long")
            .alias("supply_rev_cents"),
            F.coalesce("demand_spend_cents", F.lit(0))
            .cast("long")
            .alias("demand_spend_cents"),
            (
                F.coalesce("supply_rev_cents", F.lit(0))
                - F.coalesce("demand_spend_cents", F.lit(0))
            ).cast("long").alias("balance_cents"),
        )
        .orderBy("n_name")
    )


QUERIES["q_price_quantity_corr_by_brand"] = q_price_quantity_corr_by_brand
ORACLES["q_price_quantity_corr_by_brand"] = """
    with j as (
        select p.p_brand, l.l_quantity::bigint as x,
               floor(l.l_extendedprice * 100 + 0.5)::bigint as y
        from lineitem l join part p on l.l_partkey = p.p_partkey
    ),
    m as (
        select p_brand, count(*)::bigint as n,
               sum(x)::bigint as sx, sum(y)::hugeint as sy,
               sum(x::hugeint * y) as sxy, sum(x * x)::bigint as sxx,
               sum(y::hugeint * y) as syy
        from j group by p_brand
    ),
    moments as (
        select p_brand, n,
               (n::hugeint * sxy - sx::hugeint * sy) as numd,
               (n::hugeint * sxx - sx::hugeint * sx) as denx,
               (n::hugeint * syy - sy * sy) as deny
        from m
    )
    -- ::varchar::double: DuckDB's direct hugeint->double double-rounds
    -- (1-ulp off near halfway points); the string path rounds correctly,
    -- matching Spark's BigDecimal.doubleValue()
    select p_brand, n,
           numd::varchar::double
           / (sqrt(denx::varchar::double) * sqrt(deny::varchar::double))
               as pearson_r
    from moments order by p_brand
"""

QUERIES["q_spend_consistency_bands"] = q_spend_consistency_bands
ORACLES["q_spend_consistency_bands"] = """
    with per as (
        select o_custkey, count(*)::bigint as n,
               sum(floor(o_totalprice * 100 + 0.5)::bigint)::hugeint as s,
               sum(floor(o_totalprice * 100 + 0.5)::bigint::hugeint
                   * floor(o_totalprice * 100 + 0.5)::bigint) as q
        from orders group by o_custkey
    ),
    banded as (
        select case
            when n = 1 then 'single_order'
            when (n * q - s * s) * 16 < s * s then 'steady_cv<0.25'
            when (n * q - s * s) * 4 < s * s then 'moderate_cv<0.5'
            when (n * q - s * s) < s * s then 'variable_cv<1.0'
            else 'spiky_cv>=1.0' end as band
        from per
    )
    select band, count(*)::bigint as n_customers
    from banded group by band order by band
"""

QUERIES["q_char_class_profile"] = q_char_class_profile
ORACLES["q_char_class_profile"] = """
    with per as (
        select source,
               length(text)::bigint as n_chars,
               length(regexp_replace(lower(text), '[^a-z]', '', 'g'))::bigint
                   as n_alpha,
               length(regexp_replace(lower(text), '[^0-9]', '', 'g'))::bigint
                   as n_digit,
               length(regexp_replace(lower(text), '[^\\s]', '', 'g'))::bigint
                   as n_space
        from documents
    ),
    agg as (
        select source, sum(n_chars)::bigint as chars,
               sum(n_alpha)::bigint as alpha, sum(n_digit)::bigint as digit,
               sum(n_space)::bigint as space
        from per group by source
    )
    select source, chars,
           (alpha * 1000000 // chars)::bigint as alpha_ppm,
           (digit * 1000000 // chars)::bigint as digit_ppm,
           (space * 1000000 // chars)::bigint as space_ppm,
           ((chars - alpha - digit - space) * 1000000 // chars)::bigint
               as other_ppm
    from agg order by source
"""

QUERIES["q_discount_effect_grid"] = q_discount_effect_grid
ORACLES["q_discount_effect_grid"] = """
    select floor(l_discount * 100 + 0.5)::bigint as disc_pct,
           count(*)::bigint as n_lines,
           sum(l_quantity::bigint)::bigint::double / count(*)::double
               as mean_qty
    from lineitem
    group by disc_pct order by disc_pct
"""

QUERIES["q_nation_trade_balance"] = q_nation_trade_balance
ORACLES["q_nation_trade_balance"] = """
    with rev as (
        select l_suppkey, l_orderkey,
               floor(l_extendedprice * 100.0 + 0.5)::bigint
               * (100 - floor(l_discount * 100.0 + 0.5)::bigint) // 100
                   as rev_c
        from lineitem
    ),
    supply as (
        select s.s_nationkey, sum(r.rev_c)::bigint as supply_rev_cents
        from rev r join supplier s on r.l_suppkey = s.s_suppkey
        group by s.s_nationkey
    ),
    demand as (
        select c.c_nationkey, sum(r.rev_c)::bigint as demand_spend_cents
        from rev r
        join orders o on r.l_orderkey = o.o_orderkey
        join customer c on o.o_custkey = c.c_custkey
        group by c.c_nationkey
    )
    select n.n_name,
           coalesce(s.supply_rev_cents, 0)::bigint as supply_rev_cents,
           coalesce(d.demand_spend_cents, 0)::bigint as demand_spend_cents,
           (coalesce(s.supply_rev_cents, 0)
            - coalesce(d.demand_spend_cents, 0))::bigint as balance_cents
    from nation n
    left join supply s on n.n_nationkey = s.s_nationkey
    left join demand d on n.n_nationkey = d.c_nationkey
    order by n.n_name
"""


# ---------------------------------------------------------------------------
# round-10 batch 5: dup-rate by length band, token-length percentiles,
# single-sourcing dependency, basket brand mix
# ---------------------------------------------------------------------------


def q_doc_dup_ratio_by_length_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate rate by document length band — the curation
    readout that decides WHERE dedup effort pays (boilerplate stubs
    duplicate far more than long-form text). One fingerprint aggregate
    (md5 of normalized text, the q_dedup_exact substrate) marks dup
    groups; docs re-key to 500-char bands and the per-band dup share is
    an exact ppm. Both passes are map-side-combined aggregates on
    high-cardinality keys."""
    from .functions.text import fingerprint

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr("n_chars div 500").alias("len_band"),
        fingerprint(F.col("text")).alias("fp"),
    )
    grp = docs.groupBy("fp").agg(F.count(F.lit(1)).cast("long").alias("n_copies"))
    flagged = docs.join(grp, "fp").select(
        "len_band", (F.col("n_copies") > 1).cast("long").alias("is_dup")
    )
    return (
        flagged.groupBy("len_band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("is_dup").cast("long").alias("n_dup_docs"),
        )
        .select(
            "len_band",
            "n_docs",
            "n_dup_docs",
            F.expr("n_dup_docs * 1000000 div n_docs").alias("dup_ppm"),
        )
        .orderBy("len_band")
    )


def q_token_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count p50/p90/p99 per source — the context-window sizing
    profile a training pipeline reads before choosing sequence length
    and packing strategy. Percentiles are RANK-SELECTED at ceil(q*n)
    (interpolation-free, exact integers) via the two-phase grouped row
    number — each source's sort spreads across all reducers."""
    from .functions.text import token_count
    from .operators.relational import with_grouped_row_number

    docs = _t(spark, sf_dir, "documents").select(
        "source", "doc_id", token_count(F.col("text")).alias("tok_n")
    )
    ranked = with_grouped_row_number(
        docs, ["source"], ["tok_n", "doc_id"], rn_col="rn", n_col="n"
    )
    sel = ranked.filter(
        (F.col("rn") == F.expr("(n + 1) div 2"))
        | (F.col("rn") == F.expr("(9 * n + 9) div 10"))
        | (F.col("rn") == F.expr("(99 * n + 99) div 100"))
    )
    return (
        sel.groupBy("source")
        .agg(
            F.max("n").cast("long").alias("n_docs"),
            F.max(
                F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("tok_n"))
            ).cast("long").alias("p50_tokens"),
            F.max(
                F.when(
                    F.col("rn") == F.expr("(9 * n + 9) div 10"), F.col("tok_n")
                )
            ).cast("long").alias("p90_tokens"),
            F.max(
                F.when(
                    F.col("rn") == F.expr("(99 * n + 99) div 100"),
                    F.col("tok_n"),
                )
            ).cast("long").alias("p99_tokens"),
        )
        .orderBy("source")
    )


def q_supplier_dependency_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-sourcing risk histogram: per part, the volume share of its
    TOP supplier, banded by decile — how much of the catalog rides one
    vendor. Per-(part, supplier) quantities aggregate once; the top
    supplier is a grouped max(struct) (no per-part window sort); the
    dependency band is an integer cross-multiplication on the
    high-cardinality part grain, collapsing to an 11-row histogram."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", F.col("l_quantity").cast("long").alias("qty")
    )
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("qty").cast("long").alias("sq")
    )
    per_part = ps.groupBy("l_partkey").agg(
        F.max(
            F.struct(F.col("sq").alias("v"), (-F.col("l_suppkey")).alias("nk"))
        ).alias("__top"),
        F.sum("sq").cast("long").alias("tot"),
    )
    return (
        per_part.select(
            F.expr("(10 * __top.v) div tot").alias("dependency_band")
        )
        .groupBy("dependency_band")
        .agg(F.count(F.lit(1)).cast("long").alias("n_parts"))
        .orderBy("dependency_band")
    )


def q_brands_per_order_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of distinct brands per order — the basket-mix
    histogram next to q_order_linecount_dist (single-brand baskets vs
    cross-brand shoppers). One unhinted lineitem x part equi-join, a
    per-order distinct-brand count (map-side-combined two-level
    aggregate), then the small count-domain histogram with exact ppm
    shares."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    per_order = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.countDistinct("p_brand").cast("long").alias("n_brands"))
    )
    dist = per_order.groupBy("n_brands").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )
    total = dist.agg(F.sum("n_orders").cast("long").alias("__t"))
    return (
        dist.crossJoin(F.broadcast(total))
        .select(
            "n_brands",
            "n_orders",
            F.expr("n_orders * 1000000 div __t").alias("share_ppm"),
        )
        .orderBy("n_brands")
    )


QUERIES["q_doc_dup_ratio_by_length_band"] = q_doc_dup_ratio_by_length_band
ORACLES["q_doc_dup_ratio_by_length_band"] = """
    with docs as (
        select doc_id, n_chars // 500 as len_band,
               md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) as fp
        from documents
    ),
    grp as (select fp, count(*)::bigint as n_copies from docs group by fp),
    flagged as (
        select d.len_band,
               case when g.n_copies > 1 then 1 else 0 end as is_dup
        from docs d join grp g on d.fp = g.fp
    )
    select len_band::bigint as len_band, count(*)::bigint as n_docs,
           sum(is_dup)::bigint as n_dup_docs,
           (sum(is_dup) * 1000000 // count(*))::bigint as dup_ppm
    from flagged group by len_band order by len_band
"""

QUERIES["q_token_length_percentiles"] = q_token_length_percentiles
ORACLES["q_token_length_percentiles"] = f"""
    with docs as (
        select source, doc_id, len({_DK_TOKENS})::bigint as tok_n
        from documents
    ),
    ranked as (
        select source, tok_n,
               row_number() over (partition by source
                                  order by tok_n, doc_id) as rn,
               count(*) over (partition by source) as n
        from docs
    )
    select source, max(n)::bigint as n_docs,
           max(case when rn = (n + 1) // 2 then tok_n end)::bigint
               as p50_tokens,
           max(case when rn = (9 * n + 9) // 10 then tok_n end)::bigint
               as p90_tokens,
           max(case when rn = (99 * n + 99) // 100 then tok_n end)::bigint
               as p99_tokens
    from ranked
    where rn = (n + 1) // 2 or rn = (9 * n + 9) // 10
       or rn = (99 * n + 99) // 100
    group by source order by source
"""

QUERIES["q_supplier_dependency_bands"] = q_supplier_dependency_bands
ORACLES["q_supplier_dependency_bands"] = """
    with ps as (
        select l_partkey, l_suppkey, sum(l_quantity::bigint)::bigint as sq
        from lineitem group by l_partkey, l_suppkey
    ),
    per_part as (
        select l_partkey, max(sq)::bigint as top_sq, sum(sq)::bigint as tot
        from ps group by l_partkey
    )
    select ((10 * top_sq) // tot)::bigint as dependency_band,
           count(*)::bigint as n_parts
    from per_part group by dependency_band
    order by dependency_band
"""

QUERIES["q_brands_per_order_dist"] = q_brands_per_order_dist
ORACLES["q_brands_per_order_dist"] = """
    with per_order as (
        select l.l_orderkey,
               count(distinct p.p_brand)::bigint as n_brands
        from lineitem l join part p on l.l_partkey = p.p_partkey
        group by l.l_orderkey
    ),
    dist as (
        select n_brands, count(*)::bigint as n_orders
        from per_order group by n_brands
    )
    select n_brands, n_orders,
           (n_orders * 1000000 // (select sum(n_orders)::bigint from dist))
               ::bigint as share_ppm
    from dist order by n_brands
"""


# ---------------------------------------------------------------------------
# round-11 batch 1: association strength, monotone trend, quartile
# skewness, grouped mode, count dispersion
# ---------------------------------------------------------------------------


def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square cell terms + Cramér's V normalizers for the order
    status x priority contingency — the association-STRENGTH readout
    q_chi2_contingency's raw statistic lacks (chi2 grows with n; V is
    scale-free). Cells, row/col totals and n are exact integers from
    one orders scan (all grouped on enum-domain columns, so every
    relation after the scan is domain-bounded; joins are unhinted and
    AQE broadcasts the tiny sides). Each cell's term
    ``(obs*n - row*col)^2 / (n*row*col)`` is computed wholly in DOUBLE
    with one fixed operand order — long->double conversions round
    identically cross-engine at any magnitude, unlike 38-digit decimal
    intermediates which overflow at extreme scale — and emitted PER
    CELL (never float-summed; the q_hellinger_drift discipline), with
    ``min_rc = min(r,c)-1`` alongside so V = sqrt(sum(term)/(n*min_rc))
    folds downstream."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_orderpriority"
    )
    cells = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("obs")
    )
    row_t = cells.groupBy("o_orderstatus").agg(
        F.sum("obs").cast("long").alias("row_tot")
    )
    col_t = cells.groupBy("o_orderpriority").agg(
        F.sum("obs").cast("long").alias("col_tot")
    )
    tot = cells.agg(
        F.sum("obs").cast("long").alias("n_total"),
        (
            F.least(
                F.countDistinct("o_orderstatus"),
                F.countDistinct("o_orderpriority"),
            )
            - 1
        ).cast("long").alias("min_rc"),
    )
    j = (
        cells.join(row_t, "o_orderstatus")
        .join(col_t, "o_orderpriority")
        .crossJoin(F.broadcast(tot))
    )
    o_d = F.col("obs").cast("double")
    r_d = F.col("row_tot").cast("double")
    c_d = F.col("col_tot").cast("double")
    n_d = F.col("n_total").cast("double")
    num = o_d * n_d - r_d * c_d
    return j.select(
        "o_orderstatus",
        "o_orderpriority",
        "obs",
        "row_tot",
        "col_tot",
        "n_total",
        "min_rc",
        ((num * num) / ((n_d * r_d) * c_d)).alias("chi2_term"),
    ).orderBy("o_orderstatus", "o_orderpriority")


QUERIES["q_cramers_v"] = q_cramers_v
ORACLES["q_cramers_v"] = """
    with cells as (
        select o_orderstatus, o_orderpriority, count(*)::bigint as obs
        from orders group by o_orderstatus, o_orderpriority
    ),
    rt as (
        select o_orderstatus, sum(obs)::bigint as row_tot
        from cells group by o_orderstatus
    ),
    ct as (
        select o_orderpriority, sum(obs)::bigint as col_tot
        from cells group by o_orderpriority
    ),
    t as (
        select sum(obs)::bigint as n_total,
               (least(count(distinct o_orderstatus),
                      count(distinct o_orderpriority)) - 1)::bigint
                   as min_rc
        from cells
    )
    select c.o_orderstatus, c.o_orderpriority, c.obs, r.row_tot,
           k.col_tot, t.n_total, t.min_rc,
           ((c.obs::double * t.n_total::double
             - r.row_tot::double * k.col_tot::double)
            * (c.obs::double * t.n_total::double
               - r.row_tot::double * k.col_tot::double))
           / ((t.n_total::double * r.row_tot::double) * k.col_tot::double)
               as chi2_term
    from cells c
    join rt r on c.o_orderstatus = r.o_orderstatus
    join ct k on c.o_orderpriority = k.o_orderpriority
    cross join t
    order by c.o_orderstatus, c.o_orderpriority
"""


def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test on the monthly revenue series — the
    NON-parametric "is there a monotone trend" companion to q_theil_sen
    (which estimates the slope this test decides the existence of).
    S = #(increasing pairs) - #(decreasing pairs) over all month pairs:
    the pair space is month-domain-sized (~80 months -> ~3k pairs, a
    bounded non-equi self-join over an already-aggregated relation —
    the q_kendall_tau_daily shape), and every output is an exact
    integer, no float anywhere."""
    orders = _t(spark, sf_dir, "orders")
    monthly = (
        orders.select(
            (F.year("o_orderdate") * F.lit(100) + F.month("o_orderdate"))
            .cast("long")
            .alias("mo"),
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("mo")
        .agg(F.sum("cents").cast("long").alias("rev"))
    )
    a = monthly.select(F.col("mo").alias("ma"), F.col("rev").alias("ra"))
    b = monthly.select(F.col("mo").alias("mb"), F.col("rev").alias("rb"))
    pairs = a.join(b, F.col("ma") < F.col("mb"))
    agg = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("rb") > F.col("ra"), 1).otherwise(0))
        .cast("long")
        .alias("n_pos"),
        F.sum(F.when(F.col("rb") < F.col("ra"), 1).otherwise(0))
        .cast("long")
        .alias("n_neg"),
        F.sum(F.when(F.col("rb") == F.col("ra"), 1).otherwise(0))
        .cast("long")
        .alias("n_tie"),
    )
    nper = monthly.agg(F.count(F.lit(1)).cast("long").alias("n_periods"))
    return agg.crossJoin(F.broadcast(nper)).select(
        "n_periods",
        "n_pairs",
        "n_pos",
        "n_neg",
        "n_tie",
        (F.col("n_pos") - F.col("n_neg")).cast("long").alias("s_stat"),
    )


QUERIES["q_mann_kendall"] = q_mann_kendall
ORACLES["q_mann_kendall"] = """
    with monthly as (
        select (year(o_orderdate) * 100 + month(o_orderdate))::bigint as mo,
               sum(floor(o_totalprice * 100.0 + 0.5)::bigint)::bigint as rev
        from orders group by mo
    ),
    p as (
        select a.rev as ra, b.rev as rb
        from monthly a join monthly b on a.mo < b.mo
    )
    select (select count(*)::bigint from monthly) as n_periods,
           count(*)::bigint as n_pairs,
           sum(case when rb > ra then 1 else 0 end)::bigint as n_pos,
           sum(case when rb < ra then 1 else 0 end)::bigint as n_neg,
           sum(case when rb = ra then 1 else 0 end)::bigint as n_tie,
           (sum(case when rb > ra then 1 else 0 end)
            - sum(case when rb < ra then 1 else 0 end))::bigint as s_stat
    from p
"""


def q_bowley_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bowley (quartile) skewness of quantity per return flag — the
    robust asymmetry readout (outlier-immune, unlike moment skewness):
    (Q3 - 2*Q2 + Q1) / (Q3 - Q1). Quartiles are RANK-SELECTED at
    ceil(q*n) (exact integers, interpolation-free — the
    q_token_length_percentiles discipline) via the two-phase grouped
    row number, so each flag's sort spreads across all reducers;
    numerator/denominator emit as exact longs and the ratio is ONE
    nullif-guarded IEEE division (zero IQR -> NULL on both engines)."""
    from .operators.relational import with_grouped_row_number

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("qty"),
        "l_orderkey",
        "l_linenumber",
    )
    ranked = with_grouped_row_number(
        li,
        ["l_returnflag"],
        ["qty", "l_orderkey", "l_linenumber"],
        rn_col="rn",
        n_col="n",
    )
    r1 = F.expr("(n + 3) div 4")
    r2 = F.expr("(n + 1) div 2")
    r3 = F.expr("(3 * n + 3) div 4")
    sel = ranked.filter(
        (F.col("rn") == r1) | (F.col("rn") == r2) | (F.col("rn") == r3)
    )
    agg = sel.groupBy("l_returnflag").agg(
        F.max("n").cast("long").alias("n_rows"),
        F.max(F.when(F.col("rn") == r1, F.col("qty")))
        .cast("long")
        .alias("q1"),
        F.max(F.when(F.col("rn") == r2, F.col("qty")))
        .cast("long")
        .alias("q2"),
        F.max(F.when(F.col("rn") == r3, F.col("qty")))
        .cast("long")
        .alias("q3"),
    )
    num = F.col("q3") - 2 * F.col("q2") + F.col("q1")
    den = F.col("q3") - F.col("q1")
    return agg.select(
        "l_returnflag",
        "n_rows",
        "q1",
        "q2",
        "q3",
        num.cast("long").alias("skew_num"),
        den.cast("long").alias("skew_den"),
        (
            num.cast("double") / F.nullif(den.cast("double"), F.lit(0.0))
        ).alias("bowley_skew"),
    ).orderBy("l_returnflag")


QUERIES["q_bowley_skew"] = q_bowley_skew
ORACLES["q_bowley_skew"] = """
    with li as (
        select l_returnflag, l_quantity::bigint as qty, l_orderkey,
               l_linenumber
        from lineitem
    ),
    ranked as (
        select l_returnflag, qty,
               row_number() over (partition by l_returnflag
                                  order by qty, l_orderkey, l_linenumber)
                   as rn,
               count(*) over (partition by l_returnflag) as n
        from li
    ),
    agg as (
        select l_returnflag, max(n)::bigint as n_rows,
               max(case when rn = (n + 3) // 4 then qty end)::bigint as q1,
               max(case when rn = (n + 1) // 2 then qty end)::bigint as q2,
               max(case when rn = (3 * n + 3) // 4 then qty end)::bigint
                   as q3
        from ranked
        where rn = (n + 3) // 4 or rn = (n + 1) // 2
           or rn = (3 * n + 3) // 4
        group by l_returnflag
    )
    select l_returnflag, n_rows, q1, q2, q3,
           (q3 - 2 * q2 + q1)::bigint as skew_num,
           (q3 - q1)::bigint as skew_den,
           (q3 - 2 * q2 + q1)::double
               / nullif((q3 - q1)::double, 0.0) as bowley_skew
    from agg order by l_returnflag
"""


def q_grouped_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source modal language with a DETERMINISTIC tie-break (count
    desc, language asc) plus its ppm share of the source — the grouped
    MODE operator (the catalog had grouped median and weighted median
    but no mode). The window ranks the (source, lang) COUNT relation —
    a domain-bounded aggregate, never the fact table — and the share
    promotes to decimal before ``div`` so the ppm quotient stays
    long-sized at any corpus size."""
    docs = _t(spark, sf_dir, "documents")
    counts = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_mode")
    )
    w = Window.partitionBy("source").orderBy(
        F.col("n_mode").desc(), F.col("lang")
    )
    mode = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    tot = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_src")
    )
    return (
        mode.join(tot, "source")
        .select(
            "source",
            F.col("lang").alias("mode_lang"),
            "n_mode",
            "n_src",
            F.expr(
                "cast(cast(n_mode as decimal(38,0)) * 1000000 div n_src"
                " as bigint)"
            ).alias("share_ppm"),
        )
        .orderBy("source")
    )


QUERIES["q_grouped_mode"] = q_grouped_mode
ORACLES["q_grouped_mode"] = """
    with counts as (
        select source, lang, count(*)::bigint as n_mode
        from documents group by source, lang
    ),
    ranked as (
        select source, lang, n_mode,
               row_number() over (partition by source
                                  order by n_mode desc, lang) as rn
        from counts
    ),
    tot as (
        select source, count(*)::bigint as n_src
        from documents group by source
    )
    select r.source, r.lang as mode_lang, r.n_mode, t.n_src,
           ((r.n_mode::hugeint * 1000000) // t.n_src)::bigint as share_ppm
    from ranked r join tot t on r.source = t.source
    where r.rn = 1
    order by r.source
"""


def q_order_count_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson dispersion index (variance-to-mean ratio) of DAILY order
    counts per priority — the overdispersion screen a capacity planner
    runs before assuming Poisson arrivals (D ~ 1 Poisson, D >> 1
    bursty). Daily counts and their sum are exact longs; the
    squared-count sum merges as decimal(38,0) (daily counts square past
    long range at extreme scale); the index folds to
    ``(n*S2 - S^2) / ((n-1)*S)`` computed wholly in DOUBLE with one
    fixed operand order — the oracle routes its hugeint S2 through
    ``::varchar::double`` (correctly-rounded strtod) per the wide-cast
    rule — with a nullif guard for the 1-day degenerate group."""
    orders = _t(spark, sf_dir, "orders")
    daily = (
        orders.select(
            "o_orderpriority", F.to_date("o_orderdate").alias("d")
        )
        .groupBy("o_orderpriority", "d")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    per = daily.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("c").cast("long").alias("sum_c"),
        F.sum(F.col("c") * F.col("c")).cast("decimal(38,0)").alias("__sc2"),
    )
    n_d = F.col("n_days").cast("double")
    sc_d = F.col("sum_c").cast("double")
    sc2_d = F.col("__sc2").cast("double")
    return per.select(
        "o_orderpriority",
        "n_days",
        "sum_c",
        (
            (n_d * sc2_d - sc_d * sc_d)
            / F.nullif((n_d - F.lit(1.0)) * sc_d, F.lit(0.0))
        ).alias("dispersion"),
    ).orderBy("o_orderpriority")


QUERIES["q_order_count_dispersion"] = q_order_count_dispersion
ORACLES["q_order_count_dispersion"] = """
    with daily as (
        select o_orderpriority, o_orderdate::date as d,
               count(*)::bigint as c
        from orders group by o_orderpriority, d
    ),
    per as (
        select o_orderpriority, count(*)::bigint as n_days,
               sum(c)::bigint as sum_c,
               sum(c * c)::varchar::double as sc2
        from daily group by o_orderpriority
    )
    select o_orderpriority, n_days, sum_c,
           (n_days::double * sc2 - sum_c::double * sum_c::double)
           / nullif((n_days::double - 1.0) * sum_c::double, 0.0)
               as dispersion
    from per order by o_orderpriority
"""


# ---------------------------------------------------------------------------
# round-11 batch 2: proportion z-test, cross-split near-dup leaks,
# length x quality curation grid, Kendall's W, min-max feature scaling
# ---------------------------------------------------------------------------


def q_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample proportion z-test: did the return RATE change from
    1996 to 1997? The pooled-variance z on exact integer counts (one
    lineitem scan, conditional sums) — counts emit as longs, and z is
    one fixed IEEE sequence (four divides, one sqrt — sqrt is
    correctly-rounded by IEEE 754 on both engines) with a nullif guard
    for the all-or-none degenerate pool (p_hat in {0,1} -> NULL both
    engines)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    per = li.select(
        F.year("l_shipdate").alias("yr"),
        (F.col("l_returnflag") == "R").cast("int").alias("r"),
    ).agg(
        F.sum(F.when(F.col("yr") == 1996, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("yr") == 1996, F.col("r")).otherwise(0))
        .cast("long")
        .alias("x1"),
        F.sum(F.when(F.col("yr") == 1997, 1).otherwise(0))
        .cast("long")
        .alias("n2"),
        F.sum(F.when(F.col("yr") == 1997, F.col("r")).otherwise(0))
        .cast("long")
        .alias("x2"),
    )
    n1_d = F.col("n1").cast("double")
    x1_d = F.col("x1").cast("double")
    n2_d = F.col("n2").cast("double")
    x2_d = F.col("x2").cast("double")
    pp = (x1_d + x2_d) / (n1_d + n2_d)
    den = F.sqrt(
        pp * (F.lit(1.0) - pp) * (F.lit(1.0) / n1_d + F.lit(1.0) / n2_d)
    )
    return per.select(
        "n1",
        "x1",
        "n2",
        "x2",
        (
            (x1_d / n1_d - x2_d / n2_d) / F.nullif(den, F.lit(0.0))
        ).alias("z_stat"),
    )


QUERIES["q_proportion_ztest"] = q_proportion_ztest
ORACLES["q_proportion_ztest"] = """
    with agg as (
        select
            sum(case when year(l_shipdate) = 1996 then 1 else 0
                end)::bigint as n1,
            sum(case when year(l_shipdate) = 1996
                      and l_returnflag = 'R' then 1 else 0
                end)::bigint as x1,
            sum(case when year(l_shipdate) = 1997 then 1 else 0
                end)::bigint as n2,
            sum(case when year(l_shipdate) = 1997
                      and l_returnflag = 'R' then 1 else 0
                end)::bigint as x2
        from lineitem
        where l_shipdate >= timestamp '1996-01-01'
          and l_shipdate < timestamp '1998-01-01'
    )
    select n1, x1, n2, x2,
           (x1::double / n1::double - x2::double / n2::double)
           / nullif(
               sqrt(((x1::double + x2::double) / (n1::double + n2::double))
                    * (1.0 - (x1::double + x2::double)
                             / (n1::double + n2::double))
                    * (1.0 / n1::double + 1.0 / n2::double)),
               0.0) as z_stat
    from agg
"""


def q_split_neardup_leaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs that CROSS train/val/test boundaries — the
    contamination matrix for fuzzy leakage (q_contamination_by_source
    catches exact-hash leaks; a near-dup of a test doc inside train
    inflates eval just as surely). Splits are the content-independent
    md5 id-hash of q_split_assign; candidates ride banded_id_pairs (the
    linear (block, id-bucket) equi-join, window=100 — the q_ngram_jaccard
    candidate discipline); the >= 0.5 Jaccard gate is the exact INTEGER
    comparison ``2*i >= u`` on hashed-shingle set sizes (no float
    threshold to disagree on). Output is the full unordered split-pair
    matrix (least/greatest) with BOTH the candidate count and the leak
    count per class — the leak RATE denominator ships with its
    numerator, and the matrix stays informative when leaks are rare.
    The oracle derives identical set sizes from raw string shingles —
    xxhash64 is size-preserving on distinct sets."""
    from .functions.text import hash32
    from .operators.dedup import banded_id_pairs, hashed_shingle_sets

    docs = _t(spark, sf_dir, "documents")
    cand = banded_id_pairs(docs, "doc_id", "source", 100)
    sets = hashed_shingle_sets(docs, "doc_id", "text", shingle_n=3)
    sa = sets.select(F.col("doc_id").alias("a"), F.col("sh").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("b"), F.col("sh").alias("sh_b"))
    pv = (
        cand.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("long").alias("i"),
            F.size(F.array_union("sh_a", "sh_b")).cast("long").alias("u"),
        )
        .filter(F.col("u") > 0)
    )
    bucket = hash32(F.col("doc_id").cast("string")) % 1000
    splits = docs.select(
        "doc_id",
        F.when(bucket < 900, F.lit("train"))
        .when(bucket < 950, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    xa = splits.select(F.col("doc_id").alias("a"), F.col("split").alias("sp_a"))
    xb = splits.select(F.col("doc_id").alias("b"), F.col("split").alias("sp_b"))
    return (
        pv.join(xa, "a")
        .join(xb, "b")
        .select(
            F.least("sp_a", "sp_b").alias("split_a"),
            F.greatest("sp_a", "sp_b").alias("split_b"),
            (2 * F.col("i") >= F.col("u")).cast("int").alias("leak"),
        )
        .groupBy("split_a", "split_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cand_pairs"),
            F.sum("leak").cast("long").alias("n_leak_pairs"),
        )
        .orderBy("split_a", "split_b")
    )


QUERIES["q_split_neardup_leaks"] = q_split_neardup_leaks
ORACLES["q_split_neardup_leaks"] = f"""
    with t as (
        select doc_id, source, list_distinct({_DK_SHINGLES}) as sh
        from (select doc_id, source, {_DK_TOKENS} as w from documents)
    ),
    sp as (
        select doc_id,
               case when ('0x' || substr(md5(doc_id::varchar), 1, 8))::bigint
                         % 1000 < 900 then 'train'
                    when ('0x' || substr(md5(doc_id::varchar), 1, 8))::bigint
                         % 1000 < 950 then 'val'
                    else 'test' end as split
        from documents
    ),
    pv as (
        select a.doc_id as a, b.doc_id as b,
               len(list_distinct(list_intersect(a.sh, b.sh)))::bigint as i,
               len(list_distinct(a.sh || b.sh))::bigint as u
        from t a join t b
          on a.source = b.source and a.doc_id < b.doc_id
         and b.doc_id - a.doc_id <= 100
    )
    select least(x.split, y.split) as split_a,
           greatest(x.split, y.split) as split_b,
           count(*)::bigint as n_cand_pairs,
           sum(case when 2 * i >= u then 1 else 0 end)::bigint
               as n_leak_pairs
    from pv join sp x on pv.a = x.doc_id join sp y on pv.b = y.doc_id
    where u > 0
    group by split_a, split_b
    order by split_a, split_b
"""


def q_length_quality_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length band x stopword-density band grid — the 2-D curation
    planning readout (WHERE the corpus mass sits before choosing filter
    thresholds: short low-stopword cells are code/tables, long
    high-stopword cells are prose). Both band axes are exact integer
    cross-multiplications (length div 64; (10*n_stop) div n_tok, the
    q_stopword_band_mix signal), the grid is domain-bounded, and shares
    are exact ppm against a broadcast 1-row total with decimal
    promotion before div."""
    from .functions.text import EN_STOPWORDS, tokens

    docs = _t(spark, sf_dir, "documents")
    stop_arr = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    toks = tokens(F.col("text"))
    per = docs.select(
        F.size(toks).cast("long").alias("n_tok"),
        F.size(
            F.filter(toks, lambda t: F.array_contains(stop_arr, t))
        ).cast("long").alias("n_stop"),
    )
    grid = (
        per.select(
            F.expr("n_tok div 64").cast("long").alias("len_band"),
            F.expr("(10 * n_stop) div n_tok").cast("long").alias("stop_band"),
        )
        .groupBy("len_band", "stop_band")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    tot = grid.agg(F.sum("n_docs").cast("long").alias("n_total"))
    return (
        grid.crossJoin(F.broadcast(tot))
        .select(
            "len_band",
            "stop_band",
            "n_docs",
            F.expr(
                "cast(cast(n_docs as decimal(38,0)) * 1000000 div n_total"
                " as bigint)"
            ).alias("share_ppm"),
        )
        .orderBy("len_band", "stop_band")
    )


QUERIES["q_length_quality_grid"] = q_length_quality_grid
ORACLES["q_length_quality_grid"] = f"""
    with per as (
        select len({_DK_TOKENS})::bigint as n_tok,
               len(list_filter({_DK_TOKENS},
                   t -> list_contains({_DK_STOPLIST}, t)))::bigint as n_stop
        from documents
    ),
    grid as (
        select (n_tok // 64)::bigint as len_band,
               ((10 * n_stop) // n_tok)::bigint as stop_band,
               count(*)::bigint as n_docs
        from per group by len_band, stop_band
    )
    select len_band, stop_band, n_docs,
           ((n_docs::hugeint * 1000000)
            // (select sum(n_docs)::bigint from grid))::bigint as share_ppm
    from grid order by len_band, stop_band
"""


def q_kendall_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's W — concordance of the per-year nation revenue RANKINGS
    (1995/1996/1997): do the three years agree on which nations sell
    most? (W=1 identical rankings, W~0 none; the multi-ranking
    generalization of q_kendall_tau_daily.) Nation-year revenue is one
    exact cent aggregate over the unhinted lineitem x supplier join;
    rankings are deterministic row_numbers over the (year, nation)
    aggregate (25 rows/year — domain-bounded, never the fact); only
    nations present in ALL years enter (an unbalanced panel breaks W).
    The spread statistic doubles the rank sums to stay integer
    (D_i = 2*R_i - m*(n+1), so W = 3*sum(D^2) / (m^2*(n^3-n))) — one
    nullif-guarded IEEE division at the end."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    rev = (
        li.select(
            "l_suppkey",
            F.year("l_shipdate").alias("yr"),
            F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("yr", "s_nationkey")
        .agg(F.sum("cents").cast("long").alias("rev"))
    )
    full = (
        rev.groupBy("s_nationkey")
        .agg(F.countDistinct("yr").alias("n_yrs"))
        .filter(F.col("n_yrs") == 3)
        .select("s_nationkey")
    )
    rev3 = rev.join(full, "s_nationkey")
    w = Window.partitionBy("yr").orderBy(
        F.col("rev").desc(), F.col("s_nationkey")
    )
    ranked = rev3.withColumn("rk", F.row_number().over(w).cast("long"))
    sums = ranked.groupBy("s_nationkey").agg(
        F.sum("rk").cast("long").alias("rank_sum")
    )
    agg = sums.agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum("rank_sum").cast("long").alias("__rs"),
    )
    d2 = (
        sums.crossJoin(F.broadcast(agg))
        .select(
            (
                (2 * F.col("rank_sum") - 3 * (F.col("n_items") + 1))
                * (2 * F.col("rank_sum") - 3 * (F.col("n_items") + 1))
            ).cast("long").alias("d2"),
            "n_items",
        )
        .groupBy("n_items")
        .agg(F.sum("d2").cast("long").alias("d2_sum"))
    )
    n_d = F.col("n_items").cast("double")
    return d2.select(
        "n_items",
        F.lit(3).cast("long").alias("m_rankings"),
        "d2_sum",
        (
            (F.lit(3.0) * F.col("d2_sum").cast("double"))
            / F.nullif(F.lit(9.0) * (n_d * n_d * n_d - n_d), F.lit(0.0))
        ).alias("kendall_w"),
    )


QUERIES["q_kendall_w"] = q_kendall_w
ORACLES["q_kendall_w"] = """
    with rev as (
        select year(l_shipdate)::bigint as yr, s.s_nationkey,
               sum(floor(l_extendedprice * 100.0 + 0.5)::bigint)::bigint
                   as rev
        from lineitem l join supplier s on l.l_suppkey = s.s_suppkey
        where l_shipdate >= timestamp '1995-01-01'
          and l_shipdate < timestamp '1998-01-01'
        group by yr, s.s_nationkey
    ),
    full_n as (
        select s_nationkey from rev
        group by s_nationkey having count(distinct yr) = 3
    ),
    ranked as (
        select r.yr, r.s_nationkey,
               row_number() over (partition by r.yr
                                  order by r.rev desc, r.s_nationkey)
                   as rk
        from rev r join full_n f on r.s_nationkey = f.s_nationkey
    ),
    sums as (
        select s_nationkey, sum(rk)::bigint as rank_sum
        from ranked group by s_nationkey
    ),
    agg as (select count(*)::bigint as n_items from sums),
    d2 as (
        select a.n_items,
               sum((2 * s.rank_sum - 3 * (a.n_items + 1))
                   * (2 * s.rank_sum - 3 * (a.n_items + 1)))::bigint
                   as d2_sum
        from sums s cross join agg a
        group by a.n_items
    )
    select n_items, 3::bigint as m_rankings, d2_sum,
           (3.0 * d2_sum::double)
           / nullif(9.0 * (n_items::double * n_items::double
                           * n_items::double - n_items::double),
                    0.0) as kendall_w
    from d2
"""


def q_minmax_scale_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-max feature scaling of supplier revenue WITHIN nation, as
    exact ppm (0 = nation's weakest supplier, 1e6 = strongest) — the
    per-group normalization a feature pipeline runs before mixing
    magnitudes across groups. Per-supplier cents are one exact
    aggregate; nation extrema are a 25-row aggregate joined back
    (unhinted — AQE broadcasts); the scale promotes to decimal before
    ``div`` so the quotient stays long-sized at any magnitude, and a
    single-supplier nation (max = min) yields NULL via the mirrored
    nullif rather than an engine-specific 0/0."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    rev = (
        li.join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_suppkey", "s_nationkey")
        .agg(F.sum("cents").cast("long").alias("rev_cents"))
    )
    ext = rev.groupBy("s_nationkey").agg(
        F.min("rev_cents").cast("long").alias("mn"),
        F.max("rev_cents").cast("long").alias("mx"),
    )
    return (
        rev.join(ext, "s_nationkey")
        .select(
            "s_suppkey",
            "s_nationkey",
            "rev_cents",
            F.expr(
                "cast(cast(rev_cents - mn as decimal(38,0)) * 1000000"
                " div nullif(mx - mn, 0) as bigint)"
            ).alias("scaled_ppm"),
        )
        .orderBy("s_suppkey")
    )


QUERIES["q_minmax_scale_ppm"] = q_minmax_scale_ppm
ORACLES["q_minmax_scale_ppm"] = """
    with rev as (
        select s.s_suppkey, s.s_nationkey,
               sum(floor(l_extendedprice * 100.0 + 0.5)::bigint)::bigint
                   as rev_cents
        from lineitem l join supplier s on l.l_suppkey = s.s_suppkey
        group by s.s_suppkey, s.s_nationkey
    ),
    ext as (
        select s_nationkey, min(rev_cents)::bigint as mn,
               max(rev_cents)::bigint as mx
        from rev group by s_nationkey
    )
    select r.s_suppkey, r.s_nationkey, r.rev_cents,
           ((r.rev_cents - e.mn)::hugeint * 1000000
            // nullif(e.mx - e.mn, 0))::bigint as scaled_ppm
    from rev r join ext e on r.s_nationkey = e.s_nationkey
    order by r.s_suppkey
"""


# ---------------------------------------------------------------------------
# round-11 batch 3: effect size, binomial interval, tokenizer economics,
# quantile normalization, split quality
# ---------------------------------------------------------------------------


def q_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d effect size for the 1996-vs-1997 quantity shift — the
    magnitude readout the q_proportion_ztest / q_ab_ttest family's
    significance numbers need next to them (a tiny effect goes
    'significant' at 100 TB row counts; d is what decides if anyone
    should care). Per-year moments are exact integers from one scan
    (quantities are small, but the squared sums still merge as
    decimal(38,0) for the extreme-scale margin); d folds in DOUBLE with
    one fixed operand order — pooled variance from the exact moments,
    one sqrt, one divide — with nullif guards for the degenerate pool
    (n1+n2 <= 2 or zero spread). The oracle routes its hugeint squared
    sums through ``::varchar::double`` per the wide-cast rule."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    per = li.select(
        F.year("l_shipdate").alias("yr"),
        F.col("l_quantity").cast("long").alias("q"),
    ).agg(
        F.sum(F.when(F.col("yr") == 1996, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("yr") == 1996, F.col("q")).otherwise(0))
        .cast("long")
        .alias("s1"),
        F.sum(
            F.when(F.col("yr") == 1996, F.col("q") * F.col("q")).otherwise(0)
        ).cast("decimal(38,0)").alias("__q1"),
        F.sum(F.when(F.col("yr") == 1997, 1).otherwise(0))
        .cast("long")
        .alias("n2"),
        F.sum(F.when(F.col("yr") == 1997, F.col("q")).otherwise(0))
        .cast("long")
        .alias("s2"),
        F.sum(
            F.when(F.col("yr") == 1997, F.col("q") * F.col("q")).otherwise(0)
        ).cast("decimal(38,0)").alias("__q2"),
    )
    n1_d = F.col("n1").cast("double")
    s1_d = F.col("s1").cast("double")
    q1_d = F.col("__q1").cast("double")
    n2_d = F.col("n2").cast("double")
    s2_d = F.col("s2").cast("double")
    q2_d = F.col("__q2").cast("double")
    ss1 = q1_d - (s1_d * s1_d) / n1_d
    ss2 = q2_d - (s2_d * s2_d) / n2_d
    s_pooled = F.sqrt(
        (ss1 + ss2) / F.nullif(n1_d + n2_d - F.lit(2.0), F.lit(0.0))
    )
    return per.select(
        "n1",
        "s1",
        "n2",
        "s2",
        (
            (s1_d / n1_d - s2_d / n2_d) / F.nullif(s_pooled, F.lit(0.0))
        ).alias("cohens_d"),
    )


QUERIES["q_cohens_d"] = q_cohens_d
ORACLES["q_cohens_d"] = """
    with agg as (
        select
            sum(case when year(l_shipdate) = 1996 then 1 else 0
                end)::bigint as n1,
            sum(case when year(l_shipdate) = 1996
                     then l_quantity::bigint else 0 end)::bigint as s1,
            sum(case when year(l_shipdate) = 1996
                     then l_quantity::bigint * l_quantity::bigint
                     else 0 end)::varchar::double as q1,
            sum(case when year(l_shipdate) = 1997 then 1 else 0
                end)::bigint as n2,
            sum(case when year(l_shipdate) = 1997
                     then l_quantity::bigint else 0 end)::bigint as s2,
            sum(case when year(l_shipdate) = 1997
                     then l_quantity::bigint * l_quantity::bigint
                     else 0 end)::varchar::double as q2
        from lineitem
        where l_shipdate >= timestamp '1996-01-01'
          and l_shipdate < timestamp '1998-01-01'
    )
    select n1, s1, n2, s2,
           (s1::double / n1::double - s2::double / n2::double)
           / nullif(
               sqrt(((q1 - (s1::double * s1::double) / n1::double)
                     + (q2 - (s2::double * s2::double) / n2::double))
                    / nullif(n1::double + n2::double - 2.0, 0.0)),
               0.0) as cohens_d
    from agg
"""


def q_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson 95% score interval for the per-brand return rate — the
    binomial interval that behaves at small n and p near 0/1 (the Wald
    interval a naive report uses collapses there), i.e. the error bars
    for q_return_rate_by_brand_month's point estimates. Counts are
    exact longs from the unhinted lineitem x part join; the bounds are
    one fixed IEEE sequence per brand row (z = 1.96 literal, one sqrt)
    written with IDENTICAL operand order in both engines."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        (F.col("l_returnflag") == "R").cast("int").alias("r"),
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    per = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum("r").cast("long").alias("n_returned"),
        )
    )
    n_d = F.col("n_lines").cast("double")
    x_d = F.col("n_returned").cast("double")
    z = F.lit(1.96)
    p = x_d / n_d
    center = p + (z * z) / (2.0 * n_d)
    half = z * F.sqrt(
        (p * (F.lit(1.0) - p)) / n_d + (z * z) / (4.0 * (n_d * n_d))
    )
    denom = F.lit(1.0) + (z * z) / n_d
    return per.select(
        "p_brand",
        "n_lines",
        "n_returned",
        ((center - half) / denom).alias("wilson_lo"),
        ((center + half) / denom).alias("wilson_hi"),
    ).orderBy("p_brand")


QUERIES["q_wilson_ci"] = q_wilson_ci
ORACLES["q_wilson_ci"] = """
    with per as (
        select p.p_brand, count(*)::bigint as n_lines,
               sum(case when l.l_returnflag = 'R' then 1 else 0
                   end)::bigint as n_returned
        from lineitem l join part p on l.l_partkey = p.p_partkey
        group by p.p_brand
    )
    select p_brand, n_lines, n_returned,
           ((n_returned::double / n_lines::double
             + (1.96 * 1.96) / (2.0 * n_lines::double))
            - 1.96 * sqrt(((n_returned::double / n_lines::double)
                           * (1.0 - n_returned::double / n_lines::double))
                          / n_lines::double
                          + (1.96 * 1.96)
                            / (4.0 * (n_lines::double * n_lines::double))))
           / (1.0 + (1.96 * 1.96) / n_lines::double) as wilson_lo,
           ((n_returned::double / n_lines::double
             + (1.96 * 1.96) / (2.0 * n_lines::double))
            + 1.96 * sqrt(((n_returned::double / n_lines::double)
                           * (1.0 - n_returned::double / n_lines::double))
                          / n_lines::double
                          + (1.96 * 1.96)
                            / (4.0 * (n_lines::double * n_lines::double))))
           / (1.0 + (1.96 * 1.96) / n_lines::double) as wilson_hi
    from per order by p_brand
"""


def q_chars_per_token_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Characters-per-token ppm by source — the tokenizer-economics
    profile at corpus grain (q_tokenizer_fertility measures a trained
    BPE's fertility; this is the raw whitespace-token density a
    pipeline reads FIRST, before any tokenizer exists, to forecast
    token budgets from byte counts). Char counts ride the stored
    n_chars column, token counts one JVM expression; both sums are
    exact, and the ratio promotes to decimal before ``div`` so the ppm
    quotient is long-sized at any corpus size."""
    from .functions.text import token_count

    docs = _t(spark, sf_dir, "documents")
    per = docs.select(
        "source",
        F.col("n_chars").cast("long").alias("ch"),
        token_count(F.col("text")).cast("long").alias("tk"),
    ).groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("ch").cast("long").alias("sum_chars"),
        F.sum("tk").cast("long").alias("sum_tokens"),
    )
    return per.select(
        "source",
        "n_docs",
        "sum_chars",
        "sum_tokens",
        F.expr(
            "cast(cast(sum_chars as decimal(38,0)) * 1000000"
            " div nullif(sum_tokens, 0) as bigint)"
        ).alias("chars_per_token_ppm"),
    ).orderBy("source")


QUERIES["q_chars_per_token_by_source"] = q_chars_per_token_by_source
ORACLES["q_chars_per_token_by_source"] = f"""
    with per as (
        select source, count(*)::bigint as n_docs,
               sum(n_chars::bigint)::bigint as sum_chars,
               sum(len({_DK_TOKENS}))::bigint as sum_tokens
        from documents group by source
    )
    select source, n_docs, sum_chars, sum_tokens,
           ((sum_chars::hugeint * 1000000)
            // nullif(sum_tokens, 0))::bigint as chars_per_token_ppm
    from per order by source
"""


def q_quantile_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of supplier revenue ACROSS nations — the
    batch-effect removal op (map each nation's k-th ranked supplier to
    the cross-nation mean revenue at rank k, so every nation ends up
    with the same distribution; the bioinformatics standard, and a real
    feature-engineering primitive for mixing heterogeneous groups).
    Ranks ride the two-phase GROUPED row number (each nation's sort
    spreads across reducers); the per-rank reference profile is one
    groupBy on the rank (rank domain <= max group size); the mean is an
    exact truncating ``div`` with decimal promotion, mirrored, so no
    float average ever exists."""
    from .operators.relational import with_grouped_row_number

    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    rev = (
        li.join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_suppkey", "s_nationkey")
        .agg(F.sum("cents").cast("long").alias("rev_cents"))
    )
    ranked = with_grouped_row_number(
        rev,
        ["s_nationkey"],
        ["rev_cents", "s_suppkey"],
        rn_col="rn",
        n_col="n",
    ).select("s_suppkey", "s_nationkey", "rev_cents", "rn")
    ref = ranked.groupBy("rn").agg(
        F.expr(
            "cast(cast(sum(rev_cents) as decimal(38,0))"
            " div count(1) as bigint)"
        ).alias("qnorm_cents")
    )
    return (
        ranked.join(ref, "rn")
        .select(
            "s_suppkey",
            "s_nationkey",
            F.col("rn").cast("long").alias("rn"),
            "rev_cents",
            "qnorm_cents",
        )
        .orderBy("s_suppkey")
    )


QUERIES["q_quantile_normalization"] = q_quantile_normalization
ORACLES["q_quantile_normalization"] = """
    with rev as (
        select s.s_suppkey, s.s_nationkey,
               sum(floor(l_extendedprice * 100.0 + 0.5)::bigint)::bigint
                   as rev_cents
        from lineitem l join supplier s on l.l_suppkey = s.s_suppkey
        group by s.s_suppkey, s.s_nationkey
    ),
    ranked as (
        select s_suppkey, s_nationkey, rev_cents,
               row_number() over (partition by s_nationkey
                                  order by rev_cents, s_suppkey)::bigint
                   as rn
        from rev
    ),
    ref as (
        select rn,
               (sum(rev_cents)::hugeint // count(*))::bigint as qnorm_cents
        from ranked group by rn
    )
    select r.s_suppkey, r.s_nationkey, r.rn, r.rev_cents, f.qnorm_cents
    from ranked r join ref f on r.rn = f.rn
    order by r.s_suppkey
"""


def q_gini_split_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted Gini impurity of the return flag within each brand — the
    decision-tree split-quality score (how well does 'brand' separate
    returns?), i.e. the feature-selection readout a training pipeline
    computes per candidate attribute. Class counts are exact longs; per
    brand, impurity = (n^2 - sum_k c_k^2) / n^2 emits as exact ppm via
    decimal promotion before ``div`` (no float probability squares),
    alongside the brand's weight for the caller's weighted rollup."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_returnflag")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    cls = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "l_returnflag")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    per = cls.groupBy("p_brand").agg(
        F.sum("c").cast("long").alias("n_lines"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("__c2"),
    )
    return per.select(
        "p_brand",
        "n_lines",
        F.expr(
            "cast((cast(n_lines as decimal(38,0)) * n_lines - __c2)"
            " * 1000000 div (cast(n_lines as decimal(38,0)) * n_lines)"
            " as bigint)"
        ).alias("gini_ppm"),
    ).orderBy("p_brand")


QUERIES["q_gini_split_quality"] = q_gini_split_quality
ORACLES["q_gini_split_quality"] = """
    with cls as (
        select p.p_brand, l.l_returnflag, count(*)::bigint as c
        from lineitem l join part p on l.l_partkey = p.p_partkey
        group by p.p_brand, l.l_returnflag
    ),
    per as (
        select p_brand, sum(c)::bigint as n_lines,
               sum(c::hugeint * c) as c2
        from cls group by p_brand
    )
    select p_brand, n_lines,
           (((n_lines::hugeint * n_lines - c2) * 1000000)
            // (n_lines::hugeint * n_lines))::bigint as gini_ppm
    from per order by p_brand
"""


# ---------------------------------------------------------------------------
# round-11 batch 4: TPC-H decision-support parity — the five classic query
# shapes the catalog did not yet carry under any name (Q3 lives in
# q_filter_join_topk, Q5 in q_star_join, Q10 in q_returned_items_topk, Q11's
# HAVING-vs-global-scalar in q_revenue_share_filter, Q12 in
# q_late_ship_priority, Q14 in q_promo_share_monthly): Q13's left-outer
# double aggregation, Q17's per-PART correlated average (fact-scaling group
# count, unlike q_above_brand_avg's 25-brand broadcast), Q18's large-volume
# HAVING semi-join, Q19's disjunctive join predicate with derived per-side
# pushdown, and Q22's scalar-subquery + anti-join. Adapted where the
# testdata schema is reduced (no partsupp / phone / container columns);
# every adaptation is documented inline.
# ---------------------------------------------------------------------------


def q_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: distribution of customers by order count, INCLUDING the
    zero-order customers a plain inner join would drop. The textbook plan
    left-joins customer to orders then counts twice; pre-aggregating
    orders per ``o_custkey`` FIRST shrinks the join's probe side from
    order rows to customer rows (the same partial-agg-through-join
    rewrite as q_star_join_preagg — Catalyst does not push aggregates
    through outer joins itself), and the left join against the counts
    relation preserves the zero bucket via ``coalesce``. Both relations
    scale with the fact, so the join carries NO build-side hint. The
    second aggregate's key domain is bounded by the max orders-per-
    customer (~tens), so the final groupBy is a kilobyte-state shuffle.
    (The classic filter ``o_comment not like '%special%requests%'`` has
    no column in this vintage; omitted, documented.)"""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    per_cust = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )
    return (
        cust.join(per_cust, cust.c_custkey == per_cust.o_custkey, "left")
        .select(
            F.coalesce(F.col("n_orders"), F.lit(0).cast("long")).alias(
                "c_count"
            )
        )
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("long").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


QUERIES["q_custdist"] = q_custdist
ORACLES["q_custdist"] = """
    with per_cust as (
        select c_custkey, count(o_orderkey)::bigint as c_count
        from customer left join orders on c_custkey = o_custkey
        group by c_custkey
    )
    select c_count, count(*)::bigint as custdist
    from per_cust group by c_count
    order by custdist desc, c_count desc
"""


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue locked up in small-quantity lineitems — lines
    whose quantity is below 20% of their own PART's average quantity.
    The correlated scalar average decorrelates to a per-part aggregate
    joined back on ``l_partkey``; that aggregate has one row per part,
    and part SCALES with the fact (unlike q_above_brand_avg's bounded
    25-brand broadcast), so the join back is a plain unhinted equi-join
    — AQE picks the strategy. The below-average test is the exact
    integer cross-multiplication ``5·qty·cnt < sum_qty`` (qty ≤ 50 and
    TPC-H's ~30 lines/part make 5·50·cnt ≤ ~7.5e8 even at 100 TB — 10
    orders of magnitude inside long). Classic Q17 filters one brand +
    one container (~0.04% of parts — empty below sf0.1 and there is no
    container column); the scale-invariant adaptation keeps the shape
    with ``p_size <= 10`` (20% of parts). Revenue is summed in exact
    half-up cents with decimal(38,0) merge margin."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_quantity").cast("long").alias("qty"),
        F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    per_part = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("qty").cast("long").alias("sum_qty"),
    )
    small_part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_size") <= 10)
        .select("p_partkey")
    )
    return (
        li.join(per_part.withColumnRenamed("l_partkey", "pk"),
                F.col("l_partkey") == F.col("pk"))
        .join(small_part, F.col("l_partkey") == F.col("p_partkey"))
        .filter(F.lit(5) * F.col("qty") * F.col("cnt") < F.col("sum_qty"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_small"),
            # decimal(38,0) merge margin, final value fits long by ~100x
            # even at 100 TB (~7.8e16 cents)
            F.sum(F.col("cents").cast("decimal(38,0)"))
            .cast("long")
            .alias("revenue_cents"),
        )
    )


QUERIES["q_small_qty_revenue"] = q_small_qty_revenue
ORACLES["q_small_qty_revenue"] = """
    with per_part as (
        select l_partkey as pk, count(*)::bigint as cnt,
               sum(l_quantity)::bigint as sum_qty
        from lineitem group by l_partkey
    )
    select count(*)::bigint as n_small,
           sum(floor(l_extendedprice * 100.0 + 0.5)::bigint)::bigint
               as revenue_cents
    from lineitem
    join per_part on l_partkey = pk
    join part on p_partkey = l_partkey and p_size <= 10
    where 5 * l_quantity * cnt < sum_qty
"""


def q_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: the top-100 orders by value whose total quantity
    exceeds 200 units, with the customer who placed them. The HAVING
    subquery decorrelates to one per-order aggregate (map-side partial
    sums, then the >200 filter drops ~93% of orders BEFORE any join);
    the qualifying sum rides along instead of Q18's textbook second
    lineitem join. orders and customer both scale with the fact —
    unhinted equi-joins, AQE decides. The top-100 is fully
    deterministic: ordered by exact half-up total-price cents desc,
    then order date, then order key."""
    big = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 200)
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("total_cents"),
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "orderdate",
            "total_cents",
            "sum_qty",
        )
        .orderBy(
            F.col("total_cents").desc(), "orderdate", "o_orderkey"
        )
        .limit(100)
    )


QUERIES["q_large_volume_customers"] = q_large_volume_customers
ORACLES["q_large_volume_customers"] = """
    with big as (
        select l_orderkey, sum(l_quantity)::bigint as sum_qty
        from lineitem group by l_orderkey
        having sum(l_quantity) > 200
    )
    select c_name, c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') as orderdate,
           floor(o_totalprice * 100.0 + 0.5)::bigint as total_cents,
           sum_qty
    from big
    join orders on o_orderkey = l_orderkey
    join customer on c_custkey = o_custkey
    order by total_cents desc, orderdate, o_orderkey
    limit 100
"""


def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: revenue matched by an OR of three brand/size/quantity
    conjunctions spanning BOTH join sides. Catalyst cannot push a
    cross-relation disjunction below the join, so each side gets the
    DERIVED union filter every branch implies (part: brand IN the three
    brands AND size in the union envelope 1..25; lineitem: quantity in
    the union envelope 1..30) — at 100 TB that is the difference between
    scanning ~2% of the join input and scanning all of it — and the
    exact three-way OR applies post-join. Branch bounds are widened vs
    classic Q19 (whose brand+container cut is empty below sf0.1 on this
    vintage; documented adaptation). Revenue is the house decimal(18,6)
    per-row-rounded sum."""
    part = (
        _t(spark, sf_dir, "part")
        .filter(
            F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#34")
            & F.col("p_size").between(1, 25)
        )
        .select("p_partkey", "p_brand", "p_size")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity").between(1, 30))
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    )
    b1 = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 11)
    )
    b2 = (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 20)
        & F.col("l_quantity").between(10, 20)
    )
    b3 = (
        (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(1, 25)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .filter(b1 | b2 | b3)
        .agg(
            dec_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
    )


QUERIES["q_disjunctive_revenue"] = q_disjunctive_revenue
ORACLES["q_disjunctive_revenue"] = """
    select cast(cast(sum(cast(l_extendedprice * (1 - l_discount)
               as decimal(18,6))) as varchar) as double) as revenue,
           count(*)::bigint as n_lines
    from lineitem join part on p_partkey = l_partkey
    where (p_brand = 'Brand#12' and p_size between 1 and 15
           and l_quantity between 1 and 11)
       or (p_brand = 'Brand#23' and p_size between 1 and 20
           and l_quantity between 10 and 20)
       or (p_brand = 'Brand#34' and p_size between 1 and 25
           and l_quantity between 20 and 30)
"""


def q_idle_high_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22: per-nation census of customers whose account balance
    beats the global positive-balance average but who have placed no
    RECENT order — the scalar-subquery + NOT EXISTS shape. The scalar
    side is a one-row aggregate cross-joined back with an explicit
    broadcast (1 row is bounded by construction); the above-average
    test cross-multiplies exactly — ``cents·c > s`` in decimal(38,0),
    no float average — and NOT EXISTS decorrelates to a left-anti join
    against date-filtered orders (the ``o_orderdate >=`` predicate
    lands in PushedFilters before the anti join). Adapted: no phone
    column, so the country-code IN-set becomes the nation key itself,
    and 'no orders at all' (0% of customers on this vintage — every
    customer orders) becomes 'no order since 2000-07-01' (~20% at every
    SF). Balances are exact half-up cents."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.floor(F.col("c_acctbal") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    pos = cust.filter(F.col("cents") > 0).agg(
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("s"),
        F.count(F.lit(1)).cast("long").alias("c"),
    )
    recent = (
        _t(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderdate")
            >= F.lit("2000-07-01").cast("timestamp_ntz")
        )
        .select("o_custkey")
    )
    return (
        cust.join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .crossJoin(F.broadcast(pos))
        .filter(
            F.col("cents").cast("decimal(38,0)") * F.col("c") > F.col("s")
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("numcust"),
            # decimal(38,0) merge margin; per-nation totals fit long
            F.sum(F.col("cents").cast("decimal(38,0)"))
            .cast("long")
            .alias("totacctbal_cents"),
        )
        .orderBy("c_nationkey")
    )


QUERIES["q_idle_high_balance"] = q_idle_high_balance
ORACLES["q_idle_high_balance"] = """
    with cents as (
        select c_custkey, c_nationkey,
               floor(c_acctbal * 100.0 + 0.5)::bigint as cb
        from customer
    ),
    pos as (
        select sum(cb)::hugeint as s, count(*)::bigint as c
        from cents where cb > 0
    )
    select c_nationkey, count(*)::bigint as numcust,
           sum(cb)::bigint as totacctbal_cents
    from cents, pos
    where cb::hugeint * c > s
      and not exists (
          select 1 from orders o
          where o.o_custkey = cents.c_custkey
            and o.o_orderdate >= timestamp '2000-07-01'
      )
    group by c_nationkey
    order by c_nationkey
"""


# ---------------------------------------------------------------------------
# round-11 batch 5: TPC-H parity second half (Q21's multi-EXISTS, Q7's
# bidirectional volume shipping, Q8's market share) plus two regression/
# diagnostic stats (per-brand odds ratio, Durbin-Watson serial-correlation
# readout on the monthly revenue series).
# ---------------------------------------------------------------------------


def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21: suppliers who were the SOLE late shipper on a
    finished multi-supplier order. The classic EXISTS l2 / NOT EXISTS
    l3 pair decorrelates to two per-order aggregates — distinct
    suppliers and distinct LATE suppliers — and the qualifying
    condition becomes ``n_supp >= 2 AND n_late = 1`` for a late
    supplier (sole-late ⇔ the only member of the late set), turning
    two correlated self-joins into keyed equi-joins on ``l_orderkey``
    that shuffle once each. supplier scales with the fact — unhinted
    join for the name lookup. Adapted: no l_commitdate/l_receiptdate
    columns in this vintage, so 'kept waiting' = shipped more than 60
    days after the order date (documented; the decorrelation shape is
    the point)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    finished = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    late = (
        li.join(finished, li.l_orderkey == finished.o_orderkey)
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("interval 60 days")
        )
        .select("l_orderkey", "l_suppkey")
    )
    n_supp = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").cast("long").alias("ns")
    )
    n_late = late.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").cast("long").alias("nl")
    )
    waiting = (
        late.dropDuplicates(["l_orderkey", "l_suppkey"])
        .join(n_supp, "l_orderkey")
        .join(n_late, "l_orderkey")
        .filter((F.col("ns") >= 2) & (F.col("nl") == 1))
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        waiting.join(sup, waiting.l_suppkey == sup.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
    )


QUERIES["q_waiting_suppliers"] = q_waiting_suppliers
ORACLES["q_waiting_suppliers"] = """
    with late as (
        select l_orderkey, l_suppkey
        from lineitem join orders on l_orderkey = o_orderkey
        where o_orderstatus = 'F'
          and l_shipdate > o_orderdate + interval 60 day
    ),
    n_supp as (
        select l_orderkey, count(distinct l_suppkey)::bigint as ns
        from lineitem group by l_orderkey
    ),
    n_late as (
        select l_orderkey, count(distinct l_suppkey)::bigint as nl
        from late group by l_orderkey
    )
    select s_name, count(*)::bigint as numwait
    from (select distinct l.l_orderkey, l.l_suppkey
          from late l
          join n_supp using (l_orderkey)
          join n_late using (l_orderkey)
          where ns >= 2 and nl = 1) w
    join supplier on s_suppkey = l_suppkey
    group by s_name
    order by numwait desc, s_name
"""


def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: shipping volume between two trading regions, BOTH
    directions, by ship year. Five joins: the two bounded dims (nation
    25 rows, region 5 rows) broadcast — twice each, aliased per role —
    while orders/customer/supplier scale with the fact and stay
    unhinted. The region-pair disjunction applies after the cheap
    broadcast joins; year bounds push to the lineitem scan. (Classic
    Q7 picks two NATIONS — sparse to emptiness below sf0.1 on this
    vintage; the region-pair adaptation keeps all four
    (direction, year) groups populated at every SF.)"""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        )
        .select(
            "l_orderkey", "l_suppkey", "l_shipdate",
            "l_extendedprice", "l_discount",
        )
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    reg = _t(spark, sf_dir, "region")
    supp_reg = (
        nat.join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select(
            F.col("n_nationkey").alias("sn_key"),
            F.col("r_name").alias("supp_region"),
        )
    )
    cust_reg = (
        nat.join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select(
            F.col("n_nationkey").alias("cn_key"),
            F.col("r_name").alias("cust_region"),
        )
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(supp_reg), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cust_reg), F.col("c_nationkey") == F.col("cn_key"))
        .filter(
            (
                (F.col("supp_region") == "EUROPE")
                & (F.col("cust_region") == "ASIA")
            )
            | (
                (F.col("supp_region") == "ASIA")
                & (F.col("cust_region") == "EUROPE")
            )
        )
    )
    return (
        joined.groupBy(
            "supp_region",
            "cust_region",
            F.year("l_shipdate").cast("long").alias("yr"),
        )
        .agg(
            dec_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
        .orderBy("supp_region", "cust_region", "yr")
    )


QUERIES["q_volume_shipping"] = q_volume_shipping
ORACLES["q_volume_shipping"] = """
    select r1.r_name as supp_region, r2.r_name as cust_region,
           year(l_shipdate)::bigint as yr,
           cast(cast(sum(cast(l_extendedprice * (1 - l_discount)
                as decimal(18,6))) as varchar) as double) as revenue,
           count(*)::bigint as n_lines
    from lineitem
    join orders on l_orderkey = o_orderkey
    join customer on o_custkey = c_custkey
    join supplier on l_suppkey = s_suppkey
    join nation n1 on s_nationkey = n1.n_nationkey
    join region r1 on n1.n_regionkey = r1.r_regionkey
    join nation n2 on c_nationkey = n2.n_nationkey
    join region r2 on n2.n_regionkey = r2.r_regionkey
    where ((r1.r_name = 'EUROPE' and r2.r_name = 'ASIA')
           or (r1.r_name = 'ASIA' and r2.r_name = 'EUROPE'))
      and l_shipdate >= timestamp '1995-01-01'
      and l_shipdate < timestamp '1997-01-01'
    group by 1, 2, 3
    order by 1, 2, 3
"""


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: one nation's market share of a part type inside a
    consuming region, by order year — the share-of-conditional-sum
    shape (sum(CASE supplier-nation)/sum(all)). Six joins: bounded
    nation/region broadcast (aliased per role), part carries the
    ``p_type`` pushdown and scales with the fact — unhinted, as do
    orders/customer/supplier. Both sums ride the house decimal(18,6)
    per-row-rounded discipline; the share divides the two exact sums
    as doubles in one fixed operand order (oracle routes the decimals
    ::varchar::double first). NATION_7's STANDARD sales into ASIA are
    genuinely zero at sf0.001 — share 0.0, not a degenerate plan."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount",
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        )
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_type") == "STANDARD")
        .select("p_partkey")
    )
    nat = _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_nations = (
        nat.join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select(F.col("n_nationkey").alias("cn_key"))
    )
    supp_nation = nat.select(
        F.col("n_nationkey").alias("sn_key"),
        F.col("n_name").alias("supp_nation"),
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    zero = F.lit(0).cast("decimal(18,6)")
    per_year = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(asia_nations), F.col("c_nationkey") == F.col("cn_key"))
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").cast("long").alias("yr"))
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_7", rev).otherwise(zero)
            ).alias("__nat"),
            F.sum(rev).alias("__tot"),
        )
    )
    nat_d = F.col("__nat").cast("double")
    tot_d = F.col("__tot").cast("double")
    return per_year.select(
        "yr",
        nat_d.alias("nation_rev"),
        tot_d.alias("total_rev"),
        (nat_d / F.nullif(tot_d, F.lit(0.0))).alias("mkt_share"),
    ).orderBy("yr")


QUERIES["q_market_share"] = q_market_share
ORACLES["q_market_share"] = """
    with sales as (
        select year(o_orderdate)::bigint as yr,
               cast(l_extendedprice * (1 - l_discount) as decimal(18,6))
                   as rev,
               n1.n_name as supp_nation
        from lineitem
        join part on p_partkey = l_partkey and p_type = 'STANDARD'
        join orders on l_orderkey = o_orderkey
        join customer on o_custkey = c_custkey
        join nation n2 on c_nationkey = n2.n_nationkey
        join region on n2.n_regionkey = r_regionkey and r_name = 'ASIA'
        join supplier on l_suppkey = s_suppkey
        join nation n1 on s_nationkey = n1.n_nationkey
        where o_orderdate >= timestamp '1995-01-01'
          and o_orderdate < timestamp '1997-01-01'
    ),
    agg as (
        select yr,
               cast(cast(sum(case when supp_nation = 'NATION_7' then rev
                                  else cast(0 as decimal(18,6)) end)
                    as varchar) as double) as nation_rev,
               cast(cast(sum(rev) as varchar) as double) as total_rev
        from sales group by yr
    )
    select yr, nation_rev, total_rev,
           nation_rev / nullif(total_rev, 0.0) as mkt_share
    from agg order by yr
"""


def q_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand return odds ratio vs the rest of the catalog — the
    2x2 effect-size companion to q_return_rate_by_brand_month's point
    rates and q_proportion_ztest's significance (an OR of 1.1 on 1e11
    lines is 'significant' and still ignorable; the OR is what ranks
    brands for quality triage). One unhinted lineitem x part join,
    one 25-row grouped aggregate of exact integer cells; the
    complement cells subtract from the one-row global totals
    (broadcast by construction). The ratio itself is one fixed IEEE
    sequence over exact counts — products up to (1e12)² sit well
    inside double range — with a nullif guard for brands with zero
    non-returned or zero complement-returned lines."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        (F.col("l_returnflag") == "R").cast("int").alias("r"),
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    cells = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum("r").cast("long").alias("a_ret"),
            F.sum(1 - F.col("r")).cast("long").alias("b_not"),
        )
    )
    tot = cells.agg(
        F.sum("a_ret").cast("long").alias("ta"),
        F.sum("b_not").cast("long").alias("tb"),
    )
    a_d = F.col("a_ret").cast("double")
    b_d = F.col("b_not").cast("double")
    c_d = F.col("c_ret").cast("double")
    d_d = F.col("d_not").cast("double")
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "p_brand",
            "a_ret",
            "b_not",
            (F.col("ta") - F.col("a_ret")).alias("c_ret"),
            (F.col("tb") - F.col("b_not")).alias("d_not"),
        )
        .select(
            "p_brand",
            "a_ret",
            "b_not",
            "c_ret",
            "d_not",
            (
                (a_d * d_d) / F.nullif(b_d * c_d, F.lit(0.0))
            ).alias("odds_ratio"),
        )
        .orderBy("p_brand")
    )


QUERIES["q_odds_ratio"] = q_odds_ratio
ORACLES["q_odds_ratio"] = """
    with cells as (
        select p_brand,
               sum(case when l_returnflag = 'R' then 1 else 0
                   end)::bigint as a_ret,
               sum(case when l_returnflag <> 'R' then 1 else 0
                   end)::bigint as b_not
        from lineitem join part on p_partkey = l_partkey
        group by p_brand
    ),
    tot as (
        select sum(a_ret)::bigint as ta, sum(b_not)::bigint as tb
        from cells
    )
    select p_brand, a_ret, b_not,
           (ta - a_ret)::bigint as c_ret,
           (tb - b_not)::bigint as d_not,
           (a_ret::double * (tb - b_not)::double)
           / nullif(b_not::double * (ta - a_ret)::double, 0.0)
               as odds_ratio
    from cells, tot
    order by p_brand
"""


def q_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson serial-correlation statistic over the monthly
    revenue series (deviations from the series mean — the residuals of
    the intercept-only model): d = Σ(e_t − e_{t−1})² / Σe_t², the
    is-my-trend-model-missing-autocorrelation readout next to
    q_autocorr's lag-1 coefficient. The mean never materializes as a
    float: deviations are scaled to exact integers ``e = n·x − S``
    (decimal(38,0) — month cents ~2e16 at 100 TB make n·x ~1.6e18,
    within long but only 5x margin, so the decimal path), squares
    ~1e32 stay inside decimal(38,0), and the single division is
    IEEE-exact over two correctly-rounded doubles. The lag window
    orders the BOUNDED month domain (~80 values — audit-registered
    calendar key 'm'); everything upstream is one partial-agg shuffle
    of orders."""
    monthly = (
        _t(spark, sf_dir, "orders")
        .select(
            F.date_trunc("month", F.col("o_orderdate")).alias("m"),
            "o_totalprice",
        )
        .groupBy("m")
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
                .cast("long")
            )
            .cast("long")
            .alias("x")
        )
    )
    stats = monthly.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("s"),
    )
    dev = monthly.crossJoin(F.broadcast(stats)).select(
        "m",
        "n",
        (
            F.col("n").cast("decimal(38,0)") * F.col("x") - F.col("s")
        ).alias("e"),
    )
    w = Window.orderBy("m")
    lagged = dev.select(
        "n", "e", F.lag("e").over(w).alias("e_prev")
    )
    agg = lagged.agg(
        F.max("n").alias("n_months"),
        F.sum(
            F.when(
                F.col("e_prev").isNotNull(),
                (F.col("e") - F.col("e_prev"))
                * (F.col("e") - F.col("e_prev")),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("__num"),
        F.sum(F.col("e") * F.col("e")).alias("__den"),
    )
    num_d = F.col("__num").cast("double")
    den_d = F.col("__den").cast("double")
    return agg.select(
        "n_months",
        num_d.alias("num"),
        den_d.alias("den"),
        (num_d / F.nullif(den_d, F.lit(0.0))).alias("dw"),
    )


QUERIES["q_durbin_watson"] = q_durbin_watson
ORACLES["q_durbin_watson"] = """
    with monthly as (
        select date_trunc('month', o_orderdate) as m,
               sum(floor(o_totalprice * 100.0 + 0.5)::bigint)::bigint as x
        from orders group by 1
    ),
    stats as (select count(*)::bigint as n, sum(x)::bigint as s
              from monthly),
    dev as (
        select m, n, (n * x - s)::hugeint as e
        from monthly, stats
    ),
    lagged as (
        select n, e, lag(e) over (order by m) as e_prev from dev
    ),
    agg as (
        select max(n) as n_months,
               sum(case when e_prev is not null
                        then (e - e_prev) * (e - e_prev)
                        else 0::hugeint end)::varchar::double as num,
               sum(e * e)::varchar::double as den
        from lagged
    )
    select n_months, num, den, num / nullif(den, 0.0) as dw from agg
"""


# ---------------------------------------------------------------------------
# round-11 batch 6: ordinal association (Goodman-Kruskal gamma), repeated
# binary outcomes (Cochran's Q), duplicate-ngram coverage (Lee et al.'s
# substring-dedup readout), partial correlation, and edit-distance-verified
# near-dup pairs (the Levenshtein rung on LSH-blocked candidates).
# ---------------------------------------------------------------------------


def q_gamma_concordance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodman-Kruskal gamma between discount level (11 ordinal values)
    and quantity band (5 ordinal bands) — the ordinal-association
    companion to q_cramers_v's nominal V (does a deeper discount MOVE
    quantity, monotonically?). Concordant/discordant pair counts come
    from the 55-cell contingency table squared against itself — both
    sides of that join are domain-bounded aggregates (audit-registered
    'd'/'qb'), so the pair space is 55x55 REGARDLESS of fact size; the
    fact contributes one map-side-combined count pass. Cell products
    overflow long at ~1e10 rows per cell, so conc/disc accumulate in
    decimal(38,0) and publish as correctly-rounded doubles (oracle
    routes its hugeints ::varchar::double); gamma is one guarded IEEE
    division."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_discount") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("d"),
        # l_quantity is DOUBLE in some testdata vintages — cast before div
        F.expr("(cast(l_quantity as bigint) - 1) div 10").alias("qb"),
    )
    cells = li.groupBy("d", "qb").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    c1 = cells.select(
        F.col("d").alias("d1"), F.col("qb").alias("qb1"),
        F.col("n").alias("n1"),
    )
    c2 = cells.select(
        F.col("d").alias("d2"), F.col("qb").alias("qb2"),
        F.col("n").alias("n2"),
    )
    prod = (F.col("n1").cast("decimal(38,0)") * F.col("n2")).alias("p")
    zero = F.lit(0).cast("decimal(38,0)")
    cd = (
        c1.crossJoin(F.broadcast(c2))
        .agg(
            F.sum(
                F.when(
                    (F.col("d2") > F.col("d1")) & (F.col("qb2") > F.col("qb1")),
                    F.col("n1").cast("decimal(38,0)") * F.col("n2"),
                ).otherwise(zero)
            ).alias("__conc"),
            F.sum(
                F.when(
                    (F.col("d2") > F.col("d1")) & (F.col("qb2") < F.col("qb1")),
                    F.col("n1").cast("decimal(38,0)") * F.col("n2"),
                ).otherwise(zero)
            ).alias("__disc"),
        )
    )
    conc_d = F.col("__conc").cast("double")
    disc_d = F.col("__disc").cast("double")
    return cd.select(
        conc_d.alias("conc"),
        disc_d.alias("disc"),
        (
            (conc_d - disc_d) / F.nullif(conc_d + disc_d, F.lit(0.0))
        ).alias("gamma"),
    )


QUERIES["q_gamma_concordance"] = q_gamma_concordance
ORACLES["q_gamma_concordance"] = """
    with cells as (
        select floor(l_discount * 100 + 0.5)::bigint as d,
               ((l_quantity::bigint - 1) // 10)::bigint as qb,
               count(*)::bigint as n
        from lineitem group by 1, 2
    ),
    cd as (
        select sum(case when c2.d > c1.d and c2.qb > c1.qb
                        then c1.n::hugeint * c2.n else 0::hugeint
                   end)::varchar::double as conc,
               sum(case when c2.d > c1.d and c2.qb < c1.qb
                        then c1.n::hugeint * c2.n else 0::hugeint
                   end)::varchar::double as disc
        from cells c1, cells c2
    )
    select conc, disc,
           (conc - disc) / nullif(conc + disc, 0.0) as gamma
    from cd
"""


def q_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q for repeated binary outcomes: did each part's
    'had a return' flag stay homogeneous across 1995/1996/1997? The
    k=3 generalization of q_mcnemar_test's 2x2 (blocks = parts with
    lines in all three years — complete blocks only, per the test's
    definition). Everything is exact integers from two grouped passes
    over lineitem (per-(part,year) max flag, then per-part row sums
    pivoted by conditional aggregation — part count scales with the
    fact, both passes are map-side-combined equi-shuffles); Q itself is
    one fixed IEEE sequence over the six published cells with a nullif
    guard for the degenerate all-rows-equal board."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    flags = (
        li.select(
            "l_partkey",
            F.year("l_shipdate").cast("long").alias("yr"),
            (F.col("l_returnflag") == "R").cast("long").alias("r"),
        )
        .groupBy("l_partkey", "yr")
        .agg(F.max("r").alias("x"))
    )
    blocks = (
        flags.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_years"),
            F.sum(F.when(F.col("yr") == 1995, F.col("x")).otherwise(0))
            .cast("long")
            .alias("x95"),
            F.sum(F.when(F.col("yr") == 1996, F.col("x")).otherwise(0))
            .cast("long")
            .alias("x96"),
            F.sum(F.when(F.col("yr") == 1997, F.col("x")).otherwise(0))
            .cast("long")
            .alias("x97"),
        )
        .filter(F.col("n_years") == 3)
    )
    row_sum = F.col("x95") + F.col("x96") + F.col("x97")
    cells = blocks.agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum("x95").cast("long").alias("c1"),
        F.sum("x96").cast("long").alias("c2"),
        F.sum("x97").cast("long").alias("c3"),
        F.sum(row_sum).cast("long").alias("sum_r"),
        F.sum(row_sum * row_sum).cast("long").alias("sum_r2"),
    )
    c1d, c2d, c3d = (F.col(c).cast("double") for c in ("c1", "c2", "c3"))
    srd = F.col("sum_r").cast("double")
    sr2d = F.col("sum_r2").cast("double")
    return cells.select(
        "n_blocks", "c1", "c2", "c3", "sum_r", "sum_r2",
        (
            (
                F.lit(2.0)
                * (
                    F.lit(3.0) * (c1d * c1d + c2d * c2d + c3d * c3d)
                    - srd * srd
                )
            )
            / F.nullif(F.lit(3.0) * srd - sr2d, F.lit(0.0))
        ).alias("q_stat"),
    )


QUERIES["q_cochran_q"] = q_cochran_q
ORACLES["q_cochran_q"] = """
    with flags as (
        select l_partkey, year(l_shipdate)::bigint as yr,
               max(case when l_returnflag = 'R' then 1 else 0
                   end)::bigint as x
        from lineitem
        where l_shipdate >= timestamp '1995-01-01'
          and l_shipdate < timestamp '1998-01-01'
        group by 1, 2
    ),
    blocks as (
        select l_partkey,
               sum(case when yr = 1995 then x else 0 end)::bigint as x95,
               sum(case when yr = 1996 then x else 0 end)::bigint as x96,
               sum(case when yr = 1997 then x else 0 end)::bigint as x97
        from flags group by l_partkey having count(*) = 3
    ),
    cells as (
        select count(*)::bigint as n_blocks,
               sum(x95)::bigint as c1, sum(x96)::bigint as c2,
               sum(x97)::bigint as c3,
               sum(x95 + x96 + x97)::bigint as sum_r,
               sum((x95 + x96 + x97) * (x95 + x96 + x97))::bigint as sum_r2
        from blocks
    )
    select n_blocks, c1, c2, c3, sum_r, sum_r2,
           (2.0 * (3.0 * (c1::double * c1::double + c2::double * c2::double
                          + c3::double * c3::double)
                   - sum_r::double * sum_r::double))
           / nullif(3.0 * sum_r::double - sum_r2::double, 0.0) as q_stat
    from cells
"""


def q_dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-8-gram coverage per source — the Lee et al.
    ('Deduplicating Training Data Makes Language Models Better')
    substring-duplication readout: what fraction of each source's
    distinct document 8-grams also appear in at least one OTHER
    document. Exact-dedup (q_dedup_exact) misses these partial
    overlaps; this measures the mass the n-gram rung would remove.
    The exploded (doc, gram) relation feeds TWO consumers (gram doc
    frequency; the per-source rollup), so it materializes once to a
    parquet artifact (the materialized_signatures discipline — without
    it Spark re-runs tokenize->shingle->explode per reference). Both
    aggregates are map-side-combined equi-shuffles on high-cardinality
    keys; coverage is an exact integer ppm (n_grams ~1e12 at 100 TB
    keeps n*1e6 inside long)."""
    from .functions import text as TX

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", TX.tokens(F.col("text")).alias("__toks")
    )
    grams = toks.select(
        "doc_id",
        "source",
        F.explode(
            F.array_distinct(TX.shingles_of(F.col("__toks"), 8))
        ).alias("gram"),
    )
    path = _tmp_path("dup_ngram_coverage_grams")
    grams.write.mode("overwrite").parquet(path)
    grams = spark.read.parquet(path)
    gram_df = grams.groupBy("gram").agg(
        F.countDistinct("doc_id").cast("long").alias("nd")
    )
    return (
        grams.join(gram_df, "gram")
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum((F.col("nd") >= 2).cast("long"))
            .cast("long")
            .alias("n_dup_grams"),
        )
        .select(
            "source",
            "n_docs",
            "n_grams",
            "n_dup_grams",
            F.expr("n_dup_grams * 1000000 div n_grams").alias(
                "dup_coverage_ppm"
            ),
        )
        .orderBy("source")
    )


QUERIES["q_dup_ngram_coverage"] = q_dup_ngram_coverage
ORACLES["q_dup_ngram_coverage"] = f"""
    with t as (select doc_id, source, {_DK_TOKENS} as w from documents),
    g as (select doc_id, source,
                 unnest(list_distinct({_DK_SHINGLES8})) as gram
          from t),
    df as (select gram, count(distinct doc_id)::bigint as nd
           from g group by gram)
    select source,
           count(distinct doc_id)::bigint as n_docs,
           count(*)::bigint as n_grams,
           sum(case when nd >= 2 then 1 else 0 end)::bigint as n_dup_grams,
           sum(case when nd >= 2 then 1 else 0 end)::bigint * 1000000
               // count(*)::bigint as dup_coverage_ppm
    from g join df using (gram)
    group by source
    order by source
"""


def q_partial_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial Pearson correlation of price and quantity CONTROLLING
    for discount — is the raw price-quantity correlation
    (q_price_quantity_corr_by_brand) just the discount lever moving
    both? One scan accumulates all ten moments as exact integers
    (price cents and discount cents half-up-rounded once; squared-sum
    magnitudes ~6e25 at 100 TB ride decimal(38,0), and the n·Σxx
    cross-terms ~3.6e37 are computed AFTER the correctly-rounded
    double conversion — the oracle routes its hugeints
    ::varchar::double per the wide-cast rule); the three pairwise r's
    and the partial r are each one fixed IEEE sequence with nullif
    guards on degenerate spreads."""
    cents = F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5)).cast(
        "long"
    )
    dpct = F.floor(F.col("l_discount") * F.lit(100.0) + F.lit(0.5)).cast(
        "long"
    )
    qty = F.col("l_quantity").cast("long")
    li = _t(spark, sf_dir, "lineitem").select(
        cents.alias("x"), qty.alias("y"), dpct.alias("z")
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = li.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec(F.col("x"))).alias("__sx"),
        F.sum(dec(F.col("y"))).alias("__sy"),
        F.sum(dec(F.col("z"))).alias("__sz"),
        F.sum(dec(F.col("x")) * F.col("x")).alias("__sxx"),
        F.sum(dec(F.col("y")) * F.col("y")).alias("__syy"),
        F.sum(dec(F.col("z")) * F.col("z")).alias("__szz"),
        F.sum(dec(F.col("x")) * F.col("y")).alias("__sxy"),
        F.sum(dec(F.col("x")) * F.col("z")).alias("__sxz"),
        F.sum(dec(F.col("y")) * F.col("z")).alias("__syz"),
    )
    n = F.col("n").cast("double")
    sx, sy, sz = (F.col(f"__s{c}").cast("double") for c in "xyz")
    sxx, syy, szz = (
        F.col(f"__s{c}{c}").cast("double") for c in "xyz"
    )
    sxy = F.col("__sxy").cast("double")
    sxz = F.col("__sxz").cast("double")
    syz = F.col("__syz").cast("double")
    rxy = (n * sxy - sx * sy) / F.nullif(
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy), F.lit(0.0)
    )
    rxz = (n * sxz - sx * sz) / F.nullif(
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * szz - sz * sz), F.lit(0.0)
    )
    ryz = (n * syz - sy * sz) / F.nullif(
        F.sqrt(n * syy - sy * sy) * F.sqrt(n * szz - sz * sz), F.lit(0.0)
    )
    withr = m.select(
        "n", rxy.alias("rxy"), rxz.alias("rxz"), ryz.alias("ryz")
    )
    return withr.select(
        "n",
        "rxy",
        "rxz",
        "ryz",
        (
            (F.col("rxy") - F.col("rxz") * F.col("ryz"))
            / F.nullif(
                F.sqrt(F.lit(1.0) - F.col("rxz") * F.col("rxz"))
                * F.sqrt(F.lit(1.0) - F.col("ryz") * F.col("ryz")),
                F.lit(0.0),
            )
        ).alias("partial_rxy_z"),
    )


QUERIES["q_partial_corr"] = q_partial_corr
ORACLES["q_partial_corr"] = """
    with m as (
        select count(*)::bigint as n,
            sum(floor(l_extendedprice*100+0.5)::bigint)
                ::varchar::double as sx,
            sum(l_quantity)::varchar::double as sy,
            sum(floor(l_discount*100+0.5)::bigint)::varchar::double as sz,
            sum(floor(l_extendedprice*100+0.5)::bigint::hugeint
                * floor(l_extendedprice*100+0.5)::bigint)
                ::varchar::double as sxx,
            sum(l_quantity::hugeint * l_quantity)::varchar::double as syy,
            sum(floor(l_discount*100+0.5)::bigint::hugeint
                * floor(l_discount*100+0.5)::bigint)
                ::varchar::double as szz,
            sum(floor(l_extendedprice*100+0.5)::bigint::hugeint
                * l_quantity)::varchar::double as sxy,
            sum(floor(l_extendedprice*100+0.5)::bigint::hugeint
                * floor(l_discount*100+0.5)::bigint)
                ::varchar::double as sxz,
            sum(l_quantity::hugeint
                * floor(l_discount*100+0.5)::bigint)
                ::varchar::double as syz
        from lineitem
    ),
    r as (
        select n,
            (n*sxy - sx*sy) / nullif(sqrt(n*sxx - sx*sx)
                * sqrt(n*syy - sy*sy), 0.0) as rxy,
            (n*sxz - sx*sz) / nullif(sqrt(n*sxx - sx*sx)
                * sqrt(n*szz - sz*sz), 0.0) as rxz,
            (n*syz - sy*sz) / nullif(sqrt(n*syy - sy*sy)
                * sqrt(n*szz - sz*sz), 0.0) as ryz
        from m
    )
    select n, rxy, rxz, ryz,
        (rxy - rxz*ryz) / nullif(sqrt(1.0 - rxz*rxz)
            * sqrt(1.0 - ryz*ryz), 0.0) as partial_rxy_z
    from r
"""


def q_edit_distance_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-verified near-duplicate pairs: LSH-blocked
    candidates confirmed by Levenshtein distance ≤ 20% of the longer
    normalized text — the character-level rung that catches small-edit
    duplicates token-Jaccard underweights (a one-character typo flips
    three word-shingles). Candidates come from the standard banding
    machinery (signatures materialized once); a completeness-preserving
    LENGTH prune ``5·|la−lb| ≤ max(la,lb)`` runs BEFORE the O(la·lb)
    Levenshtein (edit distance ≥ length difference, so nothing true is
    dropped — the PPJoin length-filter argument), keeping the quadratic
    kernel off obviously-unequal pairs. All comparisons are exact
    integers; both engines implement textbook Levenshtein."""
    from .operators.dedup import lsh_candidate_pairs, materialized_signatures

    docs = _t(spark, sf_dir, "documents")
    sigs = materialized_signatures(
        docs, "doc_id", "text", path=_tmp_path("edit_dedup_sigs")
    )
    cand = lsh_candidate_pairs(sigs, "doc_id")
    norm = docs.select(
        "doc_id",
        F.regexp_replace(
            F.trim(F.lower(F.col("text"))), r"\s+", " "
        ).alias("nt"),
    )
    na = norm.select(
        F.col("doc_id").alias("a"), F.col("nt").alias("nta")
    )
    nb = norm.select(
        F.col("doc_id").alias("b"), F.col("nt").alias("ntb")
    )
    la = F.length("nta").cast("long")
    lb = F.length("ntb").cast("long")
    return (
        cand.join(na, "a")
        .join(nb, "b")
        .filter(
            F.lit(5) * F.abs(la - lb) <= F.greatest(la, lb)
        )
        .select(
            "a",
            "b",
            la.alias("la"),
            lb.alias("lb"),
            F.levenshtein("nta", "ntb").cast("long").alias("edit_dist"),
        )
        .filter(F.lit(5) * F.col("edit_dist") <= F.greatest(
            F.col("la"), F.col("lb")
        ))
        .orderBy("a", "b")
    )


QUERIES["q_edit_distance_dedup"] = q_edit_distance_dedup
ORACLES["q_edit_distance_dedup"] = f"""
    with {_DK_LSH_PAIR_CTES},
    norm as (
        select doc_id,
               regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') as nt
        from documents
    ),
    verified as (
        select a, b, len(na.nt)::bigint as la, len(nb.nt)::bigint as lb,
               levenshtein(na.nt, nb.nt)::bigint as edit_dist
        from cand
        join norm na on na.doc_id = a
        join norm nb on nb.doc_id = b
        where 5 * abs(len(na.nt) - len(nb.nt))
              <= greatest(len(na.nt), len(nb.nt))
    )
    select a, b, la, lb, edit_dist from verified
    where 5 * edit_dist <= greatest(la, lb)
    order by a, b
"""


# ---------------------------------------------------------------------------
# round-11 batch 7: reciprocal-kNN pairs, cross-language near-dups,
# prefix-boilerplate clusters, MAP-typed column functions, and BM25
# lexical retrieval (rows-only: ln() idf ulps are libm-specific).
# ---------------------------------------------------------------------------


def q_mutual_knn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-kNN pairs within label blocks: (a, b) where each is in
    the other's cosine top-5 — the mutual-nearest-neighbor gate used to
    seed high-precision dedup clusters and mine translation pairs (a
    one-way top-k hit is often a hub vector; reciprocity filters hubs).
    Neighbors are computed WITHIN label cells (the SemDeDup shape:
    block-bounded equi-join, never all-pairs across the corpus — at 100
    TB the blocks are IVF cells; labels stand in here, 10 bounded
    values). The ranked relation materializes once to parquet before
    the reciprocity self-join (the materialized_signatures discipline —
    otherwise Spark re-runs the full similarity pipeline per side).
    sim is the double fold, bit-identical cross-engine."""
    emb = _t(spark, sf_dir, "embeddings")
    from .functions.vectors import dot, norm

    # norms fold ONCE per vector here instead of once per PAIR inside
    # cosine() — 3 array folds per pair drop to 1 (the folds are
    # interpreted, not codegen'd; measured 11.4 s -> ~4 s at sf0.1).
    # Values are bit-identical: same left-to-right fold, same operands.
    withn = emb.select(
        "label", "vec_id", "embedding", norm(F.col("embedding")).alias("nrm")
    )
    a = withn.select(
        "label", F.col("vec_id").alias("qa"),
        F.col("embedding").alias("va"), F.col("nrm").alias("na"),
    )
    b = withn.select(
        F.col("label").alias("lb"), F.col("vec_id").alias("qb"),
        F.col("embedding").alias("vb"), F.col("nrm").alias("nb"),
    )
    # score each UNORDERED pair once and explode both orientations
    # (r15): sim is bit-identical under operand swap — zip_with's x*y
    # is IEEE-commutative elementwise, the fold order is the array
    # index order on both sides, and na*nb == nb*na — so the qa<qb
    # half-join does half the interpreted fold work the qa!=qb full
    # join paid, and the directed stream the window ranks is the same
    # multiset of rows.
    half = (
        a.join(b, (F.col("label") == F.col("lb")) & (F.col("qa") < F.col("qb")))
        .select(
            "label", "qa", "qb",
            (
                dot(F.col("va"), F.col("vb"))
                / (F.col("na") * F.col("nb"))
            ).alias("sim"),
        )
    )
    scored = half.select(
        "label",
        F.explode(
            F.array(
                F.struct(F.col("qa"), F.col("qb")),
                F.struct(F.col("qb").alias("qa"), F.col("qa").alias("qb")),
            )
        ).alias("__p"),
        "sim",
    ).select("label", "__p.qa", "__p.qb", "sim")
    w = Window.partitionBy("label", "qa").orderBy(
        F.col("sim").desc(), F.col("qb")
    )
    ranked = scored.withColumn(
        "rk", F.row_number().over(w).cast("long")
    ).filter(F.col("rk") <= 5)
    path = _tmp_path("mutual_knn_ranked")
    ranked.write.mode("overwrite").parquet(path)
    ranked = spark.read.parquet(path)
    fwd = ranked.select(
        "label", F.col("qa").alias("a"), F.col("qb").alias("b"),
        F.col("sim").alias("sim"), F.col("rk").alias("rank_ab"),
    ).filter(F.col("a") < F.col("b"))
    rev = ranked.select(
        F.col("qa").alias("b2"), F.col("qb").alias("a2"),
        F.col("rk").alias("rank_ba"),
    )
    return (
        fwd.join(
            rev, (F.col("a") == F.col("a2")) & (F.col("b") == F.col("b2"))
        )
        .select("label", "a", "b", "sim", "rank_ab", "rank_ba")
        .orderBy("label", "a", "b")
    )


QUERIES["q_mutual_knn_pairs"] = q_mutual_knn_pairs
ORACLES["q_mutual_knn_pairs"] = f"""
    with scored as (
        select a.label, a.vec_id as qa, b.vec_id as qb,
               {_dk_cosine('a.embedding', 'b.embedding')} as sim
        from embeddings a join embeddings b
          on a.label = b.label and a.vec_id != b.vec_id
    ),
    ranked as (
        select * from (
            select label, qa, qb, sim,
                   row_number() over (partition by label, qa
                                      order by sim desc, qb) as rk
            from scored
        ) where rk <= 5
    )
    select f.label, f.qa as a, f.qb as b, f.sim,
           f.rk::bigint as rank_ab, r.rk::bigint as rank_ba
    from ranked f join ranked r on f.qa = r.qb and f.qb = r.qa
    where f.qa < f.qb
    order by f.label, a, b
"""


def q_cross_lang_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-language near-duplicate census: verified MinHash pairs
    (Jaccard ≥ 0.5, the q_minhash_lsh_pairs pair set) whose two
    documents carry DIFFERENT language labels, grouped by the language
    pair — the translation/mislabel detector (a near-identical token
    stream under two lang tags is either a lang-ID error to fix or a
    translation pair to mine; both matter to a multilingual training
    mix). Reuses the banding machinery end-to-end — signatures
    materialized once, candidate join on band value vectors — plus two
    bounded lang lookups; the group-by domain is ≤ lang² (25)."""
    from .operators.dedup import minhash_near_duplicates

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(
        docs, "doc_id", "text", threshold=0.5,
        sig_path=_tmp_path("cross_lang_sigs"),
    ).select("a", "b")
    la = docs.select(F.col("doc_id").alias("a"), F.col("lang").alias("lang_a"))
    lb = docs.select(F.col("doc_id").alias("b"), F.col("lang").alias("lang_b"))
    return (
        pairs.join(la, "a")
        .join(lb, "b")
        .filter(F.col("lang_a") != F.col("lang_b"))
        .groupBy("lang_a", "lang_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .orderBy("lang_a", "lang_b")
    )


QUERIES["q_cross_lang_neardup"] = q_cross_lang_neardup
ORACLES["q_cross_lang_neardup"] = f"""
    with {_DK_LSH_PAIR_CTES}
    select da.lang as lang_a, db.lang as lang_b,
           count(*)::bigint as n_pairs
    from pairs
    join documents da on da.doc_id = a
    join documents db on db.doc_id = b
    where da.lang != db.lang
    group by 1, 2
    order by 1, 2
"""


def q_doc_prefix_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-prefix boilerplate clusters: documents whose normalized
    first 64 characters are identical — the cheap header/template
    detector that catches near-dups whose TAILS diverge (full-text
    fingerprints miss them; shingle Jaccard pays a quadratic verify for
    what one prefix hash-group finds). One map-side-combined aggregate
    on the prefix key — at 100 TB this is exactly the q_dedup_exact
    shuffle shape with a 64-char key."""
    docs = _t(spark, sf_dir, "documents")
    pfx = F.substring(
        F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " "), 1, 64
    )
    return (
        docs.select("doc_id", "source", pfx.alias("pfx"))
        .groupBy("pfx")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("source").cast("long").alias("n_sources"),
            F.min("doc_id").cast("long").alias("rep_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), "pfx")
    )


QUERIES["q_doc_prefix_dup"] = q_doc_prefix_dup
ORACLES["q_doc_prefix_dup"] = """
    select substr(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'),
                  1, 64) as pfx,
           count(*)::bigint as n_docs,
           count(distinct source)::bigint as n_sources,
           min(doc_id)::bigint as rep_doc
    from documents
    group by pfx having count(*) >= 2
    order by n_docs desc, pfx
"""


def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP-typed column surface: per-customer order counts pivot into a
    MAP<priority, count> via map_from_entries(collect_list(struct)),
    then read back with element_at / map_keys / aggregate-over-
    map_values — the complete map round-trip (q_array_funcs' sibling;
    the reference's notebooks never touch maps, but any semi-structured
    gold layer does). The map is per-customer and ≤ 5 entries (priority
    domain), so collect_list is bounded by construction; results are
    pure counts, so the oracle computes the same relational readout
    without the map detour (the map machinery is the Spark surface
    under test, not the semantics)."""
    per = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    mapped = per.groupBy("o_custkey").agg(
        F.map_from_entries(
            F.sort_array(
                F.collect_list(F.struct("o_orderpriority", "cnt"))
            )
        ).alias("m")
    )
    return mapped.select(
        "o_custkey",
        F.size(F.map_keys(F.col("m"))).cast("long").alias("n_priorities"),
        F.coalesce(
            F.element_at(F.col("m"), "1-URGENT"), F.lit(0).cast("long")
        ).alias("urgent_cnt"),
        F.aggregate(
            F.map_values(F.col("m")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("total_orders"),
    ).orderBy("o_custkey")


QUERIES["q_map_funcs"] = q_map_funcs
ORACLES["q_map_funcs"] = """
    select o_custkey,
           count(distinct o_orderpriority)::bigint as n_priorities,
           sum(case when o_orderpriority = '1-URGENT' then 1 else 0
               end)::bigint as urgent_cnt,
           count(*)::bigint as total_orders
    from orders
    group by o_custkey
    order by o_custkey
"""


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval: top-20 documents for a fixed three-term
    query (k1=1.2, b=0.75) — the sparse-retrieval baseline every
    RAG/training-data search stack ships next to its dense
    (q_cosine_topk) rung. Shapes: one token explode filtered to the
    query terms (semi-join against a 3-literal set — the scan prunes to
    matching tokens before any shuffle), per-(doc,term) tf, per-term df
    as a 3-row broadcast, and corpus scalars (N, avgdl) as a 1-row
    broadcast; the score is JVM expressions end-to-end. ROWS-ONLY: the
    idf's ln() is libm-specific in its last ulp, so cross-engine hashes
    can't be pinned — tests/test_round11.py pins scores against a pure-
    Python reference at 1e-9 and the ranking exactly."""
    from .functions import text as TX

    terms = ["data", "model", "training"]
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", TX.tokens(F.col("text")).alias("__toks")
    )
    dl = toks.select(
        "doc_id", F.size("__toks").cast("long").alias("dl")
    )
    scal = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
    )
    tf = (
        toks.select("doc_id", F.explode("__toks").alias("t"))
        .filter(F.col("t").isin(*terms))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    df_t = tf.groupBy("t").agg(
        F.countDistinct("doc_id").cast("long").alias("df")
    )
    n_d = F.col("n_docs").cast("double")
    df_d = F.col("df").cast("double")
    idf = F.log(
        F.lit(1.0) + (n_d - df_d + F.lit(0.5)) / (df_d + F.lit(0.5))
    )
    tf_d = F.col("tf").cast("double")
    avgdl = F.col("sum_dl").cast("double") / n_d
    norm = F.lit(1.2) * (
        F.lit(1.0) - F.lit(0.75) + F.lit(0.75) * F.col("dl").cast("double") / avgdl
    )
    scored = (
        tf.join(F.broadcast(df_t), "t")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(scal))
        .select(
            "doc_id",
            (idf * (tf_d * F.lit(2.2)) / (tf_d + norm)).alias("term_score"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.sum("term_score").alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )


QUERIES["q_bm25_topk"] = q_bm25_topk
# (rows-only: ln() idf — see docstring; pinned in tests/test_round11.py)


# ---------------------------------------------------------------------------
# round-11 batch 8: SQL-surface completions — LATERAL correlated top-k,
# gaps-and-islands streaks, first/nth/last_value frames, systematic
# (every-k-th) sampling on the two-phase global rank, and the bitwise
# aggregate surface.
# ---------------------------------------------------------------------------


def q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery: top-2 suppliers by account balance
    PER NATION via a correlated ORDER BY ... LIMIT in the FROM clause —
    the SQL-standard spelling of top-k-per-group (q_topk_per_group's
    window formulation is the plan both engines decorrelate it to;
    Spark rewrites the lateral limit into a per-group rank, so no
    per-nation re-scan happens). Exercises Spark 4's lateral-join
    resolution end-to-end over file-path relations; tie-break on
    s_name keeps the limit deterministic cross-engine."""
    nation_path = os.path.join(sf_dir, "nation.parquet")
    supplier_path = os.path.join(sf_dir, "supplier.parquet")
    return spark.sql(f"""
        SELECT n.n_name, s.s_name, s.s_acctbal
        FROM parquet.`{nation_path}` n,
        LATERAL (SELECT s_name, s_acctbal
                 FROM parquet.`{supplier_path}`
                 WHERE s_nationkey = n.n_nationkey
                 ORDER BY s_acctbal DESC, s_name LIMIT 2) s
        ORDER BY n.n_name, s.s_acctbal DESC, s.s_name
    """)


QUERIES["q_lateral_topk"] = q_lateral_topk
ORACLES["q_lateral_topk"] = """
    select n.n_name, s.s_name, s.s_acctbal
    from nation n,
    lateral (select s_name, s_acctbal from supplier
             where s_nationkey = n.n_nationkey
             order by s_acctbal desc, s_name limit 2) s
    order by n.n_name, s.s_acctbal desc, s.s_name
"""


def q_month_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each customer's LONGEST run of consecutive
    ordering months, rolled into a streak-length histogram — the
    classic islands pattern (month_index − row_number is constant
    within a run) that sessionize's time-gap rule can't express on a
    calendar grid. The per-customer window partitions on the
    fact-scaling key (every reducer gets whole small groups — ~80
    months max per customer bounds the partition payload); the final
    histogram key is run length, bounded by the date span."""
    om = (
        _t(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .cast("long")
            .alias("mi"),
        )
        .distinct()
    )
    w = Window.partitionBy("o_custkey").orderBy("mi")
    grp = om.select(
        "o_custkey", "mi",
        (F.col("mi") - F.row_number().over(w)).alias("g"),
    )
    runs = grp.groupBy("o_custkey", "g").agg(
        F.count(F.lit(1)).cast("long").alias("run_len")
    )
    mx = runs.groupBy("o_custkey").agg(
        F.max("run_len").cast("long").alias("max_streak")
    )
    return (
        mx.groupBy("max_streak")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
        .orderBy("max_streak")
    )


QUERIES["q_month_streaks"] = q_month_streaks
ORACLES["q_month_streaks"] = """
    with om as (
        select distinct o_custkey,
               (year(o_orderdate) * 12 + month(o_orderdate))::bigint as mi
        from orders
    ),
    grp as (
        select o_custkey, mi,
               mi - row_number() over (partition by o_custkey
                                       order by mi) as g
        from om
    ),
    runs as (
        select o_custkey, count(*)::bigint as run_len
        from grp group by o_custkey, g
    ),
    mx as (
        select o_custkey, max(run_len)::bigint as max_streak
        from runs group by o_custkey
    )
    select max_streak, count(*)::bigint as n_customers
    from mx group by max_streak order by max_streak
"""


def q_nth_value_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / nth_value / last_value frame surface: each order
    next to its customer's FIRST, SECOND, and LAST order values — the
    onboarding-trajectory readout (did the second purchase grow from
    the first; where did the customer end up). first/second ride the
    default running frame; last_value needs the explicit
    unbounded-following frame (the default frame silently returns the
    CURRENT row — the classic window-frame footgun, pinned here
    cross-engine). Values are exact half-up cents; the window
    partitions on the fact-scaling customer key."""
    cents = F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast(
        "long"
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", cents.alias("cents")
    )
    run = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    full = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first_value(F.col("cents")).over(run).alias("first_cents"),
        F.nth_value(F.col("cents"), 2).over(run).alias("second_cents"),
        F.last_value(F.col("cents")).over(full).alias("last_cents"),
    ).orderBy("o_custkey", "o_orderkey")


QUERIES["q_nth_value_window"] = q_nth_value_window
ORACLES["q_nth_value_window"] = """
    select o_custkey, o_orderkey,
           first_value(floor(o_totalprice * 100 + 0.5)::bigint)
               over w as first_cents,
           nth_value(floor(o_totalprice * 100 + 0.5)::bigint, 2)
               over w as second_cents,
           last_value(floor(o_totalprice * 100 + 0.5)::bigint) over (
               partition by o_custkey order by o_orderdate, o_orderkey
               rows between unbounded preceding and unbounded following
           ) as last_cents
    from orders
    window w as (partition by o_custkey order by o_orderdate, o_orderkey
                 rows between unbounded preceding and current row)
    order by o_custkey, o_orderkey
"""


def q_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic (every-k-th) sampling under a total order: rank all
    orders by exact value cents (two-phase global row number — range
    partitioner + partition-count-sized offset carry, NEVER a
    single-reducer sort) and keep rank ≡ 50 (mod 100) — the
    equal-probability-stratified-by-value sample that value-ordered
    QA reads demand (reservoir/hash samples lose the value
    stratification). Fully deterministic under the (cents, o_orderkey)
    total order, so the sample is reproducible across engines, runs,
    and partition layouts."""
    from .operators.relational import with_global_row_number

    cents = F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast(
        "long"
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", cents.alias("cents")
    )
    ranked = with_global_row_number(o, ["cents", "o_orderkey"], rn_col="rn")
    return (
        ranked.filter(F.col("rn") % 100 == 50)
        .select("o_orderkey", "cents", F.col("rn").cast("long").alias("rn"))
        .orderBy("rn")
    )


QUERIES["q_systematic_sample"] = q_systematic_sample
ORACLES["q_systematic_sample"] = """
    with r as (
        select o_orderkey,
               floor(o_totalprice * 100 + 0.5)::bigint as cents,
               row_number() over (
                   order by floor(o_totalprice * 100 + 0.5)::bigint,
                            o_orderkey) as rn
        from orders
    )
    select o_orderkey, cents, rn::bigint as rn
    from r where rn % 100 = 50 order by rn
"""


def q_bitmask_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate surface: fold each customer's order priorities
    into a 5-bit mask with BIT_OR(1 << priority), read it back with
    bit_count — the compact set-membership encoding used for bitmap
    rollups (one long instead of a collect_set; at 100 TB a bitmask
    merges map-side in constant space where array sets do not), plus
    the mask-histogram readout over the bounded 31-value mask domain."""
    # pyspark's shiftleft() only takes a literal shift amount — the SQL
    # form takes a column expression
    prio_bit = F.expr(
        "shiftleft(1, cast(substring(o_orderpriority, 1, 1) as int) - 1)"
    )
    per_cust = (
        _t(spark, sf_dir, "orders")
        .select("o_custkey", prio_bit.alias("pb"))
        .groupBy("o_custkey")
        .agg(F.expr("bit_or(pb)").cast("long").alias("prio_mask"))
        .select(
            "o_custkey",
            "prio_mask",
            F.bit_count("prio_mask").cast("long").alias("n_prios"),
        )
    )
    return (
        per_cust.groupBy("prio_mask", "n_prios")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
        .orderBy("prio_mask")
    )


QUERIES["q_bitmask_rollup"] = q_bitmask_rollup
ORACLES["q_bitmask_rollup"] = """
    with per_cust as (
        select o_custkey,
               bit_or(1 << (o_orderpriority[1]::int - 1))::bigint
                   as prio_mask
        from orders group by o_custkey
    )
    select prio_mask,
           bit_count(prio_mask)::bigint as n_prios,
           count(*)::bigint as n_customers
    from per_cust
    group by prio_mask
    order by prio_mask
"""


# ---------------------------------------------------------------------------
# round-11 batch 9: incremental near-dup ingest, multiset set-ops,
# robust (median/IQR) scaling, rank-dependence grid, and the
# deterministic proportional mixture interleave.
# ---------------------------------------------------------------------------


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup ingest: an INCOMING batch (deterministic
    1/3 id-hash split) checked against the EXISTING corpus only —
    the production shape of snapshot dedup, where base×base pairs were
    settled in a previous run and the new batch must never trigger
    them again. The banding join is ASYMMETRIC (incoming bands probe
    base bands; at 100 TB the base side's signatures are the persisted
    artifact and only the incoming slice is re-hashed), then the
    standard Jaccard verify at 0.5. Signatures for the full corpus
    materialize once; the split is the reproducible id-hash (never
    rand())."""
    from .functions import text as TX
    from .operators.dedup import jaccard_pairs, materialized_signatures

    docs = _t(spark, sf_dir, "documents")
    sigs = materialized_signatures(
        docs, "doc_id", "text", path=_tmp_path("inc_dedup_sigs")
    )
    is_inc = TX.hash32(F.col("doc_id").cast("string")) % 3 == 0
    r = 2  # 8 minhashes -> 4 bands of 2
    band_cols = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.array(F.col(f"mh{b * r}"), F.col(f"mh{b * r + 1}")).alias(
                "bucket"
            ),
        )
        for b in range(4)
    ]
    buckets = sigs.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bb")
    ).select("doc_id", "bb.band_id", "bb.bucket", is_inc.alias("is_inc"))
    inc = buckets.filter(F.col("is_inc")).select(
        F.col("doc_id").alias("a"), "band_id", "bucket"
    )
    base = buckets.filter(~F.col("is_inc")).select(
        F.col("doc_id").alias("b"),
        F.col("band_id").alias("band_b"),
        F.col("bucket").alias("bucket_b"),
    )
    cand = (
        inc.join(
            base,
            (F.col("band_id") == F.col("band_b"))
            & (F.col("bucket") == F.col("bucket_b")),
        )
        .select("a", "b")
        .distinct()
    )
    return (
        jaccard_pairs(docs, cand, "doc_id", "text")
        .filter(F.col("jaccard") >= 0.5)
        .orderBy("a", "b")
    )


QUERIES["q_dedup_incremental"] = q_dedup_incremental
ORACLES["q_dedup_incremental"] = f"""
    with sig as ({_DK_MINHASH_SQL}),
    split as (
        select doc_id,
               ('0x' || substr(md5(doc_id::varchar), 1, 8))::bigint % 3 = 0
                   as is_inc
        from documents
    ),
    bands as (
        select doc_id, 0 as band_id, mh0 as v0, mh1 as v1 from sig
        union all select doc_id, 1, mh2, mh3 from sig
        union all select doc_id, 2, mh4, mh5 from sig
        union all select doc_id, 3, mh6, mh7 from sig
    ),
    cand as (
        select distinct i.doc_id as a, b.doc_id as b
        from bands i
        join split si on si.doc_id = i.doc_id and si.is_inc
        join bands b on b.band_id = i.band_id
                    and b.v0 = i.v0 and b.v1 = i.v1
        join split sb on sb.doc_id = b.doc_id and not sb.is_inc
    ),
    sh as (
        select doc_id, list_distinct({_DK_SHINGLES}) as sh
        from (select doc_id, {_DK_TOKENS} as w from documents)
    )
    select a, b,
           len(list_distinct(list_intersect(sa.sh, sb.sh)))::double
               / len(list_distinct(sa.sh || sb.sh)) as jaccard
    from cand
    join sh sa on sa.doc_id = a
    join sh sb on sb.doc_id = b
    where len(list_distinct(list_intersect(sa.sh, sb.sh)))::double
              / len(list_distinct(sa.sh || sb.sh)) >= 0.5
    order by a, b
"""


def q_multiset_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL / EXCEPT ALL — the MULTISET set-op semantics
    (q_intersect/q_except cover the DISTINCT forms; ALL preserves
    per-row multiplicity: min(m,n) copies for intersect, m−n copies
    for except). Spark plans both as aggregate-count + generate
    (replicate) — no distinct collapse — over the same shuffle key as
    the distinct forms. Nation keys from two customer segments give
    genuinely repeated rows, so the multiplicity semantics are load-
    bearing in the hash, not incidental."""
    cust = _t(spark, sf_dir, "customer")
    a = cust.filter(F.col("c_mktsegment") == "AUTOMOBILE").select(
        "c_nationkey"
    )
    b = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_nationkey"
    )
    return (
        a.intersectAll(b)
        .select(F.lit("intersect_all").alias("op"), "c_nationkey")
        .unionAll(
            a.exceptAll(b).select(
                F.lit("except_all").alias("op"), "c_nationkey"
            )
        )
        .orderBy("op", "c_nationkey")
    )


QUERIES["q_multiset_ops"] = q_multiset_ops
ORACLES["q_multiset_ops"] = """
    with a as (select c_nationkey from customer
               where c_mktsegment = 'AUTOMOBILE'),
    b as (select c_nationkey from customer
          where c_mktsegment = 'BUILDING')
    select 'intersect_all' as op, c_nationkey from
        (select c_nationkey from a intersect all
         select c_nationkey from b)
    union all
    select 'except_all', c_nationkey from
        (select c_nationkey from a except all
         select c_nationkey from b)
    order by op, c_nationkey
"""


def q_robust_scaler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/IQR) scaling summary per customer cohort — the
    outlier-insensitive normalization (q_minmax_scale_ppm's min/max
    collapses under one extreme value; median/IQR does not). Quartiles
    are RANK-SELECTED exact integers via the grouped two-phase row
    number; the readout publishes each cohort's quartiles plus the
    span of the scaled range as exact NON-NEGATIVE ppm ratios
    ((med−min)/IQR and (max−med)/IQR — kept one-signed because Spark's
    div truncates toward zero while DuckDB's // floors, and they
    disagree exactly on negative quotients), nullif-guarded for
    zero-IQR cohorts."""
    from .operators.relational import with_grouped_row_number

    cents = F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast(
        "long"
    )
    o = _t(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 25).cast("long").alias("cohort"),
        cents.alias("c"),
        "o_orderkey",
    )
    ranked = with_grouped_row_number(
        o, ["cohort"], ["c", "o_orderkey"], rn_col="rn", n_col="n"
    )
    q = ranked.groupBy("cohort").agg(
        F.max(
            F.when(F.col("rn") == F.expr("(n + 3) div 4"), F.col("c"))
        ).cast("long").alias("q1"),
        F.max(
            F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("c"))
        ).cast("long").alias("med"),
        F.max(
            F.when(F.col("rn") == F.expr("(3 * n + 1) div 4"), F.col("c"))
        ).cast("long").alias("q3"),
        F.min("c").cast("long").alias("c_min"),
        F.max("c").cast("long").alias("c_max"),
    )
    return q.select(
        "cohort",
        "q1",
        "med",
        "q3",
        F.expr(
            "(med - c_min) * 1000000 div nullif(q3 - q1, 0)"
        ).alias("lo_range_ppm"),
        F.expr(
            "(c_max - med) * 1000000 div nullif(q3 - q1, 0)"
        ).alias("hi_range_ppm"),
    ).orderBy("cohort")


QUERIES["q_robust_scaler"] = q_robust_scaler
ORACLES["q_robust_scaler"] = """
    with cents as (
        select (o_custkey % 25)::bigint as cohort,
               floor(o_totalprice * 100 + 0.5)::bigint as c,
               o_orderkey
        from orders
    ),
    rk as (
        select cohort, c,
               row_number() over (partition by cohort
                                  order by c, o_orderkey) as rn,
               count(*) over (partition by cohort) as n
        from cents
    ),
    q as (
        select cohort,
               max(case when rn = (n + 3) // 4 then c end)::bigint as q1,
               max(case when rn = (n + 1) // 2 then c end)::bigint as med,
               max(case when rn = (3 * n + 1) // 4 then c end)::bigint
                   as q3,
               min(c)::bigint as c_min,
               max(c)::bigint as c_max
        from rk group by cohort
    )
    select cohort, q1, med, q3,
           (med - c_min) * 1000000 // nullif(q3 - q1, 0) as lo_range_ppm,
           (c_max - med) * 1000000 // nullif(q3 - q1, 0) as hi_range_ppm
    from q order by cohort
"""


def q_rank_dependence_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-dependence (empirical copula) grid: joint decile counts of
    price rank × quantity rank — the dependence-STRUCTURE readout a
    single correlation number flattens (tail dependence, non-monotone
    association both show up as non-uniform cells). Each margin ranks
    via the two-phase global row number under a deterministic total
    order (value, orderkey, linenumber); the self-join back is an
    equi-join on the unique line key; the grid itself is a bounded
    10×10 aggregate."""
    from .operators.relational import with_global_row_number

    li = _t(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("p"),
        F.col("l_quantity").cast("long").alias("q"),
        "l_orderkey",
        "l_linenumber",
    )
    rp = with_global_row_number(
        li, ["p", "l_orderkey", "l_linenumber"], rn_col="rn", n_col="n"
    ).select("l_orderkey", "l_linenumber", "rn", "n")
    rq = with_global_row_number(
        li.select("q", "l_orderkey", "l_linenumber"),
        ["q", "l_orderkey", "l_linenumber"],
        rn_col="rnq",
    ).select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
        "rnq",
    )
    return (
        rp.join(
            rq,
            (rp.l_orderkey == rq.ok) & (rp.l_linenumber == rq.ln),
        )
        .select(
            F.expr("(10 * (rn - 1)) div n").alias("p_dec"),
            F.expr("(10 * (rnq - 1)) div n").alias("q_dec"),
        )
        .groupBy("p_dec", "q_dec")
        .agg(F.count(F.lit(1)).cast("long").alias("n_lines"))
        .orderBy("p_dec", "q_dec")
    )


QUERIES["q_rank_dependence_grid"] = q_rank_dependence_grid
ORACLES["q_rank_dependence_grid"] = """
    with r as (
        select floor(l_extendedprice * 100 + 0.5)::bigint as p,
               l_quantity::bigint as q, l_orderkey, l_linenumber
        from lineitem
    ),
    rp as (
        select l_orderkey, l_linenumber,
               row_number() over (
                   order by p, l_orderkey, l_linenumber) as rn,
               count(*) over () as n
        from r
    ),
    rq as (
        select l_orderkey, l_linenumber,
               row_number() over (
                   order by q, l_orderkey, l_linenumber) as rnq
        from r
    )
    select (10 * (rn - 1)) // n as p_dec,
           (10 * (rnq - 1)) // n as q_dec,
           count(*)::bigint as n_lines
    from rp join rq using (l_orderkey, l_linenumber)
    group by 1, 2
    order by 1, 2
"""


def q_mixture_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic proportional interleave: the global training-data
    feed order under per-source mixture weights — source s's documents
    appear every ~1e6/weight positions, so a sequential reader consumes
    the mix at the configured ratios WITHOUT a shuffled shuffle (the
    q_mixture_temperature weights decide HOW MUCH; this decides the
    ORDER, reproducibly). Position keys are exact integers
    (rank·1e6 div weight — the classic stride interleave), per-source
    ranks ride the grouped two-phase row number, and the first 200
    positions publish as the verifiable schedule head (TakeOrdered —
    no global sort)."""
    from .operators.relational import with_grouped_row_number

    rates = {"src0": 900, "src1": 700, "src2": 500, "src3": 100}
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    rate = F.coalesce(
        *[F.when(F.col("source") == s, F.lit(r)) for s, r in rates.items()],
        F.lit(300),
    )
    ranked = with_grouped_row_number(
        docs, ["source"], ["doc_id"], rn_col="rn"
    )
    # integer stride: div (not float /) so both engines truncate alike
    keyed = ranked.select(
        "doc_id", "source", "rn", rate.cast("long").alias("rate")
    ).select(
        "doc_id",
        "source",
        F.expr("rn * 1000000 div rate").alias("pos_key"),
    )
    head = keyed.orderBy("pos_key", "source", "doc_id").limit(200)
    w = Window.orderBy("pos_key", "source", "doc_id")
    return head.select(
        F.row_number().over(w).cast("long").alias("global_pos"),
        "source",
        "doc_id",
        "pos_key",
    ).orderBy("global_pos")


QUERIES["q_mixture_interleave"] = q_mixture_interleave
ORACLES["q_mixture_interleave"] = """
    with rates as (
        select * from (values ('src0', 900), ('src1', 700),
                              ('src2', 500), ('src3', 100))
            as t(source, rate)
    ),
    ranked as (
        select doc_id, d.source,
               row_number() over (partition by d.source
                                  order by doc_id) as rn,
               coalesce(r.rate, 300) as rate
        from documents d left join rates r on d.source = r.source
    ),
    keyed as (
        select doc_id, source,
               (rn * 1000000 // rate)::bigint as pos_key
        from ranked
    ),
    head as (
        select * from keyed
        order by pos_key, source, doc_id limit 200
    )
    select row_number() over (order by pos_key, source, doc_id)::bigint
               as global_pos,
           source, doc_id, pos_key
    from head
    order by global_pos
"""


def q_streaming_neardup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_dedup_incremental: the incoming 1/3 slice
    arrives as a FILE STREAM and is near-dup-checked against the static
    base corpus — the always-on ingest gate in front of a training
    store. The whole stream side is STATELESS: signatures compute
    per-row (array_min over the per-shingle universal hashes — the
    same modular math as the batch explode+groupBy MIN, value-identical,
    but with no streaming aggregation and hence no state store), bands
    explode per-row, and both the band match and the Jaccard verify are
    stream-static inner joins against the persisted base artifacts
    (signatures + hashed shingle sets — at scale, the same parquet the
    nightly batch maintains). Multi-band hits emit duplicate pairs in
    append mode; the bounded post-sink distinct collapses them. The
    oracle is the IDENTICAL SQL as q_dedup_incremental — the streaming
    execution must reproduce the batch pair set bit-for-bit."""
    import shutil

    from .functions import text as TX
    from .operators.dedup import hashed_shingle_sets, materialized_signatures

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        docs = _t(spark, sf_dir, "documents")
        base = docs.filter(
            TX.hash32(F.col("doc_id").cast("string")) % 3 != 0
        )
        base_sigs = materialized_signatures(
            base, "doc_id", "text",
            path=_tmp_path("stream_neardup_base_sigs"),
        )
        r = 2

        def band_structs():
            return [
                F.struct(
                    F.lit(bi).alias("band_id"),
                    F.array(
                        F.col(f"mh{bi * r}"), F.col(f"mh{bi * r + 1}")
                    ).alias("bucket"),
                )
                for bi in range(4)
            ]

        base_bands = (
            base_sigs.select(
                F.col("doc_id").alias("b"),
                F.explode(F.array(*band_structs())).alias("bb"),
            )
            .select(
                "b",
                F.col("bb.band_id").alias("band_b"),
                F.col("bb.bucket").alias("bucket_b"),
            )
        )
        base_sets = hashed_shingle_sets(base, "doc_id", "text").select(
            F.col("doc_id").alias("b"), F.col("sh").alias("sh_b")
        )

        stream = (
            spark.readStream.schema(docs.schema)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir)
        )
        inc = stream.filter(
            TX.hash32(F.col("doc_id").cast("string")) % 3 == 0
        )
        toks = inc.select(
            "doc_id", TX.tokens(F.col("text")).alias("__toks")
        )
        sh = toks.select(
            "doc_id", TX.shingles_of(F.col("__toks"), 3).alias("__sh")
        ).filter(F.size("__sh") > 0)
        hashed = sh.select(
            "doc_id",
            "__sh",
            F.transform("__sh", lambda s: TX.hash32(s)).alias("__h"),
        )
        def _mh_col(i: int, a: int, b: int):
            # factory binds (a, b) per hash function — a defaulted-arg
            # lambda would read as a 3-arg lambda to Spark's
            # param-introspection and fail to bind
            return F.array_min(
                F.transform(
                    "__h",
                    lambda h: (F.lit(a) * h + F.lit(b))
                    % F.lit(TX.MINHASH_PRIME),
                )
            ).alias(f"mh{i}")

        sig_cols = [
            _mh_col(i, a, b)
            for i, (a, b) in enumerate(TX.MINHASH_COEFFS)
        ]
        sigs = hashed.select(
            "doc_id",
            F.transform(
                F.array_distinct("__sh"), lambda s: F.xxhash64(s)
            ).alias("sh_a"),
            *sig_cols,
        )
        bands = (
            sigs.select(
                F.col("doc_id").alias("a"),
                "sh_a",
                F.explode(F.array(*band_structs())).alias("bb"),
            )
            .select(
                "a",
                "sh_a",
                F.col("bb.band_id").alias("band_a"),
                F.col("bb.bucket").alias("bucket_a"),
            )
        )
        cand = bands.join(
            base_bands,
            (F.col("band_a") == F.col("band_b"))
            & (F.col("bucket_a") == F.col("bucket_b")),
        )
        inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
        union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
        out = (
            cand.join(base_sets, "b")
            .select(
                "a", "b", (inter.cast("double") / union).alias("jaccard")
            )
            .filter(F.col("jaccard") >= 0.5)
        )
        name = f"engine_stream_neardup_{_RUN_TAG}"
        ckpt = _tmp_path("stream_neardup_ckpt")
        shutil.rmtree(ckpt, ignore_errors=True)
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.table(name).distinct().orderBy("a", "b")


QUERIES["q_streaming_neardup_ingest"] = q_streaming_neardup_ingest
# the streaming execution must reproduce the batch incremental pair set
# bit-for-bit, so the oracle is IDENTICAL to q_dedup_incremental's
ORACLES["q_streaming_neardup_ingest"] = ORACLES["q_dedup_incremental"]


# ---------------------------------------------------------------------------
# round-12 batch 1: incremental ANN index maintenance + driver-checked
# recall evaluation + streaming cell routing + z-order-aware compaction
# (VERDICT r11 items 3, 4, 5)
# ---------------------------------------------------------------------------


def q_ivf_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN index maintenance — the vector twin of
    q_dedup_incremental: the corpus arrives as a BASE (indexed once:
    k-means train -> save/load centroid parquet artifact ->
    build_ivf_index cell layout) plus a NEW BATCH folded in by
    operators/similarity.append_ivf_index — assigned to the EXISTING
    centroids and appended cell-wise, with no retrain and no re-scan of
    the already-indexed base. At 100 TB the corpus grows daily and
    re-clustering per batch is the scale-killer; this path touches
    |batch| rows only, and the periodic build_ivf_index rebuild resets
    centroid drift.

    The full-probe query over the appended index must be bit-identical
    to exact brute force over the WHOLE corpus (the
    q_cosine_topk_ivf_exact oracle): centroid staleness can only move
    vectors between cells, never change full-probe results, so the
    driver hash proves the append lost/duplicated/mangled nothing.
    Partial-probe recall drift under stale centroids is enveloped in
    tests/test_round12.py."""
    import shutil

    from .operators.similarity import (
        append_ivf_index,
        build_ivf_index,
        cosine_topk_ivf,
        kmeans_centroids,
        load_centroids,
        save_centroids,
    )

    emb = _t(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 7 != 0)
    batch = emb.filter(F.col("vec_id") % 7 == 0)
    cents = kmeans_centroids(base, n_centroids=8, n_iters=2)
    cpath = _tmp_path("ivf_append_cents")
    save_centroids(spark, cents, cpath)
    cents = load_centroids(spark, cpath)
    ipath = _tmp_path("ivf_append_index")
    shutil.rmtree(ipath, ignore_errors=True)
    build_ivf_index(base, cents, ipath)
    index = append_ivf_index(batch, cents, ipath)
    queries = emb.filter(F.col("vec_id") < 5)
    return cosine_topk_ivf(
        emb, queries, k=10, n_probe=8, centroids=cents, index=index
    ).orderBy("query_id", "rank")


QUERIES["q_ivf_index_append"] = q_ivf_index_append
# full probe over the appended index == exact brute force over the whole
# corpus, so the oracle is IDENTICAL to q_cosine_topk_ivf_exact's (the
# q_cosine_topk_ivf_indexed precedent)
ORACLES["q_ivf_index_append"] = ORACLES["q_cosine_topk_ivf_exact"]


def q_ivf_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintenance loop CLOSED: repeated incremental appends
    fragment the cell-partitioned index (at least one file per cell per
    batch — a year of daily appends is 365 files per cell), so the
    routine that keeps q_ivf_index_append viable at 100 TB is per-cell
    compaction — plans/compact.compact_parquet_dir pointed at each
    ``cell=`` hive directory (the partition-subdirectory routine from
    that module's docstring), bin-packing the small files back without
    touching the partition layout the query path joins on. Exercised
    end-to-end here: base build -> two appends (three file generations
    per cell) -> per-cell compaction -> full-probe query over the
    compacted index, which must remain bit-identical to exact brute
    force (the q_cosine_topk_ivf_exact oracle) — the driver hash proves
    the whole append+compact maintenance cycle preserved every vector.
    File-count collapse is pinned in tests/test_round12.py."""
    import shutil

    from .operators.similarity import (
        append_ivf_index,
        build_ivf_index,
        cosine_topk_ivf,
        kmeans_centroids,
    )
    from .plans.compact import compact_parquet_dir

    emb = _t(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 3 == 0)
    cents = kmeans_centroids(base, n_centroids=8, n_iters=2)
    ipath = _tmp_path("ivf_compact_index")
    shutil.rmtree(ipath, ignore_errors=True)
    build_ivf_index(base, cents, ipath)
    append_ivf_index(emb.filter(F.col("vec_id") % 3 == 1), cents, ipath)
    append_ivf_index(emb.filter(F.col("vec_id") % 3 == 2), cents, ipath)
    for d in sorted(os.listdir(ipath)):
        if d.startswith("cell="):
            compact_parquet_dir(spark, os.path.join(ipath, d), target_mb=128)
    index = spark.read.parquet(ipath)
    queries = emb.filter(F.col("vec_id") < 5)
    return cosine_topk_ivf(
        emb, queries, k=10, n_probe=8, centroids=cents, index=index
    ).orderBy("query_id", "rank")


QUERIES["q_ivf_index_compact"] = q_ivf_index_compact
ORACLES["q_ivf_index_compact"] = ORACLES["q_cosine_topk_ivf_exact"]


#: q_ivf_recall_eval operating point: seeded-constant centroids compiled
#: into BOTH plans as literals (the q_cosine_topk_lsh closure precedent),
#: so cell assignment, probe list, candidate set and ranking are
#: bit-reproducible cross-engine.
_IVF_EVAL_SEED = 21
_IVF_EVAL_CELLS = 16
_IVF_EVAL_PROBE = 4
_IVF_EVAL_K = 10


def q_ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall evaluation promoted to a driver-checked row (r11
    VERDICT item 4): per query, the overlap@10 of IVF-at-partial-probe
    (4 of 16 cells) against the exact brute-force top-10, plus the
    implied recall fraction. The centroids are SEEDED numpy constants
    embedded in both the Spark plan and the DuckDB oracle as literals,
    so the oracle recomputes cell assignment, the per-query probe list,
    the candidate join, both rankings and the per-query overlap count
    EXACTLY — the bench's recall claim becomes a hash-checked catalog
    row instead of a bench-only number. (The production path trains
    data-dependent centroids — kmeans_centroids — whose recall the
    bench's ann section measures; this entry pins the MEASUREMENT
    MACHINERY itself.) Overlap joins are id-equality joins on two
    bounded top-k relations; nothing here is all-pairs."""
    from .operators.similarity import _hyperplanes, cosine_topk, cosine_topk_ivf

    emb = _t(spark, sf_dir, "embeddings")
    # limit() makes the query-batch bound STRUCTURAL (the broadcast-hint
    # audit's requirement — exactly 10 ids match, so it drops no rows)
    queries = emb.filter(F.col("vec_id") < 10).limit(10)
    cents = _hyperplanes(_IVF_EVAL_CELLS, 64, seed=_IVF_EVAL_SEED)
    approx = cosine_topk_ivf(
        emb, queries, k=_IVF_EVAL_K, n_probe=_IVF_EVAL_PROBE, centroids=cents
    )
    exact = cosine_topk(emb, queries, k=_IVF_EVAL_K)
    hits = approx.select("query_id", "neighbor_id").join(
        exact.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
    )
    overlap = hits.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_overlap")
    )
    return (
        queries.select(F.col("vec_id").alias("query_id"))
        .join(overlap, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_overlap"), F.lit(0))
            .cast("long")
            .alias("n_overlap"),
            (
                F.coalesce(F.col("n_overlap"), F.lit(0)).cast("double")
                / F.lit(float(_IVF_EVAL_K))
            ).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


def _dk_ivf_recall_sql(
    n_cells: int = _IVF_EVAL_CELLS,
    dim: int = 64,
    n_probe: int = _IVF_EVAL_PROBE,
    k: int = _IVF_EVAL_K,
    seed: int = _IVF_EVAL_SEED,
) -> str:
    """DuckDB twin of q_ivf_recall_eval. The centroid dots ride the same
    sequential left-fold as _DK_COSINE (list_sum == Spark's aggregate
    fold, proven by the q_cosine_topk oracle); argmax-cell is
    first-position-of-max on bit-identical doubles in both engines; the
    probe list tie-breaks (dot desc, cell asc) exactly like Spark's
    struct sort on (-dot, index)."""
    from .operators.similarity import _hyperplanes

    cents = _hyperplanes(n_cells, dim, seed=seed)

    def dot(c) -> str:
        lits = "[" + ",".join(repr(float(x)) for x in c) + "]"
        return (
            f"list_sum(list_transform(generate_series(1, {dim}),"
            f" j -> embedding[j]::double * ({lits})[j]))"
        )

    dots_arr = "[" + ", ".join(dot(c) for c in cents) + "]"
    return f"""
        with d as (
            select vec_id, embedding, {dots_arr} as dots from embeddings
        ),
        cb as (
            select vec_id, embedding,
                   (list_position(dots, list_max(dots)) - 1) as cell
            from d
        ),
        probes as (
            select query_id, q_vec, cell from (
                select d.vec_id as query_id, d.embedding as q_vec,
                       u.i - 1 as cell,
                       row_number() over (
                           partition by d.vec_id
                           order by list_extract(d.dots, u.i) desc, u.i
                       ) as pr
                from d cross join generate_series(1, {n_cells}) as u(i)
                where d.vec_id < 10
            ) where pr <= {n_probe}
        ),
        approx as (
            select query_id, neighbor_id from (
                select p.query_id, c.vec_id as neighbor_id,
                       row_number() over (
                           partition by p.query_id
                           order by {_dk_cosine('p.q_vec', 'c.embedding')}
                                        desc,
                                    c.vec_id
                       ) as rank
                from probes p join cb c on c.cell = p.cell
                where c.vec_id != p.query_id
            ) where rank <= {k}
        ),
        exact as (
            select query_id, neighbor_id from (
                select q.vec_id as query_id, c.vec_id as neighbor_id,
                       row_number() over (
                           partition by q.vec_id
                           order by {_dk_cosine('q.embedding', 'c.embedding')}
                                        desc,
                                    c.vec_id
                       ) as rank
                from embeddings q, embeddings c
                where q.vec_id < 10 and c.vec_id != q.vec_id
            ) where rank <= {k}
        ),
        o as (
            select a.query_id, count(*) as n_overlap
            from approx a join exact e
              on e.query_id = a.query_id and e.neighbor_id = a.neighbor_id
            group by a.query_id
        )
        select q.vec_id as query_id,
               coalesce(o.n_overlap, 0)::bigint as n_overlap,
               coalesce(o.n_overlap, 0)::double / {float(k)!r} as recall_at_k
        from embeddings q
        left join o on o.query_id = q.vec_id
        where q.vec_id < 10
        order by query_id
    """


QUERIES["q_ivf_recall_eval"] = q_ivf_recall_eval
ORACLES["q_ivf_recall_eval"] = _dk_ivf_recall_sql()


#: q_streaming_ivf_assign routing table: seeded-constant centroids (the
#: same closure trick) so the in-stream cell router is oracle-checkable.
_IVF_ROUTE_SEED = 33
_IVF_ROUTE_CELLS = 8


def q_streaming_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming half of IVF index ingestion: embedding batches arrive
    as a FILE STREAM and are routed to their IVF cell in-stream — the
    always-on front of q_ivf_index_append (route in-stream, append
    cell-partitioned files, rebuild centroids offline). The router is
    STATELESS: the argmax-cell is a plan-literal centroid-dot array
    (JVM expression, per-row, no state store, no shuffle), so the
    stream scales to any ingest rate; downstream, the cell id is
    exactly the partition key the index append writes by. The oracle
    recomputes every assignment from the same literal centroids, so the
    streaming execution is hash-checked row-for-row (the
    q_streaming_neardup_ingest check class). The post-sink distinct
    collapses micro-batch replay duplicates and is bounded by the
    corpus id space."""
    import shutil

    from .operators.similarity import _centroid_dots, _hyperplanes

    cents = _hyperplanes(_IVF_ROUTE_CELLS, 64, seed=_IVF_ROUTE_SEED)
    emb_schema = _t(spark, sf_dir, "embeddings").schema
    stream = (
        spark.readStream.schema(emb_schema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sf_dir)
    )
    dots = _centroid_dots("embedding", cents)
    assigned = stream.select(
        "vec_id",
        (F.array_position(dots, F.array_max(dots)) - 1)
        .cast("long")
        .alias("cell"),
    )
    name = f"engine_stream_ivf_{_RUN_TAG}"
    ckpt = _tmp_path("stream_ivf_ckpt")
    shutil.rmtree(ckpt, ignore_errors=True)
    q = (
        assigned.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).distinct().orderBy("vec_id")


def _dk_ivf_assign_sql(
    n_cells: int = _IVF_ROUTE_CELLS, dim: int = 64, seed: int = _IVF_ROUTE_SEED
) -> str:
    from .operators.similarity import _hyperplanes

    cents = _hyperplanes(n_cells, dim, seed=seed)

    def dot(c) -> str:
        lits = "[" + ",".join(repr(float(x)) for x in c) + "]"
        return (
            f"list_sum(list_transform(generate_series(1, {dim}),"
            f" j -> embedding[j]::double * ({lits})[j]))"
        )

    dots_arr = "[" + ", ".join(dot(c) for c in cents) + "]"
    return f"""
        with d as (
            select vec_id, {dots_arr} as dots from embeddings
        )
        select vec_id,
               (list_position(dots, list_max(dots)) - 1)::bigint as cell
        from d order by vec_id
    """


QUERIES["q_streaming_ivf_assign"] = q_streaming_ivf_assign
ORACLES["q_streaming_ivf_assign"] = _dk_ivf_assign_sql()


def q_compact_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order-aware incremental compaction end-to-end (r11 VERDICT item
    5; plans/compact.zorder_compact_dir composing plans/layout.zorder_key
    with the atomic-swap protocol): the lineitem projection is
    deliberately fragmented into 24 task-sized files, compacted with
    RE-CLUSTERING on the Morton key of (l_partkey, l_suppkey) — both
    range-normalized to the 8-bit domain, file id = the analytic
    ``zkey >> 10`` tile written as a hive partition — then read BACK
    through the compacted directory. The result is the per-FILE
    data-skipping ledger: row count, min/max of the normalized suppkey
    dimension, the quantity sum, and the skippable flag for the same
    ~10% supplier-band probe as q_zorder_pruning_stats. The DuckDB
    oracle recomputes every per-file stat analytically from the source
    table, so the driver hash proves BOTH that compaction preserved
    every row/value (the q_compact_files check) AND that the min/max
    skip profile of the maintained layout matches the
    q_zorder_pruning_stats z-order profile — i.e. data-skipping
    survives maintenance, the exact property plain bin-packing
    compaction destroys. (sum over integral doubles is exact at any
    aggregation order — l_quantity is integer-valued, bounded far below
    2^53.) Scale: compaction reads/shuffles/writes only the directory
    it is pointed at; the probe side is two map-side-combined
    aggregates."""
    import shutil

    from .plans.compact import zorder_compact_dir

    src = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"
    )
    path = _tmp_path("zcompact_lineitem")
    shutil.rmtree(path, ignore_errors=True)
    src.repartition(24).write.mode("overwrite").parquet(path)
    zorder_compact_dir(
        spark, path, ["l_partkey", "l_suppkey"], bits=8, file_shift=10
    )
    back = spark.read.parquet(path)
    m = back.agg(F.max("l_suppkey").alias("ym"))
    scaled = back.crossJoin(F.broadcast(m)).select(
        F.col("zfile").cast("int").alias("zfile"),
        F.expr("(l_suppkey * 256) div (ym + 1)").alias("zy"),
        "l_quantity",
    )
    per_file = scaled.groupBy("zfile").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("zy").alias("min_zy"),
        F.max("zy").alias("max_zy"),
        F.sum("l_quantity").alias("sum_qty"),
    )
    lo, hi = 102, 127  # the scaled ~10% supplier band (q_zorder_pruning_stats)
    return per_file.select(
        "zfile",
        "n_rows",
        "min_zy",
        "max_zy",
        F.col("sum_qty").cast("double").alias("sum_qty"),
        ((F.col("max_zy") < lo) | (F.col("min_zy") > hi))
        .cast("long")
        .alias("skippable"),
    ).orderBy("zfile")


QUERIES["q_compact_zorder"] = q_compact_zorder
ORACLES["q_compact_zorder"] = f"""
    with m as (
        select max(l_partkey) as xm, max(l_suppkey) as ym from lineitem
    ),
    zxy as (
        select (l_partkey * 256) // (xm + 1) as zx,
               (l_suppkey * 256) // (ym + 1) as zy,
               l_quantity
        from lineitem cross join m
    ),
    tiles as (
        select (({_Z8_DUCK})::bigint >> 10) as zfile, zy, l_quantity
        from zxy
    )
    select zfile::int as zfile,
           count(*)::bigint as n_rows,
           min(zy)::bigint as min_zy,
           max(zy)::bigint as max_zy,
           sum(l_quantity)::double as sum_qty,
           (case when max(zy) < 102 or min(zy) > 127 then 1 else 0
            end)::bigint as skippable
    from tiles group by zfile order by zfile
"""


# ---------------------------------------------------------------------------
# ROUND 13: rows-only graduations (seeded plan-literal closures) + the
# substring-duplication rung + signature-artifact compaction
# ---------------------------------------------------------------------------

def _dk_dlit(x: float) -> str:
    """DOUBLE literal for DuckDB: a bare decimal like ``0.20544601410287402``
    lexes as DECIMAL(19,18) — 18 fractional digits, which rounds the last
    ulp away before the double conversion. Scientific notation lexes as
    DOUBLE directly, correctly rounded from the full repr — bit-identical
    to the Python/Spark literal."""
    r = repr(float(x))
    return r if ("e" in r or "E" in r) else r + "e0"


#: 64-dim fold-dot against a literal vector / squared norm — the DuckDB
#: mirrors of operators/similarity._lit_dot_sql and functions/vectors.norm
#: (list_sum == Spark's aggregate left fold, proven by the q_cosine_topk
#: oracle family).
def _dk_lit_dot(vec: str, c, dim: int = 64, off: int = 0) -> str:
    lits = "[" + ",".join(_dk_dlit(x) for x in c) + "]"
    return (
        f"list_sum(list_transform(generate_series(1, {dim}),"
        f" j -> {vec}[{off} + j]::double * ({lits})[j]))"
    )


def _dk_norm2(vec: str, dim: int = 64) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, {dim}),"
        f" j -> {vec}[j]::double * {vec}[j]::double))"
    )


def _dk_semantic_dedup_sql(
    n_cells: int = _SEMDEDUP_CELLS,
    dim: int = 64,
    threshold: float = _SEMDEDUP_THRESHOLD,
    seed: int = _SEMDEDUP_SEED,
) -> str:
    """DuckDB twin of q_semantic_dedup (its r13 graduation from
    rows-only): the seeded centroids compile into BOTH plans as
    literals, so cell argmax, centroid cosine, the within-cell pair
    scan, the loser rule ((cc, id) total order) and the surviving rows
    reproduce bit-for-bit. Centroid norms are computed ONCE in Python
    (np.linalg.norm, exactly as semantic_dedup builds its norms_lit)
    and embedded in both plans — literal parity, not recomputation."""
    import numpy as np

    from .operators.similarity import _hyperplanes

    cents = _hyperplanes(n_cells, dim, seed=seed)
    cnorms = np.maximum(np.linalg.norm(cents, axis=1), 1e-12)
    dots_arr = "[" + ", ".join(_dk_lit_dot("embedding", c, dim) for c in cents) + "]"
    cnorm_lits = "[" + ",".join(_dk_dlit(x) for x in cnorms) + "]"
    return f"""
        with d as (
            select vec_id, embedding, {dots_arr} as dots from embeddings
        ),
        a as (
            select vec_id, embedding,
                   (list_position(dots, list_max(dots)) - 1)::bigint as cell,
                   list_max(dots) / (
                       ({cnorm_lits})[(list_position(dots, list_max(dots))
                                       - 1) + 1]
                       * sqrt({_dk_norm2('embedding', dim)})
                   ) as centroid_cos
            from d
        ),
        losers as (
            select distinct
                   case when x.centroid_cos < y.centroid_cos
                          or (x.centroid_cos = y.centroid_cos
                              and x.vec_id > y.vec_id)
                        then x.vec_id else y.vec_id end as vec_id
            from a x join a y on y.cell = x.cell and x.vec_id < y.vec_id
            where {_dk_cosine('x.embedding', 'y.embedding')}
                      >= {_dk_dlit(threshold)}
        )
        select a.vec_id, a.cell, a.centroid_cos
        from a left join losers l on l.vec_id = a.vec_id
        where l.vec_id is null
        order by a.vec_id
    """


ORACLES["q_semantic_dedup"] = _dk_semantic_dedup_sql()


#: q_pq_topk_lit / q_ivfpq_topk_lit operating points: seeded-constant
#: codebooks (and coarse centroids) compiled into BOTH plans, so encode
#: argmax, the ADC lookup-table values (driver-side engine-neutral left
#: folds since r13 — operators/similarity._fold_dot), the gather fold,
#: ranking and ties reproduce bit-for-bit cross-engine. The TRAINED
#: entries (q_pq_topk / q_ivfpq_topk) keep the k-means production config
#: rows-only with recall pytest — training is iterative, scoring is not.
_PQ_LIT_SEED = 46
_PQ_LIT_SUB = 4
_PQ_LIT_CENTROIDS = 8
_IVFPQ_LIT_SEED = 47
_IVFPQ_LIT_CELLS = 8
_IVFPQ_LIT_PROBE = 3


def q_pq_topk_lit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k with SEEDED plan-literal codebooks
    — the scoring-machinery graduation of q_pq_topk (r12 VERDICT item
    3): encode (per-subspace squared-L2 argmax over codeword literals),
    the per-query lookup tables (driver-side left folds), the gather
    fold, the cosine surrogate and the (sim desc, id) ranking are ALL
    reproduced by the DuckDB oracle and driver-hash-checked. Raw ADC
    (rerank=None), self-matches kept — exactly pq_topk's contract."""
    from .operators.similarity import pq_topk, seeded_codebooks

    emb = _t(spark, sf_dir, "embeddings")
    books = seeded_codebooks(
        _PQ_LIT_SUB, _PQ_LIT_CENTROIDS, 64 // _PQ_LIT_SUB, seed=_PQ_LIT_SEED
    )
    queries = emb.filter(F.col("vec_id") < 5).limit(5)
    return pq_topk(emb, queries, books, k=10, rerank=None).orderBy(
        "query_id", "rank"
    )


def _dk_pq_codes_cte(
    books, dim: int, rel: str = "embeddings", id_as: str = "neighbor_id"
) -> str:
    """CTE text computing per-subspace PQ codes for every vector of
    ``rel`` — the DuckDB mirror of operators/similarity.pq_encode: for
    each subspace, argmax over (sub-dot - half-codeword-norm) literals;
    the half norms are np.dot exactly as _pq_scores_sql embeds them."""
    import numpy as np

    n_sub, _n_c, sub_dim = books.shape
    score_cols = []
    for s in range(n_sub):
        arr = "[" + ", ".join(
            f"({_dk_lit_dot('embedding', c, sub_dim, off=s * sub_dim)}"
            f" - {_dk_dlit(0.5 * np.dot(c, c))})"
            for c in books[s]
        ) + "]"
        score_cols.append(f"{arr} as sc{s}")
    code_cols = ", ".join(
        f"(list_position(sc{s}, list_max(sc{s})) - 1) as code{s}"
        for s in range(n_sub)
    )
    return f"""
        scores as (
            select vec_id, {', '.join(score_cols)} from {rel}
        ),
        codes as (
            select vec_id as {id_as}, {code_cols} from scores
        )"""


def _dk_pq_sim_expr(books) -> str:
    """sim = (left-fold dlut gather) / (qnorm * sqrt(left-fold nlut
    gather)) — dlut picks recompute the query-side sub-dots (list_sum ==
    the Python _fold_dot), nlut picks are _fold_dot(c, c) literals."""
    from .operators.similarity import _fold_dot

    n_sub, n_c, _sub_dim = books.shape
    nl = "[" + ",".join(
        _dk_dlit(_fold_dot(c, c)) for s in range(n_sub) for c in books[s]
    ) + "]"
    num = " + ".join(f"q.dl[{s * n_c} + c.code{s} + 1]" for s in range(n_sub))
    den = " + ".join(f"({nl})[{s * n_c} + c.code{s} + 1]" for s in range(n_sub))
    return f"({num}) / (q.qnorm * sqrt({den}))"


def _dk_pq_query_cte(books, dim: int, where: str = "vec_id < 5") -> str:
    n_sub, _n_c, sub_dim = books.shape
    dl = "[" + ", ".join(
        _dk_lit_dot("embedding", c, sub_dim, off=s * sub_dim)
        for s in range(n_sub)
        for c in books[s]
    ) + "]"
    return f"""
        q as (
            select vec_id as query_id, embedding,
                   sqrt({_dk_norm2('embedding', dim)}) as qnorm,
                   {dl} as dl
            from embeddings where {where}
        )"""


def _dk_pq_topk_lit_sql(k: int = 10) -> str:
    from .operators.similarity import seeded_codebooks

    books = seeded_codebooks(
        _PQ_LIT_SUB, _PQ_LIT_CENTROIDS, 64 // _PQ_LIT_SUB, seed=_PQ_LIT_SEED
    )
    # sim is computed ONCE in the inner subquery and ranked via its
    # alias — the expression embeds n_sub x n_centroids double literals,
    # so interpolating it twice doubled the SQL payload for nothing
    return f"""
        with {_dk_pq_codes_cte(books, 64)},
        {_dk_pq_query_cte(books, 64)},
        scored_q as (
            select q.query_id, c.neighbor_id,
                   {_dk_pq_sim_expr(books)} as sim
            from codes c cross join q
        )
        select query_id, neighbor_id, rank, sim from (
            select query_id, neighbor_id, sim,
                   row_number() over (
                       partition by query_id
                       order by sim desc, neighbor_id
                   ) as rank
            from scored_q
        ) where rank <= {k}
        order by query_id, rank
    """


QUERIES["q_pq_topk_lit"] = q_pq_topk_lit
ORACLES["q_pq_topk_lit"] = _dk_pq_topk_lit_sql()


def q_ivfpq_topk_lit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ composed ANN with SEEDED coarse centroids AND codebooks —
    the q_ivfpq_topk machinery graduation: coarse cell argmax (corpus
    side), the per-query probe list (driver-side fold dots under the
    (dot desc, cell asc) total order), cell-join candidate pruning, ADC
    scoring and ranking all reproduce in the DuckDB oracle. Partial
    probe (3 of 8 cells), raw ADC, self-matches excluded — exactly
    cosine_topk_ivfpq's contract."""
    from .operators.similarity import (
        _hyperplanes,
        cosine_topk_ivfpq,
        seeded_codebooks,
    )

    emb = _t(spark, sf_dir, "embeddings")
    books = seeded_codebooks(
        _PQ_LIT_SUB, _PQ_LIT_CENTROIDS, 64 // _PQ_LIT_SUB, seed=_PQ_LIT_SEED
    )
    cents = _hyperplanes(_IVFPQ_LIT_CELLS, 64, seed=_IVFPQ_LIT_SEED)
    queries = emb.filter(F.col("vec_id") < 5).limit(5)
    return cosine_topk_ivfpq(
        emb,
        queries,
        books,
        k=10,
        n_probe=_IVFPQ_LIT_PROBE,
        centroids=cents,
        rerank=None,
    ).orderBy("query_id", "rank")


def _dk_ivfpq_topk_lit_sql(k: int = 10) -> str:
    from .operators.similarity import _hyperplanes, seeded_codebooks

    books = seeded_codebooks(
        _PQ_LIT_SUB, _PQ_LIT_CENTROIDS, 64 // _PQ_LIT_SUB, seed=_PQ_LIT_SEED
    )
    cents = _hyperplanes(_IVFPQ_LIT_CELLS, 64, seed=_IVFPQ_LIT_SEED)
    cdots = "[" + ", ".join(_dk_lit_dot("embedding", c, 64) for c in cents) + "]"
    return f"""
        with {_dk_pq_codes_cte(books, 64)},
        cellc as (
            select vec_id,
                   (list_position(cd, list_max(cd)) - 1) as cell
            from (select vec_id, {cdots} as cd from embeddings)
        ),
        cb as (
            select c.neighbor_id, {', '.join(f'c.code{s}' for s in range(books.shape[0]))},
                   cc.cell
            from codes c join cellc cc on cc.vec_id = c.neighbor_id
        ),
        {_dk_pq_query_cte(books, 64)},
        probes as (
            select query_id, cell from (
                select e.vec_id as query_id, u.i - 1 as cell,
                       row_number() over (
                           partition by e.vec_id
                           order by list_extract(e.cd, u.i) desc, u.i
                       ) as pr
                from (select vec_id, {cdots} as cd
                      from embeddings where vec_id < 5) e
                cross join generate_series(1, {_IVFPQ_LIT_CELLS}) as u(i)
            ) where pr <= {_IVFPQ_LIT_PROBE}
        ),
        scored_q as (
            select q.query_id, c.neighbor_id,
                   {_dk_pq_sim_expr(books)} as sim
            from probes p
            join cb c on c.cell = p.cell
            join q on q.query_id = p.query_id
            where c.neighbor_id != p.query_id
        )
        select query_id, neighbor_id, rank, sim from (
            select query_id, neighbor_id, sim,
                   row_number() over (
                       partition by query_id
                       order by sim desc, neighbor_id
                   ) as rank
            from scored_q
        ) where rank <= {k}
        order by query_id, rank
    """


QUERIES["q_ivfpq_topk_lit"] = q_ivfpq_topk_lit
ORACLES["q_ivfpq_topk_lit"] = _dk_ivfpq_topk_lit_sql()


#: Planted boilerplate for q_substring_dup: a fixed 18-token sentence
#: appended to every doc_id % 41 == 5 document IN-QUERY (the q_pii_redact
#: planting discipline — both engines apply the same deterministic
#: corruption, so known-length shared spans exist at every SF).
_SUBSTR_BOILER = (
    "subscribe to our newsletter for the latest updates and exclusive"
    " offers delivered straight to your inbox every week"
)
_SUBSTR_L = 12


def _substr_planted(docs: DataFrame, *extra_cols: str) -> DataFrame:
    """The substring rung's shared plant: the boilerplate appended to
    every doc_id % 41 == 5 document. ONE definition for all six rung
    entries (and mirrored by the oracles' dp CTE) — the cross-entry
    'same plant' contract is load-bearing, so it must not be possible
    to edit one copy and miss another."""
    return docs.select(
        "doc_id",
        *extra_cols,
        F.when(
            F.col("doc_id") % 41 == 5,
            F.concat(F.col("text"), F.lit(" " + _SUBSTR_BOILER)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )


# -- shared DuckDB CTE builders for the substring rung (one definition of
#    the gram pipeline and the island assembly; six oracles compose them,
#    the _DK_LSH_PAIR_CTES discipline) -------------------------------------


def _dk_substr_gram(L: int) -> str:
    """'w[i] || ... || w[i+L-1]' gram concatenation text."""
    return " || ' ' || ".join(f"w[i+{j}]" if j else "w[i]" for j in range(L))


def _dk_substr_head(L: int, cols: str = "doc_id", me: bool = False) -> str:
    """dp/t/g CTE chain: the plant (mirror of _substr_planted), the
    tokenization, and the positioned L-gram explode. ``cols`` carries
    extra projection columns (e.g. source); ``me`` adds the integer
    site encoding the witness oracle needs."""
    me_col = f",\n                   doc_id * {1 << 20} + u.pos as me" if me else ""
    return f"""dp as (
            select {cols},
                   case when doc_id % 41 = 5
                        then text || ' {_SUBSTR_BOILER}'
                        else text end as text
            from documents
        ),
        t as (select {cols}, {_DK_TOKENS} as w from dp),
        g as (
            select doc_id, u.pos, u.gram{me_col} from (
                select doc_id,
                       unnest(list_transform(
                           generate_series(1, greatest(len(w) - {L - 1}, 0)),
                           i -> {{'pos': i - 1, 'gram': {_dk_substr_gram(L)}}}
                       )) as u
                from t
            )
        )"""


def _dk_substr_spans_tail(L: int, carry: str = "", extra_agg: str = "") -> str:
    """fl/isl island chain over a ``ds`` CTE of duplicated starts, plus
    the maximal-span select. ``carry`` threads extra ds columns through
    the windows (witness); ``extra_agg`` appends output aggregates."""
    c = f", {carry}" if carry else ""
    return f"""fl as (
            select doc_id, pos{c},
                   case when lag(pos) over (partition by doc_id order by pos)
                              is null
                          or pos - lag(pos) over (partition by doc_id
                                                  order by pos) > {L}
                        then 1 else 0 end as brk
            from ds
        ),
        isl as (
            select doc_id, pos{c},
                   sum(brk) over (partition by doc_id order by pos
                                  rows unbounded preceding) as island
            from fl
        )
        select doc_id,
               min(pos)::bigint as span_start,
               (max(pos) + {L - 1})::bigint as span_end,
               (max(pos) - min(pos) + {L})::bigint as span_tokens,
               count(*)::bigint as n_dup_grams{extra_agg}
        from isl
        group by doc_id, island
        order by doc_id, span_start"""



def q_substring_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-duplication detector (operators/dedup.
    substring_dup_spans) — the suffix-array dedup rung of Lee et al.
    2022, the one document-level fingerprints can't see: maximal token
    spans covered by EXACTLY-duplicated >= 12-token substrings anywhere
    in the corpus (cross-document or within-document). Distributed as
    anchor L-grams -> duplicated-gram marking (count window on the gram
    key) -> per-doc interval union (lag + running sum islands) — never
    all-pairs, never a suffix sort. A fixed boilerplate sentence is
    planted into every 41st document in-query, so known shared spans
    exist at every SF on top of the corpus's natural dups; the oracle
    recomputes grams, marks, islands and span arithmetic exactly.
    q_dup_ngram_coverage reports the MASS this rung would remove;
    this entry reports the SPANS, ready for cut-and-splice removal."""
    from .operators.dedup import substring_dup_spans

    docs = _t(spark, sf_dir, "documents")
    planted = _substr_planted(docs)
    return substring_dup_spans(
        planted, "doc_id", "text", min_tokens=_SUBSTR_L
    ).orderBy("doc_id", "span_start")


def _dk_substring_dup_sql(L: int = _SUBSTR_L) -> str:
    return f"""
        with {_dk_substr_head(L)},
        ds as (
            select doc_id, pos from (
                select doc_id, pos,
                       count(*) over (partition by gram) as n_occ
                from g
            ) where n_occ >= 2
        ),
        {_dk_substr_spans_tail(L)}
    """


QUERIES["q_substring_dup"] = q_substring_dup
ORACLES["q_substring_dup"] = _dk_substring_dup_sql()


def q_signature_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-artifact maintenance loop CLOSED for the dedup index —
    the text-side mirror of q_ivf_index_compact: incremental near-dup
    ingest (q_dedup_incremental) appends one signature file generation
    per batch, fragmenting the persisted MinHash artifact, so the
    routine that keeps it viable at 100 TB is
    plans/compact.compact_parquet_dir pointed at the signature
    directory. Exercised end to end: three id-hash batches append three
    file generations -> compact -> the LSH banding + Jaccard-verify
    pipeline runs over the COMPACTED artifact and must emit exactly the
    pair set a from-scratch rebuild computes (the q_minhash_lsh_pairs
    oracle) — the driver hash proves compaction lost/duplicated/mangled
    no signature. File-count collapse is pinned in
    tests/test_round13.py."""
    import shutil

    from .functions import text as TX
    from .operators.dedup import (
        jaccard_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from .plans.compact import compact_parquet_dir

    docs = _t(spark, sf_dir, "documents")
    spath = _tmp_path("sig_compact_artifact")
    shutil.rmtree(spath, ignore_errors=True)
    bucket = TX.hash32(F.col("doc_id").cast("string")) % 3
    for b in range(3):
        minhash_signatures(
            docs.filter(bucket == b), "doc_id", "text"
        ).write.mode("append").parquet(spath)
    compact_parquet_dir(spark, spath, target_mb=128)
    sigs = spark.read.parquet(spath)
    cand = lsh_candidate_pairs(sigs, "doc_id")
    return (
        jaccard_pairs(docs, cand, "doc_id", "text")
        .filter(F.col("jaccard") >= 0.5)
        .orderBy("a", "b")
    )


QUERIES["q_signature_compact"] = q_signature_compact
# post-compaction pairs == from-scratch rebuild pairs (the
# q_ivf_index_append oracle-aliasing precedent)
ORACLES["q_signature_compact"] = ORACLES["q_minhash_lsh_pairs"]


def q_substring_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cut-and-splice substring-dedup SCRUB (operators/dedup.
    substring_scrub) — the removal half of the Lee et al. rung whose
    detection half is q_substring_dup: every maximal token span covered
    by an exactly-duplicated >= 12-token substring is excised from every
    document (all occurrences — the RefinedWeb/Dolma practice: spans
    duplicated at this length are boilerplate; keeping one canonical
    copy would require a corpus-global occurrence order, i.e. a total
    sort). Same planted boilerplate as q_substring_dup, so the scrub
    provably removes it at every SF; the oracle recomputes dup starts,
    covered positions, the spliced text (ordered string_agg == sorted
    struct rebuild) and the kept/removed token counts exactly.
    Downstream of this entry a pipeline re-runs exact dedup: scrubbed
    near-identical docs often COLLAPSE to equal texts."""
    from .operators.dedup import substring_scrub

    docs = _t(spark, sf_dir, "documents")
    planted = _substr_planted(docs)
    return substring_scrub(
        planted, "doc_id", "text", min_tokens=_SUBSTR_L
    ).orderBy("doc_id")


def _dk_substring_scrub_sql(L: int = _SUBSTR_L) -> str:
    return f"""
        with {_dk_substr_head(L)},
        ds as (
            select doc_id, pos from (
                select doc_id, pos,
                       count(*) over (partition by gram) as n_occ
                from g
            ) where n_occ >= 2
        ),
        cov as (
            select distinct doc_id,
                   unnest(generate_series(pos, pos + {L - 1})) as pos
            from ds
        ),
        pt as (
            select doc_id, u.pos, u.tok from (
                select doc_id,
                       unnest(list_transform(
                           generate_series(1, len(w)),
                           i -> {{'pos': i - 1, 'tok': w[i]}}
                       )) as u
                from t
            )
        ),
        kept as (
            select pt.doc_id, pt.pos, pt.tok
            from pt anti join cov using (doc_id, pos)
        ),
        reb as (
            select doc_id,
                   string_agg(tok, ' ' order by pos) as clean_text,
                   count(*)::bigint as n_tokens_kept
            from kept group by doc_id
        ),
        tot as (select doc_id, len(w)::bigint as n_total from t)
        select tot.doc_id,
               coalesce(reb.clean_text, '') as clean_text,
               coalesce(reb.n_tokens_kept, 0)::bigint as n_tokens_kept,
               (tot.n_total - coalesce(reb.n_tokens_kept, 0))::bigint
                   as n_tokens_removed
        from tot left join reb using (doc_id)
        order by doc_id
    """


QUERIES["q_substring_scrub"] = q_substring_scrub
ORACLES["q_substring_scrub"] = _dk_substring_scrub_sql()



def q_substring_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental substring dedup — the q_dedup_incremental production
    shape for the substring rung (operators/dedup.
    substring_dup_spans_incremental): the BASE corpus contributes only
    its persisted gram-count artifact (operators/dedup.gram_counts —
    vocabulary-bounded (gram, n_occ) rows, merged by summation per
    ingest batch, never re-derived from base text), and only the
    INCOMING batch (deterministic 1/3 id-hash split) is tokenized. A
    gram duplicates iff batch count + base count reaches 2 — provably
    the full-recompute semantics restricted to incoming documents,
    which is exactly what the oracle recomputes from scratch. Same
    plant as q_substring_dup, so cross-split shared spans exist at
    every SF."""
    from .functions import text as TX
    from .operators.dedup import gram_counts, substring_dup_spans_incremental

    docs = _t(spark, sf_dir, "documents")
    planted = _substr_planted(docs)
    is_inc = TX.hash32(F.col("doc_id").cast("string")) % 3 == 0
    cpath = _tmp_path("substring_inc_gram_counts")
    gram_counts(
        planted.filter(~is_inc), "doc_id", "text", min_tokens=_SUBSTR_L
    ).write.mode("overwrite").parquet(cpath)
    base_counts = spark.read.parquet(cpath)
    return substring_dup_spans_incremental(
        planted.filter(is_inc),
        base_counts,
        "doc_id",
        "text",
        min_tokens=_SUBSTR_L,
    ).orderBy("doc_id", "span_start")


def _dk_substring_incremental_sql(L: int = _SUBSTR_L) -> str:
    return f"""
        with {_dk_substr_head(L)},
        ds as (
            select doc_id, pos from (
                select doc_id, pos,
                       count(*) over (partition by gram) as n_occ
                from g
            )
            where n_occ >= 2
              and ('0x' || substr(md5(doc_id::varchar), 1, 8))::bigint % 3 = 0
        ),
        {_dk_substr_spans_tail(L)}
    """


QUERIES["q_substring_incremental"] = q_substring_incremental
ORACLES["q_substring_incremental"] = _dk_substring_incremental_sql()



def q_streaming_substring_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_substring_incremental — the always-on
    substring-dedup gate in front of a training store: the incoming 1/3
    slice arrives as a FILE STREAM, tokenizes and shingles PER ROW
    (stateless — no streaming aggregation, no state store), and each
    L-gram start probes the persisted base gram-count artifact
    (operators/dedup.gram_counts — the same parquet the nightly batch
    maintains) via a stream-static inner join. Matched starts land in
    append mode; the bounded post-sink step assembles them into maximal
    spans (lag + running-sum islands over dup starts ONLY — the
    q_streaming_neardup_ingest bounded-post-sink precedent).

    STREAM-GATE SEMANTICS, deliberately narrower than the batch twin:
    a span is flagged iff duplicated AGAINST THE BASE. Incoming-vs-
    incoming cross-document dups (and pure within-document repeats that
    never touched the base) are deferred to the nightly
    q_substring_incremental batch — exactly how the streaming near-dup
    gate defers base-rebuild work. The oracle recomputes this relation
    from scratch, so the streaming execution must reproduce it
    bit-for-bit."""
    import shutil

    from .functions import text as TX
    from .operators.dedup import gram_counts

    L = _SUBSTR_L
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        docs = _t(spark, sf_dir, "documents")

        planted = _substr_planted

        is_inc = TX.hash32(F.col("doc_id").cast("string")) % 3 == 0
        cpath = _tmp_path("stream_substr_gram_counts")
        gram_counts(
            planted(docs.filter(~is_inc)), "doc_id", "text", min_tokens=L
        ).write.mode("overwrite").parquet(cpath)
        base_counts = spark.read.parquet(cpath).select("gram")

        stream = (
            spark.readStream.schema(docs.schema)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir)
        )
        inc = planted(stream.filter(is_inc))
        toks = inc.select("doc_id", TX.tokens(F.col("text")).alias("__toks"))
        starts = toks.select(
            "doc_id",
            F.posexplode(TX.shingles_of(F.col("__toks"), L)).alias(
                "pos", "gram"
            ),
        ).join(base_counts, "gram").select("doc_id", "pos")

        name = f"engine_stream_substr_{_RUN_TAG}"
        ckpt = _tmp_path("stream_substr_ckpt")
        shutil.rmtree(ckpt, ignore_errors=True)
        q = (
            starts.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    ds = spark.table(name)
    w = Window.partitionBy("doc_id").orderBy("pos")
    flagged = ds.withColumn(
        "__brk",
        F.when(
            F.lag("pos").over(w).isNull()
            | (F.col("pos") - F.lag("pos").over(w) > L),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    islands = flagged.withColumn(
        "__island",
        F.sum("__brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    ).drop("__brk")
    return (
        islands.groupBy("doc_id", "__island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + F.lit(L - 1)).cast("long").alias("span_end"),
            (F.max("pos") - F.min("pos") + F.lit(L)).cast("long").alias(
                "span_tokens"
            ),
            F.count(F.lit(1)).cast("long").alias("n_dup_grams"),
        )
        .drop("__island")
        .orderBy("doc_id", "span_start")
    )


def _dk_streaming_substring_sql(L: int = _SUBSTR_L) -> str:
    return f"""
        with {_dk_substr_head(L)},
        split as (
            select doc_id,
                   ('0x' || substr(md5(doc_id::varchar), 1, 8))::bigint % 3
                       = 0 as is_inc
            from dp
        ),
        bg as (
            select distinct g.gram
            from g join split s on s.doc_id = g.doc_id and not s.is_inc
        ),
        ds as (
            select g.doc_id, g.pos
            from g
            join split s on s.doc_id = g.doc_id and s.is_inc
            join bg on bg.gram = g.gram
        ),
        {_dk_substr_spans_tail(L)}
    """


QUERIES["q_streaming_substring_ingest"] = q_streaming_substring_ingest
ORACLES["q_streaming_substring_ingest"] = _dk_streaming_substring_sql()



def q_substring_dup_witness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_substring_dup with AUDIT EVIDENCE (witness=True): every
    reported span carries witness_doc/witness_pos — the minimal other
    occurrence site of the span's leading gram, so a reviewer (or a
    takedown pipeline) can jump straight to what the span duplicates
    instead of re-searching the corpus. Sites encode as
    doc_id * 2^20 + pos integers, making the per-gram min/second-min
    plain integer window aggregates — engine-neutral ordering, no
    struct-comparison semantics to reconcile — and the witness
    attribution is fully reproduced by the oracle. Witness covers the
    LEADING gram only: under coverage semantics the whole span need not
    occur contiguously at the witness site (documented in the
    operator)."""
    from .operators.dedup import substring_dup_spans

    docs = _t(spark, sf_dir, "documents")
    planted = _substr_planted(docs)
    return substring_dup_spans(
        planted, "doc_id", "text", min_tokens=_SUBSTR_L, witness=True
    ).orderBy("doc_id", "span_start")


def _dk_substring_witness_sql(L: int = _SUBSTR_L) -> str:
    enc = 1048576
    extra = (
        f",\n               (arg_min(wit, pos) // {enc})::bigint as witness_doc"
        f",\n               (arg_min(wit, pos) % {enc})::bigint as witness_pos"
    )
    return f"""
        with {_dk_substr_head(L, me=True)},
        s1 as (
            select doc_id, pos, me,
                   count(*) over (partition by gram) as n_occ,
                   min(me) over (partition by gram) as m1,
                   gram
            from g
        ),
        s2 as (
            select doc_id, pos, me, n_occ, m1,
                   min(case when me != m1 then me end)
                       over (partition by gram) as m2
            from s1
        ),
        ds as (
            select doc_id, pos,
                   case when me = m1 then m2 else m1 end as wit
            from s2 where n_occ >= 2
        ),
        {_dk_substr_spans_tail(L, carry="wit", extra_agg=extra)}
    """


QUERIES["q_substring_dup_witness"] = q_substring_dup_witness
ORACLES["q_substring_dup_witness"] = _dk_substring_witness_sql()



def q_substring_savings_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source substring-dedup economics readout — the budget number
    the rung exists to produce (the q_dedup_token_savings analogue one
    level down): for each source, how many tokens the cut-and-splice
    scrub removes and the exact removal ppm. q_dup_ngram_coverage
    counts duplicated GRAMS; this counts the TOKENS the scrub actually
    excises (maximal-interval union, so overlapping grams are not
    double-counted). Exact integer ppm via div — tokens ~1e13 at 100 TB
    keep n*1e6 inside long. Same plant as the rung's other members."""
    from .operators.dedup import substring_scrub

    docs = _t(spark, sf_dir, "documents")
    planted = _substr_planted(docs, "source")
    # counts-only scrub: the savings rollup never reads the rebuilt
    # text, so the reassembly (token explode + anti join + sorted-struct
    # rebuild) would be pure waste — measured as 2 of this entry's 4
    # scans and 5 of its 9 exchanges before the fast path existed
    scrubbed = substring_scrub(
        planted, "doc_id", "text", min_tokens=_SUBSTR_L, rebuild_text=False
    )
    return (
        scrubbed.join(planted.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens_kept").cast("long").alias("tokens_kept"),
            F.sum("n_tokens_removed").cast("long").alias("tokens_removed"),
        )
        .select(
            "source",
            "n_docs",
            "tokens_kept",
            "tokens_removed",
            F.expr(
                "tokens_removed * 1000000 div (tokens_kept + tokens_removed)"
            ).alias("removed_ppm"),
        )
        .orderBy("source")
    )


def _dk_substring_savings_sql(L: int = _SUBSTR_L) -> str:
    return f"""
        with {_dk_substr_head(L, cols="doc_id, source")},
        ds as (
            select doc_id, pos from (
                select doc_id, pos,
                       count(*) over (partition by gram) as n_occ
                from g
            ) where n_occ >= 2
        ),
        cov as (
            select distinct doc_id,
                   unnest(generate_series(pos, pos + {L - 1})) as pos
            from ds
        ),
        per_doc as (
            select t.doc_id, t.source,
                   len(t.w)::bigint as n_total,
                   coalesce(c.n_cov, 0)::bigint as n_removed
            from t
            left join (
                select doc_id, count(*)::bigint as n_cov
                from cov group by doc_id
            ) c using (doc_id)
        )
        select source,
               count(*)::bigint as n_docs,
               sum(n_total - n_removed)::bigint as tokens_kept,
               sum(n_removed)::bigint as tokens_removed,
               (sum(n_removed)::bigint * 1000000)
                   // sum(n_total)::bigint as removed_ppm
        from per_doc
        group by source
        order by source
    """


QUERIES["q_substring_savings_by_source"] = q_substring_savings_by_source
ORACLES["q_substring_savings_by_source"] = _dk_substring_savings_sql()
