"""End-to-end medallion pipeline: bronze -> silver -> gold star schema with
SCD1 merges and incremental loads — the reference's whole architecture
(README.md:8-14) as a plain importable library, generalized beyond
car-sales.

Reference stage mapping (SURVEY.md section 3):

- ingest:  ADF copy CSV -> bronze parquet, dropping ``Product_Name``
           (3.1; the drop happens at ingest, not silver — 1.3)
- silver:  derived columns ``model_category = split(Model_ID,'-')[0]`` and
           ``RevPerUnit = Revenue/Units_Sold`` (1.3 [inferred])
- gold:    four dims + fact, each built then SCD1-merged on the surrogate
           key (3.2/3.3); ``incremental`` parameter replaces the
           ``dbutils.widgets`` incremental_flag (2.6 op 27)

The pipeline is configuration-driven (``StarSchemaConfig``) so the same
code runs the car-sales shape of the reference and any other star schema.

Cost model: at incremental-batch sizes a run is bound by Spark job
launches, not rows, so each batch is resolved once. A batch of at most
``DRIVER_BATCH_ROWS`` silver rows is fetched to the driver (one job),
each dim's next state is resolved there against the existing rows of the
batch's business keys (one lookup job per dim), and every table commits
from an in-memory relation (a broadcast and a write job each); the fact
is keyed from the resolved dim rows, not a re-read of the dims. Reads take
the schema from the snapshot's commit record (plans/versioned), as do the
dims' high-water marks and the row counts :func:`run_pipeline` returns,
and :func:`register_gold` re-points catalog entries in place. A 200-row
batch against a 20k-row gold runs 24 Spark jobs including registration.
A larger batch (a full load) stays distributed, with silver and each
dim's next state cached once and released before :func:`build_gold`
returns.
"""

from __future__ import annotations

import itertools
import os
from collections import Counter
from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    MapType,
    StructField,
    StructType,
)

from ..operators import relational as R
from ..sources.io import read_csv, write_parquet
from .scd import duplicate_key_error, merge_scd1_path
from .star import build_dim, join_key, resolve_dim_batch
from .versioned import (
    _snapshot_dir,
    commit_record,
    current_version,
    merge_scd1_versioned,
    read_version,
)

#: the largest silver batch :func:`build_gold` resolves on the driver; an
#: incremental batch is far below it, a full load usually above
DRIVER_BATCH_ROWS = 10_000


@dataclass
class DimSpec:
    name: str  # gold table name, e.g. "dim_branch"
    business_keys: list[str]
    attrs: list[str]
    key_col: str = ""

    def __post_init__(self) -> None:
        if not self.key_col:
            self.key_col = f"{self.name}_key"


@dataclass
class StarSchemaConfig:
    fact_name: str
    measures: list[str]
    dims: list[DimSpec] = field(default_factory=list)
    #: silver columns carried into the fact as hive partition keys — the
    #: 100-TB layout knob (prune "last month" scans to one partition)
    fact_partition_cols: list[str] = field(default_factory=list)


CARSALES = StarSchemaConfig(
    fact_name="factsales",
    measures=["Revenue", "Units_Sold", "RevPerUnit"],
    dims=[
        DimSpec("dim_branch", ["Branch_ID"], ["BranchName"]),
        DimSpec("dim_dealer", ["Dealer_ID"], ["DealerName"]),
        DimSpec("dim_model", ["Model_ID"], ["model_category"]),
        DimSpec("dim_date", ["Date_ID"], []),
    ],
    # Year-partitioned fact by default: a per-year report on a 100 TB fact
    # then scans ~one partition instead of the table (pruning is asserted
    # end-to-end in tests/test_medallion.py). The reference writes its gold
    # fact unpartitioned — fine at notebook scale, not at ours.
    fact_partition_cols=["Year"],
)


def ingest_to_bronze(
    spark: SparkSession, csv_path: str, lake_root: str, drop_cols: list[str]
) -> DataFrame:
    """CSV -> bronze parquet, dropping ingest-time columns (Product_Name)."""
    df = read_csv(spark, csv_path).drop(*drop_cols)
    write_parquet(df, os.path.join(lake_root, "bronze", "rawdata"))
    return df


def bronze_to_silver(spark: SparkSession, lake_root: str) -> DataFrame:
    """Bronze -> silver with the reference's derived columns."""
    bronze = spark.read.parquet(os.path.join(lake_root, "bronze", "rawdata"))
    silver = bronze.withColumn(
        "model_category", F.split(F.col("Model_ID"), "-").getItem(0)
    ).withColumn("RevPerUnit", F.col("Revenue") / F.col("Units_Sold"))
    write_parquet(silver, os.path.join(lake_root, "silver", "carsales"))
    return silver


def _gold_path(lake_root: str, table: str) -> str:
    return os.path.join(lake_root, "gold", table)


def _gold_exists(path: str, publish: str) -> bool:
    if publish == "versioned":
        return current_version(path) is not None
    return os.path.exists(path)


def _merge_gold(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    keys: list[str],
    publish: str,
    check_duplicate_source_keys: bool = True,
    partition_by: list[str] | None = None,
) -> None:
    if publish == "versioned":
        merge_scd1_versioned(
            spark, path, df, keys,
            check_duplicate_source_keys=check_duplicate_source_keys,
            partition_by=partition_by,
        )
    else:
        merge_scd1_path(
            spark, path, df, keys,
            check_duplicate_source_keys=check_duplicate_source_keys,
            partition_by=partition_by,
        )


def gold_table(
    spark: SparkSession, lake_root: str, table: str, publish: str = "versioned"
) -> DataFrame:
    """Read a gold table under either publish protocol."""
    path = _gold_path(lake_root, table)
    if publish == "versioned":
        return read_version(spark, path)
    return spark.read.parquet(path)


def gold_data_dir(lake_root: str, table: str, publish: str = "versioned") -> str:
    """Physical directory of the current snapshot (for layout inspection —
    hive partition dirs live here under both protocols)."""
    path = _gold_path(lake_root, table)
    if publish == "versioned":
        v = current_version(path)
        if v is None:
            raise FileNotFoundError(f"no committed version at {path}")
        return _snapshot_dir(path, v)
    return path


def _batch_on_driver(silver: DataFrame, config: StarSchemaConfig) -> pa.Table | None:
    """The silver batch as an Arrow table when :func:`build_gold` resolves
    it on the driver: at most ``DRIVER_BATCH_ROWS`` rows and dim columns
    that compare as plain values. One job, fetching at most one row more
    than the bound; None sends the batch down the Spark path."""
    dim_cols = {c for spec in config.dims for c in (*spec.business_keys, *spec.attrs)}
    if any(
        isinstance(f.dataType, (ArrayType, MapType, StructType))
        for f in silver.schema.fields
        if f.name in dim_cols
    ):
        return None
    batch = silver.limit(DRIVER_BATCH_ROWS + 1).toArrow()
    return batch if batch.num_rows <= DRIVER_BATCH_ROWS else None


def _build_gold_on_driver(
    spark: SparkSession,
    lake_root: str,
    config: StarSchemaConfig,
    schema: StructType,
    batch: pa.Table,
    publish: str,
) -> None:
    """:func:`build_gold` for a batch held on the driver: each dim is
    resolved and committed by :func:`_merge_dim_on_driver`, then the fact
    rows are keyed from the resolved dim rows. Nothing is persisted."""
    keys_of = {
        spec.name: _merge_dim_on_driver(spark, lake_root, spec, schema, batch, publish)
        for spec in config.dims
    }
    row_bks = {spec.name: _rows(batch, spec.business_keys) for spec in config.dims}
    # each silver row once per combination of its dim keys, as the left
    # joins give it (a NULL business key resolves to a NULL key)
    take: list[int] = []
    combos: list[tuple] = []
    for i in range(batch.num_rows):
        options = []
        for spec in config.dims:
            bk = row_bks[spec.name][i]
            options.append([None] if None in bk else keys_of[spec.name][join_key(bk)])
        for combo in itertools.product(*options):
            take.append(i)
            combos.append(combo)
    carried = _fact_carried(config)
    fact = batch.select(carried).take(take)
    for j, spec in enumerate(config.dims):
        fact = fact.append_column(spec.key_col, pa.array([c[j] for c in combos], pa.int64()))
    fact_schema = StructType(
        [schema[c] for c in carried]
        + [StructField(spec.key_col, LongType()) for spec in config.dims]
    )
    _merge_fact(spark, lake_root, config, _local_frame(spark, fact, fact_schema), publish)


def _rows(table: pa.Table, cols: list[str]) -> list[tuple]:
    """``table``'s ``cols`` as one Python tuple per row."""
    return list(zip(*(table.column(c).to_pylist() for c in cols)))


def _merge_dim_on_driver(
    spark: SparkSession,
    lake_root: str,
    spec: DimSpec,
    schema: StructType,
    batch: pa.Table,
    publish: str,
) -> dict[tuple, list[int]]:
    """Resolve one dim's next state for a driver-held batch and commit it.
    One job fetches the existing rows of the batch's business keys;
    :func:`..plans.star.resolve_dim_batch` mints the new keys, and the
    high-water mark comes from the dim's commit record. Returns the
    surrogate keys of each business key in the batch (by
    :func:`..plans.star.join_key`)."""
    path = _gold_path(lake_root, spec.name)
    cols = [*spec.business_keys, *spec.attrs]
    n_keys = len(spec.business_keys)
    rows = _rows(batch, cols)
    existing: list[tuple[int, tuple]] = []
    hwm = 0
    if _gold_exists(path, publish):
        target = gold_table(spark, lake_root, spec.name, publish)
        probe = spark.createDataFrame(
            batch.select(spec.business_keys),
            StructType([schema[c] for c in spec.business_keys]),
        )
        found = (
            target.select(spec.key_col, *spec.business_keys)
            .join(probe, spec.business_keys, "left_semi")
            .toArrow()
        )
        existing = list(
            zip(found.column(spec.key_col).to_pylist(), _rows(found, spec.business_keys))
        )
        record = _gold_record(lake_root, spec.name, publish)
        if record is not None and spec.key_col in record["max"]:
            hwm = record["max"][spec.key_col] or 0
        else:
            hwm = R.high_water_mark(target, spec.key_col)
    resolved = resolve_dim_batch(rows, n_keys, existing, hwm)
    dup = Counter(k for _, k in resolved).most_common(1)
    if dup and dup[0][1] > 1:
        raise duplicate_key_error([spec.key_col], {spec.key_col: dup[0][0], "n": dup[0][1]})
    nxt = batch.select(cols).take([i for i, _ in resolved])
    nxt = nxt.add_column(0, spec.key_col, pa.array([k for _, k in resolved], pa.int64()))
    nxt_schema = StructType(
        [StructField(spec.key_col, LongType()), *(schema[c] for c in cols)]
    )
    _merge_gold(
        spark, path, _local_frame(spark, nxt, nxt_schema), [spec.key_col],
        publish, check_duplicate_source_keys=False,
    )
    keys_of: dict[tuple, list[int]] = {}
    for i, k in resolved:
        keys_of.setdefault(join_key(rows[i][:n_keys]), []).append(k)
    return keys_of


def _local_frame(spark: SparkSession, table: pa.Table, schema: StructType) -> DataFrame:
    """An in-memory relation over a driver-built table, in one partition:
    a merge writes each source partition as its own file, so a per-core
    split would add that many files to every snapshot."""
    return spark.createDataFrame(table, schema).coalesce(1)


def _gold_record(lake_root: str, table: str, publish: str) -> dict | None:
    """The current snapshot's commit record (versioned publish only)."""
    if publish != "versioned":
        return None
    return commit_record(_gold_path(lake_root, table))


def _fact_carried(config: StarSchemaConfig) -> list[str]:
    """Silver columns the fact carries: measures, then partition columns."""
    return [
        *config.measures,
        *(c for c in config.fact_partition_cols if c not in config.measures),
    ]


def _merge_fact(
    spark: SparkSession,
    lake_root: str,
    config: StarSchemaConfig,
    fact: DataFrame,
    publish: str,
) -> None:
    _merge_gold(
        spark,
        _gold_path(lake_root, config.fact_name),
        fact,
        [spec.key_col for spec in config.dims],
        publish,
        # the reference's fact grain allows duplicate key combos on initial
        # load (one row per silver row) — SURVEY.md 3.3 documents the
        # collision; we bypass the duplicate check to match its semantics
        check_duplicate_source_keys=False,
        partition_by=config.fact_partition_cols or None,
    )


def build_gold(
    spark: SparkSession,
    lake_root: str,
    config: StarSchemaConfig,
    silver: DataFrame | None = None,
    publish: str = "versioned",
) -> None:
    """Build/merge every dim then the fact from the silver layer.

    Initial run: surrogate keys 1..N, table created. Incremental run:
    existing keys preserved, new business keys get max+1.., changed
    attributes updated in place (SCD1), fact rows merged on the full
    surrogate-key combination — reference semantics including the merge
    keyed on surrogate keys (gold_fact_sales.ipynb:72819 cell 12).

    Each batch is resolved once. A batch of at most ``DRIVER_BATCH_ROWS``
    rows (an incremental load) is fetched to the driver in one job and
    resolved there (:func:`_build_gold_on_driver`): 19 Spark jobs for the
    car-sales star. A larger batch (a full load) stays in Spark: silver
    and each dim's next state (:func:`..plans.star.build_dim`) are cached,
    so the duplicate-key check, the commit and the fact join read one
    materialization instead of re-running the plan; the caches are
    released before returning. Either way the fact joins the batch's
    resolved dim rows, never a re-read of the whole dim.

    ``publish`` picks the commit protocol. The default ``"versioned"``
    publishes each merge as an atomic pointer flip (plans/versioned):
    readers always see a complete snapshot — there is NO window in which
    the table is absent — and every run is time-travelable, the portable
    equivalent of the reference's Delta gold layer. ``"swap"`` is the
    plain directory-rename publisher (plans/scd.merge_scd1_path): no
    retained history, a two-rename window, but gold tables stay directly
    parquet-addressable for external readers."""
    if silver is None:
        silver = spark.read.parquet(os.path.join(lake_root, "silver", "carsales"))
    batch = _batch_on_driver(silver, config)
    if batch is not None:
        _build_gold_on_driver(spark, lake_root, config, silver.schema, batch, publish)
        return

    held: list[DataFrame] = []

    def materialized(df: DataFrame) -> DataFrame:
        if not df.is_cached:
            held.append(df.cache())
        return df

    try:
        silver = materialized(silver)
        dim_frames: dict[str, DataFrame] = {}
        for spec in config.dims:
            path = _gold_path(lake_root, spec.name)
            existing = (
                gold_table(spark, lake_root, spec.name, publish)
                if _gold_exists(path, publish)
                else None
            )
            nxt = materialized(
                build_dim(
                    silver, spec.business_keys, spec.attrs, spec.key_col,
                    existing=existing,
                )
            )
            # the merge's duplicate-key check fills the cache
            _merge_gold(spark, path, nxt, [spec.key_col], publish)
            dim_frames[spec.name] = nxt

        fact_src = silver.alias("s")
        select_cols: list[Column] = [
            F.col(f"s.{c}").alias(c) for c in _fact_carried(config)
        ]
        for spec in config.dims:
            d = dim_frames[spec.name].alias(spec.name)
            cond = None
            for k in spec.business_keys:
                c = F.col(f"s.{k}") == F.col(f"{spec.name}.{k}")
                cond = c if cond is None else (cond & c)
            # config-driven dims can be anything from a 5-row calendar to a
            # customer-scaled entity — unhinted, AQE broadcasts the small ones
            fact_src = fact_src.join(d, cond, "left")
            select_cols.append(F.col(f"{spec.name}.{spec.key_col}").alias(spec.key_col))
        _merge_fact(spark, lake_root, config, fact_src.select(*select_cols), publish)
    finally:
        for df in held:
            df.unpersist()


def register_gold(
    spark: SparkSession,
    lake_root: str,
    config: StarSchemaConfig = CARSALES,
    database: str = "gold",
    publish: str = "versioned",
) -> list[str]:
    """Register every gold table in the session catalog as
    ``<database>.<name>`` — the 2-level session-catalog equivalent of the
    reference's ``cars_catalog.gold.*`` Unity namespace
    (gold_dim_branch.ipynb:88171-88175: ``saveAsTable`` into the gold
    schema). External-location tables over the CURRENT snapshot: with the
    versioned publisher each call re-points the catalog entries at the
    newest committed snapshot, so run-then-register mirrors the
    reference's per-run ``saveAsTable``. Returns the qualified names.

    A table whose schema is unchanged is re-pointed with one ``ALTER TABLE
    ... SET LOCATION`` (no job); a new table, or one whose schema changed,
    is created over the snapshot. Tables are created with partitions
    discovered from their directory rather than tracked in the catalog, so
    the Year-partitioned fact needs no partition repair after a re-point:
    a snapshot is immutable, and its directory is the whole truth about
    its partitions."""
    spark.sql(f"create database if not exists {database}")
    out = []
    for t in [spec.name for spec in config.dims] + [config.fact_name]:
        path = gold_data_dir(lake_root, t, publish)
        qualified = f"{database}.{t}"
        if (
            spark.catalog.tableExists(qualified)
            and spark.table(qualified).schema == _gold_schema(spark, lake_root, t, publish)
        ):
            spark.sql(f"alter table {qualified} set location '{path}'")
        else:
            spark.sql(f"drop table if exists {qualified}")
            _create_table(spark, qualified, path)
        out.append(qualified)
    return out


def _gold_schema(
    spark: SparkSession, lake_root: str, table: str, publish: str
) -> StructType:
    """The current snapshot's schema: from its commit record, else read."""
    record = _gold_record(lake_root, table, publish)
    if record is not None:
        return StructType.fromJson(record["schema"])
    return gold_table(spark, lake_root, table, publish).schema


def _create_table(spark: SparkSession, qualified: str, path: str) -> None:
    """``create table ... using parquet location`` with catalog partition
    tracking off for this one statement (the setting is recorded in the
    table and governs its reads from then on)."""
    conf = "spark.sql.hive.manageFilesourcePartitions"
    before = spark.conf.get(conf, None)
    spark.conf.set(conf, "false")
    try:
        spark.sql(f"create table {qualified} using parquet location '{path}'")
    finally:
        if before is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, before)


def _row_count(spark: SparkSession, lake_root: str, table: str, publish: str) -> int:
    """A gold table's rows: from its commit record, else counted."""
    record = _gold_record(lake_root, table, publish)
    if record is not None:
        return record["rows"]
    return gold_table(spark, lake_root, table, publish).count()


def run_pipeline(
    spark: SparkSession,
    csv_path: str,
    lake_root: str,
    config: StarSchemaConfig = CARSALES,
    drop_cols: list[str] | None = None,
    publish: str = "versioned",
) -> dict[str, int]:
    """Full pipeline run (initial or incremental is decided per-table by
    existence, like the reference's tableExists probe — op 9). Returns
    per-table row counts for assertion/monitoring, taken from the commits'
    records (no counting job)."""
    ingest_to_bronze(
        spark, csv_path, lake_root,
        drop_cols if drop_cols is not None else ["Product_Name"],
    )
    silver = bronze_to_silver(spark, lake_root)
    build_gold(spark, lake_root, config, silver=silver, publish=publish)
    tables = [spec.name for spec in config.dims] + [config.fact_name]
    return {t: _row_count(spark, lake_root, t, publish) for t in tables}
