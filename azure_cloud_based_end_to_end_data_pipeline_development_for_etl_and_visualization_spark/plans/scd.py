"""SCD Type-1 merge (UPSERT) — portable, no Delta runtime.

The reference maintains every gold table with a Delta Lake MERGE::

    DeltaTable.forPath(spark, path).alias('trg')
      .merge(src.alias('src'), 'trg.k = src.k')
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()

(ref gold_dim_branch.ipynb:88163-88167 cell 35; by-name variant
gold_fact_sales.ipynb:72817 cell 12; multi-key conjunctive match
gold_fact_sales.ipynb:72819 cell 12).

delta-spark is not installed in this environment, so we implement the
identical semantic as a join rewrite — which is exactly what Delta's MERGE
physical plan does under the hood (source-to-target join, rewrite touched
files):

    target' = source  UNION  (target LEFT-ANTI source ON keys)

- whenMatchedUpdateAll  -> matched target rows are *replaced* by their
  source row (they are dropped by the anti join and re-enter from source).
- whenNotMatchedInsertAll -> unmatched source rows enter from source.
- Delta raises on a duplicate source match (two source rows hitting one
  target row); we reproduce that check (``DeltaInvariantError`` stand-in)
  because silently picking one row would diverge from reference behavior
  (SURVEY.md 3.3 documents the fact-grain collision this can cause).

The merge is a pure relation; :func:`..plans.versioned.merge_scd1_versioned`
commits it as a table's next snapshot, the one way tables are published.

Scale: the anti join shuffles on the merge keys; with a small source batch
(the common incremental case) Catalyst/AQE broadcasts the source side, so
the target is scanned once and never shuffled. The rewrite-the-table write
amplification matches vanilla-parquet reality; on a real lake you'd layer a
transaction log (Delta/Iceberg/Hudi) for file-level rewrites — the operator
API here is the stable surface either way.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class DuplicateMergeKeyError(ValueError):
    """Mirror of Delta's 'multiple source rows matched' merge error."""


def duplicate_key_error(keys: Sequence[str], row: dict) -> DuplicateMergeKeyError:
    """The error for a merge source with ``row["n"]`` rows on one key
    (``row`` names the key's values and ``n``)."""
    return DuplicateMergeKeyError(
        f"source has multiple rows for merge key {keys}: {row}"
    )


def _check_unique_source_keys(source: DataFrame, keys: Sequence[str]) -> None:
    dup = (
        source.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise duplicate_key_error(keys, dup[0].asDict())


def merge_scd1_df(
    target: DataFrame | None,
    source: DataFrame,
    keys: Sequence[str],
    check_duplicate_source_keys: bool = True,
) -> DataFrame:
    """Pure-DataFrame SCD1 merge: returns the post-merge relation."""
    if check_duplicate_source_keys:
        _check_unique_source_keys(source, keys)
    if target is None:
        return source
    survivors = target.join(source.select(*keys), list(keys), "left_anti")
    return source.unionByName(survivors)

