"""Versioned parquet tables: atomic commits + time travel, no table format.

The reference keeps its gold tables in Delta Lake, which gives it two
things vanilla parquet lacks: ATOMIC commits (readers never see a partial
or missing table) and TIME TRAVEL (``VERSION AS OF``). delta-spark is not
installed in this environment, so this module provides the minimal
portable equivalent — a versioned directory layout with a pointer file:

    <root>/_versions/v00000001/   <- immutable parquet snapshot
    <root>/_versions/v00000002/
    <root>/_latest                <- text file naming the current version

Commit protocol: write the new snapshot directory fully, then publish it
with ``os.replace`` on the pointer file — a single atomic rename on POSIX
and HDFS. There is NO window in which the table is missing or half
written (unlike a directory swap's two renames): a crash before the
pointer flip leaves the previous version current and the orphan snapshot
invisible. On an object store the pointer file becomes a conditional-put
manifest — the same protocol Delta/Iceberg implement with a log.

Old versions stay readable (time travel) until ``vacuum`` removes them.

Each snapshot carries a commit record, ``_commit.json`` inside the
snapshot directory (Spark and parquet globs skip ``_``-prefixed files):
the schema the committer wrote, the row count, and the maximum of every
bigint column, the last two observed by the write job itself
(``DataFrame.observe``) rather than by a second job. Readers use the
recorded schema instead of inferring it, which would cost one Spark job
per read; a snapshot without a record is read by inference. Surrogate-key high-water marks and the row counts a pipeline run
reports come from the record too. ``vacuum`` removes the record with its
snapshot.

Scale: the pointer file is O(bytes) regardless of table size; snapshots
are plain parquet directories, so every scan optimization (pruning,
pushdown, partitioned layout) applies unchanged. Write amplification is
still one full snapshot per commit — file-level reuse across snapshots is
exactly the feature a real table format's log adds on top of this layout.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from .scd import merge_scd1_df

_VERSIONS = "_versions"
_LATEST = "_latest"
_RECORD = "_commit.json"


def _versions_dir(root: str) -> str:
    return os.path.join(root, _VERSIONS)


def _pointer_path(root: str) -> str:
    return os.path.join(root, _LATEST)


def _version_name(n: int) -> str:
    return f"v{n:08d}"


def _snapshot_dir(root: str, n: int) -> str:
    return os.path.join(_versions_dir(root), _version_name(n))


def current_version(root: str) -> int | None:
    """The committed version number, or None for an empty/absent table."""
    ptr = _pointer_path(root)
    if not os.path.exists(ptr):
        return None
    with open(ptr, encoding="ascii") as f:
        return int(f.read().strip().lstrip("v"))


def list_versions(root: str) -> list[int]:
    """All retained snapshot versions (committed pointer may trail the
    directory list if a writer crashed pre-publish — orphans are invisible
    to readers and reclaimed by the next commit's numbering or vacuum)."""
    vd = _versions_dir(root)
    if not os.path.isdir(vd):
        return []
    return sorted(
        int(name.lstrip("v")) for name in os.listdir(vd) if name.startswith("v")
    )


def commit_version(df: DataFrame, root: str, partition_by: Sequence[str] | None = None) -> int:
    """Write ``df`` as the table's next snapshot and atomically publish it.

    The write job also observes the row count and every bigint column's
    maximum; they go into the snapshot's commit record with the schema a
    reader will see (partition columns last and every column nullable, as
    a parquet scan lists them).

    Returns the committed version number. A table takes ONE writer at a
    time, as with the reference's one-pipeline-per-table jobs: two
    concurrent committers can pick the same next version, and the
    overwrite write lets one clobber the other's snapshot directory,
    undetected. An exclusive commit (ROADMAP open item 3) is the fix."""
    latest = current_version(root)
    existing = list_versions(root)
    nxt = max([latest or 0, *existing, 0]) + 1
    snap = _snapshot_dir(root, nxt)
    bigints = [f.name for f in df.schema.fields if isinstance(f.dataType, LongType)]
    seen = Observation()
    observed = df.observe(
        seen,
        F.count(F.lit(1)).alias("rows"),
        *[F.max(F.col(f"`{c}`")).alias(f"max{i}") for i, c in enumerate(bigints)],
    )
    writer = observed.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(snap)
    stats = seen.get
    parts = list(partition_by or [])
    fields = [f for f in df.schema.fields if f.name not in parts] + [df.schema[p] for p in parts]
    schema = StructType([StructField(f.name, f.dataType, True, f.metadata) for f in fields])
    record = {
        "schema": schema.jsonValue(),
        "rows": stats["rows"],
        "max": {c: stats[f"max{i}"] for i, c in enumerate(bigints)},
    }
    # the snapshot stays invisible until the pointer flips, so the record
    # needs no atomic write of its own
    with open(os.path.join(snap, _RECORD), "w", encoding="utf-8") as f:
        json.dump(record, f)
    # publish: single atomic rename of the pointer file
    tmp = _pointer_path(root) + f".__tmp_{uuid.uuid4().hex}"
    with open(tmp, "w", encoding="ascii") as f:
        f.write(_version_name(nxt))
    os.replace(tmp, _pointer_path(root))
    return nxt


def commit_record(root: str, version: int | None = None) -> dict | None:
    """The commit record of ``version`` (default: the current one):
    ``schema`` (JSON), ``rows`` and ``max`` (bigint column -> maximum, None
    for an empty table). None when there is no such version or it was
    written without a record."""
    v = version if version is not None else current_version(root)
    if v is None:
        return None
    try:
        with open(os.path.join(_snapshot_dir(root, v), _RECORD), encoding="utf-8") as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def read_version(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """Read the table — latest committed snapshot, or ``version`` as-of.
    The schema comes from the snapshot's commit record when it has one, so
    the read launches no schema-inference job."""
    v = version if version is not None else current_version(root)
    if v is None:
        raise FileNotFoundError(f"no committed version at {root}")
    snap = _snapshot_dir(root, v)
    if not os.path.isdir(snap):
        raise FileNotFoundError(f"version {v} not retained at {root} (vacuumed?)")
    record = commit_record(root, v)
    reader = spark.read
    if record is not None:
        reader = reader.schema(StructType.fromJson(record["schema"]))
    return reader.parquet(snap)


def merge_scd1_versioned(
    spark: SparkSession,
    root: str,
    source: DataFrame,
    keys: Sequence[str],
    check_duplicate_source_keys: bool = True,
    partition_by: Sequence[str] | None = None,
) -> int:
    """SCD1 merge (:func:`..plans.scd.merge_scd1_df`) of ``source`` into
    the table at ``root``, committed as its next version (atomic publish +
    time travel). Returns the new version number."""
    target = None
    if current_version(root) is not None:
        target = read_version(spark, root)
    merged = merge_scd1_df(
        target, source, keys, check_duplicate_source_keys=check_duplicate_source_keys
    )
    return commit_version(merged, root, partition_by=partition_by)


def retention_delete(
    spark: SparkSession,
    root: str,
    tombstones: DataFrame,
    on: Sequence[str],
) -> int:
    """Right-to-erasure / retention delete as a versioned rewrite — the
    GDPR-deletion shape on a parquet lake: anti-join the current version
    against the tombstone key list and commit the remainder as a NEW
    version through the same atomic pointer protocol. Readers in flight
    keep their snapshot; physical reclamation of the old files is
    :func:`vacuum`'s job (the two-step logical-delete-then-vacuum
    contract every table format uses).

    Scale: one anti-join on the delete keys — tombstone lists are tiny,
    so AQE broadcasts them and the table is scanned once; the rewrite
    cost is the table write, the same as any MERGE on vanilla parquet.
    Returns the new version number."""
    cur = read_version(spark, root)
    remaining = cur.join(tombstones, list(on), "left_anti")
    return commit_version(remaining, root)


def vacuum(root: str, keep_last: int = 1) -> list[int]:
    """Drop all but the newest ``keep_last`` snapshots (never the current
    pointer's target). Returns the removed version numbers."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    cur = current_version(root)
    versions = list_versions(root)
    keep = set(versions[-keep_last:])
    if cur is not None:
        keep.add(cur)
    removed = []
    for v in versions:
        if v not in keep:
            vdir = _snapshot_dir(root, v)
            shutil.rmtree(vdir, ignore_errors=True)
            removed.append(v)
            # out-of-band delete: a session that time-traveled to this
            # snapshot may hold its file listing in the shared
            # FileStatusCache (plans/compact._invalidate_listing
            # rationale); best-effort, sessionless callers skip it
            try:
                from pyspark.sql import SparkSession

                active = SparkSession.getActiveSession()
            except Exception:
                active = None
            if active is not None:
                from .compact import _invalidate_listing

                _invalidate_listing(active, vdir)
    return removed
