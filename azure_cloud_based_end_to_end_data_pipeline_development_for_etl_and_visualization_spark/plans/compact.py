"""Small-file compaction for parquet table directories.

Incremental pipelines accrete files: every merge/append writes at least
one file per task, and a 100 TB table fed by thousands of micro-batches
degrades into millions of KB-sized files — scan planning, footer reads,
and shuffle fan-in all scale with file COUNT, not bytes. Compaction
rewrites a directory to approximately ``target_mb``-sized files.

Implementation: size the directory, compute ``ceil(bytes / target)``,
rewrite through ``repartition(n)`` (or ``repartitionByRange(n, sort_cols)``
to also restore clustering for min/max row-group skipping), and swap the
rewrite in through a dot-prefixed side directory (:func:`_swap_in`). On a
``plans.versioned`` table, commit the rewrite as a new snapshot instead,
which makes compaction a zero-risk background job: readers keep the old
version until the atomic pointer flip.

Scale: one full read + one full shuffle + one full write of the table —
run it per-partition (pass the partition subdirectory) on hive-layout
tables so routine compaction touches only fresh partitions.
"""

from __future__ import annotations

import math
import os
import shutil
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrameWriter, SparkSession


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def data_file_count(path: str) -> int:
    n = 0
    for _root, _dirs, files in os.walk(path):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def _invalidate_listing(spark: SparkSession, path: str) -> None:
    """Invalidate Spark's session-shared file-status cache for ``path``
    after an OUT-OF-BAND directory mutation (``os.rename`` /
    ``shutil.rmtree`` outside Spark's write path). Spark refreshes its
    own listings after ITS writes, but a swap it never saw can leave the
    FileStatusCache serving file names that no longer exist — the next
    scan of the path then dies inside a FileScanRDD task with a
    file-not-found, which is exactly the (one-off, nondeterministic)
    crash signature that voided the round-13 driver bench capture
    (BENCH_r13.json rc=1). Best-effort: cache invalidation must never
    turn a successful swap into a failure."""
    try:
        spark.catalog.refreshByPath(path)
    except Exception:
        pass


def _side_dir(path: str, tag: str) -> str:
    """Dot-prefixed sibling directory for the swap protocol. A crash
    between the write and the renames used to strand visible
    ``cell=N.__compact_<hex>`` siblings INSIDE a partitioned table root,
    breaking partition discovery for every later reader; Spark's file
    listing ignores dot-prefixed entries, so stranded side dirs are
    invisible until swept."""
    parent, base = os.path.split(os.path.abspath(path))
    return os.path.join(parent, f".{base}.{tag}_{uuid.uuid4().hex}")


def _swap_in(spark: SparkSession, path: str, writer: DataFrameWriter, tag: str) -> int:
    """Write through ``writer`` into a side directory, then swap it in for
    ``path`` with two renames: readers see the old files until the first
    rename, and ``path`` is missing between the two. Returns the new
    data-file count."""
    tmp = _side_dir(path, tag)
    writer.parquet(tmp)
    old = _side_dir(path, "__old")
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    _invalidate_listing(spark, path)
    return data_file_count(path)


def compact_parquet_dir(
    spark: SparkSession,
    path: str,
    target_mb: int = 128,
    sort_cols: Sequence[str] | None = None,
) -> int:
    """Rewrite the parquet directory at ``path`` into ~``target_mb`` files.

    ``sort_cols`` switches to a range repartition + within-partition sort,
    restoring value clustering so parquet row-group min/max stats prune
    effectively after compaction. Returns the new file count."""
    n_files = max(1, math.ceil(dir_bytes(path) / (target_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    if sort_cols:
        out = df.repartitionByRange(n_files, *sort_cols).sortWithinPartitions(
            *sort_cols
        )
    else:
        out = df.repartition(n_files)
    return _swap_in(spark, path, out.write.mode("overwrite"), "__compact")


def zorder_compact_dir(
    spark: SparkSession,
    path: str,
    cols: Sequence[str],
    bits: int = 8,
    file_shift: int = 10,
    file_col: str = "zfile",
) -> int:
    """Z-order-aware compaction: rewrite the parquet directory at
    ``path`` re-clustered on the Morton key of ``cols`` so the per-file
    min/max data-skipping stats that :mod:`..plans.layout` established
    SURVIVE routine maintenance — plain bin-packing compaction
    (:func:`compact_parquet_dir`) destroys multi-dimensional clustering,
    which silently turns every stats-pruned probe back into a full scan.
    This is the portable composition Delta Lake ships as
    ``OPTIMIZE ... ZORDER BY`` applied to fresh-partition upkeep.

    Layout determinism: each ``cols`` member is range-normalized to a
    ``bits``-bit domain by its own max (collected once as a 1-row scalar
    aggregate — which also fail-fasts on negative or all-NULL keys, the
    two inputs Morton interleaving silently corrupts — then compiled in
    as literals; raw Morton over
    unequal key widths degenerates to a single-column sort), the keys
    are bit-interleaved (:func:`..plans.layout.zorder_key`), and the
    file assignment is the ANALYTIC ``zkey >> file_shift`` written as a
    ``file_col`` hive partition — one file per tile directory (hash
    repartition on the tile id puts each tile in exactly one task), so
    the resulting layout is a pure function of the data, not of sampled
    range-partition boundaries, and a DuckDB oracle can recompute every
    per-file stat exactly. Rows inside each tile are sorted by the full
    Morton key for row-group-level skipping on top of file-level.

    Same atomic side-directory swap as :func:`compact_parquet_dir`:
    readers see the old layout until the rename. Scale: one read + one
    hash shuffle + one write of ONLY the directory it is pointed at —
    point it at fresh hive partitions, never the whole 100 TB table.
    Returns the new data-file count."""
    from pyspark.sql import functions as F

    from .layout import zorder_key

    df = spark.read.parquet(path)
    # scalar-class collect (registered in tools/collect_audit.py): one
    # row of per-key min/max. The mins exist to FAIL FAST on negative or
    # all-NULL keys — zorder_key's shiftright/bitwiseAND emits garbage
    # interleave bits for negative values, and a NULL key would write a
    # null zfile as __HIVE_DEFAULT_PARTITION__ (silent layout corruption,
    # unlike zorder_key's own bits*n_cols guard which raises).
    stats = df.agg(
        *[F.min(c).alias(f"__min_{i}") for i, c in enumerate(cols)],
        *[F.max(c).alias(f"__max_{i}") for i, c in enumerate(cols)],
    ).collect()[0]
    for i, c in enumerate(cols):
        lo, hi = stats[f"__min_{i}"], stats[f"__max_{i}"]
        if lo is None or hi is None:
            raise ValueError(
                f"zorder_compact_dir: column {c!r} is all-NULL or the "
                f"directory is empty — cannot derive a Morton domain"
            )
        if int(lo) < 0:
            raise ValueError(
                f"zorder_compact_dir: column {c!r} has negative values "
                f"(min={lo}); Morton interleaving needs a non-negative "
                f"integer domain — shift or re-encode the key first"
            )
    scale = 1 << bits
    scaled = [
        F.expr(f"({c} * {scale}) div {int(stats[f'__max_{i}']) + 1}")
        for i, c in enumerate(cols)
    ]
    keyed = df.withColumn("__zkey", zorder_key(scaled, bits)).withColumn(
        file_col, F.shiftright(F.col("__zkey"), file_shift).cast("int")
    )
    out = (
        keyed.repartition(file_col)
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
    )
    return _swap_in(
        spark, path, out.write.mode("overwrite").partitionBy(file_col), "__zcompact"
    )
