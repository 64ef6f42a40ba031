"""Streaming SCD1 upsert: merge each micro-batch into a gold table.

Completes the incremental story: the reference re-runs batch notebooks
with ``incremental_flag=1`` to refresh gold (SURVEY.md section 3.3); the
streaming-native equivalent is a file-source stream whose micro-batches
are MERGEd into the target as they arrive — ``foreachBatch`` hands each
micro-batch to the same versioned SCD1 merge the batch pipeline uses
(plans/versioned.py), so batch and streaming upserts share one code path
and one semantic.

Exactly-once story: the checkpoint records which source files each batch
consumed. The merge itself is idempotent (SCD1 re-merging a batch is a
no-op — asserted by the property tests), so replays after a failure
converge to the same table. Each batch commits as a table version with
one atomic pointer flip; at scale that commit becomes a table-format
commit (Delta/Iceberg), same API.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def stream_upsert_scd1(
    spark: SparkSession,
    stream: DataFrame,
    root: str,
    keys: Sequence[str],
    checkpoint: str,
    available_now: bool = True,
) -> None:
    """Run a (finite, with ``available_now``) streaming upsert of
    ``stream`` into the versioned table at ``root``, committing each
    micro-batch as a table VERSION (plans/versioned): readers flip
    atomically per batch, a crash mid-batch leaves the previous version
    current, and the version history doubles as a per-micro-batch audit
    trail (time travel to the state after any batch)."""
    from ..plans.versioned import merge_scd1_versioned

    def _merge(batch: DataFrame, _batch_id: int) -> None:
        merge_scd1_versioned(spark, root, batch, keys)

    writer = stream.writeStream.foreachBatch(_merge).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    else:  # pragma: no cover - unbounded mode, not used in tests
        writer.start()
