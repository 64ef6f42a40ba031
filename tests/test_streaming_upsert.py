"""Streaming SCD1 upsert (foreachBatch -> versioned merge)."""

from __future__ import annotations

import os

from pyspark.sql.types import LongType, StringType, StructField, StructType

SCHEMA = StructType(
    [StructField("k", LongType()), StructField("v", StringType())]
)


def _write_csv(path, rows):
    path.write_text("k,v\n" + "\n".join(f"{k},{v}" for k, v in rows) + "\n")


def test_stream_upsert_merges_batches_and_is_replay_safe(spark, tmp_path):
    from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.plans.versioned import (
        read_version,
    )
    from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.streaming.upsert import (
        stream_upsert_scd1,
    )

    src = tmp_path / "landing"
    src.mkdir()
    gold = str(tmp_path / "gold" / "dim")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(SCHEMA)
            .option("header", "true")
            .option("maxFilesPerTrigger", "1")
            .csv(str(src))
        )
        stream_upsert_scd1(spark, stream, gold, ["k"], ckpt)

    # batch 1: initial load
    _write_csv(src / "b1.csv", [(1, "a"), (2, "b")])
    run()
    assert {(r["k"], r["v"]) for r in read_version(spark, gold).collect()} == {
        (1, "a"),
        (2, "b"),
    }

    # batch 2: one update, one insert — merged incrementally
    _write_csv(src / "b2.csv", [(2, "b2"), (3, "c")])
    run()
    assert {(r["k"], r["v"]) for r in read_version(spark, gold).collect()} == {
        (1, "a"),
        (2, "b2"),
        (3, "c"),
    }

    # re-run with no new files: checkpoint makes it a no-op
    before = sorted(os.listdir(os.path.join(gold, "_versions")))
    run()
    assert {(r["k"], r["v"]) for r in read_version(spark, gold).collect()} == {
        (1, "a"),
        (2, "b2"),
        (3, "c"),
    }
    assert sorted(os.listdir(os.path.join(gold, "_versions"))) == before


def test_stream_upsert_recovers_from_mid_batch_crash(spark, tmp_path):
    """Kill the query MID-micro-batch — after the merge wrote the target
    but before the checkpoint committed the batch's offsets (the worst
    crash point) — then restart from the same checkpoint. The source must
    replay the uncommitted batch, and the idempotent SCD1 merge must
    absorb the replay: final table has no duplicates and no loss."""
    import pytest
    from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.plans.versioned import (
        merge_scd1_versioned,
        read_version,
    )

    src = tmp_path / "landing"
    src.mkdir()
    gold = str(tmp_path / "gold" / "dim")
    ckpt = str(tmp_path / "ckpt")
    # disjoint keys per file: the final state is the same whichever
    # order the file source picks the two micro-batches in
    _write_csv(src / "b1.csv", [(1, "a"), (2, "b")])
    _write_csv(src / "b2.csv", [(3, "c"), (4, "d")])
    want = {(1, "a"), (2, "b"), (3, "c"), (4, "d")}

    def reader():
        return (
            spark.readStream.schema(SCHEMA)
            .option("header", "true")
            .option("maxFilesPerTrigger", "1")
            .csv(str(src))
        )

    def merge_then_crash(batch, batch_id):
        merge_scd1_versioned(spark, gold, batch, ["k"])
        if batch_id == 1:
            raise RuntimeError("injected crash: write done, offsets not committed")

    q = (
        reader()
        .writeStream.foreachBatch(merge_then_crash)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination()

    # crash landed after the write: the target already holds both batches
    assert sorted((r["k"], r["v"]) for r in read_version(spark, gold).collect()) == sorted(want)

    # restart from the same checkpoint with a well-behaved merge
    replayed = []

    def merge_and_count(batch, batch_id):
        replayed.append(batch_id)
        merge_scd1_versioned(spark, gold, batch, ["k"])

    q2 = (
        reader()
        .writeStream.foreachBatch(merge_and_count)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()

    # the uncommitted batch was replayed (not skipped, not duplicated
    # beyond it), and the re-merge changed nothing: no dupes, no loss
    assert replayed, "restart must replay the batch whose offsets never committed"
    assert sorted((r["k"], r["v"]) for r in read_version(spark, gold).collect()) == sorted(want)


def test_stream_upsert_versioned_commits_per_batch(spark, tmp_path):
    """Versioned streaming upsert: each micro-batch lands as an atomic
    table version; history supports time travel to any batch boundary."""
    from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.plans.versioned import (
        current_version,
        read_version,
    )
    from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.streaming.upsert import (
        stream_upsert_scd1,
    )

    src = tmp_path / "landing"
    src.mkdir()
    root = str(tmp_path / "gold_v" / "dim")
    ckpt = str(tmp_path / "ckpt_v")

    def run():
        stream = (
            spark.readStream.schema(SCHEMA)
            .option("header", "true")
            .option("maxFilesPerTrigger", "1")
            .csv(str(src))
        )
        stream_upsert_scd1(spark, stream, root, ["k"], ckpt)

    _write_csv(src / "b1.csv", [(1, "a"), (2, "b")])
    run()
    assert current_version(root) == 1

    _write_csv(src / "b2.csv", [(2, "b2"), (3, "c")])
    run()
    assert current_version(root) == 2
    latest = {(r["k"], r["v"]) for r in read_version(spark, root).collect()}
    assert latest == {(1, "a"), (2, "b2"), (3, "c")}
    # time travel to the state after batch 1
    v1 = {(r["k"], r["v"]) for r in read_version(spark, root, version=1).collect()}
    assert v1 == {(1, "a"), (2, "b")}

    # replay with no new files: no new version
    run()
    assert current_version(root) == 2
