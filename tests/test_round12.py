"""Round-12 pins: incremental IVF index maintenance (append without
retrain), the driver-checked recall evaluation, streaming cell routing,
and z-order-aware compaction. The DuckDB oracles already hash-check the
catalog entries cross-engine at three SFs; these tests pin the pieces
the oracle can't see — index-file fidelity, stale-centroid drift
envelopes, actual on-disk layout, and pure-Python re-derivations of the
recall arithmetic (the shared-wrong-formula guard)."""

from __future__ import annotations

import os
import re
import shutil
import sys
import tempfile
import uuid

import numpy as np
import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark import (  # noqa: E402
    catalog,
)
from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.operators.similarity import (  # noqa: E402
    _hyperplanes,
    _probe_cells,
    append_ivf_index,
    build_ivf_index,
    cosine_topk,
    cosine_topk_ivf,
    kmeans_centroids,
)
from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.plans.compact import (  # noqa: E402
    data_file_count,
    zorder_compact_dir,
)
from tests.conftest import assert_df_equal  # noqa: E402


def _tmp(name: str) -> str:
    return os.path.join(tempfile.gettempdir(), f"t12_{uuid.uuid4().hex}_{name}")


# ---------------------------------------------------------------------------
# incremental IVF index append
# ---------------------------------------------------------------------------


def test_ivf_append_preserves_every_vector(spark, sf_dir):
    """The appended index holds EXACTLY the base + batch id set — no
    loss, no duplication (the property the full-probe oracle hash also
    proves end-to-end; this pins it at the artifact level)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 7 != 0)
    batch = emb.filter(F.col("vec_id") % 7 == 0)
    cents = kmeans_centroids(base, n_centroids=8, n_iters=1)
    path = _tmp("ivf_idx")
    try:
        build_ivf_index(base, cents, path)
        index = append_ivf_index(batch, cents, path)
        got = sorted(r.vec_id for r in index.select("vec_id").collect())
        want = sorted(r.vec_id for r in emb.select("vec_id").collect())
        assert got == want
        # every appended row landed in a valid existing cell
        cells = {r.cell for r in index.select("cell").distinct().collect()}
        assert cells <= set(range(8))
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_ivf_append_full_probe_equals_exact(spark, sf_dir):
    """Full probe over the appended index == exact brute force, however
    stale the centroids are (cell placement is performance-only)."""
    got = catalog.q_ivf_index_append(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).limit(5)
    want = cosine_topk(emb, queries, k=10).orderBy("query_id", "rank")
    assert_df_equal(got, want, sort_by=["query_id", "rank"])


def test_ivf_append_drift_envelope(spark, sf_dir):
    """Partial-probe recall with STALE centroids (trained on the base
    only, never refreshed for the appended batch) stays above the floor
    a production drift monitor would page on. The envelope is loose by
    design — it guards against the append silently mis-routing whole
    cells, not against ordinary approximation loss."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 7 != 0)
    batch = emb.filter(F.col("vec_id") % 7 == 0)
    cents = kmeans_centroids(base, n_centroids=8, n_iters=2)
    path = _tmp("ivf_drift")
    try:
        build_ivf_index(base, cents, path)
        index = append_ivf_index(batch, cents, path)
        queries = emb.filter(F.col("vec_id") < 20).limit(20)
        approx = cosine_topk_ivf(
            emb, queries, k=10, n_probe=4, centroids=cents, index=index
        )
        exact = cosine_topk(emb, queries, k=10)
        a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
        e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
        recall = len(a & e) / len(e)
        assert recall >= 0.5, f"stale-centroid recall collapsed: {recall:.3f}"
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_ivf_index_compact_collapses_files_and_preserves_rows(spark, sf_dir):
    """Two appends leave >=3 file generations per populated cell;
    per-cell compaction bin-packs each cell directory back to one file
    without touching the partition layout or losing a vector."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 3 == 0)
    cents = kmeans_centroids(base, n_centroids=8, n_iters=1)
    path = _tmp("ivf_cmp")
    try:
        build_ivf_index(base, cents, path)
        append_ivf_index(emb.filter(F.col("vec_id") % 3 == 1), cents, path)
        append_ivf_index(emb.filter(F.col("vec_id") % 3 == 2), cents, path)
        cells = [d for d in os.listdir(path) if d.startswith("cell=")]
        frag = {
            d: len([
                f for f in os.listdir(os.path.join(path, d))
                if f.endswith(".parquet")
            ])
            for d in cells
        }
        assert max(frag.values()) >= 3, frag  # three generations landed
        from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.plans.compact import (
            compact_parquet_dir,
        )

        for d in sorted(cells):
            compact_parquet_dir(spark, os.path.join(path, d), target_mb=128)
        for d in cells:
            n = len([
                f for f in os.listdir(os.path.join(path, d))
                if f.endswith(".parquet")
            ])
            assert n == 1, f"{d}: {n} files after compaction"
        back = spark.read.parquet(path)
        got = sorted(r.vec_id for r in back.select("vec_id").collect())
        want = sorted(r.vec_id for r in emb.select("vec_id").collect())
        assert got == want
    finally:
        shutil.rmtree(path, ignore_errors=True)


# ---------------------------------------------------------------------------
# recall evaluation: pure-Python re-derivation (seeded literal centroids)
# ---------------------------------------------------------------------------


def _py_dot(a, b) -> float:
    """Sequential left-fold accumulation — bit-identical to Spark's
    aggregate(zip_with(...)) fold and DuckDB's list_sum."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def test_ivf_recall_eval_matches_python(spark, sf_dir):
    rows = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    ).collect()
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in rows}
    cents = _hyperplanes(16, 64, seed=21)

    def cell_of(v) -> int:
        dots = [_py_dot(v, c) for c in cents]
        return dots.index(max(dots))

    cells = {i: cell_of(v) for i, v in vecs.items()}

    def cosine(a, b) -> float:
        return _py_dot(a, b) / (
            (_py_dot(a, a) ** 0.5) * (_py_dot(b, b) ** 0.5)
        )

    qids = sorted(i for i in vecs if i < 10)
    expected = {}
    for q in qids:
        dots = [(-_py_dot(vecs[q], c), j) for j, c in enumerate(cents)]
        probe = {j for _, j in sorted(dots)[:4]}
        cand = [
            i for i in vecs if i != q and cells[i] in probe
        ]
        approx = {
            i
            for i in sorted(
                cand, key=lambda i: (-cosine(vecs[q], vecs[i]), i)
            )[:10]
        }
        exact = {
            i
            for i in sorted(
                (i for i in vecs if i != q),
                key=lambda i: (-cosine(vecs[q], vecs[i]), i),
            )[:10]
        }
        expected[q] = len(approx & exact)

    got = {
        r.query_id: r.n_overlap
        for r in catalog.q_ivf_recall_eval(spark, sf_dir).collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# streaming IVF cell routing == batch assignment
# ---------------------------------------------------------------------------


def test_streaming_ivf_assign_matches_batch(spark, sf_dir):
    """The streaming router must reproduce the batch argmax assignment
    row-for-row (same literal centroids, same expression)."""
    from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.operators.similarity import (
        _centroid_dots,
    )

    got = catalog.q_streaming_ivf_assign(spark, sf_dir)
    cents = _hyperplanes(8, 64, seed=33)
    dots = _centroid_dots("embedding", cents)
    want = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select(
            "vec_id",
            (F.array_position(dots, F.array_max(dots)) - 1)
            .cast("long")
            .alias("cell"),
        )
        .orderBy("vec_id")
    )
    assert_df_equal(got, want, sort_by=["vec_id"])


# ---------------------------------------------------------------------------
# z-order-aware compaction
# ---------------------------------------------------------------------------


@pytest.fixture()
def fragmented_lineitem(spark, sf_dir):
    src = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"
    )
    path = _tmp("zcompact")
    src.repartition(24).write.mode("overwrite").parquet(path)
    yield src, path
    shutil.rmtree(path, ignore_errors=True)


def test_zorder_compact_layout_and_fidelity(spark, fragmented_lineitem):
    src, path = fragmented_lineitem
    before = data_file_count(path)
    assert before >= 24
    n_files = zorder_compact_dir(
        spark, path, ["l_partkey", "l_suppkey"], bits=8, file_shift=10
    )
    # 16-bit Morton key >> 10 => at most 64 tiles, one file per tile dir
    assert n_files <= 64
    tiles = [
        d for d in os.listdir(path) if d.startswith("zfile=")
    ]
    assert len(tiles) == n_files
    for d in tiles:
        parquets = [
            f for f in os.listdir(os.path.join(path, d))
            if f.endswith(".parquet")
        ]
        assert len(parquets) == 1, f"{d}: {len(parquets)} files"
    # row fidelity: every (orderkey, linenumber) row survived, exactly once
    back = spark.read.parquet(path)
    assert back.count() == src.count()
    assert (
        back.select("l_orderkey", "l_linenumber")
        .exceptAll(src.select("l_orderkey", "l_linenumber"))
        .count()
        == 0
    )


def test_zorder_compact_files_skip_on_second_dimension(spark, fragmented_lineitem):
    """The compacted layout must keep per-FILE min/max stats tight on
    the SECOND interleaved dimension (suppkey) — the property plain
    bin-packing compaction destroys. Mirrors q_zorder_pruning_stats'
    56/64 skip profile on the maintained layout."""
    src, path = fragmented_lineitem
    zorder_compact_dir(
        spark, path, ["l_partkey", "l_suppkey"], bits=8, file_shift=10
    )
    back = spark.read.parquet(path)
    ym = back.agg(F.max("l_suppkey")).collect()[0][0]
    per_file = (
        back.select(
            "zfile", F.expr(f"(l_suppkey * 256) div ({ym} + 1)").alias("zy")
        )
        .groupBy("zfile")
        .agg(F.min("zy").alias("lo"), F.max("zy").alias("hi"))
        .collect()
    )
    n = len(per_file)
    skippable = sum(1 for r in per_file if r.hi < 102 or r.lo > 127)
    assert skippable / n >= 0.7, f"skip fraction collapsed: {skippable}/{n}"


# ---------------------------------------------------------------------------
# plan-shape pins (the 100 TB contract for the round-12 entries)
# ---------------------------------------------------------------------------


def _plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_ivf_recall_eval_has_no_unbounded_cartesian(spark, sf_dir):
    """The IVF candidate space must come from the cell equi-join, never
    an all-pairs product; the only nested-loop allowed is the exact
    rung's broadcast of the LIMIT-bounded query batch."""
    plan = _plan_of(catalog.q_ivf_recall_eval(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_streaming_ivf_assign_router_is_map_only(spark, sf_dir):
    """The cell router the stream executes is a pure per-row projection:
    scan -> argmax-over-literal-dots, no shuffle, no Python, no state —
    asserted on the batch twin of the same expression (the streaming
    plan adds only the sink)."""
    from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.operators.similarity import (
        _centroid_dots,
        _hyperplanes,
    )

    cents = _hyperplanes(8, 64, seed=33)
    dots = _centroid_dots("embedding", cents)
    router = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        (F.array_position(dots, F.array_max(dots)) - 1)
        .cast("long")
        .alias("cell"),
    )
    plan = _plan_of(router)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_compact_zorder_probe_prunes_and_preaggregates(spark, sf_dir):
    """The read-back ledger probe must prune the untouched columns from
    the compacted scan and aggregate map-side before its exchange."""
    plan = _plan_of(catalog.q_compact_zorder(spark, sf_dir))
    assert "l_orderkey" not in plan  # stored but never read by the probe
    assert "l_linenumber" not in plan
    assert "partial_count" in plan or "partial_min" in plan


def test_indexed_ivf_scan_dynamically_prunes_cells(spark, sf_dir):
    """At partial probe, the cell-partitioned index scan must read ONLY
    the probed cell directories: the probe cells, picked on the driver,
    reach the index FileScan as a static ``cell IN (...)``
    PartitionFilter naming exactly those cells. This is the 100 TB
    property of the indexed path — the corpus fraction touched is
    n_probe/n_centroids in FILES, not just in compare count — and a
    refactor that drops the filter or probes via a non-partition derived
    column would silently turn every query back into a full index scan
    while staying correct."""
    path = _tmp("dpp_ivf")
    try:
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        cents = kmeans_centroids(emb, n_centroids=8, n_iters=1)
        index = build_ivf_index(emb, cents, path)
        queries = emb.filter(F.col("vec_id") < 2).limit(2)
        q = np.array([r.embedding for r in queries.collect()], dtype=np.float64)
        _, probes = _probe_cells(q, cents, 2)
        want = set(probes.ravel().tolist())
        assert len(want) < 8  # a partial probe, so the filter must prune
        df = cosine_topk_ivf(emb, queries, k=10, n_probe=2, centroids=cents, index=index)
        scans = [
            line for line in _plan_of(df).splitlines()
            if "FileScan" in line and os.path.basename(path) in line
        ]
        assert len(scans) == 1, scans
        filters = re.search(r"PartitionFilters: \[([^\]]*)\]", scans[0]).group(1)
        named = re.sub(r"cell#\d+", "", filters)
        assert {int(x) for x in re.findall(r"\d+", named)} == want, filters
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_zorder_compact_rejects_wide_keys():
    from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.plans.layout import (
        zorder_key,
    )

    with pytest.raises(ValueError):
        zorder_key([F.col("a"), F.col("b")], bits=32)
