"""Round-15 (optimization round 2) pins.

1. q_lsh_band_sweep's verify-once rewrite: with aligned band boundaries
   the candidate sets NEST (C(2x4) ⊆ C(4x2) ⊆ C(8x1)), so Jaccard
   verified over the widest config re-attaches exactly to the narrower
   configs — the rewritten query must match the old per-config-verify
   formulation row for row.
2. q_mutual_knn_pairs' half-pair scoring: sim is bit-identical under
   operand swap (elementwise x*y is IEEE-commutative, the fold order is
   the array index order on both sides, na*nb == nb*na), so scoring
   each unordered pair once and exploding both orientations must
   reproduce the full qa!=qb join's output bit for bit.
3. pagerank_int's fused node/degree table (one explode aggregation
   instead of union-distinct + groupBy + anti-join) computes the same
   ranks as the r14 formulation, and still rejects dangling nodes.
4. The cell-partitioned IVF index writes keep the per-generation file
   bound (one file per cell per build or append) and lose or duplicate
   nothing.
5. connected_components hands back a localCheckpoint and drops its
   cache entries (the r14 ADVICE leak): persistent-RDD count returns to
   its baseline after the call.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import uuid

from pyspark.sql import Window
from pyspark.sql import functions as F

from tests.conftest import assert_df_equal


def _tmp(name: str) -> str:
    return os.path.join(tempfile.gettempdir(), f"t15_{uuid.uuid4().hex}_{name}")


# ---------------------------------------------------------------------------
# 1. band-sweep verify-once == per-config verify
# ---------------------------------------------------------------------------


def test_band_sweep_candidates_nest(spark, sf_dir):
    from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.operators.dedup import (
        lsh_candidate_pairs,
        materialized_signatures,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sigs = materialized_signatures(docs, "doc_id", "text", _tmp("nest_sigs"))
    sets_by_bands = {}
    for bands in (2, 4, 8):
        cands = lsh_candidate_pairs(sigs, "doc_id", k=8, bands=bands)
        sets_by_bands[bands] = {(r["a"], r["b"]) for r in cands.collect()}
    assert sets_by_bands[2] <= sets_by_bands[4] <= sets_by_bands[8]


def test_band_sweep_verify_once_matches_per_config(spark, sf_dir):
    from functools import reduce

    from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark import (
        catalog,
    )
    from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.operators.dedup import (
        hashed_shingle_sets,
        jaccard_pairs,
        lsh_candidate_pairs,
        materialized_signatures,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sigs = materialized_signatures(docs, "doc_id", "text", _tmp("bs_sigs"))
    sets_path = _tmp("bs_sets")
    hashed_shingle_sets(docs, "doc_id", "text").write.mode("overwrite").parquet(
        sets_path
    )
    sets = spark.read.parquet(sets_path)
    rows = []
    for bands in (2, 4, 8):
        cands = lsh_candidate_pairs(sigs, "doc_id", k=8, bands=bands)
        ver = jaccard_pairs(docs, cands, "doc_id", "text", sets=sets)
        rows.append(
            ver.agg(
                F.count(F.lit(1)).cast("long").alias("n_candidates"),
                F.sum(F.when(F.col("jaccard") >= 0.5, 1).otherwise(0))
                .cast("long")
                .alias("n_true"),
            ).select(
                F.lit(bands).cast("long").alias("bands"),
                F.lit(8 // bands).cast("long").alias("rows_per_band"),
                "n_candidates",
                "n_true",
                F.when(
                    F.col("n_candidates") > 0,
                    F.col("n_true").cast("double")
                    / F.col("n_candidates").cast("double"),
                ).alias("candidate_precision"),
            )
        )
    old = reduce(lambda x, y: x.unionByName(y), rows).orderBy("bands")
    new = catalog.q_lsh_band_sweep(spark, sf_dir)
    assert_df_equal(new, old, sort_by=["bands"])


# ---------------------------------------------------------------------------
# 2. mutual-kNN half-pair scoring == full-pair scoring
# ---------------------------------------------------------------------------


def test_mutual_knn_half_pair_matches_full_join(spark, sf_dir):
    from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark import (
        catalog,
    )
    from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.functions.vectors import (
        dot,
        norm,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
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
    scored = a.join(
        b, (F.col("label") == F.col("lb")) & (F.col("qa") != F.col("qb"))
    ).select(
        "label", "qa", "qb",
        (dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias("sim"),
    )
    w = Window.partitionBy("label", "qa").orderBy(F.col("sim").desc(), F.col("qb"))
    ranked = scored.withColumn("rk", F.row_number().over(w).cast("long")).filter(
        F.col("rk") <= 5
    )
    fwd = ranked.select(
        "label", F.col("qa").alias("a"), F.col("qb").alias("b"),
        F.col("sim").alias("sim"), F.col("rk").alias("rank_ab"),
    ).filter(F.col("a") < F.col("b"))
    rev = ranked.select(
        F.col("qa").alias("b2"), F.col("qb").alias("a2"),
        F.col("rk").alias("rank_ba"),
    )
    old = (
        fwd.join(rev, (F.col("a") == F.col("a2")) & (F.col("b") == F.col("b2")))
        .select("label", "a", "b", "sim", "rank_ab", "rank_ba")
    )
    new = catalog.q_mutual_knn_pairs(spark, sf_dir)
    assert_df_equal(new, old, sort_by=["label", "a", "b"])


# ---------------------------------------------------------------------------
# 3. pagerank_int fused stats == r14 formulation; dangling still rejected
# ---------------------------------------------------------------------------


def test_pagerank_int_matches_r14_formulation(spark):
    from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.operators.graph import (
        pagerank_int,
    )

    edges = [(1, 2), (2, 1), (2, 3), (3, 2), (3, 4), (4, 3), (1, 4), (4, 1),
             (5, 6), (6, 5)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = pagerank_int(df, n_iters=4)
    assert got.columns == ["node", "rank_i"]

    # r14 formulation, inlined
    e = df.localCheckpoint(eager=True)
    deg = (
        e.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("__pr_deg"))
        .withColumnRenamed("src", "node")
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    scale = 10**12
    n = nodes.count()
    base = (15 * (scale // n)) // 100
    ranks = nodes.withColumn("rank_i", F.lit(scale // n).cast("long"))
    for _ in range(4):
        contrib = ranks.join(deg, "node").select(
            "node", F.expr("rank_i div __pr_deg").alias("__pr_c")
        )
        insum = (
            e.join(contrib, e["src"] == contrib["node"])
            .groupBy("dst")
            .agg(F.sum("__pr_c").cast("long").alias("__pr_s"))
        )
        ranks = nodes.join(insum, nodes["node"] == insum["dst"], "left").select(
            "node",
            (
                F.lit(base).cast("long")
                + F.expr("(85 * coalesce(__pr_s, 0L)) div 100")
            ).cast("long").alias("rank_i"),
        )
    assert_df_equal(got, ranks, sort_by=["node"])


def test_pagerank_int_still_rejects_dangling(spark):
    import pytest

    from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.operators.graph import (
        pagerank_int,
    )

    df = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])  # 3 dangles
    with pytest.raises(ValueError, match="dangling"):
        pagerank_int(df, n_iters=2)


# ---------------------------------------------------------------------------
# 4. IVF index writes: bounded files, nothing lost
# ---------------------------------------------------------------------------


def test_ivf_write_split_bounds_files_and_preserves_rows(spark, sf_dir):
    """The build writes one file per cell and each append adds at most one
    more, and the appended index holds every vector exactly once."""
    from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.operators.similarity import (
        append_ivf_index,
        build_ivf_index,
        kmeans_centroids,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 7 != 0)
    batch = emb.filter(F.col("vec_id") % 7 == 0)
    cents = kmeans_centroids(base, n_centroids=8, n_iters=1)
    path = _tmp("ivf_plain")
    try:
        build_ivf_index(base, cents, path)
        for d in os.listdir(path):
            if d.startswith("cell="):
                n = len(glob.glob(os.path.join(path, d, "*.parquet")))
                assert n == 1, f"{d}: {n}"
        index = append_ivf_index(batch, cents, path)
        for d in os.listdir(path):
            if d.startswith("cell="):
                n = len(glob.glob(os.path.join(path, d, "*.parquet")))
                assert 1 <= n <= 2, f"{d}: {n}"
        got = sorted(r.vec_id for r in index.select("vec_id").collect())
        want = sorted(r.vec_id for r in emb.select("vec_id").collect())
        assert got == want
    finally:
        shutil.rmtree(path, ignore_errors=True)


# ---------------------------------------------------------------------------
# 5. global_middle_rows == with_global_row_number + middle filter
# ---------------------------------------------------------------------------


def test_global_middle_rows_matches_full_rank(spark):
    from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.operators.relational import (
        global_middle_rows,
        with_global_row_number,
    )

    for n_rows, parts in ((1, 1), (2, 1), (7, 3), (100, 8), (101, 8)):
        df = (
            spark.range(n_rows)
            .select(
                (F.pmod(F.col("id") * 2654435761, F.lit(997))).alias("v"),
                F.col("id").alias("tie"),
            )
            .repartition(parts)
        )
        full = with_global_row_number(df, ["v", "tie"], rn_col="rn", n_col="n")
        want = full.filter(
            (F.col("rn") == F.expr("(n + 1) div 2"))
            | (F.col("rn") == F.expr("n div 2 + 1"))
        )
        got = global_middle_rows(df, ["v", "tie"], rn_col="rn", n_col="n")
        assert_df_equal(got, want, sort_by=["rn"])


# ---------------------------------------------------------------------------
# 6. connected_components no longer leaks its final cache entry
# ---------------------------------------------------------------------------


def test_connected_components_releases_cache(spark):
    """The final labels ride a localCheckpoint (reclaimed by the
    ContextCleaner once the caller drops the result), NOT a CacheManager
    entry (held strongly for the session lifetime — the r14 leak)."""
    from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.operators.components import (
        connected_components,
    )

    cm = spark._jsparkSession.sharedState().cacheManager()
    cm.clearCache()
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)], ["a", "b"]
    )
    got = {
        (r["node"], r["component"])
        for r in connected_components(df).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }
    assert cm.isEmpty(), "connected_components left a CacheManager entry"
