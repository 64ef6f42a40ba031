"""Similarity-search tests: exact top-k correctness vs numpy, LSH recall."""

from __future__ import annotations

import math
import re
import uuid

import numpy as np
import pytest
from pyspark.sql import functions as F

from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.operators import (
    similarity as S,
)

from tests.conftest import jobs_and_error


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _numpy_topk(emb_pd, query_ids, k=10):
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb_pd.itertuples()}
    out = {}
    for q in query_ids:
        qv = vecs[q]
        sims = []
        for vid, v in vecs.items():
            if vid == q:
                continue
            sims.append((float(qv @ v / (np.linalg.norm(qv) * np.linalg.norm(v))), vid))
        sims.sort(key=lambda t: (-t[0], t[1]))
        out[q] = [vid for _, vid in sims[:k]]
    return out


def test_cosine_topk_matches_numpy(spark, emb):
    queries = emb.filter(F.col("vec_id") < 3)
    got = S.cosine_topk(emb, queries, k=10).collect()
    got_by_q = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        got_by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    expected = _numpy_topk(emb.toPandas(), [0, 1, 2], k=10)
    assert got_by_q == expected


def test_cosine_topk_sim_bounds(spark, emb):
    queries = emb.filter(F.col("vec_id") < 2)
    rows = S.cosine_topk(emb, queries, k=5).collect()
    assert all(-1.0 - 1e-9 <= r["sim"] <= 1.0 + 1e-9 for r in rows)
    for q in {r["query_id"] for r in rows}:
        sims = [r["sim"] for r in sorted(rows, key=lambda r: r["rank"]) if r["query_id"] == q]
        assert sims == sorted(sims, reverse=True)


def test_lsh_bucketing_deterministic_and_recall(spark, emb):
    b1 = S.lsh_bucket(emb).select("vec_id", "lsh_bucket").collect()
    b2 = S.lsh_bucket(emb).select("vec_id", "lsh_bucket").collect()
    assert sorted(map(tuple, b1)) == sorted(map(tuple, b2))

    # recall vs exact on planted near-duplicates: a near-dup lands in the
    # same bucket with high probability; measure on perturbed copies.
    pdf = emb.limit(20).toPandas()
    rng = np.random.default_rng(0)
    rows = []
    for r in pdf.itertuples():
        v = np.array(r.embedding, dtype=np.float32)
        rows.append((int(r.vec_id) + 100000, (v + rng.normal(0, 0.01, v.shape).astype(np.float32)).tolist(), int(r.label)))
    perturbed = spark.createDataFrame(rows, emb.schema)
    corpus = emb.unionByName(perturbed)
    queries = perturbed.limit(10)
    approx = S.cosine_topk_lsh(corpus, queries, k=1, n_planes=8)
    hits = approx.filter(F.col("neighbor_id") == F.col("query_id") - 100000).count()
    assert hits >= 7  # near-dup found in-bucket for most queries

    # OR-amplification: L tables can only add candidates, so near-dup
    # hits are monotone in n_tables and reach all queries quickly
    amp = S.cosine_topk_lsh(corpus, queries, k=1, n_planes=8, n_tables=4)
    amp_hits = amp.filter(
        F.col("neighbor_id") == F.col("query_id") - 100000
    ).count()
    assert amp_hits >= hits
    assert amp_hits >= 9


def test_threshold_pairs_symmetric_free(spark, emb):
    pairs = S.threshold_pairs(emb, block_col="label", threshold=0.3).collect()
    seen = {(r["a"], r["b"]) for r in pairs}
    assert all(a < b for a, b in seen)  # no duplicates/self-pairs
    assert len(seen) == len(pairs)


def test_quantize_embeddings_range_and_error(spark, emb):
    from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.operators.similarity import (
        quantize_embeddings,
    )

    q, lo, hi = quantize_embeddings(emb, "vec_id", "embedding")
    step = (hi - lo) / 255.0
    flat = q.select(F.explode("qvec").alias("c"))
    mn, mx = flat.agg(F.min("c"), F.max("c")).collect()[0]
    assert 0 <= mn and mx <= 255 and mx == 255  # extrema map to the ends

    # reconstruction error bounded by half a quantization step
    joined = (
        emb.join(q, "vec_id")
        .select(
            F.arrays_zip(F.col("embedding"), F.col("qvec")).alias("z")
        )
        .select(F.explode("z").alias("p"))
        .select(
            (
                F.abs(
                    F.col("p.embedding").cast("double")
                    - (F.lit(lo) + F.col("p.qvec") * F.lit(step))
                )
            ).alias("err")
        )
    )
    max_err = joined.agg(F.max("err")).collect()[0][0]
    assert max_err <= step / 2 + 1e-9


def test_threshold_pairs_unblocked_requires_explicit_opt_in(spark, emb):
    """There is no unblocked (n^2 crossJoin) form: block_col=None raises
    and points at lsh_bucket for a blocking key."""
    with pytest.raises(ValueError, match="lsh_bucket"):
        S.threshold_pairs(emb, block_col=None)


def test_pq_deterministic_and_near_dup_recall(spark, emb):
    """PQ encode is deterministic, and an ADC query finds its planted
    near-duplicate at rank 1 for most queries (same protocol as the LSH
    recall test — perturbed copies of corpus vectors)."""
    books = S.pq_train(emb, n_sub=8, dim=64, n_centroids=16, n_iters=2)
    assert books.shape == (8, 16, 8)
    c1 = sorted(map(tuple, S.pq_encode(emb, books).select("vec_id", "pq_code").collect()))
    c2 = sorted(map(tuple, S.pq_encode(emb, books).select("vec_id", "pq_code").collect()))
    assert [(i, list(c)) for i, c in c1] == [(i, list(c)) for i, c in c2]

    pdf = emb.limit(10).toPandas()
    rng = np.random.default_rng(0)
    rows = []
    for r in pdf.itertuples():
        v = np.array(r.embedding, dtype=np.float32)
        rows.append((
            int(r.vec_id) + 100000,
            (v + rng.normal(0, 0.01, v.shape).astype(np.float32)).tolist(),
            int(r.label),
        ))
    perturbed = spark.createDataFrame(rows, emb.schema)
    corpus = emb.unionByName(perturbed)
    # rerank=None: this asserts RAW ADC code-identity (with the default
    # exact re-rank the query's own corpus copy wins at sim=1.0, which
    # is correct behavior but not what this test pins)
    top = S.pq_topk(corpus, perturbed, books, k=1, rerank=None)
    hits = top.filter(F.col("neighbor_id") == F.col("query_id") - 100000).count()
    # a 0.01-sigma perturbation encodes to the same codes, so ADC ranks the
    # source vector at its reconstruction's top — allow one miss for
    # vectors whose source sits on a centroid boundary
    assert hits >= 8


def test_ivfpq_full_probe_matches_adc_and_near_dup_recall(spark, emb):
    """Two contracts for the IVFADC composition. (1) Machinery: at full
    probe (every cell visited) the result must be EXACTLY the plain
    PQ-ADC ranking minus self-matches — same codebooks, same LUT math,
    bit-equal sims — so cell pruning is provably the only approximation
    IVF adds on top of PQ. (2) Retrieval: with real pruning (4 of 16
    cells) a 0.01-sigma perturbed query still lands in its source
    vector's coarse cell and finds it at rank 1 (the near-dup protocol
    of the LSH/PQ tests; generic top-10-vs-exact recall is dominated by
    PQ quantization error on unstructured random vectors and is
    measured, not asserted, in bench.py's ann ladder)."""
    books = S.pq_train(emb, n_sub=8, dim=64, n_centroids=16, n_iters=2)
    queries = emb.filter(F.col("vec_id") < 5)

    # (1) full probe == pure ADC ranking (pq_topk keeps self-matches, so
    # compare on the non-self pairs; k=11 covers the self-slot shift)
    full = S.cosine_topk_ivfpq(
        emb, queries, books, k=10, n_centroids=4, n_probe=4
    )
    adc = S.pq_topk(emb, queries, books, k=11, rerank=None)
    full_pairs = {
        (r["query_id"], r["neighbor_id"]): r["sim"] for r in full.collect()
    }
    adc_pairs = {
        (r["query_id"], r["neighbor_id"]): r["sim"]
        for r in adc.collect()
        if r["query_id"] != r["neighbor_id"]
    }
    assert full_pairs, "full-probe IVFPQ returned nothing"
    for pair, sim in full_pairs.items():
        assert pair in adc_pairs
        assert abs(adc_pairs[pair] - sim) < 1e-12

    # (2) planted near-dups survive pruning
    pdf = emb.limit(10).toPandas()
    rng = np.random.default_rng(1)
    rows = []
    for r in pdf.itertuples():
        v = np.array(r.embedding, dtype=np.float32)
        rows.append((
            int(r.vec_id) + 100000,
            (v + rng.normal(0, 0.01, v.shape).astype(np.float32)).tolist(),
            int(r.label),
        ))
    perturbed = spark.createDataFrame(rows, emb.schema)
    corpus = emb.unionByName(perturbed)
    top = S.cosine_topk_ivfpq(
        corpus, perturbed, books, k=1, n_centroids=16, n_probe=4
    )
    hits = top.filter(F.col("neighbor_id") == F.col("query_id") - 100000).count()
    assert hits >= 7


def test_semantic_dedup_drops_planted_neardups(spark):
    """SemDeDup keep-rule: exact/near duplicate pairs inside a cluster
    lose their less-central member (id tiebreak on exact scalings, which
    are cosine-identical); dissimilar vectors all survive. Deterministic
    across input layouts."""
    import numpy as np

    from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.operators.similarity import (
        semantic_dedup,
    )

    rng = np.random.default_rng(11)
    base = rng.standard_normal((12, 8))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
    # planted dups: 100 = 2.0 * vec0 (cosine exactly 1 -> id tiebreak),
    # 101 = vec1 + tiny noise (cosine ~ 1)
    rows.append((100, [float(x) for x in 2.0 * base[0]]))
    rows.append((101, [float(x) for x in base[1] + 1e-3 * rng.standard_normal(8)]))
    survivors = {}
    for parts in (1, 7):
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        ).repartition(parts)
        out = semantic_dedup(
            df, "vec_id", "embedding", threshold=0.99, n_centroids=4, n_iters=2
        )
        survivors[parts] = {r["vec_id"] for r in out.collect()}
    assert survivors[1] == survivors[7]  # layout-independent
    kept = survivors[1]
    assert 100 not in kept and 0 in kept  # exact scaling: lower id wins
    assert len({1, 101} & kept) == 1  # noisy dup pair: exactly one lives
    # every vector without a planted partner survives
    assert {i for i in range(2, 12)} <= kept


def test_sparse_cosine_pairs_matches_numpy_reference(spark, tmp_path):
    """Integer-TF-IDF cosine over blocked pairs == a direct numpy
    computation with the same integer weighting (one block, all pairs in
    the id window)."""
    import math
    import re
    from collections import Counter

    from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.operators.similarity import (
        sparse_cosine_pairs,
    )

    rows = [
        (0, "spark joins shuffle data across the cluster", "s"),
        (1, "spark joins shuffle data across the wire", "s"),
        (2, "parquet files store columnar data", "s"),
        (3, "completely different topic entirely here now", "s"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    got = {
        (r["a"], r["b"]): (r["dot"], r["cosine"])
        for r in sparse_cosine_pairs(
            df, "doc_id", "text", "source", str(tmp_path / "w"), topk=10
        ).collect()
    }
    tf = {i: Counter(re.split(r"\s+", t.lower())) for i, t, _ in rows}
    dfreq = Counter(term for c in tf.values() for term in c)
    w = {
        i: {t: (c * 1_000_000) // dfreq[t] for t, c in cnt.items()}
        for i, cnt in tf.items()
    }
    for a in range(4):
        for b in range(a + 1, 4):
            shared = set(w[a]) & set(w[b])
            dot = sum(w[a][t] * w[b][t] for t in shared)
            na2 = sum(v * v for v in w[a].values())
            nb2 = sum(v * v for v in w[b].values())
            if dot == 0:
                assert (a, b) not in got  # no shared term -> no pair row
                continue
            ref = dot / math.sqrt(float(na2) * float(nb2))
            assert got[(a, b)][0] == dot
            assert abs(got[(a, b)][1] - ref) < 1e-12
    # near-identical docs must rank closest
    assert max(got, key=lambda k: got[k][1]) == (0, 1)


def test_centroid_and_codebook_artifacts_roundtrip(spark, emb, tmp_path):
    """save/load of trained index artifacts is bit-exact, and the
    prewarmed paths (centroids=, index=, codes=) return the SAME result
    as the self-training call — reuse must never change answers."""
    cents = S.kmeans_centroids(emb, n_centroids=8, n_iters=1)
    S.save_centroids(spark, cents, str(tmp_path / "cents"))
    assert np.array_equal(S.load_centroids(spark, str(tmp_path / "cents")), cents)

    books = S.pq_train(emb, n_sub=8, dim=64, n_centroids=8, n_iters=1)
    S.save_codebooks(spark, books, str(tmp_path / "books"))
    assert np.array_equal(S.load_codebooks(spark, str(tmp_path / "books")), books)

    queries = emb.filter(F.col("vec_id") < 8)
    base = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in S.cosine_topk_ivf(
            emb, queries, k=5, n_centroids=8, n_probe=3, n_iters=1
        ).collect()
    }
    index = S.build_ivf_index(emb, cents, str(tmp_path / "ivfidx"))
    warm = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in S.cosine_topk_ivf(
            emb, queries, k=5, n_probe=3, centroids=cents, index=index
        ).collect()
    }
    assert warm == base

    codes = S.pq_encode(emb, books)
    codes.write.mode("overwrite").parquet(str(tmp_path / "codes"))
    codes_pre = spark.read.parquet(str(tmp_path / "codes"))
    base_pq = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in S.pq_topk(emb, queries, books, k=5).collect()
    }
    warm_pq = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in S.pq_topk(emb, queries, books, k=5, codes=codes_pre).collect()
    }
    assert warm_pq == base_pq


def test_pq_rerank_full_shortlist_equals_exact(spark, emb):
    """rerank=R with R >= corpus size re-scores EVERY candidate exactly,
    so the result must equal the brute-force top-k (minus self-matches,
    which pq_topk includes by design and cosine_topk excludes — compare
    on the self-free subset)."""
    n = emb.count()
    queries = emb.filter(F.col("vec_id") < 8)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.cosine_topk(emb, queries, k=5).collect()
    }
    books = S.pq_train(emb, n_sub=8, dim=64, n_centroids=8, n_iters=1)
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in S.pq_topk(emb, queries, books, k=6, rerank=int(n)).collect()
        if r["query_id"] != r["neighbor_id"]
    }
    # k=6 including self -> at least the exact top-5 non-self appear
    assert exact <= got


def test_pq_rerank_recall_beats_plain_adc(spark, emb):
    """The re-rank refinement must not LOWER recall: recall@k of
    ADC+rerank(R) >= recall@k of plain ADC on the same codebooks (the
    shortlist contains ADC's own top-k by construction)."""
    queries = emb.filter(F.col("vec_id") < 16)
    truth: dict = {}
    for r in S.cosine_topk(emb, queries, k=5).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    n_truth = sum(len(v) for v in truth.values())
    books = S.pq_train(emb, n_sub=16, dim=64, n_centroids=8, n_iters=1)

    def recall(df):
        got: dict = {}
        for r in df.collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return sum(len(truth[q] & got.get(q, set())) for q in truth) / n_truth

    plain = recall(S.pq_topk(emb, queries, books, k=5, rerank=None))
    refined = recall(S.pq_topk(emb, queries, books, k=5, rerank=60))
    assert refined >= plain


# ---------------------------------------------------------------------------
# IVF query path: probe cells on the driver
# ---------------------------------------------------------------------------


def _plan_literal_probes(df, cents, n_probe, vec_col="embedding"):
    """Oracle: the plan-literal probe expression the IVF and MIPS query
    paths used before probes moved to the driver — centroid dots inlined
    as SQL literals, cells ordered by ``array_sort(struct(-dot, i))``,
    then ``slice``d to ``n_probe``."""

    def lit_dot(c):
        arr = "array(" + ",".join(repr(float(x)) + "D" for x in c) + ")"
        return (
            f"aggregate(zip_with(transform({vec_col}, x -> cast(x as double)), "
            f"{arr}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
        )

    dots = F.expr("array(" + ",".join(lit_dot(c) for c in cents) + ")")
    probes = F.slice(
        F.transform(
            F.array_sort(
                F.transform(dots, lambda d, i: F.struct((-d).alias("nd"), i.alias("i")))
            ),
            lambda s: s["i"],
        ),
        1,
        n_probe,
    )
    return {r["vec_id"]: list(r["p"]) for r in df.select("vec_id", probes.alias("p")).collect()}


def _same_double(a, b):
    return (a is None and b is None) or (
        a is not None and b is not None and (a == b or (math.isnan(a) and math.isnan(b)))
    )


def test_driver_probes_equal_plan_literal_probes(spark):
    """The driver-side probe lists and query norms equal what Spark's
    folds give, over random vectors, exact dot ties (small integers),
    duplicated centroids, a NULL embedding, a NULL and a NaN element,
    and n_probe past the cell count."""
    rng = np.random.default_rng(5)
    dim = 8
    rows = [(i, rng.standard_normal(dim).tolist()) for i in range(40)]
    rows += [(100 + i, rng.integers(-2, 3, dim).astype(float).tolist()) for i in range(20)]
    rows += [
        (200, None),
        (201, [1.0, None] + [0.5] * (dim - 2)),
        (202, [float("nan")] + [1.0] * (dim - 1)),
        (203, [0.0] * dim),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    batch = S._fetch_queries(df, "test", "vec_id", "embedding", dim)
    real = rng.standard_normal((12, dim))
    ints = rng.integers(-1, 2, (12, dim)).astype(float)
    for cents in (
        np.vstack([real, real[[3, 7]]]),  # cells 12, 13 duplicate 3, 7
        np.vstack([ints, ints[[0]]]),
    ):
        for n_probe in (0, 1, 3, 14, 19):
            want = _plan_literal_probes(df, cents, n_probe)
            qb, probed = S._probe_relation(batch, cents, "vec_id", "embedding", n_probe)
            got = {}
            for r in qb.collect():
                got.setdefault(r["query_id"], []).append(r["cell"])
            assert got == {q: p for q, p in want.items() if p}, (n_probe, cents[0])
            assert probed == sorted({c for p in want.values() for c in p})
    assert want[200] == want[201] == want[202] == list(range(len(cents)))  # NULL / NaN dots tie
    norms = {
        r["vec_id"]: r["n"]
        for r in df.select("vec_id", S.V.norm(F.col("embedding")).alias("n")).collect()
    }
    qb, _ = S._probe_relation(batch, cents, "vec_id", "embedding", 1)
    got_norms = {r["query_id"]: r["q_nrm"] for r in qb.collect()}
    assert all(_same_double(got_norms[q], n) for q, n in norms.items()), got_norms


def test_ivf_query_builds_in_one_job_without_centroid_literals(spark, emb, tmp_path):
    """Building an indexed search runs one job (the query fetch), and its
    plan carries the centroids as no literal."""
    cents = S.kmeans_centroids(emb, n_centroids=8, n_iters=1)
    index = S.build_ivf_index(emb, cents, str(tmp_path / "idx"))
    queries = emb.filter(F.col("vec_id") < 4)
    sc = spark.sparkContext
    group = f"ivf_build_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "build one IVF search")
    try:
        df = S.cosine_topk_ivf(emb, queries, k=5, n_probe=3, centroids=cents, index=index)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1

    def plan_doubles(d):
        text = d._jdf.queryExecution().optimizedPlan().toString()
        return {float(x) for x in re.findall(r"-?\d+\.\d+(?:E-?\d+)?", text)}

    lits = set(cents.ravel().tolist())
    # positive control: the centroid-dot expression renders its literals
    assert lits <= plan_doubles(emb.select(S._centroid_dots("embedding", cents)))
    assert not lits & plan_doubles(df)


def test_ivf_query_batch_over_cap_raises_before_scoring(spark, tmp_path):
    """MAX_QUERY_BATCH + 1 queries raise after the one fetch job, before
    anything is scored."""
    n = S.MAX_QUERY_BATCH + 1
    queries = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") % (j + 2)).cast("float") for j in range(4)]).alias("embedding"),
    )
    cents = np.eye(4)
    sc = spark.sparkContext
    group = f"ivf_cap_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "over-cap IVF batch")
    try:
        with pytest.raises(ValueError, match="split it"):
            S.cosine_topk_ivf(queries, queries, k=2, n_probe=1, centroids=cents)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_ivf_index_without_norm_raises(spark, emb, tmp_path):
    cents = S.kmeans_centroids(emb, n_centroids=4, n_iters=1)
    index = S.build_ivf_index(emb, cents, str(tmp_path / "idx")).drop("norm")
    with pytest.raises(ValueError, match="build_ivf_index"):
        S.cosine_topk_ivf(emb, emb.limit(2), k=2, n_probe=1, centroids=cents, index=index)


def test_ivf_index_stores_vector_norms(spark, emb, tmp_path):
    """The stored ``norm`` is functions.vectors.norm of the stored vector."""
    cents = S.kmeans_centroids(emb, n_centroids=4, n_iters=1)
    index = S.build_ivf_index(emb, cents, str(tmp_path / "idx"))
    bad = index.filter(~F.col("norm").eqNullSafe(S.V.norm(F.col("embedding")))).count()
    assert "norm" in index.columns and bad == 0


BOOKS8 = S.seeded_codebooks(8, 4, 8, seed=3)
SEARCHES = {
    "cosine_topk": lambda c, q: S.cosine_topk(c, q, k=3),
    "hard_negatives": lambda c, q: S.hard_negatives(c, q, "label", k=3),
    "pq_topk": lambda c, q: S.pq_topk(c, q, BOOKS8, k=3),
    "cosine_topk_ivfpq": lambda c, q: S.cosine_topk_ivfpq(
        c, q, BOOKS8, k=3, n_probe=2, centroids=S._hyperplanes(4, 64), rerank=5
    ),
    "mips_topk": lambda c, q: S.mips_topk(c, q, k=3),
    "mips_topk_cells": lambda c, q: S.mips_topk(
        c, q, k=3, n_probe=2, centroids=S._hyperplanes(4, 65)
    ),
}


@pytest.mark.parametrize("name", sorted(SEARCHES))
def test_search_builds_in_one_job(spark, emb, name):
    """Building a search that holds its query batch on the driver runs
    exactly one job, the batch fetch; the built plan then runs."""
    queries = emb.filter(F.col("vec_id") < 4)
    out = []
    assert jobs_and_error(spark, lambda: out.append(SEARCHES[name](emb, queries))) == (1, None)
    assert {r["query_id"] for r in out[0].collect()} == {0, 1, 2, 3}


_RAGGED = [(0, [1.0, 0.0, 0.0, 0.0], 0), (1, [0.0, 1.0, 0.0], 1)]
_SHORT = [(0, [1.0, 0.0, 0.0], 0), (1, [0.0, 1.0, 0.0], 1)]
_NULL_VEC = [(0, [1.0, 0.0, 0.0, 0.0], 0), (1, None, 1)]
_NULL_ELEM = [(0, [1.0, 0.0, None, 0.0], 0)]
_BOOKS = S.seeded_codebooks(2, 2, 2)
_CASES = {
    "cosine_topk-ragged": (_RAGGED, lambda q: S.cosine_topk(q, q, k=1)),
    "hard_negatives-ragged": (_RAGGED, lambda q: S.hard_negatives(q, q, "label", k=1)),
    "mips_topk-ragged": (_RAGGED, lambda q: S.mips_topk(q, q, k=1)),
    "cosine_topk_ivf-short": (_SHORT, lambda q: S.cosine_topk_ivf(q, q, k=1, centroids=np.eye(4))),
    "pq_topk-short": (_SHORT, lambda q: S.pq_topk(q, q, _BOOKS, k=1)),
    "cosine_topk_ivfpq-short": (
        _SHORT,
        lambda q: S.cosine_topk_ivfpq(q, q, _BOOKS, k=1, centroids=np.eye(4)),
    ),
    "mips_topk-short": (_SHORT, lambda q: S.mips_topk(q, q, k=1, centroids=np.eye(5))),
    "pq_topk-null_vec": (_NULL_VEC, lambda q: S.pq_topk(q, q, _BOOKS, k=1)),
    "pq_topk-null_elem": (_NULL_ELEM, lambda q: S.pq_topk(q, q, _BOOKS, k=1)),
    "cosine_topk_ivfpq-null_vec": (
        _NULL_VEC,
        lambda q: S.cosine_topk_ivfpq(q, q, _BOOKS, k=1, centroids=np.eye(4)),
    ),
}


@pytest.mark.parametrize("case", sorted(_CASES))
def test_query_batch_input_checks(spark, case):
    """A query vector of the wrong length (against the centroids or
    codebooks, or against the rest of the batch) raises a ValueError
    naming the function, and so does a NULL vector or element for the
    PQ searches — after the one fetch job, before anything is scored."""
    rows, search = _CASES[case]
    queries = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    jobs, err = jobs_and_error(spark, lambda: search(queries))
    assert jobs == 1
    assert err is not None and str(err).startswith(case.split("-")[0] + ": query vectors must")


def test_mips_driver_probes_equal_plan_literal_probes(spark, monkeypatch):
    """mips_topk's cell rung probes, per query, the cells that its former
    plan-literal expression picked for the query augmented with 0.0: the
    probe lists it builds equal that expression's, and with k past the
    corpus size its output pairs are exactly the non-self corpus rows in
    those cells. Covers random vectors of varied norms, exact integer
    ties, duplicated centroids, a NULL query and partial to full probe."""
    built = []

    def recording_probe_relation(*args):
        qb, probed = real_probe_relation(*args)
        built.append(qb)
        return qb, probed

    real_probe_relation = S._probe_relation
    monkeypatch.setattr(S, "_probe_relation", recording_probe_relation)
    rng = np.random.default_rng(9)
    dim = 6
    rows = [(i, (rng.standard_normal(dim) * rng.uniform(0.5, 3)).tolist()) for i in range(40)]
    rows += [(100 + i, rng.integers(-2, 3, dim).astype(float).tolist()) for i in range(20)]
    schema = "vec_id long, embedding array<float>"
    corpus = spark.createDataFrame(rows, schema)
    queries = spark.createDataFrame(rows[:40:5] + rows[40::3] + [(999, None)], schema)

    e = F.col("embedding")
    m2 = corpus.agg(F.max(S.V.dot(e, e))).collect()[0][0]

    def aug(df, extra):
        return df.select(
            "vec_id",
            F.concat(F.transform(e, lambda x: x.cast("double")), F.array(extra)).alias("__aug"),
        )

    aug_corpus = aug(corpus, F.sqrt(F.greatest(F.lit(0.0), F.lit(m2) - S.V.dot(e, e))))
    aug_queries = aug(queries, F.lit(0.0))
    real = rng.standard_normal((10, dim + 1))
    ints = rng.integers(-1, 2, (10, dim + 1)).astype(float)
    for cents in (np.vstack([real, real[[2, 5]]]), np.vstack([ints, ints[[0]]])):
        cells = {q: p[0] for q, p in _plan_literal_probes(aug_corpus, cents, 1, "__aug").items()}
        sizes = []
        for n_probe in (1, 3, len(cents)):
            probes = _plan_literal_probes(aug_queries, cents, n_probe, "__aug")
            want = {
                (q, c) for q, p in probes.items() for c, cell in cells.items() if cell in p and c != q
            }
            got = S.mips_topk(corpus, queries, k=len(rows), n_probe=n_probe, centroids=cents)
            got_probes = {}
            for r in built.pop().collect():
                got_probes.setdefault(r["query_id"], []).append(r["cell"])
            assert got_probes == probes, n_probe
            assert {(r["query_id"], r["neighbor_id"]) for r in got.collect()} == want, n_probe
            sizes.append(len(want))
        assert sizes[0] < sizes[1] < sizes[2]
    assert probes[999] == list(range(len(cents)))
