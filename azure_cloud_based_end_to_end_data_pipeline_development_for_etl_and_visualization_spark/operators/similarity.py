"""Similarity search over embedding columns (``array<float>``).

North-star extension (SURVEY.md 2.8, PAPERS.md REPOSE ICDE 2021 / EDBT 2020
top-k): brute-force cosine top-k as the exact baseline, random-hyperplane
LSH bucketing as the scale path.

Scale design: brute-force is a broadcast nested loop — correct and fine
when the query set is small (queries broadcast, corpus streamed, top-k via
per-query window). For corpus-vs-corpus at 100 TB, the LSH variant buckets
both sides by hyperplane sign bits so the join compares only same-bucket
candidates; recall is tunable via number of planes / probe tables (tested
in tests/test_similarity.py).

IVF search (:func:`cosine_topk_ivf`) keeps its plan fixed across query
batches: each batch is fetched once, its probe cells are picked on the
driver with the same floating-point folds Spark uses, and the (query,
cell) pairs join the index as a broadcast in-memory relation. The index
stores each vector's ``norm``, the query reads only the probed cell
directories (a static partition filter), and each candidate pair costs
one dot product.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from ..functions import vectors as V

# Driver-side budget for the QUERY side of the search APIs below. The
# corpus side always stays distributed, but queries are either collected
# (PQ/IVFPQ lookup tables: |Q| x n_sub x n_centroids doubles) or
# broadcast whole (the exact brute-force rungs) — so a fact-sized
# queries DataFrame is a driver/executor OOM, the exact failure class
# threshold_pairs' ``allow_full_cross`` guards one function over. At the
# default cap the collected LUT state is ~16 MB (8192 queries x 128
# doubles x 16 B) — comfortably driver-sized; callers with bigger
# retrieval batches split them (the batching is embarrassingly parallel
# across query splits) or override explicitly.
DEFAULT_MAX_QUERY_BATCH = 8192


def _require_bounded_queries(
    queries: DataFrame,
    fn_name: str,
    max_query_batch: int,
    allow_full_cross: bool,
) -> None:
    """Fail fast if the queries side exceeds the driver-side budget.

    Cost: one ``limit(cap + 1).count()`` job — bounded by the cap, never
    a full scan of a fact-sized input (the limit short-circuits)."""
    if allow_full_cross:
        return
    cap = int(max_query_batch)
    if cap <= 0:
        raise ValueError(
            f"{fn_name}: max_query_batch must be positive (got "
            f"{max_query_batch}); pass allow_full_cross=True to disable "
            "the query-batch guard entirely"
        )
    if queries.limit(cap + 1).count() > cap:
        raise ValueError(
            f"{fn_name}: queries side exceeds max_query_batch={cap} rows."
            " The query batch is collected/broadcast driver-side (the"
            " corpus side stays distributed), so a fact-sized queries"
            " DataFrame would OOM the driver at scale. Split the batch"
            " (query batching is embarrassingly parallel), raise"
            " max_query_batch deliberately, or pass allow_full_cross=True"
            " to override explicitly."
        )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    max_query_batch: int = DEFAULT_MAX_QUERY_BATCH,
    allow_full_cross: bool = False,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine similarity.

    Output: (query_id, neighbor_id, rank, sim). Self-matches excluded.
    Plan: broadcast(queries) x corpus -> cosine expr (JVM, no UDF) ->
    row_number window partitioned by query.

    The queries side is BROADCAST whole, so it is count-guarded to
    ``max_query_batch`` rows (default 8192); a bigger batch raises unless
    ``allow_full_cross=True`` is passed explicitly — the same discipline
    as :func:`threshold_pairs`."""
    _require_bounded_queries(
        queries, "cosine_topk", max_query_batch, allow_full_cross
    )
    # norms fold ONCE per side row instead of once per PAIR inside
    # cosine() — 3 interpreted array folds per pair drop to 1 (the
    # q_mutual_knn_pairs hoist, measured 11.4 s -> ~4 s there).
    # Bit-identical: same left-to-right folds, same (q_nrm * c_nrm)
    # operand order as cosine(q_vec, c_vec)'s norm(q) * norm(c).
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        V.norm(F.col(vec_col)).alias("q_nrm"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        V.norm(F.col(vec_col)).alias("c_nrm"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                V.dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_nrm") * F.col("c_nrm"))
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def threshold_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
    threshold: float = 0.35,
    allow_full_cross: bool = False,
) -> DataFrame:
    """Embedding near-duplicate pairs: cosine >= threshold, blocked on a
    grouping column (cuts the pair space from n^2 to sum of per-block
    n_b^2 — the standard blocking trick).

    ``block_col=None`` is an unblocked corpus x corpus crossJoin —
    quadratic, a non-starter beyond toy corpora — so it raises unless
    ``allow_full_cross=True`` is passed explicitly (mirrors range_join's
    guard against accidental nested-loop plans). For an unblocked corpus,
    derive a blocking key first: ``lsh_bucket`` from this module gives a
    plan-literal hyperplane bucket that serves exactly this purpose."""
    if block_col is None and not allow_full_cross:
        raise ValueError(
            "threshold_pairs(block_col=None) is an n^2 crossJoin; pass a "
            "blocking column (e.g. lsh_bucket(...) output) or opt in "
            "explicitly with allow_full_cross=True"
        )
    # per-side norm hoist (the cosine_topk rationale): one fold per
    # pair instead of three, bit-identical values
    a_cols = [
        F.col(id_col).alias("a"),
        F.col(vec_col).alias("va"),
        V.norm(F.col(vec_col)).alias("__na"),
    ]
    b_cols = [
        F.col(id_col).alias("b"),
        F.col(vec_col).alias("vb"),
        V.norm(F.col(vec_col)).alias("__nb"),
    ]
    if block_col:
        a = corpus.select(F.col(block_col).alias("blk"), *a_cols)
        b = corpus.select(F.col(block_col).alias("blk"), *b_cols)
        joined = a.join(b, "blk").filter(F.col("a") < F.col("b"))
    else:
        joined = (
            corpus.select(*a_cols)
            .crossJoin(corpus.select(*b_cols))
            .filter(F.col("a") < F.col("b"))
        )
    sim = V.dot(F.col("va"), F.col("vb")) / (F.col("__na") * F.col("__nb"))
    out_cols = ["a", "b", sim.alias("sim")]
    if block_col:
        out_cols = [F.col("blk").alias(block_col), *out_cols]
    return joined.select(*out_cols).filter(F.col("sim") >= threshold)


def _hyperplanes(n_planes: int, dim: int, seed: int = 7) -> np.ndarray:
    return np.random.default_rng(seed).standard_normal((n_planes, dim))


def seeded_codebooks(
    n_sub: int, n_centroids: int, sub_dim: int, seed: int = 7
) -> np.ndarray:
    """Seeded-constant PQ codebooks, shaped like :func:`pq_train` output.
    Not a substitute for training (random codewords quantize worse) —
    they exist so the ADC scoring machinery can be compiled into BOTH a
    Spark plan and a DuckDB oracle as identical literals and
    hash-checked end to end (the q_ivf_recall_eval closure trick)."""
    return np.random.default_rng(seed).standard_normal(
        (n_sub, n_centroids, sub_dim)
    )


def lsh_bucket(
    df: DataFrame,
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 7,
    out_col: str = "lsh_bucket",
) -> DataFrame:
    """Random-hyperplane LSH bucket id: sign bit per plane, packed to a long.

    Planes are seeded constants compiled into the plan as array literals, so
    bucketing is a pure JVM expression — no UDF, no shuffle."""
    planes = _hyperplanes(n_planes, dim, seed)
    bits = " + ".join(
        f"(case when {_lit_dot_sql(vec_col, plane)} > 0 then {2**i} else 0 end)"
        for i, plane in enumerate(planes)
    )
    return df.withColumn(out_col, F.expr(f"cast({bits} as bigint)"))


def _lit_dot_sql(vec_col: str, vec) -> str:
    """SQL text of dot(vec_col, literal vector) — the same
    transform-cast + zip_with + left-fold tree as functions.vectors.dot
    (literal elements are typed double directly, so their cast is
    elided; values are bit-identical). Generated as ONE expression
    string because building dim x n_centroids literals through the
    Column API costs thousands of py4j round-trips per plan — measured
    at seconds of driver time per k-means iteration."""
    arr = "array(" + ",".join(repr(float(x)) + "D" for x in vec) + ")"
    return (
        f"aggregate(zip_with(transform({vec_col}, x -> cast(x as double)), "
        f"{arr}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
    )


def _centroid_dots(vec_col: str, centroids: np.ndarray) -> "F.Column":
    """Array of dot(vec, centroid_i) — pure JVM expression, centroids
    compiled in as literals (single generated-SQL expression)."""
    return F.expr(
        "array(" + ",".join(_lit_dot_sql(vec_col, c) for c in centroids) + ")"
    )


def kmeans_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_iters: int = 2,
    sample_frac: float | None = None,
) -> np.ndarray:
    """Deterministic Lloyd's k-means over the corpus, expressed in
    DataFrame ops (no MLlib dependency, no Python in the per-row path).

    Init: the ``n_centroids`` corpus vectors with the smallest
    ``xxhash64(id)`` (a deterministic pseudo-random sample). Each
    iteration: argmin-assign via a centroid-dot array literal (JVM
    expression), then recompute means with posexplode + groupBy. Only
    centroid-sized data (n_centroids x dim rows) ever reaches the driver
    — corpus-size work stays distributed, so iterations scale to any
    corpus the cluster can scan. ``sample_frac`` trains on a
    deterministic xxhash64 sample (:func:`train_sample`) — the 100 TB
    shape: cluster a fraction, assign everything."""
    corpus = train_sample(corpus, id_col, sample_frac)
    seeds = (
        corpus.select(F.col(vec_col).alias("v"), F.xxhash64(F.col(id_col)).alias("h"))
        .orderBy("h")
        .limit(n_centroids)
        .collect()
    )
    cents = np.array([r["v"] for r in seeds], dtype=np.float64)
    for _ in range(n_iters):
        dots = _centroid_dots(vec_col, cents)
        assigned = corpus.select(
            F.col(vec_col).alias("v"),
            (F.array_position(dots, F.array_max(dots)) - 1).alias("cell"),
        )
        rows = (
            assigned.select("cell", F.posexplode(F.col("v")).alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        new = cents.copy()  # empty cells keep their previous centroid
        for r in rows:
            new[int(r["cell"]), int(r["pos"])] = r["m"]
        cents = new
    return cents


def save_centroids(spark, cents: np.ndarray, path: str) -> None:
    """Persist a trained k-means centroid matrix as a parquet artifact
    (rows ``(cell, pos, value)``) — the reusable-index half of the
    train/query split: at 100 TB, centroids train once on a sample and
    every subsequent IVF / SemDeDup call loads them instead of
    re-clustering the corpus (the LM-count-table artifact pattern
    applied to vector indexes)."""
    rows = [
        (int(c), int(p), float(cents[c, p]))
        for c in range(cents.shape[0])
        for p in range(cents.shape[1])
    ]
    spark.createDataFrame(rows, "cell int, pos int, value double").write.mode(
        "overwrite"
    ).parquet(path)


def load_centroids(spark, path: str) -> np.ndarray:
    """Load a :func:`save_centroids` artifact back to the (n_centroids,
    dim) matrix. Centroid-sized driver traffic only."""
    rows = spark.read.parquet(path).collect()
    n_c = max(r["cell"] for r in rows) + 1
    dim = max(r["pos"] for r in rows) + 1
    cents = np.zeros((n_c, dim), dtype=np.float64)
    for r in rows:
        cents[r["cell"], r["pos"]] = r["value"]
    return cents


def save_codebooks(spark, books: np.ndarray, path: str) -> None:
    """Persist trained PQ codebooks (``(n_sub, n_centroids, sub_dim)``)
    as parquet rows ``(sub, cell, pos, value)`` — PQ training dominates
    the ann bench (see bench.py); amortize it by training once and
    loading per query batch."""
    n_sub, n_c, sub_dim = books.shape
    rows = [
        (s, c, p, float(books[s, c, p]))
        for s in range(n_sub)
        for c in range(n_c)
        for p in range(sub_dim)
    ]
    spark.createDataFrame(
        rows, "sub int, cell int, pos int, value double"
    ).write.mode("overwrite").parquet(path)


def load_codebooks(spark, path: str) -> np.ndarray:
    """Load a :func:`save_codebooks` artifact back to its
    (n_sub, n_centroids, sub_dim) array."""
    rows = spark.read.parquet(path).collect()
    n_sub = max(r["sub"] for r in rows) + 1
    n_c = max(r["cell"] for r in rows) + 1
    sub_dim = max(r["pos"] for r in rows) + 1
    books = np.zeros((n_sub, n_c, sub_dim), dtype=np.float64)
    for r in rows:
        books[r["sub"], r["cell"], r["pos"]] = r["value"]
    return books


def _ivf_rows(
    df: DataFrame, centroids: np.ndarray, id_col: str, vec_col: str
) -> DataFrame:
    """Index rows ``(id, vec, norm, cell)``: the nearest cell (argmax
    centroid dot, a plan-literal JVM expression) and the vector's norm,
    stored so no query recomputes it. Hash-distributed by cell before the
    partitioned write (the lakehouse write.distribution-mode=hash
    discipline): without it every input partition writes a sliver into
    every cell directory — n_cells x n_partitions files per generation —
    and both the write and every later index scan pay per-file overheads
    (measured at a 160k/64-cell corpus: build 8.9 s -> 4.2 s, 2048 -> 64
    files, index scan 1.0 s -> 0.1 s; appends fragment worst, measured
    4.6 s -> 1.3 s per append)."""
    dots = _centroid_dots(vec_col, centroids)
    return df.select(
        F.col(id_col),
        F.col(vec_col),
        V.norm(F.col(vec_col)).alias("norm"),
        (F.array_position(dots, F.array_max(dots)) - 1).alias("cell"),
    ).repartition("cell")


def build_ivf_index(
    corpus: DataFrame,
    centroids: np.ndarray,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Materialize the IVF index: one map-only corpus pass assigns each
    vector its nearest cell and writes ``(id, vec, norm, cell)`` parquet,
    partitioned by cell, with ``norm`` the vector's L2 norm
    (``functions.vectors.norm``, so the query path scores against it
    bit-identically). This is the build-once half the query path must NOT
    pay: assigning against n_centroids centroids costs n_centroids dots
    per vector, which for a small query batch EXCEEDS the |Q| dots/vector
    of the exact scan — measured at a 160k corpus, inline assignment made
    IVF slower than brute force (9.1 s vs 7.4 s) while the indexed query
    path wins. Returns the read-back DataFrame (cell-partitioned scan
    source)."""
    _ivf_rows(corpus, centroids, id_col, vec_col).write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(path)
    return corpus.sparkSession.read.parquet(path)


def append_ivf_index(
    new_batch: DataFrame,
    centroids: np.ndarray,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental IVF index maintenance: assign ONLY the new batch to
    the EXISTING (persisted) centroids and APPEND its cell files (same
    ``(id, vec, norm, cell)`` rows as :func:`build_ivf_index`) under the
    index directory — no retrain, no re-scan of the already-indexed
    corpus. This is the vector twin of the incremental dedup ingest
    (operators/dedup.materialized_signatures + the asymmetric banding
    join): a 100 TB corpus grows daily, and re-clustering per batch is
    the scale-killer, while this append touches |batch| rows only and
    the nightly/weekly ``kmeans_centroids`` + :func:`build_ivf_index`
    rebuild resets centroid drift.

    Correctness envelope: cell placement affects PERFORMANCE only —
    at full probe (n_probe == n_centroids) results stay bit-identical
    to exact brute force no matter how stale the centroids are (the
    q_ivf_index_append driver hash), while partial-probe recall under
    drifted centroids is pinned to an envelope in
    tests/test_round12.py. Returns the read-back DataFrame over the
    whole appended index (cell-partitioned scan source, same shape as
    :func:`build_ivf_index`)."""
    _ivf_rows(new_batch, centroids, id_col, vec_col).write.mode(
        "append"
    ).partitionBy("cell").parquet(path)
    return new_batch.sparkSession.read.parquet(path)


def _probe_cells(
    q: np.ndarray, cents: np.ndarray, n_probe: int
) -> tuple[np.ndarray, np.ndarray]:
    """Per query row of ``q`` (``(n, dim)`` doubles): its L2 norm and the
    indices of its ``n_probe`` nearest cells (largest centroid dot
    first, ties to the lower index; clamped to the cell count).

    Both are left folds over the dimensions — the same IEEE operations
    in the same order as the ``aggregate(zip_with(...))`` fold of
    ``functions.vectors`` and :func:`_lit_dot_sql` — so they are
    bit-identical to what Spark computes (``np.dot`` is not: BLAS pairs
    the summation). The stable sort of the negated dots orders exactly
    like Spark's ``array_sort(struct(-dot, i))``: NaN last, ``-0.0 ==
    0.0``, then by index; an all-NaN row therefore probes cells
    ``0..n_probe-1``, as Spark does for a NULL vector."""
    dots = np.zeros((q.shape[0], cents.shape[0]))
    nrm2 = np.zeros(q.shape[0])
    for j in range(cents.shape[1]):
        dots = dots + q[:, j, None] * cents[None, :, j]
        nrm2 = nrm2 + q[:, j] * q[:, j]
    return np.sqrt(nrm2), np.argsort(-dots, axis=1, kind="stable")[:, :n_probe]


def _probe_relation(
    queries: DataFrame,
    batch: pa.Table,
    cents: np.ndarray,
    id_col: str,
    vec_col: str,
    n_probe: int,
) -> tuple[DataFrame, list[int]]:
    """The query side of an IVF search as data: one row ``(query_id,
    q_vec array<double>, q_nrm, cell)`` per query of the fetched
    ``batch`` and probed cell, in an in-memory relation (no job, exact
    size statistics), so the search plan does not depend on the
    centroids; and the sorted probed cells. A NULL vector or element
    gives Spark NULL dots and a NULL norm: such a query probes cells
    ``0..n_probe-1`` and scores NULL."""
    dim = cents.shape[1]
    vecs = batch.column(vec_col).cast(pa.list_(pa.float64()))
    rows = vecs.to_pylist()
    if any(v is not None and len(v) != dim for v in rows):
        raise ValueError(f"cosine_topk_ivf: query vectors must have {dim} elements")
    null = np.array([v is None or None in v for v in rows], dtype=bool)
    q = np.array(
        [[np.nan] * dim if n else v for v, n in zip(rows, null)], dtype=np.float64
    ).reshape(len(rows), dim)
    q_nrm, probes = _probe_cells(q, cents, n_probe)
    take = pa.array(np.repeat(np.arange(len(rows)), probes.shape[1]))
    table = pa.table(
        {
            "query_id": batch.column(id_col).take(take),
            "q_vec": vecs.take(take),
            "q_nrm": pa.array(q_nrm, mask=null).take(take),
            "cell": pa.array(probes.ravel().astype(np.int32)),
        }
    )
    schema = StructType(
        [
            StructField("query_id", queries.schema[id_col].dataType),
            StructField("q_vec", ArrayType(DoubleType())),
            StructField("q_nrm", DoubleType()),
            StructField("cell", IntegerType()),
        ]
    )
    probed = sorted(set(probes.ravel().tolist()))
    return queries.sparkSession.createDataFrame(table, schema), probed


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 12,
    n_iters: int = 2,
    centroids: np.ndarray | None = None,
    index: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via an IVF-flat index: corpus vectors are
    assigned to their nearest k-means cell once; each query probes only
    its ``n_probe`` nearest cells. Same output shape as
    :func:`cosine_topk`.

    Scale shape: the cell id becomes the join key — an equality hash join
    between (query, probed-cell) pairs and the cell-partitioned corpus —
    so the compare count drops from |Q| x |C| to roughly
    |Q| x |C| x n_probe / n_centroids. Recall is tunable via n_probe
    (n_probe = n_centroids degrades gracefully to exact brute force).
    The DEFAULT ``n_probe=12`` of 16 cells is the measured >=0.9
    operating point (bench.py ann: recall@10 0.93 at 1.48 s vs 1.94 s
    exact at sf0.1 with prewarmed artifacts) — callers chasing speed
    over recall lower it explicitly; fewer centroids than the probe
    count just means a full probe.

    Query path: the batch is fetched once (at most
    ``DEFAULT_MAX_QUERY_BATCH`` queries, a larger batch raises), each
    query's probe cells are picked on the driver (:func:`_probe_cells`,
    bit-identical to Spark's folds) and the (query, cell) pairs join the
    corpus as a broadcast in-memory relation, so the plan carries no
    centroid literals. Each candidate pair is scored by one dot against
    norms computed once per row.

    Pass ``centroids`` (a :func:`load_centroids` artifact) to skip
    training, and ``index`` (a :func:`build_ivf_index` DataFrame) to
    skip the per-call cell assignment — with both prewarmed, the query
    path reads the stored ``norm`` column and only the probed cell
    directories (a static ``cell IN (...)`` partition filter), which is
    where IVF actually overtakes the exact scan (inline assignment costs
    n_centroids dots/vector vs the exact scan's |Q| dots/vector and
    loses whenever |Q| < n_centroids)."""
    if n_probe < 0:
        raise ValueError(f"cosine_topk_ivf: n_probe must be >= 0 (got {n_probe})")
    if index is not None and "norm" not in index.columns:
        raise ValueError(
            "cosine_topk_ivf: index has no 'norm' column; rebuild it with"
            " build_ivf_index"
        )
    batch = queries.select(id_col, vec_col).limit(DEFAULT_MAX_QUERY_BATCH + 1).toArrow()
    if batch.num_rows > DEFAULT_MAX_QUERY_BATCH:
        raise ValueError(
            f"cosine_topk_ivf: queries side exceeds {DEFAULT_MAX_QUERY_BATCH}"
            " rows (DEFAULT_MAX_QUERY_BATCH). The query batch is held on the"
            " driver; split it into smaller batches (query batching is"
            " embarrassingly parallel)."
        )
    cents = (
        centroids
        if centroids is not None
        else kmeans_centroids(corpus, id_col, vec_col, n_centroids, n_iters)
    )
    qb, probed = _probe_relation(queries, batch, cents, id_col, vec_col, n_probe)
    # the corpus vector is cast to double once per row, not once per pair
    c_vec = F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("c_vec")
    if index is not None:
        cb = index.filter(F.col("cell").isin(probed)).select(
            F.col(id_col).alias("neighbor_id"),
            c_vec,
            F.col("norm").alias("c_nrm"),
            "cell",
        )
    else:
        c_dots = _centroid_dots(vec_col, cents)
        cb = corpus.select(
            F.col(id_col).alias("neighbor_id"),
            c_vec,
            V.norm(F.col(vec_col)).alias("c_nrm"),
            (F.array_position(c_dots, F.array_max(c_dots)) - 1).alias("cell"),
        )

    # one fold per candidate pair; the same values as V.dot(q, c) /
    # (norm(q) * norm(c)) — same products, same fold order, same operands
    scored = (
        cb.join(F.broadcast(qb), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.expr(
                "aggregate(zip_with(q_vec, c_vec, (x, y) -> x * y), 0D,"
                " (acc, x) -> acc + x) / (q_nrm * c_nrm)"
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
    n_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: compare only vectors sharing the query's LSH
    bucket in at least one of ``n_tables`` independent hash tables. Same
    output shape as :func:`cosine_topk`.

    Recall amplification is OR-over-tables (the standard LSH
    construction): one 8-plane table finds a neighbor at angle θ with
    probability (1-θ/π)^8 — high for near-duplicates, poor for generic
    top-k — and L tables lift that to 1-(1-p)^L at L× the candidate
    cost. The bench's ann ladder records the measured trade-off.

    Scale shape: every table is the same equality shuffle on
    (table_id, bucket) — candidates meet by key, nothing all-pairs. A
    pair colliding in several tables is deduplicated on the compact id
    pair BEFORE vectors are re-attached and cosine runs, so
    amplification multiplies the cheap bucket join, not the scoring."""
    c_tabs = [
        lsh_bucket(corpus, vec_col, n_planes, dim, seed=7 + t).select(
            F.col(id_col).alias("neighbor_id"),
            F.lit(t).alias("__tab"),
            F.col("lsh_bucket"),
        )
        for t in range(n_tables)
    ]
    q_tabs = [
        lsh_bucket(queries, vec_col, n_planes, dim, seed=7 + t).select(
            F.col(id_col).alias("query_id"),
            F.lit(t).alias("__tab"),
            F.col("lsh_bucket"),
        )
        for t in range(n_tables)
    ]
    cb = c_tabs[0] if n_tables == 1 else reduce(DataFrame.unionByName, c_tabs)
    qb = q_tabs[0] if n_tables == 1 else reduce(DataFrame.unionByName, q_tabs)
    cand = (
        cb.join(qb, ["__tab", "lsh_bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    # per-side norm hoist (the cosine_topk rationale): one fold per
    # candidate instead of three, bit-identical values
    scored = (
        cand.join(
            queries.select(
                F.col(id_col).alias("query_id"),
                F.col(vec_col).alias("q_vec"),
                V.norm(F.col(vec_col)).alias("q_nrm"),
            ),
            "query_id",
        )
        .join(
            corpus.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).alias("c_vec"),
                V.norm(F.col(vec_col)).alias("c_nrm"),
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            (
                V.dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_nrm") * F.col("c_nrm"))
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


# ---------------------------------------------------------------------------
# scalar (int8-range) quantization
# ---------------------------------------------------------------------------


def quantize_embeddings(
    df: DataFrame, id_col: str, vec_col: str
) -> tuple[DataFrame, float, float]:
    """Scalar-quantize float vectors into the 0..255 integer range with a
    single global (lo, hi) — 4x less memory traffic per distance
    computation, which at 100 TB of vectors is the difference between a
    bandwidth-bound and a compute-bound scan. Returns
    ``(quantized_df, lo, hi)``; reconstruct with
    ``x ~ lo + q * (hi - lo) / 255``.

    Only two scalars cross the driver (the global extrema — same class as
    the HWM collect); the quantization itself is a codegen'd
    ``transform`` with ``floor(x + 0.5)`` rounding, which both engines
    evaluate identically on IEEE doubles (``round()`` half-up vs
    half-even differs across engines — floor does not)."""
    ext = df.select(
        F.min(F.array_min(F.col(vec_col))).alias("lo"),
        F.max(F.array_max(F.col(vec_col))).alias("hi"),
    ).collect()[0]
    lo, hi = float(ext["lo"]), float(ext["hi"])
    scale = 255.0 / (hi - lo) if hi > lo else 0.0
    q = df.select(
        F.col(id_col),
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(
                (x.cast("double") - F.lit(lo)) * F.lit(scale) + F.lit(0.5)
            ).cast("int"),
        ).alias("qvec"),
    )
    return q, lo, hi


# -- product quantization (PQ / ADC) ----------------------------------------


def _fold_dot(a, b) -> float:
    """Sequential left-fold dot product over IEEE doubles — the SAME
    accumulation order as functions.vectors.dot's ``aggregate`` fold and
    DuckDB's ``list_sum(list_transform(...))``, so driver-side LUT values
    are bit-identical to what either engine would compute. ``np.dot``
    is NOT engine-neutral here: BLAS ddot unrolls/pairs the summation,
    which can differ in the last ulp from the left fold — enough to flip
    a rank tie and break a cross-engine hash."""
    s = 0.0
    for x, y in zip(a, b):
        s += float(x) * float(y)
    return s


def _fold_norm(a) -> float:
    import math

    return math.sqrt(_fold_dot(a, a))


def _pq_scores_sql(sub_vec_sql: str, cents: np.ndarray) -> str:
    """SQL text of the squared-L2 assignment score array
    (argmin |x-c|^2 == argmax x.c - |c|^2/2). Generated as ONE string
    for the same reason as :func:`_lit_dot_sql`: the Column-API version
    built n_sub x n_centroids x sub_dim literals through py4j — measured
    as the dominant cost of pq_train at bench scale (~20 s of pure
    driver-side plan construction for pq16, zero executor work)."""
    return (
        "array("
        + ",".join(
            f"({_lit_dot_sql(sub_vec_sql, c)} - "
            f"{repr(float(0.5 * np.dot(c, c)))}D)"
            for c in cents
        )
        + ")"
    )


def _pq_assign_scores(sub_vec_sql: str, cents: np.ndarray):
    """Score-array Column over a sub-vector given as SQL text (e.g.
    ``slice(embedding, 1, 4)``). Values are bit-identical to the former
    Column-API formulation: the literal side's double cast is elided
    (a no-op on double literals), the fold tree is unchanged."""
    return F.expr(_pq_scores_sql(sub_vec_sql, cents))


def train_sample(
    corpus: DataFrame,
    id_col: str,
    sample_frac: float | None,
) -> DataFrame:
    """Deterministic pseudo-random training sample: keep the rows whose
    ``xxhash64(id)`` falls under the fraction threshold — layout- and
    run-independent (``rand()`` is neither), map-only (no sort, no
    shuffle), and the same trick that seeds IVF/k-means init. Codebook
    quality needs only a representative sample, not the corpus: at
    100 TB, training always runs on a fraction like this while
    encode/assign runs on everything."""
    if sample_frac is None or sample_frac >= 1.0:
        return corpus
    if not 0.0 < sample_frac < 1.0:
        raise ValueError(f"sample_frac={sample_frac} outside (0, 1]")
    bound = int(sample_frac * 1_000_000)
    return corpus.filter(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(1_000_000)) < F.lit(bound)
    )


def pq_train(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_sub: int = 8,
    dim: int = 64,
    n_centroids: int = 16,
    n_iters: int = 3,
    sample_frac: float | None = None,
) -> np.ndarray:
    """Train PQ codebooks: the vector splits into ``n_sub`` contiguous
    subspaces, each clustered independently under TRUE squared-L2
    assignment (the half-norm term matters for unnormalized subvectors) —
    returns ``(n_sub, n_centroids, dim // n_sub)``.

    Job shape: one seed collect, then ONE distributed job per Lloyd
    iteration covering ALL subspaces (each row explodes to n_sub
    (subspace, cell, position, value) tuples, aggregated in one shuffle)
    — not n_sub separate k-means jobs. Only codebook-sized data
    (n_sub x n_centroids x sub_dim doubles) ever reaches the driver, so
    training scales to any corpus sample the cluster can scan.
    ``sample_frac`` trains on a deterministic xxhash64 sample (see
    :func:`train_sample`) — the 100 TB shape, and ~k-fold cheaper per
    iteration at bench scale with recall unchanged (measured in
    bench.py's ann section)."""
    if dim % n_sub:
        raise ValueError(f"dim={dim} not divisible by n_sub={n_sub}")
    sub_dim = dim // n_sub
    corpus = train_sample(corpus, id_col, sample_frac)

    seeds = (
        corpus.select(F.col(vec_col).alias("v"), F.xxhash64(F.col(id_col)).alias("h"))
        .orderBy("h")
        .limit(n_centroids)
        .collect()
    )
    full = np.array([r["v"] for r in seeds], dtype=np.float64)
    books = np.stack(
        [full[:, s_i * sub_dim : (s_i + 1) * sub_dim] for s_i in range(n_sub)]
    )

    for _ in range(n_iters):
        per_sub = []
        for s_i in range(n_sub):
            sub_sql = f"slice({vec_col}, {s_i * sub_dim + 1}, {sub_dim})"
            scores = _pq_assign_scores(sub_sql, books[s_i])
            per_sub.append(
                F.struct(
                    F.lit(s_i).alias("s"),
                    (F.array_position(scores, F.array_max(scores)) - 1).alias(
                        "cell"
                    ),
                    F.expr(sub_sql).alias("sv"),
                )
            )
        rows = (
            corpus.select(F.explode(F.array(*per_sub)).alias("a"))
            .select("a.s", "a.cell", F.posexplode(F.col("a.sv")).alias("pos", "x"))
            .groupBy("s", "cell", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        new = books.copy()  # empty cells keep their previous centroid
        for r in rows:
            new[int(r["s"]), int(r["cell"]), int(r["pos"])] = r["m"]
        books = new
    return books


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Encode each vector as ``n_sub`` centroid ids (4-bit codes at the
    default 16 centroids: 64-dim float32 -> 8 bytes, a 32x compression of
    the scan). Pure JVM expressions — the codebooks are plan literals, no
    UDF, no shuffle; at 100 TB this is a map-only re-write of the
    embedding column into a code column."""
    n_sub, _n_c, sub_dim = codebooks.shape
    codes = []
    for s_i in range(n_sub):
        sub_sql = f"slice({vec_col}, {s_i * sub_dim + 1}, {sub_dim})"
        scores = _pq_assign_scores(sub_sql, codebooks[s_i])
        codes.append(
            (F.array_position(scores, F.array_max(scores)) - 1).cast("int")
        )
    return df.select(F.col(id_col), F.array(*codes).alias(out_col))


def _exact_rerank(
    shortlist: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """Exact-cosine re-rank of an approximate shortlist — the standard
    ADC + re-rank refinement (Jégou et al. 2011 §IV): the approximate
    stage only has to get the true neighbors INTO the top-R, not order
    them, so recall@k jumps to ~recall@R of the coarse stage while
    exact scoring touches R x |Q| vectors instead of |C| x |Q|. The
    shortlist re-attaches true vectors via two id-equi-joins (query
    side broadcast — it is query-batch-sized)."""
    rescored = (
        shortlist.select("query_id", "neighbor_id")
        .join(
            F.broadcast(
                queries.select(
                    F.col(id_col).alias("query_id"),
                    F.col(vec_col).alias("__q_vec"),
                    V.norm(F.col(vec_col)).alias("__q_nrm"),
                )
            ),
            "query_id",
        )
        .join(
            corpus.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).alias("__c_vec"),
                V.norm(F.col(vec_col)).alias("__c_nrm"),
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            (
                V.dot(F.col("__q_vec"), F.col("__c_vec"))
                / (F.col("__q_nrm") * F.col("__c_nrm"))
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    rerank: int | None = 100,
    codes: DataFrame | None = None,
    max_query_batch: int = DEFAULT_MAX_QUERY_BATCH,
    allow_full_cross: bool = False,
) -> DataFrame:
    """Approximate cosine top-k by asymmetric distance computation (ADC):
    queries stay exact, corpus vectors are approximated by their PQ
    reconstruction; ``dot(q, x) ~= sum_s dlut[s][code_s]`` where the
    per-query lookup tables are precomputed once (|Q| x n_sub x
    n_centroids doubles, driver-sized) and broadcast.

    Scale shape: the candidate space is still |Q| x |C| (compose with
    ``cosine_topk_ivf``'s cell pruning for sub-linear candidates), but
    each candidate costs ``n_sub`` table lookups instead of ``dim``
    multiplies, and the corpus side scans 8-byte codes instead of 256-byte
    vectors — the memory-bandwidth win that makes billion-vector ANN fit
    a cluster's scan budget. Same output shape as :func:`cosine_topk`.

    ``rerank=R`` adds the standard exact re-rank stage: ADC picks a
    top-R shortlist per query, true vectors re-score it, top-k emits —
    recall@k becomes ~recall@R of the ADC stage at R x |Q| exact
    comparisons (see :func:`_exact_rerank`). The DEFAULT ``rerank=100``
    is the measured >=0.8 operating point (bench.py ann: pq16_rerank
    recall@10 0.82 at 1.16 s vs 1.94 s exact at sf0.1, prewarmed) —
    pass ``rerank=None`` for raw ADC when the shortlist re-scan is the
    bottleneck.

    ``codes`` accepts a MATERIALIZED :func:`pq_encode` output so the
    query path scans 8-byte codes instead of re-encoding the corpus per
    batch (encoding costs n_sub x n_centroids sub-dots per vector — a
    build-once cost, same argument as :func:`build_ivf_index`).

    The per-query lookup tables are COLLECTED driver-side, so the
    queries side is count-guarded to ``max_query_batch`` rows (default
    8192, ~16 MB of LUT doubles); a bigger batch raises unless
    ``allow_full_cross=True`` is passed explicitly."""
    _require_bounded_queries(
        queries, "pq_topk", max_query_batch, allow_full_cross
    )
    n_sub, n_c, sub_dim = codebooks.shape
    spark = corpus.sparkSession
    if codes is None:
        codes = pq_encode(corpus, codebooks, id_col, vec_col)

    lut_rows = []
    for r in queries.select(id_col, vec_col).collect():
        q = np.array(r[vec_col], dtype=np.float64)
        dlut, nlut = [], []
        for s_i in range(n_sub):
            qs = q[s_i * sub_dim : (s_i + 1) * sub_dim]
            for c in codebooks[s_i]:
                # _fold_dot (not np.dot): the LUT values must be the
                # engine-neutral left fold so a DuckDB oracle can
                # recompute them bit-exactly (q_pq_topk_lit)
                dlut.append(_fold_dot(qs, c))
                nlut.append(_fold_dot(c, c))
        lut_rows.append((int(r[id_col]), _fold_norm(q), dlut, nlut))
    luts = spark.createDataFrame(
        lut_rows, "query_id long, qnorm double, dlut array<double>, nlut array<double>"
    )

    idx = F.sequence(F.lit(0), F.lit(n_sub - 1))

    def _gather(lut):
        picked = F.zip_with(
            F.col("pq_code"),
            idx,
            lambda c, s: F.element_at(lut, s * F.lit(n_c) + c + 1),
        )
        return F.aggregate(picked, F.lit(0.0), lambda a, x: a + x)

    sim = _gather(F.col("dlut")) / (
        F.col("qnorm") * F.sqrt(_gather(F.col("nlut")))
    )
    scored = codes.crossJoin(F.broadcast(luts)).select(
        F.col("query_id"),
        F.col(id_col).alias("neighbor_id"),
        sim.alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    if rerank is not None:
        shortlist = (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= rerank)
        )
        return _exact_rerank(shortlist, corpus, queries, id_col, vec_col, k)
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def cosine_topk_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    n_iters: int = 2,
    centroids: np.ndarray | None = None,
    rerank: int | None = None,
    max_query_batch: int = DEFAULT_MAX_QUERY_BATCH,
    allow_full_cross: bool = False,
) -> DataFrame:
    """IVF coarse pruning composed with PQ asymmetric-distance scoring —
    the billion-scale ANN configuration (IVFADC, Jégou et al. 2011):
    candidates drop to ~|Q| x |C| x n_probe / n_centroids via the cell
    equi-join AND each surviving candidate costs ``n_sub`` table lookups
    over an 8-byte code instead of ``dim`` multiplies over a 256-byte
    vector. Same output shape as :func:`cosine_topk`; self-matches are
    excluded like :func:`cosine_topk_ivf`.

    Job shape: one map-only corpus pass emits (cell, pq_code) per vector
    — both the coarse assignment and the codes are plan-literal
    expressions, no UDF. The query side is driver-sized by construction
    (probe lists + LUTs are |Q| x n_sub x n_centroids doubles) and
    broadcast into the cell join.

    ``centroids`` (a :func:`load_centroids` artifact) skips coarse
    training; ``rerank=R`` adds the exact re-rank refinement (see
    :func:`pq_topk`) — together they are the production operating
    point: train once, per-batch cost = cell join + ADC + R-sized
    exact re-rank.

    The per-query probe lists + lookup tables are COLLECTED driver-side,
    so the queries side is count-guarded to ``max_query_batch`` rows
    (default 8192); a bigger batch raises unless ``allow_full_cross=True``
    is passed explicitly."""
    _require_bounded_queries(
        queries, "cosine_topk_ivfpq", max_query_batch, allow_full_cross
    )
    cents = (
        centroids
        if centroids is not None
        else kmeans_centroids(corpus, id_col, vec_col, n_centroids, n_iters)
    )
    n_sub, n_c, sub_dim = codebooks.shape

    c_dots = _centroid_dots(vec_col, cents)
    code_exprs = []
    for s_i in range(n_sub):
        sub_sql = f"slice({vec_col}, {s_i * sub_dim + 1}, {sub_dim})"
        scores = _pq_assign_scores(sub_sql, codebooks[s_i])
        code_exprs.append(
            (F.array_position(scores, F.array_max(scores)) - 1).cast("int")
        )
    cb = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        (F.array_position(c_dots, F.array_max(c_dots)) - 1).alias("cell"),
        F.array(*code_exprs).alias("pq_code"),
    )

    rows = queries.select(id_col, vec_col).collect()
    qmat = np.array([r[vec_col] for r in rows], dtype=np.float64).reshape(
        len(rows), cents.shape[1]
    )
    # probe lists from the engine-neutral left folds with a total order
    # (dot desc, cell asc), which an oracle twin needs
    q_nrms, probes = _probe_cells(qmat, cents, n_probe)
    lut_rows = []
    for r, q, q_nrm, probe in zip(rows, qmat, q_nrms, probes):
        dlut, nlut = [], []
        for s_i in range(n_sub):
            qs = q[s_i * sub_dim : (s_i + 1) * sub_dim]
            for c in codebooks[s_i]:
                dlut.append(_fold_dot(qs, c))
                nlut.append(_fold_dot(c, c))
        for cell in probe:
            lut_rows.append((int(r[id_col]), int(cell), float(q_nrm), dlut, nlut))
    spark = corpus.sparkSession
    luts = spark.createDataFrame(
        lut_rows,
        "query_id long, cell long, qnorm double,"
        " dlut array<double>, nlut array<double>",
    )

    idx = F.sequence(F.lit(0), F.lit(n_sub - 1))

    def _gather(lut):
        picked = F.zip_with(
            F.col("pq_code"),
            idx,
            lambda c, s: F.element_at(lut, s * F.lit(n_c) + c + 1),
        )
        return F.aggregate(picked, F.lit(0.0), lambda a, x: a + x)

    sim = _gather(F.col("dlut")) / (
        F.col("qnorm") * F.sqrt(_gather(F.col("nlut")))
    )
    scored = (
        cb.join(F.broadcast(luts), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            sim.alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    if rerank is not None:
        shortlist = (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= rerank)
        )
        return _exact_rerank(shortlist, corpus, queries, id_col, vec_col, k)
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_centroids: int = 16,
    n_iters: int = 2,
    materialize_path: str | None = None,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., 2023): k-means
    the embedding space, then look for near-duplicate pairs ONLY inside
    each cluster (pairwise cosine >= ``threshold``), keeping from every
    qualifying pair the member MORE representative of its cluster
    (higher cosine to the centroid, id ascending as the tiebreak).
    Returns the surviving rows plus their ``cell`` and
    ``centroid_cos`` — the kept corpus, ready to write.

    Scale shape: the pair space is cluster-bounded (an equi-self-join on
    the cell id — never all-pairs; with n_centroids ~ sqrt(N) cells the
    candidate volume is ~N·cluster_size, the reason SemDeDup runs at
    web scale), centroid assignment and both cosines are pure JVM
    expressions over centroid literals, and only centroid-sized state
    (kmeans_centroids) ever reaches the driver. Known tradeoff, also
    SemDeDup's: near-dups that straddle a cluster boundary are missed —
    raise n_iters/n_centroids quality, or run LSH dedup for recall.

    Deterministic end-to-end (seeded k-means init, exact argmax cell
    assignment, total-order keep rule), so results are layout-independent
    and pytest-pinnable. ``centroids`` (a :func:`load_centroids`
    artifact) skips the k-means training pass — at scale cells are
    trained once on a sample and every dedup batch reuses them."""
    cents = (
        centroids
        if centroids is not None
        else kmeans_centroids(corpus, id_col, vec_col, n_centroids, n_iters)
    )
    cnorms = np.maximum(np.linalg.norm(cents, axis=1), 1e-12)
    dots = _centroid_dots(vec_col, cents)
    norms_lit = F.array(*[F.lit(float(x)) for x in cnorms])
    # the argmax dot is reused as the cosine numerator: cell norms ride
    # in as a 16-float literal, so no second dot pass over the vector.
    # The vector's own norm folds ONCE here and rides through the
    # materialized assignment — the centroid cosine AND every within-
    # cell pair cosine reuse it (the cosine_topk hoist: 3 folds per
    # pair drop to 1, bit-identical values)
    assigned = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        V.norm(F.col(vec_col)).alias("__nrm"),
        (F.array_position(dots, F.array_max(dots)) - 1).alias("cell"),
        F.array_max(dots).alias("__best_dot"),
    ).withColumn(
        "centroid_cos",
        F.col("__best_dot")
        / (
            F.element_at(norms_lit, F.col("cell").cast("int") + 1)
            * F.col("__nrm")
        ),
    ).drop("__best_dot")
    if materialize_path is not None:
        # the pair join references `assigned` on both sides; without
        # materialization each side re-evaluates the n_centroids x dim
        # literal dot expression (and at web scale, re-scans the corpus)
        # — the materialized_signatures lesson applied to cell assignment
        assigned.write.mode("overwrite").parquet(materialize_path)
        assigned = corpus.sparkSession.read.parquet(materialize_path)
    a = assigned.select(
        F.col("cell"),
        F.col(id_col).alias("__a_id"),
        F.col(vec_col).alias("__a_vec"),
        F.col("__nrm").alias("__a_nrm"),
        F.col("centroid_cos").alias("__a_cc"),
    )
    b = assigned.select(
        F.col("cell"),
        F.col(id_col).alias("__b_id"),
        F.col(vec_col).alias("__b_vec"),
        F.col("__nrm").alias("__b_nrm"),
        F.col("centroid_cos").alias("__b_cc"),
    )
    pairs = (
        a.join(b, "cell")
        .filter(F.col("__a_id") < F.col("__b_id"))
        .filter(
            V.dot(F.col("__a_vec"), F.col("__b_vec"))
            / (F.col("__a_nrm") * F.col("__b_nrm"))
            >= threshold
        )
    )
    # the less-representative member of each qualifying pair is dropped;
    # ties on centroid_cos break by id so exactly one of an exact-dup
    # pair survives
    a_loses = (F.col("__a_cc") < F.col("__b_cc")) | (
        (F.col("__a_cc") == F.col("__b_cc")) & (F.col("__a_id") > F.col("__b_id"))
    )
    losers = pairs.select(
        F.when(a_loses, F.col("__a_id")).otherwise(F.col("__b_id")).alias(id_col)
    ).distinct()
    return assigned.join(losers, id_col, "left_anti").select(
        id_col, "cell", "centroid_cos"
    )


def sparse_cosine_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    weights_path: str,
    window: int = 100,
    topk: int = 3,
) -> DataFrame:
    """Sparse TF-IDF cosine similarity between documents via the inverted
    index — the bag-of-words sibling of the dense-embedding ladder above:
    no embedding model required, and the dot product touches only SHARED
    terms (a sparse vector never materializes).

    Weights are the engine's integer-scaled TF-IDF (``tf * 1e6 div df``
    — float log-idf rounds differently across engines, q_tfidf_topk's
    convention), materialized ONCE to ``weights_path``: three downstream
    references (two pair endpoints + norms) would each re-tokenize the
    corpus otherwise (the signatures lesson). Norms and dots are exact
    integer sums; the final cosine ``dot / sqrt(na2 * nb2)`` is two IEEE
    ops, bit-identical cross-engine (na2 < 2^53 so the double product
    rounds identically).

    Pair space: blocked narrow (block, id-window) pairs via
    dedup.banded_id_pairs — a linear (block, id-bucket) equi-join over
    ids only; weights attach per shared term AFTER the pair filter. For
    unblocked corpora, compose with the prefix filter
    (dedup.prefix_filter_pairs) or LSH candidates instead of the block
    — the scoring stages are pair-source-agnostic.
    Returns each doc's ``topk`` most similar neighbors:
    ``(a, b, dot, cosine)`` with (cosine desc, b) determinism."""
    from ..functions import text as TX

    tf = (
        df.select(F.col(id_col), F.explode(TX.tokens(F.col(text_col))).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    weights = tf.join(dfreq, "term").select(
        F.col(id_col),
        F.col("term"),
        F.expr("tf * 1000000 div df").alias("w"),
    )
    weights.write.mode("overwrite").parquet(weights_path)
    weights = df.sparkSession.read.parquet(weights_path)

    norms = weights.groupBy(id_col).agg(
        F.sum(F.col("w") * F.col("w")).cast("long").alias("n2")
    )
    from ..operators.dedup import banded_id_pairs

    pairs = banded_id_pairs(df, id_col, block_col, window)
    wa = weights.select(F.col(id_col).alias("a"), "term", F.col("w").alias("wa"))
    wb = weights.select(F.col(id_col).alias("b"), "term", F.col("w").alias("wb"))
    dots = (
        pairs.join(wa, "a")
        .join(wb, ["b", "term"])
        .groupBy("a", "b")
        .agg(F.sum(F.col("wa") * F.col("wb")).cast("long").alias("dot"))
    )
    na = norms.select(F.col(id_col).alias("a"), F.col("n2").alias("na2"))
    nb = norms.select(F.col(id_col).alias("b"), F.col("n2").alias("nb2"))
    scored = (
        dots.join(na, "a")
        .join(nb, "b")
        .select(
            "a",
            "b",
            "dot",
            (
                F.col("dot").cast("double")
                / F.sqrt(F.col("na2").cast("double") * F.col("nb2").cast("double"))
            ).alias("cosine"),
        )
    )
    w_rank = Window.partitionBy("a").orderBy(F.col("cosine").desc(), "b")
    return (
        scored.withColumn("__rk", F.row_number().over(w_rank))
        .filter(F.col("__rk") <= topk)
        .select("a", "b", "dot", "cosine")
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    label_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    max_query_batch: int = DEFAULT_MAX_QUERY_BATCH,
    allow_full_cross: bool = False,
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the k
    most-similar corpus vectors with a DIFFERENT label — the negatives
    that sit closest to the decision boundary, which is exactly what
    contrastive/metric losses need (random negatives are trivially easy
    and contribute no gradient signal).

    Same plan as :func:`cosine_topk` — broadcast(queries) x corpus with
    a JVM cosine expression, label-inequality filter BEFORE scoring's
    window, per-query top-k — so everything said there about scale
    carries over; for corpus-vs-corpus mining, swap the candidate source
    for IVF/LSH candidates and keep the label filter + window.

    The queries side is BROADCAST whole, so it is count-guarded to
    ``max_query_batch`` rows (default 8192); a bigger batch raises
    unless ``allow_full_cross=True`` is passed explicitly."""
    _require_bounded_queries(
        queries, "hard_negatives", max_query_batch, allow_full_cross
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        V.norm(F.col(vec_col)).alias("q_nrm"),
        F.col(label_col).alias("q_label"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        V.norm(F.col(vec_col)).alias("c_nrm"),
        F.col(label_col).alias("c_label"),
    )
    # per-side norm hoist (the cosine_topk rationale): one fold per
    # pair instead of three, bit-identical values
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("c_label") != F.col("q_label"))
        .select(
            "query_id",
            "neighbor_id",
            F.col("c_label").alias("neg_label"),
            (
                V.dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_nrm") * F.col("c_nrm"))
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "neg_label", "rank", "sim")
    )


def mips_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_centroids: int | None = None,
    n_probe: int | None = None,
    n_iters: int = 2,
    centroids: np.ndarray | None = None,
    max_query_batch: int = DEFAULT_MAX_QUERY_BATCH,
    allow_full_cross: bool = False,
) -> DataFrame:
    """Max-inner-product top-k (the recommendation/retrieval scoring
    problem: rank items by q·x, NOT by angle) via the norm-augmentation
    reduction to cosine search (Bachrach et al., RecSys 2014): append
    ``sqrt(M² - ‖x‖²)`` to every corpus vector (M = max corpus norm) and
    ``0`` to every query — all augmented corpus vectors then share norm
    M, so cosine order against the augmented vectors is IDENTICAL to
    inner-product order on the originals. That one trick unlocks every
    cosine ANN structure (IVF cells, LSH planes, PQ codes) for MIPS,
    where plain cosine machinery is simply WRONG when corpus norms vary
    (a long vector can dominate the inner product while losing on
    angle).

    ``n_centroids=None``: exact — broadcast(queries) × corpus, one JVM
    dot per pair, per-query top-k window. With ``n_centroids``: k-means
    cells are trained ON THE AUGMENTED vectors and each query probes its
    ``n_probe`` nearest cells (default ``n_probe = n_centroids``: the
    result stays provably exact while the cell equi-join already
    replaces the cross product — the q_cosine_topk_ivf_exact precedent;
    lower n_probe trades recall for the ~n_probe/n_centroids compare
    fraction). Scores are always the TRUE inner products q·x computed
    from the ORIGINAL vectors, so the readout never inherits
    augmentation arithmetic. The only driver-side values are the 1-row
    M² scalar and the centroid matrix. Returns
    ``(query_id, neighbor_id, rank, ip)``; self-matches excluded.

    On the exact rung (no cells) the queries side is BROADCAST whole, so
    it is count-guarded to ``max_query_batch`` rows (default 8192); a
    bigger batch raises unless ``allow_full_cross=True`` is passed
    explicitly. The cell rung keeps queries distributed (probe lists are
    plan expressions), so no guard applies there."""
    if n_centroids is None and centroids is None:
        _require_bounded_queries(
            queries, "mips_topk", max_query_batch, allow_full_cross
        )
        q = queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        )
        c = corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
        )
        scored = (
            c.crossJoin(F.broadcast(q))
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select(
                "query_id",
                "neighbor_id",
                V.dot(F.col("q_vec"), F.col("c_vec")).alias("ip"),
            )
        )
    else:
        m2 = float(
            corpus.agg(
                F.max(V.dot(F.col(vec_col), F.col(vec_col))).alias("m2")
            ).collect()[0]["m2"]
        )

        def _aug(df: DataFrame, extra) -> DataFrame:
            return df.select(
                F.col(id_col),
                F.col(vec_col),
                F.concat(
                    F.transform(F.col(vec_col), lambda x: x.cast("double")),
                    F.array(extra),
                ).alias("__aug"),
            )

        ac = _aug(
            corpus,
            F.sqrt(
                F.greatest(
                    F.lit(0.0),
                    F.lit(m2) - V.dot(F.col(vec_col), F.col(vec_col)),
                )
            ),
        )
        cents = (
            centroids
            if centroids is not None
            else kmeans_centroids(ac, id_col, "__aug", n_centroids, n_iters)
        )
        n_cent = cents.shape[0]
        probe = n_probe if n_probe is not None else n_cent
        c_dots = _centroid_dots("__aug", cents)
        cb = ac.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("c_vec"),
            (F.array_position(c_dots, F.array_max(c_dots)) - 1).alias("cell"),
        )
        aq = _aug(queries, F.lit(0.0))
        q_dots = _centroid_dots("__aug", cents)
        probe_cells = F.slice(
            F.transform(
                F.array_sort(
                    F.transform(
                        q_dots,
                        lambda d, i: F.struct((-d).alias("nd"), i.alias("i")),
                    )
                ),
                lambda s: s["i"],
            ),
            1,
            probe,
        )
        qb = aq.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            F.explode(probe_cells).alias("cell"),
        )
        scored = (
            cb.join(qb, "cell")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select(
                "query_id",
                "neighbor_id",
                V.dot(F.col("q_vec"), F.col("c_vec")).alias("ip"),
            )
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("ip").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "ip")
    )
