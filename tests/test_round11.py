"""Round-11 pins.

1. Query-batch guards on the similarity APIs: the exact rungs broadcast
   the query batch whole and the PQ/IVFPQ searches build lookup tables
   from it on the driver, so each fetches it once under
   ``limit(MAX_QUERY_BATCH + 1)`` and raises past the cap. Canaries here
   prove each guard fires after that one fetch job.
2. banded_id_pairs hardening (r10 ADVICE): exact floor-division buckets
   make negative ids correct (not silently wrong-bucketed), and the
   internal alias makes non-simple column names safe.
3. PPJoin+ length/positional candidate prunes (r10 VERDICT next-round
   #3): completeness pins on corpora crafted so both prunes actively
   fire — output must equal the brute-force all-pairs scan.
"""

from __future__ import annotations

import re as _re

import numpy as np
import pytest
from pyspark.sql import functions as F

from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.operators import (
    dedup as D,
    similarity,
)
from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.operators.dedup import (
    banded_id_pairs,
)
from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_ivfpq,
    hard_negatives,
    mips_topk,
    pq_topk,
)

from tests.conftest import assert_df_equal, jobs_and_error


# ---------------------------------------------------------------------------
# 1. query-batch guards
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (i, [float(i % 3), float(i % 5), 1.0, 0.5], i % 2)
        for i in range(12)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


@pytest.fixture
def cap4(monkeypatch):
    monkeypatch.setattr(similarity, "MAX_QUERY_BATCH", 4)


BOOKS = np.arange(2 * 2 * 2, dtype=np.float64).reshape(2, 2, 2)


def _raises_after_one_job(spark, fn_name, build):
    """``build()`` raises the query-batch cap error naming ``fn_name``
    after exactly one Spark job, the batch fetch."""
    jobs, err = jobs_and_error(spark, build)
    assert jobs == 1
    assert err is not None and _re.match(f"{fn_name}: .*MAX_QUERY_BATCH", str(err))


def test_cosine_topk_guard_fires(spark, vecs, cap4):
    _raises_after_one_job(spark, "cosine_topk", lambda: cosine_topk(vecs, vecs, k=2))


def test_pq_topk_guard_fires(spark, vecs, cap4):
    _raises_after_one_job(spark, "pq_topk", lambda: pq_topk(vecs, vecs, BOOKS, k=2))


def test_ivfpq_guard_fires(spark, vecs, cap4):
    _raises_after_one_job(
        spark,
        "cosine_topk_ivfpq",
        lambda: cosine_topk_ivfpq(vecs, vecs, BOOKS, k=2, centroids=np.eye(4)),
    )


def test_mips_exact_guard_fires(spark, vecs, cap4):
    _raises_after_one_job(spark, "mips_topk", lambda: mips_topk(vecs, vecs, k=2))


def test_hard_negatives_guard_fires(spark, vecs, cap4):
    _raises_after_one_job(
        spark, "hard_negatives", lambda: hard_negatives(vecs, vecs, "label", k=2)
    )


def test_guard_under_cap_passes(spark, vecs, cap4):
    """A batch at the cap builds with its one fetch job, and runs."""
    out = []
    q = vecs.limit(4)
    assert jobs_and_error(spark, lambda: out.append(cosine_topk(vecs, q, k=2))) == (1, None)
    assert out[0].count() == 4 * 2


# ---------------------------------------------------------------------------
# 2. banded_id_pairs hardening
# ---------------------------------------------------------------------------


def _naive_pairs(df, id_col, block_col, window):
    narrow = df.select(F.col(block_col).alias("blk"), F.col(id_col))
    return (
        narrow.select("blk", F.col(id_col).alias("a"))
        .join(narrow.select("blk", F.col(id_col).alias("b")), "blk")
        .filter((F.col("a") < F.col("b")) & (F.col("b") - F.col("a") <= window))
        .select("a", "b")
    )


def test_banded_id_pairs_negative_ids(spark):
    """Floor-division buckets: negative ids pair correctly, including
    pairs straddling zero and negative bucket boundaries (truncating
    `div` would wrong-bucket these and silently DROP pairs)."""
    ids = [-11, -10, -6, -5, -4, -1, 0, 1, 4, 5, 9]
    df = spark.createDataFrame(
        [(i, "x") for i in ids], "doc_id long, source string"
    )
    got = banded_id_pairs(df, "doc_id", "source", 5)
    want = _naive_pairs(df, "doc_id", "source", 5)
    assert_df_equal(got, want)
    pairs = {(r.a, r.b) for r in got.collect()}
    assert (-1, 0) in pairs and (-5, -1) in pairs  # zero-straddling
    assert (-11, -10) in pairs  # negative-bucket boundary


def test_banded_id_pairs_nonsimple_column_name(spark):
    """The id column is aliased internally before any expression touches
    it, so names needing quoting (spaces) work."""
    df = spark.createDataFrame(
        [(i, "x") for i in range(8)], ["doc id", "source"]
    )
    got = {
        (r.a, r.b)
        for r in banded_id_pairs(df, "doc id", "source", 3).collect()
    }
    want = {
        (a, b) for a in range(8) for b in range(8) if a < b and b - a <= 3
    }
    assert got == want


# ---------------------------------------------------------------------------
# 3. PPJoin+ prune completeness
# ---------------------------------------------------------------------------


def _brute_force_jaccard_pairs(texts, threshold, n=3):
    sets = {}
    for doc_id, text in texts.items():
        toks = _re.split(r"\s+", text.lower())
        sets[doc_id] = {
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        }
    out = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            union = sets[a] | sets[b]
            if not union:
                continue
            j = len(sets[a] & sets[b]) / len(union)
            if j >= threshold:
                out[(a, b)] = j
    return out


def test_ppjoin_prunes_keep_all_qualifying_pairs(spark):
    """Corpus crafted so BOTH prunes fire: doc 3 is a long document
    sharing rare prefix shingles with doc 0 (length filter must drop the
    pair, and it does NOT qualify); docs 0/1 are near-identical (must
    survive both prunes); doc 2 shares only one late-position common
    shingle with doc 0 (positional filter prunes or verification drops —
    either way not qualifying). Output must equal brute force exactly."""
    base = "aa bb cc dd ee ff gg hh"
    texts = {
        0: base,
        1: base + " ii",  # near-dup of 0 -> qualifies
        2: "zz yy xx ww vv uu aa bb cc dd",  # small late overlap with 0
        3: " ".join([base] + ["pad%d qq%d rr%d" % (i, i, i) for i in range(12)]),
    }
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    got = {
        (r["a"], r["b"]): r["jaccard"]
        for r in D.prefix_filter_pairs(
            df, "doc_id", "text", threshold=0.5
        ).collect()
    }
    want = _brute_force_jaccard_pairs(texts, 0.5)
    assert set(got) == set(want)
    assert (0, 1) in got
    for k in got:
        assert abs(got[k] - want[k]) < 1e-12


@pytest.mark.parametrize("threshold", [0.3, 0.6, 0.9])
def test_ppjoin_prunes_complete_on_varied_lengths(spark, threshold):
    """Docs spanning a 10x length range with shared cores — the regime
    where the length filter prunes hardest — stay exactly equal to the
    brute-force scan at every threshold."""
    core = "aa bb cc dd ee"
    texts = {}
    for i in range(10):
        tail = " ".join("w%d%d x%d" % (i, j, j) for j in range(i))
        texts[i] = (core + " " + tail).strip()
    texts[10] = core  # exact core
    texts[11] = core + " ff"  # near-dup of the core
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    got = {
        (r["a"], r["b"]): r["jaccard"]
        for r in D.prefix_filter_pairs(
            df, "doc_id", "text", threshold=threshold
        ).collect()
    }
    want = _brute_force_jaccard_pairs(texts, threshold)
    assert set(got) == set(want)
    for k in got:
        assert abs(got[k] - want[k]) < 1e-12


# ---------------------------------------------------------------------------
# 4. degenerate-division guards (r10 ADVICE): on data where the test
# statistic's divisor is zero, BOTH engines must emit NULL — unguarded,
# Spark's non-ANSI divide returns NULL while DuckDB's IEEE float
# division returns inf/nan, a hash split only degenerate data exposes.
# ---------------------------------------------------------------------------


def _duckdb_scalar(sql, views):
    import duckdb

    con = duckdb.connect()
    for name, path in views.items():
        # Spark writes a parquet DIRECTORY; duckdb wants the part files
        con.execute(
            f"create view {name} as"
            f" select * from read_parquet('{path}/*.parquet')"
        )
    return con.execute(sql).fetchdf()


def test_mcnemar_null_on_zero_discordant(spark, tmp_path):
    """Every panel part returned in both years -> b = c = 0 discordant
    pairs -> chi2 undefined -> NULL on both engines."""
    from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark import (
        catalog,
    )

    rows = []
    for pk in (1, 2, 3):
        for d in ("1996-06-01", "1997-06-01"):
            rows.append((pk, d, "R"))
    df = spark.createDataFrame(
        rows, "l_partkey long, ship string, l_returnflag string"
    ).select(
        "l_partkey",
        F.col("ship").cast("timestamp_ntz").alias("l_shipdate"),
        "l_returnflag",
    )
    path = str(tmp_path / "lineitem.parquet")
    df.write.parquet(path)
    got = catalog.q_mcnemar_test(spark, str(tmp_path)).collect()[0]
    assert got["n_pairs"] == 3
    assert got["b_96_only"] == 0 and got["c_97_only"] == 0
    assert got["mcnemar_chi2"] is None
    want = _duckdb_scalar(
        catalog.ORACLES["q_mcnemar_test"], {"lineitem": path}
    )
    assert want["mcnemar_chi2"].isna().all()


def test_levene_null_on_zero_spread(spark, tmp_path):
    """All quantities identical within each group -> ssw = 0 -> F
    undefined -> NULL on both engines."""
    from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark import (
        catalog,
    )

    rows = [
        (flag, 7, ok, ln)
        for flag in ("A", "R")
        for ok, ln in [(1, 1), (2, 1), (3, 1), (4, 1)]
    ]
    df = spark.createDataFrame(
        rows,
        "l_returnflag string, l_quantity long, l_orderkey long,"
        " l_linenumber int",
    )
    path = str(tmp_path / "lineitem.parquet")
    df.write.parquet(path)
    got = catalog.q_levene_quantity(spark, str(tmp_path)).collect()[0]
    assert got["ssw_t"] == 0
    assert got["bf_f"] is None
    want = _duckdb_scalar(
        catalog.ORACLES["q_levene_quantity"], {"lineitem": path}
    )
    assert want["bf_f"].isna().all()


def test_bm25_matches_python(spark, sf_dir):
    """q_bm25_topk is rows-only (the idf's ln() is libm-specific in its
    last ulp, so no cross-engine hash) — pin it against a pure-Python
    reference instead: identical tokenizer (regex whitespace split with
    boundary empties kept, matching Spark's split limit=-1), identical
    k1=1.2 / b=0.75 constants, exact ranking, scores at 1e-9."""
    import math
    import re

    from azure_cloud_based_end_to_end_data_pipeline_development_for_etl_and_visualization_spark import (
        catalog,
    )

    got = catalog.q_bm25_topk(spark, sf_dir).collect()
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    toks = {r.doc_id: re.split(r"\s+", r.text.lower()) for r in docs}
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    terms = ["data", "model", "training"]
    df = {t: sum(1 for tk in toks.values() if t in tk) for t in terms}
    scores = {}
    for d, tk in toks.items():
        s = 0.0
        for t in terms:
            tf = tk.count(t)
            if tf == 0 or df[t] == 0:
                continue
            idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * (tf * 2.2) / (
                tf + 1.2 * (1 - 0.75 + 0.75 * len(tk) / avgdl)
            )
        if s > 0.0:
            scores[d] = s
    want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    assert [r.doc_id for r in got] == [d for d, _ in want]
    for r, (_, s) in zip(got, want):
        assert abs(r.bm25 - s) < 1e-9
