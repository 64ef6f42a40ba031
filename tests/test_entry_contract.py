"""Driver-contract meta-tests: __spark_entry__ exposes exactly what the
grading driver expects, and the whole catalog executes under a session
with NO engine configs (the driver builds its own plain SparkSession —
any query needing session state must set it itself). Each catalog query
is built and executed once, by tests/catalog_sweep.run_query."""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry_mod  # noqa: E402
from tests.catalog_sweep import run_query  # noqa: E402


def test_oracle_keys_subset_of_queries():
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    extra = set(oracles) - set(qs)
    assert not extra, f"oracles without queries: {extra}"


def test_rows_only_queries_are_the_documented_set():
    """Every query SHOULD have an oracle; the rows-only remainder must be
    exactly the genuinely non-SQL-expressible/engine-specific set."""
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    rows_only = set(qs) - set(oracles)
    assert rows_only == {
        # (round 2 oracle-ified the former members q_scan_csv,
        # q_write_roundtrip, q_scd1_merge, q_scd2_merge, q_partitioned_prune;
        # round 6 oracle-ified q_multimodal_features — the 16-dim stub
        # features posexplode to sha256-derived scalars DuckDB recomputes)
        "q_incremental_ingest",  # sink side-effect
        "q_streaming_running_totals",  # state-store output
        "q_approx_distinct",     # HLL sketch estimates are engine-specific
        "q_approx_percentile",   # KLL/GK sketch estimates are engine-specific
        # (q_minhash_lsh_pairs left this set in round 2: banding now
        # buckets on value vectors, reproducible in SQL)
        # (round 7 oracle-ified q_cosine_topk_lsh: seeded hyperplanes are
        # plan literals and the dot fold matches list_sum, so buckets,
        # candidates, and ranking reproduce in SQL)
        "q_cosine_topk_ivf",     # approximate, recall tested in pytest
        "q_text_model_score",    # pandas_udf transcendentals differ in ulps
        "q_profile_table_approx",  # HLL++ estimates are engine-specific
        "q_pq_topk",             # PQ codebooks from float k-means, recall pytest
        "q_ivfpq_topk",          # IVF+PQ composed, same reason as q_pq_topk
        "q_pagerank",            # iterative float power iterations, pytest
        "q_streaming_anomaly",   # state-store EW recursions, pytest vs scalar
        "q_unigram_perplexity",  # log2/pow ulps are libm-specific, pytest
        "q_bpe_train",           # iterative merge learning, pytest vs Python ref
        "q_bpe_apply",           # applies the iteratively-learned rules, same
        "q_char_entropy",        # log2 ulps are libm-specific, pytest parity
        # (round 7 oracle-ified q_dedup_clusters AND q_leakage_safe_split:
        # label propagation's fixpoint — min reachable id — is a DuckDB
        # recursive transitive closure, so both hash-check cross-engine;
        # q_split_singleton_agreement pins the singleton subset besides)
        "q_hll_incremental_distinct",  # Datasketches HLL, lossless-merge pytest
        "q_rolling_dau_hll",     # same sketch, error-envelope pytest vs exact
        # (round 13 oracle-ified q_semantic_dedup: seeded plan-literal
        # centroids — the q_ivf_recall_eval closure trick — make cell
        # argmax, centroid cosines, the within-cell pair scan and the
        # keep rule reproduce bit-for-bit in SQL; iterative k-means
        # TRAINING keeps its pytest coverage in tests/test_similarity)
        "q_bigram_perplexity",   # log2 ulps are libm-specific, pytest parity
        "q_cube_distinct_sketch",  # HLL lattice, per-cell envelope pytest
        "q_logreg_gd",           # sigmoid/log ulps are libm-specific;
        #                          layout-exactness + numpy parity pytest
        "q_kcore",               # iterative peeling, pytest vs Python ref
        "q_bm25_topk",           # ln() idf ulps are libm-specific;
        #                          ranking + 1e-9 scores pinned vs pure
        #                          Python in tests/test_round11.py
    }


def test_entry_runs_on_plain_session(spark):
    df = entry_mod.entry(spark)
    assert len(df.columns) > 0
    assert df.count() > 0


def test_every_query_executes(spark, sf_dir):
    """Each catalog entry returns a non-degenerate DataFrame at sf0.001.
    (Value correctness is tools/check_oracle.py's job; this guards against
    a rename/regression making the driver's harness error out.)"""
    failures = []
    for name in entry_mod.queries():
        try:
            assert run_query(spark, sf_dir, name).columns, f"{name}: no columns"
        except Exception as ex:  # noqa: BLE001
            failures.append(f"{name}: {ex}")
    assert not failures, "\n".join(failures)


def test_docs_counts_in_sync():
    """SURVEY.md's claimed catalog size must match the registry — counts
    drifted by hand-editing twice in round 2; this pins them mechanically."""
    import re

    survey = open(os.path.join(REPO, "SURVEY.md")).read()
    m = re.search(r"\((\d+) queries, (\d+) with DuckDB oracle twins", survey)
    assert m, "SURVEY.md no longer states the catalog counts"
    assert int(m.group(1)) == len(entry_mod.queries())
    assert int(m.group(2)) == len(entry_mod.oracle_sql())
    # round-delta bullets drifted twice by hand-editing ("Catalog: 131"
    # while the registry held 132, VERDICT r5): every such phrase must
    # state the CURRENT count — older bullets get rephrased as "grew to".
    counts = [int(c) for c in re.findall(r"Catalog: (\d+) queries", survey)]
    assert counts, "SURVEY.md no longer has a 'Catalog: N queries' sentence"
    assert all(c == len(entry_mod.queries()) for c in counts), counts


def test_coverage_md_lists_every_query():
    """COVERAGE.md presents itself as the operator-inventory -> queries()
    map, but ~30 round-7 queries silently never made it in (r7 VERDICT
    doc-drift item). Pin it the way SURVEY counts are pinned: every
    catalog.QUERIES key must appear in COVERAGE.md, so the drift is
    impossible to reintroduce."""
    coverage = open(os.path.join(REPO, "COVERAGE.md")).read()
    missing = [k for k in entry_mod.queries() if k not in coverage]
    assert not missing, f"COVERAGE.md missing {len(missing)} queries: {missing}"


def test_rows_only_ledger_documents_every_rows_only_entry():
    """COVERAGE.md's 'Rows-only ledger' table (r12 VERDICT item 3) must
    stay in sync with the registry: every rows-only query gets a row in
    THAT section (not just a mention elsewhere), and nothing graduated
    lingers in it."""
    coverage = open(os.path.join(REPO, "COVERAGE.md")).read()
    start = coverage.index("## Rows-only ledger")
    end = coverage.index("## Scale utilities")
    section = coverage[start:end]
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    rows_only = set(qs) - set(oracles)
    missing = [n for n in rows_only if f"`{n}`" not in section]
    assert not missing, f"ledger missing {missing}"
    # graduated entries must not keep ledger rows (the section may MENTION
    # them as graduation precedents, but not carry a `q_...` table row
    # that starts a line)
    import re
    listed = set(re.findall(r"^\| `(q_\w+)` \|", section, re.M))
    stale = listed - rows_only
    assert not stale, f"ledger lists oracle-twinned entries: {stale}"
