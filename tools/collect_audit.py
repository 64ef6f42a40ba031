"""Package-wide driver-materialization audit: every ``.collect()`` /
``.toPandas()`` / ``.toArrow()`` / ``.toLocalIterator()`` call site in the
engine package must be REGISTERED with a one-line justification of why its
result is bounded (independent of fact-table size).

This mechanizes the last hand-audited scale contract (r10 VERDICT
next-round #2 — the same move that mechanized the broadcast-hint and
unpartitioned-window audits): a collect of a fact-scaling relation is a
driver OOM at 100 TB, and hand-reviewing the ~17 legitimate sites every
round does not converge. The audit walks the package source with the
``ast`` module (not grep — docstring/comment mentions don't count, and
enclosing functions are resolved structurally), and FAILS on:

- any driver-materialization call in a (file, function) not in
  :data:`REGISTRY`;
- any registered function whose site COUNT grew (a new collect added to
  an already-registered function must be re-justified, not inherited).

Shrinking counts are fine (sites removed need no re-review); the test
sweep also flags registry entries that no longer match any site, so the
registry can't accumulate dead rows.

Every registered site's bound, by class:

- **scalar**: 1-row aggregates (HWM max-ts, corpus max-norm M²);
- **k-sized**: k-means centroid matrices, PQ codebooks, per-merge-round
  argmax rows — bounded by a model-size parameter, never by rows;
- **query-batch**: a query batch held on the driver, in one of two forms:
  count-then-collect (the PQ/IVFPQ/MIPS lookup-table builds, where
  ``_require_bounded_queries`` counts under ``limit(max_query_batch + 1)``,
  default 8192, BEFORE the collect runs) or fetch-then-check (the IVF
  probe batch, fetched under ``limit(DEFAULT_MAX_QUERY_BATCH + 1)`` and
  raised past the cap);
- **domain-bounded**: histograms over value domains (price cents);
- **batch-bounded**: an incremental batch held on the driver, capped by
  ``plans.medallion.DRIVER_BATCH_ROWS`` before the rest of it is fetched.

Usage (also wired into tests/test_collect_audit.py as the sweep)::

    python tools/collect_audit.py            # audit, exit 1 on violation
"""

from __future__ import annotations

import ast
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG_NAME = (
    "azure_cloud_based_end_to_end_data_pipeline_development_for_etl_"
    "and_visualization_spark"
)

DRIVER_MATERIALIZE_ATTRS = frozenset(
    {"collect", "toPandas", "toArrow", "toLocalIterator"}
)

# (relpath within the package, enclosing function path) ->
#     (allowed site count, one-line bound justification)
REGISTRY: dict[tuple[str, str], tuple[int, str]] = {
    ("catalog.py", "q_mad_outlier::_hist_median"): (
        1,
        "domain-bounded: price-cent histogram (bounded value domain), "
        "median read off the driver-sized histogram",
    ),
    ("plans/compact.py", "zorder_compact_dir"): (
        1,
        "scalar: 1-row per-key min/max aggregate — validates the Morton "
        "domain (fail-fast on negative/NULL keys) and compiles the maxes "
        "in as literals",
    ),
    ("catalog.py", "q_streaming_left_interval"): (
        1,
        "scalar: 1-row max(ts) high-water mark for the stream horizon",
    ),
    ("catalog.py", "q_streaming_full_interval"): (
        1,
        "scalar: 1-row max(ts) high-water mark for the stream horizon",
    ),
    ("plans/scd.py", "_check_unique_source_keys"): (
        1,
        "scalar: 1-row duplicate-key count (merge precondition probe)",
    ),
    ("operators/bpe.py", "_top_pair"): (
        1,
        "k-sized: limit(1) argmax pair per BPE merge round",
    ),
    ("operators/gradient.py", "logreg_gd"): (
        1,
        "k-sized: 1-row gradient vector (dim-bounded) per GD step",
    ),
    ("operators/graph.py", "pagerank"): (
        1,
        "scalar: 1-row dangling-mass sum per iteration",
    ),
    ("operators/graph.py", "pagerank_int"): (
        1,
        "scalar: 1-row (node count, dangling count) aggregate validating "
        "the graph before the integer iterations",
    ),
    ("plans/medallion.py", "_batch_on_driver"): (
        1,
        "batch-bounded: silver under limit(DRIVER_BATCH_ROWS + 1); a "
        "larger batch is dropped and resolved in Spark instead",
    ),
    ("plans/medallion.py", "_merge_dim_on_driver"): (
        1,
        "batch-bounded: the existing dim rows whose business keys occur in "
        "a driver-held batch (a semi join against the batch's keys)",
    ),
    ("operators/similarity.py", "kmeans_centroids"): (
        2,
        "k-sized: seed rows (limit k) + k x dim centroid matrix per iter",
    ),
    ("operators/similarity.py", "load_centroids"): (
        1,
        "k-sized: persisted k x dim centroid artifact",
    ),
    ("operators/similarity.py", "load_codebooks"): (
        1,
        "k-sized: persisted n_sub x k x sub_dim codebook artifact",
    ),
    ("operators/similarity.py", "quantize_embeddings"): (
        1,
        "scalar: 1-row global min/max row for the quantization range",
    ),
    ("operators/similarity.py", "pq_train"): (
        2,
        "k-sized: sampled seed rows (limit k) + per-subspace centroid "
        "matrices",
    ),
    ("operators/similarity.py", "pq_topk"): (
        1,
        "query-batch: LUT build over queries, capped by "
        "max_query_batch via _require_bounded_queries before the collect",
    ),
    ("operators/similarity.py", "cosine_topk_ivf"): (
        1,
        "query-batch: fetched under limit(DEFAULT_MAX_QUERY_BATCH + 1), "
        "raised past the cap",
    ),
    ("operators/similarity.py", "cosine_topk_ivfpq"): (
        1,
        "query-batch: probe-list + LUT build over queries, capped by "
        "max_query_batch via _require_bounded_queries before the collect",
    ),
    ("operators/similarity.py", "mips_topk"): (
        1,
        "scalar: 1-row max corpus norm M^2 (the augmentation constant)",
    ),
}


def find_sites(pkg_root: str) -> list[tuple[str, str, int]]:
    """All driver-materialization call sites under ``pkg_root`` as
    (relpath, enclosing function path, lineno), resolved via AST."""
    sites: list[tuple[str, str, int]] = []
    for dirpath, _, files in os.walk(pkg_root):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            with open(path) as f:
                tree = ast.parse(f.read(), filename=path)
            rel = os.path.relpath(path, pkg_root)
            stack: list[str] = []

            class _V(ast.NodeVisitor):
                def visit_FunctionDef(self, node):
                    stack.append(node.name)
                    self.generic_visit(node)
                    stack.pop()

                visit_AsyncFunctionDef = visit_FunctionDef

                def visit_Call(self, node):
                    if (
                        isinstance(node.func, ast.Attribute)
                        and node.func.attr in DRIVER_MATERIALIZE_ATTRS
                    ):
                        sites.append(
                            (rel, "::".join(stack) or "<module>", node.lineno)
                        )
                    self.generic_visit(node)

            _V().visit(tree)
    return sites


def audit(pkg_root: str) -> tuple[list[str], list[str]]:
    """Return (violations, stale registry rows). Empty lists == clean."""
    sites = find_sites(pkg_root)
    counts: dict[tuple[str, str], list[int]] = {}
    for rel, fn, ln in sites:
        counts.setdefault((rel, fn), []).append(ln)
    violations = []
    for key, lines in sorted(counts.items()):
        allowed = REGISTRY.get(key)
        if allowed is None:
            violations.append(
                f"{key[0]}:{lines} in `{key[1]}`: driver materialization "
                "not in the reviewed registry — justify the bound in "
                "tools/collect_audit.py REGISTRY or keep the data "
                "distributed"
            )
        elif len(lines) > allowed[0]:
            violations.append(
                f"{key[0]}:{lines} in `{key[1]}`: {len(lines)} sites, "
                f"registry allows {allowed[0]} — a NEW collect in a "
                "registered function needs its own review"
            )
    stale = [
        f"{rel}::{fn} (registry row matches no site — remove it)"
        for (rel, fn) in sorted(set(REGISTRY) - set(counts))
    ]
    return violations, stale


def main() -> int:
    pkg_root = os.path.join(REPO, PKG_NAME)
    violations, stale = audit(pkg_root)
    for v in violations:
        print(f"VIOLATION  {v}")
    for s in stale:
        print(f"STALE      {s}")
    n_sites = len(find_sites(pkg_root))
    if not violations and not stale:
        print(f"OK: {n_sites} driver-materialization sites, all registered")
    return 1 if (violations or stale) else 0


if __name__ == "__main__":
    sys.exit(main())
