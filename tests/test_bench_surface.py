"""The engine surface the benchmark (``perfbench/``) calls.

perfbench drives the engine by name: its traced runs wrap engine functions
in spans, and its workloads call the pipeline entry points with fixed
arguments. Removing or renaming one of those breaks the benchmark without
failing any engine test, so this module pins them. No Spark session is
needed: only names and signatures are checked.
"""

from __future__ import annotations

import inspect
from types import SimpleNamespace

from perfbench.workloads import engine, instrument


class _NameCheckingTracer:
    """A tracer whose ``wrap`` only looks the wrapped function up."""

    def __init__(self):
        self.wrapped: list[str] = []

    def wrap(self, module, fn, name, after=None):
        getattr(module, fn)
        self.wrapped.append(name)


def test_traced_run_wraps_only_existing_functions():
    tracer = _NameCheckingTracer()
    instrument(SimpleNamespace(traced=True, tracer=tracer))
    assert "plans.medallion.build_gold" in tracer.wrapped
    assert "plans.versioned.commit_version" in tracer.wrapped


def test_workload_calls_still_bind():
    m = engine("plans.medallion", "operators.similarity")
    med, sim = m["plans.medallion"], m["operators.similarity"]
    calls = [
        (med.run_pipeline, ("spark", "csv", "lake"), {"publish": "versioned"}),
        (med.register_gold, ("spark", "lake"), {}),
        (med.gold_data_dir, ("lake", "factsales"), {}),
        (sim.kmeans_centroids, ("corpus",), {"n_centroids": 16, "n_iters": 2}),
        (sim.build_ivf_index, ("corpus", "cents", "path"), {}),
        (
            sim.cosine_topk_ivf,
            ("corpus", "queries"),
            {"k": 10, "n_probe": 4, "centroids": "cents", "index": "index"},
        ),
    ]
    for fn, args, kwargs in calls:
        inspect.signature(fn).bind(*args, **kwargs)


def test_benchmark_catalog_queries_have_oracles():
    from perfbench.workloads.medallion_refresh import CATALOG_QUERIES

    cat = engine("catalog")["catalog"]
    missing = [q for q in CATALOG_QUERIES if q not in cat.QUERIES or q not in cat.ORACLES]
    assert not missing, missing
