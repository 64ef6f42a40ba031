"""One build and one execution per catalog query, shared by every test
that checks the whole catalog (the scale-contract sweep in
tests/test_hint_audit.py and the smoke checks in test_entry_contract.py,
test_plans.py and test_relational.py). ``run_query`` memoizes per query,
so whichever of those tests reaches a query first pays for it and the
others read the recorded outcome."""

from __future__ import annotations

import functools
from dataclasses import dataclass

import __spark_entry__ as entry_mod
from tools.hint_audit import audit_hints, audit_windows

QUERIES = entry_mod.queries()

# The only Python evaluation a catalog plan may carry, per operator: the
# multimodal decode boundary (Arrow-batched MapInPandas) and the
# pandas_udf scoring stub. Row-at-a-time Python is allowed nowhere.
PYTHON_ALLOWED = {
    "MapInPandas": {
        "q_multimodal_chunks", "q_multimodal_dedup", "q_multimodal_digest",
        "q_multimodal_features", "q_multimodal_frames", "q_multimodal_resize",
    },
    "ArrowEvalPython": {"q_text_model_score"},
    "BatchEvalPython": set(),
}


def python_operators(df) -> frozenset[str]:
    """The Python evaluation operators in ``df``'s executed plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return frozenset(op for op in PYTHON_ALLOWED if op in plan)


def plan_violations(name, df) -> list[str]:
    """Every scale-contract violation in the plans of catalog query
    ``name``: (1) a broadcast hint on a subtree that is not structurally
    bounded (tools/hint_audit), (2) an unpartitioned Window over a
    fact-scaling input (a single-reducer sort at 100 TB), and (3) a
    Python operator in the executed plan that ``PYTHON_ALLOWED`` does not
    grant to ``name``."""
    found = python_operators(df)
    python = [
        f"{name}: {op} in the executed plan"
        for op, allowed in PYTHON_ALLOWED.items()
        if op in found and name not in allowed
    ]
    return audit_hints(df) + audit_windows(df) + python


@dataclass(frozen=True)
class QueryRun:
    violations: tuple[str, ...]
    python_ops: frozenset[str]
    columns: int
    rows: int


@functools.lru_cache(maxsize=None)
def run_query(spark, sf_dir, name) -> QueryRun:
    """Build catalog query ``name`` once, audit its plans, then execute it
    through ``toPandas()`` — the route tools/check_oracle.py takes — so
    every column of every row is evaluated. A query that raises is not
    recorded, so each test that reaches it sees the error. RDDs the query
    persisted (``cache``/``localCheckpoint`` inside its body) are released
    after the run, so they do not linger until a JVM GC drops them in the
    middle of a later test that counts persisted RDDs."""
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    held = set(persistent().keys())
    df = QUERIES[name](spark, sf_dir)
    violations = tuple(plan_violations(name, df))
    python_ops = python_operators(df)
    pdf = df.toPandas()
    for rdd_id, rdd in persistent().items():
        if rdd_id not in held:
            rdd.unpersist(False)
    return QueryRun(violations, python_ops, len(pdf.columns), len(pdf))
