"""Driver-materialization (collect/toPandas) audit sweep + canaries.

The last hand-audited scale contract, mechanized (r10 VERDICT next-round
#2): tools/collect_audit.py walks the package AST and fails on any
``.collect()``/``.toPandas()``/``.toArrow()``/``.toLocalIterator()`` site
outside the reviewed registry of bounded sites. The sweep keeps the package clean;
the canaries prove the audit can actually fail (a sweep that cannot fail
is not a gate) — both for an UNREGISTERED site and for a registered
function that silently GREW a second site.
"""

from __future__ import annotations

import os

from tools.collect_audit import PKG_NAME, REGISTRY, audit, find_sites

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_package_collect_sites_all_registered():
    violations, stale = audit(os.path.join(REPO, PKG_NAME))
    assert violations == [], "\n".join(violations)
    assert stale == [], "\n".join(stale)


def test_registry_rows_all_justified():
    for key, (count, why) in REGISTRY.items():
        assert count >= 1, key
        assert len(why) > 20, f"{key}: justification too thin"


def test_canary_unregistered_site_fails(tmp_path):
    (tmp_path / "rogue.py").write_text(
        "def fact_scan(df):\n"
        "    return [r for r in df.collect()]\n"
    )
    violations, _ = audit(str(tmp_path))
    assert len(violations) == 1
    assert "rogue.py" in violations[0] and "fact_scan" in violations[0]


def test_canary_count_growth_fails(tmp_path):
    """A registered (file, function) that adds a SECOND collect must
    fail: justifications don't transfer to new sites."""
    plans = tmp_path / "plans"
    plans.mkdir()
    (plans / "scd.py").write_text(
        "def _check_unique_source_keys(df):\n"
        "    a = df.collect()\n"
        "    b = df.collect()\n"
        "    return a, b\n"
    )
    violations, stale = audit(str(tmp_path))
    assert any("2 sites" in v and "allows 1" in v for v in violations)


def test_canary_topandas_and_iterator_detected(tmp_path):
    (tmp_path / "rogue2.py").write_text(
        "def f(df):\n"
        "    return df.toPandas()\n"
        "def g(df):\n"
        "    return list(df.toLocalIterator())\n"
    )
    sites = find_sites(str(tmp_path))
    assert {s[1] for s in sites} == {"f", "g"}


def test_canary_toarrow_detected(tmp_path):
    """Arrow collection materializes on the driver like collect()."""
    (tmp_path / "rogue3.py").write_text(
        "def h(df):\n"
        "    return df.toArrow()\n"
    )
    violations, _ = audit(str(tmp_path))
    assert len(violations) == 1 and "`h`" in violations[0]


def test_docstring_mentions_do_not_count(tmp_path):
    """grep would flag this; the AST walk must not (relational.py:620's
    docstring citation was the motivating false positive)."""
    (tmp_path / "doc.py").write_text(
        'def f(df):\n'
        '    """the reference does .collect()[0][0] here."""\n'
        '    return df\n'
    )
    assert find_sites(str(tmp_path)) == []
