"""Registry-order guard: the driver's correctness harness verifies only the
FIRST 50 entries of ``__spark_entry__.queries()`` in insertion order, so the
flagship block must (a) stay exactly 50 names, (b) all resolve to registered
queries, and (c) actually occupy the first 50 slots.  Any registry addition
that silently displaces a flagship row fails here, not in the driver report.
"""

from __future__ import annotations

import sys
import types

import pytest

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod


def test_flagship_is_exactly_50():
    assert len(entrymod.FLAGSHIP_ORDER) == 50
    assert len(set(entrymod.FLAGSHIP_ORDER)) == 50


def test_flagship_all_registered():
    q = entrymod.queries()
    missing = [k for k in entrymod.FLAGSHIP_ORDER if k not in q]
    assert not missing, f"flagship names not in registry: {missing}"


def test_first_50_are_flagship():
    q = entrymod.queries()
    assert list(q)[:50] == entrymod.FLAGSHIP_ORDER


def test_registry_is_complete_superset():
    # reordering must not drop or duplicate anything
    from db_migration_spark.queries import QUERIES

    q = entrymod.queries()
    assert set(q) == set(QUERIES)
    assert len(q) == len(QUERIES)


def test_oracles_match_queries():
    # one (query function, oracle) pair per entry: no query without an oracle
    from db_migration_spark.queries import ORACLES, QUERIES

    assert set(ORACLES) == set(QUERIES)
    empty = [k for k, v in ORACLES.items() if not (isinstance(v, str) and v.strip())]
    assert not empty, f"entries without oracle SQL: {empty}"


def _query_fn(name):
    def build(spark, sf_dir):
        raise AssertionError("stub query functions are never run")

    build.__name__ = name
    return build


def _stub_module(name, *pairs):
    mod = types.ModuleType(name)
    mod.REGISTRY = pairs
    return mod


def test_build_loop_names_and_order():
    from db_migration_spark.queries import _build_registry

    a = _stub_module(
        "stub_a", (_query_fn("q_b"), "SELECT 2"), (_query_fn("q_a"), "SELECT 1")
    )
    b = _stub_module("stub_b", (_query_fn("q_c"), "SELECT 3"))
    queries, oracles = _build_registry((a, b))
    assert list(queries) == ["b", "a", "c"]
    assert oracles == {"b": "SELECT 2", "a": "SELECT 1", "c": "SELECT 3"}


def test_build_loop_rejects_duplicate_name():
    from db_migration_spark.queries import _build_registry

    a = _stub_module("stub_a", (_query_fn("q_same"), "SELECT 1"))
    b = _stub_module("stub_b", (_query_fn("q_same"), "SELECT 2"))
    with pytest.raises(ValueError, match="'same'"):
        _build_registry((a, b))


def test_build_loop_rejects_function_not_named_q():
    from db_migration_spark.queries import _build_registry

    a = _stub_module("stub_a", (_query_fn("q_ok"), "SELECT 1"))
    b = _stub_module("stub_b", (_query_fn("build_x"), "SELECT 2"))
    with pytest.raises(ValueError, match="build_x"):
        _build_registry((a, b))


def test_bench_suite_names_resolve():
    """Every bench HEADLINE / FULL_SUITE name must be a registry key —
    a renamed or dropped query must fail here, not at bench time."""
    import importlib.util
    import sys

    spec = importlib.util.spec_from_file_location(
        "bench_module", "/root/repo/bench.py"
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["bench_module"] = mod
    spec.loader.exec_module(mod)
    from db_migration_spark.queries import QUERIES

    missing_h = [n for n in mod.HEADLINE if n not in QUERIES]
    missing_f = [n for n in mod.FULL_SUITE if n not in QUERIES]
    assert not missing_h, missing_h
    assert not missing_f, missing_f
    assert len(set(mod.FULL_SUITE)) == len(mod.FULL_SUITE)
    assert len(set(mod.HEADLINE)) == len(mod.HEADLINE)
