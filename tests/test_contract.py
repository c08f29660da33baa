"""Differential test of EVERY registered query against its DuckDB oracle,
plus the driver smoke contract. This is the local twin of the driver's
CORRECTNESS gate — run at sf0.001 for speed (the driver uses sf0.01).
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.oracle import compare

_QUERIES = entrymod.queries()
_ORACLE = entrymod.oracle_sql()


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0


def test_every_query_has_callable():
    assert _QUERIES, "no queries registered"
    for name, fn in _QUERIES.items():
        assert callable(fn), name


@pytest.mark.parametrize("name", sorted(_ORACLE))
def test_oracle_parity(spark, duck, sf_dir, name):
    compare(_QUERIES[name](spark, sf_dir), duck, _ORACLE[name])


@pytest.mark.parametrize("name", sorted(set(_QUERIES) - set(_ORACLE)))
def test_rows_only(spark, sf_dir, name):
    df = _QUERIES[name](spark, sf_dir)
    assert df.count() >= 0


def test_registry_in_module_order():
    """The registry lists keys in ``_MODULES`` order, each module's keys
    in definition order — no other ordering policy sits on top."""
    import importlib

    from modevetl_spark import queries as Q

    expected = [
        k
        for m in Q._MODULES
        for k in importlib.import_module(f"modevetl_spark.queries.{m}").QUERIES
    ]
    assert list(Q.all_queries()) == expected


def test_missing_query_module_is_loud(monkeypatch):
    """A query module that fails to import must raise, not silently drop
    its keys (and their parity tests) from the registry."""
    from modevetl_spark import queries as Q

    monkeypatch.setattr(Q, "_MODULES", [*Q._MODULES, "no_such_module"])
    with pytest.raises(ModuleNotFoundError):
        Q.all_queries()
