"""The correctness gate, run locally: every registered query with an
oracle must hash-match DuckDB at sf0.001 (fast) — the driver runs the
same comparison at sf0.01."""

from __future__ import annotations

import pytest

from map_reduce_server_spark import registry

registry.load_all()

_ORACLE_NAMES = sorted(registry.all_oracles())


@pytest.mark.parametrize("name", _ORACLE_NAMES)
def test_query_matches_oracle(spark, sf_small, name):
    from tests.oracle_utils import compare_to_oracle

    qfn = registry.all_queries()[name]
    oracle = registry.all_oracles()[name]
    df = qfn(spark, sf_small)
    ok, msg = compare_to_oracle(df, oracle, sf_small)
    assert ok, f"{name}: {msg}"


def test_every_query_has_oracle():
    """Every registered query runs under ``test_query_matches_oracle``
    only if every one has an oracle."""
    assert set(registry.QUERIES) == set(registry.ORACLE)


# Public (spark, sf_dir) functions that are shared stages, not
# queries: several registered dedup queries build on each.
_QUERY_SHAPED_HELPERS = {
    "map_reduce_server_spark.operators.dedup.minhash_wide",
    "map_reduce_server_spark.operators.dedup.simhash_halves",
}


def test_no_unregistered_query_functions():
    """A query lands registered or not at all: every public
    ``(spark, sf_dir)`` function in ``operators/`` and ``streaming/``
    is a registered query or a listed shared stage."""
    import importlib
    import inspect
    import pkgutil

    from map_reduce_server_spark import operators, streaming

    registered = set(registry.QUERIES.values())
    unregistered = set()
    for pkg in (operators, streaming):
        for info in pkgutil.iter_modules(pkg.__path__):
            mod = importlib.import_module(f"{pkg.__name__}.{info.name}")
            for name, obj in vars(mod).items():
                if (
                    not name.startswith("_")
                    and inspect.isfunction(obj)
                    and obj.__module__ == mod.__name__
                    and list(inspect.signature(obj).parameters)
                    == ["spark", "sf_dir"]
                    and obj not in registered
                ):
                    unregistered.add(f"{mod.__name__}.{name}")
    assert unregistered == _QUERY_SHAPED_HELPERS


def test_entry_smoke(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.entry(spark)
    assert df.count() > 0
