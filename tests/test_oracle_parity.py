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


def _check_rollup_multi_distinct(df):
    # the grid shape: at least 2 leaf statuses plus a grand-total
    # row, and the grand total sees every priority
    assert df[df.gid == 0].o_orderstatus.nunique(dropna=False) >= 2
    total = df[df.gid == 1].iloc[0]
    assert total.n_priorities == len(total.priorities.split("|"))


def _check_asof_join_forward(df):
    # a purchase row is its own forward match (ties included)
    assert (df.ts == df.next_purchase_ts).sum() > 0


def _check_collocations(df):
    import math

    from map_reduce_server_spark.operators.text import _COLLOC_MIN_COUNT

    assert len(df) and (df.n >= _COLLOC_MIN_COUNT).all()
    assert math.isfinite(df.sort_values("bigram").iloc[0].pmi)


def _check_graph_bfs_hops(df):
    from map_reduce_server_spark.operators.clustering import _BFS_MAX_HOPS

    hops = dict(zip(df.part_id, df.hops))
    assert hops
    assert min(hops.values()) == 0 and max(hops.values()) <= _BFS_MAX_HOPS
    # the seed is the smallest edge endpoint and only it has hops 0
    assert sum(1 for h in hops.values() if h == 0) == 1


def _check_window_time_range(df):
    # a row's own event is always inside its trailing frame
    assert (df.n_trailing_30m < 1).sum() == 0


def _check_lateral_topk(df):
    # every nation contributes at most 3 rows
    assert df.groupby("n_name", dropna=False).size().max() <= 3


def _check_connected_components(df):
    labels = dict(zip(df.part_id, df.component))
    assert labels
    # labels are component minima: every label labels itself
    assert all(labels[c] == c for c in set(labels.values()))


def _check_inverted_index(df):
    assert len(df)
    for r in df.head(50).itertuples():
        ids = r.postings.split(",")
        assert len(ids) == r.df >= 2
        assert r.tf_total >= r.df
        # numeric, strictly increasing posting order
        nums = [int(x) for x in ids]
        assert nums == sorted(nums) and len(set(nums)) == len(nums)


def _check_stream_sessionize(df):
    import pandas as pd

    # append mode = exactly-once emission: no (user, start) dup rows,
    # and the sentinel's own session is sliced off
    assert len(df) > 0
    assert len(df[["user_id", "s_start"]].drop_duplicates()) == len(df)
    assert (df.s_start >= pd.Timestamp("2035-01-01")).sum() == 0


def _check_decode_png(df):
    row = df.sort_values("doc_id").iloc[0]
    assert row.width == 4 and row.height == 3
    assert 0.0 <= row.mean_px <= 255.0


def _check_nonempty(df):
    assert len(df) >= 1


def _check_500_rows(df):
    assert len(df) == 500


# Properties beyond parity, one check per query.
_ORACLE_FRAME_CHECKS = {
    "q_rollup_multi_distinct": _check_rollup_multi_distinct,
    "q_asof_join_forward": _check_asof_join_forward,
    "text_collocations": _check_collocations,
    "q_bloom_prefilter_join": _check_nonempty,
    "graph_bfs_hops": _check_graph_bfs_hops,
    "q_window_time_range": _check_window_time_range,
    "q_lateral_topk": _check_lateral_topk,
    "q_bitmap_distinct": _check_nonempty,
    "graph_connected_components": _check_connected_components,
    "text_inverted_index": _check_inverted_index,
    "stream_sessionize": _check_stream_sessionize,
    "stream_stateful_counts": _check_nonempty,
    "multimodal_decode_png": _check_decode_png,
    "multimodal_decode_tga": _check_500_rows,
    "multimodal_decode_aiff": _check_500_rows,
}


@pytest.mark.parametrize("name", sorted(_ORACLE_FRAME_CHECKS))
def test_oracle_frame_properties(sf_small, name):
    """Properties beyond parity, checked on the DuckDB oracle frame
    alone: ``test_query_matches_oracle`` already asserts the Spark
    result equals that frame, so no Spark job is needed."""
    from tests.oracle_utils import duck_connection

    con = duck_connection(sf_small)
    try:
        df = con.execute(registry.ORACLE[name]).fetchdf()
    finally:
        con.close()
    _ORACLE_FRAME_CHECKS[name](df)


def test_every_query_has_oracle():
    """Every registered query runs under ``test_query_matches_oracle``
    only if every one has an oracle."""
    assert set(registry.QUERIES) == set(registry.ORACLE)


# Public (spark, sf_dir) functions that are shared stages, not
# queries: several registered dedup queries build on each.
_QUERY_SHAPED_HELPERS = {
    "map_reduce_server_spark.operators.dedup.doc_shingle_arrays",
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
