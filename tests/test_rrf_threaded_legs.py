"""Round-16 optimization pin: threaded RRF legs equal the sequential path.

``q_hybrid_retrieval_rrf`` materializes its two independent candidate
legs (BM25 top-k and cosine top-k) from two driver threads so their
jobs overlap (guide §2.6). Threading changes job SCHEDULING only —
the DataFrames built per leg are identical — so the fused result must
be exactly the sequential one. This pins that equality by running the
SAME function with its executor swapped for a synchronous shim, and
pins that a leg failure propagates out of ``.result()`` instead of
being swallowed by the pool.
"""

from __future__ import annotations

import pytest

from map_reduce_server_spark.operators import retrieval


class _SyncFuture:
    def __init__(self, fn, *args):
        self._fn, self._args = fn, args

    def result(self):
        return self._fn(*self._args)


class _SyncPool:
    """Drop-in ThreadPoolExecutor shim that runs submits inline,
    sequentially, on the calling thread — the pre-round-16 behavior."""

    def __init__(self, max_workers=None):
        pass

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False

    def submit(self, fn, *args):
        return _SyncFuture(fn, *args)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_threaded_rrf_equals_sequential(spark, sf_medium, monkeypatch):
    threaded = _rows(retrieval.q_hybrid_retrieval_rrf(spark, sf_medium))
    monkeypatch.setattr(retrieval, "ThreadPoolExecutor", _SyncPool)
    sequential = _rows(retrieval.q_hybrid_retrieval_rrf(spark, sf_medium))
    assert threaded == sequential
    assert len(threaded) == 10


def test_rrf_sequential_when_pinned_threads_off(spark, sf_medium, monkeypatch):
    """With PySpark's pinned-thread mode off, inheritable_thread_target
    returns the session itself (not a wrapper); the legs must then
    run in sequence and give the threaded result."""
    threaded = _rows(retrieval.q_hybrid_retrieval_rrf(spark, sf_medium))
    monkeypatch.setattr(retrieval, "inheritable_thread_target", lambda s: s)
    unpinned = _rows(retrieval.q_hybrid_retrieval_rrf(spark, sf_medium))
    assert unpinned == threaded


def test_rrf_leg_failure_propagates(spark, sf_medium, monkeypatch):
    def _boom(*_a, **_k):
        raise RuntimeError("leg build failed")

    monkeypatch.setattr(retrieval, "_bm25_scored", _boom)
    with pytest.raises(RuntimeError, match="leg build failed"):
        retrieval.q_hybrid_retrieval_rrf(spark, sf_medium)
