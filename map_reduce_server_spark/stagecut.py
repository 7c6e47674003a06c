"""Stage-cut policy: ONE place where iterative and multi-consumer
operators sever lineage and materialize an intermediate.

Why lineage cuts exist here at all: iterative plans (pagerank,
pointer-jumping connected components) and multi-consumer plans
(PPJoin's shingle set, the co-purchase edge list) either grow an
exponentially deep lineage or re-execute an expensive subtree per
consumer. A cut bounds both. Everything else stays one lazy plan: a
cut is kept only where a loop needs it or where the uncut plan
measured slower for re-running a subtree, and each call site says
which in a ``# kept:`` line.

A cut is ``localCheckpoint``: executor-local blocks, no replication,
no DFS round-trip. The returned DataFrame's logical plan is a fresh
leaf (a ``LogicalRDD``), so Catalyst cannot re-expand the upstream
subtree, per-iteration plans stay O(1) deep, and every cut is eager:
it runs exactly one job at construction time.

A loop that steers on a scalar of what it cuts (a row count, a
convergence count) reads it with :func:`stage_cut_metric`: the
aggregate rides the cut's own job as an ``Observation``, so the scalar
costs no second job and no second driver round trip.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, Observation


def stage_cut(df: DataFrame) -> DataFrame:
    """Materialize ``df`` and sever its lineage (``localCheckpoint``)."""
    return df.localCheckpoint(eager=True)


def stage_cut_metric(df: DataFrame, metric: Column) -> tuple[DataFrame, Any]:
    """``stage_cut(df)`` plus one aggregate ``metric`` over the rows it
    materializes, computed by the cut's job. Returns ``(cut, value)``.

    The observe node sits below the cut, so the returned frame's plan
    is the plain cut's. Each call takes a fresh ``Observation`` (one
    cannot be attached twice), and ``get`` is read only after the
    eager cut has returned, so it waits on a job that has finished. An
    empty input yields the aggregate over zero rows (``count`` is 0),
    also when the planner prunes the job away."""
    obs = Observation()
    cut = stage_cut(df.observe(obs, metric.alias("value")))
    return cut, obs.get["value"]
