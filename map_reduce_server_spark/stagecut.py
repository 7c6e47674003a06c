"""Stage-cut policy: ONE place where iterative and multi-consumer
operators sever lineage and materialize an intermediate.

Why lineage cuts exist here at all: iterative plans (pagerank,
pointer-jumping connected components) and multi-consumer plans
(PPJoin's shingle set, RRF's two retrieval legs) either grow an
exponentially deep lineage or re-execute an expensive subtree per
consumer. A cut bounds both.

A cut is ``localCheckpoint``: executor-local blocks, no replication,
no DFS round-trip. The returned DataFrame's logical plan is a fresh
leaf (a ``LogicalRDD``), so Catalyst cannot re-expand the upstream
subtree, per-iteration plans stay O(1) deep, and every cut is eager:
it runs exactly one job at construction time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def stage_cut(df: DataFrame) -> DataFrame:
    """Materialize ``df`` and sever its lineage (``localCheckpoint``)."""
    return df.localCheckpoint(eager=True)
