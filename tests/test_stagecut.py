"""The stage-cut policy: a cut is a localCheckpoint that severs
lineage."""

from __future__ import annotations

from map_reduce_server_spark.stagecut import stage_cut


def _plan(df) -> str:
    return df._jdf.queryExecution().toString()


def test_default_is_local_checkpoint(spark):
    df = spark.range(100).transform(stage_cut)
    assert df.count() == 100
    # lineage severed: the plan is a checkpoint scan, not a Range
    assert "Range" not in _plan(df)
