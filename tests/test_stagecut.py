"""The stage-cut policy: a cut is a localCheckpoint that severs
lineage."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from map_reduce_server_spark import registry
from map_reduce_server_spark.stagecut import stage_cut, stage_cut_metric


def _plan(df) -> str:
    return df._jdf.queryExecution().toString()


def test_default_is_local_checkpoint(spark):
    df = spark.range(100).transform(stage_cut)
    assert df.count() == 100
    # lineage severed: the plan is a checkpoint scan, not a Range
    assert "Range" not in _plan(df)


def test_stage_cut_metric_rides_the_cut_job(spark, spark_job_ids):
    """The observed count costs no job beyond the cut's own, and the
    observe node stays below the cut: the returned plan is a plain
    checkpoint scan."""
    (cut, n), jobs = spark_job_ids(
        lambda: stage_cut_metric(spark.range(100), F.count(F.lit(1)))
    )
    assert n == 100
    assert len(jobs) == 1
    plan = _plan(cut)
    assert "Range" not in plan and "CollectMetrics" not in plan
    assert cut.count() == 100


@pytest.mark.parametrize(
    "case", ["empty_local_relation", "filter_false", "join_empty_at_runtime"]
)
def test_stage_cut_metric_counts_zero_rows(spark, call_with_timeout, case):
    """Inputs with no rows, including ones the planner prunes before or
    during the job, still deliver their metrics: ``Observation.get``
    waits with no timeout, so each call runs on a bounded thread."""
    left = spark.range(100).withColumn("k", F.col("id") % 3)
    frames = {
        "empty_local_relation": lambda: spark.createDataFrame([], "k bigint"),
        "filter_false": lambda: left.filter("false"),
        # rand() > 2 is never true, but only the job finds that out,
        # so AQE turns the join empty at runtime
        "join_empty_at_runtime": lambda: left.join(
            spark.range(100).filter(F.rand(1) > 2).withColumnRenamed("id", "k"),
            "k",
        ),
    }
    cut, n = call_with_timeout(
        lambda: stage_cut_metric(frames[case](), F.count(F.lit(1))), 120
    )
    assert n == 0
    assert cut.collect() == []


@pytest.mark.parametrize(
    "name",
    ["q_hybrid_retrieval_rrf", "q_market_basket", "q_rolling_active_users"],
)
def test_query_build_starts_no_job(spark, sf_small, spark_job_ids, name):
    """These queries carry no cut, so building one is lazy. The first
    build may infer parquet schemas (a job per file); the second finds
    them cached and must start no Spark job."""
    registry.load_all()
    query = registry.QUERIES[name]
    query(spark, sf_small)
    _, jobs = spark_job_ids(lambda: query(spark, sf_small))
    assert jobs == []
