"""Structured Streaming: the streaming plan must equal the batch plan
on bounded input (the core Structured Streaming guarantee)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from map_reduce_server_spark.streaming.events import (
    run_bounded,
    stream_window_counts,
    windowed_event_counts,
)
from map_reduce_server_spark.tables import load_table


def test_stream_equals_batch(spark, sf_small):
    streamed = {
        (r.w_start, r.event_type, r.n_events, r.total_value)
        for r in stream_window_counts(spark, sf_small).collect()
    }
    batch = {
        (r.w_start, r.event_type, r.n_events, r.total_value)
        for r in windowed_event_counts(
            load_table(spark, sf_small, "events")
        ).collect()
    }
    assert streamed == batch
    assert len(streamed) > 0


def test_stream_sessionize_matches_oracle(spark, sf_small):
    """Gate-grade parity for the registered stream_sessionize
    (now registered): append-mode session_window state
    across the multi-batch time-ordered replay, flushed by the
    sentinel, must land exactly on the batch gaps-and-islands
    sessionization."""
    from map_reduce_server_spark.streaming.events import (
        _STREAM_SESSIONIZE_ORACLE,
        stream_sessionize,
    )
    from tests.oracle_utils import compare_to_oracle

    df = stream_sessionize(spark, sf_small)
    ok, msg = compare_to_oracle(df, _STREAM_SESSIONIZE_ORACLE, sf_small)
    assert ok, msg
    # append mode = exactly-once emission: no (user, start) dup rows,
    # and the sentinel's own session is sliced off
    import pyspark.sql.functions as F

    n = df.count()
    assert n > 0
    assert df.select("user_id", "s_start").distinct().count() == n
    assert df.filter(F.col("s_start") >= "2035-01-01").count() == 0


def test_stream_stateful_counts_matches_oracle(spark, sf_small):
    """Gate-grade parity for the registered stream_stateful_counts
    (now registered): applyInPandasWithState running
    (count, exact-cents total) across the sentinel-free multi-batch
    replay must converge to the batch aggregate."""
    from map_reduce_server_spark.streaming.events import (
        _STREAM_STATEFUL_ORACLE,
        stream_stateful_counts,
    )
    from tests.oracle_utils import compare_to_oracle

    df = stream_stateful_counts(spark, sf_small)
    ok, msg = compare_to_oracle(df, _STREAM_STATEFUL_ORACLE, sf_small)
    assert ok, msg
    assert df.count() >= 1


@pytest.mark.parametrize("mode", ["append", "update", "complete"])
def test_run_bounded_empty_source(spark, tmp_path, mode):
    """A source with no files runs no micro-batch and leaves no batch
    dirs: the runner still returns 0 rows with the stream's schema,
    where the oracle simply returns an empty result."""
    src = tmp_path / "src"
    src.mkdir()
    stream = spark.readStream.schema("k string, v bigint").parquet(str(src))
    keys = None
    if mode != "append":
        stream = stream.groupBy("k").agg(F.sum("v").alias("v"))
        keys = ["k"]
    out = run_bounded(stream, mode, keys)
    assert out.dtypes == stream.dtypes
    assert out.count() == 0
