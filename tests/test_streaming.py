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
