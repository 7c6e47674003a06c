"""applyInPandasWithState: the final state after streaming the whole
bounded input must equal the batch aggregate."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from map_reduce_server_spark.streaming.events import run_bounded
from map_reduce_server_spark.streaming.stateful import running_counts_stream
from map_reduce_server_spark.tables import load_table


def _final_counts(stream) -> dict:
    """event_type -> (n_events, total_value) of the latest emitted row
    per key, i.e. the final state."""
    return {
        r.event_type: (r.n_events, r.total_value)
        for r in run_bounded(
            running_counts_stream(stream), "update", ["event_type"]
        ).collect()
    }


def test_stateful_running_counts_match_batch(spark, sf_small):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_small}/events.parquet").schema
    stage = tempfile.mkdtemp(prefix="mrss_state_")
    os.symlink(
        f"{sf_small}/events.parquet", os.path.join(stage, "events.parquet")
    )
    try:
        stream = (
            spark.readStream.schema(schema).format("parquet").load(stage)
        )
        if dict(stream.dtypes).get("ts") == "bigint":
            stream = stream.withColumn(
                "ts", F.expr("timestamp_micros(ts div 1000)")
            )
        got = _final_counts(stream)
    finally:
        shutil.rmtree(stage, ignore_errors=True)

    expected = {
        r.event_type: (r.n, round(r.total, 2))
        for r in load_table(spark, sf_small, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(30,2)"))
            .cast("double")
            .alias("total"),
        )
        .collect()
    }
    assert got == expected


def test_stateful_counts_batch_split_invariant(spark, tmp_path):
    """The associativity claim behind stream_stateful_counts'
    batch-SQL oracle, executed: the same rows replayed as ONE
    micro-batch and as THREE micro-batches (maxFilesPerTrigger=1)
    must produce identical final snapshots — per-value cents
    quantization makes the fold independent of batch boundaries,
    including the 0.145-style values whose *100 double sits a ulp
    below the half boundary."""
    import json

    rows = [
        ("a", 1.005, "2024-01-01T00:00:00"),
        ("a", 0.145, "2024-01-01T00:01:00"),
        ("b", -2.675, "2024-01-01T00:02:00"),
        ("a", 3.0, "2024-01-01T00:03:00"),
        ("b", 0.0, "2024-01-01T00:04:00"),
        ("b", None, "2024-01-01T00:05:00"),
    ]
    schema = "event_type string, value double, ts timestamp"

    def stream_of(split: list[list], tag: str):
        src = tmp_path / f"src_{tag}"
        src.mkdir()
        for i, chunk in enumerate(split):
            p = src / f"f{i}.json"
            p.write_text(
                "\n".join(
                    json.dumps({"event_type": e, "value": v, "ts": t})
                    for e, v, t in chunk
                )
            )
            os.utime(p, (1_600_000_000 + 10 * i,) * 2)
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )

    whole = _final_counts(stream_of([rows], "one"))
    split = _final_counts(stream_of([rows[:2], rows[2:4], rows[4:]], "three"))
    assert whole == split
    # shortest-repr HALF_UP: 1.005 -> 1.01, 0.145 -> 0.15 (its double
    # sits a ulp BELOW .0145e1, but the repr is what quantizes),
    # -2.675 -> -2.68 (ties away from zero for negatives too)
    assert whole["a"] == (3, 4.16) and whole["b"] == (3, -2.68)

    # One partition count per session: the engine session shuffles
    # into defaultParallelism partitions, and a new stateful stream
    # records that count as its state-partition count.
    n = spark.sparkContext.defaultParallelism
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(n)
    query = (
        running_counts_stream(stream_of([rows], "state"))
        .writeStream.outputMode("update")
        .format("noop")
        .option("checkpointLocation", str(tmp_path / "checkpoint"))
        .start()
    )
    try:
        query.processAllAvailable()
        progress = query.lastProgress
    finally:
        query.stop()
    assert progress["stateOperators"][0]["numShufflePartitions"] == n
