"""Streaming restart recovery: the checkpoint contract that makes
the streaming operators production-real at cluster scale.

Every registered streaming query drives its bounded input to
completion in ONE query lifetime (``streaming.events.run_bounded``);
these tests cover the part that only shows up in production — a
dropDuplicates query STOPPING and a new instance resuming from the
checkpoint. Two guarantees must compose:

- sink exactly-once: batches committed before the stop are not
  re-emitted by the restarted query (the parquet sink's commit log
  lives in the checkpoint);
- state recovery: operator state (here dropDuplicates' seen-keys)
  survives the restart, so a duplicate of a pre-restart key arriving
  after the restart is still dropped.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq


def _write_batch(landing: str, name: str, ids: list[int]) -> None:
    tbl = pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "value": pa.array([float(i) * 1.5 for i in ids]),
        }
    )
    pq.write_table(tbl, os.path.join(landing, name))


def _run_once(spark, landing: str, out: str) -> None:
    stream = (
        spark.readStream.schema("event_id bigint, value double")
        .parquet(landing)
        .dropDuplicates(["event_id"])
    )
    query = (
        stream.writeStream.outputMode("append")
        .format("parquet")
        .option("path", os.path.join(out, "data"))
        .option("checkpointLocation", os.path.join(out, "ckpt"))
        .start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()


def test_restart_recovers_state_and_sink_exactly_once(spark, tmp_path):
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    os.makedirs(landing)

    # lifetime 1: ids 1..10 (with an in-batch duplicate of 3)
    _write_batch(landing, "a.parquet", list(range(1, 11)) + [3])
    _run_once(spark, landing, out)

    # lifetime 2: ids 8..15 — 8, 9, 10 duplicate PRE-restart keys and
    # must be dropped by state recovered from the checkpoint
    _write_batch(landing, "b.parquet", list(range(8, 16)))
    _run_once(spark, landing, out)

    got = (
        spark.read.schema("event_id bigint, value double")
        .parquet(os.path.join(out, "data"))
        .collect()
    )
    ids = sorted(r["event_id"] for r in got)
    # exactly-once: 1..15, each exactly once — a re-emitted first
    # batch or lost second batch both break this
    assert ids == list(range(1, 16))
    # and values rode along uncorrupted
    assert all(r["value"] == r["event_id"] * 1.5 for r in got)


def test_restart_is_noop_when_no_new_data(spark, tmp_path):
    """A restart with nothing new must add nothing to the sink —
    the degenerate case where a re-emit bug is most visible."""
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    os.makedirs(landing)
    _write_batch(landing, "a.parquet", [1, 2, 3])
    _run_once(spark, landing, out)
    _run_once(spark, landing, out)  # restart, no new files
    got = spark.read.schema("event_id bigint, value double").parquet(
        os.path.join(out, "data")
    )
    assert sorted(r["event_id"] for r in got.collect()) == [1, 2, 3]

