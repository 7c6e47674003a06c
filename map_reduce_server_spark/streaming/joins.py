"""Streaming joins: stream-static enrichment and watermarked
stream-stream interval joins.

The two join capabilities every production streaming pipeline needs
beyond windowed aggregation (reference has neither — its streams are
a FIFO job queue, reference ``master/__main__.py:209-218``):

- enrich: an unbounded fact stream joined to a bounded dimension.
  The dimension is broadcast, so the stream never shuffles and the
  join adds zero streaming state.
- correlate: two unbounded streams joined on a key within an
  event-time bound. Both sides carry watermarks and the join
  condition bounds time in BOTH directions, so Spark can expire
  state — the difference between bounded memory forever and OOM.

Both run as genuine streaming queries (file source → append mode
through ``events.run_bounded``) driven to completion on the bounded
input, so the batch oracle must match exactly: on append-only data,
a streaming inner join's final output IS the batch join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce_server_spark.registry import register
from map_reduce_server_spark.streaming.events import _events_stream, run_bounded


@register(
    "stream_static_enrich",
    oracle="""
    SELECT event_id, e.ts, e.value, c_mktsegment, c_acctbal
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type = 'purchase'
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the purchase stream joined to the
    customer dimension.

    No streaming state accrues: each micro-batch joins the bounded
    dim and flows on. The static side carries NO hard broadcast hint
    — customer is SF-linear, and the engine's broadcast policy (see
    the policy comment in ``tables.py``) reserves forced broadcasts
    for the constant-size region/nation dims; Spark still broadcasts here
    whenever the side actually fits (statistics-driven), which is
    the 100 TB/day pattern — dims broadcast while they fit, facts
    flow through.
    """
    from map_reduce_server_spark.tables import load_table

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    enriched = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .join(cust, F.col("user_id") == F.col("c_custkey"))
        .select("event_id", "ts", "value", "c_mktsegment", "c_acctbal")
    )
    return run_bounded(enriched, "append")


@register(
    "stream_stream_interval_join",
    oracle="""
    SELECT a.event_id AS click_id, b.event_id AS purchase_id,
           a.user_id,
           (epoch_us(b.ts) - epoch_us(a.ts)) // 1000000 AS delay_sec
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click' AND b.event_type = 'purchase'
     AND b.ts >= a.ts
     AND b.ts <= a.ts + INTERVAL 30 MINUTE
    """,
)
def stream_stream_interval_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermarked stream-stream join: clicks correlated to purchases
    by the same user within 30 minutes (click-to-conversion).

    Both sides carry a watermark and the join bounds event time in
    BOTH directions (purchase in [click, click + 30 min]), which is
    what lets Spark expire join state: a click older than watermark −
    30 min can never match again and is dropped. Without the bound
    the state grows without limit — the canonical unbounded-join
    mistake. On bounded input the final append output equals the
    batch join, which is exactly what the oracle replays.
    """
    stream = _events_stream(spark, sf_dir)
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
        )
    )
    joined = (
        clicks.join(
            purchases,
            (F.col("click_user") == F.col("user_id"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")
            ),
        )
        .select(
            "click_id",
            "purchase_id",
            "user_id",
            # Microsecond delta with integer division — sub-second
            # truncation semantics match the oracle's epoch_us//1e6
            # (per-timestamp second-flooring does not).
            F.expr(
                "(unix_micros(purchase_ts) - unix_micros(click_ts))"
                " div 1000000"
            ).alias("delay_sec"),
        )
    )
    return run_bounded(joined, "append")
