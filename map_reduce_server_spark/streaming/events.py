"""Structured Streaming over the events table.

The reference's only temporal behavior is a FIFO job queue
(reference ``master/__main__.py:209-218``); real stream processing
is a north-star addition. The tumbling-window aggregation below runs
as a genuine streaming query (parquet file source → event-time
window → sink); in tests/oracle runs it's driven to completion with
``processAllAvailable`` on the bounded input.

Every ``stream_*`` query returns through :func:`run_bounded`, the one
sink: each micro-batch goes through ``foreachBatch`` to per-batch
parquet, and the runner reads the batches back as the result.

Scale note: at 100 TB/day the same plans run against a Kafka source
with watermark-bounded state; the window key (window x event_type)
is low-cardinality so state stays tiny.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from map_reduce_server_spark.io.tempdirs import cleanup_at_exit
from map_reduce_server_spark.registry import register
from map_reduce_server_spark.session import pin_semantics
from map_reduce_server_spark.tables import normalize_events_ts, read_parquet

_WINDOW = "5 minutes"


def windowed_event_counts(events: DataFrame) -> DataFrame:
    """Tumbling 5-minute window x event_type counts + exact value sum.

    Works for both batch and streaming DataFrames (same plan — that's
    the point of Structured Streaming).
    """
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", _WINDOW), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("window.start").alias("w_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "q_sliding_window",
    oracle="""
    WITH starts AS (
      SELECT event_type, value,
             unnest([CAST(floor(epoch(ts) / 300) AS BIGINT) * 300,
                     CAST(floor(epoch(ts) / 300) AS BIGINT) * 300 - 300])
               AS w_start_sec,
             epoch(ts) AS t
      FROM events
    )
    SELECT make_timestamp(w_start_sec * CAST(1000000 AS BIGINT)) AS w_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS total_value
    FROM starts
    WHERE t >= w_start_sec AND t < w_start_sec + 600
    GROUP BY 1, 2
    """,
)
def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) window: 10-minute windows every 5 minutes —
    each event lands in two windows. Batch form of the streaming
    window(ts, size, slide); the oracle expands each event into its
    candidate window starts explicitly."""
    from map_reduce_server_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("window.start").alias("w_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DataFrame over the bounded events table. The staged
    landing-zone dir is removed at interpreter exit."""
    pin_semantics(spark)
    batch_schema = read_parquet(spark, f"{sf_dir}/events.parquet").schema
    # The file-stream source wants a directory; stage a symlink dir so
    # the (read-only) single-file table looks like a stream landing zone.
    stage = tempfile.mkdtemp(prefix="mrss_stream_")
    cleanup_at_exit(stage)
    # abspath: the symlink target resolves relative to the SYMLINK's
    # directory (in /tmp), so a relative sf_dir would stage a
    # dangling link — batch reads work (Spark resolves against cwd)
    # while every streaming query fails on the source.
    os.symlink(
        os.path.abspath(f"{sf_dir}/events.parquet"),
        os.path.join(stage, "events.parquet"),
    )
    stream = spark.readStream.schema(batch_schema).format("parquet").load(stage)
    # shared batch/stream ts normalization — see tables.normalize_events_ts
    return normalize_events_ts(stream)


def run_bounded(
    stream: DataFrame, mode: str, keys: list[str] | None = None
) -> DataFrame:
    """Drive a streaming query over bounded input to completion and
    return its result — the one sink every ``stream_*`` query uses.

    Each micro-batch goes through ``foreachBatch`` to ``b{batch_id}``
    parquet; files keyed by batch id make a re-run of a batch
    overwrite idempotently (exactly-once output on at-least-once
    delivery), and nothing collects to the driver. With ``keys``
    (update and complete mode) the result is the latest-batch row per
    key; without (append mode) it is every emitted row. The output
    dir registers for cleanup BEFORE the query starts, so a failed
    micro-batch cannot leak it. batch_id is written as an explicit
    bigint — a bare ``lit(int)`` is INT32 in parquet.
    """
    out = tempfile.mkdtemp(prefix="mrss_sink_")
    cleanup_at_exit(out)

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id).cast("bigint"))
            .write.mode("overwrite")
            .parquet(os.path.join(out, f"b{batch_id}"))
        )

    query = stream.writeStream.outputMode(mode).foreachBatch(_write_batch).start()
    try:
        query.processAllAvailable()
    finally:
        query.stop()

    # Listed paths, not a ``b*`` glob: a stream that never emits
    # leaves no batch dirs, where a glob read fails path resolution
    # but zero listed paths read as an empty frame of the explicit
    # schema (the oracle returns 0 rows).
    schema = T.StructType(
        stream.schema.fields + [T.StructField("batch_id", T.LongType())]
    )
    rows = stream.sparkSession.read.schema(schema).parquet(
        *glob.glob(os.path.join(out, "b*"))
    )
    if keys:
        w = Window.partitionBy(*keys).orderBy(F.desc("batch_id"))
        rows = rows.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
    return rows.select(*stream.columns)


_STREAM_ORACLE = """
    SELECT make_timestamp(CAST(floor(epoch(ts) / 300) AS BIGINT)
                          * CAST(300000000 AS BIGINT)) AS w_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
"""


_STREAM_DEDUP_ORACLE = """
    SELECT event_type,
           CAST(CAST(floor(value) AS BIGINT) % 50 AS BIGINT) AS value_bucket,
           CAST(MIN(event_id) AS BIGINT) AS keeper_id,
           COUNT(*) AS n_copies,
           CAST(MIN(ts) AS TIMESTAMP) AS first_ts
    FROM events GROUP BY 1, 2
"""


@register("stream_dedup_events", oracle=_STREAM_DEDUP_ORACLE)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with a deterministic keeper rule: key events by
    a content fingerprint (event_type, bucketed value), keep the
    smallest event_id and count copies — the streaming face of
    ``dedup_exact``/``dedup_fingerprint``.

    ``dropDuplicates`` keeps whichever row a partition happens to
    deliver first (arrival-order-dependent, so no value oracle can
    pin it); the MIN-aggregate formulation is order-independent and
    therefore exactly replayable by the batch oracle, while still
    running as true keyed streaming state in update mode through
    :func:`run_bounded`. At scale, state is one row per distinct key
    (the dedup table itself), and the sink writes only updated keys
    per batch.
    """
    deduped = (
        _events_stream(spark, sf_dir)
        .groupBy(
            "event_type",
            (F.floor("value").cast("bigint") % 50).alias("value_bucket"),
        )
        .agg(
            F.min("event_id").alias("keeper_id"),
            F.count("*").alias("n_copies"),
            F.min("ts").alias("first_ts"),
        )
    )
    return run_bounded(deduped, "update", ["event_type", "value_bucket"])


@register("stream_window_counts", oracle=_STREAM_ORACLE)
def stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the windowed aggregation as a real streaming query over the
    bounded parquet input and return the final result.

    Complete mode: every micro-batch re-emits the whole result, so
    the latest batch per (window, event_type) is the answer. It is
    kept as the output-mode variant of
    ``stream_window_counts_incremental`` (the update-mode scale
    pattern); sink I/O per batch is O(all windows ever).
    """
    agg = windowed_event_counts(_events_stream(spark, sf_dir))
    return run_bounded(agg, "complete", ["w_start", "event_type"])


@register("stream_window_counts_incremental", oracle=_STREAM_ORACLE)
def stream_window_counts_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The scale-correct streaming aggregation: UPDATE-mode windowed
    counts through :func:`run_bounded`.

    Each micro-batch emits only the windows it updated — O(updated
    windows) per batch, not O(all windows ever) as in complete mode.
    The final table is the latest-batch row per (window, event_type).
    This is the pattern that survives unbounded input: state size is
    bounded by the watermark, sink I/O by the update rate.
    """
    agg = windowed_event_counts(_events_stream(spark, sf_dir))
    return run_bounded(agg, "update", ["w_start", "event_type"])


_STREAM_TRENDING_ORACLE = """
    WITH counts AS (
      SELECT make_timestamp(CAST(floor(epoch(ts) / 600) AS BIGINT)
                            * CAST(600000000 AS BIGINT)) AS w_start,
             event_type, COUNT(*) AS n_events
      FROM events GROUP BY 1, 2),
    ranked AS (
      SELECT w_start, event_type, n_events,
             row_number() OVER (PARTITION BY w_start
                                ORDER BY n_events DESC, event_type) AS rnk
      FROM counts)
    SELECT w_start, event_type, n_events, CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= 3
"""


@register("stream_trending_topk", oracle=_STREAM_TRENDING_ORACLE)
def stream_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending dashboard: top-3 event types per 10-minute window,
    maintained streaming-side. Ranking is not incrementally
    maintainable (one count update can reorder a whole window), so the
    scale pattern splits: the STREAM maintains per-(window, type)
    counts in update mode through :func:`run_bounded` — tiny keyed
    state, only touched keys written per batch —
    and the rank is the cheap serving-side query over the maintained
    table (windows × types rows, not events). The tie rule
    (count DESC, event_type) is total, so top-3 is engine-exact.
    """
    # watermark bounds the update-mode window state on an unbounded
    # source (without it every window's count row lives forever);
    # no-op for the bounded gate input, same setting as
    # windowed_event_counts. MUST group by the window STRUCT —
    # grouping by .getField("start") drops the event-time metadata
    # and the watermark silently never binds (verified: append mode
    # rejects that shape as "aggregation without watermark").
    counts = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("w_start"), "event_type", "n_events"
        )
    )
    table = run_bounded(counts, "update", ["w_start", "event_type"])
    rank_w = Window.partitionBy("w_start").orderBy(
        F.desc("n_events"), "event_type"
    )
    return table.withColumn("rnk", F.row_number().over(rank_w)).filter(
        F.col("rnk") <= 3
    )


# --- streaming sessionization ------------------------------------------------

# Oracle for stream_sessionize below: the identical
# first-principles lag/cumsum sessionization that certifies the
# batch q_session_window (operators/udf.py) — a streaming replay of
# the bounded input must land on exactly the batch answer.
_STREAM_SESSIONIZE_ORACLE = """
    WITH flagged AS (
      SELECT user_id, ts, value, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                   OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts, value,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS s_start,
           CAST(MAX(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS s_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS total_value
    FROM sess GROUP BY user_id, sid
"""


# One sentinel row with this ts is staged as the FINAL replay file:
# it advances the global watermark past every real session's end so
# append mode can finalize them on the bounded input (a real
# deployment's stream simply keeps flowing; a bounded replay needs
# the explicit nudge). Sessions at or past this instant are the
# sentinel's own and are filtered from the result.
_SESSIONIZE_FLUSH_TS = "2035-01-01 00:00:00"


def _events_stream_timeordered(
    spark: SparkSession,
    sf_dir: str,
    sentinel: bool = True,
) -> DataFrame:
    """Streaming DataFrame over the bounded events table staged as
    four TIME-RANGE files replayed one per micro-batch, plus a
    final one-row watermark-flush sentinel file — the multi-batch
    sibling of :func:`_events_stream` for operators whose cross-batch
    state transitions (session growth, append-mode finalization,
    watermark eviction) a single-batch replay would never exercise.
    The staged dir is removed at interpreter exit.

    Time-ordered arrival is the contract a watermarked source
    provides at scale (Kafka with bounded disorder): each batch's
    events are later than every prior batch's, so (a) nothing is ever
    late-dropped, and (b) a session evicted by the watermark can
    never receive a mergeable event afterwards — eviction is safe by
    construction, not by luck. ``repartitionByRange`` makes file k
    the k-th time range (NULL ts sorts into file 0 and is dropped by
    SessionWindowing whenever it arrives), file names follow
    partition order, and explicit mtimes pin the file-source replay
    order deterministically; the sentinel gets the LAST mtime.

    ``sentinel=False`` skips the flush row: NoTimeout stateful
    operators carry no watermark, so nothing needs flushing and the
    all-NULL sentinel row would instead surface as a spurious NULL
    group key in the operator's own output.
    """
    from map_reduce_server_spark.tables import load_table

    # load_table pins the session semantics before the events read
    ev = load_table(spark, sf_dir, "events")
    stage = tempfile.mkdtemp(prefix="mrss_stream_sess_")
    cleanup_at_exit(stage)
    data_dir = os.path.join(stage, "in")
    (
        ev.repartitionByRange(4, "ts", "event_id")
        .write.mode("overwrite")
        .parquet(data_dir)
    )
    parts = sorted(
        f
        for f in os.listdir(data_dir)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    base = 1_600_000_000
    for i, f in enumerate(parts):
        os.utime(os.path.join(data_dir, f), (base + 10 * i, base + 10 * i))
    if sentinel:
        # the flush sentinel: a far-future row, schema-identical
        # (built FROM the normalized frame so ts carries the same
        # type), written as its own file so it forms the final
        # micro-batch.
        sent_dir = os.path.join(stage, "sentinel")
        (
            ev.limit(1)
            .select(
                *[
                    F.lit(_SESSIONIZE_FLUSH_TS).cast("timestamp").alias("ts")
                    if f.name == "ts"
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in ev.schema.fields
                ]
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(sent_dir)
        )
        sent = next(
            f
            for f in os.listdir(sent_dir)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        final_path = os.path.join(data_dir, "part-zz-sentinel.parquet")
        shutil.copyfile(os.path.join(sent_dir, sent), final_path)
        t = base + 10 * (len(parts) + 1)
        os.utime(final_path, (t, t))
    schema = spark.read.parquet(data_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(data_dir)
    )
    return normalize_events_ts(stream)


@register("stream_sessionize", oracle=_STREAM_SESSIONIZE_ORACLE)
def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE streaming sessionization: native ``session_window``
    (30-minute gap) maintained as keyed streaming state across a
    multi-batch time-ordered replay — the streaming face of
    ``q_session_window`` and the stateful sibling of
    ``stream_window_counts_incremental`` (whose tumbling windows
    never change identity; sessions GROW and MERGE, which is why
    Spark restricts streaming session aggregation to APPEND mode —
    there is no key-stable row to update).

    Append mode emits each session EXACTLY ONCE, when the watermark
    passes its end and no mergeable event can still arrive — the
    streaming-native finalization a training-ingest pipeline wants
    (downstream consumers never see a session twice). On the bounded
    replay the last sessions would otherwise wait forever for a
    watermark that no longer moves, so the staging appends a one-row
    far-future sentinel file as the final micro-batch; its own
    session is sliced off by the ``s_start`` ceiling filter. The
    append-mode stream runs through :func:`run_bounded`. State is
    bounded by the watermark and sink I/O is O(finalized sessions per
    batch).
    """
    agg = (
        _events_stream_timeordered(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("s_start"),
            F.col("session_window.end").alias("s_end"),
            "n_events",
            "total_value",
        )
    )

    return run_bounded(agg, "append").filter(
        F.col("s_start") < F.lit(_SESSIONIZE_FLUSH_TS).cast("timestamp")
    )


# Oracle for stream_stateful_counts: the cents-exact running totals
# converge to a plain batch aggregate (same decimal(30,2) per-value
# rounding as dsum, so the SQL twin is the standard exact-sum
# rendering).
_STREAM_STATEFUL_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY event_type
"""


@register("stream_stateful_counts", oracle=_STREAM_STATEFUL_ORACLE)
def stream_stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM stateful streaming operator through the driver gate:
    per-event-type running (count, exact-cents total) maintained by
    ``applyInPandasWithState`` (streaming/stateful.py) across a
    multi-batch time-ordered replay — the one streaming family
    (arbitrary user state, beyond what window/session aggregation
    can express) no registered query exercised yet.

    The state is a (count, integer-cents) pair: each value rounds to
    cents independently (HALF_UP on the shortest decimal repr,
    exactly Spark's double->decimal(30,2) cast), so the fold is
    associative and the final snapshot is independent of batch
    boundaries — the streaming analog of the engine's exact-decimal
    aggregation rule, which is precisely what makes a batch SQL twin
    possible for a stateful operator. Replay is 4 time-range files,
    one per micro-batch with NO flush sentinel (NoTimeout state
    never needs a watermark), through :func:`run_bounded` in update
    mode; the result is the latest snapshot per key. At scale: state
    is one integer pair per key and each batch emits only updated
    keys."""
    from map_reduce_server_spark.streaming.stateful import (
        running_counts_stream,
    )

    agg = running_counts_stream(
        _events_stream_timeordered(spark, sf_dir, sentinel=False)
    )
    return run_bounded(agg, "update", ["event_type"])
