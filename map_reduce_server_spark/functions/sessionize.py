"""Shared gap-based sessionizer (lag → new-session flag → prefix-sum
session numbers → per-session spans).

The one 30-minute-gap sessionization recurrence of q_sessionize
(relational.py), q_session_concurrency and q_interval_overlap_join
(advanced.py): the gap comparison is strictly-greater (a gap of exactly the
threshold does not break the session, matching Spark's native
``session_window`` exclusive-end semantics pinned by ``q_session_window``'s
oracle), with a (ts, event_id) tie-break. All builders are plan
constructors over the standard events columns (user_id, ts, event_id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.window import WindowSpec

DEFAULT_GAP = "INTERVAL 30 MINUTES"


def _w(keys: tuple[str, ...] = ("user_id",)) -> WindowSpec:
    # The window spec is frame-independent — it resolves against
    # whatever DataFrame the expression is applied to. Built lazily
    # because constructing a spec needs an active SparkContext.
    return Window.partitionBy(*keys).orderBy("ts", "event_id")


def session_flags(
    ev: DataFrame,
    gap: str = DEFAULT_GAP,
    keys: tuple[str, ...] = ("user_id",),
) -> DataFrame:
    """Add ``prev_ts`` and ``is_new`` (1 on the first event of every
    session: no predecessor, or predecessor more than ``gap`` older).
    ``keys`` sets the partition grain (q_debounce_events sessionizes
    per (user_id, event_type); everything else per user).

    NULL-ts rows are DROPPED, mirroring Spark's native
    ``session_window`` (SessionWindowing discards them) and the
    ``q_session_window`` oracle contract: keeping them would make
    twins engine-dependent — Spark sorts NULLs first (each becomes a
    phantom new session via ``prev_ts IS NULL``), DuckDB sorts them
    last (the NULL comparison keeps ``is_new`` 0). Every oracle built
    on this helper carries the matching ``ts IS NOT NULL`` guard.
    """
    ev = ev.where(F.col("ts").isNotNull())
    return ev.withColumn("prev_ts", F.lag("ts").over(_w(keys))).withColumn(
        "is_new",
        F.when(
            F.col("prev_ts").isNull()
            | (F.col("ts") > F.col("prev_ts") + F.expr(gap)),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )


def session_spans(ev: DataFrame) -> DataFrame:
    """One row per session at the ``DEFAULT_GAP``: (user_id,
    session_no, s_start, s_end), timestamps inclusive on both ends."""
    numbered = session_flags(ev).withColumn(
        "session_no",
        F.sum("is_new").over(
            _w().rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return numbered.groupBy("user_id", "session_no").agg(
        F.min("ts").alias("s_start"), F.max("ts").alias("s_end")
    )
