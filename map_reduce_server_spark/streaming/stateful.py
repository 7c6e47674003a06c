"""Custom stateful streaming operator via applyInPandasWithState.

The reference has no streaming (SURVEY.md §2.D). User-defined per-key state
evolves batch by batch; state is partitioned by key across executors, and
only each key's state lives in memory. State lives forever, which is
correct for low-cardinality keys (event types here).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T


OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total_cents", T.LongType()),
    ]
)


def _fold_cents(
    batches: Iterator[pd.DataFrame], n: int, total_cents: int
) -> tuple[int, int]:
    """Fold micro-batches into (count, exact-cents total).

    Cents (int64) instead of float accumulation: each value rounds to
    cents independently (HALF_UP, matching decimal(30,2)), so the integer
    total is associative and exact, independent of batch boundaries.
    Rounding: shortest decimal repr of the double (JVM BigDecimal.valueOf
    == Python repr), then HALF_UP (ties away from zero, for negatives too);
    floor(|v|*100 + 0.5) would mis-round values like 0.145 whose *100 falls
    a ulp below the half boundary. NULL/NaN and +/-inf values carry no
    amount: the decimal(30,2) cast yields NULL for all of them and SUM skips
    the value (n still counts the row, as COUNT(*)).
    """
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    cent = Decimal("0.01")
    for pdf in batches:
        n += len(pdf)
        vals = pdf["value"].dropna()
        vals = vals[np.isfinite(vals)]
        total_cents += sum(
            int(Decimal(repr(float(v))).quantize(cent, ROUND_HALF_UP) * 100)
            for v in vals
        )
    return n, total_cents


def _snapshot(key: tuple, n: int, total_cents: int) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "event_type": [key[0]],
            "n_events": [n],
            "total_value": [total_cents / 100.0],
        }
    )


def _update_counts(
    key: tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterable[pd.DataFrame]:
    """No-timeout update: fold the batches, keep state forever."""
    n, total_cents = state.get if state.exists else (0, 0)
    n, total_cents = _fold_cents(batches, n, total_cents)
    state.update((n, total_cents))
    yield _snapshot(key, n, total_cents)


def running_counts_stream(events_stream: DataFrame) -> DataFrame:
    """Per-event-type running (count, total) with custom state."""
    return events_stream.groupBy("event_type").applyInPandasWithState(
        _update_counts,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
