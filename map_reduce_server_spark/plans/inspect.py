"""Physical-plan inspection.

There is no custom optimizer here — Catalyst is the optimizer
(SURVEY.md §4.1: the reference has none at all). What the engine owns
is *verifying* that the plans it declares come out the way a 100 TB
deployment needs: filters pushed to the scan, columns pruned,
dimensions broadcast, codegen unbroken. ``explain_str`` captures the
plan text so tests can assert those properties on it.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """Capture ``df.explain(mode)`` output as a string."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()

