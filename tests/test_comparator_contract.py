"""Adversarial unit tests for the oracle comparator itself — the
gate's own gate. Every oracle verdict in the repo flows through
``map_reduce_server_spark.verify``; these pin its canonicalization
and mismatch-reporting contract directly, on crafted inputs the
corpus gates never produce (2^53-adjacent ints beside float columns,
NaN, Decimal, duplicate column names, one-extra-row multisets).
"""

from __future__ import annotations

import datetime as dt
import math
from collections import Counter
from decimal import Decimal

import pandas as pd

from map_reduce_server_spark.verify import (
    _canon_value,
    _canonical_rows,
    compare,
)
from tests.conftest import SF_SMALL


def test_canon_value_scalar_contract():
    assert _canon_value(None) == "<null>"
    assert _canon_value(float("nan")) == "<nan>"
    assert _canon_value(1.5) == "1.5"
    # repr of float64: bit-identity required, shortest round-trip repr
    assert _canon_value(0.1 + 0.2) == "0.30000000000000004"
    assert _canon_value(Decimal("2.50")) == "2.5"
    assert _canon_value(dt.datetime(2024, 1, 2, 3, 4, 5)) == (
        "2024-01-02T03:04:05"
    )
    assert _canon_value(dt.date(2024, 1, 2)) == "2024-01-02"
    # DATE vs midnight TIMESTAMP must NOT canonicalize equal — the
    # driver's comparator fails that pairing and so must ours
    assert _canon_value(dt.date(2024, 1, 2)) != _canon_value(
        dt.datetime(2024, 1, 2)
    )
    assert _canon_value(2**60) == str(2**60)
    # Python bool is an int subclass -> '1'/'0'; numpy.bool_ is NOT,
    # so it canonicalizes as 'True' — the asymmetry is WHY queries
    # never output bare boolean columns (fold to 'y'/'n' instead)
    assert _canon_value(True) == "1"
    import numpy as np

    assert _canon_value(np.bool_(True)) == "True"


def test_canonical_rows_preserves_int64_next_to_float():
    """iterrows() would upcast the int column to float64 row-wise,
    collapsing 2^53 and 2^53+1 into the same canonical string; the
    column-wise path must keep them distinct."""
    big = 2**53
    df = pd.DataFrame({"k": [big, big + 1], "x": [0.5, 0.5]})
    rows = _canonical_rows(df)
    assert rows[0] != rows[1]
    assert {r[0] for r in rows} == {str(big), str(big + 1)}


def test_canonical_rows_sorts_columns_and_rows():
    a = pd.DataFrame({"b": [2, 1], "a": ["y", "x"]})
    b = pd.DataFrame({"a": ["x", "y"], "b": [1, 2]})
    assert _canonical_rows(a) == _canonical_rows(b)


def test_compare_rejects_duplicate_columns(spark):
    df = spark.createDataFrame([(1, 2)], ["x", "x"])
    ok, msg = compare(df, "SELECT 1 AS x", SF_SMALL)
    assert not ok and "duplicate column name" in msg and "spark" in msg


def test_compare_schema_and_count_messages(spark):
    df = spark.createDataFrame([(1,)], ["x"])
    ok, msg = compare(df, "SELECT 1 AS y", SF_SMALL)
    assert not ok and "schema mismatch" in msg
    ok, msg = compare(df, "SELECT 1 AS x UNION ALL SELECT 2", SF_SMALL)
    assert not ok and "row count mismatch" in msg


def test_compare_value_mismatch_is_multiset_not_zip(spark):
    """One differing row must be reported alone: a positional zip of
    the two sorted lists would cascade spurious pairings."""
    df = spark.createDataFrame([(1,), (2,), (9,)], ["x"])
    ok, msg = compare(
        df, "SELECT * FROM (VALUES (1), (2), (3)) t(x)", SF_SMALL
    )
    assert not ok
    assert "only-in-spark=[('9',)]" in msg
    assert "only-in-oracle=[('3',)]" in msg


def test_compare_date_hint_fires_on_midnight_pairing(spark):
    df = spark.createDataFrame([(dt.datetime(2024, 1, 2),)], ["d"])
    ok, msg = compare(df, "SELECT DATE '2024-01-03' AS d", SF_SMALL)
    assert not ok and "never output DATE columns" in msg


def test_compare_accepts_matching_result(spark):
    df = spark.createDataFrame([("a", 1.5), ("b", float("nan"))], ["k", "v"])
    ok, msg = compare(
        df,
        "SELECT * FROM (VALUES ('a', 1.5), "
        "('b', CAST('NaN' AS DOUBLE))) t(k, v)",
        SF_SMALL,
    )
    assert ok, msg


def test_multiset_difference_math():
    # the Counter-difference idiom compare() relies on
    s = [("1",), ("2",), ("2",)]
    o = [("1",), ("2",)]
    assert list((Counter(s) - Counter(o)).elements()) == [("2",)]
    assert math.isnan(float("nan"))  # sanity anchor for the nan pin
