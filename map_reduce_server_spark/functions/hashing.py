"""Deterministic, engine-portable hashing primitives.

MinHash / SimHash / fingerprinting need hash families that are (a)
deterministic, (b) computable identically in Spark SQL and any ANSI
oracle, and (c) JVM-side (no Python UDF in the hot path). md5 is
available everywhere with identical output, so we derive:

- ``md5_long(col)``  — first 15 hex chars of md5 as a non-negative
  int64 (60 bits). Used for fingerprints and SimHash bit sources.
- ``seeded_md5(col, seed)`` — md5 over ``"{seed}:" || value``:
  a cheap universal-ish family indexed by seed, used as the MinHash
  permutation family (min over lexicographic md5 hex strings is a
  valid min-wise hash).

All of these stay inside whole-stage codegen (pure built-ins).

Key type envelope: every helper renders the key through a cast-to-string,
and the engines agree on that rendering only for STRING and INTEGER keys.
Spark renders a double via Java's ``Double.toString`` (``1.0E7``) while
DuckDB renders the shortest round-trip decimal (``10000000.0``), so callers
with a fractional key must pre-render it with an explicit format on both
sides; never pass a raw double/decimal column.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_long(col: Column) -> Column:
    """First 60 bits of md5 as a non-negative bigint."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast("bigint")


def uniform01(tag: str, key: Column, mod: int = 1_000_000) -> Column:
    """Deterministic uniform in (0, 1]: ``(md5_long("tag:"||key) %
    mod + 1) / 1e6``. The +1 offset keeps u strictly positive (safe
    under ln); ``mod=999999`` additionally caps u at 0.999999 so
    BOTH tails are log-safe (inverse-CDF noise); the default 1e6
    reaches u = 1.0 exactly. :func:`sql_uniform01` is the oracle
    twin — the pair must be edited together."""
    h = md5_long(F.concat(F.lit(f"{tag}:"), key.cast("string")))
    return (h % mod + 1) / 1_000_000.0


def seeded_md5(col: Column, seed: int) -> Column:
    """Seeded md5 hex string — one member of the MinHash family."""
    return F.md5(F.concat(F.lit(f"{seed}:"), col.cast("string")))


def split_hash(key: Column) -> Column:
    """The engine's ONE deterministic dataset-split hash:
    ``md5_long('split:' || key)``. q_ab_test_welch, q_drift_psi and
    text_train_test_split all claim to read the same split — callers
    apply their own modulus (``% 2`` A/B arms, ``% 100 < 80``
    train/test) but MUST share this tag+recipe or the splits they
    compare silently stop being the same partition of the corpus.
    :func:`sql_split_hash` is the oracle twin."""
    return md5_long(F.concat(F.lit("split:"), key.cast("string")))


# DuckDB oracle twins -------------------------------------------------

def sql_md5_long(expr: str) -> str:
    """DuckDB twin of :func:`md5_long` (hex-literal cast)."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def sql_seeded_md5(expr: str, seed: int) -> str:
    """DuckDB twin of :func:`seeded_md5`."""
    return f"md5('{seed}:' || {expr})"


def sql_uniform01(tag: str, expr: str, mod: int = 1_000_000) -> str:
    """DuckDB twin of :func:`uniform01`."""
    h = sql_md5_long(f"'{tag}:' || {expr}")
    return f"({h} % {mod} + 1) / 1000000.0"


def sql_split_hash(expr: str) -> str:
    """DuckDB twin of :func:`split_hash`."""
    return sql_md5_long(f"'split:' || CAST({expr} AS VARCHAR)")
