"""Z-order (Morton) data layout for multi-dimensional scan pruning.

The reference has no storage layout control (its sort task orders lines
inside one output file). This is the engine's ``OPTIMIZE ... ZORDER BY
(a, b, ...)``: rewrite a table so parquet file-level min/max statistics
stay tight on several filter dimensions at once. A layout range-partitioned
on interleaved key bits gives every file a small axis-aligned box of the
key space, so a point or range predicate on any of the keys prunes all but
~n_files^((k-1)/k) files, where a single-column sort prunes only on that
column (docs/SCALING.md, Z-order layout).

The z-value is a fixed unrolled chain of shift/and/or expressions in
whole-stage codegen, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def z_value_n(cols: list[Column | str], bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of k non-negative integer
    columns into a Morton code (column j occupies bit positions
    ``i*k + j``).

    Inputs OUTSIDE [0, 2^bits) — including NULL — raise loudly
    instead of silently aliasing distant keys onto nearby z-values
    (which would corrupt the layout's pruning guarantee, not just an
    answer): callers map wider domains down first — rank, bucket id,
    epoch-day, or a truncating shift they choose consciously.
    """
    k = len(cols)
    if k < 1:
        raise ValueError("zorder: need at least one column")
    if bits < 1 or k * bits > 63:
        # (bits-1)*k + (k-1) = k*bits - 1 is the highest bit position
        # used, so k*bits = 63 tops out at position 62 (max z = 2^63-1)
        # and is the last safe config; k*bits = 64 puts the last key's
        # top bit on the long sign bit, and beyond that Java shift counts
        # wrap mod 64 and alias distant keys
        raise ValueError(
            f"zorder: k*bits must be in [1, 63], got {k}*{bits}"
        )
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    limit = 1 << bits
    # interleave over the raw columns, then wrap the range check around
    # the finished expression once per column: inside the bit loop the
    # guard CASE would be pasted into all k*bits terms of the chain
    z = F.lit(0).cast("long")
    for j, c in enumerate(cs):
        cl = c.cast("long")
        for i in range(bits):
            bit = F.shiftright(cl, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * k + j))
    out = z
    for j, c in reversed(list(enumerate(cs))):
        # NULL is outside [0, 2^bits) too: a bare (c < 0) predicate is
        # NULL for NULL input and when() would fall through to the
        # interleave. The c != cast term catches fractional doubles: the
        # interleave consumes cast('long'), so 15.9 would alias onto 15's
        # z-value. (NaN is caught by c >= limit: Spark orders NaN above
        # every value.)
        out = F.when(
            c.isNull()
            | (c < 0)
            | (c >= limit)
            | (c != c.cast("long")),
            F.raise_error(
                F.concat(
                    F.lit(
                        f"zorder: column {j} not an integer "
                        f"in [0, {limit}): "
                    ),
                    F.coalesce(c.cast("string"), F.lit("NULL")),
                )
            ).cast("long"),
        ).otherwise(out)
    return out


def z_value(a: Column | str, b: Column | str, bits: int = 16) -> Column:
    """Two-key Morton code (a in even positions, b in odd) — exactly
    :func:`z_value_n` with ``[a, b]``; kept as the named common case.
    """
    return z_value_n([a, b], bits)


def uniform_bucket(
    c: Column | str, lo: float, hi: float, bits: int = 16
) -> Column:
    """Map a continuous column into the [0, 2^bits) key domain
    :func:`z_value_n` requires: linear bucketing over a caller-known
    [lo, hi] envelope, clamped at both ends so out-of-envelope values
    degrade to edge buckets instead of failing the layout write. NULLs
    stay NULL and therefore still fail inside :func:`z_value_n`: a layout
    key must exist for every row.

    Uniform, not quantile, buckets keep the bucket function stateless and
    identical across rewrite runs, so incremental re-layout stays
    idempotent when the distribution drifts. For a skewed column, pass a
    tighter [lo, hi] envelope for its dense range.
    """
    if not hi > lo:
        raise ValueError("zorder: bucket envelope needs hi > lo")
    c = F.col(c) if isinstance(c, str) else c
    n = (1 << bits) - 1
    raw = F.floor((c - F.lit(lo)) / F.lit(hi - lo) * F.lit(float(n + 1)))
    clamped = F.least(F.greatest(raw, F.lit(0)), F.lit(n)).cast("long")
    # explicit NULL passthrough for BOTH un-keyable value classes:
    # greatest/least SKIP null operands (greatest(NULL, 0) = 0) and
    # floor(NaN) casts to 0L, so either would silently hand the row
    # bucket 0 — a legitimate-looking key laundered past z_value_n's
    # loud guard. Emitting NULL instead lets that guard fire.
    return F.when(
        c.isNull() | F.isnan(c.cast("double")), F.lit(None).cast("long")
    ).otherwise(clamped)


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int,
    bits: int = 16,
) -> None:
    """Rewrite ``df`` as ``n_files`` parquet files range-partitioned
    and internally sorted by the Morton code of ``cols``.

    One shuffle (the range exchange samples boundaries, then each task
    sorts its slice); the z column is dropped before the write so the
    stored schema is unchanged. Pick ``n_files`` for the target file size;
    a single-dimension predicate touches ~n_files^((k-1)/k) files.
    """
    if n_files < 1:
        raise ValueError("zorder: n_files must be >= 1")
    # the temp z column must not collide with an input column: a
    # duplicate name would make repartitionByRange's reference
    # ambiguous (analysis error) — and if it resolved, drop() would
    # remove BOTH columns, silently changing the stored schema
    zcol = "__z"
    while zcol in df.columns:
        zcol += "_"
    z = z_value_n(list(cols), bits).alias(zcol)
    (
        df.select("*", z)
        .repartitionByRange(n_files, zcol)
        .sortWithinPartitions(zcol)
        .drop(zcol)
        .write.mode("overwrite")
        .parquet(path)
    )
