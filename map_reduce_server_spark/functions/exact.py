"""Order-independent numeric aggregation helpers.

Floating-point sums are order-dependent, and Spark's partial
aggregation order differs run to run (and from any external engine).
Summing after an exact cast to DECIMAL makes the aggregate
associative and therefore bit-reproducible regardless of partitioning
— which is exactly what you want both for oracle comparison at sf0.01
and for run-to-run stability on a 1000-executor cluster. The final
cast back to DOUBLE keeps output schemas simple.

Input envelope, enforced loudly: the decimal(30,scale) cast rejects
NaN, +/-Infinity, and magnitudes at or above 10^(30-scale). DuckDB's
twin cast RAISES on such values, but under the engine's pinned
non-ANSI session Spark's cast yields NULL — which ``SUM`` would then
silently skip, returning a finite wrong answer the oracle gate could
not even compare (the oracle side errors out). So the Spark side
raises too: a non-NULL double whose decimal cast comes back NULL
trips ``raise_error`` instead of vanishing. NULL inputs remain
skipped by both engines' SUM/COUNT, per SQL semantics.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def checked_decimal(
    c: Column, scale: int, precision: int = 30
) -> Column:
    """decimal(precision,scale) cast that fails loudly where DuckDB's
    cast would error: NaN, infinities, and 10^(precision-scale)
    overflow all cast to NULL under the non-ANSI session —
    distinguishable from a genuinely NULL input, which stays NULL
    (SUM skips it, matching SQL on both engines). Use this for ANY
    sum-feeding decimal cast of a double, not just through dsum —
    an inline bare cast silently drops garbage rows the oracle's
    cast would error on.

    Shape matters on the hot path: the cast is evaluated ONCE and
    ``coalesce`` supplies the raise only when it came back NULL for a
    non-NULL input. The naive ``when(cast.isNull(), raise)
    .otherwise(cast)`` form evaluates the cast twice per row (no CSE
    across when-branches) — measured +62% on a dsum-heavy sf0.1
    aggregate vs +5% (noise) for this form."""
    dec = f"decimal({precision},{scale})"
    raise_expr = F.raise_error(
        F.concat(
            F.lit(
                f"exact: value not representable as "
                f"{dec} (NaN/Inf/overflow): "
            ),
            c.cast("string"),
        )
    ).cast(dec)
    return F.when(c.isNull(), F.lit(None).cast(dec)).otherwise(
        F.coalesce(c.cast(dec), raise_expr)
    )


def dsum(col: Column | str, scale: int = 2) -> Column:
    """Exact (decimal) sum of a double column, returned as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(checked_decimal(c, scale)).cast("double")


def davg(col: Column | str, scale: int = 2, ndigits: int = 6) -> Column:
    """Reproducible average: exact decimal sum / count, rounded.

    Division happens in double on identical inputs, so the result is
    bit-identical across engines; rounding just bounds the printed
    precision. Composed from :func:`dsum`, so numerator and
    denominator agree about which rows exist: the guarded cast
    raises on garbage rather than letting SUM drop rows COUNT keeps.

    Residual risk, documented not fixed: round(double, n) itself is
    not fully portable — Spark rounds the double's shortest decimal
    repr half-up while DuckDB disagrees on part of the .5-boundary
    set (tests/test_engine_portability_pins.py pins 1.005 -> 1.01 vs
    1.0). The quotient here would have to land EXACTLY on a
    shortest-repr half boundary at digit ndigits+1 to diverge —
    never observed across the full oracle gate at any SF — and both
    sides round the bit-identical quotient, so the exposure is only
    to that representational corner, not to accumulation order.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(dsum(c, scale) / F.count(c), ndigits)


_Q40 = 1099511627776.0  # 2^40 — power of two, so v * _Q40 is EXACT


def q40_int(c: Column) -> Column:
    """``floor(v * 2^40)`` as decimal(38,0) — the TIE-FREE exact cast
    for full-precision doubles (embeddings), where ``checked_decimal``
    is unsafe: a double→decimal(p,s) cast rounds ties HALF_UP in
    Spark but half-to-even in DuckDB, and low-precision embedding
    elements (k/2^13 etc.) ARE exact scale-12/scale-9 midpoints — the
    sf0.01 gate data contains 2 such elements, sf0.1 contains 9.
    Here every step is engine-exact instead: multiplying by a power
    of two only shifts the exponent (no rounding), ``floor`` is
    exact, and the decimal cast of an exact integer has no fraction
    to round. Loud-failure envelope mirrors ``checked_decimal``:
    NaN/Inf raise (DuckDB's decimal cast raises on them natively),
    and |v| >= 2^23 raises because Spark's ``floor(double)`` returns
    a BIGINT that would silently wrap past 2^63 under the non-ANSI
    session."""
    bad = F.isnan(c) | (F.abs(c) >= F.lit(2.0**23))
    raise_expr = F.raise_error(
        F.concat(
            F.lit(
                "exact: value not representable at 2^-40 "
                "quantization (NaN/Inf/|v|>=2^23): "
            ),
            c.cast("string"),
        )
    ).cast("decimal(38,0)")
    return F.when(c.isNull(), F.lit(None).cast("decimal(38,0)")).otherwise(
        F.when(bad, raise_expr).otherwise(
            F.floor(c * F.lit(_Q40)).cast("decimal(38,0)")
        )
    )


_Q40_SUM_LIMIT = 9007199254740992  # 2^53


def _checked_q40_sum(c: Column) -> Column:
    """The exact scaled integer sum, RUNTIME-guarded at 2^53: above
    that the decimal→double conversion is no longer tie-free on both
    engines (DuckDB's multi-limb hugeint→double can differ by 1 ulp
    from BigDecimal.doubleValue), so a group whose true sum exceeds
    2^13 = 8192 raises loudly instead of silently diverging from the
    oracle (whose twin carries the identical guard)."""
    s = F.sum(q40_int(c))
    return F.when(
        F.abs(s) >= F.lit(_Q40_SUM_LIMIT).cast("decimal(38,0)"),
        F.raise_error(
            F.concat(
                F.lit(
                    "exact: q40 group sum exceeds the 2^53 tie-free "
                    "envelope (true sum >= 8192): "
                ),
                s.cast("string"),
            )
        ).cast("decimal(38,0)"),
    ).otherwise(s)


def _sql_checked_q40_sum(expr: str) -> str:
    """DuckDB twin of :func:`_checked_q40_sum` (``error()`` raises).
    Carries BOTH guards the Spark side enforces: the per-row
    :func:`q40_int` envelope (NaN/Inf/|v| >= 2^23 raises — without
    it a group of large values that cancel would make Spark raise
    while the oracle returned a finite answer) and the 2^53 sum
    limit. NULL rows pass through the per-row CASE as NULL (the NOT
    isfinite predicate is NULL, not true), matching SUM's skip.

    Known cost, accepted: ``expr`` is interpolated three times
    (isfinite / ABS / FLOOR) with no CSE across CASE branches, so
    the ORACLE evaluates it up to 3x per row. Binding it once would
    need a lateral/subquery reshaping every caller's aggregate SQL;
    callers pass trivial expressions (a column or one division) and
    the engine side is unaffected, so clarity wins."""
    row = (
        f"CASE WHEN NOT isfinite({expr}) OR ABS({expr}) >= 8388608.0 "
        f"THEN CAST(error('exact: value not representable at 2^-40 "
        f"quantization (NaN/Inf/|v|>=2^23)') AS DECIMAL(38,0)) "
        f"ELSE CAST(FLOOR(({expr}) * 1099511627776.0) "
        f"AS DECIMAL(38,0)) END"
    )
    s = f"SUM({row})"
    return (
        f"CASE WHEN ABS({s}) >= {_Q40_SUM_LIMIT} THEN "
        f"CAST(error('exact: q40 group sum exceeds the 2^53 envelope') "
        f"AS DECIMAL(38,0)) ELSE {s} END"
    )


def qsum40(c: Column) -> Column:
    """Engine-exact sum of a double column at 2^-40 quantization —
    the non-averaged sibling of :func:`qmean40` (pagerank mass
    accumulation). The double division by 2^40 is an exact exponent
    shift, so the result is bit-identical on both engines. The
    scaled sum is runtime-guarded at 2^53 (see
    :func:`_checked_q40_sum`)."""
    return _checked_q40_sum(c).cast("double") / F.lit(_Q40)


def sql_qsum40(expr: str) -> str:
    """DuckDB oracle twin of :func:`qsum40`."""
    return (
        f"CAST({_sql_checked_q40_sum(expr)} AS DOUBLE) / 1099511627776.0"
    )


def qmean40(c: Column) -> Column:
    """Engine-exact mean of a double column at 2^-40 quantization:
    exact integer sum (order-independent, overflow-proof in
    decimal(38,0) to ~1e25 unit-scale rows), then two IEEE double
    divisions both engines perform identically. The result is the
    mean of the floor-quantized values — bias is < 2^-40 ≈ 9.1e-13,
    the same ballpark the old decimal(38,12) cast truncated at, but
    with NO rounding tie for the engines to disagree on.

    Denominator is COUNT(c), not COUNT(*): SUM skips NULL inputs, so
    counting them would silently treat each NULL as 0 (davg's
    contract, mirrored in :func:`sql_qmean40`). The scaled sum is
    runtime-guarded at 2^53 (see :func:`_checked_q40_sum`) — mean
    callers aggregate unbounded group totals (a corpus-half of
    embedding elements per dimension), so the envelope must be
    enforced, not assumed."""
    return (
        _checked_q40_sum(c).cast("double") / F.count(c)
    ) / F.lit(_Q40)


def sql_qmean40(expr: str) -> str:
    """DuckDB oracle twin of :func:`qmean40` (same floor, same exact
    integer sum, same guard, same NULL-skipping count, same division
    order)."""
    return (
        f"(CAST({_sql_checked_q40_sum(expr)} AS DOUBLE)"
        f" / COUNT({expr})) / 1099511627776.0"
    )


def sql_dsum(expr: str, scale: int = 2) -> str:
    """DuckDB oracle twin of :func:`dsum` (DuckDB's cast raises on
    NaN/Inf/overflow natively — the Spark side mirrors that)."""
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(30,{scale}))) AS DOUBLE)"


def spark_sql_dsum(expr: str) -> str:
    """Spark-SQL-dialect :func:`dsum` for queries whose ENGINE side
    is a SQL string (scalar subqueries, where the DataFrame API
    cannot express the form under test): the same checked envelope
    as :func:`checked_decimal`, inlined — under the pinned non-ANSI
    session a bare ``CAST(x AS DECIMAL)`` NULLs NaN/Inf/overflow and
    ``SUM`` silently skips the row, returning a finite wrong answer
    where the DuckDB twin raises. Sums at ``DECIMAL(30,2)``."""
    return (
        f"CAST(SUM(CASE WHEN ({expr}) IS NULL THEN NULL ELSE "
        f"COALESCE(CAST(({expr}) AS DECIMAL(30,2)), "
        f"CAST(raise_error('exact: value not representable as "
        f"decimal(30,2) (NaN/Inf/overflow): ' "
        f"|| CAST(({expr}) AS STRING)) AS DECIMAL(30,2))) END) AS DOUBLE)"
    )


def sql_davg(expr: str, scale: int = 2, ndigits: int = 6) -> str:
    """DuckDB oracle twin of :func:`davg`.

    Known, accepted trade-off in the final ROUND: Spark rounds a
    double HALF_UP on its shortest decimal repr while DuckDB rounds
    the binary value, so a quotient whose shortest repr lands EXACTLY
    on a 6-decimal midpoint (x.xxxxx5) can round differently — the
    divergence q_scalar_subquery hit and fixed by going unrounded.
    davg keeps the round because (a) its consumers' outputs flow
    through further rounding or comparisons where the 1e-6 band is
    immaterial, and (b) in queries that mix davg with libm functions
    (ln/exp/pow) the round is load-bearing — it absorbs genuine 1-ulp
    libm differences between engines. A davg quotient (2-decimal
    exact sum / integer count) hits a shortest-repr midpoint only on
    a measure-zero-ish set no round-1..7 gate (sf0.001/0.01/0.1) has
    ever produced; new pure-arithmetic queries SHOULD prefer emitting
    the raw double like q_scalar_subquery/q2_min_cost_supplier."""
    return f"ROUND({sql_dsum(expr, scale)} / COUNT({expr}), {ndigits})"
