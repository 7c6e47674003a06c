"""Self-check: run every registered query against its DuckDB oracle.

The one comparator implementation (``tests/oracle_utils.py`` re-exports
from here), runnable without pytest:

    python -m map_reduce_server_spark verify --sf-dir /data/sf0.01

Comparison contract: row count, sorted column names, and order-insensitive
canonical values (floats via repr of float64, so bit-identical values are
required). Strict about DATE vs midnight-TIMESTAMP: duckdb fetchdf renders
DATE as datetime64, so the pairing fails in any fetchdf-based comparator;
the mismatch message points at the encoding.
"""

from __future__ import annotations

import math
from collections import Counter
from datetime import date, datetime
from decimal import Decimal


def _canon_value(v) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<nan>"
        return repr(float(v))
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, datetime):
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, int):
        return str(int(v))
    return str(v)


def _canonical_rows(df) -> list[tuple[str, ...]]:
    # Column-wise (Series.tolist), NOT iterrows: iterrows upcasts
    # each row to a common dtype, so an int64 beside a float column
    # becomes float64 — ints above 2^53 would canonicalize lossily
    # and distinct keys could compare equal. tolist() preserves each
    # column's own dtype as native Python values.
    cols = sorted(df.columns)
    col_values = [df[c].tolist() for c in cols]
    return sorted(
        tuple(_canon_value(v) for v in vals) for vals in zip(*col_values)
    )


def oracle_connection(sf_dir: str):
    """A DuckDB connection with every parquet table bound as a view.

    The path literal is quote-escaped (SQL '' doubling) — an sf_dir
    containing an apostrophe must not become a parser error mid-
    sweep. (DuckDB cannot PREPARE a CREATE VIEW, so a bound
    parameter is not an option; read_parquet also treats ``*?[]`` as
    glob syntax — a dataset dir literally named with those is not
    supported here, matching DuckDB's own CLI behavior.)"""
    import duckdb

    from map_reduce_server_spark.tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet".replace("'", "''")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


_DATE_HINT = (
    " (a 'T00:00:00'-vs-bare-date pairing means one side emitted DATE "
    "where the other emitted TIMESTAMP — never output DATE columns; "
    "duckdb renders them as datetime64 and the driver's hash diverges)"
)


def compare(
    spark_df, oracle_sql: str, sf_dir: str, con=None
) -> tuple[bool, str]:
    """Run the Spark result against the DuckDB oracle; (ok, message).

    Pass ``con`` (from :func:`oracle_connection`) to reuse one
    connection across a sweep; otherwise a fresh one is opened and
    closed per call.
    """
    sdf = spark_df.toPandas()
    own_con = con is None
    if own_con:
        con = oracle_connection(sf_dir)
    try:
        odf = con.execute(oracle_sql).fetchdf()
    finally:
        if own_con:
            con.close()
    for side, df in (("spark", sdf), ("oracle", odf)):
        if len(set(df.columns)) != len(df.columns):
            # df[c] on a duplicated name returns a DataFrame and the
            # canonicalizer would die with an opaque AttributeError
            dupes = sorted(
                c for c in set(df.columns) if list(df.columns).count(c) > 1
            )
            return False, f"duplicate column name(s) on {side}: {dupes}"
    if sorted(sdf.columns) != sorted(odf.columns):
        return False, (
            f"schema mismatch: spark={sorted(sdf.columns)} "
            f"oracle={sorted(odf.columns)}"
        )
    if len(sdf) != len(odf):
        return False, f"row count mismatch: spark={len(sdf)} oracle={len(odf)}"
    srows, orows = _canonical_rows(sdf), _canonical_rows(odf)
    if srows != orows:
        # multiset difference, NOT a positional zip of the two sorted
        # lists: one extra row shifts every later pairing and the zip
        # would print spurious mismatches while hiding the real one
        only_s = list((Counter(srows) - Counter(orows)).elements())[:3]
        only_o = list((Counter(orows) - Counter(srows)).elements())[:3]
        msg = (
            "value mismatch: only-in-spark="
            + repr(only_s)
            + " only-in-oracle="
            + repr(only_o)
        )
        flat = repr(only_s) + repr(only_o)
        if "T00:00:00" in flat:
            msg += _DATE_HINT
        return False, msg
    return True, "ok"


def verify_all(
    spark, sf_dir: str, names: list[str] | None = None
) -> dict[str, tuple[bool, str]]:
    """Run the gate for ``names`` (default: every oracle-checked
    query); returns {name: (ok, message)}.

    A rows-only query named explicitly is reported ``(True,
    "skipped: ...")`` — it has nothing to verify, which is not a
    failure (the CLI counts skips separately).
    """
    from map_reduce_server_spark import registry

    registry.load_all()
    targets = names if names is not None else sorted(registry.ORACLE)
    out: dict[str, tuple[bool, str]] = {}
    con = oracle_connection(sf_dir)
    # Release only blocks the SWEEP's queries pin: caller-held
    # checkpoints/caches from before the sweep must survive it.
    baseline = snapshot_block_ids(spark)
    try:
        for name in targets:
            # Explain a bad explicit name instead of surfacing a bare
            # KeyError that reads like a correctness failure.
            if name not in registry.QUERIES:
                out[name] = (False, "unknown query name (typo?)")
                continue
            if name not in registry.ORACLE:
                out[name] = (
                    True,
                    "skipped: registered without a SQL oracle "
                    "(rows-only query) — nothing to verify here",
                )
                continue
            try:
                out[name] = compare(
                    registry.QUERIES[name](spark, sf_dir),
                    registry.ORACLE[name],
                    sf_dir,
                    con=con,
                )
            except Exception as e:  # surface, don't abort the sweep
                out[name] = (False, repr(e)[:300])
            release_session_blocks(spark, baseline)
    finally:
        con.close()
    return out


def snapshot_block_ids(spark) -> set[int]:
    """Ids of currently persistent RDDs — pass to
    :func:`release_session_blocks` so a sweep releases only blocks
    its own queries pinned."""
    try:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    except Exception:
        return set()


def release_session_blocks(spark, baseline: set[int] | None = None) -> None:
    """Drop blocks a consumed query left pinned in the session.

    Iterative and multi-consumer operators ``stage_cut`` compact
    intermediates (edge lists, shingle tables, rank vectors); the blocks
    can only be released after the result is consumed, which the operator
    never sees. A long-lived session sweeping many queries otherwise
    accumulates dead blocks until the executor heap runs out. Call between
    queries once the previous result has been fully read.
    With ``baseline`` (from :func:`snapshot_block_ids`): release only
    RDDs pinned SINCE the snapshot — blocks the caller held before
    (their own localCheckpoints, cached tables) survive. Without it:
    session-owning mode — unpersist everything and clear the catalog
    cache (only safe when no one else holds state in the session).
    """
    try:
        for rdd_id, rdd in spark.sparkContext._jsc.getPersistentRDDs().items():
            if baseline is None or rdd_id not in baseline:
                rdd.unpersist()
        if baseline is None:
            spark.catalog.clearCache()
    except Exception:
        pass  # cleanup must never fail the sweep
