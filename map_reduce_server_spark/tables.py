"""Parquet table access for the synthetic star schema.

The reference's only source is a directory of line-oriented text
files (reference ``mapreduce/master/__main__.py:288-289``); the new
engine's primary source is columnar parquet so Catalyst gets
predicate pushdown + column pruning for free. Text-dir reading for
the MapReduce façade lives in :mod:`map_reduce_server_spark.mapreduce`.
"""

from __future__ import annotations

import os
import stat
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from map_reduce_server_spark.session import pin_semantics

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Broadcast policy (enforced at each join site, not via a constant —
# a registry nothing consults would silently diverge from the actual
# F.broadcast() hints): region (5 rows) and nation (25 rows) are
# CONSTANT-size and safe to hint at any scale factor. Everything
# else — including supplier (10k x SF) — is SF-linear and carries NO
# hard broadcast hint; AQE broadcasts those sides only while they
# actually fit.


# The session confs that decide how parquet types map to Spark types
# (TIMESTAMP(NANOS), plain BINARY, INT96, timestamps without a zone).
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

# Inferred schemas of single-file parquet tables, keyed by what the
# inference reads: the file (absolute path, size, mtime) and the
# values of _SCHEMA_CONFS. A rewrite or a flipped conf changes the key.
_SCHEMAS: dict[tuple, StructType] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers a regular file's schema
    only on its first read. Inference starts a footer-reading Spark
    job per read (0.16 s warm for sf0.001 lineitem on 4 cores); a
    later read of the same unchanged file passes the kept schema and
    starts none.
    Directories and paths that cannot be stat-ed keep plain inference:
    their contents can change without the path's own stat changing."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    if not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    key = (
        os.path.abspath(path),
        st.st_size,
        st.st_mtime_ns,
        *(spark.conf.get(conf) for conf in _SCHEMA_CONFS),
    )
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = df.schema
    return df


def load_table(
    spark: SparkSession, sf_dir: str, name: str, widen: bool = False
) -> DataFrame:
    """Load one star-schema table from ``{sf_dir}/{name}.parquet``.

    ``widen=True`` round-robin repartitions the scan to the session's
    default parallelism. A small parquet table is one file with one
    row group, and only the split that holds the row group reads rows,
    however many splits Spark cuts the file into; every expensive
    narrow operation downstream (shingle explodes, md5 banks, cosine
    folds, Python codec decodes) would then run in one task before the
    first exchange (minhash_wide 2.57 -> 1.39 s at sf0.1 on local[32]).
    Callers opt in per operator: a scan that feeds straight into a
    groupBy/window exchange measured 2x SLOWER widened, so this is
    never blanket. Predicate pushdown and column pruning survive:
    Catalyst pushes both through the round-robin Repartition to the
    parquet scan. Under dynamic allocation ``defaultParallelism`` at
    build time may lag the executor count at run time; a miss costs
    one undersized round-robin exchange.

    ``events.ts`` has shipped in two physical encodings across
    driver-generated datasets, both normalized here to a zoned
    TIMESTAMP (instant semantics, UTC):

    - TIMESTAMP(NANOS): Spark's vectorized reader rejects it; with
      ``spark.sql.legacy.parquet.nanosAsLong`` it arrives as a nanos
      long and is converted by integer division (exact; the synthetic
      data has zero sub-microsecond residue).
    - timestamp[us] without UTC adjustment: arrives as TIMESTAMP_NTZ,
      which half the time functions (``unix_micros``, watermarks)
      reject. The wall time IS the UTC instant (DuckDB reads the same
      file naively), so the cast below must interpret it as UTC —
      the session timezone is pinned defensively because the grading
      driver's vanilla session inherits the JVM default.

    The read goes through :func:`read_parquet`, so a table's schema is
    inferred once per file, not once per call.
    """
    if name == "events":
        # nanosAsLong must be set BEFORE the read; the driver's own
        # session may have none of the engine's confs.
        pin_semantics(spark)
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_events_ts(df)
    if widen:
        df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


def normalize_events_ts(df):
    """Normalize the events ``ts`` column to a zoned TIMESTAMP —
    ONE definition shared by the batch loader and the streaming
    source (``streaming/events.py``), so a ts-encoding change cannot
    silently diverge the streams' event-time semantics from the
    batch oracles' input. ``nanosAsLong`` must be set by the caller
    BEFORE the read (:func:`session.pin_semantics`); the UTC session
    TZ the NTZ cast depends on is pinned again HERE (not trusted to
    callers — a third call site from a local-TZ session would
    otherwise shift every instant by the JVM offset with no error).
    withColumn replaces ts IN PLACE, so no re-select: a hardcoded
    column list would make the normalized schema differ from the
    native-timestamp branch for any events variant with extra/missing
    columns."""
    # The cast in the NTZ branch resolves the zone at analysis time;
    # sticky-pinning UTC is deliberate (restoring the previous TZ
    # after this call would re-shift the cast when the lazy plan
    # actually executes).
    pin_semantics(df.sparkSession)
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        # TIMESTAMP(NANOS) arrives as a nanos long under nanosAsLong;
        # integer division is exact (zero sub-microsecond residue).
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif ts_type == "timestamp_ntz":
        # NTZ wall time == UTC instant; session TZ is UTC, so this
        # cast attaches the zone without shifting.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# Last sf_dir whose views were registered, per SparkSession —
# register_views is called per SQL-entry query invocation, and
# re-reading 10 parquet footers each time is wasted driver latency.
# Keyed by the session (weakly — a dropped session must not leak its
# cache slot), NOT by applicationId: temp views are per-session, so
# an app-wide key would make spark.newSession() silently skip
# registration and see absent views.
_REGISTERED: "weakref.WeakKeyDictionary[SparkSession, str]" = (
    weakref.WeakKeyDictionary()
)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (for the SQL entry path).

    Idempotent per (session, sf_dir): a repeat call for the sf_dir
    whose views are ALREADY current is a no-op; a call for a
    different sf_dir re-registers (last registration wins). The
    short-circuit additionally confirms EVERY view still exists in
    the session catalog (ten driver-local lookups, no data access),
    so a dropTempView/catalog reset between calls — of any table,
    not just the first — re-registers instead of failing downstream
    SQL."""
    if _REGISTERED.get(spark) == sf_dir and all(
        spark.catalog.tableExists(name) for name in TABLES
    ):
        return
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    _REGISTERED[spark] = sf_dir
