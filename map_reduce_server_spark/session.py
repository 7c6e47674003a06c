"""SparkSession factory with scale-conscious defaults.

The reference engine hand-rolls its runtime (master/worker TCP/UDP,
reference ``mapreduce/master/__main__.py:56-68``); on Spark the
runtime already exists, so the only thing to configure is the SQL
engine: AQE on (runtime re-planning, skew-join handling), shuffle
partitions set to the session's ``defaultParallelism`` (its cores;
AQE coalesces batch shuffles down, and a new stateful stream records
the count as its state-partition count), Arrow for any Python-side
exchange, and the pinned session semantics (:data:`SEMANTICS`) so
results compare exactly against external oracles.

Engine sessions also start their Python workers through
:mod:`map_reduce_server_spark.daemon` (``spark.python.daemon.module``).
Every Python task calls ``importlib.invalidate_caches()``, and on
CPython 3.11 and 3.12 that makes each cached zip importer re-read its
whole archive (``pyspark.zip``, the Spark core jar): 200-300 ms per
task on 4 cores. The daemon's importers re-read an archive only when
it changed.

Python workers import this package one way in every session, from
any working directory: :func:`pin_semantics` ships it as a zip to the
session's SparkContext once (:func:`ship_package`), and engine
sessions also put its parent directory on the daemon's
``PYTHONPATH``, since the daemon starts before any shipped file
reaches a task.
"""

from __future__ import annotations

import os
import tempfile
import warnings
import weakref
import zipfile

from pyspark import SparkContext
from pyspark.sql import SparkSession

from map_reduce_server_spark.io.tempdirs import cleanup_at_exit

_PACKAGE_DIR = os.path.dirname(os.path.abspath(__file__))

# The session semantics every query's result depends on, in any
# session — including the grading driver's vanilla one. Applied by
# the get_spark builder and re-pinned at runtime by pin_semantics.
SEMANTICS = {
    # results compare exactly against external oracles only under a
    # fixed zone; NTZ events casts resolve it lazily, so the pin is
    # sticky for the whole session
    "spark.sql.session.timeZone": "UTC",
    # Spark 4 defaults ANSI mode ON, where x/0 THROWS; every DuckDB
    # oracle (and the SQL the engine's users write against it)
    # expects the NULL-on-zero convention, so a degenerate group
    # (n=1 variance, all-zero revenue) would crash Spark while the
    # oracle returns a NULL row
    "spark.sql.ansi.enabled": "false",
    # ...but non-ANSI re-enables the LEGACY size(NULL) = -1, which no
    # oracle can mirror (DuckDB len(NULL) is NULL); pin the modern
    # NULL-in-NULL-out semantics
    "spark.sql.legacy.sizeOfNull": "false",
    # events.parquet carries TIMESTAMP(NANOS); Spark has no nanos
    # type, so read as long and convert (see tables.load_table)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


_SHIPPED_TO: weakref.WeakSet[SparkContext] = weakref.WeakSet()


def ship_package(sc: SparkContext) -> None:
    """Make this package importable by ``sc``'s Python tasks: zip its
    directory (without ``__pycache__``) and ``addPyFile`` it, once per
    SparkContext. The guard is required, not just cheap: Spark refuses
    a second file of the same name from another path in one context.
    The zip's directory lives until interpreter exit, because Spark's
    file server reads the original path for the context's whole life."""
    if sc in _SHIPPED_TO:
        return
    tmp = tempfile.mkdtemp(prefix="mrss-pyfiles-")
    cleanup_at_exit(tmp)
    path = os.path.join(tmp, "map_reduce_server_spark.zip")
    root = os.path.dirname(_PACKAGE_DIR)
    with zipfile.ZipFile(path, "w") as zf:
        for dirpath, dirnames, filenames in os.walk(_PACKAGE_DIR):
            dirnames[:] = [d for d in dirnames if d != "__pycache__"]
            for name in filenames:
                full = os.path.join(dirpath, name)
                zf.write(full, os.path.relpath(full, root))
    sc.addPyFile(path)
    _SHIPPED_TO.add(sc)


def pin_semantics(spark: SparkSession) -> None:
    """Set :data:`SEMANTICS` on a live session — the one runtime
    writer of those confs (all are runtime-settable, and a session
    the engine did not build may have none of them) — and ship this
    package to its workers (:func:`ship_package`). The timezone pin
    is sticky and NOT restored: a session that arrives with a
    DIFFERENT explicit zone gets a loud warning, because its other
    queries will see UTC too and silence would make that look like
    engine nondeterminism instead of this contract."""
    ship_package(spark.sparkContext)
    prev_tz = spark.conf.get("spark.sql.session.timeZone", None)
    if prev_tz not in (None, "UTC"):
        warnings.warn(
            f"map_reduce_server_spark: pinning "
            f"spark.sql.session.timeZone to UTC (was {prev_tz!r}) "
            f"for the whole session — the engine's timestamp "
            f"semantics require it, and it is NOT restored",
            stacklevel=3,
        )
    for key, val in SEMANTICS.items():
        spark.conf.set(key, val)


def get_spark(
    app_name: str = "map_reduce_server_spark",
    cpus: str | int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or ``*``. On a real
    cluster the ``master`` setting comes from spark-submit and these
    SQL configs carry over unchanged.

    ``spark.sql.shuffle.partitions`` is ``defaultParallelism``
    (``cpus`` locally, the executors' cores on a cluster) unless
    ``extra_conf`` sets it; a stateful stream keeps the count it first
    started with in its checkpoint.

    Python workers fork from :mod:`map_reduce_server_spark.daemon`,
    which saves each Python task the 200-300 ms (4 cores, CPython
    3.11) of re-reading ``pyspark.zip`` and the Spark core jar; a
    4-task Python RDD job falls from about 0.40 s to 0.13 s. The
    daemon imports this package before any shipped zip reaches it,
    so ``spark.executorEnv.PYTHONPATH`` names the package's parent
    directory, which Spark adds to the daemon's ``PYTHONPATH``. A
    session built elsewhere (a vanilla ``SparkSession.builder``)
    keeps ``pyspark.daemon``, and its workers find the package in the
    shipped zip.

    The master is ``local[cpus,4]``: a failed task gets 4 attempts,
    the cluster default of ``spark.task.maxFailures``, where plain
    ``local[cpus]`` gives it one.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    builder = (
        SparkSession.builder.master(f"local[{cpus},4]")
        .appName(app_name)
        # AQE: coalesce post-shuffle partitions, convert to broadcast
        # joins at runtime, split skewed partitions — all essential at
        # 100 TB and harmless locally.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "map_reduce_server_spark.daemon")
        .config("spark.executorEnv.PYTHONPATH", os.path.dirname(_PACKAGE_DIR))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for key, val in {**SEMANTICS, **(extra_conf or {})}.items():
        builder = builder.config(key, val)
    spark = builder.getOrCreate()
    # one partition count per session, from the cores it has
    if "spark.sql.shuffle.partitions" not in (extra_conf or {}):
        spark.conf.set(
            "spark.sql.shuffle.partitions", spark.sparkContext.defaultParallelism
        )
    spark.sparkContext.setLogLevel("WARN")
    return spark
