"""Python worker daemon for engine sessions.

:func:`session.get_spark` sets ``spark.python.daemon.module`` to this
module, so Spark starts the process that forks Python workers as
``python -m map_reduce_server_spark.daemon``. It differs from
``pyspark.daemon`` in one thing: before forking, it makes
``zipimport.zipimporter.invalidate_caches`` re-read an archive only
when the archive changed.

Every Python task starts with ``importlib.invalidate_caches()``
(``pyspark/worker_util.py`` ``setup_spark_files``), and on CPython 3.11 and
3.12 every cached ``zipimporter`` then re-reads its whole archive's
directory: 12-13 importers over ``pyspark.zip``, 2 over the Spark core jar
and 2 over py4j's zip, about 27,000 entries per task. CPython 3.13 already
defers the read, so the wrapper is the 3.13 behaviour with an eager stat
(about 16 ``stat`` calls per task) and no version branch.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches


def invalidate_caches_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips the re-read when the
    archive's ``(st_mtime_ns, st_size)`` equals the stamp taken before
    this importer's last re-read. An importer with no stamp yet, or an
    archive that cannot be stat-ed, takes the stock path (a missing
    archive leaves the importer an empty file map)."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is not None and stamp == getattr(self, "_read_stamp", None):
        return
    _stock_invalidate_caches(self)
    self._read_stamp = stamp


def install() -> None:
    """Swap the wrapper in for every ``zipimporter`` of this process,
    then stamp the importers that already exist, so that processes
    forked afterwards skip their first re-read too."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches_if_changed
    importlib.invalidate_caches()


if __name__ == "__main__":
    # install from the importable copy of this module, so the
    # wrapper's __module__ names it rather than __main__, and after
    # importing pyspark.daemon, so the importers that created are
    # stamped too
    from map_reduce_server_spark.daemon import install as _install
    from pyspark.daemon import manager

    _install()
    manager()
