"""Deferred cleanup for query-scoped temp directories.

Queries that stage data through a local temp directory (connector
round-trips, foreachBatch sinks, partitioned layouts) must not delete it
while the DataFrame they return is alive: a recomputation after a cached
block is evicted or an executor is lost re-reads the path. Registered
directories are removed at interpreter exit instead.
"""

from __future__ import annotations

import atexit
import shutil

_DIRS: list[str] = []


def cleanup_at_exit(path: str) -> None:
    """Defer removal of ``path`` to interpreter exit."""
    _DIRS.append(path)


def _purge() -> None:
    for p in _DIRS:
        shutil.rmtree(p, ignore_errors=True)


atexit.register(_purge)
