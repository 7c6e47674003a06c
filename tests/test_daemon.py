"""The engine's Python worker daemon: zip importers re-read an archive
only when it changed, and every Python task of an engine session runs
under that wrapper."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from map_reduce_server_spark import daemon


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in members.items():
            zf.writestr(name, text)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on ``sys.path`` holding ``zw_first``, the wrapper installed
    for this test, and a count of the stock re-reads it lets through."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zw_first.py": "VALUE = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        daemon.invalidate_caches_if_changed)
    stock = daemon._stock_invalidate_caches
    stock_calls = []

    def counting_stock(self):
        stock_calls.append(self.archive)
        stock(self)

    monkeypatch.setattr(daemon, "_stock_invalidate_caches", counting_stock)
    monkeypatch.syspath_prepend(path)
    try:
        import zw_first  # noqa: F401

        yield path, sys.path_importer_cache[path], stock_calls
    finally:
        for name in ("zw_first", "zw_second"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(path, None)
        zipimport._zip_directory_cache.pop(path, None)


def test_unchanged_archive_keeps_its_directory(archive):
    path, importer, stock_calls = archive
    importlib.invalidate_caches()  # the first call stamps the importer
    files = zipimport._zip_directory_cache[path]
    stock_calls.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert stock_calls == []
    assert zipimport._zip_directory_cache[path] is files
    assert importer._files is files


def test_rewritten_archive_is_reread(archive):
    path, importer, stock_calls = archive
    importlib.invalidate_caches()
    before = os.stat(path)
    _write_zip(path, {"zw_first.py": "VALUE = 1\n", "zw_second.py": "VALUE = 2\n"})
    os.utime(path, ns=(before.st_atime_ns, before.st_mtime_ns + 1_000_000_000))
    stock_calls.clear()
    importlib.invalidate_caches()
    assert stock_calls == [path]
    import zw_second

    assert zw_second.VALUE == 2


def test_deleted_archive_takes_the_stock_path(archive):
    path, importer, stock_calls = archive
    importlib.invalidate_caches()
    os.remove(path)
    stock_calls.clear()
    importlib.invalidate_caches()
    assert stock_calls == [path]
    assert importer._files == {}
    assert path not in zipimport._zip_directory_cache


def _wrapper_module(_):
    import zipimport

    yield zipimport.zipimporter.invalidate_caches.__module__


def test_engine_session_tasks_run_under_the_wrapper(spark):
    import pandas as pd

    sc = spark.sparkContext
    assert set(sc.parallelize(range(4), 4).mapPartitions(_wrapper_module).collect()) == {
        "map_reduce_server_spark.daemon"
    }

    def arrow_task(batches):
        for _ in batches:
            yield pd.DataFrame({"m": list(_wrapper_module(None))})

    rows = spark.range(2).repartition(2).mapInPandas(arrow_task, "m string").collect()
    assert {r.m for r in rows} == {"map_reduce_server_spark.daemon"}
    assert sc.parallelize(range(8), 4).map(lambda x: x * 2).sum() == 56
