"""Python workers import the engine from any working directory.

Each case runs a driver in a fresh interpreter whose cwd is a temp
directory and whose environment has no ``PYTHONPATH``; only the
driver's own ``sys.path`` names the checkout. A façade query, a codec
query and a stateful streaming query must all match their oracles in
a vanilla session and in an engine session, and so must a façade job
submitted before any registered query has run.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from tests.conftest import SF_SMALL

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_NAMES = ["mr_wordcount", "multimodal_decode_jpeg", "stream_stateful_counts"]

_DRIVER = """
import json, os, sys, zipimport
sys.path.insert(0, {repo!r})
from map_reduce_server_spark import get_spark, verify
from map_reduce_server_spark.mapreduce import MapReduceJob, run_job
if {engine!r}:
    spark = get_spark(cpus=2)
else:
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[2]")
             .config("spark.sql.shuffle.partitions", "4").getOrCreate())
os.mkdir("in")
with open("in/f", "w") as fh:
    fh.write("b a\\n")
[part] = run_job(spark, MapReduceJob(os.path.abspath("in"), os.path.abspath("out"),
                                     "cat", "cat", 1, 1))
with open(part) as fh:
    facade = fh.read()
results = verify.verify_all(spark, {sf!r}, {names!r})
daemons = spark.sparkContext.parallelize(range(2), 2).mapPartitions(
    lambda _: [zipimport.zipimporter.invalidate_caches.__module__]).collect()
print("RESULT " + json.dumps({{"results": results, "daemons": sorted(set(daemons)),
                             "facade": facade}}))
"""


def _run_driver(tmp_path, engine: bool) -> dict:
    if not os.path.isdir(SF_SMALL):
        pytest.skip(f"{SF_SMALL} is absent")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    code = _DRIVER.format(repo=_REPO, engine=engine, sf=SF_SMALL, names=_NAMES)
    proc = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    return json.loads(lines[-1][len("RESULT "):])


def _assert_all_match(out: dict) -> None:
    assert out["facade"] == "b a\n"
    assert sorted(out["results"]) == sorted(_NAMES)
    assert all(ok for ok, _ in out["results"].values()), out["results"]


def test_vanilla_session_from_foreign_cwd(tmp_path):
    _assert_all_match(_run_driver(tmp_path, engine=False))


def test_engine_session_from_foreign_cwd(tmp_path):
    out = _run_driver(tmp_path, engine=True)
    _assert_all_match(out)
    assert out["daemons"] == ["map_reduce_server_spark.daemon"]


def test_package_ships_once_per_context(spark, monkeypatch):
    from map_reduce_server_spark.session import pin_semantics

    pin_semantics(spark)
    calls = []
    monkeypatch.setattr(spark.sparkContext, "addPyFile", calls.append)
    pin_semantics(spark)
    assert calls == []
