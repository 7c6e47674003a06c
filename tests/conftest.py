"""Shared fixtures: one SparkSession for the whole test run."""

from __future__ import annotations

import itertools
import os
import sys
import threading
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from map_reduce_server_spark import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"
if not os.path.isdir(SF_SMALL):
    # the benchmark's fixtures hold byte-identical copies of sf0.001
    SF_SMALL = os.path.join(ROOT, "perfbench", "fixtures", "sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="mrss-tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    yield spark


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_medium():
    if not os.path.isdir(SF_MEDIUM):
        pytest.skip(f"sf0.01 test data is absent ({SF_MEDIUM})")
    return SF_MEDIUM


@pytest.fixture(scope="session")
def spark_job_ids(spark):
    """``spark_job_ids(fn)`` runs ``fn()`` under a job group of its own
    and returns ``(fn's result, ids of the Spark jobs it started)``.
    The status tracker learns of jobs from the listener bus, in order
    but late, so a fence job in a second group runs after ``fn``: once
    the fence shows, every job ``fn`` started shows too."""
    sc = spark.sparkContext
    groups = itertools.count()

    def in_group(fn):
        group = f"spark-job-ids-{next(groups)}"
        sc.setJobGroup(group, group)
        try:
            return group, fn()
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)

    def run(fn):
        group, result = in_group(fn)
        fence, _ = in_group(lambda: sc.parallelize([0], 1).collect())
        deadline = time.time() + 60
        while not sc.statusTracker().getJobIdsForGroup(fence):
            assert time.time() < deadline, "fence job never reached the status tracker"
            time.sleep(0.05)
        return result, sorted(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture(scope="session")
def call_with_timeout():
    """``call_with_timeout(fn, seconds)`` returns ``fn()``, run on a
    daemon thread, and fails the test if the call has not returned
    within ``seconds``. For calls that can wait with no timeout of
    their own (``Observation.get``): a hang fails one test instead of
    stalling the suite."""

    def call(fn, seconds):
        out = {}

        def target():
            try:
                out["value"] = fn()
            except BaseException as exc:  # re-raised on the test's thread
                out["error"] = exc

        thread = threading.Thread(target=target, daemon=True)
        thread.start()
        thread.join(seconds)
        if thread.is_alive():
            pytest.fail(f"call still blocked after {seconds} s")
        if "error" in out:
            raise out["error"]
        return out["value"]

    return call
