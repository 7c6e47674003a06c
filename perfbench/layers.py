"""Tracing for the per-layer run.

Two sources, both kept in memory until the run ends:

- spans recorded by the benchmark around its calls into the engine's
  modules (``Tracer``), attributed to the operation execution that was
  running;
- Spark's own event log (``spark.eventLog.enabled``), parsed after the
  session stops: job spans and call sites, stage metrics and the SQL
  accumulables of Python workers, attributed to operation executions
  through the job group the benchmark sets before each one.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import defaultdict

_PKG = "map_reduce_server_spark"

# Stage-info accumulables -> (metric key, scale to seconds or MB).
_STAGE_ACCUMS = {
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.input.bytesRead": ("input_mb", 1e-6),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_mb", 1e-6),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_mb", 1e-6),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_mb", 1e-6),
    "internal.metrics.diskBytesSpilled": ("spill_mb", 1e-6),
    "time to run Python workers": ("python_worker_s", 1e-3),
    "data sent to Python workers": ("python_sent_mb", 1e-6),
    "data returned from Python workers": ("python_recv_mb", 1e-6),
}

_STAGE_CUT_SITES = ("localCheckpoint at ", "checkpoint at ")
_GROUP_SITES = ("sortByKey at ", "zipWithIndex at ")
_MAP_STAGE_SITE = ("reduceByKey at ", "mapreduce/job.py")


class Tracer:
    """Spans around calls into engine modules.

    ``current`` names the operation execution in progress; every span
    recorded while it is set is attributed to it.
    """

    def __init__(self) -> None:
        self.spans: list[tuple[str, str | None, float, float]] = []
        self.current: str | None = None

    def record(self, layer: str, start: float, end: float) -> None:
        self.spans.append((layer, self.current, start, end))

    def wrap(self, module, attr: str, layer: str) -> None:
        """Record a span around every call of ``module.attr``, wherever
        the engine imported it by name."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            t0 = time.time()
            try:
                return orig(*args, **kwargs)
            finally:
                self.record(layer, t0, time.time())

        for name, mod in list(sys.modules.items()):
            if name == _PKG or name.startswith(_PKG + "."):
                for key, val in list(vars(mod).items()):
                    if val is orig:
                        setattr(mod, key, traced)

    def by_exec(self) -> dict[str, dict[str, float]]:
        """Per operation execution: ``<layer>_s`` total span time and
        ``<layer>_calls`` count."""
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for layer, ex, t0, t1 in self.spans:
            if ex is not None:
                out[ex][layer + "_s"] += t1 - t0
                out[ex][layer + "_calls"] += 1
        return out


def parse_event_log(lines) -> dict[str, dict]:
    """Group Spark's event log by job group.

    Returns ``{group: {"jobs": [(start_s, end_s, call_site)],
    "stages": n, "tasks": n, "failed_tasks": n, "map_stage_s": s,
    <stage metric>: total}}``. A job's call site is the name of its
    last stage, which is how Spark names the job.
    """
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    job_group: dict[int, str] = {}
    job_info: dict[int, list] = {}
    stage_group: dict[int, str] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            last = max(ev["Stage Infos"], key=lambda s: s["Stage ID"])
            job_group[ev["Job ID"]] = group
            job_info[ev["Job ID"]] = [ev["Submission Time"] / 1e3, None, last["Stage Name"]]
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_group:
            info = job_info[ev["Job ID"]]
            info[1] = ev["Completion Time"] / 1e3
            g = groups[job_group[ev["Job ID"]]]
            g.setdefault("jobs", []).append(tuple(info))
        elif kind == "SparkListenerStageSubmitted":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is not None:
                stage_group[ev["Stage Info"]["Stage ID"]] = group
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            group = stage_group.get(info["Stage ID"])
            if group is None:
                continue
            g = groups[group]
            g["stages"] += 1
            for acc in info.get("Accumulables", []):
                key = _STAGE_ACCUMS.get(acc.get("Name"))
                if key is not None:
                    g[key[0]] += float(acc.get("Value") or 0) * key[1]
            name = info.get("Stage Name", "")
            if name.startswith(_MAP_STAGE_SITE[0]) and _MAP_STAGE_SITE[1] in name:
                g["map_stage_s"] += (
                    info["Completion Time"] - info["Submission Time"]
                ) / 1e3
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            if group is None:
                continue
            groups[group]["tasks"] += 1
            if ev.get("Task End Reason", {}).get("Reason") != "Success":
                groups[group]["failed_tasks"] += 1
    return groups


def is_stage_cut(call_site: str) -> bool:
    return call_site.startswith(_STAGE_CUT_SITES)


def is_group_job(call_site: str) -> bool:
    return call_site.startswith(_GROUP_SITES)
