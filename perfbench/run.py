#!/usr/bin/env python3
"""Benchmark of the engine, one workload per run.

    python3 perfbench/run.py --workload sql --seed 1 --seconds 10 --trace 0

Reads the engine's reference fixture tables from ``perfbench/fixtures/``,
starts one SparkSession with ``local[<cores>]``, stages fixtures, runs
every operation of the workload once to warm up and check its output
against the DuckDB oracle, then runs a closed loop with one client
(each operation starts when the previous one ends) in whole passes
over the workload's operations, in an order drawn from ``--seed``:
at least the workload's ``workloads.PASSES``, and more until
``--seconds`` have elapsed. Scratch files go to
``.perfbench_work/`` inside the checkout and are removed when the run
ends.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` Spark's event log is on, spans are recorded around
the benchmark's calls into the engine's modules, and the last line
carries the per-layer metrics instead (per pass of the workload,
except the one-off set-up and canary figures). The line before it is
a detail record: seed, passes, sample count, tail percentile, error
rate, canary and per-operation medians.

Exits non-zero if any operation raised or any output failed its check.
"""

from __future__ import annotations

import time

_T0 = time.time()  # process start, for setup_s

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# per process, so two runs in one checkout do not share files
WORK = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
OUT = os.path.join(ROOT, ".perfbench_out")

import layers  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402

# Input tables: byte copies of the engine's reference fixtures, one
# directory per scale factor; ``sf0.1`` holds only ``documents``, the
# one table the façade jobs read. The data is fixed, so every seed
# measures the same data and the seed varies only the order of
# operations. ``iterative`` and ``multimodal`` run at sf 0.001: at sf
# 0.1 one run over all six iterative operators took 144 s against 52 s
# at sf 0.001, and over all eight codec legs 65 s against 44 s (4
# cores), too long to fit the runs of every workload in the
# benchmark's time. The façade jobs cost the same at both scales, so
# ``mapreduce`` runs at sf 0.1.
FIXTURES = os.path.join(HERE, "fixtures")
SF = {"sql": "sf0.001", "iterative": "sf0.001", "multimodal": "sf0.001", "mapreduce": "sf0.1"}
CANARY_SF = "sf0.001"

# End-to-end metrics gated by BENCHMARK.json. The detail record also
# carries op_p50_s, op_tail_s, peak_rss_mb and error_rate: with 2 to 6
# timed operations per run the first two are order statistics of a
# mixture of differently sized operations and swing from run to run,
# and the JVM's resident memory follows its heap sizing.
E2E_UNITS = {
    "setup_s": "s",
    "suite_s": "s",
}

# Per-layer metric -> unit. Per pass of the workload unless noted.
LAYER_UNITS = {
    "session.start_s": "s",  # once per run
    "registry.load_s": "s",  # once per run
    "registry.build_s": "s",
    "tables.load_table_calls": "count",
    "tables.load_table_s": "s",
    "stagecut.jobs": "count",
    "stagecut.s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.job_span_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.input_mb": "MB",
    "driver.gap_s": "s",
    "functions.python_worker_s": "s",
    "functions.python_sent_mb": "MB",
    "functions.python_recv_mb": "MB",
    "mapreduce.job_s": "s",
    "mapreduce.map_stage_s": "s",
    "mapreduce.group_jobs": "count",
    "mapreduce.shuffle_mb": "MB",
    "io.sinks.write_s": "s",
    "verify.check_s": "s",  # the check pass, once per run
    "canary.first_s": "s",  # once per run
    "canary.last_s": "s",  # once per run
    "trace.suite_s": "s",  # suite_s of this traced run
}


def _isolate_in_checkout() -> None:
    """Keep every file the run writes inside the checkout, and let
    Spark's Python workers import the engine from any working
    directory."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(WORK, sub))
    os.makedirs(OUT, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path.insert(0, ROOT)


def _oracle_connection(sf_dir: str):
    """``verify.oracle_connection`` over the tables ``sf_dir`` holds,
    which may be fewer than all of ``tables.TABLES``."""
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(sf_dir, f).replace("'", "''")
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
    return con


def _tree_rss_bytes(root_pid: int) -> int:
    """Resident memory of ``root_pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(entry))
    tree, frontier = [], [root_pid]
    while frontier:
        pid = frontier.pop()
        tree.append(pid)
        frontier.extend(children.get(pid, []))
    total = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            pass
    return total


class PeakRss:
    """Samples the process tree's resident memory on a thread."""

    def __init__(self, interval: float = 0.25) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._interval = interval

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
            if self._stop.wait(self._interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


class Bench:
    def __init__(self, args) -> None:
        self.args = args
        self.trace = bool(args.trace)
        self.tracer = layers.Tracer()
        self.ops = workloads.WORKLOADS[args.workload]
        self.rng = random.Random(args.seed)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.times: dict[str, list[float]] = {op: [] for op in self.ops}
        # timed executions: exec id -> (op, start, end)
        self.timed_execs: dict[str, tuple[str, float, float]] = {}
        self.timing = False
        self.one_off: dict[str, float] = {}
        self._n_exec = 0

    # --- set-up ---------------------------------------------------------

    def start(self) -> None:
        from map_reduce_server_spark import get_spark, registry, verify
        from map_reduce_server_spark.mapreduce import job as mr_job
        from map_reduce_server_spark.mapreduce import queries as mr_queries

        self.registry, self.verify, self.mr_job = registry, verify, mr_job
        # fixture directory per operation
        workload_dir = os.path.join(FIXTURES, SF[self.args.workload])
        self.dirs = {op: workload_dir for op in self.ops}
        self.dirs[workloads.CANARY] = os.path.join(FIXTURES, CANARY_SF)
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} "
                f"-Dderby.system.home={WORK} -XX:-UsePerfData"
            ),
        }
        if self.trace:
            os.makedirs(os.path.join(WORK, "eventlog"))
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": "file://" + os.path.join(WORK, "eventlog"),
            })
        t = time.time()
        self.spark = get_spark(
            app_name="perfbench",
            cpus=len(os.sched_getaffinity(0)),
            extra_conf=conf,
        )
        self.one_off["session.start_s"] = time.time() - t
        t = time.time()
        registry.load_all()
        self.one_off["registry.load_s"] = time.time() - t
        self.sc = self.spark.sparkContext
        self._jvm_proc = getattr(self.sc._gateway, "proc", None)

        if self.trace:
            from map_reduce_server_spark import tables
            from map_reduce_server_spark.io import sinks

            self.tracer.wrap(tables, "load_table", "tables.load_table")
            self.tracer.wrap(sinks, "write_numbered_text", "io.sinks.write")
            self.tracer.wrap(mr_job, "run_job", "mapreduce.job")
        inner_run_job = mr_job.run_job
        mr_job.run_job = lambda spark, job: self._facade_op(inner_run_job, spark, job)

        for name in self.ops + [workloads.CANARY]:
            hook = registry.PREPARE.get(name)
            if hook is not None:
                hook(self.spark, self.dirs[name])
        if self.args.workload == "mapreduce":
            self.input_dir = mr_queries.stage_documents_text(self.spark, workload_dir)

    # --- one operation ----------------------------------------------------

    def _begin(self, op: str) -> str:
        self._n_exec += 1
        ex = f"{op}#{self._n_exec}"
        self.sc.setJobGroup(ex, op, False)
        self.tracer.current = ex
        return ex

    def _end(self, ex: str, op: str, t0: float, t1: float) -> None:
        self.tracer.current = None
        if self.timing:
            self.timed_execs[ex] = (op, t0, t1)
            self.times[op].append(t1 - t0)

    def _run_query(self, op: str) -> float:
        baseline = self.verify.snapshot_block_ids(self.spark)
        ex = self._begin(op)
        t0 = time.time()
        try:
            df = self.registry.QUERIES[op](self.spark, self.dirs[op])
            self.tracer.record("registry.build", t0, time.time())
            df.write.format("noop").mode("overwrite").save()
        finally:
            t1 = time.time()
            self._end(ex, op, t0, t1)
            self.verify.release_session_blocks(self.spark, baseline)
        return t1 - t0

    def _facade_op(self, inner, spark, job):
        op = self._job_ops[job.output_directory]
        self.attempted += 1
        baseline = self.verify.snapshot_block_ids(spark)
        ex = self._begin(op)
        t0 = time.time()
        try:
            return inner(spark, job)
        finally:
            t1 = time.time()
            self._end(ex, op, t0, t1)
            self.verify.release_session_blocks(spark, baseline)

    def _facade_jobs(self, ops: list[str]) -> list:
        jobs = []
        self._job_ops = {}
        for op in ops:
            mapper, reducer = workloads.FACADE[op]
            out = tempfile.mkdtemp(prefix="mr_out_", dir=os.path.join(WORK, "tmp"))
            examples = os.path.join(os.path.dirname(self.mr_job.__file__), "examples")
            jobs.append(self.mr_job.MapReduceJob(
                input_directory=self.input_dir,
                output_directory=out,
                mapper_executable=f"python3 {shlex.quote(os.path.join(examples, mapper))}",
                reducer_executable=f"python3 {shlex.quote(os.path.join(examples, reducer))}",
                num_mappers=4,
                num_reducers=2,
            ))
            self._job_ops[out] = op
        return jobs

    def _fail(self, what: str, detail: str) -> None:
        self.failed += 1
        self.failures.append(f"{what}: {detail}"[:500])
        print(f"perfbench: FAILED {what}: {detail}", file=sys.stderr)

    # --- phases -------------------------------------------------------------

    def check_pass(self) -> None:
        """Warm-up: every operation once, output checked against its
        DuckDB oracle. Untimed. A façade job is checked through its
        registered query, which runs the same job and reads its
        ``outputfileNN`` files back."""
        cons = {d: _oracle_connection(d) for d in set(self.dirs.values())}
        check_s = 0.0
        try:
            for op in self.rng.sample(self.ops, len(self.ops)) + [workloads.CANARY]:
                sf_dir = self.dirs[op]
                self.attempted += 1
                baseline = self.verify.snapshot_block_ids(self.spark)
                t = time.time()
                try:
                    ok, msg = self.verify.compare(
                        self.registry.QUERIES[op](self.spark, sf_dir),
                        self.registry.ORACLE[op], sf_dir, con=cons[sf_dir],
                    )
                except Exception:
                    ok, msg = False, traceback.format_exc()
                self.verify.release_session_blocks(self.spark, baseline)
                check_s += time.time() - t
                if not ok:
                    self._fail(op, msg)
        finally:
            for con in cons.values():
                con.close()
            self.one_off["verify.check_s"] = check_s

    def canary(self) -> float:
        self.attempted += 1
        try:
            return self._run_query(workloads.CANARY)
        except Exception:
            self._fail(workloads.CANARY, traceback.format_exc())
            return float("nan")

    def timed(self) -> None:
        """Closed loop, one client: whole passes over the workload's
        operations in seed order, at least ``workloads.PASSES`` of them
        and more until the time is up."""
        deadline = time.time() + self.args.seconds
        min_passes = workloads.PASSES[self.args.workload]
        self.passes = 0
        self.timing = True
        while self.passes < min_passes or time.time() < deadline:
            order = self.rng.sample(self.ops, len(self.ops))
            if self.args.workload == "mapreduce":
                self._timed_facade(order)
            else:
                for op in order:
                    self.attempted += 1
                    try:
                        self._run_query(op)
                    except Exception:
                        self._fail(op, traceback.format_exc())
            self.passes += 1
        self.timing = False

    def _timed_facade(self, order: list[str]) -> None:
        """One pass: the seed-ordered queue of façade jobs through
        ``run_jobs``; each job is one timed operation. A job that raises
        ends the queue, so only the jobs that started count as
        attempted."""
        jobs = self._facade_jobs(order)
        try:
            self.mr_job.run_jobs(self.spark, jobs)
        except Exception:
            self._fail("run_jobs", traceback.format_exc())
        for job in jobs:
            shutil.rmtree(job.output_directory, ignore_errors=True)

    def stop(self) -> None:
        """Stop Spark and the JVM it launched, and wait for it."""
        proc = self._jvm_proc
        self.spark.stop()
        self.sc._gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # --- results ------------------------------------------------------------

    def layer_metrics(self) -> dict[str, float]:
        logs = os.listdir(os.path.join(WORK, "eventlog"))
        with open(os.path.join(WORK, "eventlog", logs[0])) as fh:
            groups = layers.parse_event_log(fh)
        spans = self.tracer.by_exec()
        per_op: dict[str, list[dict[str, float]]] = {op: [] for op in self.ops}
        for ex, (op, t0, t1) in self.timed_execs.items():
            g = groups.get(ex, {})
            jobs = g.get("jobs", [])
            job_spans = [(a - t0, b - t0) for a, b, _ in jobs]
            cut_spans = [(a - t0, b - t0) for a, b, site in jobs if layers.is_stage_cut(site)]
            wall = t1 - t0
            s = spans.get(ex, {})
            facade = op in workloads.FACADE
            per_op[op].append({
                "registry.build_s": s.get("registry.build_s", 0.0),
                "tables.load_table_calls": s.get("tables.load_table_calls", 0.0),
                "tables.load_table_s": s.get("tables.load_table_s", 0.0),
                "stagecut.jobs": float(len(cut_spans)),
                "stagecut.s": metrics.union_length(metrics.clip(cut_spans, 0.0, wall)),
                "spark.jobs": float(len(jobs)),
                "spark.stages": g.get("stages", 0.0),
                "spark.tasks": g.get("tasks", 0.0),
                "spark.failed_tasks": g.get("failed_tasks", 0.0),
                "spark.job_span_s": wall - metrics.driver_gap(wall, job_spans),
                "spark.executor_run_s": g.get("executor_run_s", 0.0),
                "spark.executor_cpu_s": g.get("executor_cpu_s", 0.0),
                "spark.gc_s": g.get("gc_s", 0.0),
                "spark.shuffle_read_mb": g.get("shuffle_read_mb", 0.0),
                "spark.shuffle_write_mb": g.get("shuffle_write_mb", 0.0),
                "spark.spill_mb": g.get("spill_mb", 0.0),
                "spark.input_mb": g.get("input_mb", 0.0),
                "driver.gap_s": metrics.driver_gap(wall, job_spans),
                "functions.python_worker_s": g.get("python_worker_s", 0.0),
                "functions.python_sent_mb": g.get("python_sent_mb", 0.0),
                "functions.python_recv_mb": g.get("python_recv_mb", 0.0),
                "mapreduce.job_s": s.get("mapreduce.job_s", 0.0),
                "mapreduce.map_stage_s": g.get("map_stage_s", 0.0),
                "mapreduce.group_jobs": float(
                    sum(layers.is_group_job(site) for _, _, site in jobs)
                ) if facade else 0.0,
                "mapreduce.shuffle_mb": g.get("shuffle_write_mb", 0.0) if facade else 0.0,
                "io.sinks.write_s": s.get("io.sinks.write_s", 0.0),
            })
        out = metrics.per_pass(per_op)
        for key in ("session.start_s", "registry.load_s", "verify.check_s",
                    "canary.first_s", "canary.last_s"):
            out[key] = self.one_off[key]
        out["trace.suite_s"] = metrics.suite(self.times)
        with open(os.path.join(OUT, f"trace-{self.args.workload}-{self.args.seed}.json"), "w") as fh:
            json.dump({"per_op": per_op, "spans": self.tracer.spans}, fh)
        return {k: out[k] for k in LAYER_UNITS}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _isolate_in_checkout()
    try:
        import map_reduce_server_spark  # noqa: F401  (fails outside a checkout)

        return _run(args)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)


def _run(args) -> int:
    bench = Bench(args)
    try:
        bench.start()
        bench.check_pass()
        setup_s = time.time() - _T0
        bench.one_off["canary.first_s"] = bench.canary()
        with PeakRss() as rss:
            bench.timed()
        bench.one_off["canary.last_s"] = bench.canary()
    finally:
        if hasattr(bench, "spark"):
            bench.stop()

    times = {op: v for op, v in bench.times.items() if v}
    samples = [t for ts in times.values() for t in ts]
    if len(times) < len(bench.ops):
        print(json.dumps({"failures": bench.failures}))
        return 1  # an operation never completed: no metric to report
    tail_pct, tail_s = metrics.tail(samples)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "passes": bench.passes,
        "samples": len(samples),
        "op_p50_s": {"value": statistics.median(samples), "unit": "s"},
        "op_tail_s": {"value": tail_s, "unit": "s", "percentile": tail_pct},
        "peak_rss_mb": {"value": rss.peak / 1e6, "unit": "MB"},
        "error_rate": {
            "value": metrics.error_rate(bench.attempted, bench.failed),
            "unit": "1",
        },
        "canary_first_s": bench.one_off["canary.first_s"],
        "canary_last_s": bench.one_off["canary.last_s"],
        "per_op_s": times,
        "failures": bench.failures,
    }
    if args.trace:
        values = bench.layer_metrics()
        units = LAYER_UNITS
    else:
        values = {"setup_s": setup_s, "suite_s": metrics.suite(times)}
        units = E2E_UNITS
    print(json.dumps(detail))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0 if bench.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
