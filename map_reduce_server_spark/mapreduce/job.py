"""The reference's observable contract, on Spark.

Reference pipeline (``master/__main__.py:220-467``):

1. list + sort input files, deal file i to map task ``i % num_mappers``
   (``master/__main__.py:288-297``);
2. stream each file through the mapper executable, stdin→stdout
   (``worker/__main__.py:105-131``);
3. sort all mapped lines lexicographically **by whole line**
   (``worker/__main__.py:141`` + master k-way merge
   ``master/__main__.py:236-249``);
4. walk the merged stream, incrementing a dense rank whenever the
   line changes, and deal each line to reducer
   ``rank % num_reducers`` (``master/__main__.py:249-256``) — so all
   copies of a line land together and distinct lines round-robin in
   sorted order;
5. stream each reducer partition (sorted) through the reducer
   executable; copy outputs to ``outputfile{NN}``
   (``master/__main__.py:448-467``).

Spark mapping: the map stage distributes the file list, not the file
bytes; each map task opens its dealt files and streams the raw bytes
through one mapper subprocess per file, as a reference worker does (with
the reference's shared-filesystem assumption). (3)+(4) are one
``repartitionAndSortWithinPartitions`` with a partitioner keyed by the
dense rank of the line, and the rank comes from the reference's own
single ordered walk: the distinct lines are sorted in one partition and
numbered in that order (``group_partition``). A façade job is one Spark
job, the write job, with no line data through the driver. (5) is one task
per reducer partition that points the reducer's stdout at its own
``outputfile{NN}`` (``io.sinks.write_numbered_text``). Spark's scheduler,
shuffle and retries subsume the reference's control plane (SURVEY.md
§2.C). Input bytes are read once, inside the mapper task that consumes
them (docs/SCALING.md, MapReduce façade).
"""

from __future__ import annotations

import itertools
import os
import shlex
from dataclasses import dataclass

from pyspark.sql import SparkSession

from map_reduce_server_spark.io.sinks import write_numbered_text
from map_reduce_server_spark.session import ship_package


@dataclass(frozen=True)
class MapReduceJob:
    """Mirror of the reference's job message (``submit.py:59-67``)."""

    input_directory: str
    output_directory: str
    mapper_executable: str
    reducer_executable: str
    num_mappers: int = 4
    num_reducers: int = 2


def run_jobs(spark: SparkSession, jobs: list[MapReduceJob]) -> list[list[str]]:
    """FIFO multi-job queue parity: the reference holds queued jobs and
    runs one at a time (``master/__main__.py:209-218``, verified by its
    ``tests/test_master_04.py``). Here a sequential driver loop.
    """
    return [run_job(spark, job) for job in jobs]


def _list_input_files(input_dir: str) -> list[str]:
    """Sorted file list, as the reference's master builds it
    (``master/__main__.py:288-289``). Hidden (``_``/``.``-prefixed)
    files, 0-byte files, and names containing Hadoop-hostile
    characters (``,``, glob metacharacters) are all listed — the map
    stage opens paths with plain ``open()``, so none of Hadoop's
    path-resolution quirks apply."""
    return sorted(
        os.path.join(input_dir, f)
        for f in os.listdir(input_dir)
        if os.path.isfile(os.path.join(input_dir, f))
    )


def round_robin_file_assignment(
    files: list[str], num_mappers: int
) -> list[list[str]]:
    """The reference's file→map-task dealing (``master/__main__.py:
    288-297``, asserted literally by its ``tests/test_master_02.py:
    137-159``): sorted file *i* goes to task ``i % num_mappers``, so
    task *m* holds files ``m, m+num_mappers, …``. The map stage
    groups files into tasks with this dealing, which also bounds the
    number of concurrent mapper processes to ``num_mappers``.
    """
    tasks: list[list[str]] = [[] for _ in range(num_mappers)]
    for i, f in enumerate(sorted(files)):
        tasks[i % num_mappers].append(f)
    return tasks


def _check_exit(cmd: list[str], returncode: int) -> None:
    """Non-zero mapper/reducer exit fails the task instead of silently
    truncating output, and Spark re-runs the task — the analog of the
    reference's task reassignment (``master/__main__.py:128-146``)
    with correctness on top. The number of attempts is the session's:
    4 in an engine session (:func:`session.get_spark`), 1 under a
    plain ``local[N]`` master. Message format mirrors ``RDD.pipe``'s
    ``checkCode`` so callers can match either."""
    if returncode != 0:
        raise RuntimeError(
            f"Pipe function `{cmd}' exited with status {returncode}"
        )


def _mapped_lines(
    spark: SparkSession, files: list[str], mapper: str, num_mappers: int
):
    """Map stage: distribute the sorted file list (NOT the file
    bytes) to ``num_mappers`` tasks by the reference's dealing, then
    inside each task stream every dealt file's RAW bytes through one
    mapper subprocess per file.

    Parity points this plan gets exactly right (reference
    ``worker/__main__.py:105-131``):

    - the mapper's stdin IS the file — no trailing-newline
      fabrication, no CR/LF normalization, no UTF-8 re-encode of the
      input (a file whose last line has no terminator, a CRLF file,
      or a binary-ish file all reach the mapper byte-for-byte);
    - the subprocess inherits the executor's full environment, as the
      reference workers inherit theirs (``RDD.pipe`` would launch
      with an EMPTY environment — a bare executable name then
      resolves against ``os.defpath`` only, and mappers reading
      ``LANG``/``HOME`` behave differently);
    - one subprocess per FILE, concurrency bounded by
      ``num_mappers``, file order within a task = dealing order.

    Driver cost is O(1) plan objects at any file count; each task carries
    only its path list. Mapper output lines stay raw ``bytes``: the group
    stage sorts and compares them directly, which is the reference's
    whole-line byte sort, so an identity mapper over non-UTF-8 input
    flows through map/sort/group/reduce into the reducer's output file
    unchanged. A listed file that cannot be opened fails the task.
    """
    sc = spark.sparkContext
    cmd = shlex.split(mapper)
    tasks = [t for t in round_robin_file_assignment(files, num_mappers) if t]

    def run_task(paths_iter):
        import subprocess

        for paths in paths_iter:
            for path in paths:
                with open(path, "rb") as fh, subprocess.Popen(
                    cmd, stdin=fh, stdout=subprocess.PIPE
                ) as proc:
                    assert proc.stdout is not None
                    for line in proc.stdout:
                        yield line.rstrip(b"\n")
                _check_exit(cmd, proc.returncode)

    # numSlices == len(tasks) puts exactly one task's path list in
    # each partition (parallelize slices the list evenly).
    return sc.parallelize(tasks, len(tasks)).mapPartitions(run_task)


def _pipe_partition(cmd: list[str]):
    """Pipe a partition through one subprocess into a file — the
    reference worker's reduce step (stdin from the sorted partition,
    stdout straight into the output file). Unlike ``RDD.pipe``, the
    subprocess inherits the executor's environment (``RDD.pipe``
    passes ``env={}``), and its stdout never passes through Python,
    so the file holds exactly the bytes the reducer wrote: no UTF-8
    decoding, no added final newline.

    Returns ``write_part(lines, out)`` for ``io.sinks.write_numbered_text``:
    it writes each ``bytes`` line plus ``\n`` to the subprocess's
    stdin, closes stdin on every exit path (an upstream error must
    not leave the reducer waiting for EOF), and fails on a non-zero
    exit. A reducer that exits before draining stdin (``head``)
    closes the pipe early; the resulting ``BrokenPipeError`` is
    swallowed exactly as ``RDD.pipe``'s feeder does, and the exit
    status still decides success.
    """

    def write_part(lines, out):
        import subprocess

        with subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=out) as proc:
            assert proc.stdin is not None
            try:
                for line in lines:
                    proc.stdin.write(line)
                    proc.stdin.write(b"\n")
            except BrokenPipeError:
                pass
            finally:
                try:
                    proc.stdin.close()
                except BrokenPipeError:
                    pass
        _check_exit(cmd, proc.returncode)

    return write_part


def group_partition(mapped, num_reducers: int):
    """The reference's group stage (``master/__main__.py:249-256``):
    dense-rank the distinct lines in global sorted order, send every
    line to partition ``rank % R``, sorted within partitions.

    The line multiset is first collapsed to (line, count) with
    ``reduceByKey`` — a map-side combine, so the shuffle carries each
    distinct line once, not every duplicate. The ranking is the
    reference master's walk: ``sortByKey(numPartitions=1)`` merges the
    collapsed lines into ONE sorted partition, and ``zipWithIndex``
    numbers them in that order. With one partition neither call starts
    a job of its own (no range-bound sample, no per-partition count),
    so the whole group stage runs inside the write job.

    One task sorts every distinct line: its memory stays bounded because
    PySpark's ``ExternalSorter`` spills to disk, and its time grows with
    the number of distinct lines, as in the reference, whose master merges
    and walks the sorted runs alone. Duplicates are re-expanded only after
    the final partition-local sort.
    """
    counts = mapped.map(lambda line: (line, 1)).reduceByKey(
        lambda a, b: a + b
    )
    # ((line, count), rank)
    ranked = counts.sortByKey(numPartitions=1).zipWithIndex()
    by_rank = ranked.map(
        lambda it: ((it[1] % num_reducers, it[0][0]), it[0][1])
    )
    return (
        by_rank.repartitionAndSortWithinPartitions(
            numPartitions=num_reducers, partitionFunc=lambda key: key[0]
        )
        # ((partition, line), count) sorted by line → expand duplicates
        # LAZILY: a heavy-hitter line must stream out of the iterator,
        # not materialize count references in one list
        .flatMap(lambda kv: itertools.repeat(kv[0][1], kv[1]))
    )


def run_job(spark: SparkSession, job: MapReduceJob) -> list[str]:
    """Execute a MapReduce job; returns the output file paths.

    Semantics parity notes:
    - per-FILE mapper granularity: the mapper executable sees exactly
      one file's RAW bytes on stdin (reference contract
      ``worker/__main__.py:109-117``);
    - grouping key is the ENTIRE line (quirk §8.2 of SURVEY.md):
      ``a\\t1`` and ``a\\t2`` are different groups;
    - reducer partition of a distinct line = dense rank in global
      sorted order mod num_reducers, and lines within a partition
      arrive sorted;
    - mapper and reducer subprocesses inherit the executor
      environment, as the reference's workers do.

    Files are dealt to ``num_mappers`` tasks by sorted rank mod M
    (reference ``master/__main__.py:288-297``) with one mapper
    subprocess per file; hidden (``_``/``.``-prefixed) and 0-byte
    files are processed like any other, exactly as the reference's
    ``os.listdir``-driven master does (an empty file still spawns a
    mapper — ``wc -l`` must print its ``0``).
    """
    if job.num_mappers < 1 or job.num_reducers < 1:
        # fail at the driver with a clear message — a 0 would
        # otherwise surface as a ZeroDivisionError inside an
        # executor lambda during the group stage
        raise ValueError(
            "num_mappers and num_reducers must be >= 1, got "
            f"{job.num_mappers}/{job.num_reducers}"
        )
    files = _list_input_files(job.input_directory)
    if not files:
        raise ValueError(f"no input files in {job.input_directory}")

    # the task closures below reach this module by reference, also in
    # a session no registered query has run in
    ship_package(spark.sparkContext)
    mapped = _mapped_lines(
        spark, files, job.mapper_executable, job.num_mappers
    )
    grouped = group_partition(mapped, job.num_reducers)

    # --- reduce stage: each sorted partition's task pipes it through
    # the reducer straight into its outputfileNN
    # (master/__main__.py:448-467).
    return write_numbered_text(
        grouped,
        job.output_directory,
        _pipe_partition(shlex.split(job.reducer_executable)),
    )
