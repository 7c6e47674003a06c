"""Parity tests for the MapReduce façade, mirroring the reference's
test strategy (SURVEY.md §5): end-to-end golden queries checked
order-insensitively, empty-key edge cases, and the round-robin
distinct-line partitioning semantics (reference
``master/__main__.py:249-256``, ``tests/test_master_08.py:164-179``).
"""

from __future__ import annotations

import os
from collections import Counter

import pytest

from map_reduce_server_spark.mapreduce import MapReduceJob, run_job
from map_reduce_server_spark.mapreduce.job import round_robin_file_assignment

_EXAMPLES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "map_reduce_server_spark",
    "mapreduce",
    "examples",
)

# Original fixture corpus (reference-shaped: small files, mixed case,
# double spaces → empty tokens, a 'join' needle for grep).
FILES = {
    "file01": "spark makes join fast\nGROUP BY is a shuffle\n",
    "file02": "the  quick shuffle\njoin the table scan\n",
    "file03": "Filter Before The JOIN\n\n",
    "file04": "aggregate partial merge\nspark spark spark\n",
}


@pytest.fixture()
def input_dir(tmp_path):
    d = tmp_path / "input"
    d.mkdir()
    for name, content in FILES.items():
        (d / name).write_text(content)
    return str(d)


def _read_outputs(output_dir: str) -> list[str]:
    lines = []
    for f in sorted(os.listdir(output_dir)):
        if f.startswith("outputfile"):
            with open(os.path.join(output_dir, f)) as fh:
                lines.extend(line.rstrip("\n") for line in fh)
    return lines


def _expected_wordcount() -> Counter:
    c: Counter = Counter()
    for content in FILES.values():
        for line in content.split("\n")[:-1]:
            for tok in line.lower().replace("\t", " ").split(" "):
                c[tok] += 1
    return c


def test_wordcount_end_to_end(spark, tmp_path, input_dir):
    out = str(tmp_path / "out")
    run_job(
        spark,
        MapReduceJob(
            input_directory=input_dir,
            output_directory=out,
            mapper_executable=f"python3 {_EXAMPLES}/wc_map.py",
            reducer_executable=f"python3 {_EXAMPLES}/wc_reduce.py",
            num_mappers=4,
            num_reducers=2,
        ),
    )
    got = Counter()
    for line in _read_outputs(out):
        word, _, n = line.rpartition("\t")
        got[word] += int(n)
    expected = _expected_wordcount()
    assert got == expected
    # the empty-string key must survive aggregation (SURVEY.md §1.2):
    # "the  quick" and the empty line contribute empty tokens.
    assert "" in got and got[""] == expected[""] >= 1


def test_grep_end_to_end(spark, tmp_path, input_dir):
    out = str(tmp_path / "out")
    run_job(
        spark,
        MapReduceJob(
            input_directory=input_dir,
            output_directory=out,
            mapper_executable=f"python3 {_EXAMPLES}/grep_map.py",
            reducer_executable=f"python3 {_EXAMPLES}/grep_reduce.py",
            num_mappers=2,
            num_reducers=1,
        ),
    )
    expected = sorted(
        line
        for content in FILES.values()
        for line in content.split("\n")[:-1]
        if "join" in line.lower()
    )
    assert sorted(_read_outputs(out)) == expected


def test_round_robin_distinct_line_partitioning(spark, tmp_path):
    """Distinct lines, in global sorted order, must deal round-robin
    across reducer partitions, duplicates staying together — the
    reference's group-stage contract (``master/__main__.py:249-256``).
    Identity executables expose the raw partition contents.
    """
    d = tmp_path / "in"
    d.mkdir()
    # duplicate 'b' lines, unsorted on disk
    (d / "f1").write_text("d\nb\n")
    (d / "f2").write_text("a\nb\nc\n")
    out = str(tmp_path / "out")
    run_job(
        spark,
        MapReduceJob(
            input_directory=str(d),
            output_directory=out,
            mapper_executable="cat",
            reducer_executable="cat",
            num_mappers=2,
            num_reducers=2,
        ),
    )
    p0 = (
        open(os.path.join(out, "outputfile01")).read().splitlines()
    )
    p1 = (
        open(os.path.join(out, "outputfile02")).read().splitlines()
    )
    # sorted distinct: a(0) b(1) c(2) d(3) → partition0: a,c; 1: b,b,d
    assert p0 == ["a", "c"]
    assert p1 == ["b", "b", "d"]


def test_run_job_is_one_spark_job(spark, spark_job_ids, tmp_path):
    """The group stage ranks inside the write job, as the reference's
    master walks its merged runs once: no range-sort sample or count
    job, no per-partition index job — one Spark job per façade job."""
    d = tmp_path / "in"
    d.mkdir()
    (d / "f1").write_text("d\nb\n")
    (d / "f2").write_text("a\nb\nc\n")
    job = MapReduceJob(
        input_directory=str(d),
        output_directory=str(tmp_path / "out"),
        mapper_executable="cat",
        reducer_executable="cat",
        num_mappers=2,
        num_reducers=2,
    )
    _, job_ids = spark_job_ids(lambda: run_job(spark, job))
    assert len(job_ids) == 1


def test_posix_tools_as_executables(spark, tmp_path):
    """The reference's UDF contract is 'any executable' (its wordcount
    mapper is tr/awk — ``wc_map.sh``); prove arbitrary POSIX tools
    work: tr as mapper, uniq -c as reducer."""
    d = tmp_path / "in"
    d.mkdir()
    (d / "f1").write_text("Apple\nBANANA\napple\n")
    out = str(tmp_path / "out")
    run_job(
        spark,
        MapReduceJob(
            input_directory=str(d),
            output_directory=out,
            mapper_executable="tr A-Z a-z",
            reducer_executable="uniq -c",
            num_mappers=1,
            num_reducers=1,
        ),
    )
    lines = [
        line.strip()
        for line in open(os.path.join(out, "outputfile01")).read().splitlines()
    ]
    assert lines == ["2 apple", "1 banana"]


def test_round_robin_file_assignment():
    """Mirror of the reference's exact dealing
    (``tests/test_master_02.py:137-159`` semantics)."""
    files = [f"file0{i}" for i in range(1, 9)]
    got = round_robin_file_assignment(files, 3)
    assert got == [
        ["file01", "file04", "file07"],
        ["file02", "file05", "file08"],
        ["file03", "file06"],
    ]
    # more mappers than files → trailing empty tasks
    assert round_robin_file_assignment(["a", "b"], 4) == [["a"], ["b"], [], []]


def test_grep_custom_query(spark, tmp_path, input_dir):
    """The grep mapper's query is parameterized via argv
    (reference ``grep_map.py:14-17`` reads its query the same way)."""
    out = str(tmp_path / "out")
    run_job(
        spark,
        MapReduceJob(
            input_directory=input_dir,
            output_directory=out,
            mapper_executable=f"python3 {_EXAMPLES}/grep_map.py shuffle",
            reducer_executable=f"python3 {_EXAMPLES}/grep_reduce.py",
            num_mappers=2,
            num_reducers=1,
        ),
    )
    expected = sorted(
        line
        for content in FILES.values()
        for line in content.split("\n")[:-1]
        if "shuffle" in line.lower()
    )
    assert sorted(_read_outputs(out)) == expected


def test_failing_executable_raises(spark, tmp_path, input_dir):
    out = str(tmp_path / "out")
    with pytest.raises(Exception, match="Pipe function|exit"):
        run_job(
            spark,
            MapReduceJob(
                input_directory=input_dir,
                output_directory=out,
                mapper_executable="false",  # exits 1 immediately
                reducer_executable="cat",
                num_mappers=2,
                num_reducers=1,
            ),
        )


def test_empty_input_dir_raises(spark, tmp_path):
    d = tmp_path / "empty"
    d.mkdir()
    with pytest.raises(ValueError, match="no input files"):
        run_job(
            spark,
            MapReduceJob(
                input_directory=str(d),
                output_directory=str(tmp_path / "out"),
                mapper_executable="cat",
                reducer_executable="cat",
            ),
        )


def test_many_files_ingestion_parity(spark, tmp_path):
    """A large file count must keep the observable contract (the
    rank-list plan is O(1) driver-side objects at any count —
    VERDICT r1 #9): per-file mapper subprocess, round-robin file
    dealing, sorted round-robin group partitioning.

    Mapper is ``head -1``: its output is the FIRST line of each FILE,
    so the assertion proves both per-file subprocess granularity
    (a concatenated stream would emit one line per task, not per
    file) and within-file line order across the shuffle.
    """
    d = tmp_path / "in"
    d.mkdir()
    n_files = 80
    for i in range(n_files):
        (d / f"file{i:03d}").write_text(f"id{i:03d}\nfiller one\nfiller two\n")
    out = str(tmp_path / "out")
    run_job(
        spark,
        MapReduceJob(
            input_directory=str(d),
            output_directory=out,
            mapper_executable="head -1",
            reducer_executable="cat",
            num_mappers=5,
            num_reducers=3,
        ),
    )
    got = sorted(_read_outputs(out))
    assert got == [f"id{i:03d}" for i in range(n_files)]


def test_mapped_lines_task_partitions(spark, tmp_path):
    """The map stage produces exactly num_mappers partitions, files
    dealt by sorted-rank mod M (reference master/__main__.py:288-297),
    with one mapper subprocess per file inside each task."""
    from map_reduce_server_spark.mapreduce.job import (
        _list_input_files,
        _mapped_lines,
    )

    d = tmp_path / "in"
    d.mkdir()
    for i in range(9):
        (d / f"f{i}").write_text(f"line{i}\n")
    mapped = _mapped_lines(spark, _list_input_files(str(d)), "cat", 4)
    assert mapped.getNumPartitions() == 4
    per_part = mapped.glom().collect()
    assert per_part == [
        [b"line0", b"line4", b"line8"],
        [b"line1", b"line5"],
        [b"line2", b"line6"],
        [b"line3", b"line7"],
    ]


def test_mapped_lines_per_file_subprocess(spark, tmp_path):
    """One mapper subprocess per FILE, not per task: ``head -1``
    emits one line per file, grouped by the reference's dealing."""
    from map_reduce_server_spark.mapreduce.job import (
        _list_input_files,
        _mapped_lines,
    )

    d = tmp_path / "in"
    d.mkdir()
    for i in range(9):
        (d / f"f{i}").write_text(f"first{i}\nrest\n")
    files = _list_input_files(str(d))
    mapped = _mapped_lines(spark, files, "head -1", 4)
    assert mapped.getNumPartitions() == 4
    assert mapped.glom().collect() == [
        [b"first0", b"first4", b"first8"],
        [b"first1", b"first5"],
        [b"first2", b"first6"],
        [b"first3", b"first7"],
    ]


@pytest.mark.parametrize("n_files", [4, 70])
def test_hidden_and_empty_files(spark, tmp_path, n_files):
    """The reference's os.listdir-driven master pipes hidden
    (``_``/``.``-prefixed) and 0-byte files like any other
    (``master/__main__.py:288-289``) — an input-format-based scan
    would silently skip them; `wc -l` as mapper proves the empty
    file still spawns a subprocess (its '0' line must appear) at
    both small and large file counts (ADVICE r2)."""
    d = tmp_path / "in"
    d.mkdir()
    for i in range(n_files):
        (d / f"file{i:03d}").write_text("x\ny\nz\n")
    (d / "_hidden").write_text("h\n")
    (d / ".dotfile").write_text("d1\nd2\n")
    (d / "empty01").write_text("")
    out = str(tmp_path / "out")
    run_job(
        spark,
        MapReduceJob(
            input_directory=str(d),
            output_directory=out,
            mapper_executable="wc -l",
            reducer_executable="cat",
            num_mappers=3,
            num_reducers=2,
        ),
    )
    got = sorted(_read_outputs(out), key=int)
    # empty01 → 0, _hidden → 1, .dotfile → 2, each regular file → 3
    assert got == ["0", "1", "2"] + ["3"] * n_files


def test_hidden_file_content_read(spark, tmp_path):
    """Hidden files' CONTENT flows through the mapper (not just a
    subprocess count), also at a large file count."""
    d = tmp_path / "in"
    d.mkdir()
    for i in range(70):
        (d / f"file{i:03d}").write_text(f"reg{i:03d}\n")
    (d / "_part").write_text("hidden-line-a\nhidden-line-b\n")
    out = str(tmp_path / "out")
    run_job(
        spark,
        MapReduceJob(
            input_directory=str(d),
            output_directory=out,
            mapper_executable="cat",
            reducer_executable="cat",
            num_mappers=4,
            num_reducers=2,
        ),
    )
    got = sorted(_read_outputs(out))
    expected = sorted(
        [f"reg{i:03d}" for i in range(70)]
        + ["hidden-line-a", "hidden-line-b"]
    )
    assert got == expected


@pytest.mark.parametrize("n_files", [3, 70])
def test_unsafe_filenames(spark, tmp_path, n_files):
    """Filenames containing ',' (the Hadoop multi-path separator) or
    glob metacharacters must be read literally, as the reference's
    os.listdir-driven master does — plain ``open()`` in the map task
    has none of Hadoop's path-resolution quirks."""
    d = tmp_path / "in"
    d.mkdir()
    for i in range(n_files):
        (d / f"file{i:03d}").write_text(f"reg{i:03d}\n")
    (d / "we,ird [x]*.txt").write_text("comma-glob-line\n")
    (d / "br{ace}?.txt").write_text("brace-line\n")
    out = str(tmp_path / "out")
    run_job(
        spark,
        MapReduceJob(
            input_directory=str(d),
            output_directory=out,
            mapper_executable="cat",
            reducer_executable="cat",
            num_mappers=3,
            num_reducers=2,
        ),
    )
    got = sorted(_read_outputs(out))
    expected = sorted(
        [f"reg{i:03d}" for i in range(n_files)]
        + ["comma-glob-line", "brace-line"]
    )
    assert got == expected


def test_large_file_line_order(spark, tmp_path):
    """The mapper must see a file's lines on stdin in file order
    however large the file — the reference streams each file
    start-to-finish (``worker/__main__.py:109-117``); the rank-list
    plan opens the raw file inside the task, so order is inherent
    (no split-packing assumption to break on a Spark upgrade)."""
    from map_reduce_server_spark.mapreduce.job import (
        _list_input_files,
        _mapped_lines,
    )

    d = tmp_path / "in"
    d.mkdir()
    lines = [f"line{i:05d}" for i in range(500)]
    (d / "big").write_text("\n".join(lines) + "\n")
    got = _mapped_lines(spark, _list_input_files(str(d)), "cat", 1).collect()
    assert got == [ln.encode() for ln in lines]


def test_raw_stdin_parity(spark, tmp_path):
    """The mapper's stdin is the file's RAW bytes (reference
    ``worker/__main__.py:109-117``), pinned via ``wc -c``:

    - a final line with NO terminating newline is not given one
      (an earlier revision reconstructed stdin from parsed lines,
      appending a newline — ``wc -l`` then counted a line the
      reference's mapper never saw);
    - CRLF terminators are not normalized;
    - non-UTF-8 bytes pass through undecoded.
    """
    d = tmp_path / "in"
    d.mkdir()
    (d / "f_noeol").write_bytes(b"abc")          # 3 bytes, 0 newlines
    (d / "f_crlf").write_bytes(b"a\r\nb\r\n")    # 6 bytes
    (d / "f_bin").write_bytes(b"\xff\xfe\x00\n")  # invalid UTF-8, 4 bytes
    out = str(tmp_path / "out")
    run_job(
        spark,
        MapReduceJob(
            input_directory=str(d),
            output_directory=out,
            mapper_executable="wc -c",
            reducer_executable="cat",
            num_mappers=2,
            num_reducers=1,
        ),
    )
    assert sorted(_read_outputs(out), key=int) == ["3", "4", "6"]
    # and wc -l agrees the unterminated line is NOT a line
    out2 = str(tmp_path / "out2")
    run_job(
        spark,
        MapReduceJob(
            input_directory=str(d),
            output_directory=out2,
            mapper_executable="wc -l",
            reducer_executable="cat",
            num_mappers=2,
            num_reducers=1,
        ),
    )
    assert sorted(_read_outputs(out2), key=int) == ["0", "1", "2"]


def test_binary_lines_traverse_pipeline(spark, tmp_path):
    """An identity mapper over non-UTF-8 input flows through
    map/sort/group/reduce as raw bytes — the reference's byte-
    oriented sort processes such files, so ours must too (an earlier
    revision strict-decoded mapper output and killed the task). A
    ``wc -l`` reducer makes the FINAL output valid text, proving the
    binary lines crossed the whole shuffle, not just the map stage."""
    d = tmp_path / "in"
    d.mkdir()
    (d / "f_bin").write_bytes(b"\xff\xfe\n\x80 high\n\xc3\xa9 ok\n")
    out = str(tmp_path / "out")
    run_job(
        spark,
        MapReduceJob(
            input_directory=str(d),
            output_directory=out,
            mapper_executable="cat",
            reducer_executable="wc -l",
            num_mappers=1,
            num_reducers=1,
        ),
    )
    assert [ln.strip() for ln in _read_outputs(out)] == ["3"]


def test_binary_reducer_output_is_byte_exact(spark, tmp_path):
    """``outputfileNN`` holds exactly the bytes the reducer wrote, as
    the reference's byte-for-byte copy does: non-UTF-8 output is kept
    and a missing final newline is not added."""
    d = tmp_path / "in"
    d.mkdir()
    (d / "f1").write_text("x\n")
    out = str(tmp_path / "out")
    reducer = tmp_path / "binary_reduce.py"
    reducer.write_text(
        "import sys\n"
        "sys.stdin.buffer.read()\n"
        "sys.stdout.buffer.write(b'\\xff\\xfe')\n"
    )
    run_job(
        spark,
        MapReduceJob(
            input_directory=str(d),
            output_directory=out,
            mapper_executable="cat",
            reducer_executable=f"python3 {reducer}",
            num_mappers=1,
            num_reducers=1,
        ),
    )
    with open(os.path.join(out, "outputfile01"), "rb") as fh:
        assert fh.read() == b"\xff\xfe"


def test_failing_reducer_publishes_nothing(spark, tmp_path, input_dir):
    """A reducer that exits non-zero fails the job with the pipe's
    exit-status error and leaves neither its ``outputfileNN`` nor
    the temp file it was writing."""
    out = str(tmp_path / "out")
    with pytest.raises(Exception, match="Pipe function `.*' exited with status 3"):
        run_job(
            spark,
            MapReduceJob(
                input_directory=input_dir,
                output_directory=out,
                mapper_executable="cat",
                reducer_executable="sh -c 'cat; exit 3'",
                num_mappers=2,
                num_reducers=1,
            ),
        )
    assert os.listdir(out) == []


def test_mapper_and_reducer_that_fail_once_are_retried(spark, tmp_path, input_dir):
    """Engine sessions give a task more than one attempt: a mapper and
    a reducer that each fail on their first run (the wrapper exits 1
    when it creates the marker directory named on its command line)
    still give ``outputfileNN`` bytes identical to a clean run's."""
    wrapper = tmp_path / "fail_once.sh"
    wrapper.write_text('mkdir "$1" 2>/dev/null && exit 1\nshift\nexec "$@"\n')
    wc_map = f"python3 {os.path.join(_EXAMPLES, 'wc_map.py')}"
    wc_reduce = f"python3 {os.path.join(_EXAMPLES, 'wc_reduce.py')}"

    def outputs(name, mapper, reducer):
        paths = run_job(
            spark,
            MapReduceJob(
                input_directory=input_dir,
                output_directory=str(tmp_path / name),
                mapper_executable=mapper,
                reducer_executable=reducer,
                num_mappers=2,
                num_reducers=2,
            ),
        )
        out = {}
        for p in paths:
            with open(p, "rb") as fh:
                out[os.path.basename(p)] = fh.read()
        return out

    clean = outputs("clean", wc_map, wc_reduce)
    retried = outputs(
        "retried",
        f"sh {wrapper} {tmp_path / 'map_failed'} {wc_map}",
        f"sh {wrapper} {tmp_path / 'reduce_failed'} {wc_reduce}",
    )
    assert (tmp_path / "map_failed").is_dir()
    assert (tmp_path / "reduce_failed").is_dir()
    assert sorted(clean) == ["outputfile01", "outputfile02"]
    assert retried == clean


def test_rerun_with_fewer_reducers_leaves_only_new_files(
    spark, tmp_path, input_dir
):
    """A narrower re-run into the same directory removes the wider
    run's ``outputfileNN`` (and any leftover temp file), so a glob
    consumer never mixes stale and new output."""
    out = str(tmp_path / "out")

    def job(num_reducers):
        return MapReduceJob(
            input_directory=input_dir,
            output_directory=out,
            mapper_executable=f"python3 {os.path.join(_EXAMPLES, 'wc_map.py')}",
            reducer_executable=(
                f"python3 {os.path.join(_EXAMPLES, 'wc_reduce.py')}"
            ),
            num_mappers=2,
            num_reducers=num_reducers,
        )

    run_job(spark, job(3))
    assert len(os.listdir(out)) == 3
    open(os.path.join(out, ".outputfile02.99"), "w").close()
    paths = run_job(spark, job(1))
    assert os.listdir(out) == ["outputfile01"]
    assert paths == [os.path.join(out, "outputfile01")]
    got = Counter()
    for line in _read_outputs(out):
        word, n = line.rsplit("\t", 1)
        got[word] += int(n)
    assert got == _expected_wordcount()


def test_subprocess_env_inherited(spark, tmp_path):
    """Mapper and reducer subprocesses inherit the executor (Python
    worker) environment, as the reference's workers inherit theirs —
    ``RDD.pipe`` launches with an EMPTY environment, where a bare
    executable name resolves against os.defpath only and env-reading
    mappers silently change behavior. The probe asserts the worker's
    real PATH (containing /usr/bin) reached the subprocess; a probe
    var set via monkeypatch can NOT work here, because the Python
    worker daemon forked at session start with its own env snapshot."""
    probe = "case :$PATH: in *:/usr/bin:*) echo ok;; *) echo bad;; esac"
    d = tmp_path / "in"
    d.mkdir()
    (d / "f1").write_text("x\n")
    out = str(tmp_path / "out")
    run_job(
        spark,
        MapReduceJob(
            input_directory=str(d),
            output_directory=out,
            mapper_executable=f'sh -c "echo map-$({probe})"',
            reducer_executable=f'sh -c "cat; echo red-$({probe})"',
            num_mappers=1,
            num_reducers=1,
        ),
    )
    assert sorted(_read_outputs(out)) == ["map-ok", "red-ok"]


def test_output_file_naming(spark, tmp_path, input_dir):
    out = str(tmp_path / "out")
    run_job(
        spark,
        MapReduceJob(
            input_directory=input_dir,
            output_directory=out,
            mapper_executable="cat",
            reducer_executable="cat",
            num_mappers=2,
            num_reducers=3,
        ),
    )
    names = sorted(f for f in os.listdir(out) if f.startswith("outputfile"))
    assert names == ["outputfile01", "outputfile02", "outputfile03"]


def test_empty_total_output_writes_empty_files(spark, tmp_path, input_dir):
    """A grep matching nothing must still produce num_reducers EMPTY
    outputfileNN files (the reference copies every reducer's output,
    empty or not) — not crash on schema inference."""
    out = str(tmp_path / "out_empty")
    run_job(
        spark,
        MapReduceJob(
            input_directory=input_dir,
            output_directory=out,
            mapper_executable=(
                f"python3 {os.path.join(_EXAMPLES, 'grep_map.py')} zzznomatch"
            ),
            reducer_executable=(
                f"python3 {os.path.join(_EXAMPLES, 'grep_reduce.py')}"
            ),
            num_mappers=2,
            num_reducers=2,
        ),
    )
    names = sorted(os.listdir(out))
    assert names == ["outputfile01", "outputfile02"]
    for n in names:
        assert os.path.getsize(os.path.join(out, n)) == 0


def test_sink_numbering_is_partition_id_true(spark, tmp_path):
    """Direct contract of the output-finalize shim
    (``io/sinks.write_numbered_text``): one ``outputfileNN`` per
    PARTITION, numbered by partition id with empty partitions
    materialized as empty files — mirroring the reference's
    enumeration of every reducer's output
    (``master/__main__.py:456-463``). The load-bearing case is an
    EARLIER partition being empty: partition 1's data must land in
    outputfile02, never slide into outputfile01."""
    from map_reduce_server_spark.io.sinks import write_numbered_text

    def write_lines(lines, out):
        for line in lines:
            out.write(line + b"\n")

    rdd = (
        spark.sparkContext.parallelize([(1, b"beta"), (2, b"gamma")])
        .partitionBy(3, lambda k: k)  # partition 0 stays empty
        .map(lambda kv: kv[1])
    )
    out = str(tmp_path / "out_pid")
    paths = write_numbered_text(rdd, out, write_lines)
    names = sorted(os.listdir(out))
    assert names == ["outputfile01", "outputfile02", "outputfile03"]
    assert [os.path.basename(p) for p in paths] == names
    assert os.path.getsize(os.path.join(out, "outputfile01")) == 0
    assert open(os.path.join(out, "outputfile02")).read() == "beta\n"
    assert open(os.path.join(out, "outputfile03")).read() == "gamma\n"


def test_all_empty_input_files(spark, tmp_path):
    """Every input file 0 bytes: the job must run (the reference
    pipes each empty file) and produce empty outputs, not crash on
    an empty rank table."""
    d = tmp_path / "empty_in"
    d.mkdir()
    for i in range(3):
        (d / f"file0{i}").write_text("")
    out = str(tmp_path / "out_allempty")
    run_job(
        spark,
        MapReduceJob(
            input_directory=str(d),
            output_directory=out,
            mapper_executable=(
                f"python3 {os.path.join(_EXAMPLES, 'wc_map.py')}"
            ),
            reducer_executable=(
                f"python3 {os.path.join(_EXAMPLES, 'wc_reduce.py')}"
            ),
            num_mappers=2,
            num_reducers=2,
        ),
    )
    assert sorted(os.listdir(out)) == ["outputfile01", "outputfile02"]
    assert _read_outputs(out) == []


def test_empty_middle_partition_keeps_numbering(spark, tmp_path):
    """With more reducers than distinct lines, the occupied
    partitions must keep their ORIGINAL reducer numbers and the
    empty ones must exist as empty files — sequential renaming of
    surviving part files would shift data into the wrong NN."""
    d = tmp_path / "one_line"
    d.mkdir()
    (d / "file01").write_text("solo\n")
    out = str(tmp_path / "out_onekey")
    run_job(
        spark,
        MapReduceJob(
            input_directory=str(d),
            output_directory=out,
            mapper_executable=(
                f"python3 {os.path.join(_EXAMPLES, 'grep_map.py')} solo"
            ),
            reducer_executable=(
                f"python3 {os.path.join(_EXAMPLES, 'grep_reduce.py')}"
            ),
            num_mappers=1,
            num_reducers=3,
        ),
    )
    names = sorted(os.listdir(out))
    assert names == ["outputfile01", "outputfile02", "outputfile03"]
    # rank 0 of the single distinct line -> partition 0 -> file 01
    assert open(os.path.join(out, "outputfile01")).read() == "solo\n"
    assert os.path.getsize(os.path.join(out, "outputfile02")) == 0
    assert os.path.getsize(os.path.join(out, "outputfile03")) == 0


def test_zero_reducers_rejected_at_driver(spark, tmp_path, input_dir):
    """A 0/negative task count must fail with a clear driver-side
    ValueError, not a ZeroDivisionError inside an executor lambda."""
    for nm, nr in [(0, 2), (4, 0), (-1, 2)]:
        with pytest.raises(ValueError, match="must be >= 1"):
            run_job(
                spark,
                MapReduceJob(
                    input_directory=input_dir,
                    output_directory=str(tmp_path / "out"),
                    mapper_executable="cat",
                    reducer_executable="cat",
                    num_mappers=nm,
                    num_reducers=nr,
                ),
            )


def test_pipe_partition_feeder_error_propagates(tmp_path):
    """An upstream iterator failing mid-feed must fail the task, not
    hang it: the task closes the consumer's stdin on EVERY exit path
    (an unclosed stdin leaves `cat` waiting for EOF forever) and the
    upstream error is the one raised."""
    from map_reduce_server_spark.mapreduce.job import _pipe_partition

    def bad_iter():
        yield b"a"
        raise OSError("upstream shuffle read failed")

    write_part = _pipe_partition(["cat"])
    with open(tmp_path / "out", "wb") as out:
        with pytest.raises(OSError, match="upstream shuffle read failed"):
            write_part(bad_iter(), out)


def test_pipe_partition_early_exit_consumer(tmp_path):
    """A consumer that exits before draining stdin (`head`) must
    succeed with its partial output, not raise BrokenPipeError."""
    from map_reduce_server_spark.mapreduce.job import _pipe_partition

    write_part = _pipe_partition(["head", "-2"])
    with open(tmp_path / "out", "wb") as out:
        write_part((b"line%d" % i for i in range(100000)), out)
    assert (tmp_path / "out").read_bytes() == b"line0\nline1\n"
