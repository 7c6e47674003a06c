"""Oracle-checked queries that run THROUGH the MapReduce façade.

These exercise the reference's full end-to-end path (text dir →
pipe(mapper) → sort/group-partition → pipe(reducer) → outputfileNN)
and check the result against plain SQL — the strongest parity
evidence available: the façade's output must equal the relational
answer for the reference's two canonical workloads
(``tests/test_integration_01.py`` / ``_02.py`` semantics).
"""

from __future__ import annotations

import os
import shlex
import tempfile

from map_reduce_server_spark.io.tempdirs import cleanup_at_exit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce_server_spark.mapreduce.job import MapReduceJob, run_job
from map_reduce_server_spark.registry import register
from map_reduce_server_spark.tables import load_table

_EXAMPLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "examples")


def _exe(name: str) -> str:
    # quote: an install path containing a space must survive the
    # façade's shlex.split of the executable string
    return f"python3 {shlex.quote(os.path.join(_EXAMPLES, name))}"


def _documents_as_text_dir(spark: SparkSession, sf_dir: str, dest: str) -> str:
    """Materialize documents.text as a 4-file text directory (the
    reference's input format)."""
    docs = load_table(spark, sf_dir, "documents")
    docs.select("text").repartition(4).write.mode("overwrite").text(dest)
    # Drop _SUCCESS etc. so the façade sees only data files.
    for f in os.listdir(dest):
        if not f.startswith("part-"):
            os.remove(os.path.join(dest, f))
    return dest


# Staged input dirs, one per sf_dir, reused for the life of the
# process: converting parquet→text is fixture setup (the reference's
# users already HAVE text directories), not engine work, so it must
# not be re-done — or timed — per query run.
_STAGED_INPUT: dict[str, str] = {}


def stage_documents_text(spark: SparkSession, sf_dir: str) -> str:
    """Stage (once per process) documents.text as a text input dir;
    registered as the bench ``prepare`` hook so staging runs before
    the timed region."""
    if sf_dir not in _STAGED_INPUT:
        work = tempfile.mkdtemp(prefix="mrss_input_")
        # register BEFORE the fallible write: a half-staged dir must
        # not outlive the process (same policy as the streaming
        # staging dirs)
        cleanup_at_exit(work)
        _STAGED_INPUT[sf_dir] = _documents_as_text_dir(
            spark, sf_dir, os.path.join(work, "input")
        )
    return _STAGED_INPUT[sf_dir]


def _run_facade(
    spark: SparkSession, sf_dir: str, mapper: str, reducer: str
) -> DataFrame:
    input_dir = stage_documents_text(spark, sf_dir)
    output_dir = tempfile.mkdtemp(prefix="mrss_job_out_")
    # deferred cleanup (not an immediate rmtree), registered BEFORE
    # the fallible job run: the returned DataFrame reads the dir
    # whenever it is consumed, and a job that dies mid-write must not
    # leak the dir
    cleanup_at_exit(output_dir)
    job = MapReduceJob(
        input_directory=input_dir,
        output_directory=output_dir,
        mapper_executable=_exe(mapper),
        reducer_executable=_exe(reducer),
        num_mappers=4,
        num_reducers=2,
    )
    run_job(spark, job)
    return spark.read.text(output_dir)


@register(
    "mr_wordcount",
    bench=True,
    prepare=stage_documents_text,
    oracle=r"""
    SELECT word, COUNT(*) AS n
    FROM (SELECT unnest(string_split_regex(lower(text), '[ \t]')) AS word
          FROM documents) t
    GROUP BY word
    """,
)
def mr_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wordcount through the full MapReduce façade; must equal the
    relational wordcount."""
    out = _run_facade(spark, sf_dir, "wc_map.py", "wc_reduce.py")
    parts = F.split(F.col("value"), "\t")
    return out.select(
        F.element_at(parts, 1).alias("word"),
        F.element_at(parts, 2).cast("bigint").alias("n"),
    )


@register(
    "mr_grep",
    oracle="""
    WITH stripped AS (
      SELECT trim(text, ' ' || chr(9) || chr(10) || chr(11) || chr(12)
                         || chr(13)) AS line
      FROM documents)
    SELECT line AS text FROM stripped
    WHERE line <> '' AND contains(lower(line), 'join')
      AND NOT contains(line, chr(9))
    """,
)
def mr_grep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grep through the full MapReduce façade; must equal the
    relational filter.

    The oracle replays the EXECUTABLES' semantics, not an idealized
    filter: grep_map strips whitespace from both line edges (Python
    ``str.strip()``, approximated here as the ASCII whitespace set —
    the corpus contract is spaces/tabs only) and skips blank lines,
    and grep_reduce drops any line whose ``split('\\t')`` is not
    exactly two fields — so a line containing an INTERNAL tab never
    reaches the output, exactly as in the reference's grep_reduce
    (its ``tests/testdata/exec/grep_reduce.py:14-27``).
    """
    out = _run_facade(spark, sf_dir, "grep_map.py", "grep_reduce.py")
    return out.select(F.col("value").alias("text"))
