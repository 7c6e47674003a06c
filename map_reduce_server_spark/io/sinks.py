"""Sinks.

Parity shim for the reference's output finalize step
(``master/__main__.py:448-467``): reducer outputs are copied to the
user's output directory and renamed ``outputfile01..NN``. On Spark we
write with the normal distributed text writer and rename the
``part-*`` files on the driver — a metadata-only operation however
large the data is.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame


def _glob_in(directory: str, pattern: str) -> list[str]:
    """Glob ``pattern`` inside ``directory`` with the DIRECTORY part
    escaped: a destination like ``run[1]/out`` must be treated as a
    literal path, not a character class — an unescaped glob silently
    matches nothing there, which for the finalize step below would
    mean fabricating empty outputs and deleting the staged data."""
    return glob.glob(os.path.join(glob.escape(directory), pattern))


def write_numbered_text(
    df: DataFrame, output_dir: str, n_parts=None
) -> list[str]:
    """Write a single-string-column DataFrame as text files named
    ``outputfile{NN}`` — exactly ONE per partition, numbered by
    PARTITION ID, empty files included.

    Spark's text writer skips empty partitions entirely; naming the
    surviving part files sequentially would both drop files the
    reference emits (it copies every reducer's output, empty or not,
    ``master/__main__.py:456-463``) and mis-number the survivors
    (reducer 2's data landing in ``outputfile02`` when reducer 1 was
    empty). The partition id is authoritative: it is encoded in the
    ``part-NNNNN-*`` filename.

    ``n_parts`` (optional int) is the caller's known partition count
    — the mapreduce facade passes its reducer count so TRAILING
    empty partitions also materialize as empty files. When omitted,
    the count is derived from the written part files alone (gaps
    still fill in; a trailing run of empty partitions does not),
    because discovering it from the plan would mean a SECOND
    ``df.rdd``-triggered execution: under AQE a shuffle-bearing plan
    would run its stages once for the count and again for the write,
    and the two independently-planned runs can even disagree on the
    partition count — fabricating surplus empty files.
    """
    staging = os.path.join(output_dir, "_staging")
    df.write.mode("overwrite").text(staging)
    os.makedirs(output_dir, exist_ok=True)
    # a previous wider run's outputfileNN must not survive a narrower
    # re-run — a glob consumer would silently mix stale and new data
    for old in _glob_in(output_dir, "outputfile*"):
        os.remove(old)
    by_pid = {}
    for part in _glob_in(staging, "part-*"):
        pid = int(os.path.basename(part).split("-")[1])
        by_pid[pid] = part
    out_paths = []
    # the written files are authoritative if they exceed the caller's
    # n_parts — never drop a written part file
    for pid in range(max(n_parts or 0, max(by_pid, default=-1) + 1)):
        dest = os.path.join(output_dir, f"outputfile{pid + 1:02d}")
        if pid in by_pid:
            shutil.move(by_pid[pid], dest)
        else:
            open(dest, "w").close()  # reference parity: empty file
        out_paths.append(dest)
    shutil.rmtree(staging, ignore_errors=True)
    return out_paths
