"""Sinks.

Parity shim for the reference's output finalize step
(``master/__main__.py:448-467``): each reducer's stdout becomes
``outputfile{NN}`` in the user's output directory, byte for byte.
Here every partition's task writes its own file, so there is no
driver-side copy or rename of data at all.
"""

from __future__ import annotations

import os

from pyspark import RDD, TaskContext

_PREFIX = "outputfile"


def write_numbered_text(parts: RDD, output_dir: str, write_part) -> list[str]:
    """Write every partition of ``parts`` to ``outputfile{pid+1:02d}``
    in ``output_dir`` and return the paths in partition order.

    ``write_part(lines, out)`` runs inside the partition's task with
    the partition's iterator and a binary file opened for writing.
    The file is a hidden per-attempt temp file in ``output_dir``; it
    is renamed to its ``outputfileNN`` name only after ``write_part``
    returns, so a failed or retried attempt never leaves a partial
    output behind. Every partition runs a task, so an empty partition
    yields an empty file under its own number — mirroring the
    reference, which copies every reducer's output, empty or not
    (``master/__main__.py:456-463``).

    Before the job runs, the driver removes any ``outputfile*`` (and
    leftover temp files) in ``output_dir``: a previous wider run's
    files must not survive a narrower re-run, or a glob consumer
    would silently mix stale and new data.
    """
    os.makedirs(output_dir, exist_ok=True)
    for name in os.listdir(output_dir):
        if name.startswith((_PREFIX, "." + _PREFIX)):
            os.remove(os.path.join(output_dir, name))

    def publish(pid, lines):
        dest = os.path.join(output_dir, f"{_PREFIX}{pid + 1:02d}")
        tmp = os.path.join(
            output_dir,
            f".{_PREFIX}{pid + 1:02d}.{TaskContext.get().taskAttemptId()}",
        )
        try:
            with open(tmp, "wb") as out:
                write_part(lines, out)
            os.replace(tmp, dest)
        except BaseException:
            if os.path.exists(tmp):
                os.remove(tmp)
            raise
        yield dest

    return parts.mapPartitionsWithIndex(publish).collect()
