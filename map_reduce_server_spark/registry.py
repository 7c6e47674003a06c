"""Central query registry feeding ``__spark_entry__.py``.

Every operator the engine implements registers a named query
(``(spark, sf_dir) -> DataFrame``) and, when SQL-expressible, a
DuckDB oracle SQL twin. This replaces the reference's golden-file
test corpus (reference ``tests/testdata/correct/*``) with an
executable oracle, per SURVEY.md §5.
"""

from __future__ import annotations

import functools
import json
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from map_reduce_server_spark.session import pin_semantics

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}
# Queries worth timing at sf0.1 (bench.py headline set).
BENCH_QUERIES: list[str] = []
# Optional untimed fixture staging, run by bench.py BEFORE the timed
# region — for queries whose inputs must first be materialized in a
# non-parquet layout (e.g. the MapReduce façade's text directory).
# Correctness runs ignore this (the query stages lazily on its own).
PREPARE: dict[str, Callable[[SparkSession, str], None]] = {}


def register(
    name: str,
    oracle: str | None = None,
    bench: bool = False,
    prepare: Callable[[SparkSession, str], None] | None = None,
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a named query, its oracle SQL, bench flag,
    and optional untimed fixture-staging hook."""

    def deco(fn: QueryFn) -> QueryFn:
        @functools.wraps(fn)
        def pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
            # Pin session-level semantics up front so results are
            # identical and ORDER-INDEPENDENT in any session —
            # including the grading driver's vanilla one, which would
            # otherwise render timestamps under the JVM default TZ
            # until the first events load flips the conf mid-session.
            pin_semantics(spark)
            return fn(spark, sf_dir)

        if oracle is not None:
            # The storage form collapses all whitespace, including inside
            # quoted SQL literals, so a literal holding any whitespace but
            # single spaces (tab, newline, NBSP, a 2+ run) would silently
            # become a different literal: refuse it at registration.
            # Odd-indexed split segments are the inside-quote spans. A
            # doubled quote ('') is SQL's escaped apostrophe and would flip
            # the split's parity, so each pair collapses to a sentinel
            # first; the sentinel is data inside whichever span it lands in.
            parsed = oracle.replace("''", "\x00")
            for lit in parsed.split("'")[1::2]:
                if "  " in lit or any(
                    c.isspace() and c != " " for c in lit
                ):
                    # report the literal as the author wrote it, not
                    # the sentinel form
                    shown = lit.replace("\x00", "''")
                    raise ValueError(
                        f"oracle for {name!r} contains a quoted literal "
                        f"({shown!r}) that whitespace collapsing would "
                        "corrupt — use a single space or an escape "
                        "(chr()/concat) instead"
                    )
            # A line comment would swallow the REST OF THE QUERY once
            # everything is collapsed onto one line. Only the
            # outside-quote spans can start a comment — a quoted
            # '--' is legitimate data (even-indexed split segments).
            if any("--" in seg for seg in parsed.split("'")[0::2]):
                raise ValueError(
                    f"oracle for {name!r} contains a '--' line comment, "
                    "which whitespace collapsing would extend over the "
                    "whole remaining query — remove it"
                )
        if name in QUERIES:
            # refuse loudly, like the literal/comment lints above: a
            # duplicate name would silently shadow the earlier query
            # (shrinking the corpus the gate checks) and double-time
            # a bench entry
            raise ValueError(f"duplicate query registration: {name!r}")
        QUERIES[name] = pinned
        if oracle is not None:
            ORACLE[name] = " ".join(oracle.split())
        if bench:
            BENCH_QUERIES.append(name)
        if prepare is not None:
            PREPARE[name] = prepare
        # return the PINNED wrapper, not the raw fn: direct imports
        # of a query function (notebooks, internal composition like
        # dedup_cluster -> dedup_minhash_lsh) must get the same
        # session-conf guarantees the registry path gets
        return pinned

    return deco


_LOADED = False


def load_all() -> None:
    """Import every operator module so registrations run."""
    global _LOADED
    if _LOADED:
        return
    # Imports are for registration side effects only.
    from map_reduce_server_spark.operators import (  # noqa: F401
        advanced,
        clustering,
        curation,
        dedup,
        multimodal,
        relational,
        retrieval,
        similarity,
        stats,
        subqueries,
        text,
        tpch,
        udf,
    )
    from map_reduce_server_spark.mapreduce import queries  # noqa: F401
    from map_reduce_server_spark.streaming import events, joins  # noqa: F401

    _LOADED = True


# The driver verifies a ~50-query window from the head of
# ``all_queries()`` and commits the rows as CORRECTNESS_rNN.json next to
# this package. ``all_queries`` and ``all_oracles`` order the registry
# stalest-first from those files: names with no green row first, then by
# the round of their freshest green row, registration order breaking ties.
# Without the files the order is registration order.
_CORRECTNESS_DIR = Path(__file__).resolve().parent.parent

# Round -> names whose code changed in that round's build. A green
# row from an earlier round no longer certifies them, so they head
# the window until a row from that round or later does.
_RECHECK: dict[int, frozenset[str]] = {
    16: frozenset({
        "graph_pagerank", "q_hybrid_retrieval_rrf",
        "multimodal_decode_jpeg", "multimodal_decode_jpeg_progressive",
        "multimodal_decode_jpeg_color", "multimodal_decode_video",
        "multimodal_decode_flac", "multimodal_decode_gif",
    }),
}


def _green_rounds(
    directory: Path, recheck: dict[int, frozenset[str]]
) -> dict[str, int]:
    """Name -> round of its freshest CORRECTNESS row whose rows,
    schema and hash all match. A name ``recheck`` lists for a round
    after that row has no green round."""
    fresh: dict[str, int] = {}
    for path in directory.glob("CORRECTNESS_r[0-9][0-9].json"):
        rnd = int(path.stem.removeprefix("CORRECTNESS_r"))
        for name, row in json.loads(path.read_text()).items():
            if row["rows_match"] and row["schema_match"] and row["hash_match"]:
                fresh[name] = max(rnd, fresh.get(name, 0))
    for rnd, names in recheck.items():
        for name in names:
            if fresh.get(name, 0) < rnd:
                fresh.pop(name, None)
    return fresh


@functools.cache
def _rotation() -> dict[str, int]:
    return _green_rounds(_CORRECTNESS_DIR, _RECHECK)


def _stale_first(d: dict, rounds: dict[str, int]) -> dict:
    return dict(sorted(d.items(), key=lambda kv: rounds.get(kv[0], 0)))


def all_queries() -> dict[str, QueryFn]:
    load_all()
    return _stale_first(QUERIES, _rotation())


def all_oracles() -> dict[str, str]:
    load_all()
    return _stale_first(ORACLE, _rotation())


def bench_query_names() -> list[str]:
    load_all()
    return list(BENCH_QUERIES)
