"""Command-line interface.

Parity with the reference's ops surface (``setup.py:22-28``: the
``mapreduce-submit`` client, ``submit.py:15-49`` flags). Spark's runtime
replaces the reference's master/worker daemons (SURVEY.md §2.C), so the
commands are:

- ``submit``: run a MapReduce job (the reference submit client's flags);
- ``query``: run a named query from the registry and print rows;
- ``list``: show every registered query and whether it has an oracle;
- ``verify``: run the DuckDB-oracle correctness gate;
- ``status``: one-line engine/registry summary (the reference's
  ``bin/mapreduce status``).
"""

from __future__ import annotations

import argparse
import sys

from map_reduce_server_spark import get_spark, registry
from map_reduce_server_spark.mapreduce import MapReduceJob, run_job


def _cmd_submit(args: argparse.Namespace) -> int:
    spark = get_spark(app_name="mrss-submit")
    outputs = run_job(
        spark,
        MapReduceJob(
            input_directory=args.input,
            output_directory=args.output,
            mapper_executable=args.mapper,
            reducer_executable=args.reducer,
            num_mappers=args.nmappers,
            num_reducers=args.nreducers,
        ),
    )
    for path in outputs:
        print(path)
    return 0


def _cmd_query(args: argparse.Namespace) -> int:
    registry.load_all()
    if args.name not in registry.QUERIES:
        print(f"unknown query: {args.name}", file=sys.stderr)
        return 2
    spark = get_spark(app_name="mrss-query")
    df = registry.QUERIES[args.name](spark, args.sf_dir)
    df.show(args.limit, truncate=False)
    return 0


def _cmd_list(_args: argparse.Namespace) -> int:
    registry.load_all()
    for name in sorted(registry.QUERIES):
        oracle = "oracle" if name in registry.ORACLE else "rows-only"
        print(f"{name}\t{oracle}")
    return 0


def _cmd_verify(args: argparse.Namespace) -> int:
    from map_reduce_server_spark.verify import verify_all

    spark = get_spark(app_name="mrss-verify")
    names = args.names or None
    results = verify_all(spark, args.sf_dir, names)
    fails = skips = 0
    for name, (ok, msg) in results.items():
        skipped = ok and msg.startswith("skipped")
        if skipped:
            skips += 1
        elif not ok:
            fails += 1
        if not ok or skipped or args.verbose:
            tag = "SKIP " if skipped else ("PASS " if ok else "FAIL ")
            print(tag + name, "" if ok and not skipped else msg)
    checked = len(results) - skips
    line = f"{checked - fails}/{checked} queries match the oracle"
    if skips:
        line += f" ({skips} skipped: rows-only, no SQL oracle)"
    print(line)
    return 1 if fails else 0


def _cmd_status(_args: argparse.Namespace) -> int:
    import pyspark

    from map_reduce_server_spark import __version__

    registry.load_all()
    print(f"engine {__version__} on pyspark {pyspark.__version__}")
    print(
        f"{len(registry.QUERIES)} queries registered "
        f"({len(registry.ORACLE)} oracle-checked)"
    )
    return 0


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="map_reduce_server_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("submit", help="run a MapReduce job (reference parity)")
    s.add_argument("-i", "--input", required=True, help="input directory")
    s.add_argument("-o", "--output", required=True, help="output directory")
    s.add_argument("-m", "--mapper", required=True, help="mapper executable")
    s.add_argument("-r", "--reducer", required=True, help="reducer executable")
    s.add_argument("--nmappers", type=int, default=4)
    s.add_argument("--nreducers", type=int, default=2)
    s.set_defaults(fn=_cmd_submit)

    q = sub.add_parser("query", help="run a registered query")
    q.add_argument("name")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    q.add_argument("--limit", type=int, default=20)
    q.set_defaults(fn=_cmd_query)

    ls = sub.add_parser("list", help="list registered queries")
    ls.set_defaults(fn=_cmd_list)

    v = sub.add_parser(
        "verify", help="run the DuckDB-oracle correctness gate"
    )
    v.add_argument("names", nargs="*", help="query names (default: all)")
    v.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    v.add_argument("-v", "--verbose", action="store_true")
    v.set_defaults(fn=_cmd_verify)

    st = sub.add_parser(
        "status",
        help="engine status (parity with the reference's "
        "`bin/mapreduce status`, whose daemons Spark replaces)",
    )
    st.set_defaults(fn=_cmd_status)

    args = parser.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
