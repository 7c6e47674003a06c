"""Source/sink unit tests."""

from __future__ import annotations

import os
import shutil
from collections import Counter

import pytest

from map_reduce_server_spark.io.sinks import write_numbered_text


def write_lines(lines, out):
    """The simplest ``write_part``: each element plus a newline."""
    for line in lines:
        out.write(line + b"\n")


def test_write_numbered_text(spark, tmp_path):
    rdd = spark.sparkContext.parallelize([b"x", b"y", b"z"], 2)
    out = str(tmp_path / "out")
    paths = write_numbered_text(rdd, out, write_lines)
    assert [os.path.basename(p) for p in paths] == [
        "outputfile01",
        "outputfile02",
    ]
    lines = []
    for p in paths:
        lines.extend(open(p).read().splitlines())
    assert sorted(lines) == ["x", "y", "z"]
    # no temp file survives a successful write
    assert sorted(os.listdir(out)) == ["outputfile01", "outputfile02"]


def test_write_numbered_text_metachar_output_dir(spark, tmp_path):
    """An output dir containing glob metacharacters must be treated
    as a literal path: a glob over it matches nothing, which once
    fabricated EMPTY outputfileNN files and deleted the real data
    (total output loss with a success return)."""
    rdd = spark.sparkContext.parallelize([b"x", b"y"], 2)
    out = str(tmp_path / "run[1]" / "out,dir")
    paths = write_numbered_text(rdd, out, write_lines)
    lines = []
    for p in paths:
        lines.extend(open(p).read().splitlines())
    assert sorted(lines) == ["x", "y"]
    assert sorted(os.listdir(out)) == ["outputfile01", "outputfile02"]


def test_events_ntz_normalization_is_tz_proof(spark, tmp_path):
    """The timestamp[us]-without-UTC-adjustment events encoding
    (read as TIMESTAMP_NTZ) must normalize to the same UTC instants
    whatever the session timezone at call time — the NTZ->zoned cast
    resolves the zone at analysis time, so normalize_events_ts pins
    UTC itself rather than trusting callers (review-sweep class:
    host-TZ-sensitive semantics)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from map_reduce_server_spark.tables import load_table

    sf_dir = str(tmp_path)
    wall = datetime.datetime(2024, 3, 10, 6, 30, 0)  # US DST morning
    tbl = pa.table(
        {
            "event_id": pa.array([1], pa.int64()),
            "ts": pa.array([wall], pa.timestamp("us")),  # no tz => NTZ
        }
    )
    pq.write_table(tbl, f"{sf_dir}/events.parquet")
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        df = load_table(spark, sf_dir, "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        [row] = df.collect()
        # session TZ is UTC after the load (pinned); the rendered
        # wall time must equal the file's wall time — the instant was
        # attached AS UTC, not shifted by America/New_York
        assert row["ts"] == wall
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_events_tz_pin_warns_on_non_utc_session(spark, tmp_path, sf_small):
    """Pinning the session timezone to UTC from a session configured
    with a DIFFERENT zone is a surprising global mutation — the
    engine must say so loudly instead of reconfiguring the session in
    silence (ADVICE r8). The warning must fire through the REAL entry
    paths (load_table, the registry's pinned wrapper), which write
    the conf before normalize_events_ts ever reads it — a warning
    only a direct normalize_events_ts call can reach would leave the
    advertised scenario (a user session with its own zone running any
    query) still silent (review r9)."""
    import datetime
    import warnings as _w

    import pyarrow as pa
    import pyarrow.parquet as pq

    from map_reduce_server_spark import registry
    from map_reduce_server_spark.tables import load_table

    registry.load_all()
    sf_dir = str(tmp_path)
    tbl = pa.table(
        {
            "event_id": pa.array([1], pa.int64()),
            "ts": pa.array(
                [datetime.datetime(2024, 1, 1)], pa.timestamp("us")
            ),
        }
    )
    pq.write_table(tbl, f"{sf_dir}/events.parquet")
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
        with pytest.warns(UserWarning, match="pinning .* to UTC"):
            load_table(spark, sf_dir, "events")
        # the registry's pinned wrapper pins BEFORE the query body
        spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
        with pytest.warns(UserWarning, match="pinning .* to UTC"):
            registry.QUERIES["q1_pricing_summary"](spark, sf_small)
        # and from an already-UTC session: silent (the common path)
        with _w.catch_warnings():
            _w.simplefilter("error")
            load_table(spark, sf_dir, "events")
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_load_table_infers_each_file_schema_once(
    spark, sf_small, tmp_path, spark_job_ids
):
    """Schema inference starts a footer-reading job; a second load of
    the same unchanged file reuses the inferred schema and starts
    none."""
    from map_reduce_server_spark.tables import load_table

    shutil.copy(os.path.join(sf_small, "lineitem.parquet"), tmp_path)
    first, first_jobs = spark_job_ids(
        lambda: load_table(spark, str(tmp_path), "lineitem")
    )
    second, second_jobs = spark_job_ids(
        lambda: load_table(spark, str(tmp_path), "lineitem")
    )
    assert first_jobs  # the inference job
    assert second_jobs == []
    assert second.schema == first.schema


def test_load_table_rereads_a_file_rewritten_in_place(spark, tmp_path):
    """A file rewritten with a different schema is inferred afresh: the
    next load returns the new columns."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from map_reduce_server_spark.tables import load_table

    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), path)
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey"]
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["a", "b"]}), path)
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name"]
    assert sorted(df.collect()) == [(0, "a"), (1, "b")]


def test_read_parquet_reinfers_after_a_type_conf_flips(spark, tmp_path):
    """A kept schema is kept per parquet type conf: flipping
    ``binaryAsString`` between two reads of an unchanged file turns
    its plain-BINARY column into a string column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from map_reduce_server_spark.tables import read_parquet

    path = str(tmp_path / "blobs.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x", b"yz"], pa.binary())}), path)
    assert dict(read_parquet(spark, path).dtypes)["b"] == "binary"
    key = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        df = read_parquet(spark, path)
        assert dict(df.dtypes)["b"] == "string"
        assert sorted(df.collect()) == [("x",), ("yz",)]
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize("encoding", ["fixture_ntz", "nanos"])
def test_events_load_identically_from_a_kept_schema(
    spark, sf_small, tmp_path, spark_job_ids, encoding
):
    """Both ``events.ts`` encodings (the fixture's NTZ micros and
    TIMESTAMP(NANOS)) normalize the same on the first read and on a
    read that reuses the kept schema."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from map_reduce_server_spark.tables import load_table

    if encoding == "fixture_ntz":
        shutil.copy(os.path.join(sf_small, "events.parquet"), tmp_path)
    else:
        ts = [datetime.datetime(2024, 3, 10, 6, 30), datetime.datetime(2024, 1, 1)]
        tbl = pa.table({
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(ts, pa.timestamp("ns", tz="UTC")),
        })
        pq.write_table(tbl, tmp_path / "events.parquet", version="2.6")
    first = load_table(spark, str(tmp_path), "events")
    kept, jobs = spark_job_ids(lambda: load_table(spark, str(tmp_path), "events"))
    assert jobs == []
    assert dict(kept.dtypes)["ts"] == "timestamp"
    assert kept.schema == first.schema
    assert Counter(kept.collect()) == Counter(first.collect())


def test_register_views_is_per_session(spark, sf_small):
    """Temp views are per-SparkSession: the idempotence cache must
    not let a sibling session (spark.newSession()) skip registration
    on the strength of the first session's entry, and a dropTempView
    in-session must trigger re-registration, not downstream
    TABLE_OR_VIEW_NOT_FOUND (ADVICE r8)."""
    from map_reduce_server_spark.tables import TABLES, register_views

    register_views(spark, sf_small)
    sibling = spark.newSession()
    try:
        assert not sibling.catalog.tableExists(TABLES[0])
        register_views(sibling, sf_small)
        assert sibling.sql("SELECT count(*) AS n FROM region").collect()[
            0
        ]["n"] > 0
        # catalog reset within a session re-registers on next call —
        # for ANY dropped view, not just the first (review r9: a
        # TABLES[0]-only staleness probe missed the other nine)
        spark.catalog.dropTempView("lineitem")
        register_views(spark, sf_small)
        assert spark.catalog.tableExists("lineitem")
    finally:
        for name in TABLES:
            sibling.catalog.dropTempView(name)


def test_xml_roundtrip(spark, sf_small, tmp_path):
    """Spark 4's NATIVE xml data source round-trips a real table —
    schema and values intact. Unregistered (driver-window budget),
    but pins that the engine's source/sink surface includes XML
    alongside parquet/csv/json/orc/text."""
    from map_reduce_server_spark.tables import load_table

    region = load_table(spark, sf_small, "region")
    out = str(tmp_path / "region_xml")
    (
        region.write.format("xml")
        .option("rowTag", "region")
        .mode("overwrite")
        .save(out)
    )
    back = (
        spark.read.format("xml").option("rowTag", "region").load(out)
    ).select(*region.columns)  # xml infers columns alphabetically
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, region.collect())
    )


def test_write_numbered_text_trailing_empty_partitions(spark, tmp_path):
    """Trailing empty partitions materialize as empty files: every
    partition runs a task that writes its own file, so no partition
    count has to be passed in or recovered from the written files."""
    rdd = (
        spark.sparkContext.parallelize([(0, b"alpha")])
        .partitionBy(3, lambda k: k)  # partitions 1 and 2 stay empty
        .map(lambda kv: kv[1])
    )
    out = str(tmp_path / "out")
    paths = write_numbered_text(rdd, out, write_lines)
    assert [os.path.basename(p) for p in paths] == [
        "outputfile01", "outputfile02", "outputfile03",
    ]
    assert open(paths[0], "rb").read() == b"alpha\n"
    assert os.path.getsize(paths[1]) == 0
    assert os.path.getsize(paths[2]) == 0
