"""Bucketing: joins on the bucket key must not re-shuffle either side
— the co-located join strategy for repeated fact-to-fact joins (pay
the shuffle once at write time)."""

from __future__ import annotations

import contextlib
import io

import pytest

from map_reduce_server_spark.tables import load_table


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


@pytest.fixture()
def warehouse(spark):
    # spark.sql.warehouse.dir is a static config — use the session
    # default (./spark-warehouse, gitignored) and clean up the tables.
    yield spark
    for t in ("li_bucketed", "ord_bucketed"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bucketed_join_has_no_exchange(warehouse, sf_small):
    spark = warehouse
    li = load_table(spark, sf_small, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    orders = load_table(spark, sf_small, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    (
        li.write.mode("overwrite")
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .saveAsTable("li_bucketed")
    )
    (
        orders.write.mode("overwrite")
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable("ord_bucketed")
    )
    # disable broadcast so the join would otherwise shuffle both sides
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        joined = spark.table("li_bucketed").join(
            spark.table("ord_bucketed"),
            on=spark.table("li_bucketed").l_orderkey
            == spark.table("ord_bucketed").o_orderkey,
        )
        plan = _explain(joined)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan  # bucket co-location: no shuffle
    # and the result is still correct
    assert joined.count() == load_table(spark, sf_small, "lineitem").count()
