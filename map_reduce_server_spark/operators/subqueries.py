"""Subquery forms and reshaping operators (unpivot, range join).

Subqueries don't exist in the reference (its only composition is
chaining jobs through directories, SURVEY.md §3); Catalyst rewrites
them into the same joins/aggregates the rest of the library uses, so
these mostly pin down the SQL surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce_server_spark.functions.exact import spark_sql_dsum, sql_dsum
from map_reduce_server_spark.registry import register
from map_reduce_server_spark.tables import load_table


@register(
    "q_scalar_subquery",
    oracle=f"""
    SELECT o_orderkey, o_totalprice,
           CAST(o_totalprice AS DOUBLE)
                 - (SELECT {sql_dsum('o2.o_totalprice')} / COUNT(*)
                    FROM orders o2) AS diff_from_mean
    FROM orders
    WHERE o_totalprice > 2 * (SELECT {sql_dsum('o3.o_totalprice')}
                                     / COUNT(*)
                              FROM orders o3)
    """,
)
def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subqueries in projection and predicate.

    diff_from_mean is emitted as the raw double difference (o_totalprice
    is a parquet DOUBLE; both engines subtract the same two doubles).
    ``round(double, 6)`` would diverge: Spark rounds HALF_UP on the shortest
    decimal repr while DuckDB rounds the binary value, so midpoint-adjacent
    doubles (e.g. 0.0001245) round differently. The exact sums go through
    ``spark_sql_dsum`` so NaN/Inf garbage raises instead of being skipped by
    SUM under the non-ANSI session.
    """
    orders = load_table(spark, sf_dir, "orders")
    # fixed name + OrReplace: the repo's no-accumulation convention
    view = "orders_sq"
    orders.createOrReplaceTempView(view)
    return spark.sql(
        f"""
        SELECT o_orderkey, o_totalprice,
               CAST(o_totalprice AS DOUBLE)
                     - (SELECT {spark_sql_dsum('o2.o_totalprice')} / COUNT(*)
                        FROM {view} o2) AS diff_from_mean
        FROM {view}
        WHERE o_totalprice > 2 * (SELECT {spark_sql_dsum('o3.o_totalprice')}
                                         / COUNT(*)
                                  FROM {view} o3)
        """
    )


@register(
    "q_correlated_exists",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 100000)
      AND NOT EXISTS (SELECT 1 FROM orders o2
                      WHERE o2.o_custkey = c.c_custkey
                        AND o2.o_orderstatus = 'F'
                        AND o2.o_totalprice < 1000)
    """,
)
def q_correlated_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS (Catalyst → semi/anti joins)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("cust_ce")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("ord_ce")
    return spark.sql(
        f"""
        SELECT c_custkey, c_name FROM cust_ce c
        WHERE EXISTS (SELECT 1 FROM ord_ce o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 100000)
          AND NOT EXISTS (SELECT 1 FROM ord_ce o2
                          WHERE o2.o_custkey = c.c_custkey
                            AND o2.o_orderstatus = 'F'
                            AND o2.o_totalprice < 1000)
        """
    )


@register(
    "q_unpivot",
    oracle="""
    WITH p AS (
      SELECT user_id,
             COUNT(*) FILTER (WHERE event_type = 'click')    AS click,
             COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
             COUNT(*) FILTER (WHERE event_type = 'error')    AS error
      FROM events
      WHERE event_type IN ('click', 'purchase', 'error')
      GROUP BY user_id
    )
    SELECT user_id, kind, n FROM p
    UNPIVOT (n FOR kind IN (click, purchase, error))
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot → unpivot round trip (wide ↔ long reshaping)."""
    ev = load_table(spark, sf_dir, "events")
    kinds = ["click", "purchase", "error"]
    wide = (
        ev.filter(F.col("event_type").isin(kinds))
        .groupBy("user_id")
        .pivot("event_type", kinds)
        .count()
        # subset: a frame-wide fill would rewrite a NULL user_id
        # group key to 0 (same guard as q_pivot_events)
        .na.fill(0, subset=kinds)
    )
    return wide.unpivot(
        ids=["user_id"],
        values=kinds,
        variableColumnName="kind",
        valueColumnName="n",
    )


@register(
    "q_range_join",
    bench=True,
    oracle="""
    SELECT e.event_id AS error_id,
           CAST(COUNT(v.event_id) AS BIGINT) AS n_nearby
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'error') e
    LEFT JOIN events v
      ON v.user_id = e.user_id
     AND v.event_id <> e.event_id
     AND v.ts BETWEEN e.ts - INTERVAL 5 MINUTE
                  AND e.ts + INTERVAL 5 MINUTE
    GROUP BY e.event_id
    """,
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range join via bucketing: events within ±5 min of each
    error, same user.

    Spark has no native range join; a non-equi join degrades to a per-key
    cartesian product. Instead ts buckets into 5-minute cells, the join is
    an equi-join on (user, cell) for the error's cell and its two
    neighbors, and the exact range filter runs only inside those 3 cells.
    """
    ev = load_table(spark, sf_dir, "events")
    bucket = (F.unix_timestamp("ts") / 300).cast("bigint")
    probe = ev.select(
        "event_id", "user_id", "ts", bucket.alias("cell")
    )
    errors = (
        ev.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
            bucket.alias("e_cell"),
        )
        # explode_outer: an error with NULL ts has a NULL cell and a
        # plain explode would DELETE the row, while the oracle's LEFT
        # JOIN keeps it with n_nearby = 0
        .withColumn(
            "probe_cell",
            F.explode_outer(F.expr("sequence(e_cell - 1, e_cell + 1)")),
        )
    )
    joined = errors.join(
        probe,
        (probe.user_id == errors.e_user)
        & (probe.cell == errors.probe_cell)
        & (probe.event_id != errors.error_id)
        & (probe.ts >= errors.e_ts - F.expr("INTERVAL 5 MINUTES"))
        & (probe.ts <= errors.e_ts + F.expr("INTERVAL 5 MINUTES")),
        "left",
    )
    return joined.groupBy("error_id").agg(
        F.count("event_id").alias("n_nearby")
    )


# Oracle for q_lateral_topk. DuckDB requires an explicit ON TRUE for
# JOIN LATERAL; the inner ORDER BY ends in the unique c_custkey so
# the top-3 cut is engine-independent.
_LATERAL_ORACLE = """
SELECT n.n_name, t.c_custkey, t.c_acctbal
FROM nation n JOIN LATERAL (
  SELECT c_custkey, c_acctbal FROM customer c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_custkey LIMIT 3) t ON TRUE
"""


@register("q_lateral_topk", oracle=_LATERAL_ORACLE)
def q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery in FROM: per outer row, a dependent
    ORDER BY ... LIMIT relation (each nation's top-3 customers by balance,
    unique-key tie-break), the SQL-standard form of the per-group top-k
    that q_topk_per_group expresses as a window rank. Catalyst decorrelates
    it into a join + per-key limit (WindowGroupLimit), with no per-outer-row
    re-execution.
    """
    from map_reduce_server_spark.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n.n_name, t.c_custkey, t.c_acctbal
        FROM nation n JOIN LATERAL (
          SELECT c_custkey, c_acctbal FROM customer c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey LIMIT 3) t
        """
    )
