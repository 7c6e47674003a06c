"""The UDF surface — the generalization of the reference's only
extension mechanism (arbitrary executables over stdin/stdout,
reference ``worker/__main__.py:116-117``).

Preference order: JVM built-ins (everything else in this package) →
Arrow-vectorized pandas UDFs (here) → mapper/reducer subprocess pipes
(mapreduce/job.py, the reference analog). Row-at-a-time Python UDFs are not
used anywhere.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from map_reduce_server_spark.functions.exact import dsum, sql_dsum
from map_reduce_server_spark.registry import register
from map_reduce_server_spark.tables import load_table


@F.pandas_udf(T.DoubleType())
def _price_score(price: pd.Series, size: pd.Series) -> pd.Series:
    """Arrow-vectorized scalar UDF: a toy feature combining price and
    size. Each call sees a full Arrow batch (no per-row serde).

    Returns the UNROUNDED score: numpy's ``.round`` is half-to-even,
    DuckDB's ``round`` rounds the scaled BINARY value, and Spark's
    ``F.round`` applies HALF_UP to the shortest decimal REPR — three
    different tie mechanisms. Rounding therefore happens engine-side
    via the repo's exact convention, ``floor(x*1e6 + 0.5)/1e6``:
    floor and multiply are the same IEEE ops in both engines, so the
    twins are bit-identical by construction (half-toward-+inf on
    exact ties, fine here — the score is strictly positive)."""
    return price * 1.1 + size.astype("float64") * 2.0


@register(
    "q_pandas_udf_score",
    oracle="""
    SELECT p_partkey,
           floor((p_retailprice * 1.1 + CAST(p_size AS DOUBLE) * 2.0)
                 * 1e6 + 0.5) / 1e6
             AS score
    FROM part
    """,
)
def q_pandas_udf_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized pandas UDF in the projection — oracle-checked
    against the plain SQL arithmetic, proving the Arrow exchange is
    value-exact."""
    part = load_table(spark, sf_dir, "part")
    # NaN/Inf envelope, enforced before the UDF: inside the pandas batch a
    # NULL and a NaN price are the same float64 NaN, and the Arrow return
    # path would turn a NaN score into NULL where the DuckDB twin emits NaN.
    # NULL passes through (isnan(NULL) is NULL, so the when-condition falls
    # to otherwise), matching the oracle's NULL propagation.
    price = F.when(
        F.isnan("p_retailprice")
        | (F.abs("p_retailprice") == F.lit(float("inf"))),
        F.raise_error(
            F.concat(
                F.lit("udf score: non-finite p_retailprice: "),
                F.col("p_retailprice").cast("string"),
            )
        ).cast("double"),
    ).otherwise(F.col("p_retailprice"))
    raw = _price_score(price, F.col("p_size"))
    return part.select(
        "p_partkey",
        (F.floor(raw * 1e6 + F.lit(0.5)) / 1e6).alias("score"),
    )


@register(
    "q_salted_join",
    oracle=f"""
    SELECT o_orderstatus,
           {sql_dsum('l_extendedprice')} AS total_price,
           COUNT(*) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """,
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated (salted) join, oracle-checked against the plain
    join: the big side carries a deterministic salt, the small side is
    exploded across all salt values, and the equi-join runs on (key, salt),
    splitting any hot key across SALT partitions. AQE's skew join handles
    moderate skew; explicit salting is the fallback for extreme single-key
    skew.
    """
    salt_n = 8
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_linenumber"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    # hash-derived salt: l_linenumber % 8 would never hit salt 0
    # (TPC-H linenumbers are 1..7), wasting one replica of the small
    # side and capping a hot key at 7-way splitting
    big = li.withColumn(
        "salt", F.pmod(F.hash("l_orderkey", "l_linenumber"), F.lit(salt_n))
    )
    small = orders.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(salt_n - 1)))
    )
    joined = big.join(
        small,
        (big.l_orderkey == small.o_orderkey) & (big.salt == small.salt),
    )
    return joined.groupBy("o_orderstatus").agg(
        dsum("l_extendedprice").alias("total_price"),
        F.count("*").alias("n_items"),
    )


@register(
    "q_session_window",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, value, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                   OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts, value,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS s_start,
           CAST(MAX(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS s_end,
           COUNT(*) AS n_events,
           {sql_dsum('value')} AS total_value
    FROM sess GROUP BY user_id, sid
    """,
)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` (30-minute gap), oracle-checked against
    the lag/cumsum sessionization, pinning Spark's session-merge semantics:
    a gap of exactly 30:00 still merges (an event on the previous session's
    exclusive end extends it), so the oracle splits only on strictly-greater
    gaps; and events with NULL ts are dropped by SessionWindowing, mirrored
    by the oracle's ``ts IS NOT NULL`` guard (DuckDB would otherwise sort
    them last and glue them onto the final session)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .select(
            F.col("user_id"),
            F.col("session_window.start").alias("s_start"),
            F.col("session_window.end").alias("s_end"),
            "n_events",
            "total_value",
        )
    )
