"""Advanced operators: as-of join, grouping sets, exact statistical
moments, percentiles, positional aggregates, approximate sketches,
and file-format connector round-trips.

None of these exist in the reference (SURVEY.md §2.D — its only
aggregate is ``uniq -c`` in a reducer executable); they complete the
engine surface a user would expect after switching from the
reference + the north-star extension list.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from map_reduce_server_spark.functions.exact import (
    checked_decimal,
    dsum,
    sql_dsum,
)
from map_reduce_server_spark.functions.hashing import md5_long, sql_md5_long
from map_reduce_server_spark.functions.sessionize import (
    session_flags,
    session_spans,
)
from map_reduce_server_spark.functions.tokens import (
    SQL_TOKS,
    word_tokens_col,
)
from map_reduce_server_spark.io.tempdirs import cleanup_at_exit
from map_reduce_server_spark.registry import register
from map_reduce_server_spark.stagecut import stage_cut
from map_reduce_server_spark.tables import load_table


@register(
    "q_asof_join",
    bench=True,
    oracle="""
    SELECT e.event_id, e.user_id, e.ts, x.ts AS last_error_ts
    FROM events e
    ASOF LEFT JOIN (SELECT user_id, ts FROM events
                    WHERE event_type = 'error') x
      ON e.user_id = x.user_id AND e.ts >= x.ts
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every event, the most recent (≤ ts) error
    timestamp of the same user.

    Spark lacks a native ASOF JOIN; the scalable formulation is a
    single window pass — carry the last non-null error timestamp
    forward within each user's time-ordered partition. One shuffle
    on user_id, no join at all: strictly better than the
    sort-merge-join + filter + re-aggregate alternative, and it
    scales to any corpus where one user's history fits a partition.
    """
    ev = load_table(spark, sf_dir, "events")
    # RANGE frame + MAX, not last() over a row frame: the as-of match
    # is the greatest error ts <= this row's ts INCLUDING same-ts
    # peers (DuckDB's ASOF `e.ts >= x.ts` includes ties; a row frame
    # ordered by (ts, event_id) would miss a same-ts error with a
    # larger event_id).
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    err_ts = F.when(F.col("event_type") == "error", F.col("ts"))
    # NULL-key guard: the oracle's ASOF condition `e.user_id =
    # x.user_id` never matches a NULL key, while a Spark window
    # groups NULL user_ids into one partition and would carry a
    # NULL-user error across them. Current testdata has no NULL
    # user_ids (checked at all SFs), but the twin must not depend
    # on that staying true.
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.when(
            F.col("user_id").isNotNull(), F.max(err_ts).over(w)
        ).alias("last_error_ts"),
    )


# Oracle for q_asof_join_forward below (registered round 13).
_ASOF_FWD_ORACLE = """
SELECT e.event_id, e.user_id, e.ts, x.ts AS next_purchase_ts
FROM events e
ASOF LEFT JOIN (SELECT user_id, ts FROM events
                WHERE event_type = 'purchase') x
  ON e.user_id = x.user_id AND e.ts <= x.ts
"""


@register("q_asof_join_forward", oracle=_ASOF_FWD_ORACLE)
def q_asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: for every event, the EARLIEST (>= ts)
    purchase timestamp of the same user — the time-to-conversion
    primitive (q_asof_join's mirror; the round-12 as-of fuzz
    exercises both directions against DuckDB's native ASOF JOIN).

    Same single-window-pass scale shape as the backward query: MIN
    over the (currentRow, unboundedFollowing) RANGE frame — one
    shuffle on user_id, no join, ties at the same ts included
    exactly as ASOF's ``e.ts <= x.ts`` includes them. Staged in
    round 12, registered round 13.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rangeBetween(Window.currentRow, Window.unboundedFollowing)
    )
    purchase_ts = F.when(F.col("event_type") == "purchase", F.col("ts"))
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.when(
            F.col("user_id").isNotNull(), F.min(purchase_ts).over(w)
        ).alias("next_purchase_ts"),
    )


@register(
    "q_grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INTEGER) AS g_rf,
           CAST(GROUPING(l_linestatus) AS INTEGER) AS g_ls,
           COUNT(*) AS n_rows,
           {sql_dsum('l_extendedprice')} AS sum_price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                            (l_returnflag, l_linestatus), ())
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with grouping indicators.

    Optimization: GROUPING SETS expands every input row once per set
    (4× here) *before* aggregating — at 100 TB that's 4× the shuffle.
    Since the measures are associative (count + exact decimal sum),
    we pre-aggregate to the finest grain (returnflag × linestatus —
    a handful of rows) and run the expand over that, making the
    expansion cost negligible while producing identical values.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # Pre-aggregate in the DataFrame API so the decimal cast goes
    # through the shared checked_decimal guard (a bare SQL CAST would
    # silently NULL garbage rows the oracle errors on); the sum stays
    # DECIMAL here — dsum's double output would break exact regrouping.
    pre = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.sum(checked_decimal(F.col("l_extendedprice"), 2)).alias("s"),
    )
    # fixed name + OrReplace: repeated invocations in one session
    # reuse the slot instead of accumulating uuid-named views
    view = "lineitem_gs_pre"
    pre.createOrReplaceTempView(view)
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
               CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
               SUM(n) AS n_rows,
               CAST(SUM(s) AS DOUBLE) AS sum_price
        FROM {view}
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                                (l_returnflag, l_linestatus), ())
        """
    )


# Oracle for q_rollup_multi_distinct below (registered round 13). Two
# grid-specific recipe rules apply (both pinned in
# tests/test_engine_portability_pins.py):
# - the ordered string agg must be order-insensitive BY CONSTRUCTION
#   (list_sort OUTSIDE the aggregate) because DuckDB 1.0 drops
#   string_agg's ORDER BY on multi-key-grid subtotal rows;
# - no native Spark listagg anywhere near >= 2 distinct aggregates
#   (Spark 4.1.2 RewriteDistinctAggregates crash).
_ROLLUP_MD_ORACLE = """
SELECT o_orderstatus,
       CAST(grouping_id(o_orderstatus) AS BIGINT) AS gid,
       COUNT(*) AS n_orders,
       COUNT(DISTINCT o_custkey) AS n_customers,
       COUNT(DISTINCT o_orderpriority) AS n_priorities,
       array_to_string(list_sort(list(DISTINCT o_orderpriority)), '|')
         AS priorities
FROM orders
GROUP BY ROLLUP(o_orderstatus)
"""


@register("q_rollup_multi_distinct", oracle=_ROLLUP_MD_ORACLE)
def q_rollup_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup grid with MULTIPLE distinct aggregates plus an ordered
    distinct string agg — the exact plan family where the round-12
    differential fuzz found an upstream Spark 4.1.2 optimizer crash
    (native ``listagg WITHIN GROUP`` + >= 2 distincts ->
    ``RewriteDistinctAggregates`` ClassCastException): this query
    pins the engine's PORTABLE renderings of that surface as a gate
    query. ``collect_set`` -> ``array_sort`` -> ``concat_ws`` is the
    crash-free ordered string agg; the grid oracle sorts OUTSIDE the
    aggregate (see ``_ROLLUP_MD_ORACLE``).

    Scale shape: Spark plans this as Expand(rollup levels = 2) then
    Expand(distinct groups + 1 = 3) — a 6x row multiplier BEFORE
    partial aggregation. That is the right trade here because the
    expansion keys are tiny (3 statuses x 5 priorities x custkey)
    and partial aggregation collapses map-side; for high-cardinality
    grids, pre-reduce like :func:`q_grouping_sets` does — distinct
    (keys, target) tuples first, then the grid over the deduped
    table. Staged in round 12, registered round 13.
    """
    o = load_table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus").agg(
        F.grouping_id("o_orderstatus").alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
        F.concat_ws(
            "|", F.array_sort(F.collect_set("o_orderpriority"))
        ).alias("priorities"),
    )


@register(
    "q_stats_moments",
    oracle=f"""
    WITH s AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             {sql_dsum('l_quantity')} AS sx,
             {sql_dsum('l_quantity * l_quantity', scale=6)} AS sx2
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           round(sx / n, 6) AS mean_qty,
           round(sqrt((n * sx2 - sx * sx) / (n * (n - 1.0))), 6)
             AS stddev_qty
    FROM s
    """,
)
def q_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean/stddev from exact decimal power sums.

    Built-in ``stddev`` accumulates doubles in shuffle order →
    non-reproducible bits across engines AND across runs at scale.
    Power sums in decimal are associative, so this form is
    deterministic on any cluster layout; the double arithmetic on
    the already-exact sums is then bit-identical everywhere.
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        dsum("l_quantity").alias("sx"),
        dsum(F.col("l_quantity") * F.col("l_quantity"), scale=6).alias("sx2"),
    )
    n = F.col("n")
    return s.select(
        "l_returnflag",
        "n",
        F.round(F.col("sx") / n, 6).alias("mean_qty"),
        F.round(
            F.sqrt((n * F.col("sx2") - F.col("sx") * F.col("sx")) / (n * (n - 1.0))),
            6,
        ).alias("stddev_qty"),
    )


@register(
    "q_percentiles",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.9), 6) AS p90,
           round(quantile_cont(value, 0.99), 6) AS p99
    FROM events GROUP BY event_type
    """,
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.9)), 6).alias("p90"),
        F.round(F.percentile("value", F.lit(0.99)), 6).alias("p99"),
    )


@register(
    "q_minmax_by",
    oracle="""
    SELECT o_orderpriority,
           max_by(o_custkey, o_orderkey) AS last_order_cust,
           min_by(o_custkey, o_orderkey) AS first_order_cust,
           max(o_orderkey) AS max_key,
           min(o_orderkey) AS min_key
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional aggregates (argmax/argmin on a unique ordering key
    — unique so the result is deterministic)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.max_by("o_custkey", "o_orderkey").alias("last_order_cust"),
        F.min_by("o_custkey", "o_orderkey").alias("first_order_cust"),
        F.max("o_orderkey").alias("max_key"),
        F.min("o_orderkey").alias("min_key"),
    )


@register(
    "q_collect_sorted",
    oracle="""
    SELECT c_nationkey,
           string_agg(c_custkey, ',' ORDER BY c_custkey) AS custkeys
    FROM (SELECT c_nationkey, c_custkey FROM customer
          WHERE c_acctbal > 9000) t
    GROUP BY c_nationkey
    """,
)
def q_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic list aggregation: collect → sort → join to CSV
    (collect_list order is nondeterministic under parallelism, so the
    sort is what makes this reproducible at scale)."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
    return cust.groupBy("c_nationkey").agg(
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.collect_list("c_custkey")),
                lambda x: x.cast("string"),
            ),
        ).alias("custkeys")
    )


@register(
    "q_conditional_agg",
    oracle=f"""
    SELECT user_id,
           CAST(count_if(value > 100) AS BIGINT) AS n_big,
           bool_or(event_type = 'error') AS had_error,
           bool_and(value >= 0) AS all_nonneg,
           {sql_dsum("CASE WHEN event_type = 'purchase' THEN value ELSE 0 END")}
             AS purchase_value
    FROM events GROUP BY user_id
    """,
)
def q_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional / boolean aggregates."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count_if(F.col("value") > 100).alias("n_big"),
        F.bool_or(F.col("event_type") == "error").alias("had_error"),
        F.bool_and(F.col("value") >= 0).alias("all_nonneg"),
        dsum(
            F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(
                F.lit(0.0)
            )
        ).alias("purchase_value"),
    )


@register(
    "q_upsert",
    oracle="""
    WITH updates AS (
      SELECT c_custkey, c_name, c_nationkey,
             round(c_acctbal + 1000.0, 2) AS c_acctbal, c_mktsegment
      FROM customer WHERE c_custkey % 10 = 0
    )
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
           'updated' AS row_status
    FROM updates
    UNION ALL
    SELECT b.c_custkey, b.c_name, b.c_nationkey, b.c_acctbal,
           b.c_mktsegment, 'unchanged' AS row_status
    FROM customer b
    WHERE NOT EXISTS (SELECT 1 FROM updates u
                      WHERE u.c_custkey = b.c_custkey)
    """,
)
def q_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert without a lakehouse format: updates ∪
    (base ANTI JOIN updates) — the CDC-apply pattern. At 100 TB both
    sides shuffle once on the key (or zero times if base is bucketed
    on it); with Delta/Iceberg on the classpath this becomes MERGE
    INTO (see docs/LAKEHOUSE.md)."""
    cust = load_table(spark, sf_dir, "customer")
    updates = cust.filter(F.col("c_custkey") % 10 == 0).withColumn(
        "c_acctbal", F.round(F.col("c_acctbal") + 1000.0, 2)
    )
    unchanged = cust.join(updates, "c_custkey", "left_anti")
    return updates.withColumn("row_status", F.lit("updated")).unionByName(
        unchanged.withColumn("row_status", F.lit("unchanged"))
    )


@register(
    "q_bucketed_join",
    oracle=f"""
    SELECT o_orderstatus,
           COUNT(*) AS n_items,
           {sql_dsum('l_extendedprice')} AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """,
)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-fact join through BUCKETED tables: both sides are
    written ``bucketBy(8, orderkey)``/``sortBy`` once, after which
    every join on the key is exchange-free (bucket co-location
    replaces the per-query shuffle — pay the shuffle once at write
    time, the decisive layout for repeated 100 TB fact joins;
    no-Exchange plan pinned in tests/test_bucketing.py). Results are
    identical to the plain join, which is exactly what the oracle
    checks.
    """
    out = tempfile.mkdtemp(prefix="mrss_bucketed_")
    cleanup_at_exit(out)  # keep the bucketed files until the DF is dead
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    (
        li.write.mode("overwrite")
        .option("path", os.path.join(out, "li"))
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .saveAsTable("mrss_li_bucketed")
    )
    (
        orders.write.mode("overwrite")
        .option("path", os.path.join(out, "ord"))
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable("mrss_ord_bucketed")
    )
    # Bind each bucketed relation ONCE: building the join condition
    # from separately looked-up DataFrame instances only resolves
    # because classic Spark caches the analyzed relation per name —
    # plan-id-based resolution (Spark Connect) rejects it.
    li_b = spark.table("mrss_li_bucketed")
    ord_b = spark.table("mrss_ord_bucketed")
    joined = li_b.join(ord_b, li_b.l_orderkey == ord_b.o_orderkey)
    return joined.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_items"),
        dsum("l_extendedprice").alias("revenue"),
    )


@register(
    "q_posexplode",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             {SQL_TOKS} AS toks
      FROM documents WHERE doc_id < 50
    ), e AS (
      SELECT doc_id, toks, unnest(range(len(toks))) AS i FROM t
    )
    SELECT doc_id, CAST(i AS INTEGER) AS pos, toks[i + 1] AS token FROM e
    """,
)
def q_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode: UDTF-style expansion with element ordinals."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    toks = word_tokens_col()
    return docs.select(
        "doc_id", F.posexplode(toks).alias("pos", "token")
    )


@register(
    "q_date_spine",
    oracle=f"""
    WITH months AS (
      SELECT CAST(unnest(generate_series(TIMESTAMP '1995-01-01',
                                         TIMESTAMP '2001-08-01',
                                         INTERVAL 1 MONTH)) AS TIMESTAMP)
               AS month_start
    ), agg AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS m,
             COUNT(*) AS n,
             {sql_dsum('o_totalprice')} AS total
      FROM orders GROUP BY 1
    )
    SELECT month_start,
           CAST(COALESCE(n, 0) AS BIGINT) AS n_orders,
           COALESCE(total, 0.0) AS total_price
    FROM months LEFT JOIN agg ON month_start = m
    """,
)
def q_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filling over a generated date spine: every month in the
    range appears, zero-filled where no orders exist (reporting
    pattern; the spine is generated with ``sequence`` — rows are
    born distributed, no driver loop)."""
    orders = load_table(spark, sf_dir, "orders")
    months = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01").cast("timestamp"),
                F.lit("2001-08-01").cast("timestamp"),
                F.expr("INTERVAL 1 MONTH"),
            )
        ).alias("month_start")
    )
    agg = orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("m")
    ).agg(F.count("*").alias("n"), dsum("o_totalprice").alias("total"))
    return months.join(agg, months.month_start == agg.m, "left").select(
        "month_start",
        F.coalesce("n", F.lit(0)).alias("n_orders"),
        F.coalesce("total", F.lit(0.0)).alias("total_price"),
    )


@register(
    "q_share_of_total",
    oracle=f"""
    WITH per_seg AS (
      SELECT c_mktsegment,
             {sql_dsum('o_totalprice')} AS seg_total
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment
    ), grand AS (
      SELECT CAST(SUM(CAST(seg_total AS DECIMAL(30,2))) AS DOUBLE)
               AS grand_total
      FROM per_seg
    )
    SELECT c_mktsegment, seg_total,
           round(seg_total / grand_total, 9) AS share
    FROM per_seg CROSS JOIN grand
    """,
)
def q_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total: per-segment revenue share.

    Scale note: a windowed ``sum() OVER ()`` would funnel everything
    through one partition; instead the grand total is a 1-row
    aggregate of the (tiny) per-segment result, broadcast back — no
    single-partition bottleneck at any scale.
    """
    orders = load_table(spark, sf_dir, "orders")
    # No broadcast hint on customer: it is SF-linear (150k rows x
    # SF; broadcast policy in tables.py) — AQE broadcasts at small
    # SF and shuffle-joins when customer outgrows the threshold.
    cust = load_table(spark, sf_dir, "customer")
    per_seg = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(dsum("o_totalprice").alias("seg_total"))
    )
    grand = per_seg.agg(
        F.sum(F.col("seg_total").cast("decimal(30,2)"))
        .cast("double")
        .alias("grand_total")
    )
    return per_seg.crossJoin(F.broadcast(grand)).select(
        "c_mktsegment",
        "seg_total",
        F.round(F.col("seg_total") / F.col("grand_total"), 9).alias("share"),
    )


@register(
    "q_corr",
    oracle=f"""
    WITH s AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             {sql_dsum('l_quantity')} AS sx,
             {sql_dsum('l_extendedprice')} AS sy,
             {sql_dsum('l_quantity * l_quantity', scale=6)} AS sxx,
             {sql_dsum('l_extendedprice * l_extendedprice', scale=6)} AS syy,
             {sql_dsum('l_quantity * l_extendedprice', scale=6)} AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           round((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
             AS corr_qty_price,
           round((n * sxy - sx * sy) / (n * (n - 1.0)), 6)
             AS covar_qty_price
    FROM s
    """,
)
def q_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + sample covariance from exact power sums
    (same reproducibility argument as q_stats_moments: the built-in
    corr/covar_samp accumulate doubles in shuffle order)."""
    li = load_table(spark, sf_dir, "lineitem")
    qty, price = F.col("l_quantity"), F.col("l_extendedprice")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        dsum(qty).alias("sx"),
        dsum(price).alias("sy"),
        dsum(qty * qty, scale=6).alias("sxx"),
        dsum(price * price, scale=6).alias("syy"),
        dsum(qty * price, scale=6).alias("sxy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return s.select(
        "l_returnflag",
        "n",
        F.round(
            (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("corr_qty_price"),
        F.round((n * sxy - sx * sy) / (n * (n - 1.0)), 6).alias(
            "covar_qty_price"
        ),
    )


@register(
    "q_histogram",
    oracle="""
    SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bin,
           COUNT(*) AS n,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key
    FROM orders
    GROUP BY 1
    """,
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram binning (floor-division bucketing — the
    portable form of width_bucket, and the same partial-aggregable
    shape at any scale)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.floor(F.col("o_totalprice") / 50000.0).alias("bin")
        )
        .agg(F.count("*").alias("n"), F.min("o_orderkey").alias("min_key"))
    )


# --- approximate sketches (no SQL oracle: HLL/KLL implementations
# differ across engines by design; the driver records rows-only) ----


@register(
    "q_approx_sketches",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT l_partkey) AS exact_parts,
           TRUE AS cd_within_3rsd,
           TRUE AS median_within_rank_bound
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) + percentile_approx
    (KLL-style) — the constant-memory cardinality/quantile path for
    100 TB where exact DISTINCT/percentile would shuffle everything.

    Sketch values are engine-specific, so they cannot be
    hash-compared across engines; the verifiable claims are their
    ERROR BOUNDS. The query returns exact references plus boolean
    bound checks — ``|approx_cd - exact| <= 3·rsd·exact`` (3σ of the
    HLL++ estimator) and ``percentile_approx`` within the exact
    [0.499, 0.501]-quantile envelope (10× the 1/accuracy=1e-4 rank
    error) — and the oracle asserts the same exact values with
    literal TRUE bounds. Unverified ≠ unverifiable.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # The exact COUNT(DISTINCT) runs as its OWN aggregate and joins
    # back on the 3-row group key (round 15, measured): mixing one
    # DISTINCT aggregate with the percentile aggregates makes the
    # distinct rewrite evaluate every non-distinct aggregate's
    # partial per (l_returnflag, l_partkey) pair — ~200k growing
    # percentile value buffers merged per group — 18-25 s at sf0.1
    # where the two split aggregates take ~1.5 s combined. Values
    # are identical; only the aggregation plan changes.
    exact_cd = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("exact_parts")
    )
    sketches = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("apx_cd"),
        F.percentile_approx(
            "l_extendedprice", F.lit(0.5), F.lit(10000)
        ).alias("apx_med"),
        F.expr("percentile(l_extendedprice, 0.499)").alias("med_lo"),
        F.expr("percentile(l_extendedprice, 0.501)").alias("med_hi"),
    )
    agg = sketches.join(exact_cd, "l_returnflag")
    return agg.select(
        "l_returnflag",
        "n_rows",
        "exact_parts",
        (
            F.abs(F.col("apx_cd") - F.col("exact_parts"))
            <= 3 * 0.01 * F.col("exact_parts")
        ).alias("cd_within_3rsd"),
        (
            (F.col("apx_med") >= F.col("med_lo"))
            & (F.col("apx_med") <= F.col("med_hi"))
        ).alias("median_within_rank_bound"),
    )


# --- connector round-trips --------------------------------------------------


def _roundtrip(
    spark: SparkSession, df: DataFrame, fmt: str, **reader_opts
) -> DataFrame:
    """Write df in `fmt`, read it back with the explicit schema —
    exercising the writer+reader pair end to end."""
    tmp = tempfile.mkdtemp(prefix=f"mrss_{fmt}_")
    # register BEFORE the eager write: a failed write must still
    # leave the dir on the atexit purge list (files stay alive until
    # interpreter exit either way, so the returned DF is unaffected)
    cleanup_at_exit(tmp)
    path = os.path.join(tmp, "data")
    df.write.mode("overwrite").format(fmt).options(**reader_opts).save(path)
    return (
        spark.read.format(fmt)
        .options(**reader_opts)
        .schema(df.schema)
        .load(path)
    )


@register(
    "q_csv_roundtrip",
    oracle=f"""
    SELECT p_brand, COUNT(*) AS n, {sql_dsum('p_retailprice')} AS total
    FROM part GROUP BY p_brand
    """,
)
def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink+source round-trip: aggregate after the round-trip must
    equal the aggregate on the parquet original."""
    part = load_table(spark, sf_dir, "part").select(
        "p_brand", "p_retailprice"
    )
    back = _roundtrip(spark, part, "csv", header="true")
    return back.groupBy("p_brand").agg(
        F.count("*").alias("n"), dsum("p_retailprice").alias("total")
    )


@register(
    "q_json_roundtrip",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(30,2))) AS DOUBLE) AS total_bal
    FROM customer GROUP BY c_mktsegment
    """,
)
def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink+source round-trip."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_mktsegment", "c_acctbal"
    )
    back = _roundtrip(spark, cust, "json")
    return back.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"), dsum("c_acctbal").alias("total_bal")
    )


@register(
    "q_orc_roundtrip",
    oracle="""
    SELECT n_regionkey, COUNT(*) AS n_nations
    FROM nation GROUP BY n_regionkey
    """,
)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink+source round-trip."""
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    back = _roundtrip(spark, nation, "orc")
    return back.groupBy("n_regionkey").agg(F.count("*").alias("n_nations"))


@register(
    "q_cdc_apply",
    oracle="""
    WITH changelog AS (
      SELECT o_custkey AS key, o_orderdate AS ts, o_orderkey AS seq,
             CASE WHEN o_orderkey % 19 = 0 THEN 'D' ELSE 'U' END AS op,
             o_totalprice AS payload
      FROM orders
    ),
    latest AS (
      SELECT key, op, payload, n_ops FROM (
        SELECT key, op, payload,
               ROW_NUMBER() OVER (PARTITION BY key
                                  ORDER BY ts DESC, seq DESC) AS rn,
               COUNT(*) OVER (PARTITION BY key) AS n_ops
        FROM changelog) t
      WHERE rn = 1
    )
    SELECT c.c_custkey, c.c_name,
           l.payload AS last_price,
           CAST(l.n_ops AS BIGINT) AS n_ops
    FROM customer c JOIN latest l ON c.c_custkey = l.key
    WHERE l.op <> 'D'
    """,
)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog application — the engine-level core of a MERGE /
    lakehouse upsert-delete (docs/LAKEHOUSE.md): given an ordered
    stream of Update/Delete ops per key, the latest op wins; keys
    whose latest op is a delete drop out of the snapshot.

    One window pass over the changelog (ordered by event time with a
    unique sequence tie-break — engine-independent winner), then one
    join against the snapshot. At 100 TB the changelog shuffles once
    on key; the snapshot join is the same shuffle, so AQE can reuse
    the exchange. The changelog here is synthesized deterministically
    from ``orders`` (every 19th order a delete) so the oracle replays
    it exactly.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    changelog = orders.select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderdate").alias("ts"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderkey") % 19 == 0, "D").otherwise("U").alias("op"),
        F.col("o_totalprice").alias("payload"),
    )
    w = Window.partitionBy("key").orderBy(F.desc("ts"), F.desc("seq"))
    wc = Window.partitionBy("key")
    latest = (
        changelog.withColumn("rn", F.row_number().over(w))
        .withColumn("n_ops", F.count("*").over(wc))
        .filter(F.col("rn") == 1)
    )
    return (
        cust.join(latest, cust.c_custkey == latest.key)
        .filter(F.col("op") != "D")
        .select(
            "c_custkey",
            "c_name",
            F.col("payload").alias("last_price"),
            F.col("n_ops").cast("bigint").alias("n_ops"),
        )
    )


@register(
    "q_time_rollup",
    oracle=f"""
    SELECT 'hour' AS grain, date_trunc('hour', ts) AS bucket,
           COUNT(*) AS n_events, {sql_dsum('value')} AS total_value
    FROM events GROUP BY 2
    UNION ALL
    SELECT 'day', date_trunc('day', ts),
           COUNT(*), {sql_dsum('value')}
    FROM events GROUP BY 2
    UNION ALL
    SELECT 'month', date_trunc('month', ts),
           COUNT(*), {sql_dsum('value')}
    FROM events GROUP BY 2
    """,
)
def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical time rollup (the hypertable continuous-aggregate
    cascade): hour → day → month, where each coarser grain is
    aggregated FROM the next finer one, never from raw events.

    The raw table is scanned once (hourly grain); day sums hourly
    rows (24× fewer), month sums daily rows — at 100 TB the cascade
    aggregates ~1/24th then ~1/30th of the previous level instead of
    rescanning the fact three times like the oracle's UNION ALL. The
    sums stay DECIMAL through the cascade (associative → identical to
    direct aggregation, which is exactly what the oracle computes)
    and are cast to double only at the output edge.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("bucket"),
        # checked: a NaN/Inf/overflow value must raise like the
        # oracle's cast, not silently vanish from the cascade sums
        checked_decimal(F.col("value"), 2).alias("v"),
    )
    # kept: the hour, day and month branches all read hourly; uncut the
    # plan scans events three times (test_plans.py pins one scan)
    hourly = ev.groupBy("bucket").agg(
        F.count("*").alias("n_events"), F.sum("v").alias("sv")
    ).transform(stage_cut)
    daily = (
        hourly.groupBy(F.date_trunc("day", "bucket").alias("bucket"))
        .agg(F.sum("n_events").alias("n_events"), F.sum("sv").alias("sv"))
    )
    monthly = (
        daily.groupBy(F.date_trunc("month", "bucket").alias("bucket"))
        .agg(F.sum("n_events").alias("n_events"), F.sum("sv").alias("sv"))
    )
    def _finish(df: DataFrame, grain: str) -> DataFrame:
        return df.select(
            F.lit(grain).alias("grain"),
            "bucket",
            F.col("n_events").cast("bigint").alias("n_events"),
            F.col("sv").cast("double").alias("total_value"),
        )
    return (
        _finish(hourly, "hour")
        .unionByName(_finish(daily, "day"))
        .unionByName(_finish(monthly, "month"))
    )


@register(
    "q_funnel",
    oracle="""
    WITH seq AS (
      SELECT user_id,
             string_agg(CASE event_type
                          WHEN 'signup' THEN 's' WHEN 'click' THEN 'c'
                          WHEN 'view' THEN 'v' WHEN 'purchase' THEN 'p'
                          ELSE 'e' END, ''
                        ORDER BY ts, event_id) AS path
      FROM events WHERE ts IS NOT NULL GROUP BY user_id
    )
    SELECT
      CASE WHEN regexp_matches(path, 's.*c.*v.*p') THEN 4
           WHEN regexp_matches(path, 's.*c.*v') THEN 3
           WHEN regexp_matches(path, 's.*c') THEN 2
           WHEN regexp_matches(path, 's') THEN 1
           ELSE 0 END AS stage_reached,
      COUNT(*) AS n_users
    FROM seq GROUP BY 1
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis (sequence detection): how far does each user
    get through signup → click → view → purchase, where stages must
    occur in event-time order but arbitrary events may interleave?

    Each user's event-type sequence (time-ordered with the unique
    event_id tie-break) is compacted to a one-char-per-event string,
    and funnel membership is a subsequence regex — the MATCH_RECOGNIZE
    pattern expressed portably. One shuffle on user_id; the per-user
    string is bounded by the user's event count, and the regexes run
    JVM-side inside codegen.
    """
    # NULL-ts guard shared with the oracle's WHERE: Spark sorts
    # NULLS FIRST, DuckDB NULLS LAST, so an unfiltered NULL-ts event
    # would land at opposite ends of the path string per engine.
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    initial = (
        F.when(F.col("event_type") == "signup", "s")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "purchase", "p")
        .otherwise("e")
    )
    seq = (
        ev.select("user_id", "ts", "event_id", initial.alias("ch"))
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                "",
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "ch"))
                ).getField("ch"),
            ).alias("path")
        )
    )
    stage = (
        F.when(F.col("path").rlike("s.*c.*v.*p"), 4)
        .when(F.col("path").rlike("s.*c.*v"), 3)
        .when(F.col("path").rlike("s.*c"), 2)
        .when(F.col("path").rlike("s"), 1)
        .otherwise(0)
    )
    return (
        seq.select(stage.alias("stage_reached"))
        .groupBy("stage_reached")
        .agg(F.count("*").alias("n_users"))
    )


@register(
    "q_gap_islands",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id,
             epoch_us(ts) // 86400000000 AS d
      FROM events
    ),
    islands AS (
      SELECT user_id, d,
             d - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
               AS island
      FROM days
    ),
    runs AS (
      SELECT user_id, island, COUNT(*) AS len
      FROM islands GROUP BY user_id, island
    )
    SELECT user_id, COUNT(*) AS n_streaks,
           CAST(MAX(len) AS BIGINT) AS longest_streak
    FROM runs GROUP BY user_id
    """,
)
def q_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: per-user activity streaks (runs of
    consecutive active days). The classic trick — day_number minus
    row_number is constant within a consecutive run — turns streak
    detection into a plain groupBy, no self-join or iteration.
    Day numbers are integer epoch-days so both engines bucket
    identically; one shuffle on user_id serves the distinct, the
    window, and both aggregations (same key throughout)."""
    ev = load_table(spark, sf_dir, "events")
    # Pure epoch arithmetic (not date_trunc): day bucketing must not
    # depend on the session timezone — the grading driver's vanilla
    # session may not pin UTC.
    days = ev.select(
        "user_id",
        F.expr("unix_micros(ts) div 86400000000").alias("d"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    islands = days.withColumn(
        "island", F.col("d") - F.row_number().over(w)
    )
    runs = islands.groupBy("user_id", "island").agg(
        F.count("*").alias("len")
    )
    return runs.groupBy("user_id").agg(
        F.count("*").alias("n_streaks"),
        F.max("len").cast("bigint").alias("longest_streak"),
    )


@register(
    "q_retention_cohorts",
    oracle="""
    WITH weeks AS (
      SELECT DISTINCT user_id,
             epoch_us(ts) // 604800000000 AS w
      FROM events
    ),
    cohorts AS (
      SELECT user_id, w,
             MIN(w) OVER (PARTITION BY user_id) AS cohort_week
      FROM weeks
    )
    SELECT cohort_week, w - cohort_week AS week_offset,
           COUNT(*) AS n_users
    FROM cohorts GROUP BY 1, 2
    """,
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity week,
    counted in each subsequent week they return — the standard
    retention triangle. One shuffle on user_id serves the distinct,
    the cohort-min window, and the count rides the (already tiny)
    cohort×offset key. Week bucketing is pure epoch arithmetic
    (timezone-independent)."""
    ev = load_table(spark, sf_dir, "events")
    weeks = ev.select(
        "user_id",
        F.expr("unix_micros(ts) div 604800000000").alias("w"),
    ).distinct()
    w_user = Window.partitionBy("user_id")
    cohorts = weeks.withColumn("cohort_week", F.min("w").over(w_user))
    return (
        cohorts.select(
            "cohort_week", (F.col("w") - F.col("cohort_week")).alias("week_offset")
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count("*").alias("n_users"))
    )


@register(
    "q_equidepth_histogram",
    oracle=f"""
    WITH c AS (
      SELECT GREATEST(1, COUNT(*) // 10000) AS md FROM orders),
    s AS (
      SELECT o_totalprice AS p, o_orderkey AS k FROM orders, c
      WHERE {sql_md5_long("'eqd:' || CAST(o_orderkey AS VARCHAR)")} % c.md = 0),
    r AS (
      SELECT p, k, ROW_NUMBER() OVER (ORDER BY p, k) AS rn,
             COUNT(*) OVER () AS m
      FROM s),
    b AS (
      SELECT DISTINCT r.p, r.k
      FROM r, (SELECT unnest(generate_series(1, 9)) AS i) ix
      WHERE r.rn = (ix.i * r.m) // 10),
    a AS (
      SELECT o.o_totalprice AS p, o.o_orderkey AS k,
             1 + (SELECT COUNT(*) FROM b
                  WHERE b.p < o.o_totalprice
                     OR (b.p = o.o_totalprice AND b.k < o.o_orderkey))
               AS bucket
      FROM orders o)
    SELECT bucket, COUNT(*) AS n_rows,
           MIN(p) AS lo, MAX(p) AS hi,
           {sql_dsum('p')} AS total
    FROM a GROUP BY bucket
    """,
)
def q_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (≈equal-count) histogram over order values, built
    the way a 100 TB engine has to build it: boundaries come from a
    DETERMINISTIC COUNT-BOUNDED hash sample — the gate is
    ``md5(o_orderkey) % greatest(1, n div 10000) == 0`` with n from a
    cheap broadcast 1-row count aggregate, so the expected sample
    stays under 20k rows whenever n ≥ 20k (worst case just below a
    gate step) and is the — already tiny — table itself below that:
    bounded in ABSOLUTE terms at any corpus size, where a fixed-rate
    sample would be 2 TB of a 100 TB table through one sort task.
    Only that bounded sample is ranked (the same trick a
    range-partitioner's sampler uses), the 9 boundary (price, key)
    pairs at positions floor(i·m/10) are folded into a single
    broadcast array row, and every row buckets itself with a codegen
    ``size(filter(...))`` over that array — full-table work is one
    count + one scan + one 10-key aggregate, NO global sort of the
    table. The integer hash gate (not TABLESAMPLE) is mirrored in the
    DuckDB oracle so both engines' boundaries are bit-identical and
    the oracle value-checks the whole pipeline. Boundary ties break
    on the unique o_orderkey, making bucket assignment
    total-order-stable on every engine. The NTILE-exact profiling
    twin lives at ``q_equidepth_histogram_exact``."""
    orders = load_table(spark, sf_dir, "orders")
    h = md5_long(F.concat(F.lit("eqd:"), F.col("o_orderkey").cast("string")))
    cnt = orders.agg(F.count("*").alias("n_total_rows"))
    gate = F.greatest(
        F.lit(1).cast("bigint"), F.expr("n_total_rows div 10000")
    )
    s = (
        orders.crossJoin(F.broadcast(cnt))
        .filter((h % gate) == 0)
        .select(F.col("o_totalprice").alias("p"), F.col("o_orderkey").alias("k"))
    )
    ranked = s.select(
        "p",
        "k",
        F.row_number().over(Window.orderBy("p", "k")).alias("rn"),
        F.expr("count(*) over ()").alias("m"),
    )
    bounds = ranked.filter(
        F.expr("array_contains(transform(sequence(1, 9), i -> (i * m) div 10), rn)")
    )
    barr = bounds.agg(
        F.sort_array(F.collect_list(F.struct("p", "k"))).alias("bs")
    )
    below = F.size(
        F.filter(
            F.col("bs"),
            lambda b: (b["p"] < F.col("o_totalprice"))
            | (
                (b["p"] == F.col("o_totalprice"))
                & (b["k"] < F.col("o_orderkey"))
            ),
        )
    )
    return (
        orders.crossJoin(F.broadcast(barr))
        .withColumn("bucket", (F.lit(1) + below).cast("bigint"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            dsum("o_totalprice").alias("total"),
        )
    )


@register(
    "q_equidepth_histogram_exact",
    oracle=f"""
    WITH buckets AS (
      SELECT o_totalprice,
             NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
      FROM orders
    )
    SELECT bucket, COUNT(*) AS n_rows,
           MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
           {sql_dsum('o_totalprice')} AS total
    FROM buckets GROUP BY bucket
    """,
)
def q_equidepth_histogram_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT equi-depth histogram via NTILE — the profiling twin of
    ``q_equidepth_histogram``. The window ORDER BY ends in the unique
    o_orderkey so rows tied on price land in the same bucket on every
    engine. This variant DELIBERATELY plans a global sort (NTILE over
    the whole table collapses to one range-sorted partition): keep it
    for exact small-table profiling; the registered sampled-boundary
    variant is the 100 TB path."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return (
        orders.withColumn("bucket", F.ntile(10).over(w))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            dsum("o_totalprice").alias("total"),
        )
    )


# ---------------------------------------------------------------------------
# Gap-based event debounce (burst leading-edge thinning)
# ---------------------------------------------------------------------------


@register(
    "q_debounce_events",
    oracle="""
    WITH flagged AS (
      SELECT event_id, user_id, event_type, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id, event_type
                                     ORDER BY ts, event_id) IS NULL
                  OR ts > lag(ts) OVER (PARTITION BY user_id, event_type
                                        ORDER BY ts, event_id)
                       + INTERVAL 10 MINUTE
                  THEN 1 ELSE 0 END AS is_leader
      FROM events WHERE ts IS NOT NULL)
    SELECT event_id, user_id, event_type, ts
    FROM flagged WHERE is_leader = 1
    """,
)
def q_debounce_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst thinning: keep only the LEADING event of every activity
    burst per (user, event_type) — an event survives iff the previous
    same-key event is more than 10 minutes older (or absent). The
    ingest-side duplicate-storm guard (retry storms, double-clicks)
    that runs before any content-level dedup.

    One window shuffle on (user_id, event_type) with an event_id
    tie-break — per-key partitions stay small at any corpus size, so
    this is embarrassingly parallel at 100 TB. (Within a burst every
    event is suppressed even when the burst outlasts the window —
    inactivity-gap semantics, same family as q_sessionize.)
    """
    # The gap recurrence (NULL-ts drop, strict > compare, (ts,
    # event_id) tie-break) is the shared sessionizer's, at the
    # (user_id, event_type) grain — burst leader == session opener.
    ev = load_table(spark, sf_dir, "events")
    flagged = session_flags(
        ev, "INTERVAL 10 MINUTES", keys=("user_id", "event_type")
    )
    return flagged.filter(F.col("is_new") == 1).select(
        "event_id", "user_id", "event_type", "ts"
    )


# ---------------------------------------------------------------------------
# LOCF gap-fill onto a daily spine (timeseries backfill)
# ---------------------------------------------------------------------------


@register(
    "q_locf_gapfill",
    oracle="""
    WITH bounds AS (
      SELECT CAST(MIN(date_trunc('day', ts)) AS TIMESTAMP) AS d0,
             CAST(MAX(date_trunc('day', ts)) AS TIMESTAMP) AS d1
      FROM events),
    spine AS (
      SELECT u.user_id, CAST(g.d AS TIMESTAMP) + INTERVAL 1 DAY
               - INTERVAL 1 MICROSECOND AS probe_ts,
             CAST(g.d AS TIMESTAMP) AS day
      FROM (SELECT DISTINCT user_id FROM events) u
      CROSS JOIN (SELECT unnest(generate_series(
                    (SELECT d0 FROM bounds), (SELECT d1 FROM bounds),
                    INTERVAL 1 DAY)) AS d) g),
    tagged AS (
      SELECT user_id, ts, value, NULL AS day, event_id,
             1 AS is_event FROM events WHERE ts IS NOT NULL
      UNION ALL
      SELECT user_id, probe_ts AS ts, NULL AS value, day,
             NULL AS event_id, 0 AS is_event FROM spine),
    filled AS (
      SELECT user_id, day, is_event,
             last_value(value IGNORE NULLS) OVER (
               PARTITION BY user_id
               ORDER BY ts, is_event DESC, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS locf_value
      FROM tagged)
    SELECT user_id, day, round(locf_value, 6) AS locf_value
    FROM filled WHERE is_event = 0
    """,
)
def q_locf_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward gap-fill: for every user and
    every day of the corpus span, the value of the user's most recent
    event at or before that day's end (NULL until the first event).
    The timeseries backfill that turns sparse event streams into a
    dense daily panel for training.

    Plan: the daily spine (users x days — tiny vs the event stream) is
    UNIONed under the events and a single per-user ordered window
    carries values forward past the probe rows; probe rows are then
    kept. One window shuffle on user_id; the (ts, is_event DESC,
    event_id) order is total, so same-instant ties resolve
    identically on every engine.
    """
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("day", F.min("ts")).alias("d0"),
        F.date_trunc("day", F.max("ts")).alias("d1"),
    )
    days = bounds.select(
        F.explode(
            F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))
        ).alias("day")
    )
    users = ev.select("user_id").distinct()
    spine = users.crossJoin(F.broadcast(days)).select(
        "user_id",
        (
            F.col("day") + F.expr("INTERVAL 1 DAY") - F.expr("INTERVAL 1 MICROSECOND")
        ).alias("ts"),
        "day",
        F.lit(None).cast("double").alias("value"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(0).alias("is_event"),
    )
    # NULL-ts guard mirrored in the oracle's events leg: a NULL-ts
    # event sorts BEFORE every probe in Spark (nulls first) but after
    # them in DuckDB (nulls last), so its value would seed days
    # preceding the user's first real event on one engine only.
    tagged = ev.filter(F.col("ts").isNotNull()).select(
        "user_id", "ts", "value",
        F.lit(None).cast("timestamp").alias("day"),
        "event_id", F.lit(1).alias("is_event"),
    ).unionByName(spine)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", F.desc("is_event"), "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = tagged.withColumn(
        "locf_value", F.last("value", ignorenulls=True).over(w)
    )
    return filled.filter(F.col("is_event") == 0).select(
        "user_id", "day", F.round("locf_value", 6).alias("locf_value")
    )


# ---------------------------------------------------------------------------
# Session concurrency (sweep line over session intervals)
# ---------------------------------------------------------------------------


@register(
    "q_session_concurrency",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) IS NULL
                  OR ts > lag(ts) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id)
                       + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WHERE ts IS NOT NULL),
    numbered AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_no
      FROM ordered),
    sessions AS (
      SELECT user_id, session_no, MIN(ts) AS s_start, MAX(ts) AS s_end
      FROM numbered GROUP BY user_id, session_no),
    deltas AS (
      SELECT s_start AS t, 1 AS delta, user_id, session_no FROM sessions
      UNION ALL
      SELECT s_end + INTERVAL 1 MICROSECOND, -1, user_id, session_no
      FROM sessions),
    swept AS (
      SELECT t,
             SUM(delta) OVER (ORDER BY t, delta DESC, user_id, session_no
                              ROWS UNBOUNDED PRECEDING) AS concurrent
      FROM deltas)
    SELECT CAST(date_trunc('hour', t) AS TIMESTAMP) AS hour,
           CAST(MAX(concurrent) AS BIGINT) AS peak_concurrent
    FROM swept GROUP BY 1
    """,
)
def q_session_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per hour, sweep-line formulation:
    sessionize (30-min gap), emit +1 at session start and -1 just
    after session end, prefix-sum the deltas in time order, take the
    per-hour max. The capacity-planning / load-profile query interval
    data always needs.

    The prefix sum is TWO-PASS RANGE-PARTITIONED — no global window
    anywhere in the plan:

    1. within-hour running sum: window PARTITIONED BY the hour bucket,
       ordered by the total key (t, delta DESC, user, session) so ties
       are engine-exact. The global running sum at any change point =
       carry into its hour + this local run.
    2. per-hour carry: hours aggregate to (hour, hour_sum, local_max)
       — one row per hour WITH change points, bounded by the TIME
       DOMAIN (#hours in the corpus' span), not data volume. The
       carry recurrence splits again: a within-YEAR prefix window
       (partitioned by year) plus a prior-years fold over a broadcast
       single-row array of year totals (≤ #years entries, pure
       ``aggregate(filter(...))`` codegen — no window, no driver
       collect).

    peak(hour) = prior_years_carry + within_year_carry + local_max.
    All sums are integer-exact, so the result is bit-identical to the
    single-window oracle formulation at any partitioning.
    """
    ev = load_table(spark, sf_dir, "events")
    sessions = session_spans(ev)
    starts = sessions.select(
        F.col("s_start").alias("t"), F.lit(1).alias("delta"),
        "user_id", "session_no",
    )
    ends = sessions.select(
        (F.col("s_end") + F.expr("INTERVAL 1 MICROSECOND")).alias("t"),
        F.lit(-1).alias("delta"), "user_id", "session_no",
    )
    deltas = starts.unionByName(ends).withColumn(
        "hour", F.date_trunc("hour", "t")
    )
    # Pass 1: running sum WITHIN each hour partition (total tie order).
    wlocal = Window.partitionBy("hour").orderBy(
        "t", F.desc("delta"), "user_id", "session_no"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local = deltas.withColumn("local_run", F.sum("delta").over(wlocal))
    # One row per hour: the hour's net delta and its local running max.
    # kept: the output rows and the year carry both read hours; uncut
    # the sessionize pipeline (scan + two user windows) runs twice
    hours = local.groupBy("hour").agg(
        F.sum("delta").alias("hour_sum"),
        F.max("local_run").alias("local_max"),
    ).transform(stage_cut)
    # Pass 2a: carry from earlier hours of the SAME year (partitioned).
    hours = hours.withColumn("yr", F.year("hour"))
    wyear = Window.partitionBy("yr").orderBy("hour").rowsBetween(
        Window.unboundedPreceding, -1
    )
    hours = hours.withColumn(
        "carry_in_year",
        F.coalesce(F.sum("hour_sum").over(wyear), F.lit(0)),
    )
    # Pass 2b: carry from all PRIOR years — a broadcast single-row
    # array of (yr, total) folded with codegen aggregate/filter.
    year_totals = hours.groupBy("yr").agg(F.sum("hour_sum").alias("ysum"))
    yarr = year_totals.agg(
        F.sort_array(F.collect_list(F.struct("yr", "ysum"))).alias("ys")
    )
    prior = F.aggregate(
        F.filter(F.col("ys"), lambda y: y["yr"] < F.col("yr")),
        F.lit(0).cast("bigint"),
        lambda acc, y: acc + y["ysum"],
    )
    return (
        hours.crossJoin(F.broadcast(yarr))
        .select(
            "hour",
            (prior + F.col("carry_in_year") + F.col("local_max"))
            .cast("bigint")
            .alias("peak_concurrent"),
        )
    )


# ---------------------------------------------------------------------------
# Temperature-scaled domain mixture (uniform <- alpha -> natural)
# ---------------------------------------------------------------------------

_MIX_ALPHA = 0.5  # 1.0 = natural proportions, 0.0 = uniform


@register(
    "q_mixture_temperature",
    oracle=f"""
    WITH counts AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_source
      FROM documents GROUP BY source),
    tot AS (SELECT CAST(SUM(n_source) AS BIGINT) AS n_total,
                   SUM(POWER(CAST(n_source AS DOUBLE), {_MIX_ALPHA}))
                     AS z FROM counts),
    quota AS (
      SELECT source, n_source,
             CAST(FLOOR((SELECT n_total FROM tot) / 2.0
                        * POWER(CAST(n_source AS DOUBLE), {_MIX_ALPHA})
                        / (SELECT z FROM tot)) AS BIGINT) AS n_keep
      FROM counts)
    SELECT d.doc_id, d.source
    FROM documents d JOIN quota USING (source)
    WHERE {{h}} % n_source < LEAST(n_keep, n_source)
    """.replace(
        "{h}", sql_md5_long("'temp:' || CAST(d.doc_id AS VARCHAR)")
    ),
)
def q_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture resampling: thin each source toward
    quota ∝ n_source^α (α=0.5 — the multilingual-pretraining standard
    for up-weighting small domains without flattening completely),
    targeting half the corpus. The keep decision is the same exact
    integer hash gate as q_domain_mixture (``md5 % n_source <
    quota``), so membership is deterministic under any partitioning;
    quotas come from one tiny broadcast aggregate. The float part
    (POWER, one divide, FLOOR) runs on identical doubles in any
    engine, so quota boundaries are bit-stable too.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count("*").alias("n_source"))
    tot = counts.agg(
        F.sum("n_source").alias("n_total"),
        F.sum(F.pow(F.col("n_source").cast("double"), F.lit(_MIX_ALPHA)))
        .alias("z"),
    )
    quota = (
        counts.join(F.broadcast(tot))
        .select(
            "source",
            "n_source",
            F.floor(
                F.col("n_total") / F.lit(2.0)
                * F.pow(F.col("n_source").cast("double"), F.lit(_MIX_ALPHA))
                / F.col("z")
            ).cast("bigint").alias("n_keep"),
        )
    )
    h = md5_long(F.concat(F.lit("temp:"), F.col("doc_id").cast("string")))
    return (
        docs.join(F.broadcast(quota), "source")
        .filter(h % F.col("n_source") < F.least("n_keep", "n_source"))
        .select("doc_id", "source")
    )


# ---------------------------------------------------------------------------
# Hive-partitioned layout write + partition-pruned read
# ---------------------------------------------------------------------------


@register(
    "q_partitioned_layout",
    oracle="""
    SELECT EXTRACT(YEAR FROM o_orderdate) AS o_year, o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total
    FROM orders
    WHERE EXTRACT(YEAR FROM o_orderdate) IN (1996, 1997)
    GROUP BY 1, 2
    """,
)
def q_partitioned_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned layout round-trip: orders written
    hive-partitioned by order year (``.write.partitionBy("o_year")``),
    then read back with a year predicate that must prune to 2 of the
    7 year directories — the layout decision that turns a 100 TB scan
    into a per-partition scan. Directory pruning (PartitionFilters,
    zero rows read outside the selected years) is pinned in
    ``tests/test_plans.py::test_partitioned_layout_prunes``.

    The year column is materialized at WRITE time (partition values
    live in directory names, not data files), so the read-side filter
    is a pure metadata operation. The aggregate after the round-trip
    must equal the direct aggregate — the oracle never sees the
    intermediate layout.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus",
        "o_totalprice",
        F.year("o_orderdate").cast("long").alias("o_year"),
    )
    tmp = tempfile.mkdtemp(prefix="mrss_partlayout_")
    # register BEFORE the eager write (see _roundtrip): a failed
    # write must still leave the dir on the atexit purge list
    cleanup_at_exit(tmp)
    path = os.path.join(tmp, "data")
    orders.write.mode("overwrite").partitionBy("o_year").parquet(path)
    return (
        spark.read.parquet(path)
        .filter(F.col("o_year").isin(1996, 1997))
        .groupBy("o_year", "o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            dsum("o_totalprice").alias("total"),
        )
    )


# Oracle for q_zorder_layout below (registered round 13): the layout is
# invisible to the oracle — a Z-order rewrite must never change
# answers, only which files a predicate touches.
_ZORDER_LAYOUT_ORACLE = f"""
SELECT o_orderstatus, COUNT(*) AS n,
       {sql_dsum('o_totalprice')} AS total
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND o_totalprice >= 100000.0 AND o_totalprice < 250000.0
GROUP BY o_orderstatus
"""


@register("q_zorder_layout", oracle=_ZORDER_LAYOUT_ORACLE)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout round-trip: orders rewritten range-partitioned
    on the Morton interleave of (order day, price bucket), then read
    back under a TWO-DIMENSION predicate — the multi-key sibling of
    :func:`q_partitioned_layout` and the gate query for the round-11
    layout writer (``io/zorder.py``; the file-level pruning property
    itself is measured from parquet footers in
    ``tests/test_zorder.py``). At 100 TB the rewrite is one
    repartitionByRange shuffle paid once; afterwards EVERY query
    filtering on either dimension scans ~sqrt of the files instead
    of all of them.

    Key derivation is scale-stable and stateless: days since the
    corpus epoch (1995-01-01; < 4096 for the synthetic date range)
    and a uniform price bucket over the [0, 600k) envelope — both
    inside the 12-bit key domain at every SF, so rewrites are
    idempotent as the table grows. CORPUS DATE CEILING: the 12-bit
    day key covers 1995-01-01 .. 2006-03-18 (epoch + 4095 days); the
    synthetic orders corpus tops out at 2001-08 (verified at every
    SF: max(o_orderdate) = 2001-08-01, 2404 days past epoch), and
    ``z_value_n`` raises loudly — never wraps — on an out-of-range
    key, so a data refresh past the ceiling fails the rewrite
    visibly rather than silently mis-clustering. Widen ``bits``
    alongside any such refresh. Staged in round 12, registered
    round 13.
    """
    from map_reduce_server_spark.io.zorder import (
        uniform_bucket,
        write_zordered,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1995-01-01").cast("date"),
        ).alias("day_key"),
        uniform_bucket("o_totalprice", 0.0, 600000.0, bits=12).alias(
            "price_bucket"
        ),
    )
    tmp = tempfile.mkdtemp(prefix="mrss_zorderlayout_")
    cleanup_at_exit(tmp)
    path = os.path.join(tmp, "data")
    write_zordered(orders, path, ["day_key", "price_bucket"], n_files=8, bits=12)
    return (
        spark.read.parquet(path)
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_totalprice") >= 100000.0)
            & (F.col("o_totalprice") < 250000.0)
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            dsum("o_totalprice").alias("total"),
        )
    )


# ---------------------------------------------------------------------------
# Rolling 7-day active users (sliding distinct via contribution explode)
# ---------------------------------------------------------------------------


@register(
    "q_rolling_active_users",
    oracle="""
    WITH contrib AS (
      SELECT DISTINCT
             CAST(date_trunc('day', ts) AS TIMESTAMP)
               + to_days(CAST(o.off AS INTEGER)) AS day,
             user_id
      FROM events
      CROSS JOIN (SELECT unnest(range(7)) AS off) o),
    days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP)
                    AS day FROM events)
    SELECT c.day, CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS wau
    FROM contrib c JOIN days d ON c.day = d.day
    GROUP BY c.day
    """,
)
def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling distinct active users per day. Sliding-window
    COUNT(DISTINCT) has no incremental form (distinct doesn't
    subtract), so the scalable formulation EXPLODES each (user, day)
    activity into the 7 window-end days it contributes to, dedups,
    and counts — shuffle volume is 7x the daily-active pairs (tiny vs
    raw events), never a per-day rescan of the event log. Days with
    no events anchor no window (joined back to observed days only).
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    ).distinct()
    contrib = daily.select(
        F.explode(
            F.sequence(
                F.col("day"),
                F.col("day") + F.expr("INTERVAL 6 DAYS"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day"),
        "user_id",
    ).distinct()
    days = daily.select("day").distinct()
    return (
        contrib.join(days, "day", "left_semi")
        .groupBy("day")
        .agg(F.count_distinct("user_id").alias("wau"))
    )


# ---------------------------------------------------------------------------
# Event-type transition matrix (sequence bigram model)
# ---------------------------------------------------------------------------


@register(
    "q_event_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events WHERE ts IS NOT NULL),
    pairs AS (
      SELECT event_type AS from_type, next_type AS to_type,
             COUNT(*) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY 1, 2)
    SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
           round(CAST(n AS DOUBLE) /
                 SUM(n) OVER (PARTITION BY from_type), 6) AS p
    FROM pairs
    """,
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: bigram counts via one lead() window, row-normalized to
    probabilities. The sequence-model summary (and data-drift check)
    for behavioral event streams.

    Scale: one window shuffle on user_id for the bigrams, one
    aggregate on (from, to) — the matrix is |types|² rows; the
    normalizing window runs over that tiny aggregate, not the events.
    """
    # NULL-ts guard mirrored in the oracle: NULLS FIRST vs LAST
    # would place a NULL-ts event at opposite sequence ends, flipping
    # its bigram pairs.
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n"))
    )
    wnorm = Window.partitionBy("from_type")
    return pairs.select(
        "from_type", "to_type", "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(wnorm), 6
        ).alias("p"),
    )


# ---------------------------------------------------------------------------
# Time-weighted average (interval-weighted metric over event streams)
# ---------------------------------------------------------------------------


@register(
    "q_time_weighted_avg",
    oracle="""
    WITH x AS (
      SELECT user_id, value,
             epoch_us(ts) AS t,
             lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nt
      FROM events WHERE ts IS NOT NULL),
    w AS (SELECT user_id, value, nt - t AS dt
          FROM x WHERE nt IS NOT NULL)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           round(CAST(SUM(CAST(value * dt AS DECIMAL(38,6))) AS DOUBLE)
                 / CAST(SUM(CAST(dt AS DECIMAL(38,6))) AS DOUBLE),
                 6) AS twa
    FROM w GROUP BY user_id
    """,
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of the metric per user: each reading is
    weighted by how long it was current (gap to the next event) —
    the correct aggregate for irregularly-sampled gauges (billing
    meters, utilization), where a plain AVG over-weights bursts.

    Scale shape: one window shuffle on user_id (lead), then an
    aggregate on the same key — partitions stay user-sized. Weights
    are integer MICROSECONDS (no float epoch round-trip), and both
    the value·dt products and the dt total accumulate in exact
    decimal, so the ratio is bit-identical on any partitioning.
    """
    # NULL-ts guard mirrored in the oracle: a NULL-ts row sorted
    # first (Spark) gets a non-NULL lead and survives the nt filter,
    # inflating n_intervals vs DuckDB's NULLS-LAST ordering.
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    x = ev.select(
        "user_id",
        "value",
        F.unix_micros("ts").alias("t"),
        F.lead(F.unix_micros("ts")).over(w).alias("nt"),
    ).filter(F.col("nt").isNotNull())
    dt = F.col("nt") - F.col("t")
    return (
        x.select("user_id", "value", dt.alias("dt"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_intervals"),
            F.round(
                F.sum(
                    checked_decimal(
                        F.col("value") * F.col("dt"), 6, precision=38
                    )
                ).cast("double")
                / F.sum(
                    checked_decimal(F.col("dt"), 6, precision=38)
                ).cast("double"),
                6,
            ).alias("twa"),
        )
    )


# ---------------------------------------------------------------------------
# Last-touch attribution (purchase → most recent preceding click)
# ---------------------------------------------------------------------------


@register(
    "q_attribution_last_touch",
    oracle="""
    WITH x AS (
      SELECT event_id, user_id, ts, event_type,
             MAX(CASE WHEN event_type = 'click' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_click_ts
      FROM events WHERE ts IS NOT NULL)
    SELECT event_id, user_id, ts, last_click_ts,
           CAST(CASE WHEN last_click_ts IS NOT NULL
                     THEN epoch_us(ts) - epoch_us(last_click_ts) END
                AS BIGINT) AS lag_us
    FROM x WHERE event_type = 'purchase'
    """,
)
def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the
    user's most recent STRICTLY-PRECEDING click (frame ends at 1
    PRECEDING — a click in the same instant doesn't attribute to
    itself-adjacent purchases), with the conversion lag in integer
    microseconds. The ad-analytics staple, expressed as the same
    single-window carry-forward shape as q_asof_join: one shuffle on
    user_id, no join against the click stream at all.
    """
    # NULL-ts guard mirrored in the oracle: a NULL-ts purchase sees
    # an empty preceding frame in Spark (sorted first) but the full
    # click history in DuckDB (sorted last).
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    x = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.max(click_ts).over(w).alias("last_click_ts"),
    )
    return x.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        "last_click_ts",
        F.when(
            F.col("last_click_ts").isNotNull(),
            F.unix_micros("ts") - F.unix_micros("last_click_ts"),
        )
        .cast("bigint")
        .alias("lag_us"),
    )


# ---------------------------------------------------------------------------
# Recency-decayed engagement score (exponential decay, deterministic)
# ---------------------------------------------------------------------------

_LTV_HALF_LIFE_DAYS = 7.0


@register(
    "q_user_ltv_decay",
    oracle=f"""
    WITH mx AS (SELECT MAX(ts) AS now FROM events),
    x AS (
      SELECT user_id,
             round(value * exp(-ln(2.0) / {_LTV_HALF_LIFE_DAYS}
                               * ((epoch_us(now) - epoch_us(ts))
                                  // 86400000000)), 9) AS contrib
      FROM events CROSS JOIN mx)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           round(CAST(SUM(CAST(contrib AS DECIMAL(30,9))) AS DOUBLE), 6)
             AS decayed_value
    FROM x GROUP BY user_id
    """,
)
def q_user_ltv_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted engagement: each event's value decays with a
    7-day half-life from the corpus's latest timestamp (age
    bucketed to whole days, so the exponent is one of a few hundred
    integers — exp() stays libm-portable after the 9-digit round).
    The reference point folds in as a broadcast 1-row MAX aggregate;
    per-event contributions then sum in exact decimal per user — the
    score a retention model or replay-weighted sampler consumes.

    One narrow scan + one user_id aggregate; no window needed.
    """
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("now"))
    age_days = (
        F.unix_micros("now") - F.unix_micros("ts")
    ) / F.lit(86400000000)
    lam = 0.6931471805599453 / _LTV_HALF_LIFE_DAYS  # ln 2 / half-life
    contrib = F.round(
        F.col("value") * F.exp(-F.lit(lam) * F.floor(age_days)), 9
    )
    return (
        ev.crossJoin(F.broadcast(mx))
        .select("user_id", contrib.alias("contrib"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(
                F.sum(checked_decimal(F.col("contrib"), 9)).cast("double"),
                6,
            ).alias("decayed_value"),
        )
    )


# ---------------------------------------------------------------------------
# Whole-warehouse coverage report (one audit query over all 10 tables)
# ---------------------------------------------------------------------------

_AUDIT_PKS = {
    "region": ("r_regionkey",),
    "nation": ("n_nationkey",),
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey", "l_linenumber"),
    "events": ("event_id",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}


def _sql_audit_one(table: str, pk: tuple[str, ...]) -> str:
    cols = ", ".join(pk)
    return f"""
    SELECT '{table}' AS table_name,
           CAST((SELECT COUNT(*) FROM {table}) AS BIGINT) AS n_rows,
           CAST((SELECT COUNT(*) FROM (SELECT DISTINCT {cols}
                                       FROM {table}) t) AS BIGINT)
             AS pk_distinct,
           CAST((SELECT COUNT(*) FROM {table}
                 WHERE {" OR ".join(f"{c} IS NULL" for c in pk)})
                AS BIGINT) AS pk_nulls
    """


@register(
    "q_coverage_report",
    oracle=" UNION ALL ".join(
        _sql_audit_one(t, pk) for t, pk in _AUDIT_PKS.items()
    ),
)
def q_coverage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse-wide integrity audit in ONE query: per table, row
    count, primary-key distinct count, and PK null count — the
    always-on data-quality dashboard feeding q_data_expectations'
    per-table gates. (The synthetic lineitem is KNOWN to carry
    duplicate (orderkey, linenumber) pairs — this report is where
    that shows up as pk_distinct < n_rows.)

    Scale shape: each table contributes one partial-aggregated
    global count triple (distinct via a per-table pre-aggregate on
    the PK — compact keys); the union is 10 single-row legs that can
    run concurrently. Nothing wide ever moves.
    """
    legs = []
    for table, pk in _AUDIT_PKS.items():
        df = load_table(spark, sf_dir, table)
        null_pred = None
        for c in pk:
            cond = F.col(c).isNull()
            null_pred = cond if null_pred is None else (null_pred | cond)
        legs.append(
            df.agg(
                F.count("*").alias("n_rows"),
                # distinct over a STRUCT: count_distinct(cols...)
                # would skip any row with a NULL PK column, but the
                # oracle's SELECT DISTINCT keeps null-containing
                # tuples — and a null PK is exactly the defect this
                # audit exists to surface.
                F.count_distinct(
                    F.struct(*[F.col(c) for c in pk])
                ).alias("pk_distinct"),
                # coalesce: SUM over zero rows is NULL, but the
                # oracle's COUNT(*) (and the dashboard) expect 0 on
                # an empty table
                F.coalesce(
                    F.sum(null_pred.cast("long")), F.lit(0).cast("long")
                ).alias("pk_nulls"),
            ).select(
                F.lit(table).alias("table_name"),
                "n_rows",
                "pk_distinct",
                "pk_nulls",
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


# ---------------------------------------------------------------------------
# Interval-overlap join (sessions x incident windows, hour-bucketized)
# ---------------------------------------------------------------------------

_IVL_HOUR_US = 3_600_000_000
_IVL_GAP_US = 1_800_000_000  # 30-min session gap
_IVL_MIN_ERRORS = 3


@register(
    "q_interval_overlap_join",
    oracle=f"""
    WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS t
               FROM events WHERE ts IS NOT NULL),
    x AS (SELECT user_id, event_id, t,
                 CASE WHEN lag(t) OVER w IS NULL
                       OR t - lag(t) OVER w > {_IVL_GAP_US}
                      THEN 1 ELSE 0 END AS brk
          FROM e
          WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
    sl AS (SELECT user_id, t,
                  SUM(brk) OVER (PARTITION BY user_id
                                 ORDER BY t, event_id) AS sid
           FROM x),
    sessions AS (SELECT user_id, sid,
                        MIN(t) AS s_start, MAX(t) AS s_end
                 FROM sl GROUP BY user_id, sid),
    errw AS (SELECT t // {_IVL_HOUR_US} AS h,
                    CAST(COUNT(*) AS BIGINT) AS n_errors
             FROM e WHERE event_type = 'error'
             GROUP BY 1 HAVING COUNT(*) >= {_IVL_MIN_ERRORS}),
    cov AS (SELECT user_id, s_start, s_end,
                   unnest(range(s_start // {_IVL_HOUR_US},
                                s_end // {_IVL_HOUR_US} + 1)) AS h
            FROM sessions)
    SELECT user_id,
           CAST(s_start AS BIGINT) AS s_start,
           CAST(s_end AS BIGINT) AS s_end,
           CAST(h * {_IVL_HOUR_US} AS BIGINT) AS w_start_us,
           CAST(least(s_end, (h + 1) * {_IVL_HOUR_US})
                - greatest(s_start, h * {_IVL_HOUR_US}) AS BIGINT)
             AS overlap_us,
           n_errors
    FROM cov JOIN errw USING (h)
    """,
)
def q_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join WITHOUT a theta join: which user
    sessions overlap which high-error incident windows, and by how
    much — the incident-impact query every ops team runs, and the
    canonical hard case for distributed joins (naive overlap
    predicates degrade to per-key nested loops).

    Scale shape: both interval sets bucketize to epoch-HOURS —
    sessions explode into the hours they span (bounded by session
    length / bucket width), incident windows are already hour-keyed
    — so the overlap join becomes a plain equi-join on the hour
    bucket, hash-distributed and AQE-skew-splittable; each matched
    pair then computes its exact overlap arithmetically. All times
    are integer microseconds end to end (no float epochs, no
    timezone surface).
    """
    ev = load_table(spark, sf_dir, "events")
    # Shared sessionizer, spans converted to integer microseconds
    # (unix_micros is order-preserving, so min/max commute with it).
    sessions = session_spans(ev).select(
        "user_id",
        F.unix_micros("s_start").alias("s_start"),
        F.unix_micros("s_end").alias("s_end"),
    )
    errw = (
        ev.filter(F.col("event_type") == "error")
        .select(F.expr(f"unix_micros(ts) div {_IVL_HOUR_US}").alias("h"))
        .groupBy("h")
        .agg(F.count("*").alias("n_errors"))
        .filter(F.col("n_errors") >= _IVL_MIN_ERRORS)
    )
    cov = sessions.select(
        "user_id",
        "s_start",
        "s_end",
        F.explode(
            F.sequence(
                F.expr(f"s_start div {_IVL_HOUR_US}"),
                F.expr(f"s_end div {_IVL_HOUR_US}"),
            )
        ).alias("h"),
    )
    return cov.join(errw, "h").select(
        "user_id",
        "s_start",
        "s_end",
        (F.col("h") * _IVL_HOUR_US).alias("w_start_us"),
        (
            F.least(F.col("s_end"), (F.col("h") + 1) * _IVL_HOUR_US)
            - F.greatest(F.col("s_start"), F.col("h") * _IVL_HOUR_US)
        ).alias("overlap_us"),
        "n_errors",
    )


# ---------------------------------------------------------------------------
# Full correlation matrix in one scan (power-sum generalization of q_corr)
# ---------------------------------------------------------------------------

_CM_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def _sql_corr_matrix() -> str:
    sums = ["COUNT(*) AS n"]
    for c in _CM_COLS:
        sums.append(f"{sql_dsum(c, scale=6)} AS s_{c}")
    for i, a in enumerate(_CM_COLS):
        for b in _CM_COLS[i:]:
            sums.append(f"{sql_dsum(f'{a} * {b}', scale=9)} AS s_{a}_{b}")
    legs = []
    for i, a in enumerate(_CM_COLS):
        for b in _CM_COLS[i + 1 :]:
            legs.append(f"""
            SELECT '{a}' AS col_a, '{b}' AS col_b,
                   round((n * s_{a}_{b} - s_{a} * s_{b})
                         / sqrt((n * s_{a}_{a} - s_{a} * s_{a})
                                * (n * s_{b}_{b} - s_{b} * s_{b})), 6)
                     AS pearson
            FROM s""")
    return (
        "WITH s AS (SELECT "
        + ", ".join(sums)
        + " FROM lineitem) "
        + " UNION ALL ".join(legs)
    )


@register("q_corr_matrix", oracle=_sql_corr_matrix())
def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations of all 4 numeric lineitem
    measures from ONE scan: a single aggregate computes every power
    sum (k sums + k(k+1)/2 cross sums, all exact decimal), and the
    6 pairwise correlations unpivot from that 1-row result — the
    profiling matrix that naive implementations compute with k²/2
    separate passes. The unpivot side is one row: zero extra
    data movement, deterministic on any partitioning.
    """
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [F.count("*").alias("n")]
    for c in _CM_COLS:
        aggs.append(dsum(F.col(c), scale=6).alias(f"s_{c}"))
    for i, a in enumerate(_CM_COLS):
        for b in _CM_COLS[i:]:
            aggs.append(
                dsum(F.col(a) * F.col(b), scale=9).alias(f"s_{a}_{b}")
            )
    s = li.agg(*aggs)
    legs = []
    for i, a in enumerate(_CM_COLS):
        for b in _CM_COLS[i + 1 :]:
            n = F.col("n")
            num = n * F.col(f"s_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")
            den = F.sqrt(
                (n * F.col(f"s_{a}_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}"))
                * (
                    n * F.col(f"s_{b}_{b}")
                    - F.col(f"s_{b}") * F.col(f"s_{b}")
                )
            )
            legs.append(
                s.select(
                    F.lit(a).alias("col_a"),
                    F.lit(b).alias("col_b"),
                    F.round(num / den, 6).alias("pearson"),
                )
            )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


# ---------------------------------------------------------------------------
# Benford's-law first-digit audit
# ---------------------------------------------------------------------------


@register(
    "q_benford_check",
    oracle="""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                         1, 1) AS INTEGER) AS digit
      FROM orders WHERE o_totalprice >= 1),
    c AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d
          GROUP BY digit),
    t AS (SELECT CAST(SUM(n) AS DOUBLE) AS total FROM c)
    SELECT digit, n,
           round(n / total, 6) AS observed,
           round(ln(1.0 + 1.0 / digit) / ln(10.0), 6) AS expected,
           round((n / total - ln(1.0 + 1.0 / digit) / ln(10.0))
                 * (n / total - ln(1.0 + 1.0 / digit) / ln(10.0))
                 / (ln(1.0 + 1.0 / digit) / ln(10.0)), 9) AS chi2_term
    FROM c CROSS JOIN t
    """,
)
def q_benford_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of order values: observed vs expected
    first-digit shares (expected = log10(1 + 1/d)) with per-digit
    chi-square terms — the classic anomaly screen for fabricated or
    re-scaled financial data, run here as a data-quality monitor
    next to q_drift_psi.

    Scale shape: digit extraction is string arithmetic on the
    truncated integer part (identical in both engines — no float
    formatting), the aggregate is 9 groups, and the total folds in
    as a broadcast 1-row sum.
    """
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") >= 1
    )
    # floor() explicitly: Spark's double->bigint cast truncates while
    # DuckDB's rounds — floor is the one semantics both engines share.
    digit = F.substring(
        F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
    ).cast("int")
    c = orders.select(digit.alias("digit")).groupBy("digit").agg(
        F.count("*").alias("n")
    )
    t = c.agg(F.sum("n").cast("double").alias("total"))
    expected = F.log(1.0 + 1.0 / F.col("digit")) / F.log(F.lit(10.0))
    obs = F.col("n") / F.col("total")
    return c.crossJoin(F.broadcast(t)).select(
        "digit",
        "n",
        F.round(obs, 6).alias("observed"),
        F.round(expected, 6).alias("expected"),
        F.round((obs - expected) * (obs - expected) / expected, 9).alias(
            "chi2_term"
        ),
    )


# Oracle for q_bloom_prefilter_join below: the bloom filter is INVISIBLE to the result —
# a probabilistic prefilter may only discard rows the exact join
# would discard anyway, so the oracle is the plain semi-join.
_BLOOM_ORACLE = f"""
SELECT l_returnflag,
       COUNT(*) AS n_lines,
       {sql_dsum('l_extendedprice * (1 - l_discount)', scale=6)} AS revenue
FROM lineitem
WHERE l_orderkey IN (
  SELECT o_orderkey FROM orders
  WHERE o_orderpriority = '1-URGENT' AND o_totalprice >= 150000.0)
GROUP BY l_returnflag
"""

_BLOOM_BITS = 1 << 17  # 131072 bits = 2048 bigint words
_BLOOM_TAGS = ("bloom1:", "bloom2:")  # k = 2 independent hashes


def _bloom_bitpos(col: F.Column, tag: str, bits: int) -> F.Column:
    """Bit position of ``col`` under the salt-tagged md5 hash."""
    return md5_long(F.concat(F.lit(tag), col.cast("string"))) % F.lit(bits)


def bloom_words(build: DataFrame, key: str, bits: int = _BLOOM_BITS) -> DataFrame:
    """Fold a build-side key column into the broadcastable bloom
    bitmap: a (word_idx, bits) table of at most ``bits/64`` rows,
    each word the ``bit_or`` of every key's k hash positions landing
    in it."""
    positions = build.select(
        F.explode(
            F.array(*[_bloom_bitpos(F.col(key), t, bits) for t in _BLOOM_TAGS])
        ).alias("pos")
    )
    return positions.groupBy(
        F.floor(F.col("pos") / 64).cast("bigint").alias("word_idx")
    ).agg(
        F.bit_or(
            F.call_function(
                "shiftleft",
                F.lit(1).cast("bigint"),
                (F.col("pos") % 64).cast("int"),
            )
        ).alias("bits")
    )


def bloom_prefilter(
    probe: DataFrame,
    words: DataFrame,
    key: str,
    bits: int = _BLOOM_BITS,
) -> DataFrame:
    """Keep only probe rows whose key MIGHT be in the bloom set: for
    each of the k hashes, broadcast-join the word and test the bit (a
    missing word is a definite miss). Never drops a true match; false
    positives pass through for the exact join to remove. Returns the
    probe columns unchanged."""
    out = probe
    cols = probe.columns
    for i, tag in enumerate(_BLOOM_TAGS):
        pos = _bloom_bitpos(F.col(key), tag, bits)
        w = words.select(
            F.col("word_idx").alias(f"_w{i}"), F.col("bits").alias(f"_b{i}")
        )
        out = (
            out.withColumn(f"_w{i}", F.floor(pos / 64).cast("bigint"))
            .withColumn(
                f"_m{i}",
                F.call_function(
                    "shiftleft",
                    F.lit(1).cast("bigint"),
                    (pos % 64).cast("int"),
                ),
            )
            .join(F.broadcast(w), f"_w{i}")
            .filter(F.col(f"_b{i}").bitwiseAND(F.col(f"_m{i}")) != 0)
        )
    return out.select(*cols)


@register("q_bloom_prefilter_join", oracle=_BLOOM_ORACLE)
def q_bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-prefiltered semi-join, hand-built from DataFrame
    ops (Spark's own row-level runtime filter is an optimizer
    internal; ``bloom_filter_agg`` has no public SQL/PySpark surface
    — probed on 4.1.2: UNRESOLVED_ROUTINE): the selective orders
    subset is folded into a tiny bit-set the FACT scan probes BEFORE
    shuffling, so the join moves only candidate rows.

    Construction: each build key sets k=2 bit positions
    (md5-derived, independent by salt tag); positions group to
    64-bit words via ``bit_or`` — the whole filter is a <=2048-row
    (word_idx, bits) table that BROADCASTS everywhere. The probe side
    computes the same two positions per row, inner-joins the bitmap
    on word index (a missing word is a definite miss), and keeps rows
    with both bits set. False positives are then removed by the exact
    semi-join, so the result equals the plain join BY CONSTRUCTION —
    the bloom only cuts shuffle volume. At 100 TB this is the
    difference between shuffling the full fact table and shuffling
    ~|matching rows| (+ the fp tail, ~(kn/m)^2 with n build keys and
    m bits; size m to the build cardinality).
    """
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_totalprice") >= 150000.0)
        )
        .select("o_orderkey")
    )

    words = bloom_words(orders, "o_orderkey")
    li = bloom_prefilter(
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"
        ),
        words,
        "l_orderkey",
    )
    exact = li.join(orders, li["l_orderkey"] == orders["o_orderkey"], "left_semi")
    return exact.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_lines"),
        dsum(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
            scale=6,
        ).alias("revenue"),
    )


# Oracle for q_bitmap_distinct: the bitmap formulation is EXACT, so
# the twin is a plain COUNT(DISTINCT).
_BITMAP_DISTINCT_ORACLE = """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       COUNT(*) AS n_events
FROM events
GROUP BY event_type
"""


def bitmap_distinct(df: DataFrame, group_col: str, id_col: str) -> DataFrame:
    """EXACT distinct-count of a dense non-negative integer id per
    group via bitmap OR-aggregation — the Druid/ClickHouse bitmap
    pattern as a two-level DataFrame aggregation. Returns
    (group_col, n_distinct long).

    Level 1 groups by (group, id div 64) and ORs single-bit words
    (``bit_or`` is associative + commutative, so Catalyst plans a
    partial+final hash aggregate — the map side collapses each
    partition's ids into local words BEFORE the shuffle); level 2
    sums ``bit_count`` per group. The shuffle therefore moves
    O(groups x occupied words), independent of row count and of
    per-id duplication — where COUNT(DISTINCT id) moves one row per
    distinct (group, id) pair. Words are mergeable state: shards
    aggregated separately OR together losslessly (incremental
    rollups, cross-datacenter merge). NULL ids contribute no bits —
    like COUNT(DISTINCT) — but the GROUP itself survives: a group
    whose ids are all NULL reports 0, exactly as COUNT(DISTINCT)
    does (a pre-filter would delete the group instead). At 1e9 ids a
    fully-occupied group carries 16M words; the (group, word_idx)
    key distributes them evenly."""
    bit = F.when(
        F.col(id_col).isNotNull(),
        F.expr(f"shiftleft(1L, CAST({id_col} % 64 AS INT))"),
    )
    words = df.groupBy(
        F.col(group_col),
        (F.col(id_col) / 64).cast("long").alias("word_idx"),
    ).agg(F.bit_or(bit).alias("bits"))
    return words.groupBy(group_col).agg(
        F.sum(F.coalesce(F.bit_count("bits"), F.lit(0))).alias(
            "n_distinct"
        )
    )


@register("q_bitmap_distinct", oracle=_BITMAP_DISTINCT_ORACLE)
def q_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per event type, twice: the bitmap
    OR-aggregation (:func:`bitmap_distinct`) for the distinct count
    and a plain COUNT(*) for volume — proving the bitmap formulation
    lands bit-exactly on COUNT(DISTINCT) while shuffling O(occupied
    words) instead of O(distinct pairs).
    """
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count("*").alias("n_events"))
    dist = bitmap_distinct(ev, "event_type", "user_id").withColumnRenamed(
        "n_distinct", "n_users"
    )
    return dist.join(counts, "event_type").select(
        "event_type", "n_users", "n_events"
    )
