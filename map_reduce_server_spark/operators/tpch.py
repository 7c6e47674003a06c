"""Classic decision-support query pack (TPC-H-derived shapes).

The reference ships no relational queries (its query corpus is the
wordcount/grep executables, reference ``tests/testdata/exec/``; SURVEY.md
§2.D). q1/q3/q5 live in ``relational.py``; this module adds the classic
shapes the trimmed synthetic schema supports (no ``partsupp`` table, no
``l_shipmode``/``l_commitdate``/``p_container``/``c_phone`` columns;
predicates are adapted, plan shapes preserved):

- Q2   min-cost     -> per-group min decorrelated, joined back on value
- Q4   EXISTS       -> left-semi join with a non-equi residual
- Q6   scan-agg     -> single-pass filtered aggregate, full pushdown
- Q7   volume flows -> two broadcast dim joins + disjunctive nation pair
- Q8   market share -> 6-table join, conditional share-of-total by year
- Q9   profit       -> 5-table join, group by nation x year
- Q10  returned     -> fact-fact join + top-k on aggregated revenue
- Q11  stock value  -> grouped value vs global scalar threshold
- Q12  2-way CASE   -> fact-fact join, conditional counts
- Q13  distribution -> left OUTER join + double aggregation (histogram)
- Q14  promo share  -> broadcast dim join, conditional revenue ratio
- Q15  top supplier -> aggregate view + max scalar subquery, value join
- Q16  supp count   -> NOT-IN anti join + COUNT(DISTINCT)
- Q17  corr. avg    -> per-key average joined back to the fact
- Q18  IN-agg       -> HAVING-filtered semi join + top-k
- Q19  OR-of-ANDs   -> single equi-join with disjunctive residual
- Q20  nested IN    -> two-level aggregate subquery + semi join chain
- Q21  multi-EXISTS -> per-order supplier counts replace the double
                      correlated EXISTS / NOT EXISTS self-joins
- Q22  anti join    -> scalar-subquery threshold + NOT EXISTS

Q2/Q9/Q11/Q16/Q20 derive the part↔supplier relation and unit costs from
``lineitem`` instead of ``partsupp``.

Broadcast policy: only bounded dimensions (region/nation) and scalar or
fixed-domain aggregates carry an explicit ``broadcast()``. SF-linear sides
(customer, supplier, part, and any constant-fraction subset of them) carry
no hint, so AQE broadcasts them only while they fit (docs/SCALING.md,
relational). All aggregates use exact decimal sums (``functions/exact.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce_server_spark.functions.exact import (
    davg,
    dsum,
    sql_davg,
    sql_dsum,
)
from map_reduce_server_spark.operators.relational import (
    REVENUE,
    _revenue_col,
)
from map_reduce_server_spark.registry import register
from map_reduce_server_spark.tables import load_table


def _ts(s: str) -> F.Column:
    return F.lit(s).cast("timestamp")


# --- Q4 — order priority checking (EXISTS -> left-semi join) ----------------


@register(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate <  TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS decorrelated into a left-semi join.

    The semi join carries an equi key (orderkey) plus a non-equi residual
    (shipdate > orderdate), evaluated post-match. The reference schema's
    l_commitdate/l_receiptdate are absent; late-ship substitutes.
    """
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-07-01"))
        & (F.col("o_orderdate") < _ts("1996-10-01"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


# --- Q6 — forecasting revenue change (pure scan-aggregate) ------------------


@register(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT {sql_dsum('l_extendedprice * l_discount', scale=6)} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: a single-pass filtered aggregate; every predicate
    reaches the parquet scan."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= _ts("1996-01-01"))
            & (F.col("l_shipdate") < _ts("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(
                F.col("l_extendedprice") * F.col("l_discount"), scale=6
            ).alias("revenue")
        )
    )


# --- Q7 — volume shipping between two nations -------------------------------


@register(
    "q7_volume_shipping",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           {sql_dsum('volume', scale=6)} AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             EXTRACT(year FROM l_shipdate) AS l_year,
             {REVENUE} AS volume
      FROM supplier, lineitem, orders, customer, nation n1, nation n2
      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
        AND c_nationkey = n2.n_nationkey
        AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
          OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: the nation pair disjunction stays a residual on two
    broadcast nation joins. Spark's year() is INT, DuckDB's EXTRACT is
    BIGINT; the value-canonical comparison is integer-type-insensitive, so
    neither side casts."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1998-01-01"))
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        # customer is SF-linear: no hard hint
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7"))
            | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
        )
        .withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dsum(_revenue_col(), scale=6).alias("revenue"))
    )


# --- Q8 — national market share ---------------------------------------------


@register(
    "q8_market_share",
    oracle=f"""
    SELECT o_year,
           ROUND(
             {sql_dsum("CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END", scale=6)}
             / {sql_dsum('volume', scale=6)}, 6) AS mkt_share
    FROM (
      SELECT EXTRACT(year FROM o_orderdate) AS o_year,
             {REVENUE} AS volume, n2.n_name AS nation
      FROM part, supplier, lineitem, orders, customer,
           nation n1, nation n2, region
      WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        AND l_orderkey = o_orderkey AND o_custkey = c_custkey
        AND c_nationkey = n1.n_nationkey
        AND n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
        AND s_nationkey = n2.n_nationkey
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1998-01-01'
        AND p_type = 'PROMO'
    ) all_nations
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: 8-table join, then a conditional share-of-total per
    year. The SF-linear promo part subset (~16%) carries no hint. The two
    decimal sums divide in double on both engines; ROUND(6) bounds printed
    precision."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1998-01-01"))
    )
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n1 = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select(F.col("n_nationkey").alias("n1_key"))
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    vol = _revenue_col()
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"), "left_semi")
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .withColumn("o_year", F.year("o_orderdate"))
        .groupBy("o_year")
        .agg(
            F.round(
                dsum(
                    F.when(F.col("nation") == "NATION_3", vol).otherwise(0.0),
                    scale=6,
                )
                / dsum(vol, scale=6),
                6,
            ).alias("mkt_share")
        )
    )


# --- Q10 — returned item reporting (top 20 customers) -----------------------


@register(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name, {sql_dsum(REVENUE, scale=6)} AS revenue,
           c_acctbal, n_name
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-07-01'
      AND l_returnflag = 'R'
      AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: fact-fact join then top-k by aggregated revenue."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1996-07-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(_revenue_col(), scale=6).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    )


# --- Q12 — shipping-priority line classification ----------------------------


@register(
    "q12_priority_lines",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders, lineitem
    WHERE o_orderkey = l_orderkey
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY l_linestatus
    """,
)
def q12_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (l_shipmode is absent from the synthetic schema;
    l_linestatus is the grouping category): one fact-fact join,
    conditional counts."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1997-01-01"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# --- Q13 — customer order-count distribution --------------------------------


@register(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey
       AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: outer join with an ON-clause filter (kept on the join,
    not a WHERE, which preserves zero-order customers), then a histogram
    over the per-customer counts."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "5-LOW"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


# --- Q14 — promotion effect -------------------------------------------------


@register(
    "q14_promo_revenue",
    oracle=f"""
    SELECT ROUND(
      100.00 * {sql_dsum(f"CASE WHEN p_type = 'PROMO' THEN {REVENUE} ELSE 0 END", scale=6)}
      / {sql_dsum(REVENUE, scale=6)}, 6) AS promo_revenue
    FROM lineitem, part
    WHERE l_partkey = p_partkey
      AND l_shipdate >= TIMESTAMP '1996-09-01'
      AND l_shipdate <  TIMESTAMP '1996-10-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: part join + conditional revenue ratio in a single-row
    aggregate; both sums are exact decimals, so the double division is
    bit-identical across engines."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-09-01"))
        & (F.col("l_shipdate") < _ts("1996-10-01"))
    )
    part = load_table(spark, sf_dir, "part")
    vol = _revenue_col()
    return (
        # part is SF-linear and unfiltered here — no hard hint
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * dsum(
                    F.when(F.col("p_type") == "PROMO", vol).otherwise(0.0),
                    scale=6,
                )
                / dsum(vol, scale=6),
                6,
            ).alias("promo_revenue")
        )
    )


# --- Q17 — small-quantity-order revenue (correlated average) ----------------


@register(
    "q17_small_qty_revenue",
    oracle=f"""
    SELECT ROUND({sql_dsum('l_extendedprice', scale=6)} / 7.0, 6)
             AS avg_yearly
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND p_brand = 'Brand#11'
      AND p_size < 15
      AND l_quantity < (
        SELECT 0.4 * ({sql_davg('l_quantity', ndigits=6)})
        FROM lineitem l2
        WHERE l2.l_partkey = part.p_partkey)
    """,
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: the correlated per-part average decorrelates into
    a groupBy over lineitem joined back on partkey. The per-part average is
    a reproducible decimal avg on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#11") & (F.col("p_size") < 15)
    )
    # Per-part averages only for partkeys that survive the brand/size
    # filter (semi join first); unfiltered partkeys never reach the final
    # join. No hard hints (constant fraction of SF-linear part).
    per_part = (
        li.join(part, li.l_partkey == part.p_partkey, "left_semi")
        .groupBy(F.col("l_partkey").alias("avg_partkey"))
        .agg(
            (F.lit(0.4) * davg("l_quantity", ndigits=6)).alias("qty_threshold")
        )
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(
            per_part,
            F.col("l_partkey") == F.col("avg_partkey"),
        )
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            F.round(dsum("l_extendedprice", scale=6) / F.lit(7.0), 6).alias(
                "avg_yearly"
            )
        )
    )


# --- Q18 — large-volume customers -------------------------------------------


@register(
    "q18_large_orders",
    oracle=f"""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           {sql_dsum('l_quantity')} AS sum_qty
    FROM customer, orders, lineitem
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(30,2))) > 250)
      AND c_custkey = o_custkey AND o_orderkey = l_orderkey
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
    bench=True,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: the HAVING subquery becomes an aggregate + left-semi
    join on orderkey (quantity > 250 keeps ~1.4% of orders)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(30,2)")).alias("q"))
        .filter(F.col("q") > 250)
        .select("l_orderkey")
    )
    return (
        li.join(big.withColumnRenamed("l_orderkey", "big_key"),
                F.col("l_orderkey") == F.col("big_key"), "left_semi")
        .join(orders, F.col("l_orderkey") == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                 "o_totalprice")
        .agg(dsum("l_quantity").alias("sum_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


# --- Q19 — discounted revenue (disjunction of conjunctions) -----------------


@register(
    "q19_disjunctive_revenue",
    oracle=f"""
    SELECT {sql_dsum(REVENUE, scale=6)} AS revenue
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
            AND l_quantity >= 1 AND l_quantity <= 11)
        OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
            AND l_quantity >= 10 AND l_quantity <= 20)
        OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
            AND l_quantity >= 20 AND l_quantity <= 30))
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: the OR-of-ANDs trap. The common p_partkey equi-key must
    stay the join key with the disjunction as a residual filter, not a
    cartesian product. ``tests/test_plans.py`` pins no-cartesian."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    cond = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 25)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(1, 35)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        # part is SF-linear and unfiltered pre-join (the brand/size
        # predicate references l_quantity too): no hard hint
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(dsum(_revenue_col(), scale=6).alias("revenue"))
    )


# --- Q22 — dormant high-balance customers (anti join) -----------------------


@register(
    "q22_dormant_customers",
    oracle=f"""
    SELECT c_nationkey, COUNT(*) AS numcust,
           {sql_dsum('c_acctbal')} AS totacctbal
    FROM customer c
    WHERE c_acctbal > (
        SELECT {sql_davg('c_acctbal', ndigits=6)}
        FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c_nationkey
    """,
)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (c_phone country codes are absent; nationkey
    groups, and "no orders at all", vacuous here, becomes "no orders since
    2000"): a broadcast scalar threshold + left-anti join + aggregate."""
    cust = load_table(spark, sf_dir, "customer")
    recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= _ts("2000-01-01")
    )
    threshold = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(davg("c_acctbal", ndigits=6).alias("avg_bal"))
    )
    return (
        cust.join(F.broadcast(threshold))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            dsum("c_acctbal").alias("totacctbal"),
        )
    )


# --- Q2 — minimum-cost supplier per part (correlated MIN subquery) ----------

# The part↔supplier "catalog" derived from shipped lineitems: the
# cheapest observed unit price per (partkey, suppkey). Raw double
# division (no rounding) is bit-identical across engines on identical
# inputs, and MIN is order-independent, so the derived cost is exact.
_SQL_SUPPLY = """
    (SELECT l_partkey AS sp_partkey, l_suppkey AS sp_suppkey,
            MIN(l_extendedprice / l_quantity) AS sp_cost
     FROM lineitem GROUP BY 1, 2)
"""


@register(
    "q2_min_cost_supplier",
    oracle=f"""
    WITH supply AS (SELECT * FROM {_SQL_SUPPLY} s),
    eu AS (
      SELECT sp_partkey, sp_suppkey, sp_cost,
             s_name, s_acctbal, n_name
      FROM supply, supplier, nation, region
      WHERE sp_suppkey = s_suppkey AND s_nationkey = n_nationkey
        AND n_regionkey = r_regionkey AND r_name = 'EUROPE'
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
           sp_cost AS unit_cost
    FROM eu, part
    WHERE sp_partkey = p_partkey
      AND p_type = 'LARGE' AND p_size = 15
      AND sp_cost = (SELECT MIN(e2.sp_cost) FROM eu e2
                     WHERE e2.sp_partkey = eu.sp_partkey)
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: the correlated MIN subquery decorrelates into a
    per-part MIN aggregate joined back on (partkey, cost). The
    region-filtered supply table is built once and serves both the
    candidate rows and the per-part minimum. The ORDER BY ends in (s_name,
    p_partkey), unique per row, so LIMIT is deterministic.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "LARGE") & (F.col("p_size") == 15)
    )
    # Push the part-key semi join below the supply aggregate: filtering on
    # the grouping key commutes with the groupBy, and the (partkey, suppkey)
    # aggregate shrinks to the ~0.05% of rows whose part survives the
    # p_type/p_size predicate. No hard hint (constant fraction of part).
    li_f = li.join(
        part.select("p_partkey"),
        li.l_partkey == F.col("p_partkey"),
        "left_semi",
    )
    supply = li_f.groupBy(
        F.col("l_partkey").alias("sp_partkey"),
        F.col("l_suppkey").alias("sp_suppkey"),
    ).agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("sp_cost"))
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE"
    )
    # supplier is SF-linear: the EUROPE bundle carries no hard hint;
    # nation/region inside it are the bounded dims
    eu = (
        supply.join(
            supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
            .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
            .select("s_suppkey", "s_name", "s_acctbal", "n_name"),
            supply.sp_suppkey == F.col("s_suppkey"),
        )
    )
    per_part_min = eu.groupBy(F.col("sp_partkey").alias("mk")).agg(
        F.min("sp_cost").alias("min_cost")
    )
    return (
        eu.join(part, eu.sp_partkey == part.p_partkey)
        .join(
            per_part_min,
            (F.col("sp_partkey") == F.col("mk"))
            & (F.col("sp_cost") == F.col("min_cost")),
        )
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_name",
            # unrounded: the raw double quotient is bit-identical in both
            # engines, while ROUND(x, 6) breaks exact .5 ties differently
            # (Spark HALF_UP on shortest repr vs DuckDB scaled-double)
            F.col("sp_cost").alias("unit_cost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


# --- Q9 — product-type profit by nation and year ----------------------------


@register(
    "q9_product_profit",
    oracle=f"""
    SELECT n_name AS nation, EXTRACT(YEAR FROM o_orderdate) AS o_year,
           {sql_dsum('l_extendedprice * (1 - l_discount)'
                     ' - 0.01 * p_retailprice * l_quantity', scale=4)}
             AS sum_profit
    FROM lineitem, part, supplier, orders, nation
    WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
      AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
      AND p_name LIKE '%red%'
    GROUP BY 1, 2
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit per (supplier nation, order year) over parts
    matching a name pattern. The classic uses partsupp's ps_supplycost; the
    trimmed schema substitutes a retail-price cost proxy (1% of
    p_retailprice per unit), with the same 5-table join tree. The
    name-matched part subset is SF-linear and carries no hint.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%red%")
    )
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    amount = _revenue_col() - F.lit(0.01) * F.col("p_retailprice") * F.col(
        "l_quantity"
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(dsum(amount, scale=4).alias("sum_profit"))
    )


# --- Q11 — important stock identification (grouped value vs global share) ---


@register(
    "q11_important_stock",
    oracle=f"""
    WITH natsupply AS (
      SELECT l_partkey, l_extendedprice, l_quantity
      FROM lineitem, supplier, nation
      WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        AND n_name = 'NATION_7')
    SELECT l_partkey AS partkey,
           {sql_dsum('l_extendedprice * l_quantity', scale=4)} AS value
    FROM natsupply
    GROUP BY l_partkey
    HAVING {sql_dsum('l_extendedprice * l_quantity', scale=4)} > (
      SELECT 0.001 * {sql_dsum('l_extendedprice * l_quantity', scale=4)}
      FROM natsupply)
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part inventory value within one nation, kept
    only where the part's value exceeds a fixed fraction of the nation's
    total (scalar subquery → broadcast 1-row threshold join). The classic
    ps_supplycost*ps_availqty value becomes shipped extendedprice*quantity
    from lineitem.
    """
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_7"
    )
    nat_ids = supp.join(
        F.broadcast(nation), supp.s_nationkey == nation.n_nationkey
    ).select("s_suppkey")
    natsupply = li.join(
        F.broadcast(nat_ids), li.l_suppkey == F.col("s_suppkey"), "left_semi"
    ).select("l_partkey", (F.col("l_extendedprice") * F.col("l_quantity")).alias("v"))
    per_part = natsupply.groupBy(F.col("l_partkey").alias("partkey")).agg(
        dsum("v", scale=4).alias("value")
    )
    total = natsupply.agg((F.lit(0.001) * dsum("v", scale=4)).alias("threshold"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("value") > F.col("threshold"))
        .select("partkey", "value")
    )


# --- Q15 — top supplier (aggregate view + MAX scalar subquery) --------------

_Q15_REV = f"""
    (SELECT l_suppkey AS supplier_no,
            {sql_dsum(REVENUE, scale=6)} AS total_revenue
     FROM lineitem
     WHERE l_shipdate >= TIMESTAMP '1996-01-01'
       AND l_shipdate <  TIMESTAMP '1996-04-01'
     GROUP BY l_suppkey)
"""


@register(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (SELECT * FROM {_Q15_REV} r)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier, revenue
    WHERE s_suppkey = supplier_no
      AND total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: the revenue view aggregates once; the MAX scalar
    subquery becomes a single-row broadcast joined back on value equality.
    Exact decimal revenue sums make the double equality safe: both sides
    derive from the identical associative sum, so ties (multiple max
    suppliers) are found exactly.
    """
    li = load_table(spark, sf_dir, "lineitem")
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= _ts("1996-01-01"))
            & (F.col("l_shipdate") < _ts("1996-04-01"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(dsum(_revenue_col(), scale=6).alias("total_revenue"))
    )
    mx = revenue.agg(F.max("total_revenue").alias("max_rev"))
    supp = load_table(spark, sf_dir, "supplier")
    return (
        revenue.join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("max_rev"))
        .join(supp, F.col("supplier_no") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


# --- Q16 — parts/supplier relationship (NOT IN + COUNT DISTINCT) ------------


@register(
    "q16_parts_supplier",
    oracle="""
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND p_brand <> 'Brand#15'
      AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_parts_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier counts per part group, excluding
    a blacklist subquery (NOT IN → left-anti join; the classic blacklists
    complaint suppliers, the trimmed schema negative account balance).

    The blacklist is a constant fraction of SF-linear supplier and carries
    no hint. The probe drops NULL suppkeys to match the oracle's NOT IN
    three-valued logic (a NULL never passes NOT IN, but an anti join would
    keep it).
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_suppkey").isNotNull()
    )
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#15")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    )
    bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


# --- Q20 — potential part promotion (nested aggregate subqueries) -----------


@register(
    "q20_part_promotion",
    oracle="""
    SELECT s_name, s_acctbal
    FROM supplier, nation
    WHERE s_nationkey = n_nationkey AND n_name = 'NATION_3'
      AND s_suppkey IN (
        SELECT l_suppkey FROM lineitem
        WHERE l_partkey IN (
          SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
        GROUP BY l_suppkey, l_partkey
        HAVING SUM(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
                         AND l_shipdate <  TIMESTAMP '1997-01-01'
                        THEN CAST(l_quantity AS DECIMAL(30,2))
                        ELSE CAST(0 AS DECIMAL(30,2)) END) * 5
               > SUM(CAST(l_quantity AS DECIMAL(30,2))) * 2)
    ORDER BY s_name
    """,
)
def q20_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers (in one nation) who concentrated a
    part's shipments into the target year. The classic's "availqty > half a
    year's shipments" nested subquery becomes a per-(suppkey, partkey)
    conditional-vs-total quantity comparison, preserving the IN(part-name
    subquery) + IN(grouped HAVING subquery) nesting. The name-filtered part
    keys semi-join before the (suppkey, partkey) aggregate.
    """
    li = load_table(spark, sf_dir, "lineitem")
    small = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("small%")
    ).select("p_partkey")
    dq = F.col("l_quantity").cast("decimal(30,2)")
    in_96 = (F.col("l_shipdate") >= _ts("1996-01-01")) & (
        F.col("l_shipdate") < _ts("1997-01-01")
    )
    qualifying = (
        li.join(small, li.l_partkey == small.p_partkey, "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(F.when(in_96, dq).otherwise(F.lit(0).cast("decimal(30,2)")))
            .alias("q96"),
            F.sum(dq).alias("qtot"),
        )
        # q96*5 > qtot*2 keeps the 40% threshold in EXACT decimal on
        # both engines (0.4 * decimal is double in Spark but
        # DECIMAL(38,3) in DuckDB -- boundary groups would diverge)
        .filter(F.col("q96") * 5 > F.col("qtot") * 2)
        .select("l_suppkey")
        .distinct()
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_3"
    )
    return (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        # qualifying is bounded only by HAVING selectivity: no hard hint
        .join(
            qualifying,
            supp.s_suppkey == F.col("l_suppkey"),
            "left_semi",
        )
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


# --- Q21 — suppliers who kept orders waiting (double correlated EXISTS) -----


@register(
    "q21_waiting_suppliers",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT s_name, l1.l_orderkey, l1.l_suppkey
      FROM supplier, lineitem l1, orders, nation
      WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        AND o_orderstatus = 'F'
        AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
        AND s_nationkey = n_nationkey AND n_name = 'NATION_5'
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3, orders o3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND o3.o_orderkey = l3.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_shipdate > o3.o_orderdate
                              + INTERVAL 90 DAY)
    )
    SELECT s_name, COUNT(*) AS numwait
    FROM pairs
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
    bench=True,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21: a correlated EXISTS and NOT EXISTS against the same fact
    table. Instead of two lineitem self-joins, aggregate once per
    (orderkey, suppkey) with late flags, then once per order counting
    suppliers and late suppliers; the EXISTS pair collapses to
    ``n_suppliers > 1 AND n_late_suppliers = 1`` (the waiting supplier is
    an order's sole late supplier among several). The oracle keeps the
    classic double-EXISTS form, so the two shapes are value-checked against
    each other.

    NUMWAIT counts distinct waiting (order, supplier) pairs: the per-order
    aggregate dedups multiple late lines from the same supplier, and the
    oracle mirrors that with an explicit DISTINCT over (s_name, l_orderkey,
    l_suppkey) before counting.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 90 DAYS"
    )
    per_supp = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late.cast("int")).alias("was_late"))
    )
    per_order = per_supp.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.count("*").alias("n_supps"),
        F.sum("was_late").alias("n_late"),
    )
    waiting = (
        per_supp.join(per_order, per_supp.l_orderkey == F.col("ok"))
        .filter(
            (F.col("was_late") == 1)
            & (F.col("n_supps") > 1)
            & (F.col("n_late") == 1)
        )
        .select("l_suppkey")
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_5"
    )
    return (
        # one-nation supplier slice is 1/25 of an SF-linear table: no
        # hard hint (nation itself is hinted inside the join)
        waiting.join(
            supp.join(
                F.broadcast(nation), supp.s_nationkey == nation.n_nationkey
            ).select("s_suppkey", "s_name"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )
