"""Statistical-audit operators: inequality, independence, robust
outliers, backtested forecasting, and blocked fuzzy matching.

These extend the warehouse-analytics surface the reference's
map/sort/reduce pipeline could only approximate with hand-written
executables (reference ``tests/testdata/exec/*`` are the closest
analogue — free-form per-line scoring scripts); here each is a
declarative DataFrame plan Catalyst can push down and parallelize.

Determinism contract (shared with every oracle in this repo): any
float reduction over a group is either (a) a sum of DECIMAL-cast
terms (associative, partitioning-invariant) or (b) arithmetic on
already-reduced scalars — never a raw double sum whose value depends
on partial-aggregation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from map_reduce_server_spark.functions.hashing import (
    split_hash,
    sql_split_hash,
    sql_uniform01,
    uniform01,
)
from map_reduce_server_spark.registry import register
from map_reduce_server_spark.tables import load_table


@register(
    "q_gini_concentration",
    oracle="""
    WITH rev AS (
      SELECT c_nationkey AS nationkey, o_custkey AS custkey,
             SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS rev
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2),
    ranked AS (
      SELECT nationkey, rev,
             ROW_NUMBER() OVER (PARTITION BY nationkey
                                ORDER BY rev, custkey) AS i
      FROM rev)
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           round(CAST(SUM(CAST(rev AS DECIMAL(30,2))) AS DOUBLE), 2)
             AS total_rev,
           round((2.0 * CAST(SUM(CAST(i * rev AS DECIMAL(38,2))) AS DOUBLE)
                  - (COUNT(*) + 1.0)
                    * CAST(SUM(CAST(rev AS DECIMAL(30,2))) AS DOUBLE))
                 / (COUNT(*)
                    * CAST(SUM(CAST(rev AS DECIMAL(30,2))) AS DOUBLE)),
                 6) AS gini
    FROM ranked JOIN nation ON nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def q_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Gini coefficient of customer revenue (Lorenz-rank
    formula ``G = (2*Σ i·x_i − (n+1)·Σ x_i) / (n·Σ x_i)`` over
    revenue sorted ascending, ties broken by custkey so the rank —
    and therefore the statistic — is unique).

    Scale: one shuffle to aggregate revenue per customer, one
    window partitioned BY NATION (each partition sorts independently
    — never a global sort), then a 25-row broadcast join to name the
    nation. Both Σ terms are decimal sums, so the result is identical
    under any partitioning of a 100 TB orders table.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("c_nationkey").alias("nationkey"),
            F.col("o_custkey").alias("custkey"),
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(30,2)")).alias("rev"))
    )
    w = Window.partitionBy("nationkey").orderBy("rev", "custkey")
    ranked = rev.withColumn("i", F.row_number().over(w))
    srev = F.sum(F.col("rev").cast("decimal(30,2)")).cast("double")
    sirev = F.sum((F.col("i") * F.col("rev")).cast("decimal(38,2)")).cast(
        "double"
    )
    n = F.count("*")
    return (
        ranked.join(
            F.broadcast(nation),
            F.col("nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            n.cast("bigint").alias("n_customers"),
            F.round(srev, 2).alias("total_rev"),
            F.round((2.0 * sirev - (n + 1.0) * srev) / (n * srev), 6).alias(
                "gini"
            ),
        )
    )


@register(
    "q_crosstab_chisq",
    oracle="""
    WITH obs AS (
      SELECT o_orderstatus AS status, o_orderpriority AS priority,
             CAST(COUNT(*) AS BIGINT) AS observed
      FROM orders GROUP BY 1, 2),
    m AS (
      SELECT status, priority, observed,
             SUM(observed) OVER (PARTITION BY status) AS row_total,
             SUM(observed) OVER (PARTITION BY priority) AS col_total,
             SUM(observed) OVER () AS grand
      FROM obs),
    cells AS (
      SELECT status, priority, observed,
             round(CAST(row_total AS DOUBLE) * col_total / grand, 6)
               AS expected,
             round(POWER(observed - CAST(row_total AS DOUBLE) * col_total
                                    / grand, 2)
                   / (CAST(row_total AS DOUBLE) * col_total / grand), 6)
               AS contribution
      FROM m),
    tot AS (
      SELECT CAST(SUM(CAST(contribution AS DECIMAL(30,6))) AS DOUBLE)
               AS chi2
      FROM cells)
    SELECT status, priority, observed, expected, contribution,
           (SELECT chi2 FROM tot) AS chi2
    FROM cells
    """,
)
def q_crosstab_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contingency-table chi-squared independence audit between order
    status and priority: per-cell observed/expected counts and
    contribution, plus the global χ² statistic on every row.

    Scale: the only full-data pass is the initial groupBy (partial
    aggregation map-side); everything after runs on the tiny
    |status|×|priority| cell grid. The grand total and the χ² sum
    are broadcast 1-row aggregates (house pattern), not global
    windows, and the χ² total sums DECIMAL-cast rounded
    contributions — an associative reduction, stable under any row
    order.
    """
    orders = load_table(spark, sf_dir, "orders")
    obs = (
        orders.groupBy(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count("*").cast("bigint").alias("observed"))
    )
    grand = obs.agg(F.sum("observed").alias("grand"))
    m = (
        obs.withColumn(
            "row_total",
            F.sum("observed").over(Window.partitionBy("status")),
        )
        .withColumn(
            "col_total",
            F.sum("observed").over(Window.partitionBy("priority")),
        )
        .crossJoin(F.broadcast(grand))
    )
    expected = (
        F.col("row_total").cast("double") * F.col("col_total") / F.col("grand")
    )
    cells = m.select(
        "status",
        "priority",
        "observed",
        F.round(expected, 6).alias("expected"),
        F.round(
            F.pow(F.col("observed") - expected, F.lit(2)) / expected, 6
        ).alias("contribution"),
    )
    chi2 = cells.agg(
        F.sum(F.col("contribution").cast("decimal(30,6)"))
        .cast("double")
        .alias("chi2")
    )
    return cells.crossJoin(F.broadcast(chi2))


@register(
    "q_anomaly_mad",
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type),
    dev AS (
      SELECT e.event_type, e.value, med.med,
             abs(e.value - med.med) AS adev
      FROM events e JOIN med ON e.event_type = med.event_type),
    mad AS (
      SELECT event_type, any_value(med) AS med,
             quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY event_type)
    SELECT dev.event_type,
           round(mad.med, 6) AS median_value,
           round(mad.mad, 6) AS mad,
           CAST(COUNT(dev.adev) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN dev.adev > 3 * 1.4826 * mad.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev JOIN mad ON dev.event_type = mad.event_type
    GROUP BY dev.event_type, mad.med, mad.mad
    """,
)
def q_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type: median absolute
    deviation (MAD), flagging |x − median| > 3·1.4826·MAD — the
    estimator of choice when the mean/stddev are themselves dragged
    by the outliers being hunted.

    ``n`` counts MEASURED rows (non-NULL value → non-NULL deviation):
    a NULL-valued row can neither be an outlier nor a non-outlier,
    and counting it in the denominator would silently dilute the
    outlier rate — identically in both engines, which is exactly the
    bug class the oracle gate cannot see.

    Scale: two grouped exact-percentile aggregations with a broadcast
    join of the per-type medians in between (|event_type| is tiny).
    Exact interpolated percentiles match DuckDB's ``quantile_cont``
    bit-for-bit on identical inputs, as already proven by
    ``q_percentiles``; at 100 TB the drop-in relaxation is
    ``approx_percentile`` with a bounded error.
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.any_value("med").alias("med"),
        F.percentile("adev", F.lit(0.5)).alias("mad"),
    )
    return (
        dev.drop("med")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count("adev").cast("bigint").alias("n"),
            F.sum(
                F.when(
                    F.col("adev") > 3 * 1.4826 * F.col("mad"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .select(
            "event_type",
            F.round("med", 6).alias("median_value"),
            F.round("mad", 6).alias("mad"),
            "n",
            "n_outliers",
        )
    )


# ONE definition of "daily revenue per event type" shared by the
# forecast backtest and the TS similarity search — including the
# NULL-day policy: an all-NULL day has no measured revenue and is
# dropped (Spark's collect_list skips NULLs where DuckDB's list()
# keeps them, so an unfiltered NULL day also breaks engine parity on
# window membership). Before this helper the rollup was pasted at
# both sites with DIVERGENT policies.
_SQL_DAILY_REVENUE = """
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS {alias}
      FROM events GROUP BY 1, 2
      HAVING {alias} IS NOT NULL"""


def _daily_revenue(ev: DataFrame, alias: str) -> DataFrame:
    """Spark twin of :data:`_SQL_DAILY_REVENUE`."""
    return (
        ev.groupBy("event_type", F.col("ts").cast("date").alias("d"))
        .agg(
            F.sum(F.col("value").cast("decimal(30,2)"))
            .cast("double")
            .alias(alias)
        )
        .filter(F.col(alias).isNotNull())
    )


@register(
    "q_forecast_seasonal_naive",
    oracle=f"""
    WITH daily AS ({_SQL_DAILY_REVENUE.format(alias="actual")}),
    fc AS (
      SELECT a.event_type, a.d, a.actual, b.actual AS forecast,
             abs(a.actual - b.actual) AS err
      FROM daily a LEFT JOIN daily b
        ON a.event_type = b.event_type
       AND b.d = a.d - INTERVAL 7 DAY)
    SELECT event_type,
           CAST(COUNT(err) AS BIGINT) AS n_scored_days,
           round(CAST(SUM(CAST(err AS DECIMAL(30,6)))
                      AS DOUBLE) / COUNT(err), 6) AS mae,
           round(CAST(SUM(CASE WHEN actual <> 0
                          THEN CAST(err / abs(actual)
                                    AS DECIMAL(30,12)) END) AS DOUBLE)
                 / COUNT(CASE WHEN err IS NOT NULL AND actual <> 0
                         THEN 1 END), 6) AS mape
    FROM fc
    GROUP BY event_type
    """,
)
def q_forecast_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each day's revenue
    per event type with the value exactly 7 CALENDAR days earlier
    (a date-keyed self-join, not LAG(7) over observed rows — a
    gapped series must not slide the season off alignment), scoring
    MAE over the days where BOTH actual and forecast exist (a day
    whose actual is unmeasured carries no error; counting it in the
    denominator would bias MAE low, identically in both engines) and
    MAPE additionally requiring nonzero actuals (a zero-revenue day
    would otherwise divide by zero — excluded in both engines
    identically).

    Scale: the daily rollup collapses the fact table to
    |event_type|×|days| rows BEFORE the join, so the seasonal lookup
    is an equi-join on a trivially small table; error sums are
    decimal-cast (MAPE terms at scale 12 to keep the per-day
    quotient exact enough to round to 6). Daily actuals are
    themselves exact decimal sums, so both engines compare identical
    doubles.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = _daily_revenue(ev, "actual")
    prior = daily.select(
        "event_type",
        F.date_add("d", 7).alias("d"),
        F.col("actual").alias("forecast"),
    )
    fc = daily.join(prior, ["event_type", "d"], "left").withColumn(
        "err", F.abs(F.col("actual") - F.col("forecast"))
    )
    scored_nz = F.when(
        F.col("err").isNotNull() & (F.col("actual") != 0), 1
    )
    return fc.groupBy("event_type").agg(
        F.count("err").cast("bigint").alias("n_scored_days"),
        F.round(
            F.sum(F.col("err").cast("decimal(30,6)")).cast("double")
            / F.count("err"),
            6,
        ).alias("mae"),
        F.round(
            F.sum(
                F.when(
                    F.col("actual") != 0,
                    (F.col("err") / F.abs(F.col("actual"))).cast(
                        "decimal(30,12)"
                    ),
                )
            ).cast("double")
            / F.count(scored_nz),
            6,
        ).alias("mape"),
    )


@register(
    "q_fuzzy_name_match",
    oracle="""
    WITH names AS (
      SELECT p_name AS name, split_part(p_name, ' ', 1) AS block,
             CAST(COUNT(*) AS BIGINT) AS n_parts
      FROM part GROUP BY 1, 2)
    SELECT a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist,
           a.n_parts * b.n_parts AS n_row_pairs
    FROM names a JOIN names b
      ON a.block = b.block AND a.name < b.name
    WHERE levenshtein(a.name, b.name) <= 3
    """,
)
def q_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy entity resolution over the part-name vocabulary:
    candidate pairs share a blocking key (first word), survive an
    edit-distance ≤ 3 filter, and report how many raw row pairs each
    name-level match covers.

    Scale: the classic ER optimization — dedupe to the DISTINCT name
    vocabulary first (orders of magnitude smaller than the part
    table), block, and only then pay the quadratic comparison inside
    blocks; the raw part table is touched exactly once. The
    self-join strategy is deliberately left to the optimizer: at a
    bounded vocabulary it broadcasts (statistics-driven), and if the
    vocabulary ever approached table size a forced broadcast would
    OOM where the fallback shuffle join on the block key still runs.
    Production refinement for skewed blocks is a second blocking key
    (name length band), noted but unnecessary at this vocabulary
    size.
    """
    part = load_table(spark, sf_dir, "part")
    names = part.groupBy(
        F.col("p_name").alias("name"),
        F.split("p_name", " ").getItem(0).alias("block"),
    ).agg(F.count("*").cast("bigint").alias("n_parts"))
    a = names.alias("a")
    b = names.alias("b")
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.name") < F.col("b.name")),
        )
        # Catalyst pushes the threshold back into the join condition
        # regardless of how this is phrased (verified on the optimized
        # plan), so levenshtein evaluates in the join filter and again
        # in the projection FOR SURVIVORS ONLY — the right trade: the
        # filter prunes inside the join, and survivors are few.
        .withColumn(
            "dist",
            F.levenshtein(F.col("a.name"), F.col("b.name")).cast("bigint"),
        )
        .filter(F.col("dist") <= 3)
        .select(
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
            "dist",
            (F.col("a.n_parts") * F.col("b.n_parts")).alias("n_row_pairs"),
        )
    )


_SQL_SPLIT_GRP = sql_split_hash("doc_id")


@register(
    "q_ab_test_welch",
    oracle=f"""
    WITH split AS (
      SELECT {_SQL_SPLIT_GRP} % 2 AS grp,
             n_chars AS x
      FROM documents),
    s AS (
      SELECT grp, CAST(COUNT(x) AS BIGINT) AS n,
             CAST(SUM(CAST(x AS DECIMAL(30,0))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sx2
      FROM split GROUP BY grp),
    m AS (
      SELECT grp, n, sx / n AS mean,
             (sx2 - sx * sx / n) / (n - 1) AS var
      FROM s),
    pair AS (
      SELECT a.n AS n_a, a.mean AS mean_a, a.var AS var_a,
             b.n AS n_b, b.mean AS mean_b, b.var AS var_b
      FROM m a JOIN m b ON a.grp = 0 AND b.grp = 1)
    SELECT n_a, round(mean_a, 6) AS mean_a, n_b,
           round(mean_b, 6) AS mean_b,
           round((mean_a - mean_b)
                 / sqrt(var_a / n_a + var_b / n_b), 6) AS t_stat,
           round(POWER(var_a / n_a + var_b / n_b, 2)
                 / (POWER(var_a / n_a, 2) / (n_a - 1)
                    + POWER(var_b / n_b, 2) / (n_b - 1)), 6) AS welch_df
    FROM pair
    """,
)
def q_ab_test_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample t-test of document length between the
    engine's deterministic hash splits (same ``md5('split:'||id) % 2``
    gate as q_drift_psi / text_train_test_split) — the experiment
    readout that decides whether an A/B difference is noise. Variance
    comes from the one-pass sufficient statistics (Σx, Σx², n), both
    DECIMAL-exact, so the t statistic is partitioning-invariant.

    Scale: a single scan producing two (n, Σx, Σx²) triples, then
    scalar arithmetic on a 2-row table self-joined into one row.
    This is the canonical "sufficient statistics, not data, move"
    pattern: the shuffle payload is 6 numbers.
    """
    docs = load_table(spark, sf_dir, "documents")
    grp = split_hash(F.col("doc_id")) % 2
    s = (
        docs.select(grp.alias("grp"), F.col("n_chars").alias("x"))
        .groupBy("grp")
        .agg(
            # COUNT(x), not COUNT(*): the sums skip NULL x, so the
            # denominator must count only MEASURED rows or the mean/
            # variance deflate identically in both engines (an
            # oracle-blind bias the gate cannot catch)
            F.count("x").cast("bigint").alias("n"),
            F.sum(F.col("x").cast("decimal(30,0)")).cast("double").alias("sx"),
            F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)"))
            .cast("double")
            .alias("sx2"),
        )
    )
    m = s.select(
        "grp",
        "n",
        (F.col("sx") / F.col("n")).alias("mean"),
        ((F.col("sx2") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1)).alias("var"),
    )
    a = m.filter(F.col("grp") == 0).alias("a")
    b = m.filter(F.col("grp") == 1).alias("b")
    se2 = F.col("a.var") / F.col("a.n") + F.col("b.var") / F.col("b.n")
    return a.crossJoin(F.broadcast(b)).select(
        F.col("a.n").alias("n_a"),
        F.round(F.col("a.mean"), 6).alias("mean_a"),
        F.col("b.n").alias("n_b"),
        F.round(F.col("b.mean"), 6).alias("mean_b"),
        F.round((F.col("a.mean") - F.col("b.mean")) / F.sqrt(se2), 6).alias(
            "t_stat"
        ),
        F.round(
            F.pow(se2, F.lit(2))
            / (
                F.pow(F.col("a.var") / F.col("a.n"), F.lit(2))
                / (F.col("a.n") - 1)
                + F.pow(F.col("b.var") / F.col("b.n"), F.lit(2))
                / (F.col("b.n") - 1)
            ),
            6,
        ).alias("welch_df"),
    )


@register(
    "q_skyline_parts",
    oracle="""
    WITH pmax AS (
      SELECT p_retailprice AS price, MAX(p_size) AS msize
      FROM part WHERE p_retailprice IS NOT NULL
      GROUP BY p_retailprice),
    sky AS (
      SELECT price, msize,
             MAX(msize) OVER (ORDER BY price
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS prev_max
      FROM pmax)
    SELECT p.p_partkey, p.p_retailprice, p.p_size
    FROM part p JOIN sky
      ON p.p_retailprice = sky.price AND p.p_size = sky.msize
    WHERE sky.prev_max IS NULL OR sky.msize > sky.prev_max
    """,
)
def q_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto skyline of parts: cheapest-for-their-size frontier
    (minimize retail price, maximize size; a part survives iff no
    other part is ≤ price AND ≥ size with one strict — exact ties on
    both axes all survive).

    Scale: the skyline is computed on the DISTINCT-price maxima
    (groupBy price → max size), so the running-max window sorts only
    |distinct prices| rows — never the part table; survivors join
    back by (price, size) equi-keys. At 100 TB the distinct-price
    table still fits one stage; if it didn't, the standard
    refinement is per-partition local skyline (monotone filter) then
    merge, which this plan's group-then-window structure already
    mirrors.
    """
    part = load_table(spark, sf_dir, "part")
    # NULL prices are incomparable under the dominance definition —
    # and Spark's ASC NULLS FIRST default would let a NULL-price
    # group's msize poison prev_max for every real price, where
    # DuckDB (NULLS LAST) would not. Exclude them from the frontier;
    # the join-back on price then drops NULL-price parts identically
    # in both engines (NULL never equi-matches).
    pmax = (
        part.filter(F.col("p_retailprice").isNotNull())
        .groupBy(F.col("p_retailprice").alias("price"))
        .agg(F.max("p_size").alias("msize"))
    )
    w = Window.orderBy("price").rowsBetween(Window.unboundedPreceding, -1)
    sky = pmax.withColumn("prev_max", F.max("msize").over(w)).filter(
        F.col("prev_max").isNull() | (F.col("msize") > F.col("prev_max"))
    )
    return part.join(
        F.broadcast(sky),
        (part.p_retailprice == sky.price) & (part.p_size == sky.msize),
    ).select("p_partkey", "p_retailprice", "p_size")


# Poisson(1) inverse-CDF thresholds (cumulative e^{-1} Σ 1/k!) —
# written as shared literals so both engines compare the SAME doubles.
_POIS_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
)
_N_BOOT = 20


def _sql_poisson(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(_POIS_CDF)
    )
    return f"(CASE {branches} ELSE 6 END)"


@register(
    "q_bootstrap_ci",
    oracle=f"""
    WITH reps AS (
      SELECT doc_id, n_chars AS x, r
      FROM documents, range({_N_BOOT}) t(r)
      WHERE n_chars IS NOT NULL),
    weighted AS (
      SELECT r,
             {_sql_poisson(sql_uniform01("bs", "CAST(r AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)"))}
               AS w, x
      FROM reps),
    per_rep AS (
      SELECT r,
             round(CAST(SUM(CAST(w * x AS DECIMAL(38,0))) AS DOUBLE)
                   / SUM(w), 9) AS m
      FROM weighted GROUP BY r),
    full_mean AS (
      SELECT round(CAST(SUM(CAST(n_chars AS DECIMAL(30,0))) AS DOUBLE)
                   / COUNT(n_chars), 9) AS pe
      FROM documents)
    SELECT CAST({_N_BOOT} AS BIGINT) AS n_replicas,
           (SELECT pe FROM full_mean) AS point_estimate,
           round(CAST(SUM(CAST(m AS DECIMAL(30,12))) AS DOUBLE)
                 / {_N_BOOT}, 6) AS boot_mean,
           round(sqrt((CAST(SUM(CAST(m * m AS DECIMAL(38,18))) AS DOUBLE)
                       - POWER(CAST(SUM(CAST(m AS DECIMAL(30,12)))
                                    AS DOUBLE), 2) / {_N_BOOT})
                      / ({_N_BOOT} - 1)), 6) AS boot_se,
           round(quantile_cont(m, 0.025), 6) AS ci_lo,
           round(quantile_cont(m, 0.975), 6) AS ci_hi
    FROM per_rep
    """,
)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson bootstrap of the mean document length:
    each of 20 replicas weights every row by Poisson(1) drawn from an
    md5-derived uniform (the streaming-scale bootstrap — no
    resampling pass, no shared RNG state), then the replica means
    yield a standard error and a percentile CI.

    Scale: the 20× row expansion happens map-side (explode of a
    literal range) and is absorbed immediately by a 20-group partial
    aggregation — the shuffle carries 20 rows of sufficient
    statistics no matter the corpus size. Replica means are rounded
    to 9 digits before the summary pass (libm-portability guard,
    same policy as q_weighted_sample's keys); all sums DECIMAL.
    """
    docs = load_table(spark, sf_dir, "documents")
    # measured rows only: an unmeasured (NULL n_chars) document must
    # not inflate SUM(w) or COUNT denominators — that bias would be
    # IDENTICAL in both twins, so the oracle gate cannot catch it
    reps = docs.filter(F.col("n_chars").isNotNull()).select(
        "doc_id",
        F.col("n_chars").alias("x"),
        F.explode(F.sequence(F.lit(0), F.lit(_N_BOOT - 1))).alias("r"),
    )
    u = uniform01(
        "bs",
        F.concat(
            F.col("r").cast("string"),
            F.lit(":"),
            F.col("doc_id").cast("string"),
        ),
    )
    w = F.lit(6)
    for k in range(len(_POIS_CDF) - 1, -1, -1):
        w = F.when(u < _POIS_CDF[k], F.lit(k)).otherwise(w)
    per_rep = (
        reps.withColumn("w", w)
        .groupBy("r")
        .agg(
            F.round(
                F.sum((F.col("w") * F.col("x")).cast("decimal(38,0)")).cast(
                    "double"
                )
                / F.sum("w"),
                9,
            ).alias("m")
        )
    )
    full_mean = docs.agg(
        F.round(
            F.sum(F.col("n_chars").cast("decimal(30,0)")).cast("double")
            / F.count("n_chars"),
            9,
        ).alias("pe")
    )
    sm = F.sum(F.col("m").cast("decimal(30,12)")).cast("double")
    sm2 = F.sum((F.col("m") * F.col("m")).cast("decimal(38,18)")).cast(
        "double"
    )
    return (
        per_rep.crossJoin(F.broadcast(full_mean))
        .groupBy()
        .agg(
            F.lit(_N_BOOT).cast("bigint").alias("n_replicas"),
            F.any_value("pe").alias("point_estimate"),
            F.round(sm / _N_BOOT, 6).alias("boot_mean"),
            F.round(
                F.sqrt(
                    (sm2 - F.pow(sm, F.lit(2)) / _N_BOOT) / (_N_BOOT - 1)
                ),
                6,
            ).alias("boot_se"),
            F.round(F.percentile("m", F.lit(0.025)), 6).alias("ci_lo"),
            F.round(F.percentile("m", F.lit(0.975)), 6).alias("ci_hi"),
        )
    )


@register(
    "q_rfm_segments",
    oracle="""
    WITH mx AS (SELECT MAX(ts) AS tmax FROM events),
    rfm AS (
      SELECT user_id,
             date_diff('day', CAST(MAX(ts) AS DATE),
                       CAST((SELECT tmax FROM mx) AS DATE)) AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             round(CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE), 2)
               AS monetary
      FROM events GROUP BY user_id)
    SELECT user_id, CAST(recency_days AS BIGINT) AS recency_days,
           frequency, monetary,
           CASE WHEN recency_days <= 7 AND frequency >= 100
                  THEN 'champion'
                WHEN recency_days <= 7 THEN 'recent'
                WHEN frequency >= 100 THEN 'loyal'
                WHEN recency_days > 21 THEN 'at_risk'
                ELSE 'regular' END AS segment
    FROM rfm
    """,
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) feature extraction with
    rule-based segmentation — the canonical churn/value labeling pass
    a marketing or retention model trains on.

    Scale: one grouped aggregation per user (map-side combinable);
    the corpus max timestamp is a broadcast 1-row aggregate
    (crossJoin pattern), so no second scan and no driver action.
    Fixed rule thresholds keep the op single-pass — quantile-based
    scoring would add one `approx_percentile` pass over the
    already-aggregated user table.
    """
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("tmax"))
    rfm = (
        ev.groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count("*").cast("bigint").alias("frequency"),
            F.round(
                F.sum(F.col("value").cast("decimal(30,2)")).cast("double"), 2
            ).alias("monetary"),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            "user_id",
            F.datediff(F.col("tmax").cast("date"), F.col("last_ts").cast("date"))
            .cast("bigint")
            .alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    return rfm.withColumn(
        "segment",
        F.when(
            (F.col("recency_days") <= 7) & (F.col("frequency") >= 100),
            "champion",
        )
        .when(F.col("recency_days") <= 7, "recent")
        .when(F.col("frequency") >= 100, "loyal")
        .when(F.col("recency_days") > 21, "at_risk")
        .otherwise("regular"),
    )


@register(
    "q_dp_count_release",
    oracle=f"""
    WITH c AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type),
    noised AS (
      SELECT event_type, n,
             {sql_uniform01('dp', 'event_type', mod=999999)} - 0.5 AS v
      FROM c)
    SELECT event_type, n,
           round(n - sign(v) * ln(1.0 - 2.0 * abs(v)), 6) AS noisy_n
    FROM noised
    """,
)
def q_dp_count_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release: per-type event counts
    with Laplace(1/ε) noise (ε=1, sensitivity 1) drawn by inverse
    CDF from an md5-derived uniform — deterministic here so the
    oracle can verify the MECHANISM's plan; a production release
    would draw fresh randomness and drop the true ``n`` column
    (both noted so the op is honest about what it demonstrates).

    Scale: the aggregate is the whole cost; noise is O(|groups|)
    scalar math after the shuffle. This is the aggregate-then-noise
    shape every DP analytics system (e.g. plume-style pipelines)
    uses — noise must be added post-aggregation, once per released
    statistic, never per row.
    """
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("event_type").agg(F.count("*").cast("bigint").alias("n"))
    # modulus 999999 (not 1e6): keeps u in [1e-6, 0.999999] so the
    # Laplace inverse CDF is finite on both tails.
    u = uniform01("dp", F.col("event_type"), mod=999999)
    v = u - 0.5
    return c.select(
        "event_type",
        "n",
        F.round(
            F.col("n")
            - F.signum(v) * F.log(F.lit(1.0) - 2.0 * F.abs(v)),
            6,
        ).alias("noisy_n"),
    )


# --- time-series subsequence similarity search ------------------------------

_TSS_W = 7        # window length (days)
_TSS_TOPK = 10
# z-normalized query pattern: a linear 7-day ramp [1..7] has mean 4
# and population std exactly 2, so q_i = (i-4)/2 — "find the
# strongest 7-day uptrends".
_TSS_Q = tuple((i - 4) / 2 for i in range(1, 8))
# zdist2 is an explicit LEFT-TO-RIGHT sum of the 7 per-position terms
# (identical IEEE double ops in both engines) — a decimal fold is NOT
# exact here: the terms are irrational at any fixed scale, and Spark's
# decimal addition rounds each partial sum at scale 11, while DuckDB's
# list_sum keeps scale 12 — a near-boundary window could round to
# different 6-dp values. Plain ordered double addition is bit-identical.
_SQL_ZSUM = " + ".join(
    f"POWER((s[{i}] - m) / sqrt(m2 - m * m) - ({q}), 2)"
    for i, q in enumerate(_TSS_Q, start=1)
)


@register(
    "q_ts_similarity_search",
    oracle=f"""
    WITH daily AS ({_SQL_DAILY_REVENUE.format(alias="v")}),
    win AS (
      SELECT event_type, d AS start_day,
             list(v) OVER (PARTITION BY event_type ORDER BY d
                           ROWS BETWEEN CURRENT ROW
                           AND {_TSS_W - 1} FOLLOWING) AS s,
             max(d) OVER (PARTITION BY event_type ORDER BY d
                          ROWS BETWEEN CURRENT ROW
                          AND {_TSS_W - 1} FOLLOWING) AS last_d
      FROM daily),
    full_win AS (
      SELECT * FROM win
      WHERE len(s) = {_TSS_W}
        AND last_d = start_day + INTERVAL {_TSS_W - 1} DAY),
    stats AS (
      SELECT event_type, start_day, s,
             CAST(list_sum(list_transform(s,
                    x -> CAST(x AS DECIMAL(30,2)))) AS DOUBLE)
               / {_TSS_W} AS m,
             CAST(list_sum(list_transform(s,
                    x -> CAST(x * x AS DECIMAL(38,4)))) AS DOUBLE)
               / {_TSS_W} AS m2
      FROM full_win),
    zdist AS (
      SELECT event_type, start_day,
             round({_SQL_ZSUM}, 6) AS zdist2
      FROM stats WHERE m2 - m * m > 0)
    SELECT event_type, CAST(start_day AS TIMESTAMP) AS start_day, zdist2
    FROM zdist
    ORDER BY zdist2, event_type, start_day
    LIMIT {_TSS_TOPK}
    """,
)
def q_ts_similarity_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} time-series subsequence similarity search: slide a
    7-day window over each event type's daily revenue series and
    rank windows by z-normalized Euclidean distance to a query
    pattern (a linear ramp — i.e. find the strongest week-long
    uptrends). Windows must cover exactly 7 CONSECUTIVE calendar
    days — a gapped series may not stitch non-adjacent days into a
    "week" (frame-span check in both engines). The UCR-suite/Matrix-Profile primitive, restated as a
    window + higher-order-function plan (cf. the distributed
    data-series search literature, e.g. Odyssey VLDB'23).

    Scale: the fact table collapses to |type|×|days| daily points
    BEFORE any window; subsequence extraction is a per-type ordered
    frame (never global); z-normalization uses decimal-exact window
    sums; the global top-k is TakeOrdered over the bounded window
    table — no global sort, no rank column, total tie order
    (dist, type, day). Flat windows (zero variance) are excluded —
    z-normalization is undefined there.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = _daily_revenue(ev, "v")
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.currentRow, _TSS_W - 1)
    )
    win = daily.select(
        "event_type",
        F.col("d").alias("start_day"),
        F.collect_list("v").over(w).alias("s"),
        F.max("d").over(w).alias("last_d"),
    ).filter(
        (F.size("s") == _TSS_W)
        # a gapped series must not stitch non-consecutive days into
        # one "week": the frame must span exactly W calendar days
        & (F.datediff("last_d", "start_day") == _TSS_W - 1)
    )
    dec_sum = lambda arr: F.aggregate(  # noqa: E731 — exact decimal fold
        arr,
        F.lit(0).cast("decimal(38,12)"),
        lambda a, x: (a + x).cast("decimal(38,12)"),
    ).cast("double")
    m = (
        dec_sum(F.transform(F.col("s"), lambda x: x.cast("decimal(30,2)")))
        / _TSS_W
    )
    m2 = (
        dec_sum(
            F.transform(F.col("s"), lambda x: (x * x).cast("decimal(38,4)"))
        )
        / _TSS_W
    )
    stats = win.select(
        "event_type", "start_day", "s", m.alias("m"), m2.alias("m2")
    ).filter(F.col("m2") - F.col("m") * F.col("m") > 0)
    std = F.sqrt(F.col("m2") - F.col("m") * F.col("m"))
    acc = None
    for i, q in enumerate(_TSS_Q, start=1):
        term = F.pow(
            (F.element_at(F.col("s"), i) - F.col("m")) / std - F.lit(q),
            F.lit(2),
        )
        acc = term if acc is None else acc + term
    zdist2 = F.round(acc, 6)
    return (
        stats.select(
            "event_type",
            F.col("start_day").cast("timestamp").alias("start_day"),
            zdist2.alias("zdist2"),
        )
        .orderBy("zdist2", "event_type", "start_day")
        .limit(_TSS_TOPK)
    )
