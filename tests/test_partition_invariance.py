"""Engine-wide determinism: representative queries must return
byte-identical results regardless of shuffle parallelism — the
property that makes results stable when the cluster size changes
(the session's shuffle partition count follows its cores)."""

from __future__ import annotations

import pytest

from map_reduce_server_spark import registry

registry.load_all()

REPRESENTATIVE = [
    "q1_pricing_summary",   # exact decimal aggregation
    "q_window_funcs",       # window ordering with tiebreaks
    "dedup_minhash_lsh",    # hash-join candidate generation
    "q_topk_per_group",     # rank ≤ k
    "q_domain_mixture",     # exact-rational hash sampling
    "q_scd2_customer_orders",  # window lead with unique tiebreak
    "q_bootstrap_ci",       # decimal-exact replica folds
    "q_gini_concentration", # decimal Lorenz sums + per-nation rank
    "q_ts_similarity_search",  # decimal array folds + TakeOrdered
    "q_bucketed_join",      # exchange-free co-located join
    "q_session_concurrency",  # two-pass range-partitioned prefix sum
    "q_equidepth_histogram",  # count-bounded boundary sample
]


@pytest.mark.parametrize("name", REPRESENTATIVE)
def test_result_invariant_to_shuffle_partitions(spark, sf_small, name):
    def run():
        df = registry.QUERIES[name](spark, sf_small)
        return sorted(
            tuple(str(v) for v in row) for row in df.collect()
        )

    session_value = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        base = run()
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        alt = run()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", session_value)
    assert base == alt


def test_approx_count_distinct_within_rsd(spark, sf_small):
    """Sketch accuracy: HLL++ at rsd=0.01 must land within ~5 rsd of
    the exact count (very loose bound; catches wiring errors, not
    the estimator's luck)."""
    from pyspark.sql import functions as F

    from map_reduce_server_spark.tables import load_table

    li = load_table(spark, sf_small, "lineitem")
    row = li.agg(
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx"),
        F.countDistinct("l_partkey").alias("exact"),
    ).first()
    assert abs(row.approx - row.exact) <= max(5, 0.05 * row.exact)
