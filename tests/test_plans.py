"""Plan-quality gates: the optimizations the engine relies on must be
visible in the physical plan — pushdown, pruning, broadcast joins,
whole-stage codegen. A regression here is a performance bug even if
results stay correct.
"""

from __future__ import annotations

import pytest

from map_reduce_server_spark import registry
from map_reduce_server_spark.plans import explain_str

registry.load_all()


def test_q1_pushdown_and_pruning(spark, sf_small):
    df = registry.QUERIES["q1_pricing_summary"](spark, sf_small)
    plan = explain_str(df)
    # shipdate filter reaches the parquet scan
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1].split("\n")[0]
    # column pruning: unused lineitem columns are not read
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    assert "l_orderkey" not in read_schema
    assert "l_partkey" not in read_schema


def test_q3_broadcasts_dimension(spark, sf_small):
    df = registry.QUERIES["q3_shipping_priority"](spark, sf_small)
    plan = explain_str(df)
    assert "BroadcastHashJoin" in plan


def test_q5_broadcasts_all_dims(spark, sf_small):
    df = registry.QUERIES["q5_local_supplier_volume"](spark, sf_small)
    plan = explain_str(df)
    # four dimension joins broadcast; the lineitem⋈orders fact join may
    # be sort-merge or (after AQE at this scale) broadcast too.
    assert plan.count("BroadcastHashJoin") >= 4


def test_q1_stays_in_codegen(spark, sf_small):
    # AQE's pre-execution explain hides codegen spans; turn it off for
    # the inspection only.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = registry.QUERIES["q1_pricing_summary"](spark, sf_small)
        plan = explain_str(df)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "codegen id" in plan  # whole-stage codegen spans present
    # no Python evaluation nodes in a pure relational query
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_range_join_is_not_cartesian(spark, sf_small):
    df = registry.QUERIES["q_range_join"](spark, sf_small)
    plan = explain_str(df)
    # the bucketized formulation must equi-join, never degrade to a
    # per-key cartesian / nested-loop product
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_minhash_no_cartesian(spark, sf_small):
    df = registry.QUERIES["dedup_minhash_lsh"](spark, sf_small)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan  # banding = equi-join, not all-pairs


def test_wordcount_prunes_to_text_column(spark, sf_small):
    df = registry.QUERIES["wordcount"](spark, sf_small)
    plan = explain_str(df)
    read = plan.split("ReadSchema")[1].split("\n")[0]
    assert "text" in read
    assert "doc_id" not in read and "lang" not in read


def test_topk_gets_window_group_limit(spark, sf_small):
    """rank ≤ k filters must trigger WindowGroupLimit — Spark's
    partial top-k that prunes each partition to k rows BEFORE the
    window shuffle, so the shuffle carries k rows per group and
    partition."""
    for name in ("q_topk_per_group", "ann_topk_bruteforce", "ann_topk_lsh"):
        plan = explain_str(registry.QUERIES[name](spark, sf_small))
        assert "WindowGroupLimit" in plan, name


def test_broadcast_hint_overrides_threshold(spark, sf_small):
    """SQL join hints: /*+ BROADCAST */ must force a broadcast join
    even with auto-broadcast disabled."""
    from map_reduce_server_spark.tables import load_table

    load_table(spark, sf_small, "lineitem").createOrReplaceTempView("li_hint")
    load_table(spark, sf_small, "orders").createOrReplaceTempView("ord_hint")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = spark.sql(
            """
            SELECT /*+ BROADCAST(ord_hint) */ COUNT(*) AS n
            FROM li_hint JOIN ord_hint ON l_orderkey = o_orderkey
            """
        )
        plan = explain_str(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    assert "BroadcastHashJoin" in plan


def test_ann_bruteforce_broadcasts_queries(spark, sf_small):
    df = registry.QUERIES["ann_topk_bruteforce"](spark, sf_small)
    plan = explain_str(df)
    assert "Broadcast" in plan  # query set must broadcast, corpus must not shuffle


def test_decontaminate_broadcasts_eval_side(spark, sf_small):
    """The eval-set gram table is benchmark-sized, so the contamination
    join broadcasts it and the train side takes no shuffle."""
    df = registry.QUERIES["text_decontaminate"](spark, sf_small)
    plan = explain_str(df)
    assert "BroadcastHashJoin" in plan


def test_stratified_sample_is_narrow(spark, sf_small):
    """Deterministic hash sampling must be a pure scan+filter — no
    exchange anywhere in the plan (zero shuffles at any scale)."""
    df = registry.QUERIES["q_stratified_sample"](spark, sf_small)
    plan = explain_str(df)
    assert "Exchange" not in plan


def test_q6_full_pushdown_no_shuffle_joins(spark, sf_small):
    """Q6 is the canonical pushdown probe: every predicate must reach
    the parquet scan and the plan must contain no join at all."""
    df = registry.QUERIES["q6_forecast_revenue"](spark, sf_small)
    plan = explain_str(df)
    pushed = plan.split("PushedFilters")[1].split("\n")[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, col
    read = plan.split("ReadSchema")[1].split("\n")[0]
    assert "l_orderkey" not in read and "l_partkey" not in read
    assert "Join" not in plan


def test_q19_disjunction_stays_equi_join(spark, sf_small):
    """Q19's OR-of-ANDs shares p_partkey = l_partkey across all
    branches; the plan must keep the equi join with the disjunction
    as a residual, never degrade to a cartesian/nested-loop product."""
    df = registry.QUERIES["q19_disjunctive_revenue"](spark, sf_small)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_q4_semi_join_not_aggregate_rewrite(spark, sf_small):
    """EXISTS must decorrelate into a LeftSemi join (one pass over
    lineitem, no distinct/aggregate materialization of the subquery)."""
    df = registry.QUERIES["q4_order_priority"](spark, sf_small)
    plan = explain_str(df)
    assert "LeftSemi" in plan


def test_q22_anti_join(spark, sf_small):
    df = registry.QUERIES["q22_dormant_customers"](spark, sf_small)
    plan = explain_str(df)
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def n_parquet_scans(plan: str) -> int:
    """Count scans via the formatted explain's detail sections —
    each scan appears once as "(N) Scan parquet" (the tree section
    lists it a second time, so a raw substring count double-counts)."""
    import re

    return len(re.findall(r"^\(\d+\) Scan parquet", plan, re.MULTILINE))


def test_profile_columns_single_scan(spark, sf_small):
    """The one-pass profiling claim, pinned: multi-column
    null/distinct/min/max must read the fact table exactly once
    (Catalyst Expand), not once per column like the oracle."""
    df = registry.QUERIES["q_profile_columns"](spark, sf_small)
    assert n_parquet_scans(explain_str(df)) == 1


def test_time_rollup_single_scan(spark, sf_small):
    """The rollup cascade reads raw events once (checkpointed hourly
    grain); day and month aggregate the previous grain, never rescan
    the fact. Without the checkpoint each union branch re-evaluated
    the subtree: three raw scans."""
    df = registry.QUERIES["q_time_rollup"](spark, sf_small)
    assert n_parquet_scans(explain_str(df)) == 0  # checkpointed RDD, no parquet scan at all


def test_q21_no_cartesian_two_fact_shuffles(spark, sf_small):
    # The double-EXISTS rewrite must stay equi-join aggregates — a
    # naive translation self-joins lineitem three times (or worse,
    # goes cartesian on the <> residual).
    df = registry.QUERIES["q21_waiting_suppliers"](spark, sf_small)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q2_broadcasts_dims_no_cartesian(spark, sf_small):
    df = registry.QUERIES["q2_min_cost_supplier"](spark, sf_small)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    # supplier+nation+region bundle, part, and the per-part min are
    # all broadcast sides.
    assert plan.count("BroadcastHashJoin") >= 3


def test_q9_broadcasts_dims(spark, sf_small):
    df = registry.QUERIES["q9_product_profit"](spark, sf_small)
    plan = explain_str(df)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_q20_semi_join_chain(spark, sf_small):
    # Both IN subqueries must become (broadcast) semi joins, not
    # aggregated-IN materializations through the driver.
    df = registry.QUERIES["q20_part_promotion"](spark, sf_small)
    plan = explain_str(df)
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_pack_sequences_windows_per_source(spark, sf_small):
    # The prefix sum must be partitioned by source — a global window
    # (empty PartitionBy) serializes the corpus through one task.
    df = registry.QUERIES["q_pack_sequences"](spark, sf_small)
    plan = explain_str(df, mode="simple")
    # the physical Window node's spec must start with the source
    # partition column, and the exchange hashes on source
    assert "windowspecdefinition(source" in plan
    assert "hashpartitioning(source" in plan


def test_oov_vocab_is_broadcast(spark, sf_small):
    df = registry.QUERIES["text_oov_rate"](spark, sf_small)
    plan = explain_str(df)
    assert "BroadcastHashJoin" in plan


def test_partitioned_layout_prunes(spark, sf_small, tmp_path):
    # Re-create the layout the query uses and assert the year filter
    # becomes a PartitionFilter (directory pruning), not a data filter.
    from map_reduce_server_spark.tables import load_table
    from pyspark.sql import functions as F

    orders = load_table(spark, sf_small, "orders").select(
        "o_orderstatus", "o_totalprice",
        F.year("o_orderdate").cast("long").alias("o_year"),
    )
    path = str(tmp_path / "orders_by_year")
    orders.write.mode("overwrite").partitionBy("o_year").parquet(path)
    df = spark.read.parquet(path).filter(F.col("o_year").isin(1996, 1997))
    plan = explain_str(df)
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters")[1].split("\n")[0]
    assert "o_year" in seg
    # and the filter is NOT pushed as a data-file filter (either no
    # PushedFilters section at all, or one that omits o_year)
    if "PushedFilters" in plan:
        pushed = plan.split("PushedFilters")[1].split("\n")[0]
        assert "o_year" not in pushed


def test_point_in_time_join_is_joinless_single_shuffle(spark, sf_small):
    """The as-of enrichment must stay the union+window formulation:
    zero join operators and exactly one hash exchange (user_id) —
    the property that makes it O(stream) at any dimension cardinality."""
    df = registry.QUERIES["q_point_in_time_join"](spark, sf_small)
    plan = explain_str(df, mode="simple")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


# Queries whose GLOBAL (partition-less) window is intentional and
# documented: the sampled equi-depth histogram ranks only its
# COUNT-BOUNDED boundary sample — the gate md5 % greatest(1, n div
# 10000) keeps the expected sample under 20k rows whenever n ≥ 20k
# (worst case just below a gate step, e.g. n=19,999 → gate 1), and
# below that the "sample" is the table itself, which is already
# tiny — so the single window task's input is bounded in ABSOLUTE
# terms at any corpus size (range-partitioner style); its _exact
# NTILE twin needs a global rank by construction.
_GLOBAL_WINDOW_ALLOWLIST = {
    "q_equidepth_histogram",
    "q_equidepth_histogram_exact",
    # running max over DISTINCT prices (a grouped aggregate), never
    # the base table — documented in the docstring
    "q_skyline_parts",
    # row_number over the character-pair vocabulary, bounded by
    # |alphabet|^2 regardless of corpus size
    "text_bpe_train",
    # row_number over each retrieval leg's top-_RRF_CAND candidates,
    # after the limit: 50 rows at any corpus size
    "q_hybrid_retrieval_rrf",
}


@pytest.fixture(scope="module")
def simple_plans(spark, sf_small):
    """The simple plan of every registered query, built once and
    shared by the registry-wide lints below. stream_*/mr_* are
    excluded: calling them executes side effects; their windows are
    post-hoc reconciliation over tiny state."""
    return {
        name: explain_str(fn(spark, sf_small), mode="simple")
        for name, fn in registry.QUERIES.items()
        if not name.startswith(("stream_", "mr_"))
    }


def test_no_unintentional_global_windows_or_cartesians(simple_plans):
    """Registry-wide lint, one plan sweep, two hazards: (a) a window
    without PARTITION BY serializes the whole input through one task;
    (b) a CartesianProduct (non-broadcast cross join) is quadratic.
    Global windows must be on the explicit allowlist; cartesians are
    never allowed (broadcast crossJoins against scalar/tiny sides
    compile to BroadcastNestedLoopJoin, which is fine and not
    flagged)."""
    import re

    window_offenders = set()
    cartesian_offenders = set()
    for name, plan in simple_plans.items():
        if "CartesianProduct" in plan:
            cartesian_offenders.add(name)
        for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
            first = m.group(1).split(",")[0].strip()
            if re.search(r"(ASC|DESC)", first) or first.startswith(
                "specifiedwindowframe"
            ):
                window_offenders.add(name)
                break
    assert window_offenders <= _GLOBAL_WINDOW_ALLOWLIST, (
        window_offenders - _GLOBAL_WINDOW_ALLOWLIST
    )
    assert not cartesian_offenders, cartesian_offenders


def test_multimodal_plans_have_one_python_stage(simple_plans):
    """Every Python-staged multimodal query encodes and decodes in
    ONE row-wise Arrow stage, so the encoded payload never crosses
    back to the JVM between an encode and a decode stage;
    multimodal_meta needs no Python stage at all."""
    counts = {
        name: plan.count("MapInPandas")
        for name, plan in simple_plans.items()
        if name.startswith("multimodal_")
    }
    assert len(counts) == 20
    assert counts.pop("multimodal_meta") == 0
    assert set(counts.values()) == {1}, counts


def test_pagerank_iteration_shuffle_inventory(spark, sf_small):
    """Pin what IS true of the default (checkpointed) PageRank path:
    a checkpointed scan advertises UnknownPartitioning, so one
    iteration re-shuffles the adjacency (by src) and rank (by node)
    sides plus the contribution aggregate — at most 4 hash exchanges,
    all over compact (id, double) columns. The returned DataFrame is
    the LAST iteration un-checkpointed, so its plan is exactly one
    iteration's."""
    import re

    from map_reduce_server_spark.operators.clustering import (
        _trade_edges,
        pagerank,
    )

    ranks = pagerank(_trade_edges(spark, sf_small))
    plan = explain_str(ranks, mode="simple")
    hashex = re.findall(r"Exchange hashpartitioning\((\w+)#", plan)
    assert len(hashex) <= 4, hashex
    # every shuffled column is a compact graph column
    assert set(hashex) <= {"src", "dst", "node"}, hashex


def test_single_partition_exchanges_are_aggregate_combines(simple_plans):
    """Registry-wide lint #2: an Exchange SinglePartition is only
    acceptable as the final combine of a GLOBAL AGGREGATE (its child
    is a partial HashAggregate over map-side-combined rows — a few
    rows per task, any scale). A single-partition exchange feeding
    anything else funnels RAW data through one task; the only
    sanctioned cases are the allowlisted global windows."""
    offenders = []
    for name, plan in simple_plans.items():
        if name in _GLOBAL_WINDOW_ALLOWLIST:
            continue
        lines = plan.splitlines()
        for i, line in enumerate(lines):
            if "Exchange SinglePartition" not in line:
                continue
            child = lines[i + 1] if i + 1 < len(lines) else ""
            if not any(
                agg in child
                for agg in ("HashAggregate", "SortAggregate",
                            "ObjectHashAggregate")
            ):
                offenders.append((name, child.strip()[:80]))
    assert not offenders, offenders


def test_gini_window_partitioned_not_global(spark, sf_small):
    """The Lorenz rank must partition by nation — a global-sort
    window would serialize the whole customer table at scale."""
    df = registry.QUERIES["q_gini_concentration"](spark, sf_small)
    plan = explain_str(df)
    assert "Window" in plan
    # every Sort feeding the window is nationkey-prefixed, not global
    for frag in plan.split("Sort ")[1:]:
        head = frag.split("\n")[0]
        if "rev" in head:
            assert "nationkey" in head


def test_skyline_window_over_distinct_prices_only(spark, sf_small):
    """The running-max window must consume the price-grouped
    aggregate, never the raw part table (the whole point of the
    group-then-window plan)."""
    df = registry.QUERIES["q_skyline_parts"](spark, sf_small)
    plan = explain_str(df, "extended")
    # logical shape: Window sits above an Aggregate on p_retailprice
    opt = plan.split("== Optimized Logical Plan ==")[1]
    assert opt.index("Window") < opt.index("Aggregate")
    assert "BroadcastHashJoin" in explain_str(df)


def test_bootstrap_shuffle_is_replica_sized(spark, sf_small):
    """The 20x explode must be absorbed by partial aggregation:
    exactly one exchange keyed by r (plus the scalar broadcast), and
    no exchange carrying doc_id."""
    df = registry.QUERIES["q_bootstrap_ci"](spark, sf_small)
    plan = explain_str(df)
    for frag in plan.split("Exchange hashpartitioning(")[1:]:
        key = frag.split(",")[0]
        assert "doc_id" not in key
    assert "partial" in plan.lower()  # map-side combine present


def test_fuzzy_match_broadcasts_vocabulary(spark, sf_small):
    df = registry.QUERIES["q_fuzzy_name_match"](spark, sf_small)
    plan = explain_str(df)
    assert "BroadcastHashJoin" in plan
    # blocking key join, never a cartesian
    assert "CartesianProduct" not in plan


def test_knn_classifier_no_python_eval(spark, sf_small):
    df = registry.QUERIES["q_knn_classifier"](spark, sf_small)
    plan = explain_str(df)
    assert "BatchEvalPython" not in plan


def test_lateral_topk_decorrelates_to_window_group_limit(spark, sf_small):
    """q_lateral_topk must decorrelate: WindowGroupLimit
    (per-key limit pushed below the exchange) + broadcast of the
    25-row nation dimension, never a nested-loop / cartesian
    re-execution per outer row."""
    from map_reduce_server_spark.operators.subqueries import q_lateral_topk

    plan = explain_str(q_lateral_topk(spark, sf_small))
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bitmap_distinct_partial_aggregates(spark, sf_small):
    """q_bitmap_distinct's level-1 bit_or must plan as a
    partial+final hash aggregate — the map side collapses each
    partition's ids into local words BEFORE the shuffle, which is
    the whole point of the bitmap formulation — with no Expand node
    (the COUNT(DISTINCT) rewrite it replaces)."""
    from map_reduce_server_spark.operators.advanced import q_bitmap_distinct

    plan = explain_str(q_bitmap_distinct(spark, sf_small))
    assert "partial_bit_or" in plan or "partial_" in plan
    assert "Expand" not in plan


def test_inverted_index_no_raw_token_shuffle(spark, sf_small):
    """text_inverted_index must aggregate partially before
    each exchange (raw exploded token occurrences never shuffle) and
    stay out of Python row UDFs."""
    from map_reduce_server_spark.operators.text import text_inverted_index

    plan = explain_str(text_inverted_index(spark, sf_small))
    assert "partial_count" in plan
    assert "BatchEvalPython" not in plan
