"""Connected-components exactness on hand-built graphs."""

from __future__ import annotations

from map_reduce_server_spark.operators.clustering import connected_components


def _cc(spark, edges):
    df = spark.createDataFrame(edges, ["src", "dst"])
    return {
        (r.node, r.component) for r in connected_components(df).collect()
    }


def test_single_chain(spark):
    # chain 1-2-3-4 → all labeled 1
    got = _cc(spark, [(1, 2), (2, 3), (3, 4)])
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1)}


def test_two_components_and_cycle(spark):
    got = _cc(spark, [(5, 6), (6, 7), (7, 5), (10, 11)])
    assert got == {(5, 5), (6, 5), (7, 5), (10, 10), (11, 10)}


def test_long_chain_needs_propagation(spark):
    # 10-node chain: diameter forces multiple iterations
    edges = [(i, i + 1) for i in range(1, 10)]
    got = _cc(spark, edges)
    assert got == {(i, 1) for i in range(1, 11)}


def test_dedup_cluster_runs(spark, sf_small):
    from map_reduce_server_spark.operators.clustering import dedup_cluster

    out = dedup_cluster(spark, sf_small)
    rows = out.collect()
    assert len(rows) == 500  # one row per document
    # cluster representative is always ≤ member id
    assert all(r.cluster_id <= r.doc_id for r in rows)


def test_diameter_25_chain_converges_exactly(spark):
    # Diameter-25 chain — silently-capped propagation (the round-1
    # implementation) would return wrong labels here; pointer jumping
    # must converge well within the iteration budget.
    edges = [(i, i + 1) for i in range(1, 26)]
    got = _cc(spark, edges)
    assert got == {(i, 1) for i in range(1, 27)}


def test_long_chain_pointer_jumping_budget(spark):
    # 120-node chain (diameter 119): plain min-propagation needs ~119
    # iterations; pointer jumping must finish within ~log2(119)+slack.
    edges = [(i, i + 1) for i in range(1, 120)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        (r.node, r.component)
        for r in connected_components(df, max_iter=15).collect()
    }
    assert got == {(i, 1) for i in range(1, 121)}


def test_nonconvergence_raises(spark):
    import pytest

    edges = [(i, i + 1) for i in range(1, 40)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=1)


def test_pagerank_empty_graph(spark):
    """An empty edge list has no nodes: PageRank returns 0 rows
    (the node count is 0, so no teleport base can be formed)."""
    from map_reduce_server_spark.operators.clustering import pagerank

    edges = spark.createDataFrame([], "src bigint, dst bigint")
    assert pagerank(edges).count() == 0


def test_graph_loops_run_no_driver_count(spark, monkeypatch):
    """The loops steer on scalars their stage cuts observe (the node
    count, changed labels, the frontier size): with ``DataFrame.count``
    raising, connected components, PageRank and BFS still return
    their exact results."""
    from map_reduce_server_spark.operators.clustering import bfs_hops, pagerank

    edges = [(1, 2), (2, 3), (5, 6)]
    cc_edges = spark.createDataFrame(edges, ["src", "dst"])
    pr_edges = spark.createDataFrame(
        edges + [(b, a) for a, b in edges], ["src", "dst"]
    )
    bfs_edges = spark.createDataFrame(edges, ["u", "v"])

    def no_count(self):
        raise AssertionError("a graph loop ran a driver-side count()")

    monkeypatch.setattr(type(cc_edges), "count", no_count)
    got = {(r.node, r.component) for r in connected_components(cc_edges).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (5, 5), (6, 5)}
    ranks = {r.node: r.rank for r in pagerank(pr_edges).collect()}
    assert set(ranks) == {1, 2, 3, 5, 6}
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    got = {(r.node, r.hops) for r in bfs_hops(bfs_edges, 3).collect()}
    assert got == {(1, 0), (2, 1), (3, 2)}


def test_cc_empty_edge_list_on_bounded_thread(spark, call_with_timeout):
    """An empty edge list observes zero nodes and zero changed labels
    and returns no rows. ``Observation.get`` waits with no timeout, so
    the run goes on a thread joined with a bound: metrics that never
    arrive fail this test instead of stalling the suite."""
    edges = spark.createDataFrame([], "src bigint, dst bigint")
    rows = call_with_timeout(lambda: connected_components(edges).collect(), 300)
    assert rows == []


def test_pagerank_hand_computed_star(spark):
    """3-node path graph a-b-c (symmetrized): after any number of
    iterations the center holds more mass than the leaves, ranks sum
    to 1, and one exact iteration is verifiable by hand:
    r1(leaf) = 0.05 + 0.85·(r0(b)/2) ; r1(center) = 0.05 + 0.85·(r0(a)+r0(c))."""
    from map_reduce_server_spark.operators.clustering import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], ["src", "dst"]
    )
    got = {
        r.node: r.rank
        for r in pagerank(edges, iters=1, damping=0.85).collect()
    }
    third = 1.0 / 3.0
    exp_leaf = 0.15 / 3 + 0.85 * (third / 2)
    exp_center = 0.15 / 3 + 0.85 * (third + third)
    assert abs(got[1] - exp_leaf) < 1e-12
    assert abs(got[3] - exp_leaf) < 1e-12
    assert abs(got[2] - exp_center) < 1e-12
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_mass_conserved(spark, sf_small):
    """On the symmetrized trade graph (no dangling nodes) total rank
    mass stays 1 through every iteration."""
    from map_reduce_server_spark import registry as reg
    from pyspark.sql import functions as F

    ranks = reg.QUERIES["graph_pagerank"](spark, sf_small)
    total = ranks.agg(F.sum("rank")).first()[0]
    assert abs(total - 1.0) < 1e-6


def test_cc_matches_union_find_on_random_graphs(spark):
    """Random sparse graphs: the DataFrame fixpoint must agree with a
    plain union-find replay — exercises shapes (forests, multi-cycles,
    isolated self-loops, duplicate edges) the hand fixtures don't."""
    import random

    rng = random.Random(1234)
    for trial in range(3):
        n = 40
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randrange(10, 50))
        ]
        # duplicate some edges deliberately (adjacency is not distinct)
        edges += edges[: len(edges) // 3]

        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = {x for e in edges for x in e}
        expected = {x: find(x) for x in touched}
        got = {
            (r.node, r.component)
            for r in connected_components(
                spark.createDataFrame(edges, ["src", "dst"])
            ).collect()
        }
        assert got == set(expected.items()), (trial, edges)


def test_bfs_hops_non_broadcast_path_identical(spark, monkeypatch):
    """The frontier-broadcast size gate (review r13: an unconditional
    broadcast of an O(|V|) frontier OOMs on small-world graphs) must
    not change results: force the non-broadcast path by setting the
    gate to 0 and compare against the broadcast path on a graph whose
    frontier actually fans out."""
    from map_reduce_server_spark.operators import clustering
    from map_reduce_server_spark.operators.clustering import bfs_hops

    # hub-and-spoke plus a chain: frontier goes 1 → 5 → chain tail
    edges = [(1, h) for h in (2, 3, 4, 5, 6)] + [(6, 7), (7, 8), (8, 9)]
    df = spark.createDataFrame(edges, ["u", "v"])
    expected = {(r.node, r.hops) for r in bfs_hops(df, 4).collect()}
    assert (1, 0) in expected and (9, 4) in expected  # 1-6-7-8-9 = 4 hops
    monkeypatch.setattr(clustering, "_BFS_BROADCAST_MAX_FRONTIER", 0)
    got = {(r.node, r.hops) for r in bfs_hops(df, 4).collect()}
    assert got == expected


def test_bfs_hops_empty_frontier_short_circuits(spark):
    """Once the component is exhausted the loop must stop expanding:
    a 3-node path fully visited by hop 2 returns the same rows for
    max_hops=2 and max_hops=50 (no empty-join iterations)."""
    from map_reduce_server_spark.operators.clustering import bfs_hops

    df = spark.createDataFrame([(1, 2), (2, 3)], ["u", "v"])
    small = {(r.node, r.hops) for r in bfs_hops(df, 2).collect()}
    big = {(r.node, r.hops) for r in bfs_hops(df, 50).collect()}
    assert small == big == {(1, 0), (2, 1), (3, 2)}


# --- round-15 optimization pin: array-expansion co-purchase pairs ---------


def _legacy_copurchase_edges(spark, sf_dir, minsup=2):
    """The pre-round-15 formulation: distinct projection + equi
    self-join on l_orderkey (three corpus-sized exchanges)."""
    from pyspark.sql import functions as F

    from map_reduce_server_spark.tables import load_table

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.alias("a")
    b = li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .agg(F.count("*").alias("sup"))
        .filter(F.col("sup") >= minsup)
    )


def test_copurchase_array_expansion_equals_self_join(spark, sf_medium):
    from map_reduce_server_spark.operators.clustering import (
        _copurchase_edges,
    )

    new = _copurchase_edges(spark, sf_medium, keep_support=True)
    old = _legacy_copurchase_edges(spark, sf_medium)
    assert new.exceptAll(old).isEmpty()
    assert old.exceptAll(new).isEmpty()


def test_copurchase_expansion_dedups_order_part_repeats(spark):
    # an order with a REPEATED (orderkey, partkey) row must still
    # contribute each pair once — collect_set absorbs the duplicate
    from map_reduce_server_spark.operators.clustering import (
        _copurchase_edges,
    )

    li = spark.createDataFrame(
        [(1, 10), (1, 10), (1, 20), (2, 10), (2, 20)],
        ["l_orderkey", "l_partkey"],
    )
    got = {
        (r.u, r.v, r.sup)
        for r in _copurchase_edges(
            spark, "", minsup=2, keep_support=True, li=li
        ).collect()
    }
    assert got == {(10, 20, 2)}
