"""Hand-computed fixtures for the round-5 statistics/audit
operators: tiny inputs where the correct answer is verifiable by
inspection, complementing the corpus-level DuckDB oracles (which
could in principle share a misunderstanding with the query)."""

from __future__ import annotations

import datetime as dt
import tempfile

import pytest

from map_reduce_server_spark import registry

registry.load_all()


def _write(df, d, name):
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/{name}.parquet")


def test_skyline_dominance(spark):
    """Exact ties on both axes all survive; same-price smaller size
    and dominated-on-both-axes rows are cut."""
    rows = [
        (1, 10.0, 5),  # skyline (tied with 2)
        (2, 10.0, 5),  # skyline (exact duplicate point — kept)
        (3, 10.0, 4),  # same price, smaller size -> dominated by 1
        (4, 5.0, 3),   # cheapest -> skyline
        (5, 20.0, 9),  # biggest size among price<=20 -> skyline
        (6, 20.0, 8),  # same price as 5, smaller -> dominated
        (7, 25.0, 9),  # 5 is cheaper at same size -> dominated
    ]
    df = spark.createDataFrame(rows, ["p_partkey", "p_retailprice", "p_size"])
    with tempfile.TemporaryDirectory() as d:
        _write(df, d, "part")
        got = {
            r.p_partkey
            for r in registry.QUERIES["q_skyline_parts"](spark, d).collect()
        }
    assert got == {1, 2, 4, 5}


def test_gini_known_distributions(spark):
    """Equal revenues -> 0; (100, 300) -> 0.25 by the rank formula."""
    orders = spark.createDataFrame(
        [
            (1, 1, 100.0), (2, 2, 100.0), (3, 3, 100.0), (4, 4, 100.0),
            (5, 5, 100.0), (6, 6, 300.0),
        ],
        ["o_orderkey", "o_custkey", "o_totalprice"],
    )
    customer = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0), (4, 0), (5, 1), (6, 1)],
        ["c_custkey", "c_nationkey"],
    )
    nation = spark.createDataFrame(
        [(0, "EQUAL"), (1, "SKEWED")], ["n_nationkey", "n_name"]
    )
    with tempfile.TemporaryDirectory() as d:
        _write(orders, d, "orders")
        _write(customer, d, "customer")
        _write(nation, d, "nation")
        got = {
            r.n_name: (r.n_customers, r.gini)
            for r in registry.QUERIES["q_gini_concentration"](
                spark, d
            ).collect()
        }
    assert got["EQUAL"] == (4, 0.0)
    # sorted (100, 300): G = (2*(1*100+2*300) - 3*400) / (2*400) = 0.25
    assert got["SKEWED"] == (2, 0.25)


def test_mad_zero_mad_still_flags(spark):
    """[1,1,1,1,100]: median 1, MAD 0 -> the single far point is the
    only outlier (0 deviation is NOT > 0)."""
    rows = [
        (i, dt.datetime(2024, 1, 1, i), 1, "t", v, "{}")
        for i, v in enumerate([1.0, 1.0, 1.0, 1.0, 100.0], start=1)
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    with tempfile.TemporaryDirectory() as d:
        _write(df, d, "events")
        [r] = registry.QUERIES["q_anomaly_mad"](spark, d).collect()
    assert (r.median_value, r.mad, r.n, r.n_outliers) == (1.0, 0.0, 5, 1)


def test_entropy_hand_values(spark):
    """'a a b b' -> exactly 1 bit; a constant doc -> 0 bits."""
    df = spark.createDataFrame(
        [(1, "a a b b"), (2, "x x x x")], ["doc_id", "text"]
    )
    with tempfile.TemporaryDirectory() as d:
        _write(df, d, "documents")
        got = {
            r.doc_id: (r.n_tokens, r.n_types, r.token_entropy_bits)
            for r in registry.QUERIES["text_entropy"](spark, d).collect()
        }
    assert got == {1: (4, 2, 1.0), 2: (4, 1, 0.0)}


def test_bpe_train_pair_ranking(spark):
    """'abab ab' -> pair 'ab' x3, 'ba' x1; rank is (count desc,
    pair asc)."""
    df = spark.createDataFrame([(1, "abab ab")], ["doc_id", "text"])
    with tempfile.TemporaryDirectory() as d:
        _write(df, d, "documents")
        rows = sorted(
            registry.QUERIES["text_bpe_train"](spark, d).collect(),
            key=lambda r: r.rnk,
        )
    assert [(r.pair, r.n, r.rnk) for r in rows] == [
        ("ab", 3, 1),
        ("ba", 1, 2),
    ]


def test_fuzzy_match_blocking_and_threshold(spark):
    """Matches require a shared first-word block AND edit distance
    <= 3; row-pair coverage multiplies name frequencies."""
    df = spark.createDataFrame(
        [
            (1, "cold widget"),
            (2, "cold widget"),
            (3, "cold widge"),    # dist 1 from 'cold widget'
            (4, "cold zzzzzz"),   # dist > 3 from both
            (5, "bold widget"),   # dist 1 but different block: no pair
        ],
        ["p_partkey", "p_name"],
    )
    with tempfile.TemporaryDirectory() as d:
        _write(df, d, "part")
        rows = registry.QUERIES["q_fuzzy_name_match"](spark, d).collect()
    assert [(r.name_a, r.name_b, r.dist, r.n_row_pairs) for r in rows] == [
        ("cold widge", "cold widget", 1, 2)
    ]


def test_snapshot_diff_classification(spark):
    """Pre-cutoff-only key is filtered as unchanged; straddling key
    is 'changed' with the post-cutoff delta; new key is 'added'."""
    t97 = dt.datetime(1997, 6, 1)
    t99 = dt.datetime(1999, 6, 1)
    df = spark.createDataFrame(
        [
            (1, 1, 50.0, t97), (2, 1, 50.0, t99),   # changed: 50 -> 100
            (3, 2, 30.0, t99),                      # added
            (4, 3, 20.0, t97),                      # unchanged -> dropped
        ],
        ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"],
    )
    with tempfile.TemporaryDirectory() as d:
        _write(df, d, "orders")
        got = {
            r.custkey: (r.status, r.old_rev, r.new_rev, r.delta)
            for r in registry.QUERIES["q_snapshot_diff"](spark, d).collect()
        }
    assert got == {
        1: ("changed", 50.0, 100.0, 50.0),
        2: ("added", None, 30.0, 30.0),
    }


def test_knn_classifier_two_clusters(spark):
    """Queries embedded inside two well-separated clusters must all
    take their cluster's label."""
    rows = []
    # 8 query vectors (vec_id < 8): 0-3 in cluster A, 4-7 in cluster B
    for i in range(4):
        rows.append((i, [1.0, 0.0, 0.1 * i, 0.0], 0))
        rows.append((4 + i, [0.0, 1.0, 0.0, 0.1 * i], 1))
    # corpus: 6 more per cluster
    for i in range(6):
        rows.append((8 + i, [1.0, 0.05 * i, 0.0, 0.0], 0))
        rows.append((14 + i, [0.05 * i, 1.0, 0.0, 0.0], 1))
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    with tempfile.TemporaryDirectory() as d:
        _write(df, d, "embeddings")
        out = registry.QUERIES["q_knn_classifier"](spark, d).collect()
    assert len(out) == 8
    assert all(r.correct == 1 for r in out)
    assert {r.query_id: r.predicted_label for r in out} == {
        i: (0 if i < 4 else 1) for i in range(8)
    }


def test_welch_matches_python_replay(spark):
    """Replay the md5 hash split and the Welch formulas in plain
    Python and demand the operator's exact rounded statistics."""
    import hashlib

    rows = [(i, 100 + (i % 7)) for i in range(200)]

    def grp(doc_id):
        h = hashlib.md5(f"split:{doc_id}".encode()).hexdigest()
        return int(h[:15], 16) % 2

    arms = {0: [], 1: []}
    for i, x in rows:
        arms[grp(i)].append(x)
    stats = {}
    for g, xs in arms.items():
        n = len(xs)
        sx = float(sum(xs))
        sx2 = float(sum(x * x for x in xs))
        mean = sx / n
        var = (sx2 - sx * sx / n) / (n - 1)
        stats[g] = (n, mean, var)
    (na, ma, va), (nb, mb, vb) = stats[0], stats[1]
    se2 = va / na + vb / nb
    t = round((ma - mb) / se2**0.5, 6)
    dof = round(se2**2 / ((va / na) ** 2 / (na - 1)
                          + (vb / nb) ** 2 / (nb - 1)), 6)

    df = spark.createDataFrame(rows, ["doc_id", "n_chars"])
    with tempfile.TemporaryDirectory() as d:
        _write(df, d, "documents")
        [r] = registry.QUERIES["q_ab_test_welch"](spark, d).collect()
    assert (r.n_a, r.n_b) == (na, nb)
    assert (r.mean_a, r.mean_b) == (round(ma, 6), round(mb, 6))
    # 1e-6 tolerance: JVM Math.pow/sqrt are 1-ulp-accurate vs CPython
    # libm, so demand 6-dp agreement, not bit equality across runtimes.
    assert abs(r.t_stat - t) < 1e-6
    assert abs(r.welch_df - dof) < 1e-6


def test_dp_release_noise_bounded(spark, sf_small):
    """Laplace(1) noise from a bounded uniform: |noisy - n| <= ln(1e6)
    and deterministic across runs."""
    df1 = registry.QUERIES["q_dp_count_release"](spark, sf_small).collect()
    df2 = registry.QUERIES["q_dp_count_release"](spark, sf_small).collect()
    assert sorted(map(tuple, df1)) == sorted(map(tuple, df2))
    import math

    for r in df1:
        assert abs(r.noisy_n - r.n) <= math.log(1e6) + 1e-9


def test_welch_degenerate_group_nulls_not_crash(spark):
    """One document per split group (doc_id 0 → group 0, doc_id 1 →
    group 1): the n−1 variance denominator is zero, so under the
    oracle contract the result is a NULL-variance row — it must NOT
    throw. Spark 4 defaults ANSI mode ON, where 0/0 raises
    DIVIDE_BY_ZERO; the registry's pinned wrapper must flip it off
    even when the caller's session (like the grading driver's
    vanilla one) has it on."""
    import tempfile

    from tests.test_semantics_fixtures import _write_docs

    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        with tempfile.TemporaryDirectory() as d:
            _write_docs(
                spark,
                d,
                [(0, "alpha beta", "en", "s0"), (1, "gamma delta", "en", "s1")],
            )
            rows = registry.QUERIES["q_ab_test_welch"](spark, d).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert len(rows) == 1
    assert rows[0].t_stat is None


@pytest.mark.parametrize("n", [9_999, 25_000])
def test_equidepth_gate_steps_match_python_replay(spark, n):
    """Third-engine check of the count-bounded boundary sample at
    sizes straddling a gate step: n=9,999 → gate 1 (the 'sample' is
    the whole table, exact deciles) and n=25,000 → gate 2 (~half the
    rows sampled). A pure-Python replay of the md5 gate, boundary
    positions floor(i*m/10), and the (price, key) tuple-order bucket
    rule must reproduce Spark's histogram exactly — including price
    TIES broken on the key (prices cycle mod 50, so every boundary
    price is massively tied)."""
    import hashlib
    from collections import Counter

    def md5_long(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    rows = [(k, float((k * 7) % 50)) for k in range(n)]
    gate = max(1, n // 10000)
    sample = sorted(
        (p, k) for k, p in rows if md5_long(f"eqd:{k}") % gate == 0
    )
    m = len(sample)
    bounds = sorted(
        {sample[(i * m) // 10 - 1] for i in range(1, 10) if (i * m) // 10 >= 1}
    )

    def bucket(p, k):
        return 1 + sum(1 for b in bounds if b < (p, k))

    exp_counts = Counter(bucket(p, k) for k, p in rows)

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "o_orderkey long, o_totalprice double"
        ).coalesce(2).write.mode("overwrite").parquet(f"{d}/orders.parquet")
        got = {
            r.bucket: r.n_rows
            for r in registry.QUERIES["q_equidepth_histogram"](
                spark, d
            ).collect()
        }
    assert got == dict(exp_counts)


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),   # price grid
            st.integers(min_value=0, max_value=6),   # size grid
        ),
        min_size=1,
        max_size=25,
    )
)
def test_skyline_matches_bruteforce(spark, pts):
    """Property: the operator's survivor set equals the O(n²)
    brute-force dominance definition on small random point sets
    (dense grids force plenty of exact ties on both axes)."""

    def dominated(i):
        pi, si = pts[i]
        return any(
            (pj <= pi and sj >= si and (pj < pi or sj > si))
            for j, (pj, sj) in enumerate(pts)
            if j != i
        )

    expect = {i for i in range(len(pts)) if not dominated(i)}
    df = spark.createDataFrame(
        [(i, float(p), s) for i, (p, s) in enumerate(pts)],
        ["p_partkey", "p_retailprice", "p_size"],
    )
    with tempfile.TemporaryDirectory() as d:
        _write(df, d, "part")
        got = {
            r.p_partkey
            for r in registry.QUERIES["q_skyline_parts"](spark, d).collect()
        }
    assert got == expect


def test_benford_known_digits(spark):
    """[1.5, 19, 150, 2.5] -> digit 1 x3 (obs .75), digit 2 x1
    (obs .25); expected shares are the Benford logs."""
    df = spark.createDataFrame(
        [(1, 1, 1.5), (2, 2, 19.0), (3, 3, 150.0), (4, 4, 2.5)],
        ["o_orderkey", "o_custkey", "o_totalprice"],
    )
    with tempfile.TemporaryDirectory() as d:
        _write(df, d, "orders")
        got = {
            r.digit: (r.n, r.observed, r.expected)
            for r in registry.QUERIES["q_benford_check"](spark, d).collect()
        }
    assert got[1] == (3, 0.75, 0.30103)
    assert got[2] == (1, 0.25, 0.176091)


def test_seasonal_naive_constant_series_zero_error(spark):
    """A constant daily series is perfectly predicted by lag-7:
    7 scored days, MAE = MAPE = 0."""
    rows = [
        (day, dt.datetime(2024, 1, day, 12), 1, "t", 10.0, "{}")
        for day in range(1, 15)
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    with tempfile.TemporaryDirectory() as d:
        _write(df, d, "events")
        [r] = registry.QUERIES["q_forecast_seasonal_naive"](
            spark, d
        ).collect()
    assert (r.n_scored_days, r.mae, r.mape) == (7, 0.0, 0.0)


def test_chisq_independent_table_is_zero(spark):
    """Perfectly proportional counts (10,20 | 30,60) -> every cell's
    expected equals observed -> chi2 == 0."""
    rows = []
    k = 0
    for status, priority, n in [
        ("A", "P1", 10), ("A", "P2", 20), ("B", "P1", 30), ("B", "P2", 60),
    ]:
        for _ in range(n):
            k += 1
            rows.append((k, k, status, priority))
    df = spark.createDataFrame(
        rows, ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
    )
    with tempfile.TemporaryDirectory() as d:
        _write(df, d, "orders")
        out = registry.QUERIES["q_crosstab_chisq"](spark, d).collect()
    assert len(out) == 4
    for r in out:
        assert r.contribution == 0.0
        assert r.chi2 == 0.0
        assert r.expected == float(r.observed)


def test_rfm_segment_rules(spark):
    """Rule matrix: recent+frequent -> champion; stale+rare ->
    at_risk; middling -> regular."""
    base = dt.datetime(2024, 3, 1)
    rows = []
    eid = 0
    # user 1: 100 events on the last day -> champion
    for _ in range(100):
        eid += 1
        rows.append((eid, base, 1, "t", 1.0, "{}"))
    # user 2: 5 events 30 days earlier -> at_risk
    for _ in range(5):
        eid += 1
        rows.append((eid, base - dt.timedelta(days=30), 2, "t", 2.0, "{}"))
    # user 3: 5 events 10 days earlier -> regular
    for _ in range(5):
        eid += 1
        rows.append((eid, base - dt.timedelta(days=10), 3, "t", 3.0, "{}"))
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    with tempfile.TemporaryDirectory() as d:
        _write(df, d, "events")
        got = {
            r.user_id: (r.segment, r.recency_days, r.frequency, r.monetary)
            for r in registry.QUERIES["q_rfm_segments"](spark, d).collect()
        }
    assert got[1] == ("champion", 0, 100, 100.0)
    assert got[2] == ("at_risk", 30, 5, 10.0)
    assert got[3] == ("regular", 10, 5, 15.0)


def test_ts_search_finds_planted_ramp(spark):
    """A 7-day linear ramp z-normalizes exactly onto the query
    pattern -> distance 0 and rank 1; a flat series is excluded
    (zero variance)."""
    rows = []
    eid = 0
    for day in range(1, 8):
        eid += 1
        rows.append(
            (eid, dt.datetime(2024, 1, day, 12), 1, "ramp", 10.0 * day, "{}")
        )
        eid += 1
        rows.append(
            (eid, dt.datetime(2024, 1, day, 12), 1, "flat", 5.0, "{}")
        )
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    with tempfile.TemporaryDirectory() as d:
        _write(df, d, "events")
        out = registry.QUERIES["q_ts_similarity_search"](spark, d).collect()
    assert len(out) == 1  # flat window has zero variance -> excluded
    assert out[0].event_type == "ramp"
    assert out[0].zdist2 == 0.0


def test_containment_asymmetric(spark):
    """A's 3 shingles all inside B's 5 -> C(A in B)=1.0 (reported),
    C(B in A)=0.6; an unrelated doc pairs with nobody."""
    df = spark.createDataFrame(
        [
            (1, "a b c d e"),          # shingles: abc bcd cde
            (2, "a b c d e f g"),      # + def efg
            (3, "x y z w v u"),        # disjoint
        ],
        ["doc_id", "text"],
    )
    with tempfile.TemporaryDirectory() as d:
        _write(df, d, "documents")
        rows = registry.QUERIES["dedup_containment"](spark, d).collect()
    assert [(r.doc_a, r.doc_b, r.c_a_in_b, r.c_b_in_a) for r in rows] == [
        (1, 2, 1.0, 0.6)
    ]


def test_ltv_decay_half_life(spark):
    """An event exactly one half-life (7 days) old contributes half
    its value; a fresh event contributes all of it."""
    now = dt.datetime(2024, 3, 1, 12)
    df = spark.createDataFrame(
        [
            (1, now, 1, "t", 8.0, "{}"),
            (2, now - dt.timedelta(days=7), 1, "t", 8.0, "{}"),
        ],
        ["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    with tempfile.TemporaryDirectory() as d:
        _write(df, d, "events")
        [r] = registry.QUERIES["q_user_ltv_decay"](spark, d).collect()
    assert (r.user_id, r.n_events, r.decayed_value) == (1, 2, 12.0)


def test_seasonal_naive_gap_stays_calendar_aligned(spark):
    """A missing day must not slide the season: with value == day
    number, every scored day's error is exactly 7, and days whose
    d-7 is the gap (or pre-history) are not scored at all."""
    days = [d for d in range(1, 16) if d != 8]  # gap at day 8
    rows = [
        (d, dt.datetime(2024, 1, d, 12), 1, "t", float(d), "{}")
        for d in days
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    with tempfile.TemporaryDirectory() as d:
        _write(df, d, "events")
        [r] = registry.QUERIES["q_forecast_seasonal_naive"](
            spark, d
        ).collect()
    # scored: days 9-14 (day 15 needs missing day 8; days 1-7 have no
    # prior season). A row-based LAG(7) would have scored day 15
    # against day 7 and misaligned everything after the gap.
    assert r.n_scored_days == 6
    assert r.mae == 7.0
    expected_mape = round(sum(7.0 / d for d in range(9, 15)) / 6, 6)
    assert abs(r.mape - expected_mape) < 2e-6


def test_ts_search_rejects_gapped_window(spark):
    """Seven observed days spanning EIGHT calendar days (one gap) is
    not a week: the stitched pseudo-ramp must be excluded."""
    days = [1, 2, 3, 5, 6, 7, 8]  # gap at day 4
    rows = [
        (i, dt.datetime(2024, 1, d, 12), 1, "ramp", 10.0 * d, "{}")
        for i, d in enumerate(days, start=1)
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    with tempfile.TemporaryDirectory() as d:
        _write(df, d, "events")
        out = registry.QUERIES["q_ts_similarity_search"](spark, d).collect()
    assert out == []


def test_repetition_short_doc_null_fraction(spark):
    """A doc with fewer than 3 tokens has no 3-grams: dup_fraction is
    NULL (no evidence), not the maximally-repetitive 1.0."""
    df = spark.createDataFrame(
        [(1, "only two"), (2, "a a a a a a")], ["doc_id", "text"]
    )
    with tempfile.TemporaryDirectory() as d:
        _write(df, d, "documents")
        got = {
            r.doc_id: (r.n_grams, r.dup_fraction, r.is_repetitive)
            for r in registry.QUERIES["text_repetition"](spark, d).collect()
        }
    assert got[1] == (0, None, 0)
    assert got[2] == (4, 0.75, 1)  # 'a a a' x4, 1 distinct


def test_dup_spans_short_doc_has_no_windows(spark):
    """A document below the 5-token window width contributes NO
    windows (it must not fabricate a truncated pseudo-window), and
    two identical long docs share all of theirs."""
    df = spark.createDataFrame(
        [
            (1, "too short"),
            (2, "one two three four five six"),
            (3, "one two three four five six"),
        ],
        ["doc_id", "text"],
    )
    with tempfile.TemporaryDirectory() as d:
        _write(df, d, "documents")
        got = {
            r.doc_id: (r.n_windows, r.n_dup_windows, r.dup_ratio)
            for r in registry.QUERIES["text_dup_spans"](spark, d).collect()
        }
    assert 1 not in got  # no fabricated window for the 2-token doc
    assert got[2] == (2, 2, 1.0)
    assert got[3] == (2, 2, 1.0)


def test_measured_rows_only_statistics(spark):
    """Unmeasured (NULL-valued) rows must not dilute denominators —
    an oracle-BLIND bias class: both twins formerly used COUNT(*)
    beside NULL-skipping sums, so the gate passed on wrong
    statistics. Welch means/variance and the bootstrap point
    estimate must equal the values computed from measured rows
    alone, and a NULL-price part must neither dominate the skyline
    nor appear in it (it is incomparable)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    # doc_ids chosen so each split arm has 2 measured + 1 NULL row
    rows, arm = [], {0: [], 1: []}
    from map_reduce_server_spark.functions.hashing import split_hash
    import pyspark.sql.functions as F

    probe = spark.createDataFrame(
        [(i,) for i in range(40)], ["doc_id"]
    ).select("doc_id", (split_hash(F.col("doc_id")) % 2).alias("g"))
    groups = {r.doc_id: r.g for r in probe.collect()}
    for i in range(40):
        g = groups[i]
        if len(arm[g]) < 2:
            val = 100 * (g + 1) + 10 * len(arm[g])  # 100,110 / 200,210
            arm[g].append(val)
            rows.append((i, val))
        elif len(arm[g]) < 3:
            arm[g].append(None)
            rows.append((i, None))  # unmeasured row
    df = spark.createDataFrame(rows, schema)
    with tempfile.TemporaryDirectory() as d:
        _write(df, d, "documents")
        w = registry.QUERIES["q_ab_test_welch"](spark, d).first()
        assert (w.n_a, w.n_b) == (2, 2)
        assert w.mean_a == sum(arm[0][:2]) / 2
        assert w.mean_b == sum(arm[1][:2]) / 2
        b = registry.QUERIES["q_bootstrap_ci"](spark, d).first()
        measured = [v for v in arm[0][:2] + arm[1][:2]]
        assert b.point_estimate == round(sum(measured) / len(measured), 9)
    # skyline: NULL price is incomparable — excluded, non-dominating
    parts = spark.createDataFrame(
        [(1, None, 100), (2, 5.0, 3)],
        T.StructType(
            [
                T.StructField("p_partkey", T.LongType()),
                T.StructField("p_retailprice", T.DoubleType()),
                T.StructField("p_size", T.IntegerType()),
            ]
        ),
    )
    with tempfile.TemporaryDirectory() as d:
        _write(parts, d, "part")
        got = {
            r.p_partkey
            for r in registry.QUERIES["q_skyline_parts"](spark, d).collect()
        }
    assert got == {2}
