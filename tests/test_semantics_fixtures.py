"""Hand-computed fixtures for the sequence/interval/changelog
operators: tiny inputs where the correct answer is verifiable by
inspection, complementing the corpus-level DuckDB oracles (the
reference's golden-file strategy, SURVEY.md §5, applied to the
extension surface)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from map_reduce_server_spark import registry

registry.load_all()


def _ts(h, m=0):
    return dt.datetime(2024, 1, 1, h, m)


def test_funnel_stage_logic(spark):
    """Stages must be ordered subsequences: a purchase BEFORE the
    signup chain must not count."""
    rows = [
        # user 1: full ordered funnel s->c->v->p with noise
        (1, _ts(1), 1, "signup"), (2, _ts(2), 1, "error"),
        (3, _ts(3), 1, "click"), (4, _ts(4), 1, "view"),
        (5, _ts(5), 1, "purchase"),
        # user 2: purchase first, then signup+click only -> stage 2
        (6, _ts(1), 2, "purchase"), (7, _ts(2), 2, "signup"),
        (8, _ts(3), 2, "click"),
        # user 3: no signup at all -> stage 0
        (9, _ts(1), 3, "click"), (10, _ts(2), 3, "view"),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type"]
    )
    df = df.withColumn("value", F.lit(1.0)).withColumn(
        "props", F.lit("{}")
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
        got = {
            r.stage_reached: r.n_users
            for r in registry.QUERIES["q_funnel"](spark, d).collect()
        }
    assert got == {4: 1, 2: 1, 0: 1}


def test_scd2_intervals(spark, sf_small):
    """Adjacent versions must tile each customer's history: every
    valid_to equals the next valid_from, exactly one current row per
    customer, and same-timestamp orders version by orderkey."""
    df = registry.QUERIES["q_scd2_customer_orders"](spark, sf_small)
    rows = df.collect()
    by_cust: dict[int, list] = {}
    for r in rows:
        by_cust.setdefault(r.o_custkey, []).append(r)
    for cust, vs in by_cust.items():
        vs.sort(key=lambda r: (r.valid_from, r.o_orderkey))
        currents = [r for r in vs if r.is_current]
        assert len(currents) == 1, cust
        assert vs[-1].is_current and vs[-1].valid_to is None
        for prev, nxt in zip(vs, vs[1:]):
            assert prev.valid_to == nxt.valid_from, cust


def test_cdc_apply_latest_op_wins(spark, sf_small):
    """Replay the synthesized changelog in plain Python and compare
    survivor sets + last payloads with the operator."""
    from map_reduce_server_spark.tables import load_table

    orders = load_table(spark, sf_small, "orders").collect()
    latest: dict[int, tuple] = {}
    n_ops: dict[int, int] = {}
    for o in orders:
        n_ops[o.o_custkey] = n_ops.get(o.o_custkey, 0) + 1
        key = (o.o_orderdate, o.o_orderkey)
        if o.o_custkey not in latest or key > latest[o.o_custkey][0]:
            op = "D" if o.o_orderkey % 19 == 0 else "U"
            latest[o.o_custkey] = (key, op, o.o_totalprice)
    expected = {
        ck: (v[2], n_ops[ck])
        for ck, v in latest.items()
        if v[1] != "D"
    }
    got = {
        r.c_custkey: (r.last_price, r.n_ops)
        for r in registry.QUERIES["q_cdc_apply"](spark, sf_small).collect()
    }
    assert got == expected


def test_pagerank_matches_numpy_replay(spark):
    """Random 30-node graph: the DataFrame PageRank must match a
    dense NumPy power-iteration replay of the same recurrence."""
    import random

    import numpy as np

    from map_reduce_server_spark.operators.clustering import (
        _PR_DAMPING,
        _PR_ITERS,
        pagerank,
    )

    rng = random.Random(7)
    n = 30
    undirected = {
        tuple(sorted((rng.randrange(n), rng.randrange(n))))
        for _ in range(60)
    }
    undirected = {(a, b) for a, b in undirected if a != b}
    edges = [(a, b) for a, b in undirected] + [
        (b, a) for a, b in undirected
    ]
    nodes = sorted({x for e in edges for x in e})
    idx = {v: i for i, v in enumerate(nodes)}
    deg = {v: 0 for v in nodes}
    for s, _ in edges:
        deg[s] += 1
    r = np.full(len(nodes), 1.0 / len(nodes))
    base = (1.0 - _PR_DAMPING) / len(nodes)
    for _ in range(_PR_ITERS):
        nxt = np.full(len(nodes), base)
        for s, d in edges:
            nxt[idx[d]] += _PR_DAMPING * r[idx[s]] / deg[s]
        r = nxt
    got = {
        row.node: row.rank
        for row in pagerank(
            spark.createDataFrame(edges, ["src", "dst"])
        ).collect()
    }
    for v in nodes:
        assert abs(got[v] - r[idx[v]]) < 1e-9, v


def test_prefix_filter_lossless_on_random_corpora(spark):
    """Hypothesis: for random tiny documents, prefix-filtered
    candidates must retain every pair with Jaccard >= the threshold
    (checked against an all-pairs Python computation on shingles)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from map_reduce_server_spark.operators.dedup import (
        _PJ_THRESHOLD,
        dedup_jaccard_prefix,
    )

    token = st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"])
    doc = st.lists(token, min_size=3, max_size=8).map(" ".join)

    @settings(max_examples=5, deadline=None)
    @given(st.lists(doc, min_size=2, max_size=6))
    def check(texts):
        import tempfile

        from pyspark.sql import functions as F

        def shingle_set(t):
            toks = [x for x in t.lower().split(" ") if x]
            return {
                " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
            }

        expected = set()
        for i, ta in enumerate(texts):
            for j in range(i + 1, len(texts)):
                sa, sb = shingle_set(ta), shingle_set(texts[j])
                if not sa or not sb:
                    continue
                jac = len(sa & sb) / len(sa | sb)
                if jac >= _PJ_THRESHOLD:
                    expected.add((i, j))
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
        ).withColumn("lang", F.lit("en")).withColumn(
            "source", F.lit("t")
        ).withColumn("n_chars", F.length("text"))
        with tempfile.TemporaryDirectory() as d:
            df.coalesce(1).write.mode("overwrite").parquet(
                f"{d}/documents.parquet"
            )
            got = {
                (r.doc_a, r.doc_b)
                for r in dedup_jaccard_prefix(spark, d).collect()
            }
        assert got == expected

    check()


def _write_events(spark, d, rows):
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type"]
    ).withColumn("value", F.col("event_id").cast("double")).withColumn(
        "props", F.lit("{}")
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")


def _write_docs(spark, d, rows):
    df = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source"]
    ).withColumn("n_chars", F.length("text").cast("long"))
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")


def test_debounce_gap_semantics(spark):
    """Gap is measured from the previous EVENT (not the previous kept
    event): a burst at 0/5/9 min keeps only its leader because every
    inter-event gap stays under 10 min; the 16-min quiet spell before
    25 min reopens the window."""
    import tempfile

    rows = [
        (1, _ts(1, 0), 1, "click"),
        (2, _ts(1, 5), 1, "click"),   # 5 min after ev1  -> suppressed
        (3, _ts(1, 9), 1, "click"),   # 4 min after ev2  -> suppressed
        (4, _ts(1, 25), 1, "click"),  # 16 min after ev3 -> kept
        (5, _ts(1, 7), 1, "view"),    # other type: independent leader
    ]
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, d, rows)
        kept = {
            r.event_id
            for r in registry.QUERIES["q_debounce_events"](spark, d).collect()
        }
    assert kept == {1, 4, 5}


def test_locf_gapfill_carries_and_leads_null(spark):
    """Day panel: values carry forward across empty days; days before
    a user's first event stay NULL; the span covers the whole corpus,
    not just the user's own range."""
    import tempfile

    rows = [
        (1, dt.datetime(2024, 1, 1, 12), 1, "click"),  # value 1.0
        (2, dt.datetime(2024, 1, 3, 12), 1, "click"),  # value 2.0
        (3, dt.datetime(2024, 1, 4, 12), 2, "click"),  # value 3.0
    ]
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, d, rows)
        got = {
            (r.user_id, r.day.day): r.locf_value
            for r in registry.QUERIES["q_locf_gapfill"](spark, d).collect()
        }
    assert got == {
        (1, 1): 1.0, (1, 2): 1.0, (1, 3): 2.0, (1, 4): 2.0,
        (2, 1): None, (2, 2): None, (2, 3): None, (2, 4): 3.0,
    }


def test_session_concurrency_hand_computed(spark):
    """Three overlapping sessions in one hour: [10:00,10:20],
    [10:10,10:10], [10:20,10:20]. Ends are inclusive (+1 us), so the
    peak is 2 (at 10:10 and again at 10:20), never 3."""
    import tempfile

    rows = [
        (1, dt.datetime(2024, 1, 1, 10, 0), 1, "click"),
        (2, dt.datetime(2024, 1, 1, 10, 20), 1, "click"),
        (3, dt.datetime(2024, 1, 1, 10, 10), 2, "click"),
        (4, dt.datetime(2024, 1, 1, 10, 20), 4, "click"),
    ]
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, d, rows)
        got = {
            (r.hour.hour): r.peak_concurrent
            for r in registry.QUERIES["q_session_concurrency"](
                spark, d
            ).collect()
        }
    assert got == {10: 2}


def test_session_concurrency_year_boundary_carry(spark):
    """The two-pass prefix sum's cross-partition carries, hand
    computed: a session SPANNING the year boundary (events 23:50 and
    00:15, 25-min gap = one session) must carry +1 from the 2023
    hour bucket into the 2024 one via the prior-years broadcast
    fold, and a lone 2025 session must see the net zero carry of
    both earlier years ((+1) + (-1)). The sf parquet corpora span
    one month, so only this fixture exercises the year-level carry
    path."""
    import tempfile

    rows = [
        # hour 2023-12-31 23:00 — peak 2 (u1 with u2 at 23:10)
        (1, dt.datetime(2023, 12, 31, 23, 0), 1, "click"),
        (2, dt.datetime(2023, 12, 31, 23, 20), 1, "click"),
        (3, dt.datetime(2023, 12, 31, 23, 10), 2, "click"),
        # u6's session spans the year boundary: [23:50, 00:15]
        (4, dt.datetime(2023, 12, 31, 23, 50), 6, "click"),
        (5, dt.datetime(2024, 1, 1, 0, 15), 6, "click"),
        # hour 2024-01-01 00:00 — peak 2 ONLY via the +1 carry
        # (u6 still open when u3's point session fires at 00:05)
        (6, dt.datetime(2024, 1, 1, 0, 5), 3, "click"),
        (7, dt.datetime(2024, 1, 1, 0, 10), 4, "click"),
        # hour 2025-06-01 12:00 — peak 1 (carry from 2023+2024 = 0)
        (8, dt.datetime(2025, 6, 1, 12, 0), 5, "click"),
    ]
    with tempfile.TemporaryDirectory() as d:
        _write_events(spark, d, rows)
        got = {
            (r.hour.year, r.hour.month, r.hour.day, r.hour.hour):
            r.peak_concurrent
            for r in registry.QUERIES["q_session_concurrency"](
                spark, d
            ).collect()
        }
    assert got == {
        (2023, 12, 31, 23): 2,
        (2024, 1, 1, 0): 2,
        (2025, 6, 1, 12): 1,
    }


def test_text_quality_mixed_case_nonalpha(spark):
    """Uppercase letters are alphabetic: 'Hello World There Friend
    Person.' must count only the period as non-alpha (ratio 1/30),
    not the capitals — both engines shared the un-lowercased regex
    bug, so only a mixed-case fixture can catch it. (The 5-token
    minimum keeps passes_quality exercised too.)"""
    import tempfile

    from map_reduce_server_spark import registry

    text = "Hello World There Friend Person."
    with tempfile.TemporaryDirectory() as d:
        _write_docs(spark, d, [(1, text, "en", "src0")])
        row = registry.QUERIES["text_quality"](spark, d).collect()[0]
    assert row.nonalpha_ratio == round(1 / len(text), 6)
    assert row.passes_quality == 1


def test_coverage_report_empty_table_zero_not_null(spark, sf_small):
    """An EMPTY audited table must report pk_nulls = 0, not NULL:
    SUM over zero rows is NULL in both engines, but the report's
    contract (and the oracle's COUNT(*)) is a count. Build an sf dir
    that symlinks sf0.001 except for an empty events.parquet."""
    import os
    import tempfile

    from map_reduce_server_spark import registry
    from map_reduce_server_spark.tables import load_table

    with tempfile.TemporaryDirectory() as d:
        for f in os.listdir(sf_small):
            if f != "events.parquet":
                os.symlink(os.path.join(sf_small, f), os.path.join(d, f))
        load_table(spark, sf_small, "events").limit(0).write.parquet(
            os.path.join(d, "events.parquet")
        )
        rows = {
            r.table_name: r
            for r in registry.QUERIES["q_coverage_report"](spark, d).collect()
        }
    ev = rows["events"]
    assert (ev.n_rows, ev.pk_distinct, ev.pk_nulls) == (0, 0, 0)
    assert ev.pk_nulls is not None


def test_pack_sequences_budget_boundary(spark):
    """300+300 fits sequence 0 (600 > 512 only AFTER the second doc
    is placed — docs are atomic); the third doc starts sequence 1."""
    import tempfile

    mk = lambda n: " ".join(["w"] * n)
    rows = [
        (1, mk(300), "en", "s1"),
        (2, mk(300), "en", "s1"),
        (3, mk(300), "en", "s1"),
        (4, mk(10), "en", "s2"),  # other source packs independently
    ]
    with tempfile.TemporaryDirectory() as d:
        _write_docs(spark, d, rows)
        got = {
            (r.source, r.seq_id): (r.n_docs, r.n_tokens)
            for r in registry.QUERIES["q_pack_sequences"](spark, d).collect()
        }
    assert got == {
        ("s1", 0): (2, 600), ("s1", 1): (1, 300), ("s2", 0): (1, 10),
    }


def test_novelty_first_occurrence_rule(spark):
    """Novelty credits the MINIMUM doc_id per shingle: an exact dup of
    an earlier doc scores 0; a doc sharing half its shingles scores
    0.5; a doc too short for any shingle gets NULL."""
    import tempfile

    rows = [
        (1, "a b c d", "en", "s"),   # shingles {a b c, b c d}: both novel
        (2, "a b c d", "en", "s"),   # same shingles, later id -> 0.0
        (3, "a b c x", "en", "s"),   # {a b c (seen), b c x (novel)} -> 0.5
        (4, "a b", "en", "s"),       # no shingles -> NULL
    ]
    with tempfile.TemporaryDirectory() as d:
        _write_docs(spark, d, rows)
        got = {
            r.doc_id: (r.n_shingles, r.n_novel, r.novelty)
            for r in registry.QUERIES["text_novelty"](spark, d).collect()
        }
    assert got == {
        1: (2, 2, 1.0), 2: (2, 0, 0.0), 3: (2, 1, 0.5), 4: (0, 0, None),
    }


def test_quality_gate_drops_bottom_quartile(spark):
    """Four docs with distinct-token ratios .25/.5/.75/1.0: percent
    rank 0 is strictly below the 0.25 cut, so exactly the worst doc
    drops."""
    import tempfile

    rows = [
        (1, "a a a a", "en", "s"),   # ratio 0.25 -> pr 0.0  -> dropped
        (2, "a b a b", "en", "s"),   # 0.5  -> pr 1/3
        (3, "a b c a", "en", "s"),   # 0.75 -> pr 2/3
        (4, "a b c d", "en", "s"),   # 1.0  -> pr 1.0
    ]
    with tempfile.TemporaryDirectory() as d:
        _write_docs(spark, d, rows)
        kept = {
            r.doc_id
            for r in registry.QUERIES["q_quality_gate"](spark, d).collect()
        }
    assert kept == {2, 3, 4}


def test_quantize_int8_hand_values(spark):
    """[1.0, -0.5, 0.0]: scale = 127/1.0; -0.5 -> floor(-63.5+0.5) =
    -63 (round-half-up toward +inf, NOT away from zero); an all-zero
    vector quantizes to zeros with zero error."""
    import tempfile

    from pyspark.sql.types import (
        ArrayType, FloatType, IntegerType, LongType, StructField, StructType,
    )

    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ])
    rows = [(1, [1.0, -0.5, 0.0], 0), (2, [0.0, 0.0, 0.0], 1)]
    df = spark.createDataFrame(rows, schema)
    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
        from map_reduce_server_spark import registry as reg

        got = {
            # q is CSV-serialized (driver-canonicalizer portability)
            r.vec_id: (r.max_abs, [int(x) for x in r.q.split(",")], r.max_err)
            for r in reg.QUERIES["embedding_quantize_int8"](
                spark, d
            ).collect()
        }
    assert got[1][0] == 1.0
    assert got[1][1] == [127, -63, 0]
    # reconstruction error of -63/127 vs -0.5 = 0.5 - 63/127
    assert abs(got[1][2] - (0.5 - 63.0 / 127.0)) < 1e-9
    assert got[2] == (0.0, [0, 0, 0], 0.0)


def test_dup_spans_hand_values(spark):
    """doc 1 and 2 share one verbatim 5-token window; doc 3 shares
    nothing. Ratios are over each doc's DISTINCT windows."""
    import tempfile

    rows = [
        (1, "a b c d e f", "en", "s"),     # windows: abcde, bcdef
        (2, "z a b c d e", "en", "s"),     # windows: zabcd, abcde
        (3, "p q r s t", "en", "s"),       # window:  pqrst
    ]
    with tempfile.TemporaryDirectory() as d:
        _write_docs(spark, d, rows)
        got = {
            r.doc_id: (r.n_windows, r.n_dup_windows, r.dup_ratio)
            for r in registry.QUERIES["text_dup_spans"](spark, d).collect()
        }
    assert got[1] == (2, 1, 0.5)
    assert got[2] == (2, 1, 0.5)
    assert got[3] == (1, 0, 0.0)


def test_bm25_orders_by_saturating_tf(spark):
    """More matching terms beats one repeated term (tf saturates);
    docs without any query term never appear."""
    import tempfile

    rows = [
        (1, "join filter window x", "en", "s"),   # all 3 terms
        (2, "join join join join", "en", "s"),    # 1 term, high tf
        (3, "nothing relevant here", "en", "s"),  # no terms
        (4, "join filter y z", "en", "s"),        # 2 terms
    ]
    with tempfile.TemporaryDirectory() as d:
        _write_docs(spark, d, rows)
        out = registry.QUERIES["text_bm25"](spark, d).collect()
    scores = {r.doc_id: r.score for r in out}
    assert 3 not in scores
    assert scores[1] > scores[4] > scores[2]


def test_market_basket_hand_values(spark):
    """3 orders of {10,20}, 1 of {10,30}: only (10,20) reaches
    min-support 3; conf(10→20)=3/4, conf(20→10)=1, lift=4·3/(4·3)."""
    import tempfile

    rows = []
    oid = 0
    for _ in range(3):
        oid += 1
        rows += [(oid, 10), (oid, 20)]
    oid += 1
    rows += [(oid, 10), (oid, 30)]
    li = spark.createDataFrame(rows, ["l_orderkey", "l_partkey"])
    for col, val in [
        ("l_suppkey", 1), ("l_linenumber", 1), ("l_quantity", 1.0),
        ("l_extendedprice", 1.0), ("l_discount", 0.0), ("l_tax", 0.0),
    ]:
        li = li.withColumn(col, F.lit(val))
    li = li.withColumn("l_returnflag", F.lit("N")).withColumn(
        "l_linestatus", F.lit("O")
    ).withColumn("l_shipdate", F.lit(dt.datetime(2024, 1, 1)))
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        li.coalesce(1).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
        out = registry.QUERIES["q_market_basket"](spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.u, r.v, r.sup_uv) == (10, 20, 3)
    assert r.conf_u_v == 0.75 and r.conf_v_u == 1.0
    assert r.lift == 1.0  # 4 orders * 3 / (4 * 3)


def test_time_weighted_avg_hand_values(spark):
    """Readings 10 (held 30s) then 20 (held 10s): TWA = (10·30 +
    20·10)/40 = 12.5; the final reading carries no weight."""
    import tempfile

    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0, 0), 7, "click", 10.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 0, 0, 30), 7, "click", 20.0, "{}"),
        (3, dt.datetime(2024, 1, 1, 0, 0, 40), 7, "click", 99.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
        out = registry.QUERIES["q_time_weighted_avg"](spark, d).collect()
    assert len(out) == 1
    assert out[0].n_intervals == 2
    assert out[0].twa == 12.5


def test_attribution_strictly_preceding(spark):
    """A purchase attributes to the latest click BEFORE it; a user
    with no prior click yields NULL lag."""
    import tempfile

    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0, 0), 7, "click", 1.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 0, 5, 0), 7, "click", 1.0, "{}"),
        (3, dt.datetime(2024, 1, 1, 0, 6, 0), 7, "purchase", 1.0, "{}"),
        (4, dt.datetime(2024, 1, 1, 0, 1, 0), 8, "purchase", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
        got = {
            r.event_id: r.lag_us
            for r in registry.QUERIES["q_attribution_last_touch"](
                spark, d
            ).collect()
        }
    assert got[3] == 60_000_000  # attributed to the 0:05 click
    assert got[4] is None


def test_session_window_boundary_and_null_ts(spark):
    """Spark's session_window MERGES an event landing exactly on the
    previous session's exclusive end (gap == 30:00) and DROPS
    NULL-ts events; the lag/cumsum oracle must replay both rules on
    the same fixture or the twins diverge on boundary data the
    synthetic corpus happens not to contain."""
    import tempfile

    import duckdb

    from tests.oracle_utils import canonical_rows

    rows = [
        # user 1: exactly-30:00 gap -> ONE session [10:00, 11:00)
        (1, dt.datetime(2024, 1, 1, 10, 0, 0), 1, "click", 1.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 10, 30, 0), 1, "click", 2.0, "{}"),
        # user 2: 30:01 gap -> TWO sessions
        (3, dt.datetime(2024, 1, 1, 9, 0, 0), 2, "click", 5.0, "{}"),
        (4, dt.datetime(2024, 1, 1, 9, 30, 1), 2, "click", 6.0, "{}"),
        # user 3: NULL ts is dropped by SessionWindowing
        (5, None, 3, "click", 9.0, "{}"),
        (6, dt.datetime(2024, 1, 1, 8, 0, 0), 3, "click", 4.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string"
    )
    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
        sdf = registry.QUERIES["q_session_window"](spark, d).toPandas()
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"'{d}/events.parquet/*.parquet'"
        )
        odf = con.execute(registry.ORACLE["q_session_window"]).fetchdf()
        con.close()
    got = {
        (r.user_id, r.s_start.isoformat()): (r.n_events, r.total_value)
        for r in sdf.itertuples()
    }
    assert got == {
        (1, "2024-01-01T10:00:00"): (2, 3.0),
        (2, "2024-01-01T09:00:00"): (1, 5.0),
        (2, "2024-01-01T09:30:01"): (1, 6.0),
        (3, "2024-01-01T08:00:00"): (1, 4.0),
    }
    assert canonical_rows(sdf) == canonical_rows(odf)


def test_shared_sessionizer_drops_null_ts(spark):
    """The SHARED sessionizer (functions/sessionize.py) must drop
    NULL-ts rows like Spark's native session_window, and all three
    twins built on it must hash-match their oracles on a fixture
    containing NULL ts: Spark sorts NULLs first (each would seed a
    phantom session via prev_ts IS NULL) while DuckDB sorts them
    last (is_new stays 0) — kept rows make the twins diverge."""
    import tempfile

    import duckdb

    from tests.oracle_utils import canonical_rows

    rows = [
        # user 1: exactly-30:00 gap -> ONE session
        (1, dt.datetime(2024, 1, 1, 10, 0, 0), 1, "click", 1.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 10, 30, 0), 1, "click", 2.0, "{}"),
        # user 2: 30:01 gap -> TWO sessions
        (3, dt.datetime(2024, 1, 1, 9, 0, 0), 2, "click", 5.0, "{}"),
        (4, dt.datetime(2024, 1, 1, 9, 30, 1), 2, "click", 6.0, "{}"),
        # user 3: NULL ts must be dropped, not counted or sessioned
        (5, None, 3, "click", 9.0, "{}"),
        (6, dt.datetime(2024, 1, 1, 8, 0, 0), 3, "click", 4.0, "{}"),
        # user 4: three errors in epoch-hour 10 -> an incident window
        # so q_interval_overlap_join produces rows on this fixture
        (7, dt.datetime(2024, 1, 1, 10, 5, 0), 4, "error", 1.0, "{}"),
        (8, dt.datetime(2024, 1, 1, 10, 10, 0), 4, "error", 1.0, "{}"),
        (9, dt.datetime(2024, 1, 1, 10, 20, 0), 4, "error", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string"
    )
    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"'{d}/events.parquet/*.parquet'"
        )
        for name in (
            "q_sessionize",
            "q_session_concurrency",
            "q_interval_overlap_join",
        ):
            sdf = registry.QUERIES[name](spark, d).toPandas()
            odf = con.execute(registry.ORACLE[name]).fetchdf()
            assert canonical_rows(sdf) == canonical_rows(odf), name
            if name == "q_sessionize":
                by_user = {
                    r.user_id: (r.n_sessions, r.n_events)
                    for r in sdf.itertuples()
                }
                # user 3's NULL-ts row is gone: one 1-event session
                assert by_user[3] == (1, 1)
                assert by_user[1] == (1, 2)
                assert by_user[2] == (2, 2)
            if name == "q_interval_overlap_join":
                assert len(sdf) > 0  # the incident hour matched
        con.close()


def test_snapshot_diff_null_revenue_transitions(spark):
    """NULL-revenue transitions must classify as 'changed', not be
    NULL-swallowed into 'unchanged': a plain <> returns NULL when one
    snapshot's revenue sum is NULL (all prices NULL), silently
    dropping the row on BOTH twin sides — the oracle gate can never
    catch a twin-consistent bug, so the null-safe inequality is
    pinned here."""
    import tempfile

    import duckdb

    from tests.oracle_utils import canonical_rows

    cutoff = dt.datetime(1998, 1, 1)
    old_d = dt.datetime(1997, 6, 1)
    new_d = dt.datetime(1998, 6, 1)
    rows = [
        # cust 1: NULL old revenue -> priced new order: CHANGED
        (1, 1, old_d, None),
        (2, 1, new_d, 100.0),
        # cust 2: priced old -> additional NULL order only: new rev
        # equals old rev (NULL adds nothing): UNCHANGED (dropped)
        (3, 2, old_d, 50.0),
        (4, 2, new_d, None),
        # cust 3: NULL old -> NULL new only: both sums NULL: UNCHANGED
        (5, 3, old_d, None),
        (6, 3, new_d, None),
        # cust 4: first seen post-cutoff: ADDED
        (7, 4, new_d, 75.0),
        # cust 5: priced old -> priced new: CHANGED with delta
        (8, 5, old_d, 10.0),
        (9, 5, new_d, 5.0),
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey bigint, o_custkey bigint, o_orderdate timestamp,"
        " o_totalprice double",
    )
    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.mode("overwrite").parquet(f"{d}/orders.parquet")
        sdf = registry.QUERIES["q_snapshot_diff"](spark, d).toPandas()
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW orders AS SELECT * FROM "
            f"'{d}/orders.parquet/*.parquet'"
        )
        odf = con.execute(registry.ORACLE["q_snapshot_diff"]).fetchdf()
        con.close()
    assert canonical_rows(sdf) == canonical_rows(odf)
    got = {r.custkey: r.status for r in sdf.itertuples()}
    assert got == {1: "changed", 4: "added", 5: "changed"}


def test_null_ts_guards_match_oracle(spark, tmp_path):
    """Engine-divergence fixture: Spark window/sort orders ASC NULLS
    FIRST, DuckDB NULLS LAST, so every event-ordering query must
    drop NULL-ts rows in BOTH twins (the guard added after the r7
    review found six queries without it). The driver corpus has no
    NULL ts, so only this crafted corpus exercises the class: on
    unguarded code, each assertion below fails with path strings /
    window frames built in opposite orders."""
    import duckdb

    from tests.oracle_utils import canonical_rows

    rows = [
        # user 1: real funnel + a NULL-ts purchase and NULL-ts click
        (1, _ts(1), 1, "signup", 2.0),
        (2, _ts(2), 1, "click", 3.0),
        (3, None, 1, "purchase", 5.0),
        (4, _ts(3), 1, "view", 1.0),
        (5, None, 1, "click", 7.0),
        # user 2: ONLY NULL-ts events (must vanish identically)
        (6, None, 2, "purchase", 9.0),
        # user 3: bursts + a NULL-ts row inside the debounce group
        (7, _ts(4), 3, "click", 1.0),
        (8, _ts(4, 5), 3, "click", 2.0),
        (9, None, 3, "click", 4.0),
        (10, _ts(5), 3, "purchase", 6.0),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value"]
    ).withColumn("props", F.lit("{}"))
    d = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")

    # a tiny orders table (one NULL o_orderdate) so the
    # point-in-time join's update stream exercises its guard too
    odf = spark.createDataFrame(
        [
            (100, 1, _ts(0)),
            (101, 1, None),
            (102, 3, _ts(4, 2)),
        ],
        ["o_orderkey", "o_custkey", "o_orderdate"],
    )
    odf.coalesce(1).write.mode("overwrite").parquet(f"{d}/orders.parquet")

    con = duckdb.connect()
    # Spark writes a part-file DIRECTORY; glob it for DuckDB
    for t in ("events", "orders"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{d}/{t}.parquet/*.parquet'"
        )
    for name in (
        "q_funnel",
        "q_debounce_events",
        "q_locf_gapfill",
        "q_event_transitions",
        "q_time_weighted_avg",
        "q_attribution_last_touch",
        "q_point_in_time_join",
    ):
        got = registry.QUERIES[name](spark, d).toPandas()
        exp = con.execute(registry.ORACLE[name]).fetchdf()
        assert sorted(got.columns) == sorted(exp.columns), name
        assert canonical_rows(got) == canonical_rows(exp), name


def test_bitmap_distinct_helper_edge_cases(spark):
    """bitmap_distinct unit edges: NULL ids excluded like
    COUNT(DISTINCT), duplicates collapse, ids straddling word
    boundaries (63/64) count once each, and a group whose ids are
    ALL NULL survives at 0 (COUNT(DISTINCT) keeps the group; a
    pre-filter would delete it)."""
    from map_reduce_server_spark.operators.advanced import bitmap_distinct

    rows = [
        ("a", 0), ("a", 0), ("a", 63), ("a", 64), ("a", None),
        ("b", None), ("b", 128),
        ("c", None), ("c", None),
    ]
    df = spark.createDataFrame(rows, "g string, id bigint")
    got = {
        (r.g, r.n_distinct)
        for r in bitmap_distinct(df, "g", "id").collect()
    }
    assert got == {("a", 3), ("b", 1), ("c", 0)}


def test_bitmap_distinct_words_merge_losslessly(spark, sf_small):
    """The SCALING.md mergeability claim, executed: aggregating two
    disjoint shards separately and OR-merging their word tables must
    equal aggregating the union directly — the property that lets
    bitmap state roll up incrementally / across datacenters."""
    import pyspark.sql.functions as F

    from map_reduce_server_spark.operators.advanced import bitmap_distinct
    from map_reduce_server_spark.tables import load_table

    ev = load_table(spark, sf_small, "events").select(
        "event_type", "user_id"
    )
    whole = {
        (r.event_type, r.n_distinct)
        for r in bitmap_distinct(ev, "event_type", "user_id").collect()
    }

    def words(df):
        bit = F.when(
            F.col("user_id").isNotNull(),
            F.expr("shiftleft(1L, CAST(user_id % 64 AS INT))"),
        )
        return df.groupBy(
            "event_type",
            (F.col("user_id") / 64).cast("long").alias("word_idx"),
        ).agg(F.bit_or(bit).alias("bits"))

    # two disjoint shards by event id parity
    ev2 = load_table(spark, sf_small, "events")
    sh0 = ev2.filter(F.col("event_id") % 2 == 0).select(
        "event_type", "user_id"
    )
    sh1 = ev2.filter(F.col("event_id") % 2 == 1).select(
        "event_type", "user_id"
    )
    merged = (
        words(sh0)
        .unionAll(words(sh1))
        .groupBy("event_type", "word_idx")
        .agg(F.bit_or("bits").alias("bits"))
        .groupBy("event_type")
        .agg(
            F.sum(F.coalesce(F.bit_count("bits"), F.lit(0))).alias(
                "n_distinct"
            )
        )
    )
    got = {(r.event_type, r.n_distinct) for r in merged.collect()}
    assert got == whole
