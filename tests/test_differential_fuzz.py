"""Differential plan fuzzing: random filter/group/aggregate plans
rendered TWICE from one AST — once through the engine's DataFrame
API, once as DuckDB SQL — and compared with the driver's own
comparator. This is the registry's oracle gate generalized from 203
hand-written pairs to the whole (restricted) plan space: any
divergence is either an engine-portability physics (NULL rendering,
numeric type widening, rounding) that the recipes in
``functions/exact.py`` / ``functions/hashing.py`` must absorb, or a
genuine bug in how a plan was rendered.

The grammar is deliberately confined to the repo's PORTABLE subset —
exact-decimal sums for doubles (never bare float SUM), bigint-cast
integer sums (DuckDB widens SUM(BIGINT) to HUGEINT, which fetchdf
would render as float64), and no DATE outputs — so every generated
plan is one the engine's own queries are allowed to write. Leaves
draw only from lineitem columns verified NULL-free at all SFs; the
three-valued-logic plane has its own dedicated fuzz over a nullable
synthetic table (test_null_logic_fuzz.py) plus the hand-written
NULL-guard tests (the fuzz here must isolate ENGINE divergence, not
re-test SQL NULL semantics).
"""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import Column
from pyspark.sql import functions as F

from map_reduce_server_spark.functions import exact
from map_reduce_server_spark.tables import load_table
from tests.conftest import SF_SMALL
from tests.oracle_utils import compare_to_oracle, duck_connection


# nightly-style deep run: SPARK_GRAFT_FUZZ_EXAMPLES=250 multiplies
# the example budget on the aggregate-shaped families (the listagg
# crash needed a 3-agg draw; 25 examples/run finds such combinations
# only eventually). Default stays CI-sized.
import os as _os  # noqa: E402

_DEEP_EXAMPLES = int(_os.environ.get("SPARK_GRAFT_FUZZ_EXAMPLES", "0"))

# value envelopes measured at sf0.001 (superset-safe at other SFs:
# literals outside the data range just make emptier predicates)
NUM_COLS = {
    "l_quantity": (0.0, 55.0),
    "l_extendedprice": (800.0, 110000.0),
    "l_discount": (0.0, 0.11),
    "l_tax": (0.0, 0.09),
}
INT_COLS = {
    "l_orderkey": (0, 1600),
    "l_partkey": (0, 220),
    "l_suppkey": (0, 10),
    "l_linenumber": (1, 8),
}
STR_COLS = {"l_returnflag": ["A", "N", "R"], "l_linestatus": ["O", "F"]}
GROUP_COLS = ["l_returnflag", "l_linestatus", "l_suppkey", "l_linenumber"]
MONEY_COLS = sorted(NUM_COLS)
CMP_OPS = ["<", "<=", ">", ">=", "=", "<>"]

# per-table leaf envelopes for the join fuzz (both NULL-free;
# o_custkey 0-149 covers every c_custkey, so unmatched left rows
# only exist when the customer-side predicate removes some)
ORDERS_SPEC = {
    "num": {"o_totalprice": (1000.0, 510000.0)},
    "int": {"o_custkey": (0, 155)},
    "str": {
        "o_orderstatus": ["F", "O", "P"],
        "o_orderpriority": [
            "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
        ],
    },
}
CUSTOMER_SPEC = {
    "num": {"c_acctbal": (-900.0, 10000.0)},
    "int": {"c_nationkey": (0, 25), "c_custkey": (0, 155)},
    "str": {
        "c_mktsegment": [
            "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY",
        ],
    },
}


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_SMALL)
    yield con
    con.close()


# --- predicate AST ---------------------------------------------------------


@st.composite
def _num_leaf(draw, cols):
    col = draw(st.sampled_from(sorted(cols)))
    lo, hi = cols[col]
    # 2-decimal literals: exactly the data's own quantization, and
    # repr() renders them identically for both parsers
    cents = draw(st.integers(int(lo * 100), int(hi * 100)))
    return ("num", col, draw(st.sampled_from(CMP_OPS)), cents / 100.0)


@st.composite
def _int_leaf(draw, cols):
    col = draw(st.sampled_from(sorted(cols)))
    lo, hi = cols[col]
    return ("int", col, draw(st.sampled_from(CMP_OPS)), draw(st.integers(lo, hi)))


@st.composite
def _str_leaf(draw, cols):
    col = draw(st.sampled_from(sorted(cols)))
    if draw(st.booleans()):
        vals = draw(
            st.lists(
                st.sampled_from(cols[col]),
                min_size=1,
                max_size=len(cols[col]),
                unique=True,
            )
        )
        return ("in", col, sorted(vals))
    return ("str", col, draw(st.sampled_from(["=", "<>"])), draw(st.sampled_from(cols[col])))


@st.composite
def _ts_leaf(draw):
    base = dt.date(1994, 12, 1)
    day = base + dt.timedelta(days=draw(st.integers(0, 2600)))
    return ("ts", draw(st.sampled_from(CMP_OPS)), day.isoformat())


def _tree(leaf, max_leaves=4):
    return st.recursive(
        leaf,
        lambda kids: st.one_of(
            st.tuples(st.sampled_from(["and", "or"]), kids, kids),
            st.tuples(st.just("not"), kids),
        ),
        max_leaves=max_leaves,
    )


def table_pred(spec, with_ts=False, max_leaves=4):
    leaves = [
        _num_leaf(spec["num"]),
        _int_leaf(spec["int"]),
        _str_leaf(spec["str"]),
    ]
    if with_ts:
        leaves.append(_ts_leaf())
    return _tree(st.one_of(*leaves), max_leaves)


PRED = table_pred(
    {"num": NUM_COLS, "int": INT_COLS, "str": STR_COLS}, with_ts=True
)

_PY_OPS = {
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
    "=": lambda a, b: a == b,
    "<>": lambda a, b: a != b,
}


def pred_col(p) -> Column:
    kind = p[0]
    if kind == "and":
        return pred_col(p[1]) & pred_col(p[2])
    if kind == "or":
        return pred_col(p[1]) | pred_col(p[2])
    if kind == "not":
        return ~pred_col(p[1])
    if kind in ("num", "int"):
        _, col, op, lit = p
        return _PY_OPS[op](F.col(col), F.lit(lit))
    if kind == "str":
        _, col, op, lit = p
        return _PY_OPS[op](F.col(col), F.lit(lit))
    if kind == "in":
        return F.col(p[1]).isin(p[2])
    if kind == "ts":
        _, op, day = p
        lit = F.expr(f"TIMESTAMP_NTZ '{day} 00:00:00'")
        return _PY_OPS[op](F.col("l_shipdate"), lit)
    raise AssertionError(p)


def pred_sql(p) -> str:
    kind = p[0]
    if kind in ("and", "or"):
        return f"({pred_sql(p[1])} {kind.upper()} {pred_sql(p[2])})"
    if kind == "not":
        return f"(NOT {pred_sql(p[1])})"
    if kind == "num":
        _, col, op, lit = p
        return f"({col} {op} {lit!r})"
    if kind == "int":
        _, col, op, lit = p
        return f"({col} {op} {lit})"
    if kind == "str":
        _, col, op, lit = p
        return f"({col} {op} '{lit}')"
    if kind == "in":
        vals = ", ".join(f"'{v}'" for v in p[2])
        return f"({p[1]} IN ({vals}))"
    if kind == "ts":
        _, op, day = p
        return f"(l_shipdate {op} TIMESTAMP '{day} 00:00:00')"
    raise AssertionError(p)


# --- aggregate specs -------------------------------------------------------

_AGG_SPEC = st.one_of(
    st.just(("count_star",)),
    st.tuples(st.just("count"), st.sampled_from(GROUP_COLS + MONEY_COLS)),
    st.tuples(
        st.sampled_from(["min", "max"]),
        st.sampled_from(
            sorted(INT_COLS) + sorted(STR_COLS) + MONEY_COLS + ["l_shipdate"]
        ),
    ),
    st.tuples(st.just("sum_int"), st.sampled_from(sorted(INT_COLS))),
    st.tuples(st.just("dsum"), st.sampled_from(MONEY_COLS)),
    st.tuples(st.just("davg"), st.sampled_from(MONEY_COLS)),
    st.tuples(st.just("nuniq"), st.sampled_from(GROUP_COLS)),
    # exact interpolated percentile, CONFINED to the bit-exact
    # envelope: the engines use DIFFERENT interpolation formulas
    # (Spark a+(b-a)*f, DuckDB (1-f)*a+f*b — pinned in
    # test_engine_portability_pins.py; an earlier broader leg over
    # the money columns diverged in the last ulp exactly as the pin
    # shows, on equal adjacent order stats at f=0.1). With an
    # INTEGER-VALUED double column and DYADIC p both formulas are
    # exact in float64, so every bit agrees. DuckDB additionally
    # must not see DECIMAL inputs (decimal interpolation truncates).
    st.tuples(
        st.just("pctl"),
        st.just("l_quantity"),
        st.sampled_from([0.25, 0.5, 0.75]),
    ),
    # ordered string aggregation, rendered like string_agg with ORDER
    # BY (same NULL-skipping, all-NULL -> NULL). Ordering BY THE
    # VALUE keeps duplicates interchangeable, so the concat is
    # deterministic without a tiebreak. NOT rendered via Spark's
    # native `listagg ... WITHIN GROUP`: combined with >=2 distinct
    # aggregates that crashes Spark 4.1.2's RewriteDistinctAggregates
    # (ClassCastException AttributeReference -> SortOrder; pinned in
    # test_engine_portability_pins.py::test_listagg_multi_distinct_crash),
    # so the engine's portable rendering is
    # concat_ws(array_sort(collect_list())) — the same composition
    # the registered q_collect_sorted uses — which survives the
    # multi-distinct rewrite. collect_list skips NULLs exactly like
    # string_agg; the count()==0 guard restores all-NULL -> NULL
    # (concat_ws over an empty array yields '' instead).
    st.tuples(st.just("lagg"), st.sampled_from(sorted(STR_COLS))),
)

AGGS = st.lists(_AGG_SPEC, min_size=1, max_size=4, unique=True)
KEYS = st.lists(st.sampled_from(GROUP_COLS), unique=True, max_size=2)


def agg_pair(spec) -> tuple[Column, str]:
    kind = spec[0]
    if kind == "count_star":
        return F.count(F.lit(1)), "COUNT(*)"
    col = spec[1]
    if kind == "count":
        return F.count(col), f"COUNT({col})"
    if kind in ("min", "max"):
        return getattr(F, kind)(col), f"{kind.upper()}({col})"
    if kind == "sum_int":
        # DuckDB widens SUM(BIGINT) to HUGEINT and fetchdf would
        # render that as float64 — cast back on the oracle side
        return F.sum(col), f"CAST(SUM({col}) AS BIGINT)"
    if kind == "dsum":
        return exact.dsum(col), exact.sql_dsum(col)
    if kind == "davg":
        return exact.davg(col), exact.sql_davg(col)
    if kind == "nuniq":
        return F.countDistinct(col), f"COUNT(DISTINCT {col})"
    if kind == "pctl":
        p = spec[2]
        return (
            F.percentile(col, F.lit(p)),
            f"quantile_cont({col}, {p})",
        )
    if kind == "lagg":
        return (
            F.when(F.count(col) == 0, F.lit(None)).otherwise(
                F.concat_ws("|", F.array_sort(F.collect_list(col)))
            ),
            f"string_agg({col}, '|' ORDER BY {col})",
        )
    raise AssertionError(spec)


def _run_agg_plan(spark, duck, pred, keys, aggs):
    df = load_table(spark, SF_SMALL, "lineitem").filter(pred_col(pred))
    pairs = [agg_pair(s) for s in aggs]
    cols = [c.alias(f"a{i}") for i, (c, _) in enumerate(pairs)]
    out = df.groupBy(*keys).agg(*cols) if keys else df.agg(*cols)
    select = ", ".join(
        list(keys) + [f"{s} AS a{i}" for i, (_, s) in enumerate(pairs)]
    )
    sql = f"SELECT {select} FROM lineitem WHERE {pred_sql(pred)}"
    if keys:
        sql += f" GROUP BY {', '.join(keys)}"
    ok, msg = compare_to_oracle(out, sql, SF_SMALL, con=duck)
    assert ok, f"{msg}\nplan: pred={pred} keys={keys} aggs={aggs}\nsql: {sql}"


@settings(
    max_examples=_DEEP_EXAMPLES or 25,
    deadline=None,
    print_blob=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(pred=PRED, keys=KEYS, aggs=AGGS)
# empty input, no keys: the NULL-aggregate rendering corner (Spark
# None vs duckdb NaN must canonicalize identically per dtype)
@example(
    pred=("num", "l_quantity", "<", 0.5),
    keys=[],
    aggs=[
        ("count_star",),
        ("min", "l_orderkey"),
        ("max", "l_extendedprice"),
        ("dsum", "l_discount"),
    ],
)
# full-table global aggregate over every family at once
@example(
    pred=("num", "l_quantity", ">=", 0.0),
    keys=["l_returnflag", "l_linestatus"],
    aggs=[
        ("sum_int", "l_orderkey"),
        ("davg", "l_extendedprice"),
        ("nuniq", "l_suppkey"),
        ("min", "l_shipdate"),
    ],
)
# the round-11 Hypothesis-shrunk crasher: >=2 distinct aggregates +
# an ordered string agg in a GLOBAL aggregate. Under the old native
# `listagg ... WITHIN GROUP` rendering this threw ClassCastException
# (AttributeReference -> SortOrder) inside Spark 4.1.2's
# RewriteDistinctAggregates; the portable collect_list rendering must
# keep it green forever (upstream bug pinned in
# test_engine_portability_pins.py::test_listagg_multi_distinct_crash).
@example(
    pred=("num", "l_quantity", ">=", 0.0),
    keys=[],
    aggs=[
        ("nuniq", "l_returnflag"),
        ("nuniq", "l_linestatus"),
        ("lagg", "l_linestatus"),
    ],
)
def test_fuzz_filter_group_aggregate(spark, duck, pred, keys, aggs):
    _run_agg_plan(spark, duck, pred, keys, aggs)


@settings(
    max_examples=_DEEP_EXAMPLES or 25,
    deadline=None,
    print_blob=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(pred=PRED)
@example(pred=("not", ("in", "l_returnflag", ["A", "N", "R"])))
@example(
    pred=("or", ("ts", "<", "1995-06-01"), ("ts", ">=", "2001-06-01"))
)
def test_fuzz_filter_rowset(spark, duck, pred):
    """Row-exact predicate check: the filtered key multiset must
    match DuckDB's — catches comparison-semantics divergence that an
    aggregate could mask (two wrong rows cancelling in a SUM)."""
    df = (
        load_table(spark, SF_SMALL, "lineitem")
        .filter(pred_col(pred))
        .select("l_orderkey", "l_linenumber", "l_returnflag")
    )
    sql = (
        "SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem "
        f"WHERE {pred_sql(pred)}"
    )
    ok, msg = compare_to_oracle(df, sql, SF_SMALL, con=duck)
    assert ok, f"{msg}\nplan: pred={pred}\nsql: {sql}"


# --- window fuzz (orders: o_orderkey is unique, so every ordered
# frame is deterministic — the engine's window contract requires the
# ORDER BY to end in a unique key, tests/../SKILL.md) ---------------


_WIN_FUNCS = [
    "row_number",
    "running_count",
    "running_sum_int",
    "running_dsum",
    "lag_key",
]


def _win_pair(fn: str, over_col: str, over_sql: str) -> tuple[Column, str]:
    from pyspark.sql import Window

    base = (
        Window.partitionBy(over_col)
        if over_col
        else Window.partitionBy(F.lit(1))
    ).orderBy("o_orderkey")
    # ranking/offset functions take NO explicit frame (both engines
    # reject or ignore one); aggregates get the pinned ROWS frame
    framed = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    part = f"PARTITION BY {over_sql} " if over_sql else ""
    over_plain = f"OVER ({part}ORDER BY o_orderkey)"
    over_framed = (
        f"OVER ({part}ORDER BY o_orderkey "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    if fn == "row_number":
        return F.row_number().over(base), f"ROW_NUMBER() {over_plain}"
    if fn == "running_count":
        return F.count(F.lit(1)).over(framed), f"COUNT(*) {over_framed}"
    if fn == "running_sum_int":
        # bigint cast: DuckDB widens SUM(BIGINT) to HUGEINT
        return (
            F.sum("o_custkey").over(framed),
            f"CAST(SUM(o_custkey) {over_framed} AS BIGINT)",
        )
    if fn == "running_dsum":
        return (
            F.sum(exact.checked_decimal(F.col("o_totalprice"), 2))
            .over(framed)
            .cast("double"),
            f"CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) {over_framed} "
            "AS DOUBLE)",
        )
    if fn == "lag_key":
        # coalesce the partition-leading NULL to a sentinel: a NULL
        # bigint becomes float64 NaN through one engine's toPandas
        # and nullable Int64 through the other's, and the comparator
        # is deliberately strict about that encoding
        return (
            F.coalesce(F.lag("o_orderkey", 1).over(base), F.lit(-1)),
            f"COALESCE(LAG(o_orderkey, 1) {over_plain}, -1)",
        )
    raise AssertionError(fn)


@settings(
    max_examples=_DEEP_EXAMPLES or 20,
    deadline=None,
    print_blob=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    part=st.sampled_from(["", "o_orderstatus", "o_orderpriority", "o_custkey"]),
    funcs=st.lists(st.sampled_from(_WIN_FUNCS), min_size=1, max_size=4, unique=True),
    pred=table_pred(ORDERS_SPEC, max_leaves=3),
)
@example(
    part="",
    funcs=["row_number", "running_dsum", "lag_key"],
    pred=("str", "o_orderstatus", "<>", "P"),
)
def test_fuzz_window_running(spark, duck, part, funcs, pred):
    """Windowed running aggregates over a unique ORDER BY must be
    row-identical across engines (frames pinned to ROWS BETWEEN)."""
    df = load_table(spark, SF_SMALL, "orders").filter(pred_col(pred))
    pairs = [_win_pair(fn, part, part) for fn in funcs]
    out = df.select(
        "o_orderkey",
        *[c.alias(f"w{i}") for i, (c, _) in enumerate(pairs)],
    )
    select = ", ".join(
        ["o_orderkey"] + [f"{s} AS w{i}" for i, (_, s) in enumerate(pairs)]
    )
    sql = f"SELECT {select} FROM orders WHERE {pred_sql(pred)}"
    ok, msg = compare_to_oracle(out, sql, SF_SMALL, con=duck)
    assert ok, f"{msg}\nplan: part={part} funcs={funcs} pred={pred}\nsql: {sql}"


# --- join fuzz (orders x customer) -----------------------------------------

_JOIN_AGGS = {
    # (spark column FACTORY — Columns need a live SparkContext, so
    # they cannot be built at import time —, duckdb snippet, needs
    # right side)
    "n": (lambda: F.count(F.lit(1)), "COUNT(*)", False),
    "n_matched": (lambda: F.count("c_custkey"), "COUNT(c_custkey)", True),
    "dsum_price": (
        lambda: exact.dsum("o_totalprice"),
        exact.sql_dsum("o_totalprice"),
        False,
    ),
    "dsum_bal": (
        lambda: exact.dsum("c_acctbal"),
        exact.sql_dsum("c_acctbal"),
        True,
    ),
    "nuniq_cust": (
        lambda: F.countDistinct("o_custkey"),
        "COUNT(DISTINCT o_custkey)",
        False,
    ),
}


@settings(
    max_examples=_DEEP_EXAMPLES or 20,
    deadline=None,
    print_blob=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    how=st.sampled_from(["inner", "left", "semi", "anti"]),
    opred=table_pred(ORDERS_SPEC, max_leaves=3),
    cpred=table_pred(CUSTOMER_SPEC, max_leaves=3),
    aggs=st.lists(
        st.sampled_from(sorted(_JOIN_AGGS)), min_size=1, max_size=3, unique=True
    ),
    key=st.sampled_from(["", "o_orderstatus", "c_mktsegment"]),
)
@example(
    how="left",
    opred=("str", "o_orderstatus", "=", "O"),
    cpred=("str", "c_mktsegment", "=", "BUILDING"),
    aggs=["n", "n_matched", "dsum_bal"],
    key="c_mktsegment",
)
@example(
    how="anti",
    opred=("int", "o_custkey", ">=", 0),
    cpred=("num", "c_acctbal", ">", 0.0),
    aggs=["n", "dsum_price"],
    key="o_orderstatus",
)
def test_fuzz_join_aggregate(spark, duck, how, opred, cpred, aggs, key):
    """Filtered equi-joins of every type, then exact aggregates.
    Unmatched-left rows exist exactly when the customer-side filter
    removes customers (the FK is complete), so LEFT joins exercise
    the NULL-right plane; semi/anti restrict to left columns."""
    if how in ("semi", "anti"):
        # semi/anti expose only left columns — a right-side group
        # key or aggregate is unrepresentable there; LEFT joins KEEP
        # right-side keys so the NULL-group plane gets exercised
        if key == "c_mktsegment":
            key = "o_orderstatus"
        aggs = [a for a in aggs if not _JOIN_AGGS[a][2]] or ["n"]

    o = load_table(spark, SF_SMALL, "orders").filter(pred_col(opred))
    c = load_table(spark, SF_SMALL, "customer").filter(pred_col(cpred))
    joined = o.join(
        c,
        o["o_custkey"] == c["c_custkey"],
        {"semi": "left_semi", "anti": "left_anti"}.get(how, how),
    )
    cols = [_JOIN_AGGS[a][0]().alias(a) for a in aggs]
    out = joined.groupBy(key).agg(*cols) if key else joined.agg(*cols)

    csub = f"(SELECT * FROM customer WHERE {pred_sql(cpred)}) c"
    on = "o.o_custkey = c.c_custkey"
    if how in ("inner", "left"):
        join_sql = (
            f"(SELECT * FROM orders WHERE {pred_sql(opred)}) o "
            f"{'LEFT ' if how == 'left' else ''}JOIN {csub} ON {on}"
        )
    else:
        exists = "NOT EXISTS" if how == "anti" else "EXISTS"
        join_sql = (
            f"(SELECT * FROM orders WHERE {pred_sql(opred)}) o "
            f"WHERE {exists} (SELECT 1 FROM {csub} WHERE {on})"
        )
    select = ", ".join(
        ([key] if key else [])
        + [f"{_JOIN_AGGS[a][1]} AS {a}" for a in aggs]
    )
    sql = f"SELECT {select} FROM {join_sql}"
    if key:
        sql += f" GROUP BY {key}"
    ok, msg = compare_to_oracle(out, sql, SF_SMALL, con=duck)
    assert ok, (
        f"{msg}\nplan: how={how} key={key} aggs={aggs} "
        f"opred={opred} cpred={cpred}\nsql: {sql}"
    )


# --- scalar expression fuzz -------------------------------------------------
# Nested string expressions over part (ASCII-only data), date parts /
# truncation / arithmetic over orders, double math over p_retailprice
# — the q_string_funcs / q_date_funcs / q_math_funcs recipe space with
# fuzzed nesting and literals. Excluded ON PURPOSE (known-nonportable,
# pinned with their verified directions in
# test_engine_portability_pins.py): substr starts < 1, negative
# left/right lengths, non-ASCII case mapping, concat() over NULLs,
# LIKE-escape without an explicit ESCAPE clause, stringified doubles,
# boolean outputs (numpy bool_ vs int canonicalization), and bare
# round(double, n) — Spark rounds the double's SHORTEST DECIMAL REPR
# half-up (Java BigDecimal.valueOf) while DuckDB tracks the binary
# value on part of the boundary set, so 1.005 -> 1.01 vs 1.0 even
# though many poison values (2.675, 0.35) happen to agree.

_STR_COLS_PART = ["p_name", "p_brand", "p_type"]

_STR_LEAF = st.tuples(st.just("col"), st.sampled_from(_STR_COLS_PART))


@st.composite
def _str_node(draw, kids):
    kind = draw(
        st.sampled_from(
            ["upper", "lower", "trim", "reverse", "substr", "concat", "replace"]
        )
    )
    if kind in ("upper", "lower", "trim", "reverse"):
        return (kind, draw(kids))
    if kind == "substr":
        return (kind, draw(kids), draw(st.integers(1, 6)), draw(st.integers(1, 8)))
    if kind == "concat":
        return (kind, draw(kids), draw(st.sampled_from(["/", "-", " "])), draw(kids))
    return (
        "replace",
        draw(kids),
        draw(st.sampled_from(["Brand#", "widget", "PROMO", "o", "e"])),
        draw(st.sampled_from(["B", "X", ""])),
    )


_STR_EXPR = st.recursive(_STR_LEAF, lambda kids: _str_node(kids), max_leaves=3)

# terminal renderings: the raw string, its length, or a LIKE flag
# folded to 'y'/'n' (never a bare boolean column)
_STR_OUT = st.one_of(
    st.tuples(st.just("str"), _STR_EXPR),
    st.tuples(st.just("len"), _STR_EXPR),
    st.tuples(
        st.just("like"),
        _STR_EXPR,
        st.sampled_from(["%widget%", "%ECO%", "B%", "%o", "% %"]),
    ),
)


def _str_col(e) -> Column:
    kind = e[0]
    if kind == "col":
        return F.col(e[1])
    if kind in ("upper", "lower", "trim", "reverse"):
        return getattr(F, kind)(_str_col(e[1]))
    if kind == "substr":
        return F.substring(_str_col(e[1]), e[2], e[3])
    if kind == "concat":
        return F.concat(_str_col(e[1]), F.lit(e[2]), _str_col(e[3]))
    if kind == "replace":
        return F.replace(_str_col(e[1]), F.lit(e[2]), F.lit(e[3]))
    raise AssertionError(e)


def _str_sql(e) -> str:
    kind = e[0]
    if kind == "col":
        return e[1]
    if kind in ("upper", "lower", "trim", "reverse"):
        return f"{kind}({_str_sql(e[1])})"
    if kind == "substr":
        return f"substr({_str_sql(e[1])}, {e[2]}, {e[3]})"
    if kind == "concat":
        return f"({_str_sql(e[1])} || '{e[2]}' || {_str_sql(e[3])})"
    if kind == "replace":
        return f"replace({_str_sql(e[1])}, '{e[2]}', '{e[3]}')"
    raise AssertionError(e)


def _str_out_pair(out, alias) -> tuple[Column, str]:
    kind, e = out[0], out[1]
    if kind == "str":
        return _str_col(e), _str_sql(e)
    if kind == "len":
        return (
            F.length(_str_col(e)),
            f"CAST(length({_str_sql(e)}) AS INTEGER)",
        )
    pat = out[2]
    return (
        F.when(_str_col(e).like(pat), F.lit("y")).otherwise(F.lit("n")),
        f"CASE WHEN {_str_sql(e)} LIKE '{pat}' THEN 'y' ELSE 'n' END",
    )


@settings(
    max_examples=_DEEP_EXAMPLES or 25,
    deadline=None,
    print_blob=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(outs=st.lists(_STR_OUT, min_size=1, max_size=4, unique=True))
@example(
    outs=[
        ("str", ("replace", ("reverse", ("col", "p_brand")), "Brand#", "")),
        ("len", ("substr", ("concat", ("col", "p_name"), "/", ("col", "p_type")), 6, 8)),
        ("like", ("lower", ("col", "p_type")), "%ECO%"),
    ]
)
def test_fuzz_string_exprs(spark, duck, outs):
    df = load_table(spark, SF_SMALL, "part")
    pairs = [_str_out_pair(o, f"s{i}") for i, o in enumerate(outs)]
    out = df.select(
        "p_partkey", *[c.alias(f"s{i}") for i, (c, _) in enumerate(pairs)]
    )
    select = ", ".join(
        ["p_partkey"] + [f"{s} AS s{i}" for i, (_, s) in enumerate(pairs)]
    )
    sql = f"SELECT {select} FROM part"
    ok, msg = compare_to_oracle(out, sql, SF_SMALL, con=duck)
    assert ok, f"{msg}\nplan: outs={outs}\nsql: {sql}"


_TRUNC_UNITS = ["year", "quarter", "month", "week", "day"]
_DIFF_BASES = ["1994-01-01", "1995-01-01", "1998-06-15"]

_DATE_OUT = st.one_of(
    st.tuples(
        st.just("part"),
        st.sampled_from(["year", "month", "quarter", "weekofyear", "dayofyear", "dayofmonth"]),
    ),
    st.tuples(st.just("trunc"), st.sampled_from(_TRUNC_UNITS)),
    st.tuples(st.just("adddays"), st.integers(1, 400)),
    st.tuples(st.just("datediff"), st.sampled_from(_DIFF_BASES)),
    # the three portable recipes pinned in
    # test_engine_portability_pins.py: ISO day-of-week via arithmetic
    # (no same-named dow function is portable), last_day, and
    # month-interval add (month-end clamping agrees; both sides cast
    # to TIMESTAMP because the engines disagree on the return type)
    st.tuples(st.just("isodow"), st.none()),
    st.tuples(st.just("lastday"), st.none()),
    st.tuples(st.just("addmonths"), st.integers(1, 25)),
)

_DUCK_PART = {
    "year": "year",
    "month": "month",
    "quarter": "quarter",
    "weekofyear": "weekofyear",
    "dayofyear": "dayofyear",
    "dayofmonth": "day",
}


def _date_out_pair(out) -> tuple[Column, str]:
    kind = out[0]
    if kind == "part":
        fn = out[1]
        return (
            getattr(F, fn)("o_orderdate"),
            f"CAST({_DUCK_PART[fn]}(o_orderdate) AS INTEGER)",
        )
    if kind == "trunc":
        unit = out[1]
        return (
            F.date_trunc(unit, F.col("o_orderdate")),
            f"CAST(date_trunc('{unit}', o_orderdate) AS TIMESTAMP)",
        )
    if kind == "adddays":
        n = out[1]
        return (
            F.col("o_orderdate") + F.expr(f"INTERVAL {n} DAYS"),
            f"CAST(o_orderdate + INTERVAL {n} DAY AS TIMESTAMP)",
        )
    if kind == "isodow":
        return (
            F.weekday("o_orderdate") + F.lit(1),
            "CAST(isodow(o_orderdate) AS INTEGER)",
        )
    if kind == "lastday":
        return (
            F.last_day("o_orderdate").cast("timestamp"),
            "CAST(last_day(o_orderdate) AS TIMESTAMP)",
        )
    if kind == "addmonths":
        n = out[1]
        return (
            (F.col("o_orderdate") + F.expr(f"INTERVAL {n} MONTHS")).cast(
                "timestamp"
            ),
            f"CAST(o_orderdate + INTERVAL {n} MONTH AS TIMESTAMP)",
        )
    base = out[1]
    return (
        F.datediff(F.col("o_orderdate"), F.lit(base).cast("date")),
        f"CAST(datediff('day', TIMESTAMP '{base} 00:00:00', o_orderdate) "
        "AS INTEGER)",
    )


# Days per unit of every interval-producing _DATE_OUT kind, as
# DuckDB's CSE normalizes them (a month is 30 days).
_INTERVAL_DAYS = {"adddays": 1, "addmonths": 30}


def _no_normalized_equal_intervals(outs) -> bool:
    # DuckDB 1.0's CSE compares interval constants by 30-day-month
    # normalized value, so `+ INTERVAL n DAY` and `+ INTERVAL m MONTH`
    # on the same column unify into one expression when n == 30*m and
    # the oracle silently returns the FIRST for both (pinned in
    # test_engine_portability_pins.py::
    # test_duckdb_interval_cse_folds_normalized_equal_intervals).
    # Oracle-side bug, not a Spark divergence — keep the draw space
    # outside it, as q_date_funcs' 91-day workaround does.
    days = [
        _INTERVAL_DAYS[o[0]] * o[1] for o in set(outs) if o[0] in _INTERVAL_DAYS
    ]
    return len(days) == len(set(days))


@settings(
    max_examples=_DEEP_EXAMPLES or 25,
    deadline=None,
    print_blob=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    outs=st.lists(_DATE_OUT, min_size=1, max_size=4, unique=True).filter(
        _no_normalized_equal_intervals
    )
)
@example(
    outs=[
        ("trunc", "week"),
        ("adddays", 91),
        ("datediff", "1998-06-15"),
        ("part", "weekofyear"),
    ]
)
@example(
    outs=[
        ("isodow", None),
        ("lastday", None),
        ("addmonths", 13),  # crosses a year boundary; clamps at 31sts
    ]
)
def test_fuzz_date_exprs(spark, duck, outs):
    df = load_table(spark, SF_SMALL, "orders")
    pairs = [_date_out_pair(o) for o in outs]
    for o, (_, s) in zip(outs, pairs):
        # a new interval kind must join _INTERVAL_DAYS, or the CSE
        # filter above cannot see its collisions
        assert ("INTERVAL" in s) == (o[0] in _INTERVAL_DAYS), o
    out = df.select(
        "o_orderkey", *[c.alias(f"d{i}") for i, (c, _) in enumerate(pairs)]
    )
    select = ", ".join(
        ["o_orderkey"] + [f"{s} AS d{i}" for i, (_, s) in enumerate(pairs)]
    )
    sql = f"SELECT {select} FROM orders"
    ok, msg = compare_to_oracle(out, sql, SF_SMALL, con=duck)
    assert ok, f"{msg}\nplan: outs={outs}\nsql: {sql}"


# --- regexp fuzz ------------------------------------------------------------
# Java regex (Spark) vs RE2 (DuckDB) over the REGULAR subset both
# dialects share: literals, character classes, dot, alternation,
# greedy/lazy quantifiers, anchors. Out of envelope (engine-specific
# syntax, not fuzzable): pattern backreferences and lookaround
# (RE2 lacks them), possessive quantifiers (Java only), replacement
# group refs ($n vs \n — pinned), and the replace-all-vs-first
# default (pinned; the fuzz always passes DuckDB's 'g' flag).
# Probed agreements the fuzz builds on: leftmost-first alternation,
# no-match extract -> '' on both, non-participating group -> '' on
# both, dot excludes newline on both.

_RX_LIT = st.text(alphabet="ab01 z", min_size=1, max_size=3)
_RX_CLASS = st.sampled_from(
    ["[ab]", "[a-d]", "[0-9]", "[^ab]", "[a-d0-3]", "[^0-9 ]"]
)
_RX_ATOM = st.one_of(
    _RX_LIT, _RX_CLASS, st.just("."), st.sampled_from(["a", "b", "0", "1"])
)
_RX_QUANT = st.sampled_from(["?", "*", "+", "{1,2}", "{2}", "*?", "+?"])


def _rx_quantified(atom_and_q):
    atom, q = atom_and_q
    # quantify a single char / class / dot; parenthesize multi-char
    # literals so the quantifier binds the whole run
    if len(atom) > 1 and not atom.startswith("["):
        atom = f"({atom})"
    return atom + q


_RX_PIECE = st.one_of(
    _RX_ATOM,
    st.tuples(_RX_ATOM, _RX_QUANT).map(_rx_quantified),
)
_RX_CONCAT = st.lists(_RX_PIECE, min_size=1, max_size=4).map("".join)
_RX_PATTERN = st.builds(
    lambda alts, anchor_l, anchor_r: (
        ("^" if anchor_l else "")
        + ("|".join(alts) if len(alts) == 1 else "(" + "|".join(alts) + ")")
        + ("$" if anchor_r else "")
    ),
    st.lists(_RX_CONCAT, min_size=1, max_size=3),
    st.booleans(),
    st.booleans(),
)
_RX_TEXT = st.text(alphabet="ab01 z.,xy", max_size=14)


@settings(
    max_examples=_DEEP_EXAMPLES or 30,
    deadline=None,
    print_blob=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(_RX_TEXT, min_size=1, max_size=12),
    pattern=_RX_PATTERN,
)
@example(texts=["abab", "a b1", "", "zz.,", "0110"], pattern="^(a.*?b|[^ab]+)")
@example(texts=["aaaa", "ab ab", "xyxy"], pattern="(a+?|[a-d0-3]{1,2})$")
# the round-12 random draw that exposed the NULLABLE-pattern
# divergence below: both engines match and extract identically, but
# global replace disagrees on the trailing empty match ('ZZ' vs 'Z')
@example(texts=["0"], pattern="0?")
def test_fuzz_regexp_twins(spark, duck, texts, pattern):
    import re as _re

    # NULLABLE patterns (can match the empty string) produce
    # zero-length matches, and the engines' global-replace loops
    # disagree about the one trailing a final non-empty match: Java
    # appendReplacement substitutes it (regexp_replace('0','0?','Z')
    # = 'ZZ') while RE2's GlobalReplace skips an empty match
    # immediately after a previous match ('Z'). Pinned in
    # test_engine_portability_pins.py::
    # test_regexp_replace_nullable_pattern_diverges; matching and
    # extraction stay portable, so only the replace leg is gated.
    replace_portable = _re.fullmatch(pattern, "") is None
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "i long, text string")
    rep_expr = (
        [f"regexp_replace(text, '{pattern}', 'Z') AS rep"]
        if replace_portable
        else []
    )
    got = {
        r.i: (r.m, r.x) + ((r.rep,) if replace_portable else ())
        for r in df.selectExpr(
            "i",
            f"text RLIKE '{pattern}' AS m",
            f"regexp_extract(text, '{pattern}', 0) AS x",
            *rep_expr,
        ).collect()
    }
    rep_sql = (
        f", regexp_replace(text, '{pattern}', 'Z', 'g') "
        if replace_portable
        else " "
    )
    oracle = {
        row[0]: tuple(row[1:])
        for row in duck.execute(
            f"SELECT i, regexp_matches(text, '{pattern}'), "
            f"regexp_extract(text, '{pattern}', 0)"
            f"{rep_sql}"
            "FROM (SELECT unnest($is) AS i, unnest($txts) AS text)",
            {"is": [i for i, _ in rows], "txts": [t for _, t in rows]},
        ).fetchall()
    }
    assert got == oracle, f"pattern: {pattern!r}"


# --- timestamp expression fuzz ----------------------------------------------
# The events table is the engine's sub-day time surface (sessionize,
# time rollups, as-of joins, streaming watermarks) and ships as
# TIMESTAMP(NANOS) parquet normalized by tables.load_table. Fuzz
# timestamp expressions over it: truncation grains, part extraction,
# epoch seconds, interval shifts, and second-diffs — NULL ts rows
# stay in (NULL propagates identically on both engines).

_TS_TRUNC_UNITS = ["year", "quarter", "month", "week", "day", "hour", "minute"]
_TS_PARTS = ["year", "month", "hour", "minute", "second"]
_TS_BASE = "1994-06-15 12:00:00"

_TS_OUT = st.one_of(
    st.tuples(st.just("trunc"), st.sampled_from(_TS_TRUNC_UNITS)),
    st.tuples(st.just("part"), st.sampled_from(_TS_PARTS)),
    st.tuples(st.just("epoch"), st.none()),
    st.tuples(
        st.tuples(
            st.just("shift"), st.sampled_from(["HOUR", "MINUTE", "DAY"])
        ),
        st.integers(-500, 500),
    ),
    st.tuples(st.just("diffsec"), st.none()),
)


def _ts_out_pair(out) -> tuple[Column, str]:
    kind = out[0]
    if kind == "part":
        fn = out[1]
        return (
            getattr(F, fn)("ts"),
            f"CAST({fn}(ts) AS INTEGER)",
        )
    if kind == "epoch":
        # floor() before the cast: Spark's unix_timestamp truncates
        # fractional seconds toward -inf while a bare
        # CAST(epoch(ts) AS BIGINT) ROUNDS on DuckDB (pinned in
        # test_engine_portability_pins.py)
        return (
            F.unix_timestamp("ts"),
            "CAST(floor(epoch(ts)) AS BIGINT)",
        )
    if kind == "diffsec":
        return (
            F.expr(f"timestampdiff(SECOND, TIMESTAMP '{_TS_BASE}', ts)"),
            f"CAST(datediff('second', TIMESTAMP '{_TS_BASE}', ts) "
            "AS BIGINT)",
        )
    if kind == "trunc":
        unit = out[1]
        return (
            F.date_trunc(unit, F.col("ts")),
            f"CAST(date_trunc('{unit}', ts) AS TIMESTAMP)",
        )
    (_, unit), n = out
    # n * INTERVAL 1 UNIT on both sides: DuckDB's parser rejects a
    # negative count inside an INTERVAL literal
    return (
        F.expr(f"ts + {n} * INTERVAL 1 {unit}"),
        f"CAST(ts + {n} * INTERVAL 1 {unit} AS TIMESTAMP)",
    )


@settings(
    max_examples=_DEEP_EXAMPLES or 25,
    deadline=None,
    print_blob=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(outs=st.lists(_TS_OUT, min_size=1, max_size=4, unique=True))
@example(
    outs=[
        ("trunc", "week"),
        ("part", "second"),
        ("epoch", None),
        (("shift", "MINUTE"), -321),
    ]
)
@example(outs=[("diffsec", None), ("trunc", "minute")])
def test_fuzz_timestamp_exprs(spark, duck, outs):
    df = load_table(spark, SF_SMALL, "events")
    pairs = [_ts_out_pair(o) for o in outs]
    out = df.select(
        "event_id", *[c.alias(f"t{i}") for i, (c, _) in enumerate(pairs)]
    )
    select = ", ".join(
        ["event_id"] + [f"{s} AS t{i}" for i, (_, s) in enumerate(pairs)]
    )
    sql = f"SELECT {select} FROM events"
    ok, msg = compare_to_oracle(out, sql, SF_SMALL, con=duck)
    assert ok, f"{msg}\nplan: outs={outs}\nsql: {sql}"


# --- JSON extraction fuzz ---------------------------------------------------
# get_json_object vs json_extract_string over generated documents,
# confined to the portable envelope pinned in
# test_engine_portability_pins.py: identifier keys, printable-ASCII
# strings (json.dumps handles quoting/escaping), booleans,
# int64-range integers, and doubles with magnitude 0 or in
# [0.01, 1e7) so neither engine's double-to-string rendering goes
# scientific. Documents are always well-formed (malformed input is
# NULL-vs-ERROR across engines — pinned, out of envelope). Paths
# cover every concrete leaf/branch plus guaranteed-missing keys.

_JSON_KEYS = list("abcdefgh")
_JSON_STR = st.text(
    alphabet=st.characters(codec="ascii", min_codepoint=32, max_codepoint=126),
    max_size=12,
)
_JSON_NUM = st.integers(-999_999_999, 999_999_999).map(
    lambda m: 0.0 if abs(m) < 100 else m / 100.0
)
_JSON_SCALAR = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(-(2**62), 2**62),
    _JSON_NUM,
    _JSON_STR,
)
# array elements exclude JSON null: indexing a null yields the text
# 'null' on Spark but SQL NULL on DuckDB (pinned; ambiguous with an
# honest "null" string, so not normalizable)
_JSON_ELEM = st.one_of(
    st.booleans(), st.integers(-(2**62), 2**62), _JSON_NUM, _JSON_STR
)
_JSON_VALUE = st.one_of(
    _JSON_SCALAR,
    st.lists(_JSON_ELEM, max_size=3),
    st.dictionaries(
        st.sampled_from(_JSON_KEYS),
        st.one_of(_JSON_SCALAR, st.lists(_JSON_ELEM, max_size=3)),
        max_size=3,
    ),
)
_JSON_DOC = st.dictionaries(
    st.sampled_from(_JSON_KEYS), _JSON_VALUE, max_size=4
)


def _json_paths(doc: dict) -> list[str]:
    paths = ["$.zz"]  # guaranteed missing (keys are single letters)
    for k, v in doc.items():
        paths.append(f"$.{k}")
        if isinstance(v, list):
            paths.extend(f"$.{k}[{i}]" for i in range(len(v)))
            paths.append(f"$.{k}[{len(v)}]")  # out of bounds
        elif isinstance(v, dict):
            for k2, v2 in v.items():
                paths.append(f"$.{k}.{k2}")
                if isinstance(v2, list):
                    paths.extend(
                        f"$.{k}.{k2}[{i}]" for i in range(len(v2))
                    )
    return paths


@settings(
    max_examples=_DEEP_EXAMPLES or 25,
    deadline=None,
    print_blob=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=st.lists(_JSON_DOC, min_size=1, max_size=8))
@example(
    docs=[
        {"a": {"b": [1.5, 'he said "hi"'], "c": True}, "d": None},
        {"a": [], "b": {}, "c": -0.0},
        {"a": 9_999_999.99, "b": -(2**62), "c": "\\ ' $[0]"},
    ]
)
def test_fuzz_json_extraction_twins(spark, duck, docs):
    import json as _json

    rows = []
    for i, doc in enumerate(docs):
        text = _json.dumps(doc)
        for p in _json_paths(doc):
            rows.append((i, text, p))
    df = spark.createDataFrame(rows, "i long, doc string, path string")
    got = {
        (r.i, r.path): r.v
        for r in df.select(
            "i",
            "path",
            # NB: F.get_json_object(col, path) takes the PATH as a
            # python literal — routing a per-row path column needs
            # the SQL form
            F.expr("get_json_object(doc, path)").alias("v"),
        ).collect()
    }
    oracle = {
        (i, p): v
        for i, p, v in duck.execute(
            "SELECT i, path, json_extract_string(doc::JSON, path) "
            "FROM (SELECT unnest($is) AS i, unnest($docs) AS doc, "
            "unnest($paths) AS path)",
            {
                "is": [r[0] for r in rows],
                "docs": [r[1] for r in rows],
                "paths": [r[2] for r in rows],
            },
        ).fetchall()
    }
    assert got == oracle


# --- tokenizer fuzz ---------------------------------------------------------
# The shared word tokenizer (functions/tokens.py) is the single most
# load-bearing cross-engine recipe: the whole dedup/retrieval/text
# family derives shingles, fingerprints, and BM25 terms from it. The
# corpus gates only ever exercise the documents table's character
# set; this fuzzes the tokenizer's DOCUMENTED envelope (text whose
# lowercase mapping is one-to-one — generated here from printable
# ASCII plus agreeing multi-byte samples) over adversarial spacing.

# NO capital sigma: the fuzzer itself caught that Java lowercases Σ
# CONTEXTUALLY (word-final after a cased letter -> final sigma 'ς')
# while DuckDB always yields 'σ' — 'ÄΣ' diverges though bare 'Σ'
# agrees. Pinned in test_engine_portability_pins.py; out of envelope.
_TOK_TEXT = st.text(
    alphabet=st.one_of(
        st.characters(codec="ascii", min_codepoint=32, max_codepoint=126),
        st.sampled_from("ÄöÜßσé"),
    ),
    max_size=40,
)


@settings(
    max_examples=_DEEP_EXAMPLES or 30,
    deadline=None,
    print_blob=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=st.lists(_TOK_TEXT, min_size=1, max_size=20))
@example(texts=["", " ", "  A  b  ", "a,b c;d", "x" * 40, "ÄÖÜ ẞ?  σ"])
def test_fuzz_tokenizer_twins(spark, duck, texts):
    from map_reduce_server_spark.functions.tokens import (
        SQL_TOKS,
        word_tokens_col,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.toks
        for r in df.select("doc_id", word_tokens_col().alias("toks")).collect()
    }
    oracle = {
        i: toks
        for i, toks in duck.execute(
            f"SELECT i, {SQL_TOKS} "
            "FROM (SELECT unnest($ids) AS i, unnest($txts) AS text)",
            {"ids": [i for i, _ in rows], "txts": [t for _, t in rows]},
        ).fetchall()
    }
    assert got == oracle


# --- hash-family fuzz -------------------------------------------------------
# The md5-derived hash family (functions/hashing.py) is the
# portability backbone of dedup, sampling, and splits. Fuzz the
# Spark/DuckDB twins over generated STRING and INTEGER keys — the
# documented key-type envelope (floating-point keys are explicitly
# out; the module header pins why).

_HASH_KEY = st.one_of(
    st.text(
        alphabet=st.characters(codec="ascii", min_codepoint=32, max_codepoint=126),
        max_size=24,
    ),
    st.integers(-(2**40), 2**40),
)


@settings(
    max_examples=_DEEP_EXAMPLES or 25,
    deadline=None,
    print_blob=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    keys=st.lists(_HASH_KEY, min_size=1, max_size=25),
    seed=st.integers(0, 10_000),
    mod=st.sampled_from([999_999, 1_000_000]),
)
@example(keys=["", " ", "0", 0, -1, "a:b", "'", 2**40], seed=7, mod=1_000_000)
def test_fuzz_hash_family_twins(spark, duck, seed, keys, mod):
    from map_reduce_server_spark.functions import hashing

    rows = [(i, str(k)) for i, k in enumerate(keys)]
    df = spark.createDataFrame(rows, "i long, k string")
    got = {
        r.i: (r.h, r.u, r.s, r.m)
        for r in df.select(
            "i",
            hashing.md5_long(F.col("k")).alias("h"),
            hashing.uniform01("fuzz", F.col("k"), mod).alias("u"),
            hashing.split_hash(F.col("k")).alias("s"),
            hashing.seeded_md5(F.col("k"), seed).alias("m"),
        ).collect()
    }
    oracle = {
        i: vals
        for i, *vals in duck.execute(
            f"SELECT i, {hashing.sql_md5_long('k')}, "
            f"{hashing.sql_uniform01('fuzz', 'k', mod)}, "
            f"{hashing.sql_split_hash('k')}, "
            f"{hashing.sql_seeded_md5('k', seed)} "
            "FROM (SELECT unnest($ids) AS i, unnest($ks) AS k)",
            {"ids": [i for i, _ in rows], "ks": [k for _, k in rows]},
        ).fetchall()
    }
    assert {i: tuple(v) for i, v in oracle.items()} == got

    # INTEGER keys exercised as actual integer columns, so each
    # engine performs its own int->string rendering inside the
    # recipe (the envelope's second allowed key type)
    int_keys = [k for k in keys if isinstance(k, int)] or [0]
    irows = [(i, k) for i, k in enumerate(int_keys)]
    idf = spark.createDataFrame(irows, "i long, ik long")
    igot = {
        r.i: r.s
        for r in idf.select(
            "i", hashing.split_hash(F.col("ik")).alias("s")
        ).collect()
    }
    ioracle = dict(
        duck.execute(
            f"SELECT i, {hashing.sql_split_hash('ik')} "
            "FROM (SELECT unnest($ids) AS i, unnest($iks) AS ik)",
            {"ids": [i for i, _ in irows], "iks": [k for _, k in irows]},
        ).fetchall()
    )
    assert ioracle == igot


# --- rollup / cube fuzz ------------------------------------------------------
# Super-aggregate grids: every subtotal level must agree, including
# the NULL group markers rollup/cube synthesize (the data itself is
# NULL-free, so a NULL key row IS the subtotal marker, unambiguous
# on both engines).

_RC_KEYS = ["o_orderstatus", "o_orderpriority"]


@settings(
    max_examples=_DEEP_EXAMPLES or 15,
    deadline=None,
    print_blob=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    mode=st.sampled_from(["rollup", "cube"]),
    keys=st.lists(st.sampled_from(_RC_KEYS), min_size=1, max_size=2, unique=True),
    pred=table_pred(ORDERS_SPEC, max_leaves=3),
)
@example(
    mode="cube",
    keys=["o_orderstatus", "o_orderpriority"],
    pred=("num", "o_totalprice", ">", 100000.0),
)
def test_fuzz_rollup_cube(spark, duck, mode, keys, pred):
    from hypothesis import assume

    df = load_table(spark, SF_SMALL, "orders").filter(pred_col(pred))
    # empty input is a PINNED divergence, not a fuzz target: SQL's
    # () grouping set yields one n=0 row (DuckDB) while Spark's
    # rollup/cube emit nothing (test_engine_portability_pins.py)
    assume(df.limit(1).count() == 1)
    grouped = getattr(df, mode)(*keys)
    # grouping_id: probed identical across engines including bit
    # order — and it disambiguates a NULL key value from a subtotal
    # row, hardening the compare
    out = grouped.agg(
        F.grouping_id(*keys).alias("gid"),
        F.count(F.lit(1)).alias("n"),
        exact.dsum("o_totalprice").alias("total"),
    )
    sql = (
        f"SELECT {', '.join(keys)}, "
        f"CAST(grouping_id({', '.join(keys)}) AS BIGINT) AS gid, "
        f"COUNT(*) AS n, "
        f"{exact.sql_dsum('o_totalprice')} AS total "
        f"FROM orders WHERE {pred_sql(pred)} "
        f"GROUP BY {mode.upper()}({', '.join(keys)})"
    )
    ok, msg = compare_to_oracle(out, sql, SF_SMALL, con=duck)
    assert ok, f"{msg}\nplan: mode={mode} keys={keys} pred={pred}\nsql: {sql}"


# --- array-ops fuzz (embeddings: 64-dim float vectors) ----------------------
# Scalar-only outputs by design: an ARRAY output column would compare
# numpy-array-vs-list string renderings, not values. get() is 0-based
# with NULL out-of-bounds (matching DuckDB's 1-based [i+1] on
# overflow); the vector sum uses the q40 exact path so element order
# cannot matter; k-th-of-sorted is order-insensitive for equal keys.

_ARR_OUT = st.one_of(
    st.just(("dim",)),
    st.tuples(st.just("get"), st.integers(0, 70)),
    st.tuples(st.just("kth_sorted"), st.integers(0, 63)),
    st.just(("sum_q40",)),
)


def _arr_pair(out) -> tuple[Column, str]:
    vec = F.col("embedding").cast("array<double>")
    dvec = "embedding::DOUBLE[]"
    if out[0] == "dim":
        return F.size("embedding"), "CAST(len(embedding) AS INTEGER)"
    if out[0] == "get":
        i = out[1]
        return (
            F.round(F.get(vec, i), 6),
            f"round(CAST(embedding[{i + 1}] AS DOUBLE), 6)",
        )
    if out[0] == "kth_sorted":
        k = out[1]
        return (
            F.get(F.array_sort(F.transform(vec, lambda x: F.round(x, 6))), k),
            f"(list_sort(list_transform({dvec}, x -> round(x, 6))))"
            f"[{k + 1}]",
        )
    # exact vector sum: per-element floor(x * 2^40) as BIGINT, summed
    # (64 elements in [-1, 1] stay far below 2^53), divided back
    return (
        F.aggregate(
            F.transform(
                vec, lambda x: F.floor(x * F.lit(2.0**40)).cast("long")
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).cast("double")
        / F.lit(2.0**40),
        "CAST(list_sum(list_transform("
        f"{dvec}, x -> CAST(floor(x * 1099511627776.0) AS BIGINT)))"
        " AS DOUBLE) / 1099511627776.0",
    )


@settings(
    max_examples=_DEEP_EXAMPLES or 20,
    deadline=None,
    print_blob=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(outs=st.lists(_ARR_OUT, min_size=1, max_size=4, unique=True))
@example(outs=[("dim",), ("get", 70), ("kth_sorted", 0), ("sum_q40",)])
def test_fuzz_array_ops(spark, duck, outs):
    df = load_table(spark, SF_SMALL, "embeddings")
    pairs = [_arr_pair(o) for o in outs]
    out = df.select(
        "vec_id", *[c.alias(f"e{i}") for i, (c, _) in enumerate(pairs)]
    )
    select = ", ".join(
        ["vec_id"] + [f"{s} AS e{i}" for i, (_, s) in enumerate(pairs)]
    )
    sql = f"SELECT {select} FROM embeddings"
    ok, msg = compare_to_oracle(out, sql, SF_SMALL, con=duck)
    assert ok, f"{msg}\nplan: outs={outs}\nsql: {sql}"


# --- q40 exact-aggregation fuzz ---------------------------------------------
# qsum40/qmean40 are the tie-free exact aggregates for full-precision
# doubles (embeddings, pagerank mass). Fuzz them over ADVERSARIAL
# values: dyadic rationals k/2^e are exactly the decimal-cast
# midpoints that made checked_decimal unsafe for this data class —
# the q40 path must stay bit-identical on them by construction.

# |v| <= 2^20/2^13 = 128, so 30 rows can never reach the 2^13 group
# envelope (the guard itself is exercised by test_exact_aggregation's
# dedicated cases, not here); e >= 13 keeps k/2^13-style midpoints in
_DYADIC = st.builds(
    lambda k, e: k / (1 << e),
    st.integers(-(1 << 20), 1 << 20),
    st.integers(13, 30),
)
_Q40_VAL = st.one_of(
    _DYADIC,
    st.integers(-12000, 12000).map(lambda c: c / 100.0),
    st.none(),
)


@settings(
    max_examples=_DEEP_EXAMPLES or 25,
    deadline=None,
    print_blob=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.tuples(st.sampled_from(["g1", "g2", "g3"]), _Q40_VAL),
        min_size=1,
        max_size=30,
    )
)
@example(vals=[("g1", 3.0 / 4096), ("g1", 1.0 / (1 << 13)), ("g2", None)])
@example(vals=[("g1", -0.5), ("g1", 0.5)])  # exact cancellation
def test_fuzz_q40_exact_twins(spark, duck, vals):
    from pyspark.sql import types as T_

    schema = T_.StructType(
        [
            T_.StructField("g", T_.StringType()),
            T_.StructField("v", T_.DoubleType()),
        ]
    )
    df = spark.createDataFrame(vals, schema)
    got = {
        r.g: (r.s, r.m)
        for r in df.groupBy("g")
        .agg(exact.qsum40(F.col("v")).alias("s"), exact.qmean40(F.col("v")).alias("m"))
        .collect()
    }
    oracle = {
        g: (s, m)
        for g, s, m in duck.execute(
            f"SELECT g, {exact.sql_qsum40('v')} AS s, "
            f"{exact.sql_qmean40('v')} AS m "
            "FROM (SELECT unnest($gs) AS g, unnest($vs) AS v) GROUP BY g",
            {"gs": [g for g, _ in vals], "vs": [v for _, v in vals]},
        ).fetchall()
    }
    assert got == oracle, vals


# --- top-k fuzz -------------------------------------------------------------
# ORDER BY <sort col> <dir>, o_orderkey LIMIT k: the unique trailing
# key makes every prefix deterministic (the engine's own window/top-k
# contract — see the dup-key note in the verify skill), so the k rows
# must be IDENTICAL across engines, not merely same-ranked.

_SORT_COLS = ["o_totalprice", "o_custkey", "o_orderdate", "o_orderstatus"]


@settings(
    max_examples=_DEEP_EXAMPLES or 20,
    deadline=None,
    print_blob=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    sort_col=st.sampled_from(_SORT_COLS),
    desc=st.booleans(),
    k=st.integers(1, 60),
    pred=table_pred(ORDERS_SPEC, max_leaves=3),
)
@example(
    sort_col="o_totalprice",
    desc=True,
    k=10,
    pred=("str", "o_orderstatus", "=", "O"),
)
def test_fuzz_topk(spark, duck, sort_col, desc, k, pred):
    df = load_table(spark, SF_SMALL, "orders").filter(pred_col(pred))
    order = [
        F.col(sort_col).desc() if desc else F.col(sort_col).asc(),
        F.col("o_orderkey").asc(),
    ]
    sel = list(dict.fromkeys(["o_orderkey", sort_col, "o_orderstatus"]))
    out = df.orderBy(*order).select(*sel).limit(k)
    direction = "DESC" if desc else "ASC"
    sql = (
        f"SELECT {', '.join(sel)} FROM orders "
        f"WHERE {pred_sql(pred)} "
        f"ORDER BY {sort_col} {direction}, o_orderkey LIMIT {k}"
    )
    ok, msg = compare_to_oracle(out, sql, SF_SMALL, con=duck)
    assert ok, (
        f"{msg}\nplan: sort={sort_col} desc={desc} k={k} pred={pred}\nsql: {sql}"
    )


# --- set-operation fuzz ----------------------------------------------------
# Two filtered projections of orders onto a NON-unique column pair
# (so the ALL variants exercise true multiset semantics, not the
# degenerate duplicate-free case), combined with every set operator.

_SETOP = {
    # name -> (spark combiner, SQL keyword)
    "union_all": (lambda a, b: a.union(b), "UNION ALL"),
    "union": (lambda a, b: a.union(b).distinct(), "UNION"),
    "intersect": (lambda a, b: a.intersect(b), "INTERSECT"),
    "intersect_all": (lambda a, b: a.intersectAll(b), "INTERSECT ALL"),
    "except": (lambda a, b: a.subtract(b), "EXCEPT"),
    "except_all": (lambda a, b: a.exceptAll(b), "EXCEPT ALL"),
}


@settings(
    max_examples=_DEEP_EXAMPLES or 20,
    deadline=None,
    print_blob=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    op=st.sampled_from(sorted(_SETOP)),
    preda=table_pred(ORDERS_SPEC, max_leaves=3),
    predb=table_pred(ORDERS_SPEC, max_leaves=3),
)
@example(
    op="except_all",
    preda=("str", "o_orderstatus", "<>", "P"),
    predb=("int", "o_custkey", "<", 100),
)
@example(
    op="intersect_all",
    preda=("num", "o_totalprice", ">", 200000.0),
    predb=("num", "o_totalprice", ">", 100000.0),
)
def test_fuzz_set_ops(spark, duck, op, preda, predb):
    cols = ["o_orderstatus", "o_custkey"]
    base = load_table(spark, SF_SMALL, "orders")
    a = base.filter(pred_col(preda)).select(*cols)
    b = base.filter(pred_col(predb)).select(*cols)
    out = _SETOP[op][0](a, b)
    sel = ", ".join(cols)
    sql = (
        f"SELECT {sel} FROM orders WHERE {pred_sql(preda)} "
        f"{_SETOP[op][1]} "
        f"SELECT {sel} FROM orders WHERE {pred_sql(predb)}"
    )
    ok, msg = compare_to_oracle(out, sql, SF_SMALL, con=duck)
    assert ok, f"{msg}\nplan: op={op} preda={preda} predb={predb}\nsql: {sql}"


# --- FILTER-clause aggregate fuzz ---------------------------------------------
# ``agg(x) FILTER (WHERE pred)`` per aggregate — a different rewrite
# plane from WHERE-then-agg: each aggregate sees its own row subset,
# and combined with DISTINCT it feeds RewriteDistinctAggregates (the
# optimizer rule that already produced one upstream crash). One SQL
# string drives both engines; filtered-empty subsets exercise the
# NULL-aggregate rendering per group rather than per query.

_FAGG = st.sampled_from(
    [
        ("n", "COUNT(*)"),
        ("nd_part", "COUNT(DISTINCT l_partkey)"),
        ("min_price", "MIN(l_extendedprice)"),
        ("max_qty", "MAX(l_quantity)"),
        ("sum_key", "CAST(SUM(l_orderkey) {over} AS BIGINT)"),
    ]
)


@settings(
    max_examples=_DEEP_EXAMPLES or 20,
    deadline=None,
    print_blob=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    keys=KEYS,
    aggs=st.lists(
        st.tuples(_FAGG, PRED), min_size=1, max_size=3, unique_by=str
    ),
)
# DISTINCT + FILTER x 2, grouped: the RewriteDistinctAggregates plane
@example(
    keys=["l_returnflag"],
    aggs=[
        (
            ("nd_part", "COUNT(DISTINCT l_partkey)"),
            ("num", "l_discount", ">", 0.05),
        ),
        (("n", "COUNT(*)"), ("num", "l_quantity", ">", 25.0)),
    ],
)
# a filter no row satisfies: NULL/0 aggregate cells per group
@example(
    keys=["l_linestatus"],
    aggs=[
        (
            ("min_price", "MIN(l_extendedprice)"),
            ("num", "l_quantity", "<", -1.0),
        )
    ],
)
def test_fuzz_filtered_aggregates(spark, duck, keys, aggs):
    from map_reduce_server_spark.tables import register_views

    register_views(spark, SF_SMALL)
    cols = []
    for i, ((name, expr), fpred) in enumerate(aggs):
        filt = f"FILTER (WHERE {pred_sql(fpred)})"
        if "{over}" in expr:
            rendered = expr.format(over=filt)
        else:
            rendered = f"{expr} {filt}"
        cols.append(f"{rendered} AS {name}_{i}")
    sel = ", ".join(list(keys) + cols)
    sql = f"SELECT {sel} FROM lineitem"
    if keys:
        sql += f" GROUP BY {', '.join(keys)}"
    out = spark.sql(sql)
    ok, msg = compare_to_oracle(out, sql, SF_SMALL, con=duck)
    assert ok, f"{msg}\nplan: keys={keys} aggs={aggs}\nsql: {sql}"


# --- calendar-INTERVAL RANGE window-frame fuzz --------------------------------
# q_window_time_range pins ONE configuration of the time-valued RANGE
# frame (30 min trailing per user); this sweeps frame length, unit,
# direction (trailing / centered / leading), and aggregate. The whole
# query is ONE SQL string rendered to both engines — PySpark's
# Window.rangeBetween takes longs only, so SQL is the single surface
# Spark exposes calendar frames through. NULL ts rows are filtered
# (the engines' default NULL sort order differs inside RANGE
# ordering) and frames are value-based, so tied timestamps see each
# other symmetrically — no unique tie-break needed.

_TR_FRAME = st.sampled_from(
    [
        ("trailing", "INTERVAL {n} {u} PRECEDING AND CURRENT ROW"),
        (
            "centered",
            "INTERVAL {n} {u} PRECEDING AND INTERVAL {n} {u} FOLLOWING",
        ),
        ("leading", "CURRENT ROW AND INTERVAL {n} {u} FOLLOWING"),
    ]
)
_TR_AGG = st.sampled_from(
    [
        ("n_frame", "COUNT(*)"),
        ("sum_id", "CAST(SUM(event_id) {over} AS BIGINT)"),
        ("min_id", "MIN(event_id)"),
        ("max_id", "MAX(event_id)"),
    ]
)


@settings(
    max_examples=_DEEP_EXAMPLES or 20,
    deadline=None,
    print_blob=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    frame=_TR_FRAME,
    agg=_TR_AGG,
    n=st.integers(1, 120),
    unit=st.sampled_from(["MINUTE", "HOUR"]),
)
@example(
    frame=(
        "centered",
        "INTERVAL {n} {u} PRECEDING AND INTERVAL {n} {u} FOLLOWING",
    ),
    agg=("sum_id", "CAST(SUM(event_id) {over} AS BIGINT)"),
    n=30,
    unit="MINUTE",
)
def test_fuzz_time_range_frames(spark, duck, frame, agg, n, unit):
    from map_reduce_server_spark.tables import register_views

    register_views(spark, SF_SMALL)
    bounds = frame[1].format(n=n, u=unit)
    over = (
        "OVER (PARTITION BY user_id ORDER BY ts "
        f"RANGE BETWEEN {bounds})"
    )
    name, expr = agg
    rendered = expr.format(over=over) if "{over}" in expr else (
        f"{expr} {over}"
    )
    sql = (
        f"SELECT event_id, {rendered} AS {name} "
        "FROM events WHERE ts IS NOT NULL"
    )
    out = spark.sql(sql)
    ok, msg = compare_to_oracle(out, sql, SF_SMALL, con=duck)
    assert ok, f"{msg}\nplan: frame={frame[0]} agg={name} n={n} {unit}\nsql: {sql}"


# --- bitmap-distinct fuzz -----------------------------------------------------
# The bitmap OR-aggregation (operators/advanced.py bitmap_distinct)
# claims bit-exact COUNT(DISTINCT) semantics including NULL ids and
# all-NULL groups; this sweeps tiny-domain inline relations (heavy
# duplication, NULL keys AND NULL ids, word-boundary ids) against
# DuckDB's native COUNT(DISTINCT).

_BM_ROW = st.tuples(
    st.sampled_from([None, "a", "b", "c"]),
    st.sampled_from([None, 0, 1, 63, 64, 65, 127, 128, 129, 200]),
)


@settings(
    max_examples=_DEEP_EXAMPLES or 20,
    deadline=None,
    print_blob=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=st.lists(_BM_ROW, min_size=1, max_size=20))
@example(rows=[("a", None), ("a", None), ("b", 1)])  # all-NULL group -> 0
@example(rows=[(None, 63), (None, 64), ("a", 63)])  # NULL group key
def test_fuzz_bitmap_distinct(spark, duck, rows):
    from hypothesis import assume

    from map_reduce_server_spark.operators.advanced import bitmap_distinct

    # fetchdf artifact, not an engine divergence: a result whose g
    # column is ENTIRELY NULL comes back from DuckDB as float64 NaN
    # (no object dtype anchor), which canonicalizes as <nan> against
    # Spark's <null>. Registered queries never emit an all-NULL
    # column; keep at least one non-NULL key in every draw.
    assume(any(g is not None for g, _ in rows))

    df = spark.createDataFrame(rows, "g string, id bigint")
    out = bitmap_distinct(df, "g", "id").withColumnRenamed(
        "n_distinct", "n"
    )
    vals = ", ".join(
        "({}, {})".format(
            "NULL" if g is None else f"'{g}'",
            "NULL" if i is None else i,
        )
        for g, i in rows
    )
    sql = (
        "SELECT g, COUNT(DISTINCT id) AS n FROM (VALUES "
        f"{vals}) t(g, id) GROUP BY g"
    )
    ok, msg = compare_to_oracle(out, sql, SF_SMALL, con=duck)
    assert ok, f"{msg}\nplan: rows={rows}\nsql: {sql}"


# --- correlated LATERAL top-k fuzz -------------------------------------------
# Catalyst rewrites a correlated LATERAL ORDER BY/LIMIT through
# DecorrelateInnerQuery into WindowGroupLimit + join; DuckDB executes
# the lateral directly. One SQL string drives both engines (modulo
# DuckDB's mandatory ON TRUE) across join type (INNER drops
# childless outers, LEFT null-extends them), sort direction, k, and
# independent outer/inner predicates — the decorrelation plane the
# registered q_lateral_topk pins at one configuration. The inner ORDER BY
# always ends in the unique o_orderkey, so the k-cut is
# engine-independent.


def _lateral_sql(how, cpred, opred, desc, k, on_true):
    d = "DESC" if desc else "ASC"
    on = " ON TRUE" if on_true else ""
    return (
        "SELECT c.c_custkey, t.o_orderkey, t.o_totalprice "
        f"FROM customer c {how} JOIN LATERAL ("
        "SELECT o_orderkey, o_totalprice FROM orders o "
        f"WHERE o.o_custkey = c.c_custkey AND {pred_sql(opred)} "
        f"ORDER BY o_totalprice {d}, o_orderkey LIMIT {k}) t{on} "
        f"WHERE {pred_sql(cpred)}"
    )


@settings(
    max_examples=_DEEP_EXAMPLES or 20,
    deadline=None,
    print_blob=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    how=st.sampled_from(["", "LEFT"]),
    cpred=table_pred(CUSTOMER_SPEC, max_leaves=3),
    opred=table_pred(ORDERS_SPEC, max_leaves=3),
    desc=st.booleans(),
    k=st.integers(1, 5),
)
# LEFT + selective inner: null-extension of childless customers
@example(
    how="LEFT",
    cpred=("num", "c_acctbal", "<", 0.0),
    opred=("num", "o_totalprice", ">", 400000.0),
    desc=True,
    k=2,
)
# INNER + k=1: the argmax-per-group degenerate case
@example(
    how="",
    cpred=("int", "c_custkey", ">=", 0),
    opred=("str", "o_orderstatus", "<>", "P"),
    desc=False,
    k=1,
)
def test_fuzz_lateral_topk(spark, duck, how, cpred, opred, desc, k):
    from map_reduce_server_spark.tables import register_views

    register_views(spark, SF_SMALL)
    out = spark.sql(_lateral_sql(how, cpred, opred, desc, k, False))
    sql = _lateral_sql(how, cpred, opred, desc, k, True)
    ok, msg = compare_to_oracle(out, sql, SF_SMALL, con=duck)
    assert ok, (
        f"{msg}\nplan: how={how or 'INNER'} cpred={cpred} opred={opred} "
        f"desc={desc} k={k}\nsql: {sql}"
    )


# --- set-ops x duplicates x NULL-keys fuzz -----------------------------------
# The table-backed family above never sees a NULL key or a controlled
# duplicate multiplicity. This plane drives the classic cross-engine
# divergence points of bag-vs-set semantics head-on: set operations
# treat NULLs as EQUAL (unlike = / IN three-valued logic), empty
# string is distinct from NULL, EXCEPT ALL subtracts per-row counts
# while INTERSECT ALL takes the minimum, and chained operators
# associate only through explicit nesting (mirrored as parenthesized
# SQL). Rows are tiny-domain inline literals, so every draw carries
# heavy duplication and NULL keys by construction; empty inputs
# exercise the zero-multiplicity edge.

_SETROW = st.tuples(
    st.sampled_from([None, 0, 1, 2]),
    st.sampled_from([None, "", "a", "b"]),
)
_SETROWS = st.lists(_SETROW, min_size=0, max_size=8)


def _inline_rel(spark, rows):
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [StructField("k", IntegerType()), StructField("s", StringType())]
    )
    return spark.createDataFrame(rows, schema)


def _inline_sql(rows) -> str:
    if not rows:
        return (
            "SELECT CAST(NULL AS INTEGER) AS k, CAST(NULL AS VARCHAR) AS s "
            "WHERE FALSE"
        )
    vals = ", ".join(
        "({}, {})".format(
            "NULL" if k is None else k,
            "NULL" if s is None else f"'{s}'",
        )
        for k, s in rows
    )
    return (
        "SELECT CAST(k AS INTEGER) AS k, CAST(s AS VARCHAR) AS s "
        f"FROM (VALUES {vals}) t(k, s)"
    )


@settings(
    max_examples=_DEEP_EXAMPLES or 25,
    deadline=None,
    print_blob=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows_a=_SETROWS,
    rows_b=_SETROWS,
    rows_c=_SETROWS,
    op1=st.sampled_from(sorted(_SETOP)),
    op2=st.sampled_from(sorted(_SETOP)),
)
# NULL keys dedupe under UNION/INTERSECT (set-op NULL-equality)
@example(
    rows_a=[(None, None), (None, None), (1, "")],
    rows_b=[(None, None), (1, None)],
    rows_c=[(None, None)],
    op1="union",
    op2="intersect",
)
# multiplicity arithmetic: EXCEPT ALL subtracts counts, the chained
# INTERSECT ALL takes the min of what survives
@example(
    rows_a=[(1, "a"), (1, "a"), (1, "a"), (None, "")],
    rows_b=[(1, "a")],
    rows_c=[(1, "a"), (1, "a"), (None, "")],
    op1="except_all",
    op2="intersect_all",
)
# empty sides: zero-multiplicity edges of every operator
@example(
    rows_a=[],
    rows_b=[(None, ""), (0, None)],
    rows_c=[],
    op1="except",
    op2="union_all",
)
def test_fuzz_set_ops_null_duplicates(
    spark, duck, rows_a, rows_b, rows_c, op1, op2
):
    a = _inline_rel(spark, rows_a)
    b = _inline_rel(spark, rows_b)
    c = _inline_rel(spark, rows_c)
    out = _SETOP[op2][0](_SETOP[op1][0](a, b), c)
    sql = (
        f"(({_inline_sql(rows_a)}) {_SETOP[op1][1]} "
        f"({_inline_sql(rows_b)})) {_SETOP[op2][1]} "
        f"({_inline_sql(rows_c)})"
    )
    ok, msg = compare_to_oracle(out, sql, SF_SMALL, con=duck)
    assert ok, (
        f"{msg}\nplan: op1={op1} op2={op2} a={rows_a} b={rows_b} "
        f"c={rows_c}\nsql: {sql}"
    )


_MATH_OUT = st.one_of(
    st.tuples(st.just("mul"), st.integers(1, 500)),
    st.tuples(st.just("abs_dist"), st.integers(85000, 95000)),
    st.just(("floor",)),
    st.just(("ceil",)),
    st.just(("sqrt",)),
    st.just(("ln9",)),
)


def _math_out_pair(out) -> tuple[Column, str]:
    kind = out[0]
    c = F.col("p_retailprice")
    if kind == "mul":
        lit = out[1] / 100.0
        return c * F.lit(lit), f"(p_retailprice * {lit!r})"
    if kind == "abs_dist":
        lit = out[1] / 100.0
        return F.abs(c - F.lit(lit)), f"abs(p_retailprice - {lit!r})"
    if kind == "floor":
        return F.floor(c), "CAST(floor(p_retailprice) AS BIGINT)"
    if kind == "ceil":
        return F.ceil(c), "CAST(ceil(p_retailprice) AS BIGINT)"
    if kind == "sqrt":
        # IEEE-754 sqrt is correctly rounded — bit-portable unrounded
        return F.sqrt(c), "sqrt(p_retailprice)"
    return F.round(F.log(c), 9), "round(ln(p_retailprice), 9)"


@settings(
    max_examples=_DEEP_EXAMPLES or 20,
    deadline=None,
    print_blob=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(outs=st.lists(_MATH_OUT, min_size=1, max_size=4, unique=True))
def test_fuzz_math_exprs(spark, duck, outs):
    df = load_table(spark, SF_SMALL, "part")
    pairs = [_math_out_pair(o) for o in outs]
    out = df.select(
        "p_partkey", *[c.alias(f"m{i}") for i, (c, _) in enumerate(pairs)]
    )
    select = ", ".join(
        ["p_partkey"] + [f"{s} AS m{i}" for i, (_, s) in enumerate(pairs)]
    )
    sql = f"SELECT {select} FROM part"
    ok, msg = compare_to_oracle(out, sql, SF_SMALL, con=duck)
    assert ok, f"{msg}\nplan: outs={outs}\nsql: {sql}"


# --- multi-distinct x super-aggregate-grid fuzz -----------------------------
# The round-11 agg fuzz caught an upstream optimizer crash (listagg x
# multi-distinct, pinned in test_engine_portability_pins.py) that 203
# hand-written queries never touched — RewriteDistinctAggregates is
# the single most rewrite-happy rule in the portable surface. This
# family points the same differential harness at its OTHER risky
# interaction: multiple DISTINCT aggregates (count / exact-decimal
# sum) planned through the Expand node that rollup / cube / GROUPING
# SETS introduce, plus the portable ordered-string-agg rendering.
# grouping_id() disambiguates subtotal rows from genuine NULL keys
# (data is NULL-free, but the compare must not depend on that).

import itertools as _it

_MD_AGG = st.one_of(
    st.tuples(
        st.just("nuniq"),
        st.sampled_from(GROUP_COLS + ["l_orderkey", "l_partkey"]),
    ),
    st.just(("count_star",)),
    st.tuples(st.just("sum_int"), st.sampled_from(sorted(INT_COLS))),
    st.tuples(st.just("dsum"), st.sampled_from(MONEY_COLS)),
    st.tuples(st.just("sum_dist"), st.sampled_from(MONEY_COLS)),
    st.tuples(st.just("lagg"), st.sampled_from(sorted(STR_COLS))),
)


def md_agg_pair(spec, grid: bool = False) -> tuple[Column, str]:
    """agg_pair plus the DISTINCT-sum flavor: the distinct value SET
    is engine-identical after the exact decimal cast, so its sum is
    too — a second distinct-aggregate family beyond COUNT(DISTINCT)
    to feed RewriteDistinctAggregates more than one rewrite group.

    With ``grid=True`` the ordered-string-agg ORACLE switches to the
    order-insensitive ``array_to_string(list_sort(list(col)), '|')``:
    this very fuzz family's first explicit example caught DuckDB 1.0
    DROPPING string_agg's ORDER BY on multi-key rollup/cube SUBTOTAL
    rows (pinned in test_engine_portability_pins.py::
    test_duckdb_ordered_stringagg_rollup_subtotal_unordered), so
    under a super-aggregate grid the sort must live outside the
    aggregate. Column is NULL-free by the grammar (list() would keep
    NULLs where string_agg skips them)."""
    if spec[0] == "sum_dist":
        col = spec[1]
        return (
            F.sum_distinct(exact.checked_decimal(F.col(col), 2)).cast(
                "double"
            ),
            f"CAST(SUM(DISTINCT CAST({col} AS DECIMAL(30,2))) AS DOUBLE)",
        )
    if spec[0] == "lagg" and grid:
        col = spec[1]
        spark_col, _ = agg_pair(spec)
        return (
            spark_col,
            f"array_to_string(list_sort(list({col})), '|')",
        )
    return agg_pair(spec)


@st.composite
def _grid_plan(draw):
    keys = draw(
        st.lists(st.sampled_from(GROUP_COLS), unique=True, min_size=1, max_size=2)
    )
    mode = draw(st.sampled_from(["rollup", "cube", "gsets"]))
    if mode != "gsets":
        return keys, mode, None
    subsets = [
        tuple(c)
        for r in range(len(keys) + 1)
        for c in _it.combinations(keys, r)
    ]
    sets = draw(
        st.lists(
            st.sampled_from(subsets),
            min_size=1,
            max_size=len(subsets),
            unique=True,
        )
    )
    # grouping_id's arguments must each appear in at least one
    # grouping set (DuckDB binder: "GROUPING statement cannot be
    # used without groups" — found by this fuzz's first random run):
    # keep only the covered keys; if the draw covered none (all-()
    # sets), add the full set
    covered = [k for k in keys if any(k in s for s in sets)]
    if not covered:
        sets = sets + [tuple(keys)]
        covered = keys
    return covered, mode, sets


def _run_grid_plan(spark, duck, plan, pred, aggs):
    from hypothesis import assume

    keys, mode, sets = plan
    df = load_table(spark, SF_SMALL, "lineitem").filter(pred_col(pred))
    # empty input under a grid containing the () grouping set is a
    # PINNED divergence (DuckDB emits one n=0 row, Spark emits
    # nothing — test_engine_portability_pins.py), not a fuzz target
    assume(df.limit(1).count() == 1)
    if mode == "gsets":
        grouped = df.groupingSets([list(s) for s in sets], *keys)
        group_sql = (
            "GROUPING SETS ("
            + ", ".join("(" + ", ".join(s) + ")" for s in sets)
            + ")"
        )
    else:
        grouped = getattr(df, mode)(*keys)
        group_sql = f"{mode.upper()}({', '.join(keys)})"
    pairs = [md_agg_pair(s, grid=True) for s in aggs]
    out = grouped.agg(
        F.grouping_id(*keys).alias("gid"),
        *[c.alias(f"a{i}") for i, (c, _) in enumerate(pairs)],
    )
    select = ", ".join(
        list(keys)
        + [f"CAST(grouping_id({', '.join(keys)}) AS BIGINT) AS gid"]
        + [f"{s} AS a{i}" for i, (_, s) in enumerate(pairs)]
    )
    sql = (
        f"SELECT {select} FROM lineitem WHERE {pred_sql(pred)} "
        f"GROUP BY {group_sql}"
    )
    ok, msg = compare_to_oracle(out, sql, SF_SMALL, con=duck)
    assert ok, f"{msg}\nplan: {plan} aggs={aggs} pred={pred}\nsql: {sql}"


@settings(
    max_examples=_DEEP_EXAMPLES or 25,
    deadline=None,
    print_blob=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    plan=_grid_plan(),
    pred=PRED,
    aggs=st.lists(_MD_AGG, min_size=2, max_size=4, unique=True),
)
# the listagg-crash shape lifted into a grid: >=2 distinct aggregates
# + ordered string agg, under ROLLUP's Expand
@example(
    plan=(["l_returnflag", "l_linestatus"], "rollup", None),
    pred=("num", "l_quantity", ">=", 0.0),
    aggs=[
        ("nuniq", "l_suppkey"),
        ("nuniq", "l_orderkey"),
        ("lagg", "l_linestatus"),
    ],
)
# both distinct FAMILIES at once (count + sum), full cube
@example(
    plan=(["l_returnflag", "l_linestatus"], "cube", None),
    pred=("num", "l_quantity", ">=", 0.0),
    aggs=[
        ("nuniq", "l_partkey"),
        ("sum_dist", "l_discount"),
        ("dsum", "l_extendedprice"),
        ("count_star",),
    ],
)
# explicit GROUPING SETS with a hole (no grand total, no pair)
@example(
    plan=(
        ["l_returnflag", "l_linestatus"],
        "gsets",
        [("l_returnflag",), ("l_linestatus",)],
    ),
    pred=("num", "l_quantity", ">=", 0.0),
    aggs=[("nuniq", "l_suppkey"), ("sum_dist", "l_tax")],
)
def test_fuzz_multi_distinct_grids(spark, duck, plan, pred, aggs):
    _run_grid_plan(spark, duck, plan, pred, aggs)


# --- aggregate-then-window fuzz ---------------------------------------------
# Window functions OVER the result of a (multi-)distinct aggregation:
# the aggregation's Expand/rewrite output feeds a window exchange —
# the second rewrite interaction the round-11 verdict called out.
# Window legs stay in the deterministic envelope: the ORDER BY is the
# full (unique) key tuple, running sums take the BIGINT count column,
# rank orders by an aggregate WITH the key tiebreak.

_ATW_WINS = ["rank_a0", "running_a0", "lag_a0"]


def _run_agg_window_plan(spark, duck, pred, keys, aggs, wins):
    from pyspark.sql import Window

    df = load_table(spark, SF_SMALL, "lineitem").filter(pred_col(pred))
    pairs = [md_agg_pair(s) for s in aggs]
    agged = df.groupBy(*keys).agg(
        *[c.alias(f"a{i}") for i, (c, _) in enumerate(pairs)]
    )
    okeys = ", ".join(keys)
    base = Window.orderBy(*keys)
    framed = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wcols, wsqls = [], []
    for j, w in enumerate(wins):
        if w == "rank_a0":
            wcols.append(F.rank().over(Window.orderBy("a0", *keys)).alias(f"w{j}"))
            wsqls.append(f"RANK() OVER (ORDER BY a0, {okeys}) AS w{j}")
        elif w == "running_a0":
            # a0 is always the count column (BIGINT): running sums
            # stay exact; DuckDB widens to HUGEINT -> cast back
            wcols.append(F.sum("a0").over(framed).alias(f"w{j}"))
            wsqls.append(
                f"CAST(SUM(a0) OVER (ORDER BY {okeys} ROWS BETWEEN "
                f"UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS w{j}"
            )
        else:
            wcols.append(
                F.coalesce(F.lag("a0", 1).over(base), F.lit(-1)).alias(f"w{j}")
            )
            wsqls.append(f"COALESCE(LAG(a0, 1) OVER (ORDER BY {okeys}), -1) AS w{j}")
    out = agged.select(*keys, "a0", *wcols)
    inner = ", ".join(
        list(keys) + [f"{s} AS a{i}" for i, (_, s) in enumerate(pairs)]
    )
    sql = (
        f"SELECT {okeys}, a0, {', '.join(wsqls)} FROM "
        f"(SELECT {inner} FROM lineitem WHERE {pred_sql(pred)} "
        f"GROUP BY {okeys}) t"
    )
    ok, msg = compare_to_oracle(out, sql, SF_SMALL, con=duck)
    assert ok, (
        f"{msg}\nplan: keys={keys} aggs={aggs} wins={wins} pred={pred}"
        f"\nsql: {sql}"
    )


@settings(
    max_examples=_DEEP_EXAMPLES or 25,
    deadline=None,
    print_blob=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pred=PRED,
    keys=st.lists(
        st.sampled_from(GROUP_COLS), unique=True, min_size=1, max_size=2
    ),
    extra_aggs=st.lists(_MD_AGG, min_size=1, max_size=3, unique=True),
    wins=st.lists(st.sampled_from(_ATW_WINS), min_size=1, max_size=3, unique=True),
)
# multi-distinct aggregation feeding every window leg at once
@example(
    pred=("num", "l_quantity", ">=", 0.0),
    keys=["l_returnflag", "l_linestatus"],
    extra_aggs=[
        ("nuniq", "l_suppkey"),
        ("nuniq", "l_orderkey"),
        ("lagg", "l_linestatus"),
    ],
    wins=["rank_a0", "running_a0", "lag_a0"],
)
def test_fuzz_agg_then_window(spark, duck, pred, keys, extra_aggs, wins):
    aggs = list(dict.fromkeys([("count_star",)] + extra_aggs))
    _run_agg_window_plan(spark, duck, pred, keys, aggs, wins)


# --- as-of join fuzz --------------------------------------------------------
# Spark has no native ASOF JOIN; the engine's scalable recipe is a
# single per-key window pass carrying the reference timestamp
# forward/backward (q_asof_join, operators/advanced.py — one shuffle,
# no join). DuckDB HAS a native ASOF JOIN, so this family checks the
# recipe against a real as-of implementation across random left
# predicates, reference subsets, and both directions. Envelope:
# inclusive matches only (>= / <=; strict variants would need
# interval range frames), ts IS NOT NULL on both sides (NULL
# ordering inside a RANGE frame vs ASOF's never-matching NULL is a
# semantics fork, and the registered query guards the same way), and
# the matched column is the reference TS itself (tie rows at one ts
# are interchangeable, so the pick is deterministic).

EVENTS_SPEC = {
    "num": {"value": (0.0, 330.0)},
    "int": {"user_id": (0, 14)},
    "str": {
        "event_type": ["click", "error", "purchase", "signup", "view"],
    },
}


@settings(
    max_examples=_DEEP_EXAMPLES or 25,
    deadline=None,
    print_blob=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    direction=st.sampled_from(["backward", "forward"]),
    rtype=st.sampled_from(["error", "purchase", "signup"]),
    rthr=st.integers(0, 33000),
    lpred=table_pred(EVENTS_SPEC, max_leaves=3),
)
@example(
    direction="backward",
    rtype="error",
    rthr=0,
    lpred=("str", "event_type", "<>", "error"),
)
@example(
    direction="forward",
    rtype="purchase",
    rthr=20000,  # sparse reference set: most rows unmatched -> NULL
    lpred=("int", "user_id", ">=", 0),
)
def test_fuzz_asof_join(spark, duck, direction, rtype, rthr, lpred):
    from pyspark.sql import Window

    thr = rthr / 100.0
    ev = load_table(spark, SF_SMALL, "events").filter(F.col("ts").isNotNull())
    mark = (F.col("event_type") == rtype) & (F.col("value") >= thr)
    base = Window.partitionBy("user_id").orderBy("ts")
    if direction == "backward":
        w = base.rangeBetween(Window.unboundedPreceding, Window.currentRow)
        matched = F.max(F.when(mark, F.col("ts"))).over(w)
        ineq = "e.ts >= x.ts"
    else:
        w = base.rangeBetween(Window.currentRow, Window.unboundedFollowing)
        matched = F.min(F.when(mark, F.col("ts"))).over(w)
        ineq = "e.ts <= x.ts"
    out = (
        ev.select(
            "event_id",
            "user_id",
            "ts",
            "event_type",
            "value",
            matched.alias("asof_ts"),
        )
        .filter(pred_col(lpred))
        .select("event_id", "user_id", "ts", "asof_ts")
    )
    sql = (
        "SELECT e.event_id, e.user_id, e.ts, x.ts AS asof_ts "
        "FROM (SELECT * FROM events WHERE ts IS NOT NULL "
        f"AND {pred_sql(lpred)}) e "
        "ASOF LEFT JOIN (SELECT user_id, ts FROM events "
        "WHERE ts IS NOT NULL "
        f"AND event_type = '{rtype}' AND value >= {thr!r}) x "
        f"ON e.user_id = x.user_id AND {ineq}"
    )
    ok, msg = compare_to_oracle(out, sql, SF_SMALL, con=duck)
    assert ok, (
        f"{msg}\nplan: dir={direction} rtype={rtype} thr={thr} "
        f"lpred={lpred}\nsql: {sql}"
    )


# --- pivot fuzz -------------------------------------------------------------
# groupBy().pivot(col, values) vs DuckDB FILTER-ed conditional
# aggregation. Engine recipe pinned by q_pivot_events: a COUNT pivot
# cell with no rows is NULL on Spark but 0 under COUNT(*) FILTER, so
# count pivots fill 0 on exactly the pivoted columns; SUM cells stay
# NULL on both. Pivot values are always EXPLICIT (no distinct-scan
# at plan time — the scalable form) and may include values absent
# from the filtered input (all-NULL/0 column) or omit present ones
# (those rows still aggregate into nothing — dropped, as pivot
# semantics demand).

_PIVOT_AGGS = ["count", "sum_int", "dsum"]


@st.composite
def _pivot_plan(draw):
    pcol = draw(st.sampled_from(sorted(STR_COLS)))
    key = draw(
        st.sampled_from([k for k in GROUP_COLS if k != pcol])
    )
    vals = draw(
        st.lists(
            st.sampled_from(STR_COLS[pcol]),
            min_size=1,
            max_size=len(STR_COLS[pcol]),
            unique=True,
        )
    )
    agg = draw(st.sampled_from(_PIVOT_AGGS))
    tcol = draw(st.sampled_from(sorted(INT_COLS))) if agg == "sum_int" else (
        draw(st.sampled_from(MONEY_COLS)) if agg == "dsum" else None
    )
    return key, pcol, sorted(vals), agg, tcol


@settings(
    max_examples=_DEEP_EXAMPLES or 20,
    deadline=None,
    print_blob=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(plan=_pivot_plan(), pred=PRED)
@example(
    plan=("l_suppkey", "l_returnflag", ["A", "N", "R"], "count", None),
    pred=("num", "l_quantity", ">=", 0.0),
)
@example(
    plan=("l_linenumber", "l_linestatus", ["F", "O"], "dsum", "l_extendedprice"),
    pred=("str", "l_returnflag", "<>", "R"),
)
def test_fuzz_pivot(spark, duck, plan, pred):
    key, pcol, vals, agg, tcol = plan
    df = load_table(spark, SF_SMALL, "lineitem").filter(pred_col(pred))
    grouped = df.groupBy(key).pivot(pcol, vals)
    if agg == "count":
        out = grouped.count().na.fill(0, subset=vals)
        cell = "CAST(COUNT(*) FILTER (WHERE {c}) AS BIGINT)"
    elif agg == "sum_int":
        out = grouped.agg(F.sum(tcol))
        cell = f"CAST(SUM({tcol}) FILTER (WHERE {{c}}) AS BIGINT)"
    else:
        out = grouped.agg(
            F.sum(exact.checked_decimal(F.col(tcol), 2)).cast("double")
        )
        cell = (
            f"CAST(SUM(CAST({tcol} AS DECIMAL(30,2))) "
            "FILTER (WHERE {c}) AS DOUBLE)"
        )
    for v in vals:
        out = out.withColumnRenamed(v, f"p_{v}")
    cells = ", ".join(
        cell.format(c=f"{pcol} = '{v}'") + f" AS p_{v}" for v in vals
    )
    sql = (
        f"SELECT {key}, {cells} FROM lineitem "
        f"WHERE {pred_sql(pred)} GROUP BY {key}"
    )
    ok, msg = compare_to_oracle(out, sql, SF_SMALL, con=duck)
    assert ok, f"{msg}\nplan: {plan} pred={pred}\nsql: {sql}"


# --- aggregate + HAVING fuzz ------------------------------------------------
# Post-aggregation filters: Spark renders HAVING as a Filter above
# the Aggregate referencing the aggregate's OUTPUT attributes — a
# different resolution path from WHERE (and the one alias-rewrite
# bugs would hit). The filter column is always the BIGINT count
# (a0), so the comparison itself is exact on both engines.


@settings(
    max_examples=_DEEP_EXAMPLES or 20,
    deadline=None,
    print_blob=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pred=PRED,
    keys=st.lists(
        st.sampled_from(GROUP_COLS), unique=True, min_size=1, max_size=2
    ),
    extra_aggs=st.lists(_MD_AGG, min_size=1, max_size=3, unique=True),
    hop=st.sampled_from(sorted(CMP_OPS)),
    hlit=st.integers(0, 400),
)
# multi-distinct aggregation UNDER the having filter (the rewrite
# must keep the filter above the final aggregate, not a partial one)
@example(
    pred=("num", "l_quantity", ">=", 0.0),
    keys=["l_returnflag", "l_linestatus"],
    extra_aggs=[("nuniq", "l_suppkey"), ("nuniq", "l_orderkey")],
    hop=">=",
    hlit=1,
)
def test_fuzz_agg_having(spark, duck, pred, keys, extra_aggs, hop, hlit):
    aggs = list(dict.fromkeys([("count_star",)] + extra_aggs))
    df = load_table(spark, SF_SMALL, "lineitem").filter(pred_col(pred))
    pairs = [md_agg_pair(s) for s in aggs]
    out = (
        df.groupBy(*keys)
        .agg(*[c.alias(f"a{i}") for i, (c, _) in enumerate(pairs)])
        .filter(_PY_OPS[hop](F.col("a0"), F.lit(hlit)))
    )
    select = ", ".join(
        list(keys) + [f"{s} AS a{i}" for i, (_, s) in enumerate(pairs)]
    )
    sql = (
        f"SELECT {select} FROM lineitem WHERE {pred_sql(pred)} "
        f"GROUP BY {', '.join(keys)} HAVING COUNT(*) {hop} {hlit}"
    )
    ok, msg = compare_to_oracle(out, sql, SF_SMALL, con=duck)
    assert ok, (
        f"{msg}\nplan: keys={keys} aggs={aggs} having=a0 {hop} {hlit} "
        f"pred={pred}\nsql: {sql}"
    )


# --- bucketed range-join fuzz -----------------------------------------------
# The engine's non-equi time-range recipe (q_range_join,
# operators/subqueries.py): bucket ts into W-second cells, explode
# the reference side into cell±1, EQUI-join on (user, cell), exact
# range filter last — the per-key cartesian never materializes
# because |ts diff| <= W bounds |cell diff| <= 1. This family fuzzes
# the recipe itself (random window widths, reference subsets, probe
# predicates) against DuckDB's plain non-equi join, which at this SF
# is an affordable brute-force oracle.


def _bucketed_range_count(ev, refpred, probepred, w: int):
    bucket = (F.unix_timestamp("ts") / w).cast("bigint")
    # both sides derive from ONE scan of ev (a self-join): alias the
    # datasets and qualify every join reference, or Spark's
    # ambiguous-self-join check rejects the plan
    probe = (
        ev.filter(pred_col(probepred))
        .select("event_id", "user_id", "ts", bucket.alias("cell"))
        .alias("p")
    )
    ref = (
        ev.filter(pred_col(refpred))
        .select(
            F.col("event_id").alias("ref_id"),
            F.col("user_id").alias("r_user"),
            F.col("ts").alias("r_ts"),
            bucket.alias("r_cell"),
        )
        # explode_outer: a NULL-ts reference keeps its row (oracle's
        # LEFT JOIN yields n_nearby = 0); a NULL-ts probe row gets a
        # NULL cell and can never equi-match, exactly as its NULL ts
        # comparison never matches in the oracle
        .withColumn(
            "probe_cell",
            F.explode_outer(F.expr("sequence(r_cell - 1, r_cell + 1)")),
        )
        .alias("r")
    )
    joined = ref.join(
        probe,
        (F.col("p.user_id") == F.col("r.r_user"))
        & (F.col("p.cell") == F.col("r.probe_cell"))
        & (F.col("p.event_id") != F.col("r.ref_id"))
        & (F.col("p.ts") >= F.col("r.r_ts") - F.expr(f"INTERVAL {w} SECONDS"))
        & (F.col("p.ts") <= F.col("r.r_ts") + F.expr(f"INTERVAL {w} SECONDS")),
        "left",
    )
    return joined.groupBy("ref_id").agg(
        F.count(F.col("p.event_id")).alias("n_nearby")
    )


@settings(
    max_examples=_DEEP_EXAMPLES or 20,
    deadline=None,
    print_blob=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    w=st.sampled_from([60, 300, 900, 3600]),
    refpred=table_pred(EVENTS_SPEC, max_leaves=3),
    probepred=table_pred(EVENTS_SPEC, max_leaves=3),
)
@example(
    w=300,
    refpred=("str", "event_type", "=", "error"),
    probepred=("num", "value", ">=", 0.0),
)
# boundary ties: W exactly at a common inter-event gap
@example(
    w=60,
    refpred=("int", "user_id", ">=", 0),
    probepred=("int", "user_id", ">=", 0),
)
def test_fuzz_bucketed_range_join(spark, duck, w, refpred, probepred):
    ev = load_table(spark, SF_SMALL, "events")
    out = _bucketed_range_count(ev, refpred, probepred, w)
    sql = (
        "SELECT e.event_id AS ref_id, COUNT(v.event_id) AS n_nearby "
        f"FROM (SELECT * FROM events WHERE {pred_sql(refpred)}) e "
        f"LEFT JOIN (SELECT * FROM events WHERE {pred_sql(probepred)}) v "
        "ON v.user_id = e.user_id AND v.event_id <> e.event_id "
        f"AND v.ts >= e.ts - INTERVAL {w} SECOND "
        f"AND v.ts <= e.ts + INTERVAL {w} SECOND "
        "GROUP BY e.event_id"
    )
    ok, msg = compare_to_oracle(out, sql, SF_SMALL, con=duck)
    assert ok, f"{msg}\nplan: w={w} ref={refpred} probe={probepred}\nsql: {sql}"


# --- outer-join null-plane fuzz ----------------------------------------------
# The biggest family the grammar had not touched (round-12 verdict):
# LEFT / FULL OUTER joins feeding grouped aggregates and windows over
# the NULL-EXTENDED rows. The null-extension plane is where engines
# historically diverge the way the grids did — NULL group keys, NULL
# inputs to distinct aggregates, string aggs over all-NULL groups,
# running frames that start before the first non-NULL value. Both
# join inputs are filtered, so BOTH null planes are populated: the
# customer-side filter orphans left rows (NULL customer columns) and
# under FULL the orders-side filter orphans right rows (NULL order
# columns). Aggregate renderings reuse the portable recipes exactly
# as the engine's own queries must write them (dsum, bigint-cast
# distinct counts, the guarded empty→NULL ordered string agg).

_OJ_AGGS = {
    # label: (engine column thunk, oracle SQL)
    "n": (lambda: F.count(F.lit(1)), "COUNT(*)"),
    # null-extended counts: COUNT(col) skips the extension NULLs
    "n_orders": (lambda: F.count("o_orderkey"), "COUNT(o_orderkey)"),
    "n_cust": (lambda: F.count("c_custkey"), "COUNT(c_custkey)"),
    # exact sums over null-extended doubles (all-NULL group → NULL)
    "dsum_price": (
        lambda: exact.dsum("o_totalprice"),
        exact.sql_dsum("o_totalprice"),
    ),
    "dsum_bal": (
        lambda: exact.dsum("c_acctbal"),
        exact.sql_dsum("c_acctbal"),
    ),
    # distinct aggregates over nullable inputs (NULLs ignored both
    # sides); two of them plus the string agg reconstructs the
    # RewriteDistinctAggregates crash shape on the outer-join plane
    "nuniq_prio": (
        lambda: F.countDistinct("o_orderpriority"),
        "COUNT(DISTINCT o_orderpriority)",
    ),
    "nuniq_seg": (
        lambda: F.countDistinct("c_mktsegment"),
        "COUNT(DISTINCT c_mktsegment)",
    ),
    # ordered string agg over a null-extended column: collect_list /
    # string_agg both skip NULLs; the guard maps the all-NULL (or
    # empty) group to NULL on the engine side like string_agg does
    "lagg_seg": (
        lambda: F.when(
            F.count("c_mktsegment") == 0, F.lit(None)
        ).otherwise(
            F.concat_ws("|", F.array_sort(F.collect_list("c_mktsegment")))
        ),
        "string_agg(c_mktsegment, '|' ORDER BY c_mktsegment)",
    ),
}

_OJ_KEYS = [(), ("o_orderstatus",), ("c_mktsegment",),
            ("o_orderstatus", "c_mktsegment")]


def _outer_joined(spark, how, opred, cpred):
    o = load_table(spark, SF_SMALL, "orders").filter(pred_col(opred))
    c = load_table(spark, SF_SMALL, "customer").filter(pred_col(cpred))
    return o.join(c, o["o_custkey"] == c["c_custkey"], how)


def _outer_join_sql(how, opred, cpred) -> str:
    return (
        f"(SELECT * FROM orders WHERE {pred_sql(opred)}) o "
        f"{'FULL' if how == 'full' else 'LEFT'} JOIN "
        f"(SELECT * FROM customer WHERE {pred_sql(cpred)}) c "
        "ON o.o_custkey = c.c_custkey"
    )


@settings(
    max_examples=_DEEP_EXAMPLES or 25,
    deadline=None,
    print_blob=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    how=st.sampled_from(["left", "full"]),
    opred=table_pred(ORDERS_SPEC, max_leaves=3),
    cpred=table_pred(CUSTOMER_SPEC, max_leaves=3),
    keys=st.sampled_from(_OJ_KEYS),
    aggs=st.lists(
        st.sampled_from(sorted(_OJ_AGGS)), min_size=1, max_size=4, unique=True
    ),
)
# both null planes populated, NULL group keys on both axes, and the
# crash-shaped 2-distinct + string-agg combination in one draw
@example(
    how="full",
    opred=("str", "o_orderstatus", "=", "O"),
    cpred=("str", "c_mktsegment", "=", "BUILDING"),
    keys=("o_orderstatus", "c_mktsegment"),
    aggs=["nuniq_prio", "nuniq_seg", "lagg_seg", "n"],
)
# all-NULL aggregate inputs: every surviving right row is orphaned
@example(
    how="full",
    opred=("int", "o_custkey", "<", 0),
    cpred=("num", "c_acctbal", ">", 0.0),
    keys=("c_mktsegment",),
    aggs=["n_orders", "dsum_price", "lagg_seg"],
)
@example(
    how="left",
    opred=("num", "o_totalprice", ">", 1000.0),
    cpred=("int", "c_nationkey", "<", 10),
    keys=(),
    aggs=["n", "n_cust", "dsum_bal", "nuniq_seg"],
)
def test_fuzz_outer_join_null_agg(spark, duck, how, opred, cpred, keys, aggs):
    """LEFT / FULL OUTER joins feeding grouped aggregates where the
    group keys and the aggregate inputs can both be join-extension
    NULLs; groups, distinct sets, and string aggs must treat those
    NULLs identically across engines."""
    joined = _outer_joined(spark, how, opred, cpred)
    cols = [_OJ_AGGS[a][0]().alias(a) for a in aggs]
    out = joined.groupBy(*keys).agg(*cols) if keys else joined.agg(*cols)

    select = ", ".join(
        list(keys) + [f"{_OJ_AGGS[a][1]} AS {a}" for a in aggs]
    )
    sql = f"SELECT {select} FROM {_outer_join_sql(how, opred, cpred)}"
    if keys:
        sql += f" GROUP BY {', '.join(keys)}"
    ok, msg = compare_to_oracle(out, sql, SF_SMALL, con=duck)
    assert ok, (
        f"{msg}\nplan: how={how} keys={keys} aggs={aggs} "
        f"opred={opred} cpred={cpred}\nsql: {sql}"
    )


# Windows over the null-extended rows. The ORDER BY is pinned to a
# synthesized key that is UNIQUE and NON-NULL on every row of either
# plane (orders keys >= 0; orphaned customers map to -c_custkey - 1 <
# 0), so the only NULL semantics under test are the ones we want:
# NULL partition keys forming one partition and NULL aggregate inputs
# inside running frames — not the engines' differing default NULL
# sort order (Spark NULLS FIRST asc vs DuckDB NULLS LAST), which is a
# pinned portability physics, not a plan bug.

_OJW_FUNCS = {
    "rn": (
        lambda b, f: F.row_number().over(b),
        "ROW_NUMBER() OVER ({plain})",
    ),
    "part_n": (
        lambda b, f: F.count(F.lit(1)).over(f),
        "COUNT(*) OVER ({framed})",
    ),
    "part_matched": (
        lambda b, f: F.count("c_custkey").over(f),
        "COUNT(c_custkey) OVER ({framed})",
    ),
    "run_dsum_price": (
        lambda b, f: F.sum(
            exact.checked_decimal(F.col("o_totalprice"), 2)
        ).over(f).cast("double"),
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) OVER ({framed}) "
        "AS DOUBLE)",
    ),
    "lag_bal": (
        lambda b, f: F.coalesce(F.lag("c_acctbal", 1).over(b), F.lit(-1.0)),
        "COALESCE(LAG(c_acctbal, 1) OVER ({plain}), -1.0)",
    ),
}


@settings(
    max_examples=_DEEP_EXAMPLES or 20,
    deadline=None,
    print_blob=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    how=st.sampled_from(["left", "full"]),
    opred=table_pred(ORDERS_SPEC, max_leaves=3),
    cpred=table_pred(CUSTOMER_SPEC, max_leaves=3),
    part=st.sampled_from(["", "o_orderstatus", "c_mktsegment"]),
    funcs=st.lists(
        st.sampled_from(sorted(_OJW_FUNCS)), min_size=1, max_size=4,
        unique=True,
    ),
)
# NULL partition key on the right axis, running sum over a column
# that is NULL for the whole orphaned-customer partition
@example(
    how="full",
    opred=("str", "o_orderstatus", "=", "F"),
    cpred=("int", "c_nationkey", ">=", 0),
    part="c_mktsegment",
    funcs=["rn", "run_dsum_price", "part_matched", "lag_bal"],
)
def test_fuzz_outer_join_null_window(
    spark, duck, how, opred, cpred, part, funcs
):
    """Window functions over LEFT / FULL OUTER join output: NULL
    partition keys group into one partition, offset/running frames
    cross NULL-extended values, and the frame math must match
    row-for-row under a pinned unique total order."""
    from pyspark.sql import Window

    joined = _outer_joined(spark, how, opred, cpred).select(
        F.coalesce(
            F.col("o_orderkey"), -F.col("c_custkey") - F.lit(1)
        ).alias("uid"),
        "o_orderstatus",
        "c_mktsegment",
        "o_totalprice",
        "c_acctbal",
        "c_custkey",
    )
    base = (
        Window.partitionBy(part) if part else Window.partitionBy(F.lit(1))
    ).orderBy("uid")
    framed = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    psql = f"PARTITION BY {part} " if part else ""
    plain = f"{psql}ORDER BY uid"
    framed_sql = (
        f"{plain} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    )
    cols = [
        _OJW_FUNCS[fn][0](base, framed).alias(fn) for fn in funcs
    ]
    out = joined.select("uid", *cols)

    select = ", ".join(
        ["uid"]
        + [
            _OJW_FUNCS[fn][1].format(plain=plain, framed=framed_sql)
            + f" AS {fn}"
            for fn in funcs
        ]
    )
    sql = (
        f"SELECT {select} FROM ("
        "SELECT COALESCE(o.o_orderkey, -c.c_custkey - 1) AS uid, "
        "o_orderstatus, c_mktsegment, o_totalprice, c_acctbal, c_custkey "
        f"FROM {_outer_join_sql(how, opred, cpred)})"
    )
    ok, msg = compare_to_oracle(out, sql, SF_SMALL, con=duck)
    assert ok, (
        f"{msg}\nplan: how={how} part={part} funcs={funcs} "
        f"opred={opred} cpred={cpred}\nsql: {sql}"
    )


# --- bloom prefilter invisibility fuzz ---------------------------------------
# Engine-internal property (no DuckDB needed): the hand-built bloom
# prefilter (operators/advanced.py) may only PASS THROUGH rows — for
# any build-side key set, prefilter + exact semi-join must equal the
# plain semi-join row-for-row. Randomizing the build predicate sweeps
# the bitmap occupancy from empty (everything is a definite miss)
# through selective (the intended regime) to saturated (every probe
# row passes and the exact join does all the work); a tiny `bits`
# value is drawn too, so false positives actually occur and their
# removal is exercised rather than assumed.


@settings(
    max_examples=_DEEP_EXAMPLES or 15,
    deadline=None,
    print_blob=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    opred=table_pred(ORDERS_SPEC, max_leaves=3),
    bits=st.sampled_from([256, 4096, 1 << 17]),
)
# empty build set: bitmap has no words, every probe row is a definite
# miss at the FIRST hash's inner join
@example(opred=("int", "o_custkey", "<", 0), bits=1 << 17)
# tiny filter, large build set: heavy false-positive traffic
@example(opred=("num", "o_totalprice", ">", 0.0), bits=256)
def test_fuzz_bloom_prefilter_invisible(spark, opred, bits):
    from map_reduce_server_spark.operators.advanced import (
        bloom_prefilter,
        bloom_words,
    )

    orders = (
        load_table(spark, SF_SMALL, "orders")
        .filter(pred_col(opred))
        .select("o_orderkey")
    )
    li = load_table(spark, SF_SMALL, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    words = bloom_words(orders, "o_orderkey", bits)
    pre = bloom_prefilter(li, words, "l_orderkey", bits)
    bloomed = pre.join(
        orders, pre["l_orderkey"] == orders["o_orderkey"], "left_semi"
    )
    plain = li.join(
        orders, li["l_orderkey"] == orders["o_orderkey"], "left_semi"
    )
    got = sorted(map(tuple, bloomed.collect()))
    want = sorted(map(tuple, plain.collect()))
    assert got == want, f"opred={opred} bits={bits}"


# --- BFS vs recursive-CTE fuzz ------------------------------------------------
# The iterative frontier expansion (operators/clustering.py bfs_hops)
# against DuckDB's native WITH RECURSIVE, sweeping the support
# threshold (graph density: minsup 4 thins the co-purchase graph to
# near-empty at this SF — including the EMPTY-graph case, where both
# sides agree on the degenerate (NULL, 0) seed row) and the hop bound
# (recursion depth). The registered graph_bfs_hops pins one configuration;
# this family certifies the core across the parameter plane.


def _bfs_oracle_sql(minsup: int, hops: int) -> str:
    return f"""
    WITH RECURSIVE e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(DISTINCT a.l_orderkey) >= {minsup}),
    ed AS (SELECT u AS src, v AS dst FROM e
           UNION ALL SELECT v AS src, u AS dst FROM e),
    seed AS (SELECT MIN(src) AS s FROM ed),
    walk(node, hops) AS (
      SELECT s, 0 FROM seed
      UNION
      SELECT ed.dst, w.hops + 1 FROM walk w JOIN ed ON ed.src = w.node
      WHERE w.hops < {hops}
    )
    SELECT node, CAST(MIN(hops) AS INTEGER) AS hops
    FROM walk GROUP BY node
    """


@settings(
    max_examples=_DEEP_EXAMPLES or 10,
    deadline=None,
    print_blob=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    minsup=st.integers(2, 4),
    hops=st.integers(1, 5),
)
@example(minsup=2, hops=4)  # the registered query's exact configuration
@example(minsup=4, hops=3)  # near-empty graph
def test_fuzz_bfs_vs_recursive_cte(spark, duck, minsup, hops):
    from map_reduce_server_spark.operators.clustering import (
        _copurchase_edges,
        bfs_hops,
    )

    out = bfs_hops(_copurchase_edges(spark, SF_SMALL, minsup=minsup), hops)
    ok, msg = compare_to_oracle(out, _bfs_oracle_sql(minsup, hops), SF_SMALL, con=duck)
    assert ok, f"{msg}\nplan: minsup={minsup} hops={hops}"


# --- correlated subquery fuzz -------------------------------------------------
# Catalyst rewrites every form below (DecorrelateInnerQuery /
# RewritePredicateSubquery) into joins; DuckDB runs its own
# flatten-subquery planner. Same AST rendered to BOTH dialects —
# pred_sql output is plain portable SQL for the non-ts leaves — so a
# divergence is a decorrelation bug, not a dialect artifact. Scalar
# forms pin the empty-inner-set corner (COUNT -> 0, SUM -> NULL);
# [NOT] IN stays in the null-free l_orderkey envelope on purpose —
# the three-valued NOT IN trap is pinned elsewhere (q_not_in_nulls,
# test_null_logic_fuzz) and would test SQL semantics, not engines.

_LI_PRED = table_pred(
    {"num": NUM_COLS, "int": INT_COLS, "str": STR_COLS}, max_leaves=3
)

_CORR_FORMS = (
    "scalar_count",
    "scalar_sum_int",
    "exists",
    "not_exists",
    "in",
    "not_in",
)


def _corr_sql(form: str, opred, ipred) -> str:
    corr = f"({pred_sql(ipred)}) AND l.l_orderkey = o.o_orderkey"
    if form == "scalar_count":
        return (
            "SELECT o.o_orderkey, CAST((SELECT COUNT(*) FROM lineitem l "
            f"WHERE {corr}) AS BIGINT) AS v "
            f"FROM orders o WHERE {pred_sql(opred)}"
        )
    if form == "scalar_sum_int":
        return (
            "SELECT o.o_orderkey, CAST((SELECT SUM(l.l_suppkey) "
            f"FROM lineitem l WHERE {corr}) AS BIGINT) AS v "
            f"FROM orders o WHERE {pred_sql(opred)}"
        )
    if form in ("exists", "not_exists"):
        neg = "NOT " if form == "not_exists" else ""
        return (
            "SELECT o.o_orderkey FROM orders o "
            f"WHERE ({pred_sql(opred)}) AND {neg}EXISTS "
            f"(SELECT 1 FROM lineitem l WHERE {corr})"
        )
    neg = "NOT " if form == "not_in" else ""
    return (
        "SELECT o.o_orderkey FROM orders o "
        f"WHERE ({pred_sql(opred)}) AND o.o_orderkey {neg}IN "
        f"(SELECT l_orderkey FROM lineitem WHERE {pred_sql(ipred)})"
    )


@settings(
    max_examples=_DEEP_EXAMPLES or 20,
    deadline=None,
    print_blob=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    form=st.sampled_from(_CORR_FORMS),
    opred=table_pred(ORDERS_SPEC, max_leaves=3),
    ipred=_LI_PRED,
)
# empty inner set on every outer row: SUM -> NULL, not 0
@example(
    form="scalar_sum_int",
    opred=("int", "o_custkey", ">=", 0),
    ipred=("num", "l_quantity", "<", 0.0),
)
# NOT EXISTS where the inner predicate never fires
@example(
    form="not_exists",
    opred=("str", "o_orderstatus", "=", "O"),
    ipred=("int", "l_suppkey", "<", 0),
)
@example(
    form="in",
    opred=("num", "o_totalprice", ">", 100000.0),
    ipred=("str", "l_returnflag", "=", "R"),
)
def test_fuzz_correlated_subqueries(spark, duck, form, opred, ipred):
    from map_reduce_server_spark.tables import register_views

    register_views(spark, SF_SMALL)
    sql = _corr_sql(form, opred, ipred)
    ok, msg = compare_to_oracle(spark.sql(sql), sql, SF_SMALL, con=duck)
    assert ok, f"{msg}\nplan: form={form} opred={opred} ipred={ipred}\nsql: {sql}"


# --- nested correlation fuzz (depth >= 2) -------------------------------------
# The two untested planes after the LATERAL top-k and FILTER-clause
# families: (a) a correlated LATERAL whose inner relation ITSELF
# carries a correlated subquery one level deeper (customer -> lateral
# orders -> scalar/EXISTS over lineitem correlated to the MIDDLE
# scope), optionally ordering the k-cut by that depth-2 value; and
# (b) aggregate FILTER clauses whose predicate is a correlated
# EXISTS over another table. Both are classic decorrelation
# divergence points: Catalyst must stack DecorrelateInnerQuery
# rewrites (a) or pull the EXISTS through the aggregate (b), while
# DuckDB executes the nesting directly. One SQL string drives both
# engines (modulo DuckDB's mandatory ON TRUE for LATERAL). The inner
# ORDER BY always ends in the unique o_orderkey, and the depth-2
# value is COUNT (never NULL) or EXISTS cast to INTEGER, so ordering
# and output are engine-independent by construction.


def _nested_lateral_sql(how, cpred, opred, lpred, inner, by_m, desc, k, on_true):
    if inner == "count":
        m = (
            "(SELECT COUNT(*) FROM lineitem l "
            f"WHERE l.l_orderkey = o.o_orderkey AND {pred_sql(lpred)})"
        )
    else:
        m = (
            "CAST(EXISTS (SELECT 1 FROM lineitem l "
            f"WHERE l.l_orderkey = o.o_orderkey AND {pred_sql(lpred)}) "
            "AS INTEGER)"
        )
    d = "DESC" if desc else "ASC"
    order = f"m {d}" if by_m else f"o_totalprice {d}"
    on = " ON TRUE" if on_true else ""
    return (
        "SELECT c.c_custkey, t.o_orderkey, t.m "
        f"FROM customer c {how} JOIN LATERAL ("
        f"SELECT o_orderkey, o_totalprice, {m} AS m "
        "FROM orders o "
        f"WHERE o.o_custkey = c.c_custkey AND {pred_sql(opred)} "
        f"ORDER BY {order}, o_orderkey LIMIT {k}) t{on} "
        f"WHERE {pred_sql(cpred)}"
    )


@settings(
    max_examples=_DEEP_EXAMPLES or 20,
    deadline=None,
    print_blob=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    how=st.sampled_from(["", "LEFT"]),
    cpred=table_pred(CUSTOMER_SPEC, max_leaves=2),
    opred=table_pred(ORDERS_SPEC, max_leaves=2),
    lpred=_LI_PRED,
    inner=st.sampled_from(["count", "exists"]),
    by_m=st.booleans(),
    desc=st.booleans(),
    k=st.integers(1, 4),
)
# order the k-cut by the DEPTH-2 count itself (heavy ties -> the
# unique-key tie-break is load-bearing), LEFT null-extension active
@example(
    how="LEFT",
    cpred=("num", "c_acctbal", "<", 0.0),
    opred=("num", "o_totalprice", ">", 300000.0),
    lpred=("num", "l_quantity", ">", 20.0),
    inner="count",
    by_m=True,
    desc=True,
    k=2,
)
# EXISTS-as-value with an inner predicate that never fires: m = 0
# everywhere, the k-cut degenerates to pure tie-break order
@example(
    how="",
    cpred=("int", "c_custkey", ">=", 0),
    opred=("str", "o_orderstatus", "<>", "P"),
    lpred=("int", "l_suppkey", "<", 0),
    inner="exists",
    by_m=True,
    desc=False,
    k=3,
)
def test_fuzz_lateral_nested_scalar(
    spark, duck, how, cpred, opred, lpred, inner, by_m, desc, k
):
    from map_reduce_server_spark.tables import register_views

    register_views(spark, SF_SMALL)
    out = spark.sql(
        _nested_lateral_sql(how, cpred, opred, lpred, inner, by_m, desc, k, False)
    )
    sql = _nested_lateral_sql(how, cpred, opred, lpred, inner, by_m, desc, k, True)
    ok, msg = compare_to_oracle(out, sql, SF_SMALL, con=duck)
    assert ok, (
        f"{msg}\nplan: how={how or 'INNER'} cpred={cpred} opred={opred} "
        f"lpred={lpred} inner={inner} by_m={by_m} desc={desc} k={k}\nsql: {sql}"
    )


def _exists_filter_sql(key, cpred, opred, neg, with_sum) -> str:
    ex = (
        f"{'NOT ' if neg else ''}EXISTS (SELECT 1 FROM orders o "
        f"WHERE o.o_custkey = c.c_custkey AND {pred_sql(opred)})"
    )
    sum_part = (
        ", CAST(COALESCE(SUM(CAST(c_acctbal AS DECIMAL(30,2))) "
        f"FILTER (WHERE {ex}), 0) AS DOUBLE) AS bal_with"
        if with_sum
        else ""
    )
    return (
        f"SELECT {key}, COUNT(*) AS n_all, "
        f"COUNT(*) FILTER (WHERE {ex}) AS n_with{sum_part} "
        f"FROM customer c WHERE {pred_sql(cpred)} GROUP BY {key}"
    )


@settings(
    max_examples=_DEEP_EXAMPLES or 20,
    deadline=None,
    print_blob=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    key=st.sampled_from(["c_mktsegment", "c_nationkey"]),
    cpred=table_pred(CUSTOMER_SPEC, max_leaves=3),
    opred=table_pred(ORDERS_SPEC, max_leaves=3),
    neg=st.booleans(),
    with_sum=st.booleans(),
)
# EXISTS never fires: every FILTER count is 0 and the guarded sum's
# COALESCE keeps the column off the all-NULL comparator hazard
@example(
    key="c_mktsegment",
    cpred=("int", "c_custkey", ">=", 0),
    opred=("num", "o_totalprice", "<", 0.0),
    neg=False,
    with_sum=True,
)
# NOT EXISTS over a predicate that always fires: the complement case
@example(
    key="c_nationkey",
    cpred=("num", "c_acctbal", ">", -1000.0),
    opred=("int", "o_custkey", ">=", 0),
    neg=True,
    with_sum=True,
)
def test_fuzz_exists_filter_agg(spark, duck, key, cpred, opred, neg, with_sum):
    from map_reduce_server_spark.tables import register_views

    register_views(spark, SF_SMALL)
    sql = _exists_filter_sql(key, cpred, opred, neg, with_sum)
    ok, msg = compare_to_oracle(spark.sql(sql), sql, SF_SMALL, con=duck)
    assert ok, (
        f"{msg}\nplan: key={key} cpred={cpred} opred={opred} neg={neg} "
        f"with_sum={with_sum}\nsql: {sql}"
    )


# --- window-then-correlated fuzz ---------------------------------------------
# The remaining nesting plane of round 15's depth-2 work: a
# correlated scalar/EXISTS whose correlation condition references a
# WINDOW value computed over the outer query (per-partition MAX/MIN
# of orders, unique-keyed rank) — Catalyst must decorrelate UNDER
# the Window operator, DuckDB flattens the subquery against its own
# window plan. The windowed value is always a data value (MAX/MIN)
# or a dense integer (row_number with unique ORDER BY), so the
# comparison is bit-exact on both engines.


def _win_corr_sql(wfn, factor, cmp, inner, opred, lpred) -> str:
    if wfn == "rn":
        wexpr = (
            "row_number() OVER (PARTITION BY o_custkey "
            "ORDER BY o_orderkey)"
        )
        ipred = f"l.l_linenumber {cmp} w.wval"
    else:
        wexpr = (
            f"{wfn}(o_totalprice) OVER (PARTITION BY o_custkey)"
        )
        ipred = f"l.l_extendedprice {cmp} w.wval * {factor}"
    if inner == "count":
        sub = (
            "(SELECT COUNT(*) FROM lineitem l "
            f"WHERE l.l_orderkey = w.o_orderkey AND {ipred} "
            f"AND {pred_sql(lpred)})"
        )
    else:
        sub = (
            "CAST(EXISTS (SELECT 1 FROM lineitem l "
            f"WHERE l.l_orderkey = w.o_orderkey AND {ipred} "
            f"AND {pred_sql(lpred)}) AS INTEGER)"
        )
    return (
        "WITH w AS (SELECT o_orderkey, o_custkey, "
        f"{wexpr} AS wval FROM orders WHERE {pred_sql(opred)}) "
        f"SELECT w.o_orderkey, w.wval, {sub} AS m FROM w"
    )


@settings(
    max_examples=_DEEP_EXAMPLES or 20,
    deadline=None,
    print_blob=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    wfn=st.sampled_from(["max", "min", "rn"]),
    factor=st.sampled_from(["0.001", "0.01", "0.1"]),
    cmp=st.sampled_from(["<", "<=", ">", ">="]),
    inner=st.sampled_from(["count", "exists"]),
    opred=table_pred(ORDERS_SPEC, max_leaves=2),
    lpred=_LI_PRED,
)
# rank-correlated inner bound: the windowed integer gates which
# line numbers count — decorrelation under row_number
@example(
    wfn="rn",
    factor="0.1",
    cmp="<=",
    inner="count",
    opred=("int", "o_custkey", ">=", 0),
    lpred=("num", "l_quantity", ">", 0.0),
)
# per-partition MAX scaled down to an always-true bound: every line
# qualifies, the subquery degenerates to the plain per-order count
@example(
    wfn="max",
    factor="0.001",
    cmp=">",
    inner="exists",
    opred=("str", "o_orderstatus", "<>", "P"),
    lpred=("int", "l_suppkey", ">=", 0),
)
def test_fuzz_window_then_correlated(
    spark, duck, wfn, factor, cmp, inner, opred, lpred
):
    from map_reduce_server_spark.tables import register_views

    register_views(spark, SF_SMALL)
    sql = _win_corr_sql(wfn, factor, cmp, inner, opred, lpred)
    ok, msg = compare_to_oracle(spark.sql(sql), sql, SF_SMALL, con=duck)
    assert ok, (
        f"{msg}\nplan: wfn={wfn} factor={factor} cmp={cmp} inner={inner} "
        f"opred={opred} lpred={lpred}\nsql: {sql}"
    )
