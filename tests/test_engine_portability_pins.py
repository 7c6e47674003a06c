"""Executable pins for Spark-vs-DuckDB scalar divergences.

Every query in the registry ships a DuckDB oracle twin, so the
portable expression subset is a load-bearing design surface. Each
test here PINS a verified divergence (or a verified agreement that
folklore says should diverge) in its actual direction on both
engines — the rulebook for oracle authors, kept alive by CI instead
of drifting in prose:

RULES (each backed by a test below):
- substr: 1-based starts only — position 0 changes MEANING across
  engines, not just validity.
- left/right: non-negative lengths only (negative flips semantics).
- Case mapping: upper/lower only over ASCII data (Java's full
  Unicode case mapping vs DuckDB's differ, e.g. U+00DF).
- concat(): NULL-propagating in Spark, NULL-SKIPPING in DuckDB —
  use `||` on both sides when operands can be NULL.
- LIKE with escaped wildcards: DuckDB has NO default escape
  character — always write an explicit `ESCAPE '\\'` in oracle SQL.
- double -> string casts diverge in rendering (Java scientific
  notation vs shortest round-trip; NaN/Infinity spellings) — never
  hash or compare a stringified double (functions/hashing.py
  enforces the same rule for hash keys).
- initcap: Spark-only; no DuckDB twin.
- round(double, n): NOT portable. Spark rounds the double's
  SHORTEST DECIMAL REPR half-up (Java BigDecimal.valueOf(double)),
  so 1.005 -> 1.01 even though the binary value is 1.00499...;
  DuckDB keeps the binary value on part of the boundary set
  (1.005 -> 1.0) while agreeing on other classic poison values
  (2.675 -> 2.68 on both). The subtlety is the trap: spot-checking
  a handful of .5-boundary literals can "prove" agreement. Only
  round (a) decimals, or (b) results of computations whose value
  cannot sit at a shortest-repr half boundary (the round(ln(x), 9)
  pattern).
- Day-of-week: NO same-named function is portable. `dayofweek` is
  1-based Sunday on Spark, 0-based Sunday on DuckDB (off-by-one);
  `weekday` exists on BOTH but with DIFFERENT anchors (Spark
  0=Monday, DuckDB 0=Sunday — DuckDB's is an alias of dayofweek);
  `dayname` renders 'Sun' vs 'Sunday'. The portable recipe is the
  ISO number via arithmetic: Spark `weekday(d) + 1` == DuckDB
  `isodow(d)` (1=Monday..7=Sunday).
- Week truncation: both engines truncate to MONDAY and agree on the
  instant, but Spark's date_trunc returns TIMESTAMP while DuckDB's
  returns DATE even for timestamp input — cast both sides to
  TIMESTAMP (the repo-wide no-DATE-output rule).
- Month arithmetic: `d + INTERVAL n MONTH` clamps to month-end on
  both and agrees on the value, but DuckDB returns TIMESTAMP where
  Spark returns DATE — same cast rule. `add_months` /
  `months_between` are Spark-only; `datediff(end, start)` is
  Spark's 2-arg form vs DuckDB's 3-arg `datediff('day', start,
  end)` (note the flipped operand order).
- AGREEING date subset (verified, not folklore): weekofyear (ISO,
  week 53 spill-back included), dayofyear, quarter, last_day,
  date_add(d, n).
- Interval constants in ONE statement must be value-DISTINCT under
  DuckDB's 30-day-month normalization: its CSE treats INTERVAL m
  MONTH and INTERVAL 30*m DAY as the same constant, silently folding
  two additions on the same column into whichever appears first
  (found by the date-exprs deep fuzz; q_date_funcs works around it
  with 91 days against 3 months).
- JSON extraction (get_json_object vs json_extract_string): the
  portable envelope is identifier keys, strings, booleans,
  int64-range integers, and doubles whose magnitude stays in
  [1e-3, 1e7). Outside it: Spark re-renders numbers through Java
  Double.toString (scientific '1.0E7'/'1.0E-4' where DuckDB writes
  '10000000.0'/'0.0001'), integers beyond int64 stay integer text
  on Spark but become doubles on DuckDB, and a MALFORMED document
  is NULL on Spark but an ERROR on DuckDB unless wrapped in
  TRY_CAST(... AS JSON).
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL
from tests.oracle_utils import duck_connection


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_SMALL)
    yield con
    con.close()


def _spark1(spark, expr: str):
    return spark.sql(f"SELECT {expr} AS v").collect()[0][0]


def _duck1(duck, expr: str):
    return duck.execute(f"SELECT {expr} AS v").fetchone()[0]


def test_substr_position_zero_diverges(spark, duck):
    # Spark treats start 0 as "position 0 exists": the 3-char window
    # starting there covers chars 1-2 plus the virtual 0th -> 'abc'
    # consumes length from position 0; DuckDB clips to 'ab'.
    assert _spark1(spark, "substring('abcdef', 0, 3)") == "abc"
    assert _duck1(duck, "substr('abcdef', 0, 3)") == "ab"
    # 1-based starts agree (the portable subset)
    assert _spark1(spark, "substring('abcdef', 2, 3)") == "bcd"
    assert _duck1(duck, "substr('abcdef', 2, 3)") == "bcd"


def test_left_negative_length_diverges(spark, duck):
    # Spark: negative n -> empty; DuckDB: all but the last |n| chars
    assert _spark1(spark, "left('abcdef', -2)") == ""
    assert _duck1(duck, "left('abcdef', -2)") == "abcd"
    assert _spark1(spark, "left('abcdef', 2)") == "ab"
    assert _duck1(duck, "left('abcdef', 2)") == "ab"


def test_upper_nonascii_diverges(spark, duck):
    # Java full case mapping expands U+00DF to 'SS'; DuckDB maps to
    # the capital sharp-s U+1E9E. ASCII-only case mapping agrees.
    assert _spark1(spark, "upper('straße')") == "STRASSE"
    assert _duck1(duck, "upper('straße')") == "STRAẞE"
    assert _spark1(spark, "upper('abc')") == "ABC"
    assert _duck1(duck, "upper('abc')") == "ABC"


def test_concat_null_semantics_diverge(spark, duck):
    # Spark concat(): any NULL operand -> NULL. DuckDB concat():
    # NULLs are SKIPPED. `||` propagates NULL on both engines.
    assert _spark1(spark, "concat('a', CAST(NULL AS STRING))") is None
    assert _duck1(duck, "concat('a', CAST(NULL AS VARCHAR))") == "a"
    assert _spark1(spark, "'a' || CAST(NULL AS STRING)") is None
    assert _duck1(duck, "'a' || CAST(NULL AS VARCHAR)") is None


def test_like_escape_needs_explicit_escape_in_duckdb(spark, duck):
    # Spark's LIKE has backslash as the DEFAULT escape character;
    # DuckDB's LIKE has NONE unless an ESCAPE clause is written.
    assert (
        _spark1(spark, r"CASE WHEN 'a_c' LIKE 'a\\_c' THEN 'y' ELSE 'n' END")
        == "y"
    )
    assert (
        _duck1(duck, r"CASE WHEN 'a_c' LIKE 'a\_c' THEN 'y' ELSE 'n' END")
        == "n"
    )
    assert (
        _duck1(
            duck,
            r"CASE WHEN 'a_c' LIKE 'a\_c' ESCAPE '\' THEN 'y' ELSE 'n' END",
        )
        == "y"
    )


def test_double_to_string_rendering_diverges(spark, duck):
    # Java Double.toString scientific notation vs DuckDB's shortest
    # round-trip decimal; special values spell differently too. This
    # is why hash/partition keys must never be stringified doubles
    # (functions/hashing.py key-type envelope).
    assert _spark1(spark, "CAST(CAST(10000000 AS DOUBLE) AS STRING)") == "1.0E7"
    assert (
        _duck1(duck, "CAST(CAST(10000000 AS DOUBLE) AS VARCHAR)")
        == "10000000.0"
    )
    assert _spark1(spark, "CAST(CAST(0.0001 AS DOUBLE) AS STRING)") == "1.0E-4"
    assert _duck1(duck, "CAST(CAST(0.0001 AS DOUBLE) AS VARCHAR)") == "0.0001"
    assert (
        _spark1(spark, "CAST(CAST('Infinity' AS DOUBLE) AS STRING)")
        == "Infinity"
    )
    assert (
        _duck1(duck, "CAST(CAST('Infinity' AS DOUBLE) AS VARCHAR)") == "inf"
    )


def test_lower_dotted_capital_i_diverges(spark, duck):
    # U+0130: Java lowercase EXPANDS to 'i' + U+0307 combining dot;
    # DuckDB maps to plain 'i'. This is the one known hole in the
    # shared tokenizer's character envelope (functions/tokens.py) —
    # corpora containing it must be normalized upstream.
    assert _spark1(spark, "lower('İ')") == "i̇"
    assert _duck1(duck, "lower('İ')") == "i"
    assert (
        _spark1(spark, "lower('STRASSE straße')")
        == _duck1(duck, "lower('STRASSE straße')")
    )


def test_lower_final_sigma_is_contextual_in_spark(spark, duck):
    # Found BY the tokenizer fuzz, not by spot-probing: Java's
    # String.toLowerCase applies the contextual final-sigma rule
    # (Σ after a cased letter at word end -> 'ς'); DuckDB maps Σ to
    # 'σ' unconditionally. A bare 'Σ' has no preceding cased letter,
    # so the obvious one-char probe FALSELY shows agreement.
    assert _spark1(spark, "lower('ÄΣ')") == "äς"
    assert _duck1(duck, "lower('ÄΣ')") == "äσ"
    assert _spark1(spark, "lower('Σ')") == _duck1(duck, "lower('Σ')") == "σ"


def test_rollup_cube_empty_input_diverges(spark, duck):
    # Found by the rollup/cube fuzz: over EMPTY input, SQL's grand
    # total grouping set () still produces one row (n=0) — DuckDB
    # follows that; Spark's rollup/cube emit NOTHING (though Spark's
    # plain global aggregate does emit the n=0 row). Oracle twins
    # for rollup/cube must guarantee non-empty input or guard the
    # grand-total row explicitly.
    from pyspark.sql import functions as F

    empty = spark.createDataFrame([], "k string, v double")
    assert empty.rollup("k").agg(F.count(F.lit(1)).alias("n")).collect() == []
    assert empty.cube("k").agg(F.count(F.lit(1)).alias("n")).collect() == []
    assert [
        r.n for r in empty.agg(F.count(F.lit(1)).alias("n")).collect()
    ] == [0]
    assert (
        duck.execute(
            "SELECT k, COUNT(*) n FROM (SELECT 'x' k WHERE false) "
            "GROUP BY ROLLUP(k)"
        ).fetchall()
        == [(None, 0)]
    )


def test_initcap_is_spark_only(spark, duck):
    assert (
        _spark1(spark, "initcap('hello-world foo_bar')")
        == "Hello-world Foo_bar"
    )
    with pytest.raises(Exception, match="initcap|Catalog|not.*exist"):
        _duck1(duck, "initcap('x')")


def test_day_of_week_matrix_diverges(spark, duck):
    """No same-named day-of-week function is portable. 2024-01-07 is
    a Sunday, 2024-01-08 a Monday:

    - dayofweek: Spark 1=Sunday..7=Saturday; DuckDB 0=Sunday..6 —
      an off-by-one under the SAME name.
    - weekday: the nastier trap — present on BOTH engines but with
      different anchors: Spark 0=Monday..6=Sunday, DuckDB an alias
      of its dayofweek (0=Sunday). A probe on a Monday (Spark 0,
      DuckDB 1) reveals it; one on certain days can appear close.
    - dayname: Spark abbreviates ('Sun'), DuckDB spells out
      ('Sunday').

    The PORTABLE recipe is ISO day-of-week via arithmetic:
    Spark ``weekday(d) + 1`` == DuckDB ``isodow(d)``
    (1=Monday..7=Sunday) — pinned across a full week below.
    """
    sun, mon = "DATE '2024-01-07'", "DATE '2024-01-08'"
    # dayofweek: same name, off by one
    assert _spark1(spark, f"dayofweek({sun})") == 1
    assert _duck1(duck, f"dayofweek({sun})") == 0
    assert _spark1(spark, f"dayofweek({mon})") == 2
    assert _duck1(duck, f"dayofweek({mon})") == 1
    # weekday: same name, DIFFERENT convention (not a shift — Sunday
    # maps to 6 on Spark and 0 on DuckDB)
    assert _spark1(spark, f"weekday({sun})") == 6
    assert _duck1(duck, f"weekday({sun})") == 0
    assert _spark1(spark, f"weekday({mon})") == 0
    assert _duck1(duck, f"weekday({mon})") == 1
    # dayname rendering
    assert _spark1(spark, f"dayname({sun})") == "Sun"
    assert _duck1(duck, f"dayname({sun})") == "Sunday"
    # the portable ISO recipe, across a full week (Mon 8th .. Sun
    # 14th -> 1..7)
    for i, day in enumerate(range(8, 15)):
        d = f"DATE '2024-01-{day:02d}'"
        assert _spark1(spark, f"weekday({d}) + 1") == i + 1
        assert _duck1(duck, f"isodow({d})") == i + 1


def test_week_trunc_value_agrees_type_diverges(spark, duck):
    # Both truncate a Wednesday-10th timestamp to Monday the 8th —
    # but Spark keeps TIMESTAMP while DuckDB narrows to DATE even
    # for timestamp input. Oracle twins must cast both sides to
    # TIMESTAMP (the repo-wide no-DATE-output rule). Values are
    # rendered IN-ENGINE (date_format/strftime): collecting a raw
    # LTZ timestamp hands Python a host-TZ rendering, which made the
    # naive form of this pin fail under TZ=America/New_York.
    trunc = "date_trunc('week', TIMESTAMP '2024-01-10 05:00:00')"
    assert (
        _spark1(spark, f"date_format({trunc}, 'yyyy-MM-dd HH:mm:ss')")
        == "2024-01-08 00:00:00"
    )
    assert (
        _duck1(duck, f"strftime(CAST({trunc} AS TIMESTAMP), '%Y-%m-%d %H:%M:%S')")
        == "2024-01-08 00:00:00"
    )
    # the type split itself
    assert _spark1(spark, f"typeof({trunc})") == "timestamp"
    assert _duck1(duck, f"typeof({trunc})") == "DATE"


def test_month_arithmetic_pins(spark, duck):
    """Month-end clamping AGREES in value (Jan 31 + 1 month ->
    Feb 29 on both), but DuckDB's date+interval returns TIMESTAMP
    where Spark returns DATE; and the Spark-side helpers
    (add_months, months_between, 2-arg datediff) have no DuckDB
    twin — the portable forms are `+ INTERVAL` with a TIMESTAMP
    cast and DuckDB's 3-arg datediff with FLIPPED operand order."""
    import datetime

    s = _spark1(spark, "DATE '2024-01-31' + INTERVAL 1 MONTH")
    d = _duck1(duck, "DATE '2024-01-31' + INTERVAL 1 MONTH")
    assert s == datetime.date(2024, 2, 29)
    assert d == datetime.datetime(2024, 2, 29, 0, 0)
    # Spark-only helpers
    assert _spark1(spark, "add_months(DATE '2024-01-31', 1)") == s
    assert (
        _spark1(
            spark, "months_between(DATE '2024-03-31', DATE '2024-02-29')"
        )
        == 1.0
    )
    with pytest.raises(Exception, match="add_months|Catalog"):
        _duck1(duck, "add_months(DATE '2024-01-31', 1)")
    with pytest.raises(Exception, match="months_between|Catalog"):
        _duck1(duck, "months_between(DATE '2024-03-31', DATE '2024-02-29')")
    # datediff: Spark 2-arg is (END, START); DuckDB needs the 3-arg
    # part-first form with (START, END) — operand order flips too
    assert (
        _spark1(spark, "datediff(DATE '2024-02-01', DATE '2024-01-01')")
        == 31
    )
    with pytest.raises(Exception, match="datediff|Binder|No function"):
        _duck1(duck, "datediff(DATE '2024-02-01', DATE '2024-01-01')")
    assert (
        _duck1(
            duck,
            "datediff('day', DATE '2024-01-01', DATE '2024-02-01')",
        )
        == 31
    )


def test_agreeing_date_subset(spark, duck):
    # The verified-portable subset — including the ISO week-53
    # spill-back (2021-01-01 belongs to 2020's week 53 on BOTH).
    for expr, want in [
        ("weekofyear(DATE '2024-01-01')", 1),
        ("weekofyear(DATE '2021-01-01')", 53),
        ("dayofyear(DATE '2024-03-01')", 61),  # leap-aware on both
        ("quarter(DATE '2024-05-01')", 2),
    ]:
        assert _spark1(spark, expr) == want, expr
        assert _duck1(duck, expr) == want, expr
    import datetime

    assert (
        _spark1(spark, "last_day(DATE '2024-02-10')")
        == _duck1(duck, "last_day(DATE '2024-02-10')")
        == datetime.date(2024, 2, 29)
    )
    assert (
        _spark1(spark, "date_add(DATE '2024-01-31', 1)")
        == _duck1(duck, "date_add(DATE '2024-01-31', 1)")
        == datetime.date(2024, 2, 1)
    )


def _duck_json(duck, doc: str, path: str):
    return duck.execute(
        "SELECT json_extract_string(?::JSON, ?)", [doc, path]
    ).fetchone()[0]


def _spark_json(spark, doc: str, path: str):
    quoted = doc.replace("\\", "\\\\").replace("'", "\\'")
    return _spark1(spark, f"get_json_object('{quoted}', '{path}')")


def test_split_regex_vs_literal_delimiter(spark, duck):
    """Spark's split() treats the delimiter as a REGEX; DuckDB's
    string_split treats it LITERALLY (string_split_regex is the
    regex twin). A metacharacter delimiter like '.' silently
    explodes into empties on Spark while DuckDB splits cleanly —
    same-shaped call, opposite semantics. Escaping the dot with
    backslashes inside Spark SQL string literals is its own trap
    (the literal-unescaping layer eats or doubles them depending on
    form); the escape-FREE portable recipe is a character class:
    '[.]' needs no backslash on either engine. Trailing empty
    fields are kept by both."""
    from pyspark.sql import functions as F

    df = spark.range(1)
    one = lambda c: df.select(c.alias("v")).collect()[0].v  # noqa: E731
    assert one(F.split(F.lit("a.b.c"), ".")) == ["", "", "", "", "", ""]
    assert _duck1(duck, "string_split('a.b.c', '.')") == ["a", "b", "c"]
    # the escape-free portable recipe
    assert _spark1(spark, "split('a.b.c', '[.]')") == ["a", "b", "c"]
    assert (
        _duck1(duck, "string_split_regex('a.b.c', '[.]')") == ["a", "b", "c"]
    )
    # non-metacharacter delimiters and trailing empties agree
    assert (
        _spark1(spark, "split('a,b,,', ',')")
        == _duck1(duck, "string_split('a,b,,', ',')")
        == ["a", "b", "", ""]
    )


def test_array_ops_matrix(spark, duck):
    """Array-operation portability matrix. AGREEING subset (all
    probed): 1-based array_position/list_position with 0 (not NULL)
    on a missing needle, array_contains/list_contains on NULL-free
    arrays, slice with clamping and negative starts, reverse,
    array_min/max. Two DIVERGENCES: array_distinct preserves
    first-seen order on Spark while DuckDB's list_distinct does not
    (order-normalize with list_sort before comparing), and
    array_contains over an array HOLDING a NULL uses three-valued
    logic on Spark (missing needle -> NULL, like SQL IN) while
    DuckDB's list_contains answers plain false."""
    for se, de, want in [
        ("array_position(array(10,20,30), 20)",
         "list_position([10,20,30], 20)", 2),
        ("array_position(array(10,20,30), 99)",
         "list_position([10,20,30], 99)", 0),
        ("slice(array(1,2,3,4,5), 2, 3)", "([1,2,3,4,5])[2:4]", [2, 3, 4]),
        ("slice(array(1,2,3,4,5), 4, 10)", "([1,2,3,4,5])[4:13]", [4, 5]),
        ("slice(array(1,2,3,4,5), -2, 2)", "([1,2,3,4,5])[-2:]", [4, 5]),
        ("array_min(array(3,1,2))", "list_min([3,1,2])", 1),
        ("array_max(array(3,1,2))", "list_max([3,1,2])", 3),
    ]:
        assert _spark1(spark, se) == want, se
        assert _duck1(duck, de) == want, de
    # divergence 1: distinct ordering
    assert _spark1(spark, "array_distinct(array(1,2,2,3,1))") == [1, 2, 3]
    assert sorted(_duck1(duck, "list_distinct([1,2,2,3,1])")) == [1, 2, 3]
    assert _duck1(duck, "list_sort(list_distinct([1,2,2,3,1]))") == [1, 2, 3]
    # divergence 2: three-valued contains over a NULL-holding array
    assert _spark1(spark, "array_contains(array(1,NULL,3), 9)") is None
    assert _duck1(duck, "list_contains([1,NULL,3], 9)") is False
    assert _spark1(spark, "array_contains(array(1,NULL,3), 3)") is True
    assert _duck1(duck, "list_contains([1,NULL,3], 3)") is True


def test_percentile_interpolation_formula_diverges(spark, duck):
    """Found BY the aggregate fuzz: exact interpolated percentile
    uses DIFFERENT formulas — Spark computes a + (b-a)*f, DuckDB's
    quantile_cont computes (1-f)*a + f*b. Algebraically equal, but
    float64 disagrees in the last ulp; the cleanest witness is two
    EQUAL order statistics at a non-dyadic fraction, where Spark's
    b-a term vanishes exactly while DuckDB re-rounds twice. The
    bit-exact envelope: integer-valued doubles with dyadic p (both
    formulas exact), which is what the fuzz leg uses."""
    s = _spark1(
        spark,
        "percentile(v, 0.1) FROM "
        "(SELECT explode(array(0.01D, 0.01D)) AS v)",
    )
    d = _duck1(
        duck,
        "quantile_cont(v::DOUBLE, 0.1) FROM (SELECT unnest([0.01, 0.01]) AS v)",
    )
    assert repr(float(s)) == "0.01"
    assert repr(float(d)) == "0.010000000000000002"
    # the agreeing envelope: integers + dyadic p
    s = _spark1(
        spark,
        "percentile(v, 0.75) FROM "
        "(SELECT explode(array(1D, 2D, 10D, 11D)) AS v)",
    )
    d = _duck1(
        duck,
        "quantile_cont(v::DOUBLE, 0.75) FROM "
        "(SELECT unnest([1, 2, 10, 11]) AS v)",
    )
    assert float(s) == float(d) == 10.25


def test_numeric_to_int_cast_diverges(spark, duck):
    """Numeric-to-integer CAST is NOT portable. Spark (non-ANSI, the
    mode every registered query pins — registry.py:54) TRUNCATES
    toward zero; DuckDB ROUNDS — half-away-from-zero for DECIMAL
    sources but half-EVEN for DOUBLE sources (2.5 DECIMAL -> 3,
    2.5 DOUBLE -> 2). Portable forms: floor()/ceil()/round() the
    value explicitly before casting, or keep integer arithmetic
    (x div y) that never creates a fraction."""
    for lit, spark_want, duck_want in [
        ("1.5", 1, 2),
        ("2.5", 2, 3),  # decimal: DuckDB half-away
        ("-1.5", -1, -2),
        ("1.9", 1, 2),
    ]:
        assert _spark1(spark, f"CAST({lit} AS INT)") == spark_want
        assert _duck1(duck, f"CAST({lit} AS INT)") == duck_want
    # double source: DuckDB switches to half-EVEN
    assert _spark1(spark, "CAST(CAST(2.5 AS DOUBLE) AS INT)") == 2
    assert _duck1(duck, "CAST(CAST(2.5 AS DOUBLE) AS INT)") == 2
    assert _spark1(spark, "CAST(CAST(1.5 AS DOUBLE) AS INT)") == 1
    assert _duck1(duck, "CAST(CAST(1.5 AS DOUBLE) AS INT)") == 2
    # agreeing portable form
    assert (
        _spark1(spark, "CAST(floor(2.5) AS INT)")
        == _duck1(duck, "CAST(floor(2.5) AS INT)")
        == 2
    )


def test_string_and_overflow_cast_pins(spark, duck):
    """TRY_CAST of a FRACTIONAL STRING to INT is NULL on Spark but
    parsed-and-rounded on DuckDB; integer overflow in a narrowing
    CAST silently WRAPS on non-ANSI Spark but raises on DuckDB
    (TRY_CAST gives NULL). The agreeing subset: whitespace-padded
    integer strings, '' and garbage -> NULL, out-of-range integer
    STRINGS -> NULL on both."""
    assert _spark1(spark, "TRY_CAST('1.5' AS INT)") is None
    assert _duck1(duck, "TRY_CAST('1.5' AS INT)") == 2
    assert _spark1(spark, "CAST(CAST(300 AS INT) AS TINYINT)") == 44
    with pytest.raises(Exception, match="Conversion|out of range"):
        _duck1(duck, "CAST(CAST(300 AS INT) AS TINYINT)")
    assert _duck1(duck, "TRY_CAST(CAST(300 AS INT) AS TINYINT)") is None
    for e, want in [
        ("TRY_CAST(' 7 ' AS INT)", 7),
        ("TRY_CAST('' AS INT)", None),
        ("TRY_CAST('abc' AS INT)", None),
        ("TRY_CAST('2147483648' AS INT)", None),
        ("CAST(TRUE AS INT)", 1),
        ("TRY_CAST('true' AS BOOLEAN)", True),
    ]:
        assert _spark1(spark, e) == want, e
        assert _duck1(duck, e) == want, e


def test_default_null_sort_order_diverges(spark, duck):
    """The most load-bearing divergence in the repo (guarded at
    curation.py:302,366 and advanced.py:858,1601 among others):
    ASC ORDER BY defaults to NULLS FIRST on Spark but NULLS LAST on
    DuckDB (and mirror-image for DESC). Any window ORDER BY or
    LIMIT query over a nullable key must write the NULLS placement
    explicitly on at least one side."""
    rows = [(1, 10), (2, None), (3, 5)]
    df = spark.createDataFrame(rows, "id int, v int")
    df.createOrReplaceTempView("_nullsort")
    spark_ids = [
        r.id
        for r in spark.sql(
            "SELECT id FROM _nullsort ORDER BY v ASC"
        ).collect()
    ]
    assert spark_ids == [2, 3, 1]  # NULL first
    duck_ids = [
        i
        for (i,) in duck.execute(
            "SELECT id FROM (SELECT unnest([1,2,3]) AS id, "
            "unnest([10, NULL, 5]) AS v) ORDER BY v ASC"
        ).fetchall()
    ]
    assert duck_ids == [3, 1, 2]  # NULL last
    # explicit placement restores portability
    spark_ids = [
        r.id
        for r in spark.sql(
            "SELECT id FROM _nullsort ORDER BY v ASC NULLS LAST"
        ).collect()
    ]
    assert spark_ids == duck_ids
    spark.catalog.dropTempView("_nullsort")


def test_least_greatest_nan_agreements(spark, duck):
    """Verified AGREEMENTS folklore says should diverge:
    least/greatest skip NULLs on both engines (all-NULL -> NULL);
    NaN sorts greater than every double on both (so greatest picks
    it and least avoids it); and SQL equality NaN = NaN is TRUE on
    both (unlike IEEE). One quirk stays: DuckDB types a BARE null
    argument as INTEGER, so least('b','a',NULL) is a conversion
    error there — write CAST(NULL AS VARCHAR) in mixed-type args."""
    for e, want in [
        ("least(1, NULL)", 1),
        ("greatest(1, NULL)", 1),
        ("least(CAST(NULL AS INT), CAST(NULL AS INT))", None),
        ("least(1.0, CAST('NaN' AS DOUBLE))", 1.0),
        ("CAST('NaN' AS DOUBLE) = CAST('NaN' AS DOUBLE)", True),
        ("CAST('NaN' AS DOUBLE) > 1e308", True),
    ]:
        assert _spark1(spark, e) == want, e
        assert _duck1(duck, e) == want, e
    import math

    assert math.isnan(
        _spark1(spark, "greatest(1.0, CAST('NaN' AS DOUBLE))")
    ) and math.isnan(_duck1(duck, "greatest(1.0, CAST('NaN' AS DOUBLE))"))
    assert _spark1(spark, "least('b', 'a', NULL)") == "a"
    with pytest.raises(Exception, match="Conversion|convert"):
        _duck1(duck, "least('b', 'a', NULL)")
    assert _duck1(duck, "least('b', 'a', CAST(NULL AS VARCHAR))") == "a"


def test_regexp_replace_all_vs_first(spark, duck):
    """Spark's regexp_replace replaces ALL occurrences; DuckDB's
    replaces only the FIRST unless the 'g' flag is passed. The
    portable oracle form always writes the explicit 'g'."""
    assert _spark1(spark, "regexp_replace('aaa', 'a', 'b')") == "bbb"
    assert _duck1(duck, "regexp_replace('aaa', 'a', 'b')") == "baa"
    assert _duck1(duck, "regexp_replace('aaa', 'a', 'b', 'g')") == "bbb"


def test_regexp_replacement_backref_dialects(spark, duck):
    """Replacement-string group references use Java's '$n' on Spark
    but RE2's '\\n' on DuckDB — and each engine treats the OTHER
    dialect as (near-)literal text rather than erroring, so a
    mistranslated twin silently produces garbage. Replacements in
    oracle twins must be literal text, or translated per dialect."""
    assert _spark1(spark, r"regexp_replace('ab', '(a)(b)', '$2$1')") == "ba"
    assert (
        _duck1(duck, r"regexp_replace('ab', '(a)(b)', '$2$1', 'g')")
        == "$2$1"
    )
    assert _duck1(duck, "regexp_replace('ab', '(a)(b)', '\\2\\1', 'g')") == "ba"
    # Spark reads backslash-n as the literal digit ('21'), not a ref
    assert _spark1(spark, r"regexp_replace('ab', '(a)(b)', '\\2\\1')") == "21"


def test_epoch_seconds_floor_vs_round(spark, duck):
    """Found by the timestamp fuzz: Spark's unix_timestamp TRUNCATES
    fractional seconds (floor), while DuckDB's epoch() returns a
    DOUBLE whose BIGINT cast ROUNDS half-up — the naive twin is off
    by one on any ts with fraction >= .5. The portable oracle form
    is CAST(floor(epoch(ts)) AS BIGINT); epoch of a DATE is always
    integral, so the bare cast is safe there (relational.py:917)."""
    ts = "TIMESTAMP '2024-01-01 00:00:58.778'"
    assert _spark1(spark, f"unix_timestamp({ts})") == 1704067258
    assert _duck1(duck, f"CAST(epoch({ts}) AS BIGINT)") == 1704067259
    assert _duck1(duck, f"CAST(floor(epoch({ts})) AS BIGINT)") == 1704067258


def test_json_number_rendering_diverges(spark, duck):
    """Both engines re-render extracted JSON numbers through their
    double-to-string routine, so the CAST(double AS STRING) rendering
    divergence leaks into JSON extraction: Spark goes scientific at
    magnitude >= 1e7 or < 1e-3, DuckDB writes shortest decimal.
    In-range short decimals agree (both normalize 1.50 -> 1.5)."""
    assert _spark_json(spark, '{"a": 10000000.0}', "$.a") == "1.0E7"
    assert _duck_json(duck, '{"a": 10000000.0}', "$.a") == "10000000.0"
    assert _spark_json(spark, '{"a": 0.0001}', "$.a") == "1.0E-4"
    assert _duck_json(duck, '{"a": 0.0001}', "$.a") == "0.0001"
    for doc, want in [
        ('{"a": 2.0}', "2.0"),
        ('{"a": 1.50}', "1.5"),
        ('{"a": 123456.789}', "123456.789"),
    ]:
        assert _spark_json(spark, doc, "$.a") == want
        assert _duck_json(duck, doc, "$.a") == want


def test_json_bigint_beyond_int64_diverges(spark, duck):
    # Spark (Jackson) keeps an arbitrary-precision integer as
    # integer text; DuckDB parses it to a double and renders '...0'.
    doc = '{"a": 100000000000000000000}'
    assert _spark_json(spark, doc, "$.a") == "100000000000000000000"
    assert _duck_json(duck, doc, "$.a") == "100000000000000000000.0"
    # int64-range integers agree
    doc = '{"a": 12345678901234567}'
    assert (
        _spark_json(spark, doc, "$.a")
        == _duck_json(duck, doc, "$.a")
        == "12345678901234567"
    )


def test_json_null_array_element_diverges(spark, duck):
    """Found BY the JSON fuzz: extracting a JSON null through an
    ARRAY INDEX returns the literal text 'null' on Spark but SQL
    NULL on DuckDB — while FIELD access of the same JSON null is
    SQL NULL on both, and re-rendering a container keeps the token
    on both. Arrays holding nulls are out of the portable envelope
    (and 'null' is ambiguous with the honest string "null" on the
    Spark side, so it cannot be normalized away)."""
    assert _spark_json(spark, '{"a": [1, null]}', "$.a[1]") == "null"
    assert _duck_json(duck, '{"a": [1, null]}', "$.a[1]") is None
    # field access: SQL NULL on both
    assert _spark_json(spark, '{"a": {"b": null}}', "$.a.b") is None
    assert _duck_json(duck, '{"a": {"b": null}}', "$.a.b") is None
    # container re-render keeps the token on both
    assert (
        _spark_json(spark, '{"a": [null]}', "$.a")
        == _duck_json(duck, '{"a": [null]}', "$.a")
        == "[null]"
    )


def test_json_malformed_doc_null_vs_error(spark, duck):
    # Spark returns NULL for an unparseable document; DuckDB's JSON
    # cast RAISES — an oracle twin over dirty JSON must TRY_CAST.
    assert _spark_json(spark, "not json", "$.a") is None
    with pytest.raises(Exception, match="Malformed JSON|Conversion"):
        _duck_json(duck, "not json", "$.a")
    assert (
        duck.execute(
            "SELECT json_extract_string("
            "TRY_CAST('not json' AS JSON), '$.a')"
        ).fetchone()[0]
        is None
    )


@pytest.mark.parametrize(
    "lit, nd, expect_spark, expect_duck",
    [
        # the DIVERGENT class: shortest repr ends in 5 at the target
        # digit while the binary value sits just below the half —
        # Spark rounds the repr up, DuckDB keeps the binary value
        ("1.005", 2, 1.01, 1.0),
        ("0.145", 2, 0.15, 0.14),
        ("1.015", 2, 1.02, 1.01),
        # the AGREEING class — including classic poison values that
        # make spot-checks falsely "prove" portability
        ("0.25", 1, 0.3, 0.3),
        ("0.35", 1, 0.4, 0.4),
        ("2.675", 2, 2.68, 2.68),
        ("8.445", 2, 8.45, 8.45),
        ("-2.5", 0, -3.0, -3.0),
        ("2.5", 0, 3.0, 3.0),
    ],
)
def test_round_double_boundary_pins(spark, duck, lit, nd, expect_spark, expect_duck):
    """Bare round(double, n) is NOT portable: Spark rounds the
    shortest-decimal-repr half-up, DuckDB disagrees on part of the
    boundary set — each engine's answer pinned explicitly."""
    s = _spark1(spark, f"round(CAST({lit} AS DOUBLE), {nd})")
    d = _duck1(duck, f"round(CAST({lit} AS DOUBLE), {nd})")
    assert repr(float(s)) == repr(expect_spark), (lit, nd, s)
    assert repr(float(d)) == repr(expect_duck), (lit, nd, d)


def test_listagg_multi_distinct_crash(spark, duck):
    """UPSTREAM SPARK 4.1.2 BUG (found by the round-11 differential
    fuzz): native `listagg(...) WITHIN GROUP (ORDER BY ...)` combined
    with >= 2 DISTINCT aggregates in the same aggregation crashes the
    optimizer — RewriteDistinctAggregates casts ListAgg's SortOrder
    child to AttributeReference and throws ClassCastException. The
    engine therefore renders ordered string aggregation via
    concat_ws(array_sort(collect_list())) (q_collect_sorted's
    pattern, also the fuzz harness's `lagg` leg), which survives the
    rewrite. This pin holds the bug in its verified direction: if a
    future Spark release fixes (or worsens) it, this test fails and
    the native rendering can be reconsidered."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW lagg_pin AS "
        "SELECT * FROM VALUES ('A','O'),('N','F'),('R','O') AS t(a,b)"
    )
    crash_sql = (
        "SELECT count(DISTINCT a) AS na, count(DISTINCT b) AS nb, "
        "listagg(b, '|') WITHIN GROUP (ORDER BY b) AS lb FROM lagg_pin"
    )
    with pytest.raises(Exception) as ei:
        spark.sql(crash_sql).collect()
    msg = str(ei.value)
    assert "ClassCastException" in msg and "SortOrder" in msg, msg
    # ONE distinct + listagg is inside the working envelope (the
    # rewrite rule only fires on multi-distinct plans)
    [(na, lb)] = spark.sql(
        "SELECT count(DISTINCT a) AS na, "
        "listagg(b, '|') WITHIN GROUP (ORDER BY b) AS lb FROM lagg_pin"
    ).collect()
    assert (na, lb) == (3, "F|O|O")
    # the portable rendering survives the multi-distinct rewrite and
    # matches DuckDB's string_agg bit-for-bit, including the
    # all-NULL -> NULL guard (concat_ws over empty array is '')
    [(na, nb, lb, empty)] = spark.sql(
        "SELECT count(DISTINCT a) AS na, count(DISTINCT b) AS nb, "
        "CASE WHEN count(b) = 0 THEN NULL "
        "ELSE concat_ws('|', array_sort(collect_list(b))) END AS lb, "
        "CASE WHEN count(CASE WHEN false THEN b END) = 0 THEN NULL "
        "ELSE 'x' END AS empty FROM lagg_pin"
    ).collect()
    d = duck.execute(
        "SELECT string_agg(b, '|' ORDER BY b) AS lb, "
        "string_agg(CASE WHEN false THEN b END, '|') AS empty "
        "FROM (VALUES ('A','O'),('N','F'),('R','O')) t(a,b)"
    ).fetchone()
    assert (na, nb) == (3, 2)
    assert lb == d[0] == "F|O|O"
    assert empty is None and d[1] is None


def test_duckdb_ordered_stringagg_rollup_subtotal_unordered(spark, duck):
    """UPSTREAM DUCKDB 1.0 DIVERGENCE (found by the round-12 grid
    fuzz's first explicit example): under a MULTI-KEY rollup/cube,
    `string_agg(x, sep ORDER BY x)` silently DROPS its ORDER BY on
    the subtotal rows (gid > 0) — the super-aggregate levels are
    built by re-aggregating the leaf groups without re-sorting, so
    the concatenation comes out in row order (deterministic on fixed
    data: verified identical across reps and threads=1/4). Leaf rows
    (gid = 0) and single-key rollups stay correctly sorted. Spark's
    portable rendering (concat_ws over array_sort(collect_list))
    sorts at every grid level. The portable oracle recipe under a
    grid is therefore order-insensitive by construction:
    array_to_string(list_sort(list(x)), sep). This pin holds the
    divergence in its verified direction — if a future DuckDB sorts
    subtotal rows too, it fails and the plain string_agg oracle can
    be reconsidered."""
    rows = duck.execute(
        "SELECT grouping_id(l_returnflag, l_linestatus) AS gid, "
        "string_agg(l_linestatus, '|' ORDER BY l_linestatus) AS s, "
        "array_to_string(list_sort(list(l_linestatus)), '|') AS srt "
        "FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)"
    ).fetchall()
    leaf = [s for gid, s, _ in rows if gid == 0]
    subtotal = [s for gid, s, _ in rows if gid > 0]
    assert leaf and subtotal
    # leaves honor the ORDER BY ...
    assert all(s == "|".join(sorted(s.split("|"))) for s in leaf)
    # ... subtotals do NOT (the verified direction of the bug)
    assert any(s != "|".join(sorted(s.split("|"))) for s in subtotal)
    # the order-insensitive rendering is sorted at EVERY level and
    # token-multiset-identical to the string_agg output
    for gid, s, srt in rows:
        assert srt == "|".join(sorted(srt.split("|")))
        assert sorted(s.split("|")) == sorted(srt.split("|"))
    # Spark's portable rendering agrees with the sorted form on the
    # full grid (value check via the driver comparator is the grid
    # fuzz's job; here: same number of rows, all sorted)
    got = spark.sql(
        "SELECT grouping_id(l_returnflag, l_linestatus) AS gid, "
        "concat_ws('|', array_sort(collect_list(l_linestatus))) AS s "
        f"FROM parquet.`{SF_SMALL}/lineitem.parquet` "
        "GROUP BY ROLLUP(l_returnflag, l_linestatus)"
    ).collect()
    assert len(got) == len(rows)
    assert all(r.s == "|".join(sorted(r.s.split("|"))) for r in got)


def test_regexp_replace_nullable_pattern_diverges(spark, duck):
    """NULLABLE regex patterns (ones that match the empty string) are
    OUT of the portable regexp_replace envelope (found by the
    round-12 regexp fuzz): after replacing a final non-empty match,
    Java's appendReplacement loop ALSO substitutes the zero-length
    match at the end position, while RE2's GlobalReplace skips an
    empty match that immediately follows a previous match. Matching
    (RLIKE/regexp_matches) and extraction of the FIRST match agree —
    only global replacement diverges. Each engine's answer pinned in
    its verified direction."""
    assert _spark1(spark, "regexp_replace('0', '0?', 'Z')") == "ZZ"
    assert _duck1(duck, "regexp_replace('0', '0?', 'Z', 'g')") == "Z"
    # interior empty matches agree (both advance one char per empty
    # match between non-matches); it is specifically the
    # after-final-match position that splits
    assert _spark1(spark, "regexp_replace('ab', '0?', 'Z')") == "ZaZbZ"
    assert _duck1(duck, "regexp_replace('ab', '0?', 'Z', 'g')") == "ZaZbZ"
    # match + first-extract stay portable on nullable patterns
    assert _spark1(spark, "'0' RLIKE '0?'") is True
    assert _duck1(duck, "regexp_matches('0', '0?')") is True
    assert _spark1(spark, "regexp_extract('0', '0?', 0)") == "0"
    assert _duck1(duck, "regexp_extract('0', '0?', 0)") == "0"
    # NON-nullable patterns with the same shape replace identically
    assert _spark1(spark, "regexp_replace('a0b0', '0', 'Z')") == "aZbZ"
    assert _duck1(duck, "regexp_replace('a0b0', '0', 'Z', 'g')") == "aZbZ"


def test_float_special_grouping_and_ordering_agree(spark, duck):
    """Float specials in GROUP BY / ORDER BY are PORTABLE: both
    engines group NaN with NaN (including the negative-payload NaN)
    and -0.0 with +0.0, and both sort ascending as
    -inf < finite < +inf < NaN. Pinned because each is a documented
    per-engine special case (Spark normalizes -0.0 and canonicalizes
    NaN in grouping keys; DuckDB totally orders doubles) that happens
    to land on the same answer — a future engine upgrade breaking
    either side should fail HERE, not in a registered query."""
    dvals = ("(CAST('NaN' AS DOUBLE)), (CAST('-NaN' AS DOUBLE)), "
             "(CAST('Infinity' AS DOUBLE)), (CAST('-Infinity' AS DOUBLE)), "
             "(CAST('-0.0' AS DOUBLE)), (CAST('0.0' AS DOUBLE)), (1.5)")
    svals = ("(CAST('NaN' AS DOUBLE)), (CAST('-NaN' AS DOUBLE)), "
             "(CAST('Infinity' AS DOUBLE)), (CAST('-Infinity' AS DOUBLE)), "
             "(-0.0D), (0.0D), (1.5D)")
    q = "SELECT COUNT(*) AS n FROM (VALUES {v}) t(x) GROUP BY x ORDER BY n"
    duck_counts = [r[0] for r in duck.execute(q.format(v=dvals)).fetchall()]
    spark_counts = [
        r[0] for r in spark.sql(q.format(v=svals)).collect()
    ]
    # five groups: NaN-pair, zero-pair, and the three singletons
    assert duck_counts == spark_counts == [1, 1, 1, 2, 2]
    oq = ("SELECT CASE WHEN isnan(x) THEN 'nan' ELSE CAST(x AS VARCHAR) "
          "END AS s FROM (VALUES {v}) t(x) ORDER BY x")
    duck_order = [r[0] for r in duck.execute(oq.format(v=dvals)).fetchall()]
    # NaN sorts GREATEST ascending on both engines (past +inf)
    assert duck_order[-2:] == ["nan", "nan"]
    assert duck_order[0] == "-inf"
    spark_order = [
        r[0]
        for r in spark.sql(
            "SELECT CASE WHEN isnan(x) THEN 'nan' ELSE CAST(x AS STRING) "
            f"END AS s FROM (VALUES {svals}) t(x) ORDER BY x"
        ).collect()
    ]
    assert spark_order[-2:] == ["nan", "nan"]
    assert spark_order[0] == "-Infinity"


def test_negative_zero_literal_diverges(spark, duck):
    """The literal ``-0.0`` is NOT portable as an output value: in
    DuckDB it parses as DECIMAL (which has no signed zero) and casts
    to +0.0, while Spark's -0.0D is IEEE negative zero — so an
    expression that can produce -0.0 renders differently through the
    comparator ('-0.0' vs '0.0'). DuckDB DOES preserve a true double
    -0.0 when built via CAST from VARCHAR. The house rule (already
    applied in q_weighted_sample): add ``+ 0.0`` to any output that
    can round to zero from below — IEEE addition normalizes -0.0 to
    +0.0 identically on both engines."""
    import math

    assert math.copysign(1.0, _duck1(duck, "-0.0")) == 1.0  # decimal
    assert (
        math.copysign(1.0, _duck1(duck, "CAST('-0.0' AS DOUBLE)")) == -1.0
    )
    assert math.copysign(1.0, _spark1(spark, "-0.0D")) == -1.0
    # the normalizer lands both engines on +0.0
    assert math.copysign(
        1.0, _duck1(duck, "CAST('-0.0' AS DOUBLE) + 0.0")
    ) == 1.0
    assert math.copysign(1.0, _spark1(spark, "-0.0D + 0.0D")) == 1.0


def test_duckdb_interval_cse_folds_normalized_equal_intervals(spark, duck):
    """DuckDB 1.0's subexpression elimination compares interval
    constants by 30-day-month NORMALIZED value (``INTERVAL 1 MONTH =
    INTERVAL 30 DAY`` is TRUE), so adding two normalization-equal
    intervals to the SAME column in one statement unifies them into
    ONE expression: both output columns silently carry whichever was
    listed FIRST. Each addition alone is correct, and constant-only
    operands fold before CSE and stay correct — the trap needs a real
    column. Spark computes both correctly (and refuses to even
    compare a year-month interval to a day-time interval). Oracle
    rule (q_date_funcs ships the 91-day workaround): keep the
    interval constants of one statement value-distinct under 30-day
    normalization. The date-exprs fuzz excludes colliding
    (adddays n, addmonths m) draws with n == 30*m for this reason."""
    import datetime

    # the normalization that seeds the bug
    assert _duck1(duck, "INTERVAL 1 MONTH = INTERVAL 30 DAY") is True
    # over a column the FIRST expression wins both outputs — either order
    r = duck.execute(
        "SELECT d + INTERVAL 30 DAY, d + INTERVAL 1 MONTH"
        " FROM (SELECT DATE '1995-01-01' AS d)"
    ).fetchone()
    assert r[0] == r[1] == datetime.datetime(1995, 1, 31)  # +1 MONTH lost
    r = duck.execute(
        "SELECT d + INTERVAL 1 MONTH, d + INTERVAL 30 DAY"
        " FROM (SELECT DATE '1995-01-01' AS d)"
    ).fetchone()
    assert r[0] == r[1] == datetime.datetime(1995, 2, 1)  # +30 DAY lost
    # alone, each is correct
    assert duck.execute(
        "SELECT d + INTERVAL 30 DAY FROM (SELECT DATE '1995-01-01' AS d)"
    ).fetchone()[0] == datetime.datetime(1995, 1, 31)
    # constant-only operands fold before CSE and stay correct
    r = duck.execute(
        "SELECT DATE '1995-01-01' + INTERVAL 30 DAY,"
        " DATE '1995-01-01' + INTERVAL 1 MONTH"
    ).fetchone()
    assert (r[0], r[1]) == (
        datetime.datetime(1995, 1, 31),
        datetime.datetime(1995, 2, 1),
    )
    # Spark: both correct over a column; the comparison is a type error
    srow = spark.sql(
        "SELECT d + INTERVAL 30 DAY, d + INTERVAL 1 MONTH"
        " FROM (SELECT DATE '1995-01-01' AS d)"
    ).collect()[0]
    assert srow[0] == datetime.date(1995, 1, 31)
    assert srow[1] == datetime.date(1995, 2, 1)
    with pytest.raises(Exception, match="DATATYPE_MISMATCH|data type"):
        spark.sql("SELECT INTERVAL 1 MONTH = INTERVAL 30 DAY").collect()
