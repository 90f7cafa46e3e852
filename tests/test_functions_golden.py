"""Golden-style scalar-function tests — pytest ports of the
reference's function scenarios (tests/scenarios/functions/*.in):
same inputs, expected outputs asserted against OUR engine through the
SQL front-end. Each test names the scenario it mirrors."""

from __future__ import annotations

import pytest

from octosql_spark.sql import run_query


def row(spark, sql):
    return run_query(spark, sql).df.collect()[0]


# ----------------------------------------------------- arithmetic.in

def test_arithmetic_numeric(spark):
    r = row(spark, "SELECT 1 + 2 AS a, 1.0 + 2.0 AS b, 1 - 2 AS c, "
                   "-2 AS d, 7 * 3 AS e, 7 / 3 AS f, 7.0 / 3.5 AS g")
    assert (r.a, r.b, r.c, r.d, r.e) == (3, 3.0, -1, -2, 21)
    assert r.f == 2          # Int/Int is integer division in the reference
    assert r.g == 2.0


def test_arithmetic_strings(spark):
    # 'test1' + 'test2' → concat; 'test1' * 3 → repeat (functions.go:156-319)
    r = row(spark, "SELECT 'test1' + 'test2' AS c, 'ab' * 3 AS r, "
                   "3 * 'ab' AS r2")
    assert (r.c, r.r, r.r2) == ("test1test2", "ababab", "ababab")


def test_arithmetic_time(spark):
    r = row(spark, "SELECT time_to_unix(time_from_unix(1655931949) "
                   "+ INTERVAL 2 SECONDS) AS a, "
                   "time_to_unix(time_from_unix(1655931949) "
                   "- INTERVAL 2 SECONDS) AS b")
    assert r.a == 1655931951 and r.b == 1655931947


# ---------------------------------------------------- comparators.in

def test_comparators(spark):
    r = row(spark, "SELECT 1 < 2 AS a, 2 <= 2 AS b, 2 = 2 AS c, "
                   "2 != 3 AS d, 3 >= 2 AS e, 'a' < 'b' AS f")
    assert all([r.a, r.b, r.c, r.d, r.e, r.f])


# ---------------------------------------------------- conversions.in

def test_conversions(spark):
    r = row(spark, "SELECT int(true) AS t, int(false) AS f")
    assert (r.t, r.f) == (1, 0)
    r2 = row(spark, "SELECT int('42') AS a, int('4.2') AS b, int('x') AS c, "
                    "float('4.2') AS d, string(42) AS e")
    assert r2.a == 42 and r2.c is None
    assert r2.d == 4.2 and r2.e == "42"


# ------------------------------------------------------------- in.in

def test_in_lists(spark):
    r = row(spark, "SELECT 4 IN (1,2,3,4,5) AS a, 4 IN (1,2,3,5) AS b, "
                   "4 NOT IN (1,2,3,4,5) AS c, 4 NOT IN (1,2,3,5) AS d")
    assert (r.a, r.b, r.c, r.d) == (True, False, False, True)


# -------------------------------------------------------- is_null.in

def test_is_null(spark):
    r = row(spark, "SELECT NULL IS NULL AS a, 1 IS NULL AS b, "
                   "NULL IS NOT NULL AS c, 1 IS NOT NULL AS d")
    assert (r.a, r.b, r.c, r.d) == (True, False, False, True)


# ---------------------------------------------------------- logic.in

def test_three_valued_logic(spark):
    r = row(spark, "SELECT (true AND NULL) IS NULL AS a, "
                   "(false AND NULL) = false AS b, "
                   "(true OR NULL) = true AS c, "
                   "(false OR NULL) IS NULL AS d, NOT true = false AS e")
    assert all([r.a, r.b, r.c, r.d, r.e])


# ----------------------------------------------------------- math.in

def test_math(spark):
    r = row(spark, "SELECT abs(-3) AS a, sqrt(16.0) AS b, ceil(1.2) AS c, "
                   "floor(1.8) AS d, log2(8.0) AS e, log10(100.0) AS f, "
                   "pow(2.0, 10.0) AS g")
    assert (r.a, r.b, r.c, r.d, r.e, r.f, r.g) == \
        (3, 4.0, 2, 1, 3.0, 2.0, 1024.0)


# ---------------------------------------------------------- panic.in

def test_panic(spark):
    df = run_query(spark, "SELECT panic('boom')").df
    with pytest.raises(Exception, match="boom"):
        df.collect()


# -------------------------------------------------------- strings.in

def test_strings_like(spark):
    r = row(spark, "SELECT 'test' LIKE '%es%' AS a, 'test' LIKE 'es' AS b, "
                   "'test' LIKE 'tes%' AS c, 'test' LIKE '%est' AS d, "
                   "'test' LIKE 't_st' AS e, 'test' LIKE 't_t' AS f")
    assert (r.a, r.b, r.c, r.d, r.e, r.f) == \
        (True, False, True, True, True, False)


def test_strings_regex_ops(spark):
    r = row(spark, "SELECT 'test' ~ '^te.*' AS a, 'test' ~ '^tE.*' AS b, "
                   "'test' !~ '^te.*' AS c, 'test' ~* '^tE.*' AS d, "
                   "'test' !~* '^tE.*' AS e")
    assert (r.a, r.b, r.c, r.d, r.e) == (True, False, False, True, False)


def test_strings_functions(spark):
    # substr is 0-based (golden strings.out: substr('test',1)='est');
    # position(haystack, needle) is 0-based, NULL when absent
    # (golden strings.out: position('test','es')=1, absent→<null>).
    r = row(spark, "SELECT upper('tESt') AS up, lower('tESt') AS lo, "
                   "reverse('abc') AS rev, substr('hello', 2, 3) AS sub, "
                   "substr('test', 1) AS sub2, "
                   "replace('aXbXc', 'X', '-') AS rep, "
                   "position('test', 'es') AS pos, "
                   "position('test', 'zz') AS pos_absent, len('hello') AS ln")
    assert (r.up, r.lo, r.rev, r.sub, r.sub2, r.rep, r.ln) == \
        ("TEST", "test", "cba", "llo", "est", "a-b-c", 5)
    assert r.pos == 1 and r.pos_absent is None


def test_list_indexing_zero_based(spark):
    # functions.go:1014-1042 — 0-based, out-of-range → NULL
    r = row(spark, "SELECT array(10, 20, 30)[0] AS a, "
                   "array(10, 20, 30)[2] AS b, array(10, 20, 30)[9] AS c")
    assert (r.a, r.b, r.c) == (10, 30, None)
