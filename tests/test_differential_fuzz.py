"""Differential fuzzing of the SQL front-end: hypothesis generates
random expressions as (dialect, duckdb) renderings BY CONSTRUCTION,
runs both engines over the same table, and compares values — the
transpiler's overload rewrites (string +/*, int division, 0-based
substr/len) are exactly what this exercises."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

NATION = "/root/testdata/sf0.001/nation.parquet"

# long-sweep knob (round checklist): SPARK_GRAFT_FUZZ_EXAMPLES=400
# python -m pytest tests/test_differential_fuzz.py
import os as _os
_N = int(_os.environ.get("SPARK_GRAFT_FUZZ_EXAMPLES", "0"))



@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute(f"CREATE VIEW nation AS SELECT * FROM '{NATION}'")
    return con


@pytest.fixture(scope="module")
def nation_view(spark):
    from octosql_spark.sources import read_file
    read_file(spark, NATION).createOrReplaceTempView("nation")
    return "nation"


# Expression nodes: (dialect_sql, duckdb_sql). Ints stay non-negative
# by construction so dialect DIV (truncating, like the reference's Go
# division) and DuckDB // (flooring) agree.

def _ints(depth: int) -> st.SearchStrategy:
    atoms = st.one_of(
        st.integers(0, 9).map(lambda n: (str(n), str(n))),
        st.sampled_from([("n_nationkey", "CAST(n_nationkey AS BIGINT)"),
                         ("n_regionkey", "CAST(n_regionkey AS BIGINT)")]),
    )
    if depth == 0:
        return atoms
    sub = _ints(depth - 1)
    return st.one_of(
        atoms,
        st.tuples(sub, sub).map(
            lambda p: (f"({p[0][0]} + {p[1][0]})", f"({p[0][1]} + {p[1][1]})")),
        st.tuples(sub, st.integers(1, 9)).map(
            lambda p: (f"({p[0][0]} / {p[1]})", f"({p[0][1]} // {p[1]})")),
        _strs(depth - 1).map(
            lambda s: (f"len({s[0]})", f"CAST(length({s[1]}) AS INT)")),
        st.sampled_from(["7", "42"]).map(
            lambda s: (f"'{s}'::int", f"'{s}'::BIGINT")),
        # CASE / COALESCE / NULLIF are front-end constructs, not
        # registry functions — fuzz them through the transpiler (the
        # condition is an inline int comparison: _bools here would
        # recurse back into _ints(1) while strategies construct). The
        # dialect side is drawn bare or parenthesized: a bare CASE must
        # be one operand of the operator around it
        st.tuples(sub, sub, sub, sub, st.booleans()).map(
            lambda t: ((f"CASE WHEN {t[0][0]} >= {t[1][0]} THEN {t[2][0]}"
                        f" ELSE {t[3][0]} END") if t[4] else
                       (f"(CASE WHEN {t[0][0]} >= {t[1][0]} THEN {t[2][0]}"
                        f" ELSE {t[3][0]} END)"),
                       f"(CASE WHEN {t[0][1]} >= {t[1][1]} THEN {t[2][1]}"
                       f" ELSE {t[3][1]} END)")),
        st.tuples(sub, sub, sub).map(
            lambda t: (f"coalesce(nullif({t[0][0]}, {t[1][0]}), {t[2][0]})",
                       f"coalesce(nullif({t[0][1]}, {t[1][1]}), {t[2][1]})")),
        st.tuples(sub, sub).map(
            lambda p: (f"abs({p[0][0]} - {p[1][0]})",
                       f"abs({p[0][1]} - {p[1][1]})")),
        # 0-based position, NULL when absent (functions.go:757-772)
        st.tuples(_strs(depth - 1), st.sampled_from(["a", "N", "zz"])).map(
            lambda p: (f"position({p[0][0]}, '{p[1]}')",
                       f"(CASE WHEN strpos({p[0][1]}, '{p[1]}') = 0 "
                       f"THEN NULL ELSE CAST(strpos({p[0][1]}, '{p[1]}')"
                       f" AS INT) - 1 END)")),
        # scalar subquery: the category-propagation logic must treat
        # its result as an Int operand (e.g. for / overloads above)
        st.sampled_from(["n_nationkey", "n_regionkey"]).map(
            lambda c: (
                f"(SELECT min({c}) FROM nation WHERE {c} >= 3)",
                f"(SELECT CAST(min({c}) AS BIGINT) FROM nation "
                f"WHERE {c} >= 3)")),
    )


def _strs(depth: int) -> st.SearchStrategy:
    atoms = st.one_of(
        st.sampled_from(["abc", "x", "Hello"]).map(
            lambda s: (f"'{s}'", f"'{s}'")),
        st.just(("n_name", "n_name")),
    )
    if depth == 0:
        return atoms
    sub = _strs(depth - 1)
    return st.one_of(
        atoms,
        st.tuples(sub, sub).map(
            lambda p: (f"({p[0][0]} + {p[1][0]})", f"({p[0][1]} || {p[1][1]})")),
        st.tuples(sub, st.integers(0, 3)).map(
            lambda p: (f"({p[0][0]} * {p[1]})", f"repeat({p[0][1]}, {p[1]})")),
        sub.map(lambda s: (f"upper({s[0]})", f"upper({s[1]})")),
        sub.map(lambda s: (f"reverse({s[0]})", f"reverse({s[1]})")),
        st.tuples(sub, st.integers(0, 4)).map(
            lambda p: (f"substr({p[0][0]}, {p[1]})",
                       f"substr({p[0][1]}, {p[1]} + 1)")),
        _ints(depth - 1).map(
            lambda i: (f"string({i[0]})", f"CAST({i[1]} AS VARCHAR)")),
        sub.map(lambda s: (f"lower({s[0]})", f"lower({s[1]})")),
        st.tuples(sub, st.sampled_from(["a", "l", "x"]),
                  st.sampled_from(["", "z", "qq"])).map(
            lambda p: (f"replace({p[0][0]}, '{p[1]}', '{p[2]}')",
                       f"replace({p[0][1]}, '{p[1]}', '{p[2]}')")),
        # substr∘position chain: 0-based position feeds 0-based
        # substr (both off-by-one translations compose); NULL position
        # (absent needle) must flow through as NULL, matching the
        # coalesce-free reference semantics
        st.tuples(sub, st.sampled_from(["a", "N", "e"])).map(
            lambda p: (
                f"substr({p[0][0]}, position({p[0][0]}, '{p[1]}'))",
                f"(CASE WHEN strpos({p[0][1]}, '{p[1]}') = 0 THEN NULL "
                f"ELSE substr({p[0][1]}, strpos({p[0][1]}, '{p[1]}')) "
                f"END)")),
        # three-arg substr with an expression length
        st.tuples(sub, st.integers(0, 3), st.integers(0, 4)).map(
            lambda p: (f"substr({p[0][0]}, {p[1]}, {p[2]})",
                       f"substr({p[0][1]}, {p[1]} + 1, {p[2]})")),
    )


def _bools(depth: int) -> st.SearchStrategy:
    atoms = st.one_of(
        st.tuples(_ints(1), _ints(1)).map(
            lambda p: (f"({p[0][0]} >= {p[1][0]})",
                       f"({p[0][1]} >= {p[1][1]})")),
        st.tuples(_strs(1), _strs(1)).map(
            lambda p: (f"({p[0][0]} = {p[1][0]})", f"({p[0][1]} = {p[1][1]})")),
        # LIKE and the reference's `~` regex-match operator
        st.tuples(_strs(1), st.sampled_from(["N%", "%1%", "%"])).map(
            lambda p: (f"({p[0][0]} LIKE '{p[1]}')",
                       f"({p[0][1]} LIKE '{p[1]}')")),
        st.tuples(_strs(1), st.sampled_from(["N", "[0-9]", "ION"])).map(
            lambda p: (f"({p[0][0]} ~ '{p[1]}')",
                       f"regexp_matches({p[0][1]}, '{p[1]}')")),
        # IN-list over random int expressions (tuple membership)
        st.tuples(_ints(1), st.lists(st.integers(0, 9), min_size=1,
                                     max_size=4)).map(
            lambda p: (f"({p[0][0]} IN ({', '.join(map(str, p[1]))}))",
                       f"({p[0][1]} IN ({', '.join(map(str, p[1]))}))")),
    )
    if depth == 0:
        return atoms
    sub = _bools(depth - 1)
    return st.one_of(
        atoms,
        st.tuples(sub, sub).map(
            lambda p: (f"({p[0][0]} AND {p[1][0]})",
                       f"({p[0][1]} AND {p[1][1]})")),
        st.tuples(sub, sub).map(
            lambda p: (f"({p[0][0]} OR {p[1][0]})",
                       f"({p[0][1]} OR {p[1][1]})")),
        sub.map(lambda b: (f"(NOT {b[0]})", f"(NOT {b[1]})")),
        # IN / NOT IN subqueries: the inner WHERE is itself fuzzed
        # (subquery values are non-null, so NOT IN's 3VL is safe to
        # compare); EXISTS with a correlated-free inner filter
        st.tuples(_ints(depth - 1), sub, st.booleans()).map(
            lambda t: (
                f"({t[0][0]} {'NOT ' if t[2] else ''}IN "
                f"(SELECT n_regionkey FROM nation WHERE {t[1][0]}))",
                f"({t[0][1]} {'NOT ' if t[2] else ''}IN "
                f"(SELECT CAST(n_regionkey AS BIGINT) FROM nation "
                f"WHERE {t[1][1]}))")),
        sub.map(
            lambda b: (
                f"(EXISTS (SELECT 1 FROM nation WHERE {b[0]}))",
                f"(EXISTS (SELECT 1 FROM nation WHERE {b[1]}))")),
    )


def _dur_ratios() -> st.SearchStrategy:
    """Duration arithmetic exercised through the nanos-carrying
    division path (r4): (INTERVAL a SECOND / b [± INTERVAL c SECOND])
    / INTERVAL 1 SECOND is a Float whose exact value both engines
    compute in int64 nanos (Go-truncating division; operands kept
    positive so DuckDB's flooring // agrees)."""
    base = st.tuples(st.integers(1, 9), st.integers(1, 9)).map(
        lambda p: (f"(INTERVAL {p[0]} SECOND / {p[1]})",
                   f"(({p[0]} * 1000000000::BIGINT) // {p[1]})"))
    chained = st.tuples(base, st.integers(1, 9), st.booleans()).map(
        lambda t: ((f"({t[0][0]} + INTERVAL {t[1]} SECOND)"
                    if t[2] else f"({t[0][0]} * {t[1]})"),
                   (f"({t[0][1]} + {t[1]} * 1000000000::BIGINT)"
                    if t[2] else f"({t[0][1]} * {t[1]})")))
    return st.one_of(base, chained).map(
        lambda p: (f"({p[0]} / INTERVAL 1 SECOND)",
                   f"(CAST({p[1]} AS DOUBLE) / 1000000000)"))


def _floats(depth: int) -> st.SearchStrategy:
    """Dialect Floats whose values are IEEE-identical across engines:
    exact decimal literals, float(int)/int division, +/*/abs, and the
    correctly-rounded sqrt — no transcendentals (libm log/exp may
    differ in the last ulp between JVM and DuckDB)."""
    atoms = st.one_of(
        st.tuples(st.integers(0, 99), st.integers(1, 9)).map(
            lambda p: (f"(float({p[0]}) / {p[1]})",
                       f"(CAST({p[0]} AS DOUBLE) / {p[1]})")),
        # duck side casts literals to DOUBLE: DuckDB types bare
        # decimals as DECIMAL, whose ceil/floor/str forms differ from
        # the dialect's double floats
        st.sampled_from([("2.5", "CAST(2.5 AS DOUBLE)"),
                         ("0.125", "CAST(0.125 AS DOUBLE)"),
                         ("7.0", "CAST(7.0 AS DOUBLE)")]),
    )
    if depth == 0:
        return atoms
    sub = _floats(depth - 1)
    return st.one_of(
        atoms,
        st.tuples(sub, sub).map(
            lambda p: (f"({p[0][0]} + {p[1][0]})",
                       f"({p[0][1]} + {p[1][1]})")),
        st.tuples(sub, sub).map(
            lambda p: (f"({p[0][0]} * {p[1][0]})",
                       f"({p[0][1]} * {p[1][1]})")),
        sub.map(lambda s: (f"abs({s[0]})", f"abs({s[1]})")),
        sub.map(lambda s: (f"sqrt(abs({s[0]}))",
                           f"sqrt(abs({s[1]}))")),
        # the reference types floor/ceil as Float -> Float
        # (functions.go:394-412), so they live in the FLOAT grammar:
        # floor(x)/2 must stay float division on both sides (a prior
        # _ints strategy cast them to INT, which was unfaithful)
        sub.map(lambda s: (f"floor({s[0]})", f"floor({s[1]})")),
        sub.map(lambda s: (f"ceil({s[0]})", f"ceil({s[1]})")),
        _ints(depth - 1).map(
            lambda i: (f"float({i[0]})", f"CAST({i[1]} AS DOUBLE)")),
    )


def _unix_times() -> st.SearchStrategy:
    """parse_time with Go reference layouts → time_to_unix: the
    layout translation (2006-01-02 15:04:05 → strptime directives)
    and the UTC epoch math must agree exactly as BIGINT seconds."""
    layouts = st.sampled_from([
        ("2006-01-02", "%Y-%m-%d",
         "{y:04d}-{m:02d}-{d:02d}"),
        ("02.01.2006", "%d.%m.%Y",
         "{d:02d}.{m:02d}.{y:04d}"),
        ("2006/01/02 15:04:05", "%Y/%m/%d %H:%M:%S",
         "{y:04d}/{m:02d}/{d:02d} {hh:02d}:{mm:02d}:{ss:02d}"),
    ])
    comps = st.tuples(st.integers(2001, 2020), st.integers(1, 12),
                      st.integers(1, 28), st.integers(0, 23),
                      st.integers(0, 59), st.integers(0, 59))

    def mk(t):
        (go, duckfmt, pat), (y, m, d, hh, mm, ss) = t
        s = pat.format(y=y, m=m, d=d, hh=hh, mm=mm, ss=ss)
        return (f"time_to_unix(parse_time('{s}', '{go}'))",
                f"CAST(epoch(strptime('{s}', '{duckfmt}')) AS BIGINT)")
    return st.tuples(layouts, comps).map(mk)


def _exprs() -> st.SearchStrategy:
    return st.one_of(_ints(2), _strs(2), _bools(2), _dur_ratios(),
                     _floats(2), _unix_times())


@settings(max_examples=_N or 40, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(_exprs())
# regression: a ::Int cast result must count as an Int operand so the
# Int/Int integer-division overload still fires (found by this fuzzer)
@example(expr=("('7'::int / 2)", "('7'::BIGINT // 2)"))
# regression: polymorphic functions (coalesce/nullif/abs/greatest)
# must propagate their arguments' Int category so the Int/Int
# integer-division overload still fires (found by this fuzzer)
@example(expr=("(coalesce(nullif(0, 0), 1) / 2)",
               "(coalesce(nullif(0, 0), 1) // 2)"))
@example(expr=("(abs(3 - 5) / 2)", "(abs(3 - 5) // 2)"))
@example(expr=("((CASE WHEN 0 >= 0 THEN 1 ELSE 0 END) / 2)",
               "((CASE WHEN 0 >= 0 THEN 1 ELSE 0 END) // 2)"))
# regression: a nanosecond Duration chain inside parens (division
# result + interval) must fold before the enclosing Duration ratio
# reads it (found by this fuzzer)
@example(expr=(
    "(((INTERVAL 1 SECOND / 1) + INTERVAL 1 SECOND) / INTERVAL 1 SECOND)",
    "(CAST((((1 * 1000000000::BIGINT) // 1) + 1 * 1000000000::BIGINT)"
    " AS DOUBLE) / 1000000000)"))
# regression (r8 9k soak): a SCALAR SUBQUERY operand must carry its
# select item's category — min() over an Int column is Int, so the
# Int/Int integer-division overload still fires
@example(expr=(
    "((SELECT min(n_nationkey) FROM nation WHERE n_nationkey >= 3) / 2)",
    "((SELECT CAST(min(n_nationkey) AS BIGINT) FROM nation "
    "WHERE n_nationkey >= 3) // 2)"))
# regression (r8 review): the subquery branch must run BEFORE the
# binary-op scan — an arithmetic token in the subquery's WHERE or
# item sits at depth 0 of the span and used to split it, silently
# losing the Int category (float division) for exactly these shapes
@example(expr=(
    "((SELECT min(n_nationkey) FROM nation WHERE n_nationkey % 2 = 0)"
    " / 2)",
    "((SELECT CAST(min(n_nationkey) AS BIGINT) FROM nation "
    "WHERE n_nationkey % 2 = 0) // 2)"))
@example(expr=(
    "((SELECT min(n_nationkey) + 1 FROM nation) / 2)",
    "((SELECT CAST(min(n_nationkey) AS BIGINT) + 1 FROM nation) // 2)"))
def test_dialect_matches_duckdb(spark, duck, nation_view, expr):
    dialect, ducksql = expr
    from octosql_spark.sql import run_query
    ours = run_query(
        spark, f"SELECT {dialect} AS v FROM nation ORDER BY n_nationkey").df
    got = [r.v for r in ours.collect()]
    want = [r[0] for r in duck.execute(
        f"SELECT {ducksql} AS v FROM nation ORDER BY n_nationkey").fetchall()]
    assert got == want, f"dialect={dialect!r} duck={ducksql!r}"


# ---------------- query-level fuzz: WHERE / GROUP BY / aggregates ----

@settings(max_examples=_N or 25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(_exprs(), _bools(1))
def test_dialect_where_matches_duckdb(spark, duck, nation_view, expr, cond):
    """Random projection + random WHERE: multiset-compare (no ORDER
    BY dependence)."""
    from octosql_spark.sql import run_query
    (de, oe), (dc, oc) = expr, cond
    ours = run_query(
        spark, f"SELECT {de} AS v FROM nation WHERE {dc}").df
    got = sorted(str(r.v) for r in ours.collect())
    want = sorted(str(r[0]) for r in duck.execute(
        f"SELECT {oe} AS v FROM nation WHERE {oc}").fetchall())
    assert got == want, f"dialect={de} WHERE {dc}"


@settings(max_examples=_N or 25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(_ints(1), st.booleans())
def test_dialect_group_by_matches_duckdb(spark, duck, nation_view,
                                         expr, with_where):
    """Random integer expression aggregated per region: COUNT/SUM/
    MIN/MAX must agree row-for-row (grouped rows sorted by key)."""
    from octosql_spark.sql import run_query
    de, oe = expr
    where_d = " WHERE n_nationkey >= 5" if with_where else ""
    ours = run_query(
        spark, f"SELECT n_regionkey, COUNT(*) AS c, SUM({de}) AS s, "
               f"MIN({de}) AS mn, MAX({de}) AS mx "
               f"FROM nation{where_d} GROUP BY n_regionkey").df
    got = sorted((r.n_regionkey, r.c, r.s, r.mn, r.mx)
                 for r in ours.collect())
    want = sorted(tuple(r) for r in duck.execute(
        f"SELECT n_regionkey, COUNT(*) AS c, "
        f"CAST(SUM({oe}) AS BIGINT) AS s, MIN({oe}) AS mn, "
        f"MAX({oe}) AS mx FROM nation{where_d} "
        f"GROUP BY n_regionkey").fetchall())
    assert got == want, f"dialect agg over {de}"


# ---------------- query-level fuzz: ORDER BY/LIMIT, HAVING, windows --
# (r7 grammar extension — r6 covered expressions/WHERE/GROUP BY/
# subqueries; these pin the remaining clause surface.)

@settings(max_examples=_N or 25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(_ints(1), st.booleans(), st.integers(1, 30))
# regression (found by this fuzzer): the dialect has no ordinal
# ORDER BY — an integer literal is a CONSTANT key (reference
# parser.go:862-870), while Spark's default positional mode errors on
# `ORDER BY 0`; the transpiler pins this token-level (`N` → `(N+0)`,
# _rewrite_ordinal_keys) — session confs stay untouched
@example(expr=("0", "0"), desc=False, limit=1)
@example(expr=("2", "2"), desc=True, limit=5)
def test_dialect_order_by_limit_matches_duckdb(spark, duck, nation_view,
                                               expr, desc, limit):
    """Random sort key + direction + LIMIT, tiebroken by the unique
    key so the ordering is total. NULL placement: the dialect's total
    order sorts NULL smallest (octosql values.go:97-106 — first ASC,
    last DESC), which is Spark's default; DuckDB defaults to the
    opposite, so the oracle pins it explicitly."""
    from octosql_spark.sql import run_query
    de, oe = expr
    d = "DESC" if desc else "ASC"
    nulls = "NULLS LAST" if desc else "NULLS FIRST"
    ours = run_query(
        spark, f"SELECT n_nationkey AS k FROM nation "
               f"ORDER BY {de} {d}, n_nationkey LIMIT {limit}").df
    got = [r.k for r in ours.collect()]
    # oracle sorts by a projected column: DuckDB (like Spark) binds
    # even parenthesized integer literals in ORDER BY as ordinals,
    # which the dialect never does
    want = [r[0] for r in duck.execute(
        f"SELECT k FROM (SELECT n_nationkey AS k, ({oe}) AS srt "
        f"FROM nation) ORDER BY srt {d} {nulls}, k "
        f"LIMIT {limit}").fetchall()]
    assert got == want, f"ORDER BY {de} {d} LIMIT {limit}"


@settings(max_examples=_N or 25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(_ints(1), st.integers(0, 6))
def test_dialect_having_matches_duckdb(spark, duck, nation_view,
                                       expr, k):
    from octosql_spark.sql import run_query
    de, oe = expr
    ours = run_query(
        spark, f"SELECT n_regionkey, COUNT(*) AS c, SUM({de}) AS s "
               f"FROM nation GROUP BY n_regionkey "
               f"HAVING COUNT(*) > {k}").df
    got = sorted((r.n_regionkey, r.c, r.s) for r in ours.collect())
    want = sorted(tuple(r) for r in duck.execute(
        f"SELECT n_regionkey, COUNT(*) AS c, "
        f"CAST(SUM({oe}) AS BIGINT) AS s FROM nation "
        f"GROUP BY n_regionkey HAVING COUNT(*) > {k}").fetchall())
    assert got == want, f"HAVING COUNT(*) > {k} with {de}"


@settings(max_examples=_N or 25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(_ints(1), st.sampled_from(["SUM", "MIN", "MAX", "COUNT"]))
def test_dialect_window_matches_duckdb(spark, duck, nation_view,
                                       expr, fn):
    """Running aggregate over (PARTITION BY region ORDER BY the
    unique key) — frame deterministic, values compared row-for-row."""
    from octosql_spark.sql import run_query
    de, oe = expr
    over = "PARTITION BY n_regionkey ORDER BY n_nationkey"
    ours = run_query(
        spark, f"SELECT n_nationkey AS k, {fn}({de}) "
               f"OVER ({over}) AS w FROM nation").df
    got = sorted((r.k, r.w) for r in ours.collect())
    cast = "BIGINT" if fn in ("SUM", "COUNT") else "INT"
    want = sorted(tuple(r) for r in duck.execute(
        f"SELECT n_nationkey AS k, CAST({fn}({oe}) OVER ({over}) "
        f"AS {cast}) AS w FROM nation").fetchall())
    assert got == want, f"{fn}({de}) OVER"


# ---------------- r7 late grammar: distinct aggregates, set ops ------

@settings(max_examples=_N or 25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(_ints(1), st.booleans())
def test_dialect_distinct_aggs_match_duckdb(spark, duck, nation_view,
                                            expr, with_where):
    """The dialect's `*_distinct` CALL-NAME wrappers (DISTINCT inside
    a call is the `_distinct` variant, parser.go:469-472) over random
    integer expressions: count/sum/avg_distinct and
    array_agg_distinct cardinality must match DuckDB's
    AGG(DISTINCT ...)."""
    from octosql_spark.sql import run_query
    de, oe = expr
    where_d = " WHERE n_nationkey >= 5" if with_where else ""
    ours = run_query(
        spark, f"SELECT n_regionkey, count_distinct({de}) AS cd, "
               f"sum_distinct({de}) AS sd, avg_distinct({de}) AS ad "
               f"FROM nation{where_d} GROUP BY n_regionkey").df
    got = sorted((r.n_regionkey, r.cd, r.sd,
                  None if r.ad is None else round(r.ad, 9))
                 for r in ours.collect())
    want = sorted(
        (k, cd, sd, None if ad is None else round(ad, 9))
        for k, cd, sd, ad in duck.execute(
            f"SELECT n_regionkey, COUNT(DISTINCT {oe}) AS cd, "
            f"CAST(SUM(DISTINCT {oe}) AS BIGINT) AS sd, "
            f"AVG(DISTINCT {oe}) AS ad FROM nation{where_d} "
            f"GROUP BY n_regionkey").fetchall())
    assert got == want, f"distinct aggs over {de}"


@settings(max_examples=_N or 25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(_ints(1), _ints(1),
       st.sampled_from(["UNION ALL", "UNION", "INTERSECT", "EXCEPT"]))
def test_dialect_set_ops_match_duckdb(spark, duck, nation_view,
                                      a, b, op):
    """Set operations between two projected branches: UNION [ALL] /
    INTERSECT / EXCEPT multisets must match DuckDB's (UNION without
    ALL deduplicates in both dialects)."""
    from octosql_spark.sql import run_query
    da, oa = a
    db, ob = b
    key = lambda t: (t[0] is None, t[0])
    ours = run_query(
        spark, f"SELECT {da} AS v FROM nation WHERE n_nationkey < 13 "
               f"{op} "
               f"SELECT {db} AS v FROM nation WHERE n_nationkey >= 7").df
    got = sorted(((r.v,) for r in ours.collect()), key=key)
    want = sorted((tuple(r) for r in duck.execute(
        f"SELECT CAST({oa} AS BIGINT) AS v FROM nation "
        f"WHERE n_nationkey < 13 {op} "
        f"SELECT CAST({ob} AS BIGINT) AS v FROM nation "
        f"WHERE n_nationkey >= 7").fetchall()), key=key)
    assert got == want, f"{op} over {da} / {db}"


# ---------------- r8 grammar: window FRAMES (ROWS / RANGE) ----------
# (r7 verdict #10 — the one dialect surface the fuzzer didn't
# generate. EXCLUDE clauses are NOT generated: Spark has no window
# EXCLUDE — probed r8, `EXCLUDE CURRENT ROW` → PARSE_SYNTAX_ERROR —
# and the dialect exposes Spark's window surface.)

def _frame_bounds() -> st.SearchStrategy:
    starts = st.one_of(
        st.just("UNBOUNDED PRECEDING"),
        st.integers(0, 4).map(lambda n: f"{n} PRECEDING"),
        st.just("CURRENT ROW"))
    ends = st.one_of(
        st.just("CURRENT ROW"),
        st.integers(0, 4).map(lambda n: f"{n} FOLLOWING"),
        st.just("UNBOUNDED FOLLOWING"))
    return st.tuples(starts, ends)


@settings(max_examples=_N or 25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(_ints(1), st.sampled_from(["SUM", "MIN", "MAX", "COUNT"]),
       st.sampled_from(["ROWS", "RANGE"]), _frame_bounds(),
       st.booleans())
@example(expr=("n_regionkey", "CAST(n_regionkey AS BIGINT)"), fn="SUM",
         mode="RANGE", bounds=("1 PRECEDING", "1 FOLLOWING"),
         partition=False)
@example(expr=("1", "1"), fn="COUNT", mode="ROWS",
         bounds=("0 PRECEDING", "0 FOLLOWING"), partition=True)
def test_dialect_window_frames_match_duckdb(spark, duck, nation_view,
                                            expr, fn, mode, bounds,
                                            partition):
    """Explicit window frames: ROWS frames run over the UNIQUE key
    (tied ROWS ordering is nondeterministic in any engine); RANGE
    frames run over the TIED key (n_regionkey) so peer-group
    inclusion — the semantics that distinguish RANGE from ROWS — is
    exercised. RANGE offsets bound the ORDER BY value itself, so the
    order key must be the bare column there (both engines agree on
    value-offset frames over integers)."""
    from octosql_spark.sql import run_query
    de, oe = expr
    start, end = bounds
    frame = f"{mode} BETWEEN {start} AND {end}"
    okey = "n_nationkey" if mode == "ROWS" else "n_regionkey"
    over = (("PARTITION BY n_regionkey " if partition and mode == "ROWS"
             else "") + f"ORDER BY {okey} {frame}")
    ours = run_query(
        spark, f"SELECT n_nationkey AS k, {fn}({de}) "
               f"OVER ({over}) AS w FROM nation").df
    got = sorted((r.k, r.w) for r in ours.collect())
    cast = "BIGINT" if fn in ("SUM", "COUNT") else "INT"
    want = sorted(tuple(r) for r in duck.execute(
        f"SELECT n_nationkey AS k, CAST({fn}({oe}) OVER ({over}) "
        f"AS {cast}) AS w FROM nation").fetchall())
    assert got == want, f"{fn}({de}) OVER ({over})"


# ---------------- r8 grammar: JOINs (types x equi/theta ON) ---------
# The one core clause surface without a fuzz grammar until now: the
# dialect's join rewrites (outer-join normalization, join-modifier
# stripping, alias qualification) against DuckDB over the same
# tables. nation self-join via two aliased subsets keeps result
# sizes bounded; the tiebreak keys make row multisets exact.

@settings(max_examples=_N or 25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(st.sampled_from(["JOIN", "INNER JOIN", "LEFT JOIN",
                        "LEFT OUTER JOIN", "RIGHT JOIN", "FULL JOIN",
                        "FULL OUTER JOIN", "CROSS JOIN"]),
       st.sampled_from([
           ("a.n_regionkey = b.n_regionkey", "equi"),
           ("a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey",
            "equi_and_theta"),
           ("a.n_nationkey + 1 = b.n_nationkey", "expr_equi"),
           ("a.n_regionkey < b.n_regionkey", "theta")]),
       st.integers(0, 3), st.integers(0, 3))
@example(jt="FULL JOIN",
         on=("a.n_regionkey = b.n_regionkey", "equi"), cut_a=2, cut_b=3)
def test_dialect_joins_match_duckdb(spark, duck, nation_view,
                                    jt, on, cut_a, cut_b):
    from octosql_spark.sql import run_query
    on_sql, kind = on
    a = f"(SELECT * FROM nation WHERE n_nationkey % 4 >= {cut_a})"
    b = f"(SELECT * FROM nation WHERE n_nationkey % 5 >= {cut_b})"
    if jt == "CROSS JOIN":
        sel = (f"SELECT a.n_nationkey AS ka, b.n_nationkey AS kb "
               f"FROM {a} a CROSS JOIN {b} b")
    else:
        # theta predicates on outer joins: the REFERENCE rejects them
        # ("outer join predicate must be a conjunction of equalities")
        # while we deliberately support them (VERDICT §2.3) — both
        # engines here agree, so the fuzz covers the superset
        sel = (f"SELECT a.n_nationkey AS ka, b.n_nationkey AS kb "
               f"FROM {a} a {jt} {b} b ON {on_sql}")
    ours = run_query(spark, sel).df

    def key(t):  # outer-join NULLs sort first, None-safe
        return tuple((v is not None, v) for v in t)

    got = sorted(((r.ka, r.kb) for r in ours.collect()), key=key)
    want = sorted((tuple(r) for r in duck.execute(sel).fetchall()),
                  key=key)
    assert got == want, f"{jt} ON {on_sql} cuts=({cut_a},{cut_b})"


# ---------------- r9 grammar: scalar-subquery PLACEMENT -------------
# Both r8 typing bugs lived here (Int category lost through division;
# aliased/set-op subqueries falling back to Spark typing): scalar
# subqueries in the SELECT list vs WHERE vs HAVING, crossed with
# plain / aliased-item / set-op / correlated forms and an
# Int-division wrapper that only agrees when the dialect keeps the
# subquery's Int category (dialect `/` truncates, DuckDB `//`).

_SUBQ_FORMS = [
    ("(SELECT max(n_nationkey) FROM nation)",
     "(SELECT max(n_nationkey) FROM nation)"),
    ("(SELECT max(n_nationkey) AS m FROM nation)",
     "(SELECT max(n_nationkey) AS m FROM nation)"),
    ("(SELECT min(x) FROM (SELECT max(n_nationkey) AS x FROM nation "
     "UNION ALL SELECT 30 AS x) t)",
     "(SELECT min(x) FROM (SELECT max(n_nationkey) AS x FROM nation "
     "UNION ALL SELECT 30 AS x) t)"),
    ("(SELECT count(*) FROM nation i WHERE i.n_regionkey = o.n_regionkey)",
     "(SELECT count(*) FROM nation i WHERE i.n_regionkey = o.n_regionkey)"),
]

_SUBQ_WRAPS = [
    ("{s}", "{s}"),
    ("({s} / 3)", "({s} // 3)"),     # Int category must survive
    ("({s} + 1)", "({s} + 1)"),
]


@settings(max_examples=_N or 25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(st.sampled_from(_SUBQ_FORMS), st.sampled_from(_SUBQ_WRAPS),
       st.sampled_from(["select", "where", "having"]),
       st.integers(18, 26))
@example(sub=_SUBQ_FORMS[2], wrap=_SUBQ_WRAPS[1], place="where", off=20)
@example(sub=_SUBQ_FORMS[1], wrap=_SUBQ_WRAPS[1], place="select", off=20)
def test_dialect_scalar_subquery_placement_matches_duckdb(
        spark, duck, nation_view, sub, wrap, place, off):
    from octosql_spark.sql import run_query
    d_expr = wrap[0].format(s=sub[0])
    k_expr = wrap[1].format(s=sub[1])
    if place == "select":
        dq = f"SELECT n_nationkey AS k, {d_expr} AS s FROM nation o"
        kq = f"SELECT n_nationkey AS k, {k_expr} AS s FROM nation o"
    elif place == "where":
        dq = (f"SELECT n_nationkey AS k FROM nation o "
              f"WHERE n_nationkey >= {d_expr} - {off}")
        kq = (f"SELECT n_nationkey AS k FROM nation o "
              f"WHERE n_nationkey >= {k_expr} - {off}")
    else:
        dq = (f"SELECT n_regionkey AS k, count(*) AS c FROM nation o "
              f"GROUP BY n_regionkey HAVING count(*) >= {d_expr} - {off}")
        kq = (f"SELECT n_regionkey AS k, count(*) AS c FROM nation o "
              f"GROUP BY n_regionkey HAVING count(*) >= {k_expr} - {off}")

    def key(t):
        return tuple((v is not None, v) for v in t)

    got = sorted((tuple(r) for r in run_query(spark, dq).df.collect()),
                 key=key)
    want = sorted((tuple(r) for r in duck.execute(kq).fetchall()),
                  key=key)
    assert got == want, f"{place}: {d_expr}"


# ---------------- URL / HTML string-function fuzz (r9 verdict #8) ----
# Random URL-ish and HTML-ish strings through url_domain/url_normalize/
# html_extract_text on Spark vs the SAME DuckDB replay SQL the gate
# oracle uses (imported from workloads — one source of truth). Each
# example is a BATCH of strings: one Spark job covers ~24 inputs, so
# the default 25 examples sweep ~600 strings and the long-sweep knob
# multiplies that.

_URL_SCHEMES = ["http", "https", "HTTP", "Https", "ftp", "svc+x.y-1",
                "", "1bad"]
_URL_SEPS = ["://", ":", "", "//"]
_URL_USERS = ["", "user@", "u:p@", "a b@", "u:p@x@"]
_URL_HOSTS = ["example.com", "WWW.Example.COM", "xn--bcher-kva.de",
              "host.", "127.0.0.1", "ex ample.com", "", "www.www.a.io",
              "A-B.c"]
_URL_PORTS = ["", ":80", ":443", ":8080", ":0", ":x", ":"]
_URL_PATHS = ["", "/", "/a/b", "/a b", "//double", "/%C3%A9", "/."]
_URL_QUERIES = ["", "?q=1", "?a=1&b=2", "?", "?x=:@/"]
_URL_FRAGS = ["", "#f", "#a#b", "#", "#?q"]
_URL_PADS = ["", " ", "   ", "\t"]


def _url_strings():
    composed = st.tuples(
        st.sampled_from(_URL_PADS), st.sampled_from(_URL_SCHEMES),
        st.sampled_from(_URL_SEPS), st.sampled_from(_URL_USERS),
        st.sampled_from(_URL_HOSTS), st.sampled_from(_URL_PORTS),
        st.sampled_from(_URL_PATHS), st.sampled_from(_URL_QUERIES),
        st.sampled_from(_URL_FRAGS), st.sampled_from(_URL_PADS),
    ).map(lambda t: "".join(t))
    # ASCII garbage rich in URL metacharacters (lowercase letters only:
    # the functions lower() the host, and this grammar fuzzes the
    # regexp structure, not engine-specific Unicode case tables)
    garbage = st.text(alphabet="abc:/@#?&%=.~ \t'\"<>", max_size=30)
    return st.one_of(composed, garbage, st.none())


_HTML_PIECES = [
    "plain words", "é ß ok", "x < y", "a > b", "q & r",
    "&lt;", "&gt;", "&amp;", "&quot;", "&#39;", "&nbsp;",
    "&#x2019;", "&#8217;", "&amp;lt;", "&bogus;", "&",
    "<p>", "</p>", '<div class="x">', "<br/>", "<P >", "<div",
    ">", "<", "<>", "<a href='u?q=1#f'>", "</a >",
    "<script>var a = '<x>';</script>", "<SCRIPT>u()</SCRIPT>",
    "<script src='x'>a</script >", "<script>never closed",
    "<style>p{}</style>", "<style media=all>s</style>",
    "<!-- c -->", "<!-- unclosed", "-->",
    " ", "\n", "\n\n\t", "  ",
]


def _html_strings():
    composed = st.lists(st.sampled_from(_HTML_PIECES),
                        max_size=12).map("".join)
    return st.one_of(composed, st.none())


def _values_sql(rows, cols):
    from octosql_spark.workloads import _sql_values
    return _sql_values(rows, cols)


@settings(max_examples=_N or 25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(st.lists(_url_strings(), min_size=1, max_size=24))
@example(urls=["https://u:p@x@A.example.COM.:443/a b?q=1#f",
               "  http://www.www.a.io:80  ", "a://b", "://x", None])
def test_url_functions_match_duckdb(spark, duck, urls):
    from pyspark.sql import functions as SF
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)

    from octosql_spark.datapipe import url_domain, url_normalize
    from octosql_spark.workloads import (url_domain_oracle_sql,
                                         url_normalize_oracle_sql)

    rows = list(enumerate(urls))
    df = spark.createDataFrame(rows, StructType([
        StructField("url_id", LongType()),
        StructField("url", StringType())]))
    got = {r.url_id: (r.d, r.n) for r in df.select(
        "url_id", url_domain(SF.col("url")).alias("d"),
        url_normalize(SF.col("url")).alias("n")).collect()}
    vals = _values_sql(rows, "url_id, url")
    want_d = dict(duck.execute(url_domain_oracle_sql(vals)).fetchall())
    want_n = dict(duck.execute(url_normalize_oracle_sql(vals)).fetchall())
    for i, u in rows:
        assert got[i] == (want_d[i], want_n[i]), \
            f"url={u!r}: spark={got[i]!r} duck={(want_d[i], want_n[i])!r}"


@settings(max_examples=_N or 25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(st.lists(_html_strings(), min_size=1, max_size=24))
@example(htmls=["<script>a<script>b</script>c</script>d",
                "&amp;lt; <style>x</style\t> <!-- -->", None])
def test_html_extract_matches_duckdb(spark, duck, htmls):
    from pyspark.sql import functions as SF
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)

    from octosql_spark.datapipe import html_extract_text
    from octosql_spark.workloads import html_extract_oracle_sql

    rows = list(enumerate(htmls))
    df = spark.createDataFrame(rows, StructType([
        StructField("doc_id", LongType()),
        StructField("html", StringType())]))
    got = {r.doc_id: r.t for r in df.select(
        "doc_id",
        html_extract_text(SF.col("html")).alias("t")).collect()}
    want = dict(duck.execute(
        html_extract_oracle_sql(_values_sql(rows, "doc_id, html")))
        .fetchall())
    for i, h in rows:
        assert got[i] == want[i], \
            f"html={h!r}: spark={got[i]!r} duck={want[i]!r}"
