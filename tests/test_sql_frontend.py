"""SQL dialect front-end tests — modeled on the reference's golden
scenarios (tests/scenarios/functions/*, objects/*, simple/*)."""

from __future__ import annotations

import json
import os

import pytest

from octosql_spark.sql import run_query, transpile


@pytest.fixture(scope="module")
def views(spark, sf_dir):
    from octosql_spark.catalog import register_views
    return register_views(spark, sf_dir)


def q(spark, sql):
    return run_query(spark, sql).df


@pytest.fixture(scope="module")
def shape_t(spark):
    """One row whose columns the operand shapes below read."""
    spark.sql("SELECT 3 AS k, array('7','8') AS arr, "
              "TIMESTAMP '2020-01-01 00:00:00' AS ts") \
        .createOrReplaceTempView("shape_t")
    return "shape_t"


# --------------------------------------------------------- pure dialect

def test_arrow_and_star(spark, views):
    df = q(spark, "SELECT obj->key AS k FROM "
                  "(SELECT named_struct('key', r_regionkey) AS obj FROM region)")
    assert sorted(r.k for r in df.collect()) == [0, 1, 2, 3, 4]
    df2 = q(spark, "SELECT obj->* FROM "
                   "(SELECT named_struct('key', r_regionkey) AS obj FROM region)")
    assert df2.columns == ["key"]
    # a Spark lambda's arrow is not a field access
    r = q(spark, "SELECT transform(array(1, 2), x -> x + 1) AS t, "
                 "aggregate(array(1, 2, 3), 0, (acc, x) -> acc + x) AS a"
          ).collect()[0]
    assert (r.t, r.a) == ([2, 3], 6)
    # a lambda parameter is not the same-named column: over a String
    # `x` its `+` stays numeric, over an Int `x` its `/` stays a
    # float division of the array's elements, over a List `x` its
    # `len` stays a string length
    spark.sql("SELECT 'a' AS x").createOrReplaceTempView("lambda_s")
    spark.sql("SELECT 5 AS x").createOrReplaceTempView("lambda_i")
    spark.sql("SELECT array(1) AS x").createOrReplaceTempView("lambda_l")
    r = q(spark, "SELECT transform(array(1, 2), x -> x + 1) AS t "
                 "FROM lambda_s").collect()[0]
    assert r.t == [2, 3]
    r = q(spark, "SELECT transform(array(1.5, 3.0), x -> x / 2) AS t "
                 "FROM lambda_i").collect()[0]
    assert r.t == [0.75, 1.5]
    r = q(spark, "SELECT transform(array('ab', 'c'), x -> len(x)) AS t "
                 "FROM lambda_l").collect()[0]
    assert r.t == [2, 1]


def test_type_assertion(spark, views, shape_t):
    df = q(spark, "SELECT ('42'::Int + 1) AS x, 3.5::String AS s")
    r = df.collect()[0]
    assert r.x == 43 and r.s == "3.5"
    # `::` applies to the whole primary before it: CASE … END, a typed
    # literal, a windowed call
    r = q(spark, "SELECT CASE WHEN k > 0 THEN 1 ELSE 0 END::String AS c, "
                 "DATE '2020-01-01'::String AS d, "
                 "SUM(k) OVER (ORDER BY ts)::String AS w "
                 "FROM shape_t").collect()[0]
    assert (r.c, r.d, r.w) == ("1", "2020-01-01", "3")


def test_type_assertion_strict(spark, views):
    """DEVIATIONS 1 closed under strict_assert: `::` is the
    reference's runtime type assertion (execution/expressions.go:
    48-102) — value passes only when it ALREADY has the type; a
    parsable string does NOT convert."""
    def sq(sql):
        return run_query(spark, sql, strict_assert=True).df.collect()[0]

    r = sq("SELECT '42'::Int AS a, 42::Int AS b, 42::String AS c, "
           "3.5::Float AS d, 42::Float AS e, 'x'::Boolean AS f")
    assert r.a is None          # string carrier does not convert
    assert r.b == 42            # already Int → passes
    assert r.c is None          # Int is not String
    assert r.d == 3.5
    assert r.e is None          # Int is not Float (distinct TypeIDs)
    assert r.f is None
    # the README coalesce idiom still works in strict mode via the
    # explicit conversion function
    r2 = sq("SELECT COALESCE('42'::Int, int('42'), 0) AS x")
    assert r2.x == 42
    # default (non-strict) keeps the documented TRY_CAST conversion
    assert q(spark, "SELECT '42'::Int AS x").collect()[0].x == 42


def test_type_assertion_strict_variant_carrier(spark, tmp_path):
    """Strict `::` on a JSON union column (VARIANT carrier): passes
    only values whose runtime type matches, without converting —
    the reference's union-type assertion (README.md:271 idiom under
    execution/expressions.go semantics)."""
    p = tmp_path / "u.json"
    p.write_text('{"v": 7}\n{"v": "7"}\n{"v": "x"}\n{"v": 2.5}\n')
    df = run_query(spark, f"SELECT v::Int AS i, v::String AS s "
                          f"FROM `{p}`", strict_assert=True).df
    rows = df.collect()
    if "variant" not in dict(run_query(
            spark, f"SELECT * FROM `{p}`").df.dtypes).get("v", ""):
        pytest.skip("json union column not carried as variant here")
    ints = sorted((r.i for r in rows if r.i is not None))
    strs = sorted((r.s for r in rows if r.s is not None))
    assert ints == [7]            # only the true Int row
    assert strs == ["7", "x"]     # only the true String rows


def test_regex_operators(spark, views):
    df = q(spark, "SELECT r_name FROM region WHERE r_name ~ 'A$'")
    assert {r.r_name for r in df.collect()} == {"AFRICA", "AMERICA", "ASIA"}
    df = q(spark, "SELECT r_name FROM region WHERE r_name ~* 'asia'")
    assert {r.r_name for r in df.collect()} == {"ASIA"}
    df = q(spark, "SELECT r_name FROM region WHERE r_name !~ 'A$'")
    assert {r.r_name for r in df.collect()} == {"EUROPE", "MIDDLE EAST"}
    # the left operand is the whole primary: CASE … END (its branches
    # rewritten too), a typed literal
    r = q(spark, "SELECT CASE WHEN k > 0 THEN 'a' ELSE 'b' END ~ 'a' AS c, "
                 "TIMESTAMP '2020-01-01 00:00:00' ~ '2020' AS t, "
                 "CASE WHEN '7'::Int > 0 THEN 'a' + 'b' ELSE 'c' END ~ 'a' "
                 "AS i FROM shape_t").collect()[0]
    assert (r.c, r.t, r.i) == (True, True, True)


def test_conversion_functions(spark, views):
    # int('x') → NULL like the reference (functions.go:944-952)
    df = q(spark, "SELECT int('12') AS a, int('x') AS b, "
                  "float('1.5') AS c, string(42) AS d")
    r = df.collect()[0]
    assert (r.a, r.b, r.c, r.d) == (12, None, 1.5, "42")


def test_len_now_unix(spark, views):
    df = q(spark, "SELECT len('hello') AS l, "
                  "time_to_unix(time_from_unix(1700000000)) AS u")
    r = df.collect()[0]
    assert (r.l, r.u) == (5, 1700000000)


def test_parse_time(spark, views):
    df = q(spark, "SELECT parse_time('2024-01-01T10:00:00') AS t, "
                  "parse_time('nope') AS bad")
    r = df.collect()[0]
    assert r.t is not None and r.bad is None


def test_trigger_clause_stripped(spark, views):
    res = run_query(spark, "SELECT event_type, COUNT(*) AS n FROM events "
                           "GROUP BY event_type TRIGGER COUNTING 100")
    assert res.triggers == ["COUNTING 100"]
    assert res.df.count() > 0


def test_lookup_and_stream_join_keywords(spark, views):
    df = q(spark, "SELECT COUNT(*) AS n FROM nation n "
                  "LOOKUP JOIN region r ON n.n_regionkey = r.r_regionkey")
    assert df.collect()[0].n == 25
    df = q(spark, "SELECT COUNT(*) AS n FROM nation n "
                  "STREAM JOIN region r ON n.n_regionkey = r.r_regionkey")
    assert df.collect()[0].n == 25


def test_subscript_zero_based(spark, views):
    # [] is 0-based in the reference (functions.go:1014-1042)
    df = q(spark, "SELECT array('a','b','c')[1] AS x")
    assert df.collect()[0].x == "b"
    # a subscripted operand takes the postfix/infix operator after it
    r = q(spark, "SELECT arr[1]::Int AS i, array('a','b')[1] ~ 'b' AS m "
                 "FROM shape_t").collect()[0]
    assert (r.i, r.m) == (8, True)


# ----------------------------------------------------------- file tables

def test_file_table_csv(spark, tmp_path):
    p = tmp_path / "people.csv"
    p.write_text("name,age\nalice,30\nbob,25\n")
    df = q(spark, f"SELECT name, age FROM `{p}` WHERE age > 26")
    rows = df.collect()
    assert len(rows) == 1 and rows[0].name == "alice"


def test_star_expands_only_top_level_relations(spark, tmp_path):
    """``SELECT *`` expands the columns of its own FROM list only: a
    table named inside a WHERE subquery is out of the star's scope
    (expanding it too made Spark reject ``b.k2`` as unresolved)."""
    spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string") \
        .createOrReplaceTempView("star_a")
    spark.createDataFrame([(1, 10)], "k2 long, w long") \
        .createOrReplaceTempView("star_b")
    df = q(spark, "SELECT * FROM star_a WHERE k IN (SELECT k2 FROM star_b)")
    assert df.columns == ["k", "v"]
    assert [tuple(r) for r in df.collect()] == [(1, "a")]
    p = tmp_path / "dim.csv"
    p.write_text("k,name\n1,alpha\n2,beta\n")
    df = q(spark, f"SELECT * FROM '{p}' a WHERE k IN "
                  f"(SELECT k FROM '{p}' b WHERE name = 'beta')")
    assert df.columns == ["k", "name"]
    assert [tuple(r) for r in df.collect()] == [(2, "beta")]


def test_one_schema_lookup_per_table(spark, monkeypatch):
    """A transpile looks each table up once, however many passes
    (star expansion, overload types, strict ``::``) read its schema."""
    spark.createDataFrame([(1, "a")], "k long, v string") \
        .createOrReplaceTempView("lookup_t")
    calls = []
    table = spark.table
    monkeypatch.setattr(spark, "table",
                        lambda name: calls.append(name) or table(name))
    t = transpile(spark, "SELECT * FROM lookup_t x JOIN lookup_t y "
                         "ON x.k = y.k WHERE x.v::string = 'a'",
                  strict_assert=True)
    assert calls == ["lookup_t"]
    assert "x.k AS `x.k`" in t.sql


def test_bound_file_view_is_not_looked_up(spark, tmp_path, monkeypatch):
    """A file reference's view takes its dtypes from the DataFrame the
    binding pass just read: only the catalog table is looked up."""
    spark.createDataFrame([(1, "a")], "k long, v string") \
        .createOrReplaceTempView("lookup_dim")
    p = tmp_path / "fact.csv"
    p.write_text("k,n\n1,10\n")
    calls = []
    table = spark.table
    monkeypatch.setattr(spark, "table",
                        lambda name: calls.append(name) or table(name))
    t = transpile(spark, f"SELECT * FROM '{p}' f JOIN lookup_dim d "
                         "ON f.k = d.k")
    assert calls == ["lookup_dim"]
    assert "f.k AS `f.k`" in t.sql and "d.v AS v" in t.sql


def test_database_config_read_once_when_a_chain_needs_it(spark,
                                                         monkeypatch):
    from octosql_spark.sources import jdbc
    calls = []
    load = jdbc.load_config
    monkeypatch.setattr(jdbc, "load_config",
                        lambda: calls.append(1) or load())
    transpile(spark, "SELECT 1 AS one")
    assert calls == []
    transpile(spark, "SELECT * FROM a.b x JOIN c.d y ON x.k = y.k")
    assert calls == [1]


def test_table_binding_follows_text_order(spark, tmp_path):
    """One pass binds TVFs and files in text order; a table after a
    subquery in a FROM list is bound too, and a TVF's ``TABLE(…)``
    argument is bound by its own transpile, not by the outer pass."""
    p = tmp_path / "nums.csv"
    p.write_text("k\n1\n2\n")
    t = transpile(spark, f"SELECT * FROM '{p}' a, range(0, 2) r, "
                         f"(SELECT k FROM '{p}') s, '{p}' b")
    files = [v for v in t.views if v.startswith("_octo_file_")]
    tvfs = [v for v in t.views if v.startswith("_octo_tvf_")]
    assert len(files) == 3 and len(tvfs) == 1
    nums = [int(v.rsplit("_", 1)[1]) for v in t.views]
    assert nums == sorted(nums) and list(t.views)[1] == tvfs[0]
    assert f"'{p}'" not in t.sql
    t = transpile(spark, "SELECT COUNT(*) AS n FROM poll(source => "
                         f"TABLE(SELECT * FROM '{p}'))")
    assert list(t.views.values()) == ["poll"]
    assert spark.sql(t.sql).collect()[0].n == 2


def test_file_table_json(spark, tmp_path):
    p = tmp_path / "objs.json"
    p.write_text("\n".join(json.dumps({"field1": "a", "field2": i})
                           for i in range(5)))
    df = q(spark, f"SELECT SUM(field2) AS s, COUNT(*) AS n FROM `{p}`")
    r = df.collect()[0]
    assert (r.s, r.n) == (10, 5)


def test_file_table_lines(spark, tmp_path):
    p = tmp_path / "raw.lines"
    p.write_text("alpha\nbeta\ngamma\n")
    df = q(spark, f"SELECT number, text FROM `{p}` ORDER BY number")
    rows = df.collect()
    assert [(r.number, r.text) for r in rows] == [(0, "alpha"), (1, "beta"),
                                                  (2, "gamma")]
    # seq | octosql "SELECT SUM(int(text)) ..." shape (stdin/seqsum golden)
    df2 = q(spark, f"SELECT SUM(int(text)) AS s FROM `{p}?x=1`") \
        if False else None


def test_relative_file_table(spark, tmp_path, monkeypatch):
    p = tmp_path / "t.csv"
    p.write_text("a,b\n1,2\n")
    monkeypatch.chdir(tmp_path)
    df = q(spark, "SELECT a + b AS s FROM t.csv")
    assert df.collect()[0].s == 3


# ------------------------------------------------------------------ TVFs

def test_tvf_range(spark, views):
    # column is `i` like the reference (range.go:14-109)
    df = q(spark, "SELECT COUNT(*) AS n, SUM(i) AS s FROM range(1, 11)")
    r = df.collect()[0]
    assert (r.n, r.s) == (10, 55)


def test_tvf_range_named_args(spark, views):
    df = q(spark, "SELECT * FROM range(start => 1, end => 10) r")
    assert [x.i for x in df.collect()] == list(range(1, 10))


def test_tvf_range_missing_arg_is_clear_error(spark, views):
    # both args are Required in the reference (range.go:28-41);
    # a single-arg call used to escape as a bare IndexError (r11
    # verdict #8)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="range: missing required"):
        q(spark, "SELECT * FROM range(10)")


def test_tvf_tumble(spark, views):
    df = q(spark, "SELECT window_end, COUNT(*) AS n FROM "
                  "tumble(source => TABLE(events), "
                  "window_length => INTERVAL 1 HOUR) "
                  "GROUP BY window_end")
    assert df.count() > 0
    assert "window_end" in df.columns


def test_tvf_tumble_subquery(spark, views):
    df = q(spark, "SELECT COUNT(*) AS n FROM "
                  "tumble(source => TABLE(SELECT * FROM events WHERE value > 0), "
                  "window_length => INTERVAL 1 HOUR, "
                  "time_field => DESCRIPTOR(ts))")
    assert df.collect()[0].n > 0


def test_tvf_max_diff_watermark(spark, views):
    total = q(spark, "SELECT COUNT(*) AS n FROM events").collect()[0].n
    kept = q(spark, "SELECT COUNT(*) AS n FROM "
                    "max_diff_watermark(source => TABLE(events), "
                    "max_diff => INTERVAL 5 SECOND, "
                    "time_field => DESCRIPTOR(ts))").collect()[0].n
    assert 0 < kept <= total


# ------------------------------------------------------- full pipelines

def test_golden_style_aggregate_over_join(spark, views):
    # datasources/json/stream_join.in shape
    df = q(spark, """
      SELECT COUNT(*) AS cnt, SUM(o.o_totalprice) AS total,
             SUM(len(c.c_name)) AS name_len
      FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    """)
    r = df.collect()[0]
    assert r.cnt > 0 and r.total > 0 and r.name_len > 0


def test_transpile_is_pure_rewrite(spark):
    t = transpile(spark, "SELECT a->b, c::int FROM tbl WHERE d ~ 'x'")
    assert "->" not in t.sql and "::" not in t.sql and "~" not in t.sql


def test_overload_precedence_mul_before_add(spark, views, shape_t):
    # 'x' + s * 2 must be concat('x', repeat(s, 2)) — multiplicative
    # overloads resolve before additive ones (functions.go:156-355)
    df = q(spark, "SELECT 'x' + 'ab' * 2 AS v, 'ab' * 2 + 'x' AS w, "
                  "'a' + 'b' * (7 / 3) AS u")
    r = df.collect()[0]
    assert r.v == "xabab" and r.w == "ababx"
    # one chain mixing concat, repeat and Int/Int division
    assert r.u == "abb"
    # a bare CASE is one String operand; a typed literal is a Time
    # operand, with no overload for Time + Duration
    r = q(spark, "SELECT 'x' + CASE WHEN k > 0 THEN 'a' ELSE 'b' END AS c, "
                 "DATE '2020-01-01' + INTERVAL 1 DAY AS d "
                 "FROM shape_t").collect()[0]
    assert r.c == "xa" and str(r.d) == "2020-01-02"


def test_dual_table(spark):
    # `dual` one-row dummy table (logical/logical.go:101-122)
    df = q(spark, "SELECT 41 + 1 AS x FROM dual")
    assert [r.x for r in df.collect()] == [42]


def test_duration_division_nanosecond_closure(spark, views):
    """Duration/Int divides int64 NANOS like Go (functions.go:320-355:
    time.Duration is int64 ns), and the nanos-carrying result stays
    closed under the Duration overload set."""
    from octosql_spark.sinks import _native_value

    def cell(sql):
        return _native_value(q(spark, sql).collect()[0][0])

    assert cell("SELECT INTERVAL 7 SECOND / 3") == "2.333333333s"
    # chains keep nanos: (7s/3)*2, (7s/3)/2, (7s/3)+1s, (7s/3)-ns-dur
    assert cell("SELECT (INTERVAL 7 SECOND / 3) * 2") == "4.666666666s"
    assert cell("SELECT INTERVAL 7 SECOND / 3 / 2") == "1.166666666s"
    assert cell("SELECT (INTERVAL 7 SECOND / 3) + INTERVAL 1 SECOND") \
        == "3.333333333s"
    assert cell("SELECT (INTERVAL 7 SECOND / 3) - (INTERVAL 1 SECOND / 3)") \
        == "2s"
    # ratio overloads degrade to Float exactly as Duration/Duration
    assert cell("SELECT (INTERVAL 7 SECOND / 3) / INTERVAL 1 SECOND") \
        == _native_value(2333333333 / 1_000_000_000)
    # sub-second/sub-ms tiers render through Go's unit ladder
    assert cell("SELECT INTERVAL 1 SECOND / 3") == "333.333333ms"
    assert cell("SELECT INTERVAL 1 MILLISECOND / 3") == "333.333µs"
    assert cell("SELECT INTERVAL 1 MICROSECOND / 3") == "333ns"
    # fuzz-found: a nanosecond chain inside parens feeds an enclosing
    # Duration overload
    assert cell("SELECT ((INTERVAL 1 SECOND / 1) + INTERVAL 1 SECOND)"
                " / INTERVAL 1 SECOND") == "2"
    assert cell("SELECT ((INTERVAL 6 SECOND / 4 + INTERVAL 1 SECOND)"
                " * 2) + INTERVAL 1 SECOND") == "6s"
    # Time + a nanosecond Duration has no nanosecond overload: the
    # Duration degrades to a µs interval (Spark timestamps carry µs)
    assert cell("SELECT time_to_unix(time_from_unix(10)"
                " + INTERVAL 7 SECOND / 7)") == "11"
    assert cell("SELECT time_to_unix(time_from_unix(10)"
                " + (INTERVAL 7 SECOND / 7))") == "11"


def test_duration_chain_left_associativity(spark, views):
    """Flat chains evaluate strictly left-assoc within a precedence
    level (functions.go:156-355): folding a Duration operator that is
    not the chain's leftmost must not regroup the chain (advisor-found
    r4)."""
    from octosql_spark.sinks import _native_value

    def cell(sql):
        return _native_value(q(spark, sql).collect()[0][0])

    # (10s - 3s) + 7s/3 — NOT 10s - (3s + 7s/3) = 4.666666667s
    assert cell("SELECT INTERVAL 10 SECOND - INTERVAL 3 SECOND"
                " + INTERVAL 7 SECOND / 3") == "9.333333333s"
    # sign-flip variant: (10s - 3s) - 7s/3
    assert cell("SELECT INTERVAL 10 SECOND - INTERVAL 3 SECOND"
                " - INTERVAL 7 SECOND / 3") == "4.666666667s"
    # mul level: (2 * 7s) DIV 3 over int64 nanos, not 2 * (7s DIV 3)
    assert cell("SELECT 2 * INTERVAL 7 SECOND / 3") == "4.666666666s"
    # mixed precedence folds in one pass: 0.5s + 6s
    assert cell("SELECT INTERVAL 1 SECOND / 2"
                " + INTERVAL 3 SECOND * 2") == "6.5s"
    # a Duration/Duration ratio is a Float operand of the rest
    assert cell("SELECT INTERVAL 7 SECOND / INTERVAL 2 SECOND + 1") \
        == _native_value(4.5)
    # deep alternating nesting: each paren level folds once
    deep = "INTERVAL 1 SECOND / 1"
    for _ in range(10):
        deep = f"(({deep}) + INTERVAL 1 SECOND / 1) * 1"
    assert cell(f"SELECT ({deep}) / INTERVAL 1 SECOND") == "11"
    for _ in range(10):
        deep = f"(({deep}) + INTERVAL 1 SECOND / 1) * 1"
    assert cell(f"SELECT ({deep}) / INTERVAL 1 SECOND") == "21"


def test_overload_category_polymorphic_functions(spark):
    """coalesce/nullif/abs/greatest/CASE propagate their arguments'
    Int category so the dialect's Int/Int integer division fires
    (found by the differential-fuzz long sweep); float args keep
    float division; floor/ceil return FLOAT like the reference
    (functions.go:394-412)."""
    from octosql_spark.sql import run_query
    spark.range(1).createOrReplaceTempView("one")
    cases = [
        ("coalesce(nullif(0, 0), 1) / 2", 0),
        ("abs(3 - 5) / 2", 1),
        ("greatest(7, 3) / 2", 3),
        ("(CASE WHEN 0 >= 0 THEN 1 ELSE 0 END) / 2", 0),
        ("coalesce(1.0, 2.0) / 2", 0.5),
        ("floor(2.5)", 2.0),
        ("ceil(2.3)", 3.0),
        ("floor(2.5) / 2", 1.0),
        ("floor(floor(2.5))", 2.0),
    ]
    for expr, want in cases:
        got = run_query(spark, f"SELECT {expr} AS v FROM one").df \
            .collect()[0][0]
        assert got == want and type(got) is type(want), \
            (expr, got, want)


def test_run_query_ordinal_keys_token_level(spark):
    """The dialect's no-ordinal ORDER BY/GROUP BY semantics are pinned
    TOKEN-LEVEL (`N` → `(N + 0)`, which Spark's analyzer never
    ordinal-substitutes), NOT by flipping session confs around the
    query: session confs are global across threads, and the conf flip
    raced concurrent plain-Spark-SQL `GROUP BY 1` callers on the
    shared session (the --jobs checker flaked
    recursive_month_spine_gapfill with MISSING_AGGREGATION ~1 run in
    3 until this landed)."""
    from octosql_spark.sql import run_query
    from octosql_spark.sql.transpiler import transpile

    spark.range(3).selectExpr("id", "id * 2 AS v") \
        .createOrReplaceTempView("ordcfg_t")
    # dialect semantics inside run_query: ORDER BY 0 is a constant key
    out = run_query(spark, "SELECT id FROM ordcfg_t ORDER BY 0").df
    assert out.count() == 3
    # the pin is in the emitted SQL itself — no conf involved
    t = transpile(spark, "SELECT id FROM ordcfg_t "
                         "ORDER BY 0 DESC GROUP BY 2")
    assert "(0+0)" in t.sql and "(2+0)" in t.sql
    # parenthesized literals are the SAME constant expression in the
    # dialect (everything parses through ParseExpression) — Spark
    # elides the parens and would ordinal-bind them (advisor-found
    # r7: 'ORDER BY (0)' raised, 'ORDER BY (1) DESC' silently sorted
    # positionally); any paren depth unwraps
    t2 = transpile(spark, "SELECT id FROM ordcfg_t "
                          "ORDER BY (0) DESC GROUP BY ((2))")
    assert "(0+0)" in t2.sql and "(2+0)" in t2.sql
    out2 = run_query(spark, "SELECT id FROM ordcfg_t ORDER BY (0)").df
    assert out2.count() == 3
    # (1) DESC must NOT reverse the rows — it is a constant key
    got_par = [r.id for r in run_query(
        spark, "SELECT id FROM ordcfg_t "
               "ORDER BY (1) DESC, id ASC").df.collect()]
    assert got_par == [0, 1, 2]
    # a parenthesized NON-literal expression stays untouched
    t3 = transpile(spark, "SELECT id FROM ordcfg_t ORDER BY (id + 1)")
    assert "+0" not in t3.sql
    # plain Spark SQL on the same session keeps positional semantics,
    # conf untouched (it would now survive even mid-dialect-query)
    got = {(r.id, r.c) for r in spark.sql(
        "SELECT id, COUNT(*) AS c FROM ordcfg_t GROUP BY 1").collect()}
    assert got == {(0, 1), (1, 1), (2, 1)}
    assert spark.conf.get("spark.sql.groupByOrdinal") == "true"
    assert spark.conf.get("spark.sql.orderByOrdinal") == "true"


def test_distinct_aggregate_call_names(spark):
    """The reference registers *_distinct aggregates as CALLABLE names
    (aggregates/table.go) in addition to the AGG(DISTINCT x) syntax
    the parser folds into them — both forms must work through the SQL
    front door with reference output naming (r7 fuzz-found gap)."""
    from octosql_spark.sql import run_query

    spark.createDataFrame([(1, 2), (1, 2), (2, 3)], ["a", "b"]) \
        .createOrReplaceTempView("dn_t")
    r = run_query(spark, "SELECT count_distinct(a), sum_distinct(b), "
                         "avg_distinct(b), array_agg_distinct(a) "
                         "FROM dn_t")
    assert r.df.columns == ["count_distinct_a", "sum_distinct_b",
                            "avg_distinct_b", "array_agg_distinct_a"]
    row = r.df.collect()[0]
    assert (row[0], row[1], row[2], sorted(row[3])) == (2, 5, 2.5, [1, 2])
    # syntax form keeps the same derived names
    r2 = run_query(spark, "SELECT a, COUNT(DISTINCT b) FROM dn_t "
                          "GROUP BY a")
    assert r2.df.columns == ["a", "count_distinct_b"]
    # a call argument and an enclosing chain
    r3 = run_query(spark, "SELECT sum_distinct(len(b)), "
                          "count_distinct(a) + 1 FROM dn_t")
    assert r3.df.columns == ["sum_distinct", "col_1"]
    assert tuple(r3.df.collect()[0]) == (1, 3)


def test_aggregate_results_keep_int_division(spark):
    """Aggregate results carry their overload category (r8 fuzz-soak
    find, generalized): sum(Int)/count(*) is Int/Int → the dialect's
    integer division (functions.go:320-355), avg is Float, and a
    scalar subquery takes its select item's category."""
    from octosql_spark.sql import run_query

    spark.createDataFrame([(1,), (2,), (4,)], ["v"]) \
        .createOrReplaceTempView("aggdiv_t")
    r = run_query(spark, "SELECT SUM(v) / COUNT(*) AS d, "
                         "AVG(v) / 2 AS a FROM aggdiv_t").df.collect()[0]
    assert r.d == 2 and isinstance(r.d, int)      # 7 DIV 3
    assert abs(r.a - 7 / 3 / 2) < 1e-12            # float path intact
    # scalar subquery operand: Int category propagates
    r2 = run_query(spark, "SELECT (SELECT MAX(v) FROM aggdiv_t) / 3 "
                          "AS q FROM aggdiv_t").df.collect()[0]
    assert r2.q == 1 and isinstance(r2.q, int)
    # a bare CASE and a windowed call keep their Int category, and a
    # CASE body is folded too
    r3 = run_query(spark, "SELECT CASE WHEN v > 0 THEN 1 ELSE 0 END / 2 "
                          "AS c, SUM(v) OVER () / 2 AS w, "
                          "CASE WHEN 1 > 0 THEN 7 / 2 ELSE 0 END AS i "
                          "FROM aggdiv_t").df.collect()[0]
    assert (r3.c, r3.w, r3.i) == (0, 3, 3)
    assert all(isinstance(x, int) for x in r3)
    # a CASE branch that is itself a chain keeps the Int category
    r4 = run_query(spark, "SELECT CASE WHEN 1 > 0 THEN 1 + 2 ELSE 0 END "
                          "/ 2 AS b, (CASE WHEN 1 > 0 THEN 1 + 2 ELSE 0 "
                          "END) / 2 AS p").df.collect()[0]
    assert (r4.b, r4.p) == (1, 1)
    assert all(isinstance(x, int) for x in r4)


def test_scalar_subquery_category_safe_fallbacks(spark):
    """_scalar_subquery_cat returns None (Spark semantics, no
    overload rewrite) for shapes where the item category can't be
    trusted (r8 high-effort review): an ALIASED item whose alias
    collides with a differently-typed outer column, and set-operation
    subqueries whose branches differ in category."""
    from octosql_spark.sql import run_query

    spark.createDataFrame([(4, 5.0)], ["cnt", "f"]) \
        .createOrReplaceTempView("sqcat_t")
    # alias 'cnt' must NOT be typed from the outer int column 'cnt':
    # the subquery's value is the FLOAT f -> float division, not DIV
    r = run_query(spark, "SELECT (SELECT f AS cnt FROM sqcat_t) / 2 "
                         "AS v FROM sqcat_t").df.collect()[0]
    assert r.v == 2.5
    # set-op: first branch int, producing branch float -> no DIV
    r2 = run_query(
        spark, "SELECT (SELECT cnt FROM sqcat_t WHERE cnt < 0 "
               "UNION ALL SELECT f FROM sqcat_t) / 2 AS v "
               "FROM sqcat_t").df.collect()[0]
    assert r2.v == 2.5
    # the un-aliased single-branch case still integer-divides
    r3 = run_query(spark, "SELECT (SELECT cnt FROM sqcat_t) / 3 AS v "
                          "FROM sqcat_t").df.collect()[0]
    assert r3.v == 1 and isinstance(r3.v, int)


def test_inner_join_chain_builds_on_the_fact_table(spark, views):
    """An inner-join chain written dimension-first plans with its
    largest relation as the leftmost leaf: the fact table streams
    through the joins and the dimensions are the build sides."""
    from octosql_spark import workloads
    df = run_query(spark, workloads.REGISTRY["tpch_q5_local_supplier"]
                   .oracle).df
    node = df._jdf.queryExecution().optimizedPlan()
    while node.children().size():
        node = node.children().apply(0)
    out = node.output()
    assert "l_orderkey" in [out.apply(i).name() for i in range(out.size())]


@pytest.mark.parametrize("chain", [
    # a LEFT JOIN in the chain
    "FROM nation JOIN customer ON n_nationkey = c_nationkey "
    "LEFT JOIN orders ON c_custkey = o_custkey "
    "JOIN lineitem ON l_orderkey = o_orderkey",
    # a CTE relation
    "FROM nation JOIN customer ON n_nationkey = c_nationkey "
    "JOIN o ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey",
    # n_regionkey is unqualified, and n2 has it too once it is in WHERE
    "FROM region JOIN nation n1 ON n_regionkey = r_regionkey "
    "JOIN supplier ON s_nationkey = n1.n_nationkey "
    "JOIN lineitem ON l_suppkey = s_suppkey "
    "JOIN nation n2 ON n2.n_nationkey = s_nationkey",
])
def test_inner_join_chain_left_as_written(spark, views, chain):
    sql = ("WITH o AS (SELECT * FROM orders) "
           f"SELECT COUNT(*) AS n {chain}")
    assert chain in transpile(spark, sql).sql
    # a bare * in the subquery level holding the chain
    inner = ("SELECT * FROM customer JOIN orders ON c_custkey = o_custkey "
             "JOIN lineitem ON l_orderkey = o_orderkey")
    sql = f"SELECT COUNT(*) AS n FROM ({inner}) t"
    assert inner in transpile(spark, sql).sql
    assert "FROM lineitem, customer, orders" in transpile(
        spark, sql.replace("SELECT *", "SELECT c_name")).sql


@pytest.mark.parametrize("tail", [
    # a WHERE that ends in a group, before GROUP BY
    "ON l_orderkey = o_orderkey WHERE l_returnflag IN ('R', 'A') "
    "GROUP BY o_orderstatus",
    # ON conditions that end in a call, a parenthesized group, a CASE
    "ON l_orderkey = coalesce(o_orderkey, 0)",
    "ON (l_orderkey = o_orderkey) WHERE l_quantity > 1",
    "ON l_orderkey = CASE WHEN o_orderkey > 0 THEN o_orderkey END",
])
def test_inner_join_chain_keeps_groups_whole(spark, views, tail):
    """A reordered chain carries every ON condition and WHERE whole,
    a bracket group or CASE … END at its end included."""
    sql = ("SELECT COUNT(*) AS n FROM customer JOIN orders "
           f"ON c_custkey = o_custkey JOIN lineitem {tail}")
    got = run_query(spark, sql)
    assert "FROM lineitem, customer, orders WHERE" in got.sql
    assert got.df.collect() == spark.sql(sql).collect()


def test_from_inside_a_call_looks_up_no_table(spark, monkeypatch):
    """The FROM of ``EXTRACT(… FROM x)``, ``trim(… FROM x)`` and
    ``IS [NOT] DISTINCT FROM`` starts no table reference, so only the
    query's table is looked up in the catalog."""
    spark.sql("SELECT TIMESTAMP '2020-01-01 00:00:00' AS ts, 1 AS a, "
              "2 AS b, 'xsx' AS s").createOrReplaceTempView("t")
    looked_up = []
    table = spark.table
    monkeypatch.setattr(spark, "table",
                        lambda name: looked_up.append(name) or table(name))
    for sql in ("SELECT EXTRACT(YEAR FROM ts) AS y FROM t",
                "SELECT a IS DISTINCT FROM b AS d, "
                "a IS NOT DISTINCT FROM b AS e FROM t",
                "SELECT trim(BOTH 'x' FROM s) AS s FROM t"):
        looked_up.clear()
        transpile(spark, sql)
        assert looked_up == ["t"], sql
