"""Operator-level unit tests (the reference's golden-scenario idea —
tests/scenarios/nodes/* — as pytest cases over small DataFrames)."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from octosql_spark.operators import (
    anti_join, group_by, lookup_join, stream_join, unnest,
)
from octosql_spark.sql import run_query


def _left(spark):
    return spark.createDataFrame(
        [Row(k="a", v=1), Row(k="a", v=2), Row(k="b", v=3), Row(k="x", v=9)])


def _right(spark):
    return spark.createDataFrame(
        [Row(k2="a", w=10), Row(k2="b", w=20), Row(k2="z", w=30)])


def _sql(spark, query, **views):
    """Relational operators are SQL text: bind ``views`` and run
    ``query`` through the dialect front-end."""
    for name, df in views.items():
        df.createOrReplaceTempView(name)
    return run_query(spark, query).df


def test_stream_join_inner(spark):
    out = stream_join(_left(spark), _right(spark), [("k", "k2")])
    rows = {(r.k, r.v, r.w) for r in out.collect()}
    assert rows == {("a", 1, 10), ("a", 2, 10), ("b", 3, 20)}


def test_theta_join(spark):
    # mirrors tests/scenarios/nodes/inner_join_0.in: ON l.i > r.i
    l = spark.range(0, 4).select(F.col("id").alias("i"))
    r = spark.range(0, 4).select(F.col("id").alias("j"))
    out = _sql(spark, "SELECT * FROM op_l JOIN op_r ON i > j", op_l=l, op_r=r)
    assert out.count() == 6  # pairs i>j among 0..3


def test_outer_joins(spark):
    views = {"op_left": _left(spark), "op_right": _right(spark)}
    left = _sql(spark, "SELECT * FROM op_left LEFT JOIN op_right ON k = k2",
                **views)
    assert left.filter(F.col("w").isNull()).count() == 1  # k=x null-padded
    full = _sql(spark, "SELECT * FROM op_left FULL OUTER JOIN op_right "
                "ON k = k2", **views)
    assert full.count() == 5  # 3 matches + x + z


def test_semi_anti(spark):
    semi = _sql(spark, "SELECT k, v FROM op_left WHERE k IN "
                "(SELECT k2 FROM op_right)",
                op_left=_left(spark), op_right=_right(spark))
    assert {r.k for r in semi.collect()} == {"a", "b"}
    anti = anti_join(_left(spark), _right(spark), [("k", "k2")])
    assert {r.k for r in anti.collect()} == {"x"}


def test_lookup_join_is_broadcast(spark):
    out = lookup_join(_left(spark), _right(spark), [("k", "k2")])
    assert out.count() == 3
    assert "BroadcastHashJoin" in out._jdf.queryExecution().executedPlan().toString()


def test_cross_join(spark):
    out = _sql(spark, "SELECT * FROM op_left CROSS JOIN op_right",
               op_left=_left(spark), op_right=_right(spark))
    assert out.count() == 12


def test_group_by_aggregates(spark):
    df = _left(spark)
    out = group_by(df, ["k"], [
        ("count", "*", "n"), ("sum", "v", "s"), ("avg", "v", "a"),
        ("min", "v", "mn"), ("max", "v", "mx"),
    ])
    rows = {r.k: (r.n, r.s, r.a, r.mn, r.mx) for r in out.collect()}
    assert rows["a"] == (2, 3, 1.5, 1, 2)
    assert rows["b"] == (1, 3, 3.0, 3, 3)


def test_group_by_global_and_distinct(spark):
    df = spark.createDataFrame([Row(v=1), Row(v=1), Row(v=2)])
    out = group_by(df, [], [("count_distinct", "v", "nd"),
                            ("sum_distinct", "v", "sd"),
                            ("avg_distinct", "v", "ad")])
    r = out.collect()[0]
    assert (r.nd, r.sd, r.ad) == (2, 3, 1.5)


def test_count_skips_nulls(spark):
    # NULL inputs are skipped by aggregates (simple_group_by.go:45-147)
    df = spark.createDataFrame([Row(v=1), Row(v=None), Row(v=3)],
                               schema="v int")
    r = group_by(df, [], [("count", "v", "n"), ("sum", "v", "s")]).collect()[0]
    assert (r.n, r.s) == (2, 4)


def test_order_by_limit_topk(spark):
    df = spark.range(0, 100).select(F.col("id").alias("i"))
    out = _sql(spark, "SELECT i FROM op_i ORDER BY i DESC LIMIT 3", op_i=df)
    assert [r.i for r in out.collect()] == [99, 98, 97]
    assert "TakeOrderedAndProject" in \
        out._jdf.queryExecution().executedPlan().toString()


def test_distinct(spark):
    df = spark.createDataFrame([Row(a=1, b=1), Row(a=1, b=1), Row(a=1, b=2)])
    assert _sql(spark, "SELECT DISTINCT a, b FROM op_ab", op_ab=df).count() == 2
    assert _sql(spark, "SELECT DISTINCT a FROM op_ab", op_ab=df).count() == 1


def test_setops(spark):
    views = {
        "op_a": spark.createDataFrame([Row(x=1), Row(x=2), Row(x=2)]),
        "op_b": spark.createDataFrame([Row(x=2), Row(x=3)]),
    }

    def setop(op):
        return _sql(spark, f"SELECT x FROM op_a {op} SELECT x FROM op_b",
                    **views)
    assert setop("UNION ALL").count() == 5
    assert setop("UNION").count() == 3
    assert {r.x for r in setop("INTERSECT").collect()} == {2}
    assert {r.x for r in setop("EXCEPT").collect()} == {1}


def test_unnest(spark):
    df = spark.createDataFrame([Row(id=1, xs=[1, 2]), Row(id=2, xs=[]),
                                Row(id=3, xs=None)],
                               schema="id int, xs array<int>")
    flat = unnest(df, "xs", alias="x", keep=["id"])
    assert [(r.id, r.x) for r in flat.collect()] == [(1, 1), (1, 2)]
    outer = unnest(df, "xs", alias="x", keep=["id"], outer=True)
    assert outer.count() == 4  # empty + NULL arrays keep their row


def test_asof_join_semantics(spark):
    from datetime import datetime
    from pyspark.sql import Row
    from octosql_spark.operators.temporal import asof_join
    T = datetime
    trades = spark.createDataFrame([
        Row(trade_id=1, sym="A", ts=T(2024, 1, 1, 10, 0, 5)),
        Row(trade_id=2, sym="A", ts=T(2024, 1, 1, 10, 0, 0)),  # tie → incl
        Row(trade_id=3, sym="A", ts=T(2024, 1, 1, 9, 0, 0)),   # before all
        Row(trade_id=4, sym="B", ts=T(2024, 1, 1, 10, 0, 30)),
    ])
    quotes = spark.createDataFrame([
        Row(sym="A", ts=T(2024, 1, 1, 10, 0, 0), px=100.0),
        Row(sym="A", ts=T(2024, 1, 1, 10, 0, 4), px=101.0),
        Row(sym="B", ts=T(2024, 1, 1, 8, 0, 0), px=7.0),
    ])
    out = {r.trade_id: r.px for r in
           asof_join(trades, quotes, on="sym", value_cols=["px"]).collect()}
    assert out[1] == 101.0     # latest prior quote
    assert out[2] == 100.0     # equal timestamps match (inclusive)
    assert out[3] is None      # no prior quote → NULL (left join)
    assert out[4] == 7.0       # per-key isolation
    # tolerance discards stale matches
    tol = {r.trade_id: r.px for r in
           asof_join(trades, quotes, on="sym", value_cols=["px"],
                     tolerance="1 hour").collect()}
    assert tol[4] is None      # quote 2h30m old > 1h tolerance
    assert tol[1] == 101.0


def test_asof_join_tolerance_tracks_value_timestamp(spark):
    """A newer NULL-valued right snapshot must not launder a stale
    value past the tolerance: the tolerance compares against the
    timestamp of the row each value actually came from."""
    from datetime import datetime
    from pyspark.sql import Row
    from octosql_spark.operators.temporal import asof_join
    T = datetime
    trades = spark.createDataFrame([
        Row(trade_id=1, sym="A", ts=T(2024, 1, 1, 12, 0, 0))])
    quotes = spark.createDataFrame(
        [("A", T(2024, 1, 1, 8, 0, 0), 100.0),     # stale value
         ("A", T(2024, 1, 1, 11, 59, 0), None)],   # fresh, but NULL px
        "sym string, ts timestamp, px double")
    out = asof_join(trades, quotes, on="sym", value_cols=["px"],
                    tolerance="1 hour").collect()
    # pre-fix: _rts took the 11:59 row (inside tolerance) while px
    # carried the 8:00 value — stale 100.0 leaked through
    assert out[0].px is None
    # without tolerance the carried-forward value is still the stale
    # one (last non-null), unchanged semantics
    out2 = asof_join(trades, quotes, on="sym", value_cols=["px"]).collect()
    assert out2[0].px == 100.0


def test_range_join_bin_boundaries(spark):
    from datetime import datetime
    from pyspark.sql import Row
    from octosql_spark.operators.temporal import range_join
    T = datetime
    ivs = spark.createDataFrame([
        # spans multiple 60s bins
        Row(k="x", iv=1, s=T(2024, 1, 1, 0, 0, 30), e=T(2024, 1, 1, 0, 3, 30)),
        Row(k="x", iv=2, s=T(2024, 1, 1, 0, 5, 0), e=T(2024, 1, 1, 0, 5, 59)),
        Row(k="y", iv=3, s=T(2024, 1, 1, 0, 0, 0), e=T(2024, 1, 1, 0, 9, 0)),
    ])
    pts = spark.createDataFrame([
        Row(k="x", p=1, ts=T(2024, 1, 1, 0, 2, 0)),    # inside iv1, mid-bin
        Row(k="x", p=2, ts=T(2024, 1, 1, 0, 3, 30)),   # == end (inclusive)
        Row(k="x", p=3, ts=T(2024, 1, 1, 0, 4, 0)),    # in no interval
        Row(k="x", p=4, ts=T(2024, 1, 1, 0, 0, 30)),   # == start (inclusive)
        Row(k="y", p=5, ts=T(2024, 1, 1, 0, 2, 0)),    # other key
    ])
    out = range_join(ivs, pts, on="k", start_col="s", end_col="e",
                     point_col="ts", bin_seconds=60)
    got = {(r.iv, r.p) for r in out.collect()}
    assert got == {(1, 1), (1, 2), (1, 4), (3, 5)}
    # exactly one row per matched pair (no bin-straddle duplicates)
    assert out.count() == len(got)


def test_funnel_ordering_and_span(spark):
    from datetime import datetime
    from octosql_spark.operators.temporal import funnel
    T = datetime
    rows = [
        # user 1: full ordered funnel
        (1, T(2024, 1, 1, 10), "view"), (1, T(2024, 1, 1, 11), "click"),
        (1, T(2024, 1, 1, 12), "purchase"),
        # user 2: purchase BEFORE click -> stops at click
        (2, T(2024, 1, 2, 10), "view"), (2, T(2024, 1, 2, 9), "purchase"),
        (2, T(2024, 1, 2, 11), "click"),
        # user 3: view only
        (3, T(2024, 1, 3, 10), "view"),
        # user 4: click with no prior view -> never enters
        (4, T(2024, 1, 4, 10), "click"),
    ]
    ev = spark.createDataFrame(
        [(u, t, s) for u, t, s in rows],
        "user_id long, ts timestamp, event_type string")
    got = {r.step: r.users
           for r in funnel(ev, ["view", "click", "purchase"]).collect()}
    assert got == {"view": 3, "click": 2, "purchase": 1}
    # max_span: user 1's purchase is 2h after first view; a 1 hour cap
    # keeps the click (1h) but drops the purchase
    got2 = {r.step: r.users
            for r in funnel(ev, ["view", "click", "purchase"],
                            max_span="1 hour").collect()}
    assert got2 == {"view": 3, "click": 2, "purchase": 0}


def test_retention_cohorts_offsets(spark):
    from datetime import datetime
    from octosql_spark.operators.temporal import retention_cohorts
    T = datetime
    rows = [
        (1, T(2024, 1, 1, 9), "signup"),    # Mon wk0 cohort
        (1, T(2024, 1, 10, 9), "view"),     # wk1
        (1, T(2024, 1, 16, 9), "click"),    # wk2
        (2, T(2024, 1, 3, 9), "signup"),    # same cohort week
        (2, T(2024, 1, 4, 9), "view"),      # wk0
        (3, T(2023, 12, 30, 9), "view"),    # never signs up -> excluded
    ]
    ev = spark.createDataFrame(rows,
                               "user_id long, ts timestamp, event_type string")
    got = {(r.cohort_week.date().isoformat(), r.week_offset): r.active_users
           for r in retention_cohorts(ev).collect()}
    # both users' signup events land in the Mon 2024-01-01 week
    assert got[("2024-01-01", 0)] == 2   # signup events themselves count
    assert got[("2024-01-01", 1)] == 1   # user 1 active in week 1
    assert got[("2024-01-01", 2)] == 1
    assert all(k[0] == "2024-01-01" for k in got)


def test_interval_concurrency_closed_semantics(spark):
    """Hand-computed sweep: closed intervals, starts apply before ends
    at a tied instant, zero-length intervals count 1 at their
    instant, concurrency carries across bucket boundaries."""
    from datetime import datetime
    from octosql_spark.operators.temporal import interval_concurrency
    iv = spark.createDataFrame([
        # two overlapping in hour 0
        (datetime(2024, 1, 1, 0, 10), datetime(2024, 1, 1, 0, 40)),
        (datetime(2024, 1, 1, 0, 30), datetime(2024, 1, 1, 1, 20)),
        # zero-length at 00:30 — counts at its instant (peak 3 there)
        (datetime(2024, 1, 1, 0, 30), datetime(2024, 1, 1, 0, 30)),
        # overlaps interval 2 across the hour-1/hour-2 boundary
        (datetime(2024, 1, 1, 1, 10), datetime(2024, 1, 1, 2, 5)),
    ], "start timestamp, end timestamp")
    got = {r.bucket.hour: r.peak
           for r in interval_concurrency(iv, "start", "end").collect()}
    # hour 0: at 00:30 three starts are live before any end applies
    # hour 1: intervals 2 and 4 overlap at 01:10..01:20 -> 2
    # hour 2: interval 4 carried in, its end instant alone -> 1
    assert got == {0: 3, 1: 2, 2: 1}


def test_interval_concurrency_matches_bruteforce_random(spark):
    """Randomized cross-check: the decomposed two-level prefix-sum
    must equal the closed-interval definition (active(t) =
    #{s <= t <= e}, peak per hour = max over event instants) computed
    brute-force in Python."""
    import random
    from datetime import datetime, timedelta
    from octosql_spark.operators.temporal import interval_concurrency
    rng = random.Random(7)
    base = datetime(2024, 3, 1)
    for trial in range(5):
        iv = [(rng.randrange(0, 300), rng.randrange(0, 120))
              for _ in range(rng.randrange(1, 12))]
        rows = [(base + timedelta(minutes=s),
                 base + timedelta(minutes=s + d)) for s, d in iv]
        expected: dict = {}
        instants = sorted({t for r in rows for t in r})
        for t in instants:
            active = sum(1 for s, e in rows if s <= t <= e)
            hour = t.replace(minute=0, second=0, microsecond=0)
            expected[hour] = max(expected.get(hour, 0), active)
        df = spark.createDataFrame(rows, "start timestamp, end timestamp")
        got = {r.bucket: r.peak
               for r in interval_concurrency(df, "start", "end").collect()}
        assert got == expected, f"trial {trial}: {iv}"


def test_rolling_zscore_matches_bruteforce_random(spark):
    """Randomized cross-check of the exact-integer-moment z-score
    against plain Python arithmetic (same formula, same rounding)."""
    import random
    from datetime import datetime, timedelta
    from octosql_spark.operators.temporal import rolling_zscore
    rng = random.Random(11)
    base = datetime(2024, 3, 1)
    for trial in range(4):
        vals = [rng.randrange(0, 30) for _ in range(rng.randrange(4, 16))]
        rows = [(base + timedelta(hours=i), v) for i, v in enumerate(vals)]
        df = spark.createDataFrame(rows, "bucket timestamp, n long")
        got = {r.bucket: (r.trail_mean, r.trail_std, r.zscore)
               for r in rolling_zscore(df, "bucket", "n",
                                       trailing=5).collect()}
        for i, v in enumerate(vals):
            window = vals[max(0, i - 5):i]
            t = rows[i][0]
            if len(window) < 2:
                assert got[t] == (None, None, None)
                continue
            s1, s2, c = sum(window), sum(x * x for x in window), len(window)
            mean = s1 / c
            var = (s2 - s1 * s1 / c) / (c - 1)
            std = var ** 0.5
            assert abs(got[t][0] - round(mean, 6)) < 1e-9
            assert abs(got[t][1] - round(std, 6)) < 1e-9
            if var > 0:
                assert abs(got[t][2] - round((v - mean) / std, 6)) < 1e-9
            else:
                assert got[t][2] is None


def test_global_ntile_matches_window_ntile(spark):
    """global_ntile is bit-equal to F.ntile over a total order, for
    sizes that hit every bucket-arithmetic branch (n % k == 0, n < k,
    ragged), across multiple partitions — without compiling the data
    path to a single-partition window."""
    import random

    from pyspark.sql.window import Window

    from octosql_spark.operators.order_limit import global_ntile

    rng = random.Random(42)
    for n, k in [(1000, 5), (7, 10), (23, 4), (100, 5)]:
        rows = [(i, rng.randint(0, 50)) for i in range(n)]
        df = spark.createDataFrame(rows, "id long, v long").repartition(8)
        order = [F.col("v").asc(), F.col("id").asc()]
        got = {r.id: r.tile
               for r in global_ntile(df, k, order, "tile").collect()}
        want = {r.id: r.tile for r in df.select(
            "id", F.ntile(k).over(Window.orderBy("v", "id"))
            .alias("tile")).collect()}
        assert got == want, (n, k)


def test_rfm_plan_has_no_data_singlepartition_sort(spark):
    """The RFM gate entry's quintiles run on the distributed NTILE:
    every Exchange SinglePartition left in the executed plan feeds a
    #partitions-row offset table (its input is a partial_count
    aggregate), never the customer rollup itself."""
    from octosql_spark.workloads import REGISTRY

    df = REGISTRY["customer_rfm_segments"].build(
        spark, "/root/testdata/sf0.001")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower()
    # the data path must not window-sort on a single partition: no
    # ntile over an empty partition spec survives in the plan
    assert "ntile" not in plan.lower()


def test_global_ntile_property_random(spark):
    """Property check on random multisets (with heavy ties broken by
    id) and random k: global_ntile equals the window NTILE exactly.
    Driven by a seeded RNG over 12 cases rather than hypothesis —
    each case costs two Spark jobs."""
    import random

    from pyspark.sql.window import Window

    from octosql_spark.operators.order_limit import global_ntile

    rng = random.Random(7)
    for _ in range(12):
        n = rng.randint(1, 400)
        k = rng.randint(2, 12)
        dup = rng.choice([1, 3, 50])  # tie density
        rows = [(i, rng.randint(0, max(1, n // dup))) for i in range(n)]
        df = spark.createDataFrame(rows, "id long, v long") \
                  .repartition(rng.choice([1, 4, 16]))
        order = [F.col("v").asc(), F.col("id").asc()]
        got = {r.id: r.tile
               for r in global_ntile(df, k, order, "tile").collect()}
        want = {r.id: r.tile for r in df.select(
            "id", F.ntile(k).over(Window.orderBy("v", "id"))
            .alias("tile")).collect()}
        assert got == want, (n, k, dup)
