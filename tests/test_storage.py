"""Storage-layout scale tools: salted skew joins, skew profiles,
incremental rollups, SCD2 and Z-order keys, plus partition pruning and
columnar formats through the SQL front end."""

from __future__ import annotations

from pyspark.sql import functions as F

from octosql_spark.storage import salted_join


def test_salted_join_matches_plain_join(spark):
    # one pathologically hot key (90% of rows)
    left = spark.range(0, 10_000).select(
        F.when(F.col("id") % 10 < 9, 7).otherwise(F.col("id") % 100)
        .alias("k"),
        F.col("id").alias("v"))
    right = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("w"))
    plain = left.join(right, ["k"])
    salted = salted_join(left, right, ["k"], salt=8)
    assert salted.count() == plain.count()
    a = {(r.k, r.v, r.w) for r in plain.collect()}
    b = {(r.k, r.v, r.w) for r in salted.collect()}
    assert a == b


def test_salted_left_join(spark):
    left = spark.range(0, 100).select((F.col("id") % 7).alias("k"),
                                      F.col("id").alias("v"))
    right = spark.range(0, 3).select(F.col("id").alias("k"),
                                     F.lit("x").alias("w"))
    plain = left.join(right, ["k"], "left")
    salted = salted_join(left, right, ["k"], how="left", salt=4)
    assert salted.count() == plain.count() == 100
    assert salted.filter(F.col("w").isNull()).count() == \
        plain.filter(F.col("w").isNull()).count()


def test_partitioned_write_prunes(spark, tmp_path):
    from octosql_spark.sql import run_query
    df = spark.range(0, 1000).select(
        F.col("id").alias("v"),
        F.when(F.col("id") % 3 == 0, "en").when(F.col("id") % 3 == 1, "fr")
        .otherwise("de").alias("lang"))
    p = str(tmp_path / "part.parquet")
    df.write.mode("overwrite").partitionBy("lang").parquet(p)
    back = run_query(spark, f"SELECT v, lang FROM '{p}' WHERE lang = 'en'").df
    plan = back._jdf.queryExecution().executedPlan().toString()
    # the lang=en predicate prunes partitions at planning time
    import re
    assert re.search(r"PartitionFilters: \[[^\]]*lang", plan), plan
    assert back.count() == 334
    # only the en directory is read
    scans = [l for l in plan.splitlines() if "Location" in l]
    assert all("lang=fr" not in l for l in scans)


def test_key_skew_profile_values(spark):
    from pyspark.sql import functions as F
    from octosql_spark.storage import key_skew_profile
    df = spark.createDataFrame(
        [(k,) for k in [1] * 8 + [2] * 2 + [3] * 2], "k long")
    r = key_skew_profile(df, "k").collect()[0]
    assert r.n_keys == 3 and r.n_rows == 12 and r.max_per_key == 8
    assert r.avg_per_key == 4.0 and r.skew_ratio == 2.0
    assert r.p50_per_key == 2.0  # counts [2,2,8] -> median 2


def test_orc_roundtrip_and_query(spark, tmp_path):
    """ORC joins the columnar format surface: write nation as ORC,
    read through the extension dispatcher, filter-pushdown query
    through the SQL front end."""
    from octosql_spark.catalog import load_table
    from octosql_spark.sources import read_file
    n = load_table(spark, "/root/testdata/sf0.001", "nation")
    dst = str(tmp_path / "nation_orc")
    n.write.mode("overwrite").orc(dst)
    import glob
    part = glob.glob(dst + "/*.orc")[0]
    back = read_file(spark, part)
    assert back.count() == n.count()
    assert sorted(back.columns) == sorted(n.columns)
    got = back.filter("n_regionkey = 2").count()
    want = n.filter("n_regionkey = 2").count()
    assert got == want


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Files written under an evolving schema read as one table with
    mergeSchema: old files surface NULL for the added column."""
    from octosql_spark.sources import read_file
    from octosql_spark.sources.files import read_parquet
    d = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, name string") \
        .write.mode("append").parquet(d)
    spark.createDataFrame([(2, "b", 9.5)],
                          "id long, name string, score double") \
        .write.mode("append").parquet(d)
    merged = read_parquet(spark, d, mergeSchema=True)
    assert sorted(merged.columns) == ["id", "name", "score"]
    rows = {r.id: r.score for r in merged.collect()}
    assert rows[1] is None and rows[2] == 9.5


def test_merge_rollup_incremental_equals_full(spark, tmp_path):
    """Folding increments one at a time must equal the one-shot
    aggregate over all rows (mergeable partials), at O(groups) state."""
    from octosql_spark.storage import merge_rollup
    path = str(tmp_path / "rollup")
    batches = [
        [("a", 1.0), ("a", 3.0), ("b", 5.0)],
        [("a", 2.0), ("c", 7.0)],
        [("b", 1.0), ("c", 9.0), ("c", 0.5)],
    ]
    for rows in batches:
        inc = spark.createDataFrame(rows, "k string, v double")
        merge_rollup(spark, path, inc, ["k"],
                     [("count", "v"), ("sum", "v"),
                      ("min", "v"), ("max", "v")])
    got = {r.k: (r.n, r.sum_v, r.min_v, r.max_v)
           for r in spark.read.parquet(path).collect()}
    full = spark.createDataFrame(
        [x for rows in batches for x in rows], "k string, v double")
    from pyspark.sql import functions as F
    want = {r.k: (r.n, r.sum_v, r.min_v, r.max_v)
            for r in full.groupBy("k").agg(
                F.count(F.lit(1)).alias("n"), F.sum("v").alias("sum_v"),
                F.min("v").alias("min_v"), F.max("v").alias("max_v"))
            .collect()}
    assert got == want


def test_scd2_build_hand_fixture(spark):
    from octosql_spark.storage import scd2_build
    rows = [
        # key 1: a,a,b,b,a  -> versions a(t1..t3), b(t3..t5), a(t5..)
        (1, "a", 1, 10), (1, "a", 2, 11), (1, "b", 3, 12),
        (1, "b", 4, 13), (1, "a", 5, 14),
        # key 2: single record, NULL attr -> one current version
        (2, None, 1, 20),
        # key 3: NULL -> NULL collapse (null-safe), then x
        (3, None, 1, 30), (3, None, 2, 31), (3, "x", 3, 32),
    ]
    df = spark.createDataFrame(rows, "k int, attr string, ts int, id int")
    out = scd2_build(df, ["k"], ["attr"], ts_col="ts",
                     tiebreak_cols=["id"])
    got = sorted(map(tuple, out.select(
        "k", "attr", "valid_from", "valid_to", "version",
        "is_current").collect()), key=lambda t: (t[0], t[4]))
    assert got == [
        (1, "a", 1, 3, 1, False), (1, "b", 3, 5, 2, False),
        (1, "a", 5, None, 3, True),
        (2, None, 1, None, 1, True),
        (3, None, 1, 3, 1, False), (3, "x", 3, None, 2, True),
    ]


def test_scd2_single_shuffle(spark):
    """Both window passes must share one hash Exchange on the key."""
    from octosql_spark.storage import scd2_build
    df = spark.createDataFrame(
        [(1, "a", 1, 1)], "k int, attr string, ts int, id int")
    plan = (scd2_build(df, ["k"], ["attr"], ts_col="ts",
                       tiebreak_cols=["id"])
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Exchange hashpartitioning") == 1


def test_zorder_tightens_file_bounding_boxes(spark, tmp_path):
    """Z-ordered files must cover far smaller (partkey × suppkey)
    bounding boxes than a single-column sort — that area is exactly
    what parquet min/max stats let a 2-predicate scan skip."""
    import pyspark.sql.functions as F
    from octosql_spark.catalog import load_table
    from octosql_spark.storage import zorder_key
    li = load_table(spark, "/root/testdata/sf0.001", "lineitem") \
        .select("l_orderkey", "l_partkey", "l_suppkey")
    nat, zord = str(tmp_path / "nat"), str(tmp_path / "zord")
    # "natural": sorted by orderkey only (the ingest order layout)
    (li.repartitionByRange(8, "l_orderkey")
     .sortWithinPartitions("l_orderkey").write.parquet(nat))
    # z-order: range-partition on the Morton key, sort within files
    (zorder_key(li, ["l_partkey", "l_suppkey"])
     .repartitionByRange(8, "zvalue").sortWithinPartitions("zvalue")
     .drop("zvalue").write.parquet(zord))

    def mean_bbox_area(path):
        df = spark.read.parquet(path)
        spans = {c: df.agg(F.max(c) - F.min(c)).collect()[0][0] or 1
                 for c in ("l_partkey", "l_suppkey")}
        per_file = (df.groupBy(F.input_file_name())
                    .agg(*[e for c in ("l_partkey", "l_suppkey")
                           for e in (F.min(c).alias("mn_" + c),
                                     F.max(c).alias("mx_" + c))])
                    .collect())
        areas = [((r["mx_l_partkey"] - r["mn_l_partkey"])
                  / spans["l_partkey"])
                 * ((r["mx_l_suppkey"] - r["mn_l_suppkey"])
                    / spans["l_suppkey"])
                 for r in per_file]
        return sum(areas) / len(areas)

    # row set is preserved
    assert (spark.read.parquet(zord).count() == li.count())
    nat_area, z_area = mean_bbox_area(nat), mean_bbox_area(zord)
    # orderkey sort leaves ~full-span boxes (~1.0); z-order boxes
    # shrink toward 1/n_files — demand at least a 2x tightening
    assert z_area < nat_area / 2, (nat_area, z_area)


def test_zorder_key_guards(spark):
    from octosql_spark.storage import zorder_key
    df = spark.range(4).select(F.col("id").alias("a"),
                               F.col("id").alias("b"))
    try:
        zorder_key(df, ["a", "b"], bits=32)
        assert False, "2*32 bits must be rejected"
    except ValueError:
        pass
    # constant column (span 0) quantizes to 0 without dividing by zero
    const = spark.range(4).select(F.col("id").alias("a"),
                                  F.lit(7).alias("b"))
    vals = [r["zvalue"] for r in
            zorder_key(const, ["a", "b"], bits=4).collect()]
    assert len(set(vals)) == 4
    # empty / all-null input: clear error, not 'None' spliced into SQL
    empty = spark.createDataFrame([(None, None)], "a long, b long")
    try:
        zorder_key(empty, ["a", "b"], bits=4)
        assert False, "all-null column must be rejected"
    except ValueError as ex:
        assert "non-null" in str(ex)


def test_zorder_key_wide_span_no_overflow(spark):
    """bigint spans beyond 2^47 (epoch-nanos keys) take the pre-scale
    path: quantization must stay monotone in [0, 2^bits) instead of
    wrapping negative under the multiply-then-div formula."""
    from octosql_spark.storage import zorder_key
    lo, hi = 0, 1_700_000_000_000_000_000  # ~2^60.6 nanos span
    vals = [lo, hi // 4, hi // 2, hi - 1, hi]
    df = spark.createDataFrame([(v, 1) for v in vals], "a long, b long")
    got = {r["a"]: r["zvalue"]
           for r in zorder_key(df, ["a", "b"], bits=16).collect()}
    assert all(v >= 0 for v in got.values())
    ordered = [got[v] for v in vals]
    assert ordered == sorted(ordered)  # monotone in the single dim
    assert got[hi] > got[lo]  # spread across buckets, not collapsed


def test_scd2_build_matches_python_model(spark):
    """Differential check on randomized feeds: scd2_build must equal a
    direct Python fold (sort per key by (ts, id), emit on null-safe
    attr change, stitch valid_to from the next emit)."""
    import random
    from collections import defaultdict
    from octosql_spark.storage import scd2_build
    rnd = random.Random(7)
    for _ in range(3):
        rows = [(rnd.randint(1, 5), rnd.choice(["a", "b", None]),
                 rnd.randint(1, 20), i) for i in range(120)]
        per = defaultdict(list)
        for k, a, ts, i in rows:
            per[k].append((ts, i, a))
        want = []
        for k, evs in per.items():
            evs.sort(key=lambda t: (t[0], t[1]))
            vers = []
            for ts, i, a in evs:
                if vers and a == vers[-1][1]:
                    continue
                vers.append((ts, a))
            for idx, (ts, a) in enumerate(vers):
                vt = vers[idx + 1][0] if idx + 1 < len(vers) else None
                want.append((k, a, ts, vt, idx + 1, vt is None))
        df = spark.createDataFrame(
            rows, "k int, attr string, ts int, id int")
        got = [tuple(r) for r in
               scd2_build(df, ["k"], ["attr"], ts_col="ts",
                          tiebreak_cols=["id"])
               .select("k", "attr", "valid_from", "valid_to",
                       "version", "is_current").collect()]
        assert sorted(got, key=lambda t: (t[0], t[4])) == \
            sorted(want, key=lambda t: (t[0], t[4]))
