"""In-function persist hygiene (r7 verdict #4): library callers who
chain operators WITHOUT the registry checker's
``session.release_cached`` cleanup must not leak executor storage —
the parallel-prefix operators rely on Catalyst exchange reuse, not a
persist, for boundary consistency."""
import pyspark.sql.functions as F


def _persistent_rdd_count(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_chained_operators_leave_no_persistent_rdds(spark):
    """weighted_sample_wor (k > driver cutoff) → global_ntile →
    edit_distance_pairs, each materialized, no release_cached: the
    storage registry stays empty (r7: each leaked one cached frame
    until session teardown)."""
    from octosql_spark.datapipe.curate import weighted_sample_wor
    from octosql_spark.datapipe.dedup import edit_distance_pairs
    from octosql_spark.operators.order_limit import global_ntile

    before = _persistent_rdd_ids(spark)
    df = spark.range(2000).selectExpr(
        "id AS doc_id", "cast(id % 37 + 1 as double) AS n_chars",
        "concat('w', cast(id % 211 as string)) AS text")
    s = weighted_sample_wor(df, k=500, driver_topk_max=100)
    assert s.count() == 500
    nt = global_ntile(df, 4, [F.col("n_chars").asc(),
                              F.col("doc_id").asc()])
    assert nt.count() == 2000
    ed = edit_distance_pairs(df.limit(200), max_dist=1)
    ed.count()
    # an earlier test's RDD may be released meanwhile: compare ids, so
    # one release cannot hide one leak
    assert _persistent_rdd_ids(spark) - before == set()


def test_parallel_prefix_reuses_range_exchange(spark):
    """Boundary consistency without the cache: the offset table and
    the final join canonicalize to the same range Exchange, so the
    final adaptive plan carries a ReusedExchange over the
    rangepartitioning node — one shuffle, identical boundaries on
    both subtrees."""
    from octosql_spark.operators.order_limit import global_ntile
    from pyspark.sql.window import Window

    df = spark.range(50000).selectExpr(
        "id", "cast(id % 997 as double) AS v")
    order = [F.col("v").asc(), F.col("id").asc()]
    out = global_ntile(df, 7, order)
    got = {(r.id, r.tile) for r in out.collect()}
    want = {(r.id, r.tile) for r in df.withColumn(
        "tile", F.ntile(7).over(Window.orderBy(*order))).collect()}
    assert got == want
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan and "rangepartitioning" in plan


def test_reuse_disabled_falls_back_to_persist(spark):
    """With spark.sql.exchange.reuse=false the two range-exchange
    subtrees would sample boundaries independently — the operators
    must fall back to the consistency persist and stay exact
    (r8 review finding)."""
    from octosql_spark.operators.order_limit import global_ntile
    from octosql_spark.session import release_cached
    from pyspark.sql.window import Window

    old = spark.conf.get("spark.sql.exchange.reuse", "true")
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try:
        df = spark.range(20000).selectExpr(
            "id", "cast(id % 83 as double) AS v")
        order = [F.col("v").asc(), F.col("id").asc()]
        out = global_ntile(df, 5, order)
        got = {(r.id, r.tile) for r in out.collect()}
        want = {(r.id, r.tile) for r in df.withColumn(
            "tile", F.ntile(5).over(Window.orderBy(*order))).collect()}
        assert got == want
        assert _persistent_rdd_count(spark) > 0  # fallback engaged
    finally:
        spark.conf.set("spark.sql.exchange.reuse", old)
        release_cached(spark)
