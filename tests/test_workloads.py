"""Smoke-run every registered workload at sf0.001 and sanity-check the
entry() contract. Full DuckDB oracle comparison lives in
tools/check_correctness.py (and the driver's own gate at sf0.01)."""

from __future__ import annotations

import pytest

from octosql_spark.workloads import REGISTRY


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_workload_runs(spark, sf_dir, name):
    df = REGISTRY[name].build(spark, sf_dir)
    # schema is resolvable and the query executes
    assert df.columns
    assert df.count() >= 0


def test_entry_contract(spark):
    import __spark_entry__ as e
    df = e.entry(spark)
    assert df.count() > 0
    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 30


def test_approx_sketches_error_bounds(spark, sf_dir):
    """The entry emits exact distinct counts + sketch-contract
    booleans (its invariant oracle); all contracts must hold and the
    exact counts must match an independent computation."""
    from pyspark.sql import functions as F
    from octosql_spark.catalog import load_table
    row = REGISTRY["approx_sketches"].build(spark, sf_dir).first()
    li = load_table(spark, sf_dir, "lineitem")
    exact = li.agg(
        F.countDistinct("l_partkey").alias("nd_p"),
        F.countDistinct("l_orderkey").alias("nd_o")).first()
    assert row.nd_partkey == exact.nd_p
    assert row.nd_orderkey == exact.nd_o
    assert row.hll_partkey_ok and row.hll_orderkey_ok
    assert row.p50_ok and row.p99_ok


def test_sql_entry_rebinds_its_views(spark, sf_dir, tmp_path):
    """A SQL-built entry binds the tables its text names on every
    build: a view another caller re-pointed (as the differential fuzz
    test points ``nation`` at a file it reads itself) must not leak
    into an entry built for ``sf_dir``."""
    from octosql_spark.catalog import load_table
    from octosql_spark.sources import read_file
    w = REGISTRY["exists_correlated"]
    expected = sorted(w.build(spark, sf_dir).collect())
    assert len(expected) > 1
    csv = tmp_path / "nation.csv"
    csv.write_text("n_nationkey,n_name,n_regionkey,n_comment\n"
                   "0,NOWHERE,0,x\n")
    try:
        read_file(spark, str(csv)).createOrReplaceTempView("nation")
        assert spark.table("nation").count() == 1
        assert sorted(w.build(spark, sf_dir).collect()) == expected
    finally:
        load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
