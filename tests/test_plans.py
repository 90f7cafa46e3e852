"""Catalyst does the reference's optimizer rewrites (SURVEY.md §4: its
8 optimizer rules are Catalyst builtins) — checked on the physical
plans of SQL text run through the dialect front-end."""

from __future__ import annotations

import pytest

from octosql_spark.catalog import register_views
from octosql_spark.sql import run_query


@pytest.fixture(scope="module", autouse=True)
def views(spark, sf_dir):
    return register_views(spark, sf_dir)


def _physical(query: str, spark) -> str:
    df = run_query(spark, query).df
    return df._jdf.queryExecution().executedPlan().toString()


def test_catalyst_pushes_filter_into_scan(spark):
    # rule 1/7 equivalents: predicate pushdown + column pruning
    phys = _physical("SELECT l_orderkey FROM lineitem WHERE l_quantity > 10",
                     spark)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,10.0)" \
        in phys
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in phys


def test_catalyst_extracts_equi_join_keys(spark):
    # rule 4 equivalent: `l.x = r.y AND l.a > r.b` → hash join on x=y
    phys = _physical("SELECT * FROM supplier JOIN customer "
                     "ON s_nationkey = c_nationkey AND s_acctbal > c_acctbal",
                     spark)
    assert "Join" in phys and "Cartesian" not in phys


def test_catalyst_merges_filters(spark):
    # rule 8 equivalent: Filter(Filter(x)) folds into one scan filter
    phys = _physical("SELECT * FROM (SELECT * FROM orders "
                     "WHERE o_totalprice > 100) WHERE o_orderstatus = 'F'",
                     spark)
    assert phys.count("Filter (") <= 1
