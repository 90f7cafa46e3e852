"""Seed-regression tests for the plan-audit forced-broadcast rule.

The rule (tools/plan_audit.py:forced_broadcast_flags) must flag a
forced ``F.broadcast`` of an SF-scaled base-table scan — the shape
that OOMs at cluster scale because the hint bypasses the 64 MB
auto-gate — while staying silent on the legitimate hint shapes:
bounded dims (nation/region), 1-row global aggregates, LIMITed
subtrees, and un-hinted joins the size gate resolves on its own.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from plan_audit import (  # noqa: E402
    _single_row_joins_ok, audit, forced_broadcast_flags,
)
from octosql_spark.catalog import load_table  # noqa: E402


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


def test_flags_forced_broadcast_of_scaled_scan(spark, sf_dir):
    # the seeded regression: re-add the hint the r4 cleanup removed
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    df = o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
    flags = forced_broadcast_flags(df)
    assert flags == ["forced broadcast of SF-scaled customer scan"]


def test_flags_filtered_scaled_scan_too(spark, sf_dir):
    # a filter does NOT bound the subtree — filtered part is still
    # SF-scaled (q17's old shape)
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "SMALL")
    df = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    assert forced_broadcast_flags(df) == [
        "forced broadcast of SF-scaled part scan"]


def test_no_flag_on_nation_region(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    df = c.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
    assert forced_broadcast_flags(df) == []


def test_no_flag_on_global_aggregate(spark, sf_dir):
    # 1-row aggregate derived from a scaled table: bounded, hint OK
    c = _t(spark, sf_dir, "customer")
    mx = c.agg(F.max("c_acctbal").alias("_m"))
    df = c.join(F.broadcast(mx), F.col("c_acctbal") == F.col("_m"))
    assert forced_broadcast_flags(df) == []


def test_no_flag_on_limited_subtree(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    top = c.orderBy("c_custkey").limit(10).select(
        F.col("c_custkey").alias("k"))
    df = c.join(F.broadcast(top), F.col("c_custkey") == F.col("k"))
    assert forced_broadcast_flags(df) == []


def test_grouped_aggregate_is_not_bounding(spark, sf_dir):
    # per-part aggregate is part-scaled: grouping keys grow with SF,
    # so a grouped Aggregate must NOT exempt the hint
    li = _t(spark, sf_dir, "lineitem")
    per_part = (li.groupBy(F.col("l_partkey").alias("_pk"))
                .agg(F.avg("l_quantity").alias("_avg")))
    df = li.join(F.broadcast(per_part), F.col("l_partkey") == F.col("_pk"))
    assert forced_broadcast_flags(df) == [
        "forced broadcast of SF-scaled lineitem scan"]


def test_no_flag_without_hint(spark, sf_dir):
    # auto-gate broadcasts at small SFs are fine — only the HINT is
    # the anti-pattern
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    df = o.join(c, F.col("o_custkey") == F.col("c_custkey"))
    assert forced_broadcast_flags(df) == []


def test_audit_respects_broadcast_ok(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    df = o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
    assert any("forced broadcast" in f for f in audit("x", df))
    assert not any("forced broadcast" in f
                   for f in audit("x", df, broadcast_ok=True))


def test_single_row_waiver_allows_scalar_cross(spark, sf_dir):
    # the approx_sketches shape: global aggregates cross-joined one
    # row at a time — allowed by the NARROW waiver (ADVICE r11)
    li = _t(spark, sf_dir, "lineitem")
    a = li.agg(F.sum("l_quantity").alias("_a"))
    b = li.agg(F.max("l_extendedprice").alias("_b"))
    c = li.agg(F.count(F.lit(1)).alias("_c"))
    df = a.crossJoin(b).crossJoin(c)
    assert not any("cartesian" in f.lower()
                   for f in audit("x", df, cartesian_ok="single_row"))


def test_single_row_waiver_flags_real_cartesian(spark, sf_dir):
    # a data-sized cartesian must NOT ride the narrow waiver — this is
    # exactly the regression the blanket cartesian_ok=True would hide
    o = _t(spark, sf_dir, "orders").select("o_orderkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    df = o.crossJoin(c)
    assert any("single-row" in f
               for f in audit("x", df, cartesian_ok="single_row"))
    # the blanket waiver still exempts it (legacy cross-product
    # entries), and no waiver flags it
    assert not any("cartesian" in f.lower()
                   for f in audit("x", df, cartesian_ok=True))
    assert any("cartesian" in f.lower() for f in audit("x", df))


def test_single_row_waiver_flags_one_bounded_side(spark, sf_dir):
    # single-row on ONE side only is still a data-sized join fan-out
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    a = li.agg(F.count(F.lit(1)).alias("_a"))
    df = li.crossJoin(a)
    assert any("single-row" in f
               for f in audit("x", df, cartesian_ok="single_row"))


def test_single_row_check_fails_closed_past_blank_line():
    # a cross join printed after the tree's first blank line (a
    # subquery section) is not parsed; the check must not pass it
    first = (
        "BroadcastNestedLoopJoin BuildRight, Cross\n"
        ":- HashAggregate(keys=[], functions=[sum(a#1)])\n"
        "+- BroadcastExchange IdentityBroadcastMode\n"
        "   +- HashAggregate(keys=[], functions=[max(b#2)])\n")
    assert _single_row_joins_ok(first)
    hidden = (first + "\nSubquery:1 Hosting operator id = 1\n"
              "CartesianProduct\n"
              ":- FileScan parquet [o_orderkey#3]\n"
              "+- FileScan parquet [c_custkey#4]\n")
    assert not _single_row_joins_ok(hidden)
