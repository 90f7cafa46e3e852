"""Joins (SURVEY.md §2.3).

The reference has exactly three physical joins — symmetric-hash
StreamJoin (execution/nodes/stream_join.go:40-318), null-padding
OuterJoin (execution/nodes/outer_join.go:33-289) and a dependent
nested-loop LookupJoin (execution/nodes/lookup_join.go:21-50) — because
it is a single-process engine. On Spark we declare the join and let
Catalyst pick broadcast-hash / shuffle-hash / sort-merge / BNLJ;
AQE re-plans skew at runtime.

Scale notes:
- ``lookup_join`` maps the reference's per-left-row re-query semantics
  to an explicit ``broadcast`` hint: the right side is the small,
  indexed side (README.md:399-404 uses it for per-key database
  lookups). At 100 TB the left side streams through executors and the
  right side ships once — no shuffle of the big side.
- Theta, outer, cross and semi joins are written as SQL text (the
  registry's ``join_*`` entries): Catalyst's ``ExtractEquiJoinKeys``
  pulls equality conjuncts out of a non-equi ON — the rewrite of
  optimizer/push_filter_into_stream_join_key.go:8-100, done for us.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _key_condition(left: DataFrame, right: DataFrame,
                   on: Sequence[str] | Sequence[tuple[str, str]]) -> Column:
    """Build an equi-join condition from key names.

    ``on`` is either column names common to both sides, or
    ``(left_col, right_col)`` pairs — mirroring the reference's join
    keys being pairs of expressions (logical/join.go:79-106).
    """
    conds = []
    for k in on:
        if isinstance(k, tuple):
            lk, rk = k
        else:
            lk = rk = k
        conds.append(left[lk] == right[rk])
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def stream_join(left: DataFrame, right: DataFrame,
                on: Sequence[str] | Sequence[tuple[str, str]] | Column,
                how: str = "inner") -> DataFrame:
    """Equi join — the reference's default STREAM JOIN
    (execution/nodes/stream_join.go:40-318). Batch inputs are streams
    that end, so a plain DataFrame join has identical semantics."""
    if isinstance(on, Column):
        return left.join(right, on, how)
    if on and not isinstance(on[0], tuple):
        # name-equality join: Spark coalesces the key columns
        return left.join(right, list(on), how)
    return left.join(right, _key_condition(left, right, on), how)


_BROADCAST_HINT_MAX_BYTES = 256 * 1024 * 1024


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for the plan (file sizes for scans,
    LongMax when unknown)."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes())
    except Exception:
        return None


def lookup_join(left: DataFrame, right: DataFrame,
                on: Sequence[str] | Sequence[tuple[str, str]] | Column,
                how: str = "inner") -> DataFrame:
    """LOOKUP JOIN (execution/nodes/lookup_join.go:21-50): the
    reference re-runs the right plan per left record so predicates push
    into the right datasource. Spark equivalent: broadcast the right
    side — one shipment instead of N re-queries, same results; JDBC/
    DSv2 pushdown replaces the per-key re-query trick.

    The hint is SIZE-GATED: ``F.broadcast`` overrides Spark's 64 MB
    threshold, so an unconditional hint on a grown dimension table
    would OOM every executor. When Catalyst KNOWS the right side is
    big (file-backed scans report real sizes) the hint drops and
    AQE picks the strategy — the same graceful degradation as the
    reference's slow re-queries, minus the OOM. Unknown sizes
    (in-memory frames, JDBC) keep the hint: LOOKUP JOIN is the user's
    assertion that the right side is the small, indexed one."""
    size = _plan_size_bytes(right)
    if size is None or size <= _BROADCAST_HINT_MAX_BYTES \
            or size >= (1 << 60):  # defaultSizeInBytes sentinel: unknown
        right = F.broadcast(right)
    if isinstance(on, Column):
        return left.join(right, on, how)
    return stream_join(left, right, on, how)


def anti_join(left: DataFrame, right: DataFrame,
              on: Sequence[str] | Sequence[tuple[str, str]] | Column) -> DataFrame:
    """NOT IN/NOT EXISTS as a ``left_anti`` join: no right-side
    materialization on the driver."""
    return stream_join(left, right, on, "left_anti")
