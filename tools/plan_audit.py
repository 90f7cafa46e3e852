"""Physical-plan audit: sweeps every workload and flags scale
anti-patterns in the executed plan (the ".explain and iterate until
it's the plan you'd want" loop, automated):

- CartesianProduct / BroadcastNestedLoopJoin where not intended
- row-at-a-time PythonUDF in the row path (BatchEvalPython)
- parquet scans reading all columns when the query projects few
- missing PushedFilters on filtered scans
- FORCED broadcast (F.broadcast / .hint) of an SF-scaled base-table
  scan: the hint bypasses the 64 MB auto-gate, so at cluster scale it
  is a guaranteed OOM, not a slow plan. Detected in the ANALYZED
  logical plan (ResolvedHint survives there; the executed plan cannot
  distinguish a hint from a size-gated auto-broadcast at small SFs).
  A scaled Relation under a broadcast hint is OK only if a bounding
  node — global (ungrouped) Aggregate or a Limit — sits on the path
  between the hint and the scan, or the workload declares
  broadcast_ok (bounded candidate set / bounded-domain rollup).

Run: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The intended-cartesian allowlist lives on the workload declarations
# themselves (Workload.cartesian_ok in octosql_spark/workloads.py) —
# a query whose semantics are a cross product, or that broadcasts a
# 1-row scalar (corpus stats / IDF denominator) against the corpus,
# declares it at the definition site so this audit can't drift.


# Sentinel column → SF-scaled base table. The analyzed plan prints
# every file Relation with its full base schema, so the first/keyed
# column identifies the table even when projections above rename it.
_SCALED_SENTINELS = {
    "l_orderkey": "lineitem", "o_orderkey": "orders",
    "c_custkey": "customer", "p_partkey": "part",
    "s_suppkey": "supplier", "doc_id": "documents",
    "vec_id": "embeddings", "event_id": "events",
}

_SENTINEL_RE = re.compile(
    r"\b(" + "|".join(_SCALED_SENTINELS) + r")#\d+")


def _depth(line: str) -> int:
    """Tree depth of an analyzed-plan line (prefix is 3-char cells of
    ':  ', '   ', '+- ', ':- ')."""
    i = 0
    while i < len(line) and line[i] in " :+-":
        i += 1
    return i // 3


def forced_broadcast_flags(df) -> list[str]:
    """Scaled Relations under a broadcast ResolvedHint with no
    bounding ancestor (global Aggregate / Limit) between hint and
    scan."""
    plan = df._jdf.queryExecution().analyzed().toString()
    flags = []
    # stack of (depth, kind) ancestors of the current line
    stack: list[tuple[int, str]] = []
    for raw in plan.splitlines():
        d = _depth(raw)
        text = raw[d * 3:] if d else raw
        while stack and stack[-1][0] >= d:
            stack.pop()
        kind = ""
        if text.startswith("ResolvedHint") and "broadcast" in text:
            kind = "hint"
        elif (text.startswith("GlobalLimit")
              or text.startswith("LocalLimit")):
            kind = "bound"
        elif text.startswith("Aggregate [") and "], [" not in text:
            kind = "bound"  # ungrouped (1-row) aggregate
        elif text.startswith("Relation "):
            m = _SENTINEL_RE.search(text)
            if m:
                # walk ancestors innermost-first: a bounding node
                # BELOW the hint bounds the scan; a hint hit first
                # (no bound in between) is the OOM shape
                for ad, akind in reversed(stack):
                    if akind == "bound":
                        break
                    if akind == "hint":
                        flags.append(
                            "forced broadcast of SF-scaled "
                            f"{_SCALED_SENTINELS[m.group(1)]} scan")
                        break
        stack.append((d, kind))
    return sorted(set(flags))


_SR_WRAPPERS = {
    "BroadcastExchange", "Exchange", "Project", "AQEShuffleRead",
    "ColumnarToRow", "InputAdapter", "Sort", "Filter",
    "AdaptiveSparkPlan", "ResultQueryStage", "BroadcastQueryStage",
    "ShuffleQueryStage",
}


def _single_row_joins_ok(plan: str) -> bool:
    """True iff every CartesianProduct/BNLJ in the plan text provably
    joins single-row sides: each child chains (through row-preserving
    wrappers) to a GLOBAL aggregate (``keys=[]`` — exactly one output
    row) or to another such single-row cross join. This is the
    narrowed exemption for sketch-combination plans (ADVICE r11): a
    real data-sized cartesian sneaking into such an entry now flags
    instead of riding the blanket ``cartesian_ok`` waiver.
    (``Filter`` counts as a wrapper: ≤1 row stays ≤1 row.)
    Fails closed: the tree is parsed up to its first blank line, and a
    cross join printed past it (a subquery section) makes the answer
    False."""
    nodes = []
    for line in plan.splitlines():
        if not line.strip():
            break  # toString tree ends at the first blank line
        d = _depth(line)
        t = re.sub(r"^\*\(\d+\) ", "", line[d * 3:].strip())
        m = re.match(r"[A-Za-z]+", t)
        nodes.append((d, m.group(0) if m else t, t))

    def single_row(i: int) -> bool:
        d, name, t = nodes[i]
        if "Aggregate" in name:
            return "keys=[]" in t
        if name in ("BroadcastNestedLoopJoin", "CartesianProduct"):
            ch, j = [], i + 1
            while j < len(nodes) and nodes[j][0] > d:
                if nodes[j][0] == d + 1:
                    ch.append(j)
                j += 1
            return len(ch) == 2 and all(single_row(c) for c in ch)
        if name in _SR_WRAPPERS:
            j = i + 1
            if j < len(nodes) and nodes[j][0] == d + 1:
                return single_row(j)
        return False

    crosses = [i for i, (_, name, _t) in enumerate(nodes)
               if name in ("BroadcastNestedLoopJoin", "CartesianProduct")]
    in_text = len(re.findall(r"\b(?:BroadcastNestedLoopJoin|CartesianProduct)\b",
                             plan))
    return in_text == len(crosses) and all(single_row(i) for i in crosses)


def audit(name: str, df, cartesian_ok=False,
          broadcast_ok: bool = False) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    flags = []
    if not broadcast_ok:
        flags.extend(forced_broadcast_flags(df))
    if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
        if cartesian_ok == "single_row":
            if not _single_row_joins_ok(plan):
                flags.append("cartesian/BNLJ not provably single-row")
        elif not cartesian_ok:
            flags.append("unintended cartesian/BNLJ")
    if "BatchEvalPython" in plan:
        flags.append("row-at-a-time Python UDF in plan")
    # stop at end-of-line: executedPlan toString TRUNCATES long scan
    # lines ("...tim..." with no closing '>'), and a multi-line match
    # would count the tree-drawing ':' characters of following lines
    for m in re.finditer(r"ReadSchema: struct<([^>\n]*)", plan):
        ncols = m.group(1).count(":")
        if ncols > 15:
            flags.append(f"wide scan ({ncols} cols)")
    return flags


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from octosql_spark.session import get_spark
    from octosql_spark.workloads import REGISTRY
    spark = get_spark("plan-audit")
    bad = 0
    for name, w in REGISTRY.items():
        try:
            df = w.build(spark, sf_dir)
            flags = audit(name, df, cartesian_ok=w.cartesian_ok,
                          broadcast_ok=w.broadcast_ok)
        except Exception as ex:
            print(f"ERROR {name}: {ex}")
            bad += 1
            continue
        if flags:
            bad += 1
            print(f"FLAG  {name}: {'; '.join(flags)}")
    print(f"\n{len(REGISTRY)} plans audited, {bad} flagged")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
