"""Storage-layout and incremental-maintenance operations the registry
builds on.

The reference is single-machine and has no layout story; on a cluster
the dominant cost of repeated joins/aggregations over the same keys is
the shuffle:

- **Salting** (``salted_join``): for skewed keys (one key = 30% of
  rows), split each hot left-side key across ``salt`` sub-keys and
  replicate the right side per sub-key — the hot partition becomes
  ``salt`` parallel partitions. AQE's skew-join handles moderate skew
  automatically (session.py enables it); salting is the explicit tool
  for extreme generator-style skew. ``key_skew_profile`` measures
  whether a key needs it.
- **Incremental rollups and SCD2** (``merge_rollup``, ``scd2_build``):
  fold an increment or a change feed into a stored aggregate or a
  versioned dimension.
- **Z-order** (``zorder_key``): a Morton key over several integer
  columns; range-partitioning and sorting files by it gives each file
  a tight bounding box in all of them.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def salted_join(left: DataFrame, right: DataFrame,
                on: Sequence[str], how: str = "inner",
                salt: int = 16) -> DataFrame:
    """Equi-join with key salting for extreme skew.

    The left (big, skewed) side gets a deterministic pseudo-random
    salt per row; the right side replicates ``salt`` times. The join
    key becomes (key, salt) so one hot key spreads over ``salt``
    shuffle partitions. Row-identical to ``left.join(right, on, how)``
    for inner/left joins; right side grows ``salt``× (keep it the
    small side)."""
    if how not in ("inner", "left", "left_outer"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    on = list(on)
    salted_l = left.withColumn(
        "_salt",
        F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt))
        .cast("int"))
    salted_r = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
    out = salted_l.join(salted_r, on + ["_salt"], how)
    return out.drop("_salt")


def key_skew_profile(df: DataFrame, key_col: str) -> DataFrame:
    """Join-key skew diagnostics: the numbers that decide whether a
    key needs ``salted_join`` / AQE skew splitting before a shuffle.
    Returns ONE row: distinct keys, total rows, max/avg rows per key,
    exact p50/p99 per-key counts (type-7, cross-engine comparable),
    and ``skew_ratio`` = max/avg (>> 1 means one hot key dominates a
    shuffle partition).

    Scale shape: a map-side-combined count per key (the same shuffle
    the join itself would do, but carrying only (key, count)) plus a
    1-row reduce. Run it on a sample for quick checks; exact on the
    full table is still one narrow pass."""
    counts = df.groupBy(key_col).agg(F.count(F.lit(True)).alias("cnt"))
    return counts.agg(
        F.count(F.lit(True)).cast("long").alias("n_keys"),
        F.sum("cnt").cast("long").alias("n_rows"),
        F.max("cnt").cast("long").alias("max_per_key"),
        F.round(F.avg("cnt"), 6).alias("avg_per_key"),
        F.round(F.expr("percentile(cnt, 0.5)"), 6).alias("p50_per_key"),
        F.round(F.expr("percentile(cnt, 0.99)"), 6).alias("p99_per_key"),
        F.round(F.max("cnt") / F.avg("cnt"), 6).alias("skew_ratio"))


def merge_rollup(spark: SparkSession, rollup_path: str,
                 increment: DataFrame, keys: Sequence[str],
                 agg_specs: Sequence[tuple[str, str]],
                 fmt: str = "parquet") -> None:
    """Incremental materialized rollup: fold a new increment into a
    stored aggregate table WITHOUT rescanning history — the
    streaming-warehouse primitive behind "orders per day, maintained
    forever". ``agg_specs`` are (agg, col) with agg in
    {sum, count, min, max}: exactly the MERGEABLE aggregates, whose
    partials combine associatively (sum+=sum, count+=count,
    min=min(min), max=max(max)). AVG is derivable as sum/count
    downstream; non-mergeable aggregates (distinct, percentile) need
    sketches instead.

    One job: aggregate the increment (map-side combined), union with
    the existing rollup (|groups| rows, not history), re-reduce, and
    atomically replace via a temp-dir swap. At 100 TB the rollup
    table stays |groups|-sized while history grows unbounded —
    refresh cost is O(increment + groups), never O(history)."""
    import os
    import shutil
    combine = {"sum": F.sum, "count": F.sum,  # partial counts ADD
               "min": F.min, "max": F.max}
    first = {"sum": F.sum, "count": lambda c: F.count(F.lit(1)),
             "min": F.min, "max": F.max}
    names = [f"{a}_{c}" if a != "count" else "n" for a, c in agg_specs]
    inc = increment.groupBy(*keys).agg(*[
        first[a](c).alias(nm) for (a, c), nm in zip(agg_specs, names)])
    if os.path.exists(rollup_path):
        base = spark.read.format(fmt).load(rollup_path)
        merged = (base.unionByName(inc)
                  .groupBy(*keys)
                  .agg(*[combine[a](nm).alias(nm)
                         for (a, _), nm in zip(agg_specs, names)]))
    else:
        merged = inc
    tmp = rollup_path + "__staging"
    merged.write.format(fmt).mode("overwrite").save(tmp)
    if os.path.exists(rollup_path):
        shutil.rmtree(rollup_path)
    os.replace(tmp, rollup_path)


def scd2_build(changes: DataFrame, key_cols: Sequence[str],
               attr_cols: Sequence[str], ts_col: str = "ts",
               tiebreak_cols: Sequence[str] = ()) -> DataFrame:
    """Slowly-changing-dimension Type 2: fold a change feed into
    versioned validity intervals per key.

    Consecutive records whose tracked ``attr_cols`` are unchanged
    (null-safe compare) collapse into one version; each surviving
    version gets ``valid_from`` = its change timestamp, ``valid_to`` =
    the next version's timestamp (NULL while current), a 1-based
    ``version`` and an ``is_current`` flag — the standard warehouse
    shape for as-of dimension lookups (pair with
    ``operators.temporal.asof_join`` to resolve facts against it).

    Scale shape: ONE hash shuffle on the key; both window passes
    (change detection on the raw feed, interval stitching on the
    surviving versions) share that partitioning, so Catalyst plans a
    single Exchange with partition-local sorts. Ordering inside a key
    is (``ts_col``, ``tiebreak_cols``) — pass a unique tiebreak for a
    deterministic fold when timestamps collide.
    """
    from pyspark.sql.window import Window
    order = [F.col(ts_col), *[F.col(c) for c in tiebreak_cols]]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    changed = F.row_number().over(w) == 1
    for a in attr_cols:
        changed = changed | ~F.col(a).eqNullSafe(F.lag(a).over(w))
    versions = changes.withColumn("_chg", changed).filter("_chg")
    w2 = Window.partitionBy(*key_cols).orderBy(*order)
    return (versions.select(
        *key_cols, *attr_cols,
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w2).alias("valid_to"),
        F.row_number().over(w2).alias("version"),
        F.lead(ts_col).over(w2).isNull().alias("is_current")))


def zorder_key(df: DataFrame, cols: Sequence[str],
               bits: int = 16, out_col: str = "zvalue") -> DataFrame:
    """Morton (Z-order) clustering key over 2+ integer columns.

    Each column is affine-quantized to ``bits`` bits with EXACT
    integer arithmetic — ``(x - min) * (2^bits - 1) div span`` — and
    the quantized values' bits are interleaved (column i contributes
    bit b at position ``b*len(cols)+i``). Rows close in z-value are
    close in EVERY key dimension, so writing files sorted by z-value
    gives each file a tight bounding box in all the columns at once;
    parquet min/max stats then prune scans filtered on ANY of them —
    multi-dimensional data skipping with one sort, where a plain sort
    only clusters its leading column. This is the standing layout
    trick for 100 TB tables queried on several independent keys.

    The min/max per column is ONE driver-collected row; the key
    itself is a pure codegen'd integer expression (unrolled static
    shifts — no UDF, no float anywhere, reproducible across engines).
    """
    if len(cols) * bits > 63:
        raise ValueError("len(cols) * bits must fit in a signed long")
    stats = df.agg(
        *[F.min(c).alias(f"mn_{i}") for i, c in enumerate(cols)],
        *[F.max(c).alias(f"mx_{i}") for i, c in enumerate(cols)],
    ).collect()[0]
    n = len(cols)
    mval = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        mn, mx = stats[f"mn_{i}"], stats[f"mx_{i}"]
        if mn is None or mx is None:
            raise ValueError(
                f"zorder_key: column {c!r} has no non-null values — "
                "cannot quantize an empty domain")
        span = max(int(mx) - int(mn), 1)
        if span <= ((1 << 63) - 1) // mval:
            # exact multiply-then-div keeps full sub-bucket resolution
            q = F.expr(f"((cast({c} as bigint) - {mn}) * {mval}) "
                       f"div {span}")
        elif span < (1 << 63):
            # wide span (e.g. epoch-nanos keys): (x-mn)*mval would
            # silently wrap in int64 under non-ANSI mode — pre-scale
            # by a bucket width instead: d > span/2^bits guarantees
            # (x-mn) div d <= mval, still pure int64 codegen
            d = span // (mval + 1) + 1
            q = F.expr(f"(cast({c} as bigint) - {mn}) div {d}")
        else:
            raise ValueError(
                f"zorder_key: span of {c!r} ({span}) exceeds int64 — "
                "rescale the column before z-ordering")
        for b in range(bits):
            z = z + (F.shiftright(q, b).bitwiseAND(F.lit(1)).cast("long")
                     * F.lit(1 << (b * n + i)))
    return df.withColumn(out_col, z)
