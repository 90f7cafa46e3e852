"""Global ordering at scale (SURVEY.md §2.5).

Plain ORDER BY / LIMIT is SQL text: ``ORDER BY ... LIMIT n`` compiles
to ``TakeOrderedAndProject`` (per-partition top-K heap + single merge;
the reference's top-K prune,
execution/nodes/order_sensitive_transform.go:111-116). What stays here
is a rank over a global ordering that a window function would funnel
through one partition.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _exchange_reuse_enabled(spark) -> bool:
    """The parallel-prefix decompositions rely on Catalyst exchange
    reuse for boundary consistency between their offset-table and
    final-join subtrees; when a caller disables it they fall back to
    a persist (see global_ntile's docstring)."""
    try:
        return spark.conf.get("spark.sql.exchange.reuse",
                              "true").lower() == "true"
    except Exception:  # noqa: BLE001 — conf surface missing: assume on
        return True


def global_ntile(df: DataFrame, n_tiles: int,
                 order: Sequence[Column],
                 out_col: str = "tile",
                 cache: bool | str = "auto") -> DataFrame:
    """Exact NTILE over a global ordering WITHOUT a single-partition
    sort of the data.

    ``F.ntile(k).over(Window.orderBy(...))`` compiles to ``Exchange
    SinglePartition`` — one task sorts everything, the classic scale
    ceiling. This computes the identical result distributed:

    1. range-partition on the sort key (one shuffle, parallel sort),
    2. per-partition ``row_number`` + a broadcast #partitions-row
       offset table (the same parallel-prefix decomposition as
       ``datapipe.curate.budget_select`` / ``tvf.max_diff_watermark``)
       → exact global 1-based rank,
    3. NTILE's bucket arithmetic on the rank: with n rows and k tiles
       the first ``n % k`` tiles hold ``n//k + 1`` rows and the rest
       ``n//k`` (both Spark and DuckDB implement exactly this), so
       tile(r) is a closed-form expression.

    Bit-equal to the window NTILE whenever ``order`` is a TOTAL order
    (pass a unique tiebreak column); with duplicate keys the window
    NTILE is itself nondeterministic. The only single-partition work
    left is over the #partitions-row offset table.

    Boundary-consistency contract: the offset table and the final
    join must observe the SAME sampled range-partition boundaries.
    No cache is needed for that — both subtrees canonicalize to the
    identical range Exchange, so Catalyst's exchange reuse
    (``spark.sql.exchange.reuse``, AQE stage reuse) makes them read
    ONE shuffle output (the final plan carries a ``ReusedExchange``
    over the rangepartitioning node; pinned by
    tests/test_persist_hygiene.py). A persist here leaked executor
    storage to library callers until session teardown (r7 verdict).
    If a caller has DISABLED exchange reuse, the two subtrees would
    execute independent range exchanges whose sampled boundaries can
    differ — silently wrong ranks — so the persist comes back as the
    consistency fallback in exactly that configuration (r8 review).

    ``cache``: ``"auto"`` (default) persists only in that
    reuse-disabled fallback; ``True`` persists the range-partitioned
    frame unconditionally — the opt-in fast path for long-lived
    callers that run several actions over the result (release via
    ``octosql_spark.session.release_cached``); ``False`` never
    persists and RAISES if exchange reuse is disabled rather than
    return silently inconsistent ranks.
    """
    from pyspark.sql.window import Window

    d = (df.repartitionByRange(*order)
           .withColumn("_pid", F.spark_partition_id()))
    reuse = _exchange_reuse_enabled(df.sparkSession)
    if cache is True or (cache == "auto" and not reuse):
        d = d.persist()
    elif not reuse:
        raise ValueError(
            "global_ntile(cache=False) requires exchange reuse "
            "(spark.sql.exchange.reuse) — without it the offset table "
            "and the final join would sample independent range "
            "boundaries")
    cnt = d.groupBy("_pid").agg(F.count(F.lit(1)).alias("_pc"))
    w_pid = (Window.orderBy("_pid")
             .rowsBetween(Window.unboundedPreceding, -1))
    # #partitions rows — bounded by parallelism, not data
    prior = cnt.select(
        "_pid",
        F.coalesce(F.sum("_pc").over(w_pid), F.lit(0)).alias("_prior"),
        F.sum("_pc").over(
            Window.orderBy("_pid")
            .rowsBetween(Window.unboundedPreceding,
                         Window.unboundedFollowing))
        .alias("_n"))
    w_in = Window.partitionBy("_pid").orderBy(*order)
    rank = (F.col("_prior") + F.row_number().over(w_in)).cast("long")
    base = F.floor(F.col("_n") / n_tiles).cast("long")
    rem = (F.col("_n") % n_tiles).cast("long")
    big = rem * (base + 1)
    tile = (F.when(base == 0, rank)
             .when(rank <= big, F.floor((rank - 1) / (base + 1)) + 1)
             .otherwise(rem + F.floor((rank - big - 1) / base) + 1))
    return (d.join(F.broadcast(prior), "_pid")
            .withColumn(out_col, tile.cast("int"))
            .drop("_pid", "_prior", "_n"))
