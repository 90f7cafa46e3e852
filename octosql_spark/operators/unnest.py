"""unnest() (SURVEY.md §2.2).

``unnest(list_col)`` flattens a list column to rows; the reference
inserts a physical Unnest node above Map (logical/map.go:80-97,
execution/nodes/unnest.go:21-37). Spark: ``explode`` — a narrow,
pipelined generator, no shuffle. (Object explosion, ``obj->*``, is
SQL text: the transpiler rewrites it to ``obj.*``.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def unnest(df: DataFrame, col: str | Column, alias: str = "unnest",
           keep: list[str] | None = None, outer: bool = False) -> DataFrame:
    """Flatten ``col`` (array) to one row per element. ``keep`` limits
    the carried-through columns (None = all other columns). ``outer``
    keeps rows whose array is NULL/empty (explode_outer)."""
    col = F.col(col) if isinstance(col, str) else col
    exploder = F.explode_outer if outer else F.explode
    carried = keep if keep is not None else df.columns
    return df.select(*carried, exploder(col).alias(alias))
