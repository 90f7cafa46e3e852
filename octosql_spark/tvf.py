"""Table-valued functions (SURVEY.md §2.8).

The reference registers four TVFs (cmd/root.go:241-246):
range, tumble, max_diff_watermark, poll. Arguments arrive as
expression / ``TABLE(...)`` / ``DESCRIPTOR(field)`` kinds
(physical/nodes.go:200-248) — here: Python values / DataFrames /
column-name strings.
"""

from __future__ import annotations

import time as _time
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def range_tvf(spark: SparkSession, start: int, end: int) -> DataFrame:
    """range(start, end) → Int sequence [start, end)
    (table_valued_functions/range.go:14-109). spark.range generates
    distributed with no data movement."""
    return spark.range(start, end).select(F.col("id").alias("i"))


def _default_time_field(df: DataFrame) -> str:
    for name, dtype in df.dtypes:
        if dtype.startswith("timestamp"):
            return name
    raise ValueError("tumble: no timestamp column; pass time_field")


# the column metadata key Spark's withWatermark sets on its time field
_WATERMARK_KEY = "spark.watermarkDelayMs"


def tumble(df: DataFrame, window_length: str,
           time_field: str | None = None, offset: str = "0 seconds") -> DataFrame:
    """tumble(source, window_length, [time_field], [offset]) — appends
    window_start/window_end (table_valued_functions/tumble.go:13-192;
    window_end becomes the event-time column). Pure per-record
    transform → F.window, epoch-aligned like the reference's
    ``timestamp.Truncate``."""
    tf = time_field or _default_time_field(df)
    w = F.window(F.col(tf), window_length, window_length, offset)
    end = w.getField("end")
    delay = next((f.metadata.get(_WATERMARK_KEY) for f in df.schema.fields
                  if f.name == tf), None)
    if delay is not None:
        # a watermarked stream: window_end carries the watermark on,
        # so a GROUP BY window_end aggregate can run in append mode
        # (TRIGGER ON WATERMARK) and its state expires with the window
        end = end.alias("window_end", metadata={_WATERMARK_KEY: delay})
    return (df.withColumn("window_start", w.getField("start"))
              .withColumn("window_end", end))


_INTERVAL_UNITS_US = {
    "microsecond": 1, "millisecond": 1_000, "second": 1_000_000,
    "minute": 60_000_000, "hour": 3_600_000_000, "day": 86_400_000_000,
}


def interval_micros(interval: str) -> int:
    """'5 seconds' / '100 milliseconds' → microseconds."""
    parts = interval.strip().lower().split()
    if len(parts) != 2:
        raise ValueError(f"bad interval: {interval!r}")
    qty, unit = parts
    unit = unit.rstrip("s")
    if unit not in _INTERVAL_UNITS_US:
        raise ValueError(f"bad interval unit: {interval!r}")
    return int(float(qty) * _INTERVAL_UNITS_US[unit])


def max_diff_watermark(df: DataFrame, max_diff: str, time_field: str,
                       resolution: str | None = None) -> DataFrame:
    """max_diff_watermark(source, max_diff, time_field, [resolution])
    (table_valued_functions/max_diff_watermark.go:14-180).

    Streaming: this is exactly ``DataFrame.withWatermark``, which the
    transpiler applies to a streaming source instead of calling this.

    Batch emulation (the reference treats files as streams in file
    order): the watermark before row i is
    ``max_{j<i}(round(ts_j, resolution)) - max_diff``, and rows at or
    below it are dropped (:148-153). We reproduce that with a running
    max over the file order (a monotonically increasing id, which
    follows file order for file-based sources)."""
    ts = F.col(time_field)
    # The reference rounds event time *down* to `resolution` (default
    # 1s) before updating the watermark (max_diff_watermark.go:108-160).
    # unix_micros needs TIMESTAMP (not NTZ) — round in TIMESTAMP space
    # and cast back to the column's own dtype (session tz is UTC, so
    # the round-trip is lossless).
    ts_dtype = dict(df.dtypes)[time_field]
    res_us = interval_micros(resolution or "1 second")
    rounded = F.timestamp_micros(
        (F.floor(F.unix_micros(ts.cast("timestamp")) / F.lit(res_us))
         * F.lit(res_us)).cast("long")).cast(ts_dtype)
    diff = F.expr(f"INTERVAL {max_diff}")
    # File order, computed WITHOUT a single-task global sort:
    # split index is the order prefix, so
    #   running max before row i = max(max of all earlier splits,
    #                                  prefix max within this split)
    # — a parallel per-split window + a #splits-row boundary merge.
    df = (df.withColumn("_pid", F.spark_partition_id())
            .withColumn("_mono", F.monotonically_increasing_id())
            .withColumn("_rounded", rounded))
    w_in = (Window.partitionBy("_pid").orderBy("_mono")
            .rowsBetween(Window.unboundedPreceding, -1))
    prefix = F.max("_rounded").over(w_in)
    pid_max = df.groupBy("_pid").agg(F.max("_rounded").alias("_pmax"))
    w_pid = (Window.orderBy("_pid")
             .rowsBetween(Window.unboundedPreceding, -1))
    prior = pid_max.select("_pid", F.max("_pmax").over(w_pid).alias("_prior"))
    out = (df.join(F.broadcast(prior), "_pid", "left")
             .withColumn("_wm", F.greatest(prefix, F.col("_prior")) - diff)
             .filter(F.col("_wm").isNull() | (ts > F.col("_wm")))
             .drop("_pid", "_mono", "_rounded", "_prior", "_wm"))
    return out


def poll(spark: SparkSession, build: Callable[[SparkSession], DataFrame],
         poll_interval_s: float = 1.0, rounds: int | None = None,
         sleep: bool = True) -> Iterator[DataFrame]:
    """poll(source, [poll_interval]) — re-runs a finite subquery
    forever, each round retracting the previous rows and emitting
    fresh ones with a leading poll-time column
    (table_valued_functions/poll.go:14-152).

    Spark has no retraction-stream output; the idiomatic mapping is a
    driver loop yielding a fresh DataFrame per round (each round
    *replaces* the last — same observable state as retract+emit).
    Streaming consumers can feed each round to foreachBatch."""
    n = 0
    while rounds is None or n < rounds:
        # poll_time LEADS (poll.go:49-59 puts its time field at
        # outFields[0]; withColumn appended it — r8 review)
        yield build(spark).select(
            F.current_timestamp().alias("poll_time"), "*")
        n += 1
        if sleep and (rounds is None or n < rounds):
            _time.sleep(poll_interval_s)


TVFS = {
    "range": range_tvf,
    "tumble": tumble,
    "max_diff_watermark": max_diff_watermark,
    "poll": poll,
}
