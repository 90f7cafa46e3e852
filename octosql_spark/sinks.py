"""Output sinks (SURVEY.md §2.1 sinks).

The reference's sinks: live/batch table (retractable ordered buffer,
outputs/batch/live_output.go:35-204), eager csv/json writers
(outputs/eager/eager.go, outputs/formats/*), stream_native printer
(outputs/stream/printer.go), and ``--describe``
(cmd/root.go:300-313). Batch writers below, and the foreachBatch
writers the CLI's streaming route drives (``stream_batch_writer``,
``stream_native_diff_writer``).
"""

from __future__ import annotations

import json
import sys
from typing import IO

from pyspark.sql import DataFrame


def rfc3339(v) -> str:
    """Format a timestamp like Go ``time.Format(time.RFC3339)`` on a
    UTC value. PySpark ``collect()``/``toLocalIterator`` converts
    TimestampType to NAIVE datetimes in the driver's LOCAL timezone —
    hard-coding the 'Z' suffix mislabeled the instant whenever the
    driver TZ wasn't UTC (r8 advice). A naive value is therefore
    interpreted as driver-local (``astimezone`` does exactly that)
    and converted to UTC before formatting; an aware value converts
    directly."""
    import datetime
    v = v.astimezone(datetime.timezone.utc)
    return v.strftime("%Y-%m-%dT%H:%M:%SZ")


def go_duration_ns(ns: int) -> str:
    """Go ``time.Duration.String()`` from int64 nanoseconds (Go's own
    representation) — ``5h32m42s``, ``-3s``, ``333.333ms``,
    ``2.333333333s``. Division-derived durations carry exact nanos
    (the ``named_struct('__dur_ns', CAST((e) AS BIGINT))`` wire form
    the transpiler emits), everything else is µs-exact."""
    sign = "-" if ns < 0 else ""
    ns = abs(int(ns))
    if ns == 0:
        return "0s"
    if ns < 1_000:
        return f"{sign}{ns}ns"
    if ns < 1_000_000:
        us, rem = divmod(ns, 1_000)
        frac = (f".{rem:03d}".rstrip("0") if rem else "")
        return f"{sign}{us}{frac}µs"
    if ns < 1_000_000_000:
        ms, rem = divmod(ns, 1_000_000)
        frac = (f".{rem:06d}".rstrip("0") if rem else "")
        return f"{sign}{ms}{frac}ms"
    h, rem = divmod(ns, 3_600_000_000_000)
    m, rem = divmod(rem, 60_000_000_000)
    s, nsec = divmod(rem, 1_000_000_000)
    frac = (f".{nsec:09d}".rstrip("0") if nsec else "")
    out_s = f"{s}{frac}s"
    if m or h:
        out_s = f"{m}m{out_s}"
    if h:
        out_s = f"{h}h{out_s}"
    return sign + out_s


def go_duration(td) -> str:
    """Go duration rendering of a Python timedelta (µs precision —
    Spark's interval payload). Floor-division keeps the µs count
    exact: ``td / timedelta(µs)`` returns a FLOAT, which loses
    microseconds past 2^53 (~285 years) — r8 review."""
    import datetime
    us = td // datetime.timedelta(microseconds=1)
    return go_duration_ns(us * 1000)


def _durns(v):
    """The int64 nanos of a nanosecond-carrying Duration value — a row
    of the transpiler's wire form ``named_struct('__dur_ns', CAST((e)
    AS BIGINT))``, which arrives as a ``{'__dur_ns': n}`` struct —
    else None."""
    try:
        from pyspark.sql import Row
        if isinstance(v, Row) and list(v.__fields__) == ["__dur_ns"]:
            return v[0]
    except Exception:
        pass
    if isinstance(v, dict) and list(v.keys()) == ["__dur_ns"]:
        return v["__dur_ns"]
    return None


def go_float(f: float) -> str:
    """Go ``strconv.FormatFloat(f, 'g', -1, 64)`` (``%v``) rendering —
    the reference renders Float values through Go fmt (golden
    datasources/json/stream_join.out: ``1.8248328e+07``). Shortest
    digits; scientific form when the decimal exponent is < -4 or ≥
    max(6, sig-digit count when all digits are integral)."""
    import math
    from decimal import Decimal
    if f != f:
        return "NaN"
    if f == math.inf:
        return "+Inf"
    if f == -math.inf:
        return "-Inf"
    if f == 0:
        return "-0" if math.copysign(1, f) < 0 else "0"
    sign = "-" if f < 0 else ""
    _, digits, dexp = Decimal(repr(abs(f))).as_tuple()
    dig = list(digits)
    while len(dig) > 1 and dig[-1] == 0:
        dig.pop()
        dexp += 1
    nd = len(dig)
    exp = nd + dexp - 1   # decimal exponent, one digit before the point
    dp = nd + dexp        # digits before the decimal point
    eprec = 6
    if eprec > nd and nd >= dp:
        eprec = nd
    if exp < -4 or exp >= eprec:
        mant = str(dig[0])
        if nd > 1:
            mant += "." + "".join(map(str, dig[1:]))
        esign = "+" if exp >= 0 else "-"
        return f"{sign}{mant}e{esign}{abs(exp):02d}"
    s = "".join(map(str, dig))
    if dexp >= 0:
        return sign + s + "0" * dexp
    if -dexp < nd:
        return sign + s[:dexp] + "." + s[dexp:]
    return sign + "0." + "0" * (-dexp - nd) + s


def _sort_key_value(v):
    """Total-order sort key across all value types, mirroring the
    reference's ordering (octosql/values.go:97-155): compare by type
    ID first (Null < Int < Float < Boolean < String < Time < Duration
    < List < Struct), NULL lowest, strings in plain byte order — the
    lowercase-first reversal at values.go:146-154 is unreachable (the
    outer `left < right` on the raw strings decides every unequal
    pair first), so the reference's observable collation is binary,
    same as Spark's UTF8 ordering."""
    import datetime
    if v is None:
        return (0,)
    if isinstance(v, bool):
        return (3, v)
    if isinstance(v, int):
        return (1, v)
    if isinstance(v, float):
        return (2, v)
    if isinstance(v, str):
        return (4, v)
    if isinstance(v, datetime.datetime):
        return (5, v.isoformat())
    if isinstance(v, datetime.timedelta):
        return (6, v)
    try:  # Row is a tuple SUBCLASS — structs must tag 8, not 7
        from pyspark.sql import Row
        if isinstance(v, Row):
            return (8, tuple(_sort_key_value(x) for x in v))
    except Exception:
        pass
    if isinstance(v, (list, tuple)):
        return (7, tuple(_sort_key_value(x) for x in v))
    if isinstance(v, dict):
        return (8, tuple(_sort_key_value(x) for x in v.values()))
    return (8, str(v))


def record_sort_key(row):
    return tuple(_sort_key_value(v) for v in row)


import re as _re

# tablewriter v0.0.5's ALIGN_DEFAULT decision (util.go `decimal`):
# right-align only RENDERED cells matching this — "1.2e+07", "NaN",
# "+Inf" are left-aligned by the reference's table (r8 review; the
# old by-Python-type check right-aligned them)
_TW_DECIMAL = _re.compile(r"^-?(?:\d{1,3}(?:,\d{3})*|\d+)(?:\.\d+)?$")


def _tw_numeric(text: str) -> bool:
    return bool(_TW_DECIMAL.match(text.strip()))


def write_table(df: DataFrame, out: IO[str] | None = None,
                limit: int | None = None, sort: bool = True) -> None:
    """batch/live table output in the reference's exact rendering
    (outputs/batch/live_output.go:165-204): ``+--+`` borders, headers
    centered, numbers right-aligned, everything else left-aligned,
    values in native form ('quoted' strings, ``<null>``, Go
    durations). The reference's sink keeps records in an ordered
    btree, so rows print value-sorted unless the query itself ordered
    them (``sort=False`` for ORDER BY queries). The WHOLE result
    prints (the reference buffers the full btree; a silent 20k cap
    here dropped rows — r8 review); a table printer's driver memory
    is inherently the rendered result, same as the reference's."""
    out = out or sys.stdout
    if limit is not None:
        df = df.limit(limit)
    rows = df.collect()
    if sort:
        rows = sorted(rows, key=record_sort_key)
    headers = list(df.columns)
    cells = [[(lambda t: (t, _tw_numeric(t)))(_native_value(v))
              for v in row] for row in rows]
    widths = []
    for i, h in enumerate(headers):
        w = len(h)
        for row in cells:
            w = max(w, len(row[i][0]))
        widths.append(w)
    border = "+" + "+".join("-" * (w + 2) for w in widths) + "+"
    out.write(border + "\n")
    head_cells = []
    for h, w in zip(headers, widths):
        total = w + 2
        left = (total - len(h)) // 2
        head_cells.append(" " * left + h + " " * (total - len(h) - left))
    out.write("|" + "|".join(head_cells) + "|\n")
    out.write(border + "\n")
    for row in cells:
        rendered = []
        for (text, numeric), w in zip(row, widths):
            rendered.append(" " + (text.rjust(w) if numeric
                                   else text.ljust(w)) + " ")
        out.write("|" + "|".join(rendered) + "|\n")
    out.write(border + "\n")


def go_float_f(f: float) -> str:
    """Go ``strconv.FormatFloat(f, 'f', -1, 64)``: shortest
    round-trip digits, ALWAYS positional (never an exponent) — the
    CSV formatter's float form (csv_format.go:55; r8 review: the 'g'
    rendering emitted ``1e+06`` where the reference writes
    ``1000000``)."""
    import math
    from decimal import Decimal
    if f != f:
        return "NaN"
    if f == math.inf:
        return "+Inf"
    if f == -math.inf:
        return "-Inf"
    if f == 0:
        return "-0" if math.copysign(1, f) < 0 else "0"
    sign = "-" if f < 0 else ""
    _, digits, dexp = Decimal(repr(abs(f))).as_tuple()
    dig = list(digits)
    while len(dig) > 1 and dig[-1] == 0:
        dig.pop()
        dexp += 1
    s = "".join(map(str, dig))
    if dexp >= 0:
        return sign + s + "0" * dexp
    if -dexp < len(s):
        return sign + s[:dexp] + "." + s[dexp:]
    return sign + "0." + "0" * (-dexp - len(s)) + s


def _csv_value(v):
    """One CSV cell the way the reference's formatter writes it
    (outputs/formats/csv_format.go:1-72): NULL → empty, bools
    lowercase, floats in ``FormatFloat('f', -1)`` positional form,
    durations in Go form, times RFC3339."""
    import datetime
    if v is None:
        return ""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return go_float_f(v)
    if isinstance(v, datetime.timedelta):
        return go_duration(v)
    if _durns(v) is not None:
        return go_duration_ns(_durns(v))
    if isinstance(v, datetime.datetime):
        return rfc3339(v)
    return v


def write_csv(df: DataFrame, out: IO[str] | None = None) -> None:
    """csv output (outputs/formats/csv_format.go:1-72): header row with
    the ORIGINAL field names, then records. Collects through
    toLocalIterator — constant driver memory."""
    import csv as _csv
    out = out or sys.stdout
    w = _csv.writer(out, lineterminator="\n")
    w.writerow(df.columns)
    for row in df.toLocalIterator():
        w.writerow([_csv_value(v) for v in row])


def _jsonable(v):
    """Recursive JSON-encodable form; VariantVal (union-typed columns)
    re-emits its exact runtime value (42 vs "42" vs [42,"42"] — the
    union scenario, tests/scenarios/outputs/json/union.out)."""
    import datetime
    if hasattr(v, "toJson") and type(v).__name__ == "VariantVal":
        return _jsonable(json.loads(v.toJson()))
    if _durns(v) is not None:
        return go_duration_ns(_durns(v))
    if isinstance(v, dict):
        return {k: _jsonable(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_jsonable(x) for x in v]
    if isinstance(v, float) and v.is_integer() and abs(v) < 1e15:
        # Go's encoder writes whole float64s without the decimal
        # point (union golden: 42, not 42.0). Non-integral floats
        # keep Python repr (≈ shortest 'g'): fastjson's exact float
        # form past 1e15 is unverifiable in this container (no
        # vendored source, no float JSON golden) — honest residual.
        return int(v)
    if isinstance(v, datetime.datetime):
        # json_format.go:78: value.Time.Format(time.RFC3339) —
        # default=str printed "2021-03-04 05:06:07" (r8 review)
        return rfc3339(v)
    if isinstance(v, datetime.timedelta):
        return go_duration(v)
    return v


def write_json(df: DataFrame, out: IO[str] | None = None) -> None:
    """json output (outputs/formats/json_format.go:1-103): one object
    per line, original field names. ``ensure_ascii=False``: fastjson
    appends non-special string bytes verbatim, so the reference
    emits raw UTF-8, not \\uXXXX escapes (r8 review)."""
    out = out or sys.stdout
    for row in df.toLocalIterator():
        out.write(json.dumps(_jsonable(row.asDict(recursive=True)),
                             separators=(",", ":"), default=str,
                             ensure_ascii=False))
        out.write("\n")


_ZERO_TIME = "0001-01-01T00:00:00Z"


def _native_value(v) -> str:
    """Render one value the way the reference's native format does
    (octosql/values.go:357-424): <null>, bare ints/bools, 'strings',
    RFC3339 times, [lists], { structs }."""
    import datetime

    from pyspark.sql import Row
    if v is None:
        return "<null>"
    if hasattr(v, "toJson") and type(v).__name__ == "VariantVal":
        return _native_value(json.loads(v.toJson()))
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, str):
        return f"'{v}'"
    if isinstance(v, float):
        return go_float(v)
    if isinstance(v, datetime.timedelta):
        return go_duration(v)
    if _durns(v) is not None:
        return go_duration_ns(_durns(v))
    if isinstance(v, datetime.datetime):
        return rfc3339(v)
    if isinstance(v, Row):
        return "{ " + ", ".join(_native_value(x) for x in v) + " }"
    if isinstance(v, (list, tuple)):
        return "[" + ", ".join(_native_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{ " + ", ".join(_native_value(x) for x in v.values()) + " }"
    return str(v)


def write_stream_native(df: DataFrame, out: IO[str] | None = None,
                        retraction: bool = False,
                        event_time_col: str | None = None) -> None:
    """stream_native (outputs/stream/printer.go:56-60 →
    execution/execution.go:73-91): ``{+<event-time>| v1, v2 |}`` per
    record, ``-`` for retractions. ``event_time_col`` names the column
    carrying each record's event time (set by tumble /
    max_diff_watermark); without one the zero time renders (same as
    the reference for non-temporal queries)."""
    out = out or sys.stdout
    marker = "-" if retraction else "+"
    et_idx = (df.columns.index(event_time_col)
              if event_time_col in (df.columns if event_time_col else [])
              else None)
    for row in df.toLocalIterator():
        ts = _ZERO_TIME
        if et_idx is not None and row[et_idx] is not None:
            ts = rfc3339(row[et_idx])
        vals = ", ".join(_native_value(v) for v in row)
        out.write(f"{{{marker}{ts}| {vals} |}}\n")


def _octo_type_name(dt) -> str:
    """Spark dtype → the reference's type rendering
    (octosql/types.go String()): Int/Float/String/Boolean/Time,
    [elem] lists, {field: T; ...} structs, unions for variant."""
    from pyspark.sql import types as T
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "Int"
    if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
        return "Float"
    if isinstance(dt, T.StringType):
        return "String"
    if isinstance(dt, T.BooleanType):
        return "Boolean"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        return "Time"
    if isinstance(dt, T.DayTimeIntervalType):
        return "Duration"
    if isinstance(dt, T.ArrayType):
        return f"[{_octo_type_name(dt.elementType)}]"
    if isinstance(dt, T.StructType):
        inner = "; ".join(f"{f.name}: {_octo_type_name(f.dataType)}"
                          for f in dt.fields)
        return "{" + inner + "}"
    if isinstance(dt, T.BinaryType):
        return "Binary"
    if type(dt).__name__ == "VariantType":
        return "Union"
    return dt.simpleString()


def describe(df: DataFrame, event_time: str | None = None) -> DataFrame:
    """--describe: the query's output schema as rows — columns
    ``name, type, time_field`` exactly like the reference's
    DescribeNode (cmd/describe.go:12-27). Type strings use the
    inferred octo-type carried in field metadata when available
    (union alternatives like ``NULL | String``), else the rendering
    derived from the Spark type."""
    spark = df.sparkSession
    rows = []
    for f in df.schema.fields:
        meta = f.metadata or {}
        tname = meta.get("octosql_type") or _octo_type_name(f.dataType)
        rows.append((f.name, tname, f.name == event_time))
    return spark.createDataFrame(
        rows, "name string, type string, time_field boolean")


WRITERS = {
    "table": write_table,
    "batch_table": write_table,
    "live_table": write_table,
    "csv": write_csv,
    "json": write_json,
    "stream_native": write_stream_native,
}


# ------------------------------------------------- streaming (foreachBatch)

def stream_native_diff_writer(out: IO[str] | None = None):
    """TRUE retraction stream for aggregating streaming queries: runs
    under complete output mode and diffs consecutive result frames —
    rows that disappeared print as ``{-...|}`` retractions, new rows as
    ``{+...|}`` additions. This reproduces the reference's
    retract-then-emit contract (custom_trigger_group_by.go:62-233 →
    outputs/stream/printer.go) exactly at the sink.

    The frame materializes per batch — the same cost profile as the
    reference's in-memory live buffer; bounded-state queries only (an
    aggregate's result set, not the raw stream)."""
    from collections import Counter
    prev: dict = {"rows": None}

    def _write(batch_df: DataFrame, batch_id: int, out=out) -> None:
        if out is None:
            out = sys.stdout
        cur_rows = [tuple(r) for r in batch_df.collect()]
        c_prev = Counter(prev["rows"]) if prev["rows"] else Counter()
        c_cur = Counter(cur_rows)
        # value order (the reference walks its btree in Value.Compare
        # order) — key=str sorted (10,) before (9,) (r8 review)
        for row in sorted((c_prev - c_cur).elements(),
                          key=record_sort_key):
            vals = ", ".join(_native_value(v) for v in row)
            out.write(f"{{-{_ZERO_TIME}| {vals} |}}\n")
        for row in sorted((c_cur - c_prev).elements(),
                          key=record_sort_key):
            vals = ", ".join(_native_value(v) for v in row)
            out.write(f"{{+{_ZERO_TIME}| {vals} |}}\n")
        prev["rows"] = cur_rows
        out.flush()

    return _write

def stream_batch_writer(output: str, out: IO[str] | None = None):
    """foreachBatch printer for streaming queries through the CLI.

    - ``stream_native``: every batch's rows print as additions
      (``{+ | ... |}``, outputs/stream/printer.go:34-55). Spark's
      update mode re-emits refined rows instead of sending explicit
      retractions — the refined row replaces the prior one for its
      key; documented deviation from the reference's ``-`` markers.
    - ``live_table``/``table``: repaint the current result per batch
      (live_output.go:165-204's ≤4 Hz repaint). On a real terminal the
      frame clears the screen and repaints in place, capped at 4
      frames/sec exactly like the reference's repaint timer; piped
      output gets one ``-- batch N --`` banner per frame instead
      (stable for logs/tests). Rows sorted for a stable frame.
    - ``csv``/``json``: eager append per batch (outputs/eager).
    """
    header_written = {"done": False}
    paint = {"last": 0.0}

    def _write(batch_df: DataFrame, batch_id: int, out=out) -> None:
        if out is None:
            out = sys.stdout  # resolve per-batch: test harnesses swap it
        if output == "stream_native":
            write_stream_native(batch_df, out)
        elif output in ("table", "batch_table", "live_table"):
            if getattr(out, "isatty", lambda: False)():
                import time as _time
                wait = 0.25 - (_time.monotonic() - paint["last"])
                if wait > 0:   # ≤4 Hz (live_output.go:165-176)
                    _time.sleep(wait)
                paint["last"] = _time.monotonic()
                out.write("\x1b[2J\x1b[H")  # clear + home: in-place
            else:
                out.write(f"-- batch {batch_id} --\n")
            # write_table sorts driver-side (record_sort_key): a
            # distributed pre-sort was a full shuffle per repaint
            # whose ordering got discarded (r8 review)
            write_table(batch_df, out)
        elif output == "csv":
            import csv as _csv
            w = _csv.writer(out, lineterminator="\n")
            if not header_written["done"]:
                w.writerow(batch_df.columns)
                header_written["done"] = True
            for row in batch_df.toLocalIterator():
                w.writerow([_csv_value(v) for v in row])
        elif output == "json":
            write_json(batch_df, out)
        out.flush()

    return _write
