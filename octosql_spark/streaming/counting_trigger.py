"""TRIGGER COUNTING n — a real implementation.

The reference's counting trigger (execution/triggers.go:17-87) fires a
key's aggregate every n records seen for that key; each re-emission
retracts the prior value (custom_trigger_group_by.go:62-233,
``previouslySentValues``). Structured Streaming has no per-record
trigger, so ``cli.map_trigger`` approximates with update mode — THIS
module is the exact version: a custom stateful operator via
``applyInPandasWithState`` keeping (per key) the running aggregate
state and a records-since-last-emit counter, emitting one output row
per n-record boundary crossed.

Output rows carry ``emitted_at_count`` (the total records seen at
emission) — the positive half of the reference's retract/emit pairs;
consumers treat a newer emission for the same key as replacing the
older one (same contract as update-mode sinks).

Scale: state is per-key O(#aggregates); rows stream through in Arrow
batches grouped by key. The per-batch work is VECTORIZED — numpy
cumulative reductions locate the n-record boundaries and the
accumulator values at each, no per-row Python loop.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType, StructField, StructType, DoubleType,
)

_SUPPORTED = ("count", "sum", "min", "max", "avg")


def _emission_value(fn: str, a0, c0, cacc_b: float, cnt_b: int):
    """Aggregate value at a boundary: state carried in (a0, c0)
    combined with this batch's cumulative (cacc_b, cnt_b)."""
    if fn == "count":
        return int(a0 or 0) + cnt_b
    if fn in ("sum", "avg"):
        c_tot = (c0 or 0) + cnt_b
        if fn == "sum":
            if a0 is None and cnt_b == 0:
                return None
            return (a0 if a0 is not None else 0.0) + float(cacc_b)
        return (((a0 or 0.0) + float(cacc_b)) / c_tot) if c_tot else None
    # min / max
    cur = None if np.isnan(cacc_b) else float(cacc_b)
    vals = [x for x in (a0, cur) if x is not None]
    if not vals:
        return None
    return min(vals) if fn == "min" else max(vals)


def make_counting_fn(agg_specs: Sequence[tuple[str, str, str]], n: int,
                     out_cols: Sequence[str]):
    """Build the applyInPandasWithState function. Exposed for direct
    (harness-free) unit/perf testing."""
    agg_specs = list(agg_specs)

    def fn(key: tuple, pdf_iter: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            vals = list(state.get)
        else:
            vals = [0, 0] + [None, 0] * len(agg_specs)
        total, since = vals[0], vals[1]
        accs = vals[2:]

        out_rows = []
        for pdf in pdf_iter:
            m = len(pdf)
            if m == 0:
                continue
            # cumulative accumulator + valid-count arrays per aggregate
            cums = []
            for f, col, _alias in agg_specs:
                if col == "*":
                    v = np.ones(m, dtype=float)
                    valid = np.ones(m, dtype=bool)
                elif f == "count":
                    # count needs only NON-NULLness — to_numeric
                    # coerced every string to NaN, so count(name)
                    # over a string column reported 0 (r8 review)
                    valid = pdf[col].notna().to_numpy()
                    v = valid.astype(float)
                else:
                    v = pd.to_numeric(pdf[col], errors="coerce") \
                          .to_numpy(dtype=float)
                    valid = ~np.isnan(v)
                ccnt = np.cumsum(valid)
                if f == "min":
                    cacc = np.fmin.accumulate(np.where(valid, v, np.nan))
                elif f == "max":
                    cacc = np.fmax.accumulate(np.where(valid, v, np.nan))
                else:  # count / sum / avg share a running sum
                    cacc = np.cumsum(np.where(valid, v, 0.0))
                cums.append((cacc, ccnt))

            # boundary rows: positions where the per-key record counter
            # crosses a multiple of n (cumsum replaces the row loop)
            p = np.arange(1, m + 1)
            bounds = np.nonzero((since + p) % n == 0)[0]
            for b in bounds:
                out = list(key) + [total + int(b) + 1]
                for i, (f, _col, _alias) in enumerate(agg_specs):
                    cacc, ccnt = cums[i]
                    out.append(_emission_value(
                        f, accs[2 * i], accs[2 * i + 1],
                        cacc[b], int(ccnt[b])))
                out_rows.append(out)

            # fold the whole batch into the carried state
            last = m - 1
            for i, (f, _col, _alias) in enumerate(agg_specs):
                cacc, ccnt = cums[i]
                a0, c0 = accs[2 * i], accs[2 * i + 1]
                cnt_m = int(ccnt[last])
                if f == "count":
                    if a0 is not None or cnt_m:
                        # DoubleType state field: store floats only
                        accs[2 * i] = float((a0 or 0) + cnt_m)
                elif f in ("sum", "avg"):
                    if a0 is not None or cnt_m:
                        accs[2 * i] = float((a0 or 0.0) + cacc[last])
                    accs[2 * i + 1] = (c0 or 0) + cnt_m
                else:
                    cur = cacc[last]
                    if not np.isnan(cur):
                        if a0 is None:
                            accs[2 * i] = float(cur)
                        else:
                            accs[2 * i] = (min(a0, float(cur)) if f == "min"
                                           else max(a0, float(cur)))
            total += m
            since = (since + m) % n

        state.update(tuple([total, since] + accs))
        if out_rows:
            yield pd.DataFrame(out_rows, columns=list(out_cols))

    return fn


def counting_trigger_aggregate(df: DataFrame, keys: Sequence[str],
                               aggs: Sequence[tuple[str, str, str]],
                               n: int) -> DataFrame:
    """``aggs``: (fn, column, alias) with fn in count/sum/min/max/avg.
    Returns a streaming DataFrame that emits one row per key each time
    that key has accumulated ``n`` more records."""
    if n < 1:
        # `TRIGGER COUNTING 0` would modulo-by-zero inside the
        # executor UDF — fail at the driver instead (r8 review)
        raise ValueError(f"counting trigger: n must be >= 1, got {n}")
    from pyspark.sql.types import NumericType
    for fn, col, _ in aggs:
        if fn not in _SUPPORTED:
            raise ValueError(f"counting trigger: unsupported aggregate {fn!r}")
        if fn != "count" and col != "*" and not isinstance(
                df.schema[col].dataType, NumericType):
            # sum/min/max/avg state is numeric; a string column would
            # silently aggregate to NULL (r8 review) — raising here
            # sends the CLI route to its generic per-micro-batch
            # fallback, which handles any type
            raise ValueError(
                f"counting trigger: {fn}({col}) needs a numeric "
                f"column, got {df.schema[col].dataType.simpleString()}")

    key_fields = [df.schema[k] for k in keys]
    out_schema = StructType(
        list(key_fields)
        + [StructField("emitted_at_count", LongType())]
        + [StructField(alias, LongType() if fn == "count" else DoubleType())
           for fn, _, alias in aggs])
    # state: total_seen, since_emit, then per-agg accumulators (sum+cnt)
    state_schema = StructType(
        [StructField("total", LongType()), StructField("since", LongType())]
        + [f for i, _ in enumerate(aggs) for f in
           (StructField(f"acc{i}", DoubleType()),
            StructField(f"cnt{i}", LongType()))])

    fn = make_counting_fn(aggs, n, [f.name for f in out_schema.fields])
    return (df.groupBy(*keys)
            .applyInPandasWithState(fn, outputStructType=out_schema,
                                    stateStructType=state_schema,
                                    outputMode="append",
                                    timeoutConf=GroupStateTimeout.NoTimeout))
