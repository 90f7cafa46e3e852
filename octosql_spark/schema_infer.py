"""Sampling-based schema inference with union types (SURVEY.md §1.3,
§7 hard-part 4 — exact rule parity matters for oracle correctness).

Reference rules reimplemented:
- CSV (datasources/csv/impl.go:47-129): sample the first 100 rows;
  per cell try Int → Float → Bool → RFC3339 Time → String; union-sum
  across rows; empty cell ⇒ ``| NULL``.
- JSON-lines (datasources/json/impl.go:27-99): sample 100 lines; JSON
  numbers are ALWAYS Float (:89-90); RFC3339-parsable strings are
  Time (:83-88); per-key TypeSum merge produces nested struct/list
  and union types.

The sample is a driver-side head read (100 rows — O(1) at any scale);
the full scan then runs distributed with the inferred schema. Union
columns come back as raw strings plus accessor columns per the policy
in ``octosql_spark.types.to_spark``.
"""

from __future__ import annotations

import csv as _csv
import io
import json
import re

from pyspark.sql import types as T

from octosql_spark import types as ot

SAMPLE_ROWS = 100

_RFC3339 = re.compile(
    r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?(Z|[+-]\d{2}:\d{2})?$")
_INT = re.compile(r"^[+-]?\d+$")
_FLOAT = re.compile(r"^[+-]?(\d+\.\d*|\.\d+|\d+)([eE][+-]?\d+)?$")


def _infer_csv_cell(cell: str) -> ot.OctoType:
    if cell == "":
        return ot.NULL
    if _INT.match(cell):
        return ot.INT
    if _FLOAT.match(cell):
        return ot.FLOAT
    if cell.lower() in ("true", "false"):
        return ot.BOOLEAN
    if _RFC3339.match(cell):
        return ot.TIME
    return ot.STRING


def _infer_json_value(v) -> ot.OctoType:
    if v is None:
        return ot.NULL
    if isinstance(v, bool):
        return ot.BOOLEAN
    if isinstance(v, (int, float)):
        return ot.FLOAT  # JSON numbers are always Float (impl.go:89-90)
    if isinstance(v, str):
        return ot.TIME if _RFC3339.match(v) else ot.STRING
    if isinstance(v, list):
        elem = ot.NULL if not v else v and _sum_all(
            [_infer_json_value(x) for x in v])
        return ot.list_of(elem if v else ot.ANY)
    if isinstance(v, dict):
        return ot.struct_of({k: _infer_json_value(x) for k, x in v.items()})
    return ot.ANY


def _sum_all(types: list[ot.OctoType]) -> ot.OctoType:
    out = types[0]
    for t in types[1:]:
        out = ot.type_sum(out, t)
    return out


def infer_csv(path: str, header: bool = True, sep: str = ",",
              sample_rows: int = SAMPLE_ROWS) -> dict[str, ot.OctoType]:
    """Column name → OctoType from the first ``sample_rows`` rows."""
    with open(path, newline="") as f:
        head = io.StringIO("".join(
            line for _, line in zip(range(sample_rows + 1), f)))
    rows = list(_csv.reader(head, delimiter=sep))
    if not rows:
        return {}
    if header:
        names, data = rows[0], rows[1:]
    else:
        names = [f"col{i}" for i in range(len(rows[0]))]
        data = rows
    out: dict[str, ot.OctoType] = {}
    for i, name in enumerate(names):
        cells = [r[i] if i < len(r) else "" for r in data]
        kinds = [_infer_csv_cell(c) for c in cells] or [ot.STRING]
        out[name] = _csv_fold(kinds)
    return out


def _csv_fold(kinds: list[ot.OctoType]) -> ot.OctoType:
    """The reference's CSV column fold (csv/impl.go:47-129): plain
    TypeSum per cell EXCEPT the Int/Float ladder — an Int cell is
    absorbed by a Float column, a Float cell upgrades an Int column
    (impl.go:82-99) — so int-mixed numeric columns widen to Float
    instead of forming Int|Float unions."""
    cur = kinds[0]
    for t in kinds[1:]:
        if t == ot.INT and cur == ot.FLOAT:
            continue
        if t == ot.FLOAT and cur == ot.INT:
            cur = ot.FLOAT
            continue
        cur = ot.type_sum(cur, t)
    return cur


class JsonLineParseError(ValueError):
    """A JSON line in the inference sample failed to parse. Carries
    the 1-based ``lineno`` and the raw ``line`` so the CLI error path
    can render the reference's full error chain (source-wrapper count
    + fastjson/object inner detail); the message itself is the
    single-wrapper fallback for non-CLI callers."""

    def __init__(self, lineno: int, line: str):
        self.lineno = lineno
        self.line = line
        super().__init__("couldn't run query: couldn't run source: "
                         f"couldn't parse line {lineno}")


def _nesting(obj) -> int:
    """Max container-nesting depth, iteratively (deep adversarial
    lines must not blow Python's recursion limit here)."""
    mx, stack = 1, [(obj, 1)]
    while stack:
        o, d = stack.pop()
        if d > mx:
            mx = d
        if isinstance(o, dict):
            stack.extend((v, d + 1) for v in o.values())
        elif isinstance(o, list):
            stack.extend((v, d + 1) for v in o)
    return mx


def _sample_lines(paths: list[str], sample_rows: int):
    """(line number in its file, line) of the first ``sample_rows``
    lines of ``paths``, read in order."""
    for path in paths:
        with open(path) as f:
            for lineno, raw in zip(range(1, sample_rows + 1), f):
                yield lineno, raw
                sample_rows -= 1
        if sample_rows <= 0:
            return


def infer_json(path: str | list[str],
               sample_rows: int = SAMPLE_ROWS) -> dict[str, ot.OctoType]:
    """Key → OctoType from the first ``sample_rows`` JSON lines of one
    file, or of several read in order, with per-key TypeSum merge
    (absent keys become nullable)."""
    per_row: list[dict[str, ot.OctoType]] = []
    for lineno, raw in _sample_lines([path] if isinstance(path, str) else path,
                                     sample_rows):
        line = raw.strip()
        if not line:
            continue
        try:
            obj = json.loads(line)
            if not isinstance(obj, dict):
                raise ValueError(f"expected JSON object, got {line!r}")
            if _nesting(obj) > 250:
                # Python json has no depth cap but fastjson
                # rejects >300 (parser.go MaxDepth); defer the
                # exact boundary + message to the goemu replay.
                # Sample-only check — like every inference-sample
                # error, a deep line past the sample parses
                # (DEVIATIONS: Spark scans have no depth limit).
                from octosql_spark.goemu import fastjson_parse_error
                deep_err, _ = fastjson_parse_error(line)
                if deep_err:
                    raise ValueError(deep_err)
        except (ValueError, RecursionError):
            # the reference's error chain + 1-based line number
            # (datasources/json/execution.go; error goldens)
            raise JsonLineParseError(lineno, raw.rstrip("\n")) from None
        per_row.append({k: _infer_json_value(v) for k, v in obj.items()})
    all_keys: list[str] = []
    for row in per_row:
        for k in row:
            if k not in all_keys:
                all_keys.append(k)
    out: dict[str, ot.OctoType] = {}
    for k in all_keys:
        kinds = [row.get(k, ot.NULL) for row in per_row]
        out[k] = _sum_all(kinds)
    return out


def to_spark_schema(cols: dict[str, ot.OctoType],
                    union_carrier: str = "string") -> T.StructType:
    fields = []
    for name, t in cols.items():
        dt, nullable = ot.to_spark(t, union_carrier)
        if isinstance(dt, T.NullType):
            dt = T.StringType()  # all-NULL column: carrier type
        # carry the exact inferred octo-type so --describe can render
        # union alternatives the Spark type lost (types.go String())
        fields.append(T.StructField(name, dt, nullable,
                                    metadata={"octosql_type": repr(t)}))
    return T.StructType(fields)
