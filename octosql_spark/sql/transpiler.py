"""OctoSQL dialect → Spark SQL transpiler.

The reference's SQL surface (parser/sqlparser fork + parser/parser.go)
differs from Spark SQL in a handful of ways; everything else IS
standard SQL, so we rewrite only the deltas and hand the result to
Catalyst (SURVEY.md §3 "Spark mapping of the lifecycle"):

| OctoSQL                      | rewritten to                           |
|------------------------------|----------------------------------------|
| ``obj->field``, ``obj->*``   | ``obj.field`` / ``obj.*`` (parser/parser.go:745-751) |
| ``x::Int``, ``x`` a primary¹ | ``TRY_CAST(x AS BIGINT)`` (TypeAssertion — README.md:271) |
| ``x ~ y`` / ``~*`` / ``!~``, primaries¹ ``x``, ``y`` | ``regexp_like`` forms (functions.go:591-668) |
| ``x[i]``, ``x`` a primary¹   | ``get(x, i)``: 0-based, NULL out of range (functions.go:1014-1042) |
| ``int(x)/float(x)/string(x)``| ``TRY_CAST``/``CAST`` (functions.go:900-1013) |
| ``floor(x)``, ``ceil(x)``    | ``CAST(floor(x) AS DOUBLE)``: Float like the reference (functions.go:394-412) |
| ``len(x)``                   | ``length(x)`` (strings; `size` for arrays) |
| ``substr(s, i[, n])``        | ``substring(s, (i)+1[, n])``: 0-based (functions.go:720-739) |
| ``position(s, sub)``         | ``instr`` made 0-based, NULL when absent (functions.go:757-772) |
| ``count_distinct(x)`` etc.   | ``count(DISTINCT x)``; also ``sum``/``avg``/``array_agg`` (aggregates/table.go) |
| ``+ * /`` on String/Int/Duration | ``concat``/``repeat``/``DIV``; Duration over int64 nanos (functions.go:156-355) |
| ``now()``                    | ``current_timestamp()``                |
| ``parse_time(s)``            | ``try_to_timestamp(s)`` (+Go-layout translation) |
| ``time_from_unix/to_unix``   | ``timestamp_seconds``/``unix_timestamp`` |
| ``x -> e``, ``(x, y) -> e``  | kept as written: a Spark lambda in a higher-order function's function argument |
| ``FROM file.csv`` etc.       | temp view over the file reader (cmd/root.go:192-217) |
| ``tumble(...)/max_diff_watermark(...)/poll(...)/range(a, b)`` TVFs | materialized to temp views via octosql_spark.tvf; ``range``'s column is ``i`` |
| ``TRIGGER ...`` clause       | stripped; returned as metadata (→ streaming output modes) |

¹ A primary is a name or dotted chain, a literal (``INTERVAL 1 DAY``,
``DATE '…'``, ``TIMESTAMP '…'``), a call, ``f(x) OVER (…)``, a paren
group or ``CASE … END``, with its own ``[i]``/``::T`` suffixes applied
in text order: ``arr[1]::Int`` is ``TRY_CAST(get(arr, 1) AS BIGINT)``.
"""

from __future__ import annotations

import functools
import itertools
from dataclasses import dataclass, field
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from octosql_spark.functions.registry import go_layout_to_java
from octosql_spark.sql.tokenizer import Tok, tokenize

_TYPE_MAP = {
    "int": "BIGINT", "float": "DOUBLE", "string": "STRING",
    "boolean": "BOOLEAN", "bool": "BOOLEAN", "time": "TIMESTAMP",
    "null": "VOID",
}

_FILE_EXTS = {"csv", "tsv", "json", "parquet", "lines"}
_TVF_NAMES = {"tumble", "max_diff_watermark", "poll", "range"}
_CLAUSE_KW = {"WHERE", "GROUP", "ORDER", "HAVING", "LIMIT", "ON", "USING",
              "JOIN", "LEFT", "RIGHT", "FULL", "INNER", "OUTER", "CROSS",
              "UNION", "INTERSECT", "EXCEPT", "TRIGGER", "STREAM", "LOOKUP"}

# Keywords that never start an operand: `SELECT (x) * 2` reads the
# operand `(x)`, not a call `SELECT(x)`. CASE does start one.
_NOT_OPERAND_KW = _CLAUSE_KW | {
    "SELECT", "FROM", "AND", "OR", "NOT", "WHEN", "THEN", "ELSE", "END",
    "AS", "BY", "IN", "DISTINCT", "ALL", "VALUES", "SET",
    "BETWEEN", "LIKE", "ILIKE", "IS", "OF", "WITH"}

# keywords of a typed literal `DATE '2020-01-01'`, one primary typed
# like a column of that type
_TYPED_LITERALS = ("DATE", "TIMESTAMP", "TIMESTAMP_NTZ", "TIMESTAMP_LTZ")

_view_counter = itertools.count()


@dataclass
class Transpiled:
    sql: str
    triggers: list[str] = field(default_factory=list)
    views: dict[str, str] = field(default_factory=dict)  # view -> source desc
    polls: list[str] = field(default_factory=list)  # poll() intervals
    event_time: str | None = None  # column carrying record event time
    ordered: bool = False  # top-level ORDER BY (sink must not re-sort)
    df: DataFrame | None = None  # set by run_query


def _sig(toks: list[Tok]) -> list[int]:
    return [i for i, t in enumerate(toks) if t.kind not in ("WS", "COMMENT")]


def _next_sig(toks: list[Tok], i: int) -> int | None:
    i += 1
    while i < len(toks) and toks[i].kind in ("WS", "COMMENT"):
        i += 1
    return i if i < len(toks) else None


def _match_paren(toks: list[Tok], open_i: int) -> int:
    """Index of the ')'/']' matching the '('/'[' at toks[open_i]."""
    depth = 0
    for i in range(open_i, len(toks)):
        if toks[i].text in ("(", "["):
            depth += 1
        elif toks[i].text in (")", "]"):
            depth -= 1
        if depth == 0:
            return i
    raise ValueError("unbalanced parentheses")


def _case_end(toks: list[Tok], case_i: int) -> int:
    """Index of the END that closes the CASE at ``case_i``."""
    depth = 0
    i = case_i
    while i < len(toks):
        t = toks[i]
        if t.kind == "PUNCT" and t.text in ("(", "["):
            i = _match_paren(toks, i)
        elif t.is_kw("CASE"):
            depth += 1
        elif t.is_kw("END"):
            depth -= 1
            if depth == 0:
                return i
        i += 1
    raise ValueError("CASE without END")


def _starts_operand(t: Tok) -> bool:
    return ((t.kind in ("IDENT", "QIDENT", "STRING", "NUMBER") or t.text == "(")
            and not t.is_kw(*_NOT_OPERAND_KW))


def _primary_end(toks: list[Tok], start_i: int) -> int:
    """End index (inclusive) of the primary expression starting at
    ``start_i``: an identifier chain, a literal (``INTERVAL <n> <unit>``
    and the typed ``DATE '…'`` forms included), a call with its
    ``OVER (…)``/``OVER w`` clause, a paren group or ``CASE … END``,
    then its ``[i]``, ``::T`` and ``.field`` suffixes."""
    i = start_i
    while True:
        t, j = toks[i], _next_sig(toks, i)
        if t.text == "(":
            i = _match_paren(toks, i)
        elif t.is_kw("CASE"):
            i = _case_end(toks, i)
        elif t.is_kw("INTERVAL"):
            k = None if j is None else _next_sig(toks, j)
            if (k is None or toks[j].kind not in ("NUMBER", "STRING")
                    or toks[k].kind != "IDENT"):
                raise ValueError("malformed INTERVAL literal")
            i = k
        elif t.is_kw(*_TYPED_LITERALS) and j is not None \
                and toks[j].kind == "STRING":
            i = j
        elif t.kind in ("IDENT", "QIDENT"):
            if j is not None and toks[j].text == "(":
                i = _match_paren(toks, j)
                over = _next_sig(toks, i)
                if over is not None and toks[over].is_kw("OVER"):
                    w = _next_sig(toks, over)
                    if w is None:
                        raise ValueError("OVER without a window")
                    i = _match_paren(toks, w) if toks[w].text == "(" else w
        elif t.kind not in ("STRING", "NUMBER"):
            raise ValueError(f"cannot find primary end at {t.text!r}")
        j = _next_sig(toks, i)
        while j is not None and toks[j].text in ("[", "::"):
            i = (_match_paren(toks, j) if toks[j].text == "["
                 else _next_sig(toks, j))  # the type name
            if i is None:
                raise ValueError("`::` without a type")
            j = _next_sig(toks, i)
        k = None if j is None or toks[j].text != "." else _next_sig(toks, j)
        if k is None or toks[k].kind not in ("IDENT", "QIDENT"):
            return i
        i = k


def _group_end(toks: list[Tok], i: int) -> int:
    """End of the bracket group or ``CASE … END`` that starts at
    ``toks[i]``; ``i`` itself for any other token."""
    t = toks[i]
    if t.kind == "PUNCT" and t.text in ("(", "["):
        return _match_paren(toks, i)
    return _case_end(toks, i) if t.is_kw("CASE") else i


def _level(toks: list[Tok], lo: int, hi: int):
    """Indices in ``toks[lo..hi]`` outside its bracket groups and
    ``CASE … END`` bodies: each group is one step, at its opener."""
    i = lo
    while i <= hi:
        yield i
        i = _group_end(toks, i) + 1


def _levels(toks: list[Tok], lo: int = 0, hi: int | None = None,
            depth: int = 0):
    """Every level of ``toks[lo..hi]`` as (depth, its significant
    indices, hi): the span itself, then the inside of each of its
    bracket groups and ``CASE … END`` bodies, recursively. ``depth``
    counts the groups around a level."""
    hi = len(toks) - 1 if hi is None else hi
    level, inner = [], []
    i = lo
    while i <= hi:  # _level's walk, keeping each group's span
        if toks[i].kind not in ("WS", "COMMENT"):
            level.append(i)
        if (close := _group_end(toks, i)) != i:
            inner.append((i + 1, close - 1))
        i = close + 1
    yield depth, level, hi
    for a, b in inner:
        yield from _levels(toks, a, b, depth + 1)


def _inner_first(toks: list[Tok], rewrite) -> list[Tok]:
    """``toks`` with the inside of each bracket group and each
    ``CASE … END`` replaced by ``rewrite`` of it. A pass that recurses
    through this rewrites every inner level before the level holding
    it, so it reads each operand from rewritten text."""
    level: list[Tok] = []
    i = 0
    while i < len(toks):
        close = _group_end(toks, i)
        level += ([toks[i]] if close == i else
                  [toks[i]] + rewrite(toks[i + 1:close]) + [toks[close]])
        i = close + 1
    return level


def _lambda_scoped(toks: list[Tok], types: dict[str, str], rewrite):
    """A typed pass over a level holding a lambda argument (``x -> …``,
    ``(acc, x) -> …``): ``rewrite`` of the text before the arrow, of
    the body, and of the rest. The parameters are not columns, so
    inside the body, which runs to the end of its argument, they take
    no column type. None when the level holds no lambda."""
    if not any(t.text == "->" for t in toks):  # most levels: no lambda
        return None
    arrow = next((i for i in _level(toks, 0, len(toks) - 1)
                  if toks[i].kind == "OP" and toks[i].text == "->"), None)
    if arrow is None:
        return None
    commas = [i for i in _level(toks, 0, len(toks) - 1)
              if toks[i].text == ","]
    start = max((c + 1 for c in commas if c < arrow), default=0)
    end = min((c for c in commas if c > arrow), default=len(toks))
    params = {t.text.strip('"`').lower() for t in toks[start:arrow]
              if t.kind in ("IDENT", "QIDENT")}
    body_types = {k: v for k, v in types.items() if k not in params}
    return (rewrite(toks[:arrow], types) + [toks[arrow]]
            + rewrite(toks[arrow + 1:end], body_types)
            + rewrite(toks[end:], types))


# ------------------------------------------------------------ rewrites

# Spark higher-order functions → the argument positions that take a
# lambda, ``x -> …`` or ``(x, y) -> …``
_LAMBDA_ARGS = {
    **dict.fromkeys(("transform", "filter", "exists", "forall",
                     "map_filter", "transform_keys", "transform_values",
                     "array_sort"), (1,)),
    "zip_with": (2,), "map_zip_with": (2,),
    "aggregate": (2, 3), "reduce": (2, 3)}


def _rewrite_arrow(toks: list[Tok]) -> list[Tok]:
    """``obj->field`` → ``obj.field``; the arrow of a lambda argument
    of a Spark higher-order function stays."""
    lambdas = set()
    for i, t in enumerate(toks):
        at = _LAMBDA_ARGS.get(t.text.lower()) if t.kind == "IDENT" else None
        j = at and _next_sig(toks, i)
        if not j or toks[j].text != "(":
            continue
        args = _split_top_commas(toks, j + 1, _match_paren(toks, j) - 1)
        for k in at:
            if k < len(args):
                s = args[k][0]
                lambdas.add(_next_sig(toks, _match_paren(toks, s)
                                      if toks[s].text == "(" else s))
    return [Tok("PUNCT", ".") if t.kind == "OP" and t.text == "->"
            and i not in lambdas else t for i, t in enumerate(toks)]


# runtime typeof() names that satisfy each assertion target — the
# numeric widths collapse because the reference's Int is one type
_STRICT_TYPEOF = {
    "BIGINT": ("tinyint", "smallint", "int", "bigint"),
    "DOUBLE": ("float", "double"),
    "STRING": ("string",),
    "BOOLEAN": ("boolean",),
    "TIMESTAMP": ("timestamp", "timestamp_ntz"),
}


def _type_assert(expr: list[Tok], type_tok: Tok, strict: bool,
                 variant_cols: set[str]) -> list[Tok]:
    """``expr::Type`` → ``TRY_CAST(expr AS T)``. The reference's
    ``::`` is a runtime TypeAssertion (execution/expressions.go:91-102):
    keep the value if it already has the type, else NULL — never error.
    TRY_CAST gives NULL-never-error under Spark 4 ANSI mode, matching
    the README idiom ``COALESCE(age::int, int(age::string), 0)``.
    Residual deviation (documented): for a string carrier, TRY_CAST
    *converts* parsable values ('42'::Int → 42) where the reference's
    assertion yields NULL; union carriers read from JSON rely on the
    convert behavior (types.py try_cast accessor policy).

    ``strict=True`` closes that deviation (DEVIATIONS 1): the
    assertion only passes values whose RUNTIME type already matches —
    ``CASE WHEN typeof(e) IN (...) THEN CAST(e AS T)`` for plain
    carriers, plus a ``schema_of_variant`` guard for Spark 4 VARIANT
    union carriers — so ``'42'::Int`` is NULL, exactly the reference's
    no-conversion TypeCast (execution/expressions.go:79-102)."""
    sqlt = _TYPE_MAP.get(type_tok.text.lower(), type_tok.text.upper())
    if not (strict and sqlt in _STRICT_TYPEOF):
        return ([Tok("IDENT", "TRY_CAST"), Tok("PUNCT", "(")] + expr
                + [Tok("WS", " "), Tok("IDENT", "AS"), Tok("WS", " "),
                   Tok("IDENT", sqlt), Tok("PUNCT", ")")])
    e = "".join(t.text for t in expr)
    base = e.rsplit(".", 1)[-1].strip().strip('`"').lower()
    if base in variant_cols:
        # VARIANT union carrier: runtime type lives in the variant itself
        guarded = (f"CASE WHEN schema_of_variant({e}) = '{sqlt}' "
                   f"THEN try_variant_get({e}, '$', '{sqlt}') END")
    else:
        names = ", ".join(f"'{n}'" for n in _STRICT_TYPEOF[sqlt])
        guarded = (f"CASE WHEN typeof({e}) IN ({names}) "
                   f"THEN CAST({e} AS {sqlt}) END")
    return _paren(tokenize(guarded))


def _regex_match(op: str, left: list[Tok], right: list[Tok]) -> list[Tok]:
    """``left ~ right`` and its ``~*``/``!~``/``!~*`` forms →
    ``regexp_like`` (functions.go:591-668)."""
    if op.endswith("*"):
        right = _call("concat", [Tok("STRING", "'(?i)'")], right)
    out = _call("regexp_like", left, right)
    return [Tok("IDENT", "NOT"), Tok("WS", " ")] + out if op[0] == "!" else out


def _postfix_operand(toks: list[Tok], i: int, strict: bool,
                     variant_cols: set[str]):
    """(tokens, end) of the operand at ``i``: one primary whose ``[i]``
    and ``::T`` suffixes are rewritten in text order. ``x[i]`` →
    ``get(x, i)``, the reference's 0-based, NULL-on-out-of-range
    indexing (functions.go:1014-1042); Spark's native ``[]`` is also
    0-based but *errors* out-of-range under ANSI mode. None when no
    primary starts at ``i``."""
    if not _starts_operand(toks[i]):
        return None
    try:
        end = _primary_end(toks, i)
    except ValueError:
        return None
    # a `[` or `::` outside the primary's parens is one of its suffixes
    # (a CASE body holds none: it was rewritten first)
    val: list[Tok] = []
    j = i
    while j <= end:
        t = toks[j]
        if t.text == "[":
            close = _match_paren(toks, j)
            val = _call("get", val, toks[j + 1:close])
        elif t.kind == "OP" and t.text == "::":
            close = _next_sig(toks, j)
            val = _type_assert(val, toks[close], strict, variant_cols)
        else:
            close = _match_paren(toks, j) if t.text == "(" else j
            val += toks[j:close + 1]
        j = close + 1
    return val, end


def _rewrite_postfix_ops(toks: list[Tok], strict: bool,
                         variant_cols: set[str]) -> list[Tok]:
    """The dialect's ``x[i]``, ``x::T`` and ``a ~ p`` operators in one
    forward pass per level, inner levels first. Each operand is read
    once with ``_primary_end``; ``~`` then takes the operand before it
    and the one after it, left-associatively."""
    level = _inner_first(
        toks, lambda inner: _rewrite_postfix_ops(inner, strict, variant_cols))
    out: list[Tok] = []
    i = 0
    while i < len(level):
        read = _postfix_operand(level, i, strict, variant_cols)
        if read is None:
            out.append(level[i])
            i += 1
            continue
        val, end = read
        while (op := _next_sig(level, end)) is not None \
                and level[op].kind == "OP" \
                and level[op].text in ("~", "~*", "!~", "!~*"):
            s = _next_sig(level, op)
            right = None if s is None else _postfix_operand(
                level, s, strict, variant_cols)
            if right is None:
                break
            val, end = _regex_match(level[op].text, val, right[0]), right[1]
        out += val
        i = end + 1
    return out


def _wrap(head: str, tail: str):
    """A call rule that writes ``head``, the argument text, ``tail``."""
    h, t = tokenize(head), tokenize(tail)
    return lambda inner, args, types: h + inner + t


def _len(inner: list[Tok], args, types: dict[str, str]) -> list[Tok]:
    # len dispatches on the runtime type in the reference
    # (functions.go:774-831): String → length, List → size
    cat = _span_cat(inner, *args[0], types) if len(args) == 1 else None
    return [Tok("IDENT", "size" if cat in ("array", "map")
                else "length")] + _paren(inner)


def _substr(inner: list[Tok], args, types: dict[str, str]) -> list[Tok]:
    # 0-based in the dialect (functions.go:720-739) → Spark's 1-based
    # substring: the start argument gains one
    if len(args) >= 2:
        s, e = args[1]
        inner = (inner[:s] + _paren(inner[s:e + 1]) + tokenize("+1")
                 + inner[e + 1:])
    return [Tok("IDENT", "substring")] + _paren(inner)


def _parse_time(inner: list[Tok], args, types: dict[str, str]) -> list[Tok]:
    # a literal Go layout argument is translated to a Java pattern
    for s, _ in args[1:]:
        if inner[s].kind == "STRING":
            layout = go_layout_to_java(inner[s].text[1:-1])
            inner[s] = Tok("STRING", f"'{layout}'")
    return [Tok("IDENT", "try_to_timestamp")] + _paren(inner)


# dialect call name → rule(argument tokens, their trimmed top-level
# comma spans, column types) → the Spark text of the whole call
_CALLS = {
    "now": _wrap("current_timestamp(", ")"),
    "time_from_unix": _wrap("timestamp_seconds(", ")"),
    # panic(msg) fails the query at runtime (functions.go catalog;
    # tests/scenarios/functions/panic golden)
    "panic": _wrap("raise_error(", ")"),
    "parse_time": _parse_time,
    "int": _wrap("TRY_CAST(", " AS BIGINT)"),
    "float": _wrap("TRY_CAST(", " AS DOUBLE)"),
    "string": _wrap("CAST(", " AS STRING)"),
    # the reference returns Float (functions.go:394-412), Spark BIGINT
    "floor": _wrap("CAST(floor(", ") AS DOUBLE)"),
    "ceil": _wrap("CAST(ceil(", ") AS DOUBLE)"),
    "len": _len,
    "substr": _substr,
    # position(haystack, needle): 0-based, NULL when absent
    # (functions.go:757-772); Spark's instr is 1-based, 0 when absent
    "position": _wrap("(nullif(instr(", "), 0) - 1)"),
    "time_to_unix": _wrap("unix_timestamp(CAST(", " AS TIMESTAMP))"),
    # the reference's callable *_distinct aggregates (aggregates/
    # table.go); Spark has only the AGG(DISTINCT x) form, which
    # _classify_item names like the call
    **{f"{agg}_distinct": _wrap(f"{agg}(DISTINCT ", ")")
       for agg in ("count", "sum", "avg", "array_agg")},
}


def _rewrite_calls(toks: list[Tok], types: dict[str, str]) -> list[Tok]:
    """The dialect's calls named in ``_CALLS``, in one forward pass per
    level, inner levels first: each ``name(`` is visited once and its
    rule reads already rewritten arguments. A qualified ``x.name(`` is
    not a dialect call."""
    scoped = _lambda_scoped(toks, types, _rewrite_calls)
    if scoped is not None:
        return scoped
    level = _inner_first(toks, lambda inner: _rewrite_calls(inner, types))
    out: list[Tok] = []
    prev = None  # the last significant token
    i = 0
    while i < len(level):
        t = level[i]
        rule = _CALLS.get(t.text.lower()) if t.kind == "IDENT" else None
        j = rule and _next_sig(level, i)
        if j and level[j].text == "(" and not (prev and prev.text == "."):
            close = _match_paren(level, j)
            inner = level[j + 1:close]
            out += rule(inner, _split_top_commas(inner, 0, len(inner) - 1),
                        types)
        else:  # an inner level is already rewritten: copy it whole
            close = _group_end(level, i)
            out += level[i:close + 1]
        if level[close].kind not in ("WS", "COMMENT"):
            prev = level[close]
        i = close + 1
    return out


def _type_cat(dtype: str) -> str:
    """Spark dtype string → overload category."""
    d = dtype.lower()
    if d == "string":
        return "string"
    if d.startswith(("tinyint", "smallint", "int", "bigint", "long",
                     "short", "byte")):
        return "int"
    if d.startswith(("float", "double", "decimal")):
        return "float"
    if d.startswith("array"):
        return "array"
    if d.startswith("map"):
        return "map"
    if d.startswith("struct"):
        return "struct"
    return d


class _Relation(NamedTuple):
    name: str | None  # None: a parenthesized subquery or join
    alias: str | None
    depth: int  # groups around it; 0 = the top-level FROM/JOIN list
    dtypes: list[tuple[str, str]] | None  # None: a CTE or unknown table


def _collect_column_types(relations: list[_Relation]) -> dict[str, str]:
    """Unqualified column name → type category, from every table/view
    the query references. Names that resolve to conflicting
    categories across tables are dropped (ambiguous — leave the
    operator untouched). This is the runtime half of the reference's
    typecheck-time overload resolution (logical/function.go:24-132)."""
    types: dict[str, str] = {}
    for rel in relations:
        for col, dtype in rel.dtypes or ():
            cat = _type_cat(dtype)
            key = col.lower()
            if key in types and types[key] != cat:
                types[key] = "__ambiguous__"
            else:
                types.setdefault(key, cat)
    return {k: v for k, v in types.items() if v != "__ambiguous__"}


# Category of a function call's RESULT, by (dialect) name — used to
# resolve overloads whose operand is itself a call. `len` is "int" in
# the dialect regardless of its argument (functions.go:774-831).
_FN_RESULT_CAT = {
    "upper": "string", "lower": "string", "reverse": "string",
    "concat": "string", "repeat": "string", "substr": "string",
    "substring": "string", "replace": "string", "trim": "string",
    "string": "string", "concat_ws": "string",
    "len": "int", "length": "int", "size": "int", "instr": "int",
    "int": "int", "float": "float", "sqrt": "float",
    "pow": "float", "log": "float", "log2": "float", "log10": "float",
    # aggregates (aggregates/table.go): count is Int regardless of
    # argument, avg(Int) is Float; min/max/sum are per-overload
    # polymorphic (see _POLY_FNS)
    "count": "int", "count_distinct": "int",
    "avg": "float", "avg_distinct": "float",
}

# Polymorphic functions whose result category is derived from their
# argument categories (the reference types them per-overload —
# functions.go:357-380 abs, and coalesce/nullif/greatest/least get
# the union of their argument types in its planner). Without this,
# ``coalesce(nullif(0, 0), 1) / 2`` lost the Int/Int integer-division
# overload and float-divided (found by the long differential-fuzz
# sweep).
_POLY_FNS = {"coalesce", "nullif", "ifnull", "nvl", "greatest",
             "least", "abs",
             # per-overload polymorphic aggregates: min/max/sum keep
             # their argument's category (sum(Int) is Int, so
             # SUM(a)/COUNT(*) integer-divides like the reference)
             "min", "max", "sum",
             "min_distinct", "max_distinct", "sum_distinct"}


_CAST_TARGET_CAT = {
    "BIGINT": "int", "INT": "int", "INTEGER": "int", "SMALLINT": "int",
    "TINYINT": "int", "LONG": "int",
    "DOUBLE": "float", "FLOAT": "float", "REAL": "float",
    "STRING": "string", "VARCHAR": "string", "TEXT": "string",
}


def _scalar_subquery_cat(toks: list[Tok], sig: list[int],
                         types: dict[str, str]) -> str | None:
    """Category of a scalar subquery span (``sig[0]`` is SELECT): the
    category of its single select item — the reference types a
    subquery by its output column, so ``(SELECT min(k) FROM t) / 2``
    keeps the Int/Int integer-division overload (found by the r8
    9k-example fuzz soak). The item ends at the first depth-0 FROM.
    None (no rewrite — Spark semantics, the safe fallback) for:
    a multi-column list; an ALIASED item (`f AS cnt` must not
    resolve the ALIAS name against the outer column-type map — r8
    review); a set-operation subquery (UNION/INTERSECT/EXCEPT
    branches can differ in category and the first branch alone
    doesn't decide — r8 review)."""
    # DISTINCT keeps the item's category
    start = 2 if len(sig) > 1 and toks[sig[1]].is_kw("DISTINCT") else 1
    if start >= len(sig):
        return None
    marks = [i for i in _level(toks, sig[start], sig[-1])
             if toks[i].text == ","
             or toks[i].is_kw("AS", "FROM", "UNION", "INTERSECT", "EXCEPT")]
    # a `,` or AS before the FROM: several columns or an aliased item;
    # a set operation anywhere: later branches may differ
    if not marks or not toks[marks[0]].is_kw("FROM") or any(
            toks[m].is_kw("UNION", "INTERSECT", "EXCEPT") for m in marks):
        return None
    return _span_cat(toks, sig[start], marks[0] - 1, types)


def _span_cat(toks: list[Tok], lo: int, hi: int,
              types: dict[str, str]) -> str | None:
    """Type category of the expression spanned by toks[lo..hi]
    (significant-token bounds, inclusive): handles primaries, calls,
    paren groups and flat binary arithmetic chains."""
    sig = [i for i in range(lo, hi + 1)
           if toks[i].kind not in ("WS", "COMMENT")]
    if not sig:
        return None
    if (toks[sig[0]].kind == "IDENT"
            and toks[sig[0]].text.upper() == "SELECT"):
        # scalar subquery — MUST be handled before the binary-op scan
        # below: a SELECT-led span is never an operand chain, and an
        # arithmetic token inside the subquery's item or WHERE (e.g.
        # `SELECT min(k)+1 …`, `… WHERE k % 2 = 0`) sits at paren
        # depth 0 relative to this span and would wrongly split it
        # (r8 review finding on the r8 soak fix)
        return _scalar_subquery_cat(toks, sig, types)
    ops = [i for i in _level(toks, lo, hi) if _is_arith_op_tok(toks, i)]
    if ops:
        # Int/Int is integer division in the dialect (functions.go:
        # 320-355), so an Int chain stays Int; Duration ± Duration and
        # Duration */÷ a number stay Duration (functions.go:156-355)
        bounds = [lo - 1] + ops + [hi + 1]
        cats = {_span_cat(toks, a + 1, b - 1, types)
                for a, b in zip(bounds, bounds[1:])}
        if "duration" in cats and cats <= {"duration", "int", "float"}:
            return "duration"
        return _union_cat(cats) if cats <= {"int", "float", "string"} \
            else None
    t = toks[sig[0]]
    if t.is_kw("CASE") and _case_end(toks, sig[0]) == sig[-1]:
        # CASE result category = combined category of the THEN/ELSE
        # result expressions (the reference's planner types CASE as
        # the union of its branch types, so Int branches keep the
        # Int/Int division overload — found by the differential-fuzz
        # sweep via "(CASE WHEN 0 >= 0 THEN 1 ELSE 0 END) / 2")
        marks = [i for i in _level(toks, sig[0] + 1, sig[-1] - 1)
                 if toks[i].is_kw("WHEN", "THEN", "ELSE")] + [sig[-1]]
        return _union_cat({_span_cat(toks, m + 1, n - 1, types)
                           for m, n in zip(marks, marks[1:])
                           if toks[m].is_kw("THEN", "ELSE")})
    if t.kind == "STRING":
        return "string" if len(sig) == 1 else None
    if t.kind == "NUMBER":
        if len(sig) != 1:
            return None
        txt = t.text.lower()
        return "float" if ("." in txt or "e" in txt) else "int"
    if t.kind in ("IDENT", "QIDENT"):
        if (t.is_kw("INTERVAL") and len(sig) == 3
                and toks[sig[1]].kind in ("NUMBER", "STRING")
                and toks[sig[2]].kind == "IDENT"):
            return "duration"
        if t.is_kw(*_TYPED_LITERALS) and len(sig) == 2 \
                and toks[sig[1]].kind == "STRING":
            return _type_cat(t.text)
        if len(sig) == 1:
            return types.get(t.text.strip('"`').lower())
        if toks[sig[1]].text == "(":
            close = _match_paren(toks, sig[1])
            if close != sig[-1]:  # a windowed call is typed as its call
                over = _next_sig(toks, close)
                return (_span_cat(toks, lo, close, types)
                        if toks[over].is_kw("OVER") else None)
            if t.text.lower() in ("try_cast", "cast"):
                # ``x::T`` has already been rewritten to
                # TRY_CAST(x AS T) by the time the overload pass runs,
                # so the cast target (token before the closing paren)
                # determines the category: '7'::Int / 2 must still be
                # Int/Int integer division (functions.go:320-355).
                return _CAST_TARGET_CAT.get(toks[sig[-2]].text.upper())
            fname = t.text.lower()
            if fname == "named_struct" and toks[sig[2]].text == "'__dur_ns'":
                return "durns"  # the wire form ``_wire`` emits
            if fname in _POLY_FNS:
                args = _split_top_commas(toks, sig[1] + 1, sig[-1] - 1)
                if not args:
                    return None
                if fname == "nullif":
                    # result type = first argument (second only
                    # compares)
                    return _span_cat(toks, args[0][0], args[0][1],
                                     types)
                return _union_cat({_span_cat(toks, a, b, types)
                                   for a, b in args})
            return _FN_RESULT_CAT.get(fname)
        # dotted chain t.col → category of the final identifier
        if all(toks[i].kind in ("IDENT", "QIDENT") or toks[i].text == "."
               for i in sig):
            return types.get(toks[sig[-1]].text.strip('"`').lower())
        return None
    if t.text == "(" and sig[-1] == _match_paren(toks, sig[0]):
        return _span_cat(toks, sig[0] + 1, sig[-1] - 1, types)
    return None


def _union_cat(cats: set[str | None]) -> str | None:
    """The one category of values drawn from ``cats``: Int when all
    are Int, Float when all are numeric, else their only category."""
    if not cats or None in cats:
        return None
    if cats == {"int"}:
        return "int"
    if cats <= {"int", "float"}:
        return "float"
    return cats.pop() if len(cats) == 1 else None


def _is_arith_op_tok(toks: list[Tok], i: int) -> bool:
    t = toks[i]
    return ((t.kind == "OP" and t.text in ("+", "-", "*", "/", "%"))
            or (t.kind == "IDENT" and t.text.upper() == "DIV"))


def _operand_end(toks: list[Tok], i: int) -> int | None:
    """End (inclusive) of the chain operand starting at token ``i``:
    unary signs, then one primary. None when no operand starts there
    (a keyword, another operator, a bracket)."""
    while toks[i].kind == "OP" and toks[i].text in ("+", "-"):
        i = _next_sig(toks, i)
        if i is None:
            return None
    if not _starts_operand(toks[i]):
        return None
    try:
        return _primary_end(toks, i)
    except ValueError:
        return None


def _paren(inner: list[Tok]) -> list[Tok]:
    return [Tok("PUNCT", "(")] + inner + [Tok("PUNCT", ")")]


def _call(fn: str, a: list[Tok], b: list[Tok]) -> list[Tok]:
    return ([Tok("IDENT", fn), Tok("PUNCT", "(")] + a
            + [Tok("PUNCT", ","), Tok("WS", " ")] + b + [Tok("PUNCT", ")")])


_DIV = [Tok("WS", " "), Tok("IDENT", "DIV"), Tok("WS", " ")]

_Value = tuple[str | None, list[Tok]]  # (category, tokens)


def _chain_value(toks: list[Tok], s: int, e: int,
                 types: dict[str, str]) -> _Value:
    """(category, tokens) of one chain operand. A signed operand keeps
    a numeric or Duration category; a nanosecond-carrying Duration
    operand (the wire form) is read as its int64 nanos."""
    p = s
    while toks[p].kind == "OP":
        p = _next_sig(toks, p)
    cat = _span_cat(toks, p, e, types)
    span = toks[s:e + 1]
    if p != s and cat not in ("int", "float", "duration"):
        return None, span
    if cat == "durns":
        return cat, _paren(span) + tokenize(".__dur_ns")
    return cat, span


def _ns(v: _Value) -> list[Tok]:
    """int64 nanos of a Duration value: a µs interval is epoch-shifted
    to micros, then ×1000 (exact, Spark intervals carry µs); a
    nanosecond-carrying value already is nanos; an Int stays itself."""
    cat, toks = v
    if cat != "duration":
        return toks
    return _paren(tokenize("unix_micros(timestamp_micros(0) + ")
                  + _paren(toks) + tokenize(") * 1000"))


def _wire(ns: list[Tok]) -> list[Tok]:
    """The wire form of a nanosecond-carrying Duration: Spark's interval
    type holds microseconds, so a division-derived Duration travels as a
    one-field struct of int64 nanos (Go's own representation,
    time.Duration = int64 ns), which the sinks render through
    ``go_duration_ns``."""
    return (tokenize("named_struct('__dur_ns', CAST(") + _paren(ns)
            + tokenize(" AS BIGINT))"))


def _plain(v: _Value) -> list[Tok]:
    """Tokens of a value under an operator with no nanosecond overload:
    a nanosecond-carrying Duration degrades to a µs interval there."""
    cat, toks = v
    if cat != "durns":
        return toks
    return _paren(_paren(toks)
                  + tokenize(" DIV 1000 * INTERVAL 1 MICROSECOND"))


def _arith_step(l: _Value, op: str, sep: list[Tok], r: _Value) -> _Value:
    """One left-associative step of the dialect's arithmetic overload
    set (functions.go:156-355, typed in logical/function.go:24-132).
    ``sep`` is the operator with its
    original whitespace. Operators no overload covers keep their text
    and, outside plain numeric/Duration arithmetic, an unknown result
    category."""
    (lc, lt), (rc, rt) = l, r
    cats = {lc, rc}
    durs = {"duration", "durns"}
    if op == "+" and "string" in cats:
        return "string", _call("concat", _plain(l), _plain(r))
    if op == "*" and cats == {"string", "int"}:
        return "string", (_call("repeat", lt, rt) if lc == "string"
                          else _call("repeat", rt, lt))
    if op == "/" and lc == rc == "int":
        return "int", lt + _DIV + rt
    if op in ("/", "DIV") and lc in durs and rc == "int":
        # Duration / Int divides the int64 nanos (Go truncation), so
        # INTERVAL 7 SECOND / 3 = 2.333333333s
        return "durns", _ns(l) + _DIV + rt
    if op == "/" and cats <= durs:
        return "float", _ns(l) + sep + _ns(r)  # Duration / Duration ratio
    if "durns" in cats and ((op in ("+", "-") and cats <= durs)
                            or (op == "*" and cats == {"durns", "int"})):
        return "durns", _ns(l) + sep + _ns(r)
    if cats <= {"int", "float"}:
        cat = "float" if "float" in cats else "int"
    elif ((op in ("+", "-") and cats == {"duration"})
          or (op == "*" and cats in ({"duration", "int"},
                                     {"duration", "float"}))
          or (op == "/" and lc == "duration" and rc == "float")):
        cat = "duration"  # Spark's own µs interval arithmetic
    else:
        cat = None
    return cat, _plain(l) + sep + _plain(r)


def _fold_chain(toks: list[Tok], spans: list[tuple[int, int]],
                ops: list[int], types: dict[str, str]) -> list[Tok]:
    """Fold one maximal flat chain ``operand (op operand)*`` (inclusive
    token spans, operator indices): the multiplicative level first,
    then the additive one, each strictly left-associative like the
    reference — ``10s - 3s + 7s/3`` is ``(10s - 3s) + (7s/3)``."""
    vals = [_chain_value(toks, s, e, types) for s, e in spans]
    names = ["DIV" if toks[o].kind == "IDENT" else toks[o].text
             for o in ops]
    seps = [toks[a[1] + 1:b[0]] for a, b in zip(spans, spans[1:])]
    terms = []  # (index of the additive operator before it, value)
    lead, cur = None, vals[0]
    for k, right in enumerate(vals[1:]):
        if names[k] in ("+", "-"):
            terms.append((lead, cur))
            lead, cur = k, right
        else:
            cur = _arith_step(cur, names[k], seps[k], right)
    terms.append((lead, cur))
    acc = terms[0][1]
    for k, right in terms[1:]:
        acc = _arith_step(acc, names[k], seps[k], right)
    return _wire(acc[1]) if acc[0] == "durns" else acc[1]


def _rewrite_arith_overloads(toks: list[Tok],
                             types: dict[str, str]) -> list[Tok]:
    """The reference's arithmetic overloads (functions.go:156-355):
    String+String → concat, String*Int / Int*String → repeat, Int/Int
    → integer division, and the Duration set over int64 nanos. Literals
    pin the overload directly; column operands resolve through
    ``types`` (view schemas collected by ``_bind_tables`` —
    the Spark-side equivalent of the reference's typecheck,
    logical/function.go:24-132). Each paren level and CASE body is
    folded before the level that contains it, so an enclosing chain
    types an inner result from its rewritten text; each maximal flat
    chain folds once."""
    scoped = _lambda_scoped(toks, types, _rewrite_arith_overloads)
    if scoped is not None:
        return scoped
    level = _inner_first(
        toks, lambda inner: _rewrite_arith_overloads(inner, types))
    out: list[Tok] = []
    i = 0
    while i < len(level):
        end = _operand_end(level, i)
        if end is None:
            out.append(level[i])
            i += 1
            continue
        spans, ops = [(i, end)], []
        while True:
            op = _next_sig(level, spans[-1][1])
            if op is None or not _is_arith_op_tok(level, op):
                break
            s = _next_sig(level, op)
            e = None if s is None else _operand_end(level, s)
            if e is None:
                break
            ops.append(op)
            spans.append((s, e))
        out += (_fold_chain(level, spans, ops, types) if ops
                else level[i:end + 1])
        i = spans[-1][1] + 1
    return out


def _rewrite_float_literals(toks: list[Tok]) -> list[Tok]:
    """``42.42`` → ``CAST(42.42 AS DOUBLE)``: the dialect's Float is
    float64 (octosql/values.go:17-18), but Spark SQL parses decimal
    literals as DecimalType (7.0/3.0 would yield Decimal('2.333333')
    instead of the reference's 2.3333333333333335)."""
    out: list[Tok] = []
    prev_sig: Tok | None = None
    for t in toks:
        if (t.kind == "NUMBER" and any(c in t.text for c in ".eE")
                and not (prev_sig is not None
                         and prev_sig.is_kw("INTERVAL"))):
            out += [Tok("IDENT", "CAST"), Tok("PUNCT", "("), t,
                    Tok("WS", " "), Tok("IDENT", "AS"), Tok("WS", " "),
                    Tok("IDENT", "DOUBLE"), Tok("PUNCT", ")")]
        else:
            out.append(t)
        if t.kind not in ("WS", "COMMENT"):
            prev_sig = t
    return out


# keywords that end a TRIGGER clause: ``TRIGGER ON WATERMARK`` and
# ``STREAM`` belong to it
_TRIGGER_END = _CLAUSE_KW - {"ON", "STREAM"}


def _strip_trigger(toks: list[Tok]) -> tuple[list[Tok], list[str]]:
    """Remove each ``TRIGGER <spec>[, <spec>]*`` clause, at any level;
    return the specs in text order (parser/parser.go:503-534). A
    clause runs to the next clause keyword of its level, else to the
    level's end."""
    spans = []
    for _, level, hi in _levels(toks):
        for k, i in enumerate(level):
            if toks[i].is_kw("TRIGGER"):
                spans.append((i, next((j for j in level[k + 1:]
                                       if toks[j].is_kw(*_TRIGGER_END)),
                                      hi + 1)))
    spans.sort()
    out: list[Tok] = []
    at = 0
    for i, end in spans:
        out += toks[at:i]
        at = end
    return out + toks[at:], ["".join(t.text for t in toks[i + 1:end]).strip()
                             for i, end in spans]


def _strip_join_modifiers(toks: list[Tok]) -> list[Tok]:
    """``LOOKUP JOIN`` / ``STREAM JOIN`` (parser extensions,
    token.go:257,379) → plain JOIN; LOOKUP marks the broadcast side,
    which Catalyst/AQE decides better from sizes (a hint would go here
    if ever needed)."""
    out: list[Tok] = []
    sig_next_join = set()
    sig = _sig(toks)
    for si, i in enumerate(sig):
        if toks[i].is_kw("LOOKUP", "STREAM") and si + 1 < len(sig) \
                and toks[sig[si + 1]].is_kw("JOIN"):
            sig_next_join.add(i)
    skip_ws_after: int | None = None
    for i, t in enumerate(toks):
        if i in sig_next_join:
            skip_ws_after = i
            continue
        if skip_ws_after is not None and t.kind == "WS":
            skip_ws_after = None
            continue
        out.append(t)
    return out


def _rewrite_outer_join(toks: list[Tok]) -> list[Tok]:
    """Bare ``OUTER JOIN`` → ``FULL OUTER JOIN``: the reference's
    parser reads OUTER as full outer (tests/scenarios/nodes/
    outer_join_1.in); Spark SQL requires the FULL keyword."""
    sig = _sig(toks)
    hits = []
    for si, i in enumerate(sig):
        if (toks[i].is_kw("OUTER") and si + 1 < len(sig)
                and toks[sig[si + 1]].is_kw("JOIN")
                and not (si > 0
                         and toks[sig[si - 1]].is_kw("LEFT", "RIGHT", "FULL"))):
            hits.append(i)
    for i in reversed(hits):
        toks = toks[:i] + [Tok("IDENT", "FULL"), Tok("WS", " ")] + toks[i:]
    return toks


# ----------------------------------------- output naming (reference parity)

_AGG_FNS = {"count", "sum", "avg", "min", "max", "array_agg"}
# keywords that make an all-IDENT item an expression, not a column
# reference (`NULL IS NULL` names col_N, not "NULL")
_EXPR_KW = {"NULL", "TRUE", "FALSE", "IS", "NOT", "AND", "OR", "BETWEEN",
            "LIKE", "IN", "CASE", "WHEN", "THEN", "ELSE", "END",
            "INTERVAL", "EXISTS", "DISTINCT", "ALL",
            "CURRENT_TIMESTAMP", "CURRENT_DATE"}


def _top_level(toks: list[Tok]) -> list[int]:
    """Significant indices of the top level of ``toks``."""
    return [i for i in _level(toks, 0, len(toks) - 1)
            if toks[i].kind not in ("WS", "COMMENT")]


def _top_select_span(toks: list[Tok]) -> tuple[int, int | None] | None:
    """(index of SELECT, index of its FROM or None) for the single
    top-level SELECT; None for set operations / multiple statements."""
    level = _top_level(toks)
    selects = [i for i in level if toks[i].is_kw("SELECT")]
    if len(selects) != 1 or any(toks[i].is_kw("UNION", "INTERSECT", "EXCEPT")
                                for i in level):
        return None
    return selects[0], next((i for i in level if i > selects[0]
                             and toks[i].is_kw("FROM")), None)


def _split_top_commas(toks: list[Tok], start: int, end: int) -> list[tuple[int, int]]:
    """Comma-split token span [start, end] at its own level, trimmed."""
    commas = [j for j in _level(toks, start, end) if toks[j].text == ","]
    trimmed = []
    for s, e in zip([start] + [c + 1 for c in commas],
                    [c - 1 for c in commas] + [end]):
        while s <= e and toks[s].kind in ("WS", "COMMENT"):
            s += 1
        while e >= s and toks[e].kind in ("WS", "COMMENT"):
            e -= 1
        if s <= e:
            trimmed.append((s, e))
    return trimmed


def _name_tok(name: str) -> Tok:
    import re as _re
    if _re.fullmatch(r"\w+", name):
        return Tok("IDENT", name)
    return Tok("QIDENT", f"`{name}`")


def _expand_star(toks: list[Tok], relations: list[_Relation]) -> list[Tok]:
    """Top-level ``SELECT *`` over 2+ tables expands to qualified
    columns so colliding names render alias-qualified, like the
    reference's requalified output (tests/scenarios/nodes/
    inner_join_0.out headers ``l.i | r.i``). Only the top-level
    FROM/JOIN list expands — a table named inside a subquery is not
    in the star's scope."""
    sel, frm = _top_select_span(toks) or (None, None)
    if frm is None:
        return toks
    items = _split_top_commas(toks, sel + 1, frm - 1)
    if len(items) != 1:
        return toks
    s, e = items[0]
    if not (s == e and toks[s].text == "*"):
        return toks
    tables = [rel for rel in relations if rel.depth == 0]
    if len(tables) < 2 or any(rel.dtypes is None for rel in tables):
        return toks
    cols = [(rel.alias or rel.name, c)  # (qualifier, column)
            for rel in tables for c, _ in rel.dtypes]
    counts: dict[str, int] = {}
    for _, c in cols:
        counts[c] = counts.get(c, 0) + 1
    new: list[Tok] = []
    for idx, (ref, c) in enumerate(cols):
        if idx:
            new += [Tok("PUNCT", ","), Tok("WS", " ")]
        out_name = c if counts[c] == 1 else f"{ref}.{c}"
        new += [_name_tok(ref), Tok("PUNCT", "."), _name_tok(c),
                Tok("WS", " "), Tok("IDENT", "AS"), Tok("WS", " "),
                _name_tok(out_name)]
    return toks[:s] + new + toks[e + 1:]


def _classify_item(toks: list[Tok], s: int, e: int):
    """(kind, detail) for one select item:
    star | aliased(name, alias_tok_idx) | bare(name) |
    agg(aggname, argname_or_None) | expr."""
    isig = [j for j in range(s, e + 1) if toks[j].kind not in ("WS", "COMMENT")]
    while isig and toks[isig[0]].is_kw("DISTINCT", "ALL"):
        isig = isig[1:]
    if not isig:
        return ("expr", None)
    # trailing explicit alias?
    alias = next((j for j in _level(toks, isig[0], e)
                  if toks[j].is_kw("AS") and j < isig[-1]), None)
    if alias is not None:
        name = _next_sig(toks, alias)
        return ("aliased", (toks[name].text.strip('"`'), name))
    if any(toks[j].text == "*" and toks[j].kind == "OP" for j in isig) \
            and len(isig) <= 3 and toks[isig[-1]].text == "*":
        return ("star", None)  # `*` / `t.*` / (post-arrow) `obj.*`
    if all(toks[j].kind in ("IDENT", "QIDENT") or toks[j].text == "."
           for j in isig) \
            and not any(toks[j].is_kw(*_EXPR_KW) for j in isig):
        return ("bare", toks[isig[-1]].text.strip('"`'))
    fn = toks[isig[0]].text.lower()
    base = fn[:-9] if fn.endswith("_distinct") else fn
    if (toks[isig[0]].kind == "IDENT" and base in _AGG_FNS
            and len(isig) >= 2 and toks[isig[1]].text == "("
            and _match_paren(toks, isig[1]) == isig[-1]):
        args = _split_top_commas(toks, isig[1] + 1, isig[-1] - 1)
        aggname = fn
        argname = None
        if len(args) == 1:
            asig = [j for j in range(args[0][0], args[0][1] + 1)
                    if toks[j].kind not in ("WS", "COMMENT")]
            if asig and toks[asig[0]].is_kw("DISTINCT"):
                if not fn.endswith("_distinct"):
                    aggname = fn + "_distinct"
                asig = asig[1:]
            if asig and all(toks[j].kind in ("IDENT", "QIDENT")
                            or toks[j].text == "." for j in asig) \
                    and not any(toks[j].is_kw(*_EXPR_KW) for j in asig):
                argname = toks[asig[-1]].text.strip('"`')
        return ("agg", (aggname, argname))
    return ("expr", None)


def _compact(toks: list[Tok], s: int, e: int) -> str:
    """Token span [s, e] without whitespace and comments: the form in
    which a SELECT item and a GROUP BY key are compared."""
    return "".join(t.text for t in toks[s:e + 1]
                   if t.kind not in ("WS", "COMMENT"))


def _group_by_keys(toks: list[Tok]):
    """(index of GROUP, key token spans) of the top-level ``GROUP
    BY``, or None without one. The key list ends at a top-level
    HAVING/ORDER/LIMIT/WINDOW/TRIGGER or the end of the text."""
    level = _top_level(toks)
    at = next((k for k in range(len(level) - 2) if toks[level[k]].is_kw("GROUP")
               and toks[level[k + 1]].is_kw("BY")), None)
    if at is None:
        return None
    end = next((j - 1 for j in level[at + 2:] if toks[j].is_kw(
        "HAVING", "ORDER", "LIMIT", "WINDOW", "TRIGGER")), len(toks) - 1)
    return level[at], _split_top_commas(toks, level[at + 2], end)


def _alias_select_items(toks: list[Tok]) -> list[Tok]:
    """Reference output naming for unaliased select items
    (logical/map.go:100-117, parser/parser.go:140-185): plain
    expressions → ``col_<position>``; aggregates → ``<agg>`` /
    ``<agg>_<field>``; group-by key expressions → ``key_<n>``;
    duplicate names get ``_<count>`` suffixes. Emitted as explicit
    ``AS`` aliases so Spark's output schema matches the reference."""
    span = _top_select_span(toks)
    if span is None:
        return toks
    sel, frm = span
    items = _split_top_commas(toks, sel + 1,
                              len(toks) - 1 if frm is None else frm - 1)
    infos = [_classify_item(toks, s, e) for s, e in items]
    is_group_by = any(kind == "agg" for kind, _ in infos)
    gb = _group_by_keys(toks) if is_group_by else None
    group_keys = [_compact(toks, s, e) for s, e in gb[1]] if gb else []
    counter: dict[str, int] = {}

    def unique(name: str) -> str:
        n = counter.get(name, 0)
        counter[name] = n + 1
        return name if n == 0 else f"{name}_{n}"

    # (cut, resume, new): the output takes toks up to ``cut``, then
    # ``new``, and goes on from ``resume``; one edit per item, in order
    edits: list[tuple[int, int, list[Tok]]] = []
    for idx, ((s, e), (kind, detail)) in enumerate(zip(items, infos)):
        if kind == "star":
            continue
        if kind == "aliased":
            alias, alias_idx = detail
            final = unique(alias)
            if final != alias:
                edits.append((alias_idx, alias_idx + 1, [_name_tok(final)]))
            continue
        if kind == "bare":
            final = unique(detail)
            if final != detail:
                edits.append((e + 1, e + 1, [
                    Tok("WS", " "), Tok("IDENT", "AS"), Tok("WS", " "),
                    _name_tok(final)]))
            continue
        if kind == "agg":
            aggname, argname = detail
            name = f"{aggname}_{argname}" if argname else aggname
        else:  # expr
            item_text = _compact(toks, s, e)
            if is_group_by and item_text in group_keys:
                name = f"key_{group_keys.index(item_text)}"
            else:
                name = f"col_{idx}"
        final = unique(name)
        edits.append((e + 1, e + 1, [Tok("WS", " "), Tok("IDENT", "AS"),
                                     Tok("WS", " "), _name_tok(final)]))
    out: list[Tok] = []
    at = 0
    for cut, resume, new in edits:
        out += toks[at:cut] + new
        at = resume
    return out + toks[at:]


# calls whose value differs between evaluations of the same row
_NONDET_FNS = {"rand", "randn", "random", "uuid", "shuffle",
               "current_timestamp", "current_date", "now"}


@dataclass
class SelectItem:
    expr: str  # expression text, without its alias
    name: str  # output column name
    key: int | None = None  # index of the GROUP BY key it restates
    agg: tuple[str, str] | None = None  # (function, argument) of a
    # one-argument aggregate call; DISTINCT shows as ``count_distinct``


@dataclass
class GroupBy:
    items: list[SelectItem]
    source: str  # the FROM span: relations, joins and their ON
    where: str | None
    keys: list[str]  # GROUP BY key texts, whitespace removed


def group_by_shape(sql: str) -> GroupBy | None:
    """Read transpiled Spark SQL of the shape ``SELECT items FROM
    source [WHERE cond] GROUP BY keys``; None for any other shape — a
    WITH prefix, SELECT DISTINCT, a subquery in the FROM span, HAVING,
    ORDER BY, LIMIT, a set operation, or a key that calls a
    nondeterministic function."""
    toks = tokenize(sql)
    span = _top_select_span(toks)
    if span is None:
        return None
    sel, frm = span
    sig = _sig(toks)
    if sel != sig[0] or frm is None \
            or toks[sig[1]].is_kw("DISTINCT", "ALL"):
        return None
    gb = _group_by_keys(toks)
    if gb is None or not gb[1] or gb[1][-1][1] != sig[-1]:
        return None
    group, key_spans = gb
    where = next((i for i in _level(toks, frm + 1, group - 1)
                  if toks[i].is_kw("WHERE")), None)
    if any(t.is_kw("SELECT") for t in toks[frm + 1:where or group]):
        return None
    if any(toks[j].kind == "IDENT" and toks[j].text.lower() in _NONDET_FNS
           for s, e in key_spans for j in range(s, e + 1)):
        return None
    keys = [_compact(toks, s, e) for s, e in key_spans]

    def text(lo: int, hi: int) -> str:
        return "".join(t.text for t in toks[lo:hi + 1]).strip()

    items = []
    for s, e in _split_top_commas(toks, sel + 1, frm - 1):
        kind, detail = _classify_item(toks, s, e)
        if kind == "aliased":
            name, alias_i = detail
            e = max(j for j in range(s, alias_i)  # the AS keyword
                    if toks[j].kind not in ("WS", "COMMENT")) - 1
            kind, detail = _classify_item(toks, s, e)
        elif kind == "bare":
            name = detail
        else:
            return None  # star; every other item is aliased by now
        compact = _compact(toks, s, e)
        item = SelectItem(text(s, e), name,
                          keys.index(compact) if compact in keys else None)
        if kind == "agg":
            isig = [j for j in range(s, e + 1)
                    if toks[j].kind not in ("WS", "COMMENT")]
            args = _split_top_commas(toks, isig[1] + 1, isig[-1] - 1)
            if len(args) == 1:
                item.agg = (detail[0], text(*args[0]))
        items.append(item)
    if where is None:
        return GroupBy(items, text(frm + 1, group - 1), None, keys)
    return GroupBy(items, text(frm + 1, where - 1),
                   text(where + 1, group - 1), keys)


def _table_positions(toks: list[Tok]) -> list[tuple[int, int]]:
    """(index, depth) of every table reference start, in text order:
    the name after FROM/JOIN or after a comma of a FROM list, each
    level read on its own; a parenthesized subquery or join starts at
    its ``(`` token. A FROM list ends at its level's next WHERE,
    GROUP, ORDER, HAVING, LIMIT or SELECT."""
    positions = []
    for depth, level, _ in _levels(toks):
        expecting = in_from = False
        for i in level:
            t = toks[i]
            if t.is_kw("FROM", "JOIN"):
                expecting = True
                in_from = in_from or t.is_kw("FROM")
            elif t.text == "," and in_from:
                expecting = True
            elif expecting and (t.kind in ("IDENT", "QIDENT", "STRING")
                                or t.text == "("):
                positions.append((i, depth))
                expecting = False
            elif t.is_kw("WHERE", "GROUP", "ORDER", "HAVING", "LIMIT",
                         "SELECT"):
                in_from = False
    return sorted(positions)


def _alias(toks: list[Tok], end: int) -> str | None:
    """The alias after the relation that ends at ``toks[end]``."""
    j = _next_sig(toks, end)
    if j is not None and toks[j].is_kw("AS"):
        j = _next_sig(toks, j)
    if j is not None and toks[j].kind in ("IDENT", "QIDENT") \
            and not toks[j].is_kw(*_CLAUSE_KW, "AS"):
        return toks[j].text.strip('"`')
    return None


def _table_ref(toks: list[Tok], i: int, database) -> tuple[int, str] | None:
    """(end, description) of the file, ``stdin.``, ``docs.``,
    ``plugins.``, ``dual`` or configured-database reference at
    ``toks[i]``; None for any other name. ``database(name)`` is the
    configured database of that name, or None."""
    t = toks[i]
    if t.kind in ("STRING", "QIDENT"):
        inner = t.text[1:-1]
        ext = inner.split("?")[0].rsplit(".", 1)[-1].lower()
        return ((i, inner) if ext in _FILE_EXTS or inner.startswith("stdin.")
                else None)
    if t.kind != "IDENT":
        return None
    # ident((.|/|-)ident)* chain — unquoted paths like
    # ``mydir/my-file.csv`` work in the reference's parser (README
    # examples); dotted chains cover stdin./docs./configured databases
    end, text, chain = i, t.text, [t.text]
    while (sep := _next_sig(toks, end)) is not None \
            and toks[sep].text in (".", "/", "-") \
            and (nxt := _next_sig(toks, sep)) is not None \
            and toks[nxt].kind in ("IDENT", "NUMBER"):
        text += toks[sep].text + toks[nxt].text
        if toks[sep].text == ".":
            chain.append(toks[nxt].text)
        else:
            chain[-1] += toks[sep].text + toks[nxt].text
        end = nxt
    if len(chain) >= 2 and chain[-1].lower() in _FILE_EXTS:
        return end, text
    if len(chain) == 2 and chain[-1].lower() == "stdin":
        # `lines.stdin` == `stdin.lines` (the reference accepts either
        # order for the stdin pseudo-file)
        return end, f"stdin.{chain[0]}"
    if chain == ["dual"]:
        return end, "dual"
    if len(chain) >= 2 and (chain[0] in ("stdin", "docs", "plugins")
                            or database(chain[0]) is not None):
        return end, text
    return None


def _read_table_ref(spark: SparkSession, desc: str, database) -> DataFrame:
    if desc == "dual":
        # one-row dummy table (logical/logical.go:101-122)
        return spark.createDataFrame([("X",)], "dummy string")
    if desc.startswith("docs."):
        from octosql_spark.sources.docs import docs_table
        return docs_table(spark, desc.split(".", 1)[1])
    if desc.startswith("plugins."):
        from octosql_spark.sources.plugins import plugins_table
        return plugins_table(spark, desc.split(".", 1)[1])
    if "." in desc and not desc.startswith("stdin."):
        # configured database? `mydb.tablename` resolves through the
        # octosql.yml-style config (the reference's plugin databases,
        # cmd/root.go:132-217 → spark JDBC here)
        db = database(desc.split(".", 1)[0])
        if db is not None:
            from octosql_spark.sources.jdbc import jdbc_table
            return jdbc_table(spark, db, desc.split(".", 1)[1])
    from octosql_spark.sources import read_file
    path, opts = parse_table_ref(desc)
    return read_file(spark, path, **opts)


def parse_table_ref(desc: str) -> tuple[str, dict[str, object]]:
    """A file table reference ``path?k=v&…`` → (path, options);
    ``true``/``false`` values become booleans."""
    path, _, query = desc.partition("?")
    opts: dict[str, object] = {}
    for kv in query.split("&") if query else ():
        k, _, v = kv.partition("=")
        opts[k] = {"true": True, "false": False}.get(v.lower(), v)
    return path, opts


def _parse_tvf_args(toks: list[Tok]) -> tuple[list[str], dict[str, list[Tok]]]:
    """Split a TVF arg list into positional / ``name => value`` parts."""
    args: list[str] = []
    kwargs: dict[str, list[Tok]] = {}
    for s, e in _split_top_commas(toks, 0, len(toks) - 1):
        arrow = _next_sig(toks, s)
        if arrow is not None and arrow <= e and toks[arrow].text == "=>":
            kwargs[toks[s].text.lower()] = toks[arrow + 1:e + 1]
        else:
            args.append("".join(t.text for t in toks[s:e + 1]))
    return args, kwargs


def _interval_to_spark(text: str) -> str:
    """'INTERVAL 1 MINUTE' / INTERVAL '1' MINUTE → '1 minute' string
    for F.window."""
    s = text.strip()
    if s.upper().startswith("INTERVAL"):
        s = s[len("INTERVAL"):].strip()
    return s.replace("'", "").lower()


def _tvf_frame(spark: SparkSession, name: str, arg_toks: list[Tok],
               out: Transpiled) -> DataFrame:
    """The DataFrame of the TVF call ``name(arg_toks)``."""
    from octosql_spark import tvf as tvfmod
    args, kwargs = _parse_tvf_args(arg_toks)

    def _df_arg(key: str) -> DataFrame:
        val = kwargs[key]
        vsig = [t for t in val if t.kind not in ("WS", "COMMENT")]
        if vsig and vsig[0].is_kw("TABLE"):
            inner = val[[t.text for t in val].index("(") + 1:
                        len(val) - 1 - [t.text for t in val[::-1]].index(")")]
            inner_sql = "".join(t.text for t in inner).strip()
            if inner_sql.upper().startswith("SELECT"):
                return run_query(spark, inner_sql).df
            return spark.table(inner_sql)
        raise ValueError(f"{name}: {key} must be TABLE(...)")

    def _str_arg(key: str, default: str | None = None) -> str | None:
        if key not in kwargs:
            return default
        return "".join(t.text for t in kwargs[key]).strip()

    if name == "range":
        # range(start => 1, end => 10) / range(1, 10) → column `i`
        # (table_valued_functions/range.go:14-109)
        def _int_arg(key: str, idx: int) -> int:
            if key in kwargs:
                return int("".join(t.text for t in kwargs[key]).strip())
            if idx >= len(args):
                # both args are Required in the reference
                # (range.go:28-41) — a missing one is a typecheck
                # error there, so raise the matching ValueError
                # instead of an IndexError (r11 verdict #8)
                raise ValueError(
                    f"range: missing required argument '{key}' — "
                    "usage range(start, end)")
            return int(args[idx])
        return tvfmod.range_tvf(spark, _int_arg("start", 0),
                                _int_arg("end", 1))
    if name == "tumble":
        df = _df_arg("source")
        length = _interval_to_spark(_str_arg("window_length"))
        tf = _str_arg("time_field")
        if tf and tf.upper().startswith("DESCRIPTOR"):
            tf = tf[tf.index("(") + 1:tf.rindex(")")].strip()
        offset = _str_arg("offset")
        # window_end becomes the event-time column (tumble.go:70-122)
        out.event_time = "window_end"
        return tvfmod.tumble(df, length, tf, _interval_to_spark(offset)
                             if offset else "0 seconds")
    if name == "max_diff_watermark":
        df = _df_arg("source")
        tf = _str_arg("time_field")
        if tf and tf.upper().startswith("DESCRIPTOR"):
            tf = tf[tf.index("(") + 1:tf.rindex(")")].strip()
        resolution = _str_arg("resolution")
        # the time field becomes the record event time
        # (max_diff_watermark.go:14-180)
        out.event_time = tf
        if df.isStreaming:
            # streaming source (?tail=true): this TVF IS
            # Structured Streaming's event-time watermark — the
            # batch emulation's windows would be rejected at
            # stream start (r6 fix: it used to be applied
            # unconditionally and failed there). Late rows drop
            # at the downstream stateful operator, which is where
            # the reference's drop is observable too (a
            # pass-through select has no state to be late FOR).
            #
            # resolution: the reference advances its watermark
            # from FLOOR(ts, resolution) (max_diff_watermark.go:
            # 148-160), i.e. its watermark sits up to one
            # resolution unit LOWER than max(ts) - max_diff.
            # withWatermark can only track the raw column, so fold
            # resolution into the delay (max_diff + resolution):
            # the resulting watermark is ≤ the reference's —
            # conservative, never drops a row the reference keeps
            # (Spark's late-drop is per-micro-batch best-effort in
            # that direction anyway). Default resolution is
            # 1 second, like the reference (:108).
            from octosql_spark.tvf import interval_micros
            delay_us = (interval_micros(
                _interval_to_spark(_str_arg("max_diff")))
                + interval_micros(
                    _interval_to_spark(resolution)
                    if resolution else "1 second"))
            return df.withWatermark(tf, f"{delay_us} microseconds")
        return tvfmod.max_diff_watermark(
            df, _interval_to_spark(_str_arg("max_diff")), tf,
            resolution=_interval_to_spark(resolution)
            if resolution else None)
    if name == "poll":
        df = _df_arg("source")
        # one round materializes here; the CLI re-runs the whole
        # query per round for the reference's continuous
        # retract-then-emit loop (poll.go:104-149)
        out.polls.append(_str_arg("poll_interval") or "1 second")
        return next(tvfmod.poll(spark, lambda s: df, rounds=1, sleep=False))
    raise ValueError(name)  # pragma: no cover


def _lookup_dtypes(spark: SparkSession, name: str):
    try:
        return spark.table(name).dtypes
    except Exception:
        return None


def _bind_tables(spark: SparkSession, toks: list[Tok],
                 out: Transpiled) -> tuple[list[Tok], list[_Relation]]:
    """One forward pass over the table positions, in text order: a TVF
    call, and a file, ``stdin.``, ``docs.``, ``plugins.``, ``dual`` or
    configured-database reference, each become a temp view. A position
    inside a span just replaced is skipped, such as a TVF's
    ``TABLE(SELECT …)`` argument, which its own ``run_query`` binds.
    Returns the rewritten tokens and every FROM/JOIN relation.

    A bound view's relation takes the dtypes of the DataFrame just
    bound. Any other name is looked up once — each lookup is a py4j
    round trip plus analysis — unless a CTE (``name AS (``) names it:
    a CTE shadows any view of that name, and looking one up only
    fails, after a JVM-side AnalysisException."""
    from octosql_spark.sources.jdbc import database_by_name, load_config
    config = functools.cache(load_config)  # read when a chain needs it

    def database(name: str) -> dict | None:
        return database_by_name(config(), name)

    sig = _sig(toks)
    ctes = {toks[sig[k]].text.strip('"`').lower() for k in range(len(sig) - 2)
            if toks[sig[k]].kind in ("IDENT", "QIDENT")
            and toks[sig[k + 1]].is_kw("AS") and toks[sig[k + 2]].text == "("}
    looked_up: dict[str, list[tuple[str, str]] | None] = {}
    bound: list[Tok] = []
    relations: list[_Relation] = []
    at = 0  # toks before ``at`` are in ``bound`` or replaced
    for i, depth in _table_positions(toks):
        if i < at:
            continue
        t, j = toks[i], _next_sig(toks, i)
        if t.kind == "IDENT" and t.text.lower() in _TVF_NAMES \
                and j is not None and toks[j].text == "(":
            end = _match_paren(toks, j)
            desc = t.text.lower()
            df = _tvf_frame(spark, desc, toks[j + 1:end], out)
            view = f"_octo_tvf_{next(_view_counter)}"
        elif (ref := _table_ref(toks, i, database)) is not None:
            end, desc = ref
            view = f"_octo_file_{next(_view_counter)}"
            df = _read_table_ref(spark, desc, database)
        elif t.kind in ("IDENT", "QIDENT"):
            name = t.text.strip('"`')
            if (key := name.lower()) not in looked_up:
                looked_up[key] = (None if key in ctes
                                  else _lookup_dtypes(spark, name))
            relations.append(_Relation(name, _alias(toks, i), depth,
                                       looked_up[key]))
            continue
        else:  # a subquery or parenthesized join
            relations.append(_Relation(None, None, depth, None))
            continue
        df.createOrReplaceTempView(view)
        out.views[view] = desc
        bound += toks[at:i] + [Tok("IDENT", view)]
        at = end + 1
        relations.append(_Relation(view, _alias(toks, end), depth,
                                   df.dtypes))
    return bound + toks[at:], relations


# -------------------------------------------------------------- driver

_ORD_CLAUSE_END = ("LIMIT", "OFFSET", "HAVING", "WINDOW", "UNION",
                   "EXCEPT", "INTERSECT", "ORDER", "GROUP", "TRIGGER",
                   "FROM", "WHERE", "SELECT", "JOIN", "ON", "LEFT",
                   "RIGHT", "FULL", "INNER", "CROSS")
_ORD_ITEM_SUFFIX = ("ASC", "DESC", "NULLS", "FIRST", "LAST")


def _rewrite_ordinal_keys(toks: list[Tok]) -> list[Tok]:
    """Bare integer-literal keys in ORDER BY / GROUP BY are CONSTANT
    expressions in the dialect (the reference parses every key
    through ParseExpression, parser.go:862-870), while Spark binds
    them POSITIONALLY (orderByOrdinal/groupByOrdinal — and errors on
    ``ORDER BY 0``). Rewriting ``N`` to ``(N + 0)`` — an unresolved
    Add the analyzer's ordinal substitution never touches — pins the
    reference semantics PER EXPRESSION. The previous approach
    (flipping the two session confs around ``spark.sql``) was correct
    single-threaded but RACED concurrent plain-Spark-SQL callers on
    the same session: the checker's thread pool flaked
    ``recursive_month_spine_gapfill`` (its ``GROUP BY 1`` resolved
    under the dialect's pin ~1 run in 3, MISSING_AGGREGATION)."""
    wrap = set()  # indices of the NUMBER tokens to wrap
    for _, level, hi in _levels(toks):
        for k in range(len(level) - 1):
            if not (toks[level[k]].is_kw("ORDER", "GROUP")
                    and toks[level[k + 1]].is_kw("BY")):
                continue
            end = next((j - 1 for j in level[k + 2:]
                        if toks[j].is_kw(*_ORD_CLAUSE_END)), hi)
            for s, e in _split_top_commas(toks, level[k + 1] + 1, end):
                if (n := _ordinal_literal(toks, s, e)) is not None:
                    wrap.add(n)
    if not wrap:
        return toks
    out: list[Tok] = []
    for i, t in enumerate(toks):
        out += ([Tok("PUNCT", "("), t, Tok("OP", "+"), Tok("NUMBER", "0"),
                 Tok("PUNCT", ")")] if i in wrap else [t])
    return out


def _ordinal_literal(toks: list[Tok], s: int, e: int) -> int | None:
    """Index of the integer literal that the ORDER BY / GROUP BY item
    ``toks[s..e]`` is, under any parens and before its ASC/DESC/NULLS
    suffix; None for any other item. The dialect treats ``ORDER BY
    (1)`` exactly like ``ORDER BY 1`` (both parse through
    ParseExpression), while Spark's ordinal substitution also fires on
    the parenthesized form."""
    item = [j for j in range(s, e + 1) if toks[j].kind not in ("WS", "COMMENT")]
    while item and toks[item[-1]].is_kw(*_ORD_ITEM_SUFFIX):
        item.pop()
    while len(item) >= 3 and toks[item[0]].text == "(" \
            and toks[item[-1]].text == ")":
        item = item[1:-1]
    if len(item) == 1 and toks[item[0]].kind == "NUMBER" \
            and not any(c in toks[item[0]].text for c in ".eE"):
        return item[0]
    return None


def transpile(spark: SparkSession, sql: str,
              strict_assert: bool = False) -> Transpiled:
    out = Transpiled(sql="")
    toks = tokenize(sql)
    toks, out.triggers = _strip_trigger(toks)
    toks = _strip_join_modifiers(toks)
    toks = _rewrite_outer_join(toks)
    toks = _rewrite_arrow(toks)
    toks, relations = _bind_tables(spark, toks, out)
    toks = _expand_star(toks, relations)
    toks = _alias_select_items(toks)
    types = _collect_column_types(relations)
    # VARIANT union carriers (JSON sources) are the only expressions
    # strict `::` needs the schema_of_variant guard for (the guard is
    # analysis-time illegal on non-variant input)
    variant_cols = {c.lower() for rel in relations
                    for c, d in rel.dtypes or () if d == "variant"}
    toks = _rewrite_postfix_ops(toks, strict_assert, variant_cols)
    toks = _rewrite_arith_overloads(toks, types)
    toks = _rewrite_calls(toks, types)
    toks = _rewrite_float_literals(toks)
    toks = _rewrite_ordinal_keys(toks)
    out.ordered = any(toks[i].is_kw("ORDER") for i in _top_level(toks))
    out.sql = "".join(t.text for t in toks).strip()
    return out


def run_query(spark: SparkSession, sql: str,
              strict_assert: bool = False) -> Transpiled:
    """Full front-end: OctoSQL dialect in, DataFrame out.

    ``strict_assert`` switches ``x::T`` from TRY_CAST conversion to
    the reference's no-conversion runtime type assertion."""
    # The dialect has NO ordinal ORDER BY/GROUP BY (the reference
    # parses every key through ParseExpression, so an integer literal
    # is a CONSTANT key — no-op sort / single group, found by the r7
    # clause-surface fuzzer). That is pinned TOKEN-LEVEL by
    # _rewrite_ordinal_keys inside transpile — NOT by flipping the
    # session's orderByOrdinal/groupByOrdinal confs around this call:
    # session confs are global across threads, so the flip raced
    # concurrent plain-Spark-SQL callers on the same session (the
    # checker's thread pool flaked a positional GROUP BY 1 entry).
    t = transpile(spark, sql, strict_assert=strict_assert)
    t.df = spark.sql(t.sql)
    return t
