"""Scalar function catalog (SURVEY.md §2.7).

The reference registers 42 names in one map ``FunctionMap()``
(functions/functions.go), with per-overload argument types resolved at
typecheck (logical/function.go:24-132). Here each name carries its
signatures and description for the ``docs.*`` tables; the SQL
front-end (sql/transpiler.py) compiles every call to JVM-side Catalyst
expressions — no Python UDFs (the 100 TB rule: stay inside whole-stage
codegen).

Deviations from the reference, documented:
- ``int('notanum')`` → NULL, like the reference (functions.go:944-952)
  — via ``try_cast`` (Spark 4 ANSI CAST would error).
- ``[]`` list indexing is 0-based like the reference
  (functions.go:1014-1042) — compiled to ``get()`` which is 0-based,
  out-of-range → NULL (same).
- ``parse_time`` takes a *Go* layout string in the reference
  (functions.go:846-862); we accept the reference's default RFC3339
  when no layout is given, else a Java datetime pattern. Go-layout
  translation is in ``go_layout_to_java``.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class FunctionDef:
    name: str
    signatures: list[str] = field(default_factory=list)  # for docs.*
    description: str = ""


FUNCTIONS: dict[str, FunctionDef] = {}


def _fn(name: str, signatures: list[str], description: str = "") -> None:
    FUNCTIONS[name] = FunctionDef(name, signatures, description)


# --------------------------------------------------- comparisons, logic

_fn("<", ["(T, T) -> Boolean"])
_fn("<=", ["(T, T) -> Boolean"])
_fn("=", ["(T, T) -> Boolean"])
_fn("!=", ["(T, T) -> Boolean"])
_fn(">=", ["(T, T) -> Boolean"])
_fn(">", ["(T, T) -> Boolean"])
_fn("is null", ["(T) -> Boolean"])
_fn("is not null", ["(T) -> Boolean"])
_fn("not", ["(Boolean) -> Boolean"])
_fn("in", ["(T, List) -> Boolean"])
_fn("not in", ["(T, List) -> Boolean"])


# ------------------------------------------------------------ arithmetic
# Overload sets (functions.go:156-355), resolved against the schema by
# the SQL front-end: String+String is concat, String*Int is repeat.

_fn("+", ["(Int, Int) -> Int", "(Float, Float) -> Float",
          "(Duration, Duration) -> Duration", "(Time, Duration) -> Time",
          "(String, String) -> String"])
_fn("-", ["(Int, Int) -> Int", "(Float, Float) -> Float",
          "(Time, Duration) -> Time", "(Int) -> Int"])
_fn("*", ["(Int, Int) -> Int", "(Float, Float) -> Float",
          "(Duration, Int) -> Duration", "(String, Int) -> String"])
_fn("/", ["(Int, Int) -> Int", "(Float, Float) -> Float",
          "(Duration, Int) -> Duration"])
_fn("string_concat", ["(String, String) -> String"])
_fn("string_repeat", ["(String, Int) -> String"])


# ------------------------------------------------------------------ math

_fn("abs", ["(Int) -> Int", "(Float) -> Float", "(Duration) -> Duration"])
_fn("sqrt", ["(Int) -> Float", "(Float) -> Float"])
_fn("ceil", ["(Float) -> Float"])
_fn("floor", ["(Float) -> Float"])
_fn("log2", ["(Float) -> Float"])
_fn("log", ["(Float) -> Float"], "natural log, like the reference")
_fn("log10", ["(Float) -> Float"])
_fn("pow", ["(Float, Float) -> Float"])


# --------------------------------------------------------------- strings

_fn("like", ["(String, String) -> Boolean"],
    "SQL LIKE; the reference compiles %/_ to a cached regexp "
    "(functions.go:487-590)")
_fn("~", ["(String, String) -> Boolean"], "regex match")
_fn("~*", ["(String, String) -> Boolean"], "case-insensitive regex")
_fn("!~", ["(String, String) -> Boolean"])
_fn("!~*", ["(String, String) -> Boolean"])
_fn("upper", ["(String) -> String"])
_fn("lower", ["(String) -> String"])
_fn("reverse", ["(String) -> String"])
_fn("substr", ["(String, Int) -> String", "(String, Int, Int) -> String"],
    "0-based like the reference (functions.go:720-739)")
_fn("replace", ["(String, String, String) -> String"])
_fn("position", ["(String, String) -> Int | NULL"],
    "position(haystack, needle): 0-based index of needle, NULL when "
    "absent (functions.go:757-772)")
_fn("len", ["(String) -> Int", "(List) -> Int", "(Struct) -> Int"],
    "length of String/List/Struct (functions.go:774-831); dispatches "
    "on the column's Spark dtype")


# ------------------------------------------------------------------ time

_fn("now", ["() -> Time"])
_fn("time_from_unix", ["(Int) -> Time", "(Float) -> Time"])
_fn("time_to_unix", ["(Time) -> Int"])


_GO_TO_JAVA = [
    ("2006", "yyyy"), ("01", "MM"), ("02", "dd"), ("15", "HH"),
    ("04", "mm"), ("05", "ss"), ("Jan", "MMM"), ("Mon", "EEE"),
    ("-07:00", "XXX"), ("Z07:00", "XXX"), ("-0700", "Z"), (".000", ".SSS"),
]


def go_layout_to_java(layout: str) -> str:
    """Translate a Go reference-time layout (functions.go:846 uses Go
    time layouts) to a Java DateTimeFormatter pattern."""
    out = layout
    for go, java in _GO_TO_JAVA:
        out = out.replace(go, java)
    return out


_fn("parse_time", ["(String) -> Time | NULL", "(String, String) -> Time | NULL"],
    "RFC3339 by default; unparsable → NULL (functions.go:846-862)")


# ----------------------------------------------------------- conversions

_fn("int", ["(Boolean) -> Int", "(Float) -> Int", "(String) -> Int | NULL",
            "(Duration) -> Int"],
    "failure → NULL like the reference (functions.go:900-955)")
_fn("float", ["(Int) -> Float", "(String) -> Float | NULL"])
_fn("string", ["(T) -> String"])


# -------------------------------------------------------- lists, debug

_fn("[]", ["(List, Int) -> T | NULL"],
    "0-based indexing, out-of-range → NULL (functions.go:1014-1042); "
    "Spark get() matches both behaviors")
_fn("panic", ["(String) -> !"],
    "aborts the query (functions.go:1135-1147)")
