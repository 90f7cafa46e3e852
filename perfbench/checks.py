"""Result checks, run once per run after the timed region.

CLI outputs are parsed back from the table sink's text and compared
with the DuckDB equivalents. Registry results are compared with the
registry's own ``oracle_sql()`` on DuckDB by the repository's
correctness checker (``tools/check_correctness.compare``), unchanged.
"""

from __future__ import annotations

import math
import os

_FLOAT_TOL = 1e-9  # CLI floats print in shortest form; sums differ in the last bits


def _cell(text: str):
    if text == "<null>":
        return None
    if len(text) >= 2 and text[0] == text[-1] == "'":
        return text[1:-1]
    for cast in (int, float):
        try:
            return cast(text)
        except ValueError:
            pass
    return text


def parse_table(text: str) -> tuple[list[str], list[tuple]]:
    """Header and rows of the table sink's ``+--+`` rendering."""
    lines = [ln for ln in text.splitlines() if ln.startswith("|")]
    if not lines:
        return [], []
    split = [[c.strip() for c in ln[1:-1].split("|")] for ln in lines]
    return split[0], [tuple(_cell(c) for c in row) for row in split[1:]]


def _is_num(v) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def _sort_key(row: tuple) -> tuple:
    return tuple((0, "") if v is None
                 else (1, float(f"{v:.9g}")) if _is_num(v)
                 else (2, str(v)) for v in row)


def _same(a, b) -> bool:
    if _is_num(a) and _is_num(b):
        return math.isclose(float(a), float(b), rel_tol=_FLOAT_TOL,
                            abs_tol=_FLOAT_TOL)
    return a == b


def check_cli(text: str, expected: list[tuple], ordered: bool) -> list[str]:
    """Problems found comparing one CLI output with its expected rows."""
    _, got = parse_table(text)
    if len(got) != len(expected):
        return [f"rowcount cli={len(got)} duckdb={len(expected)}"]
    if not ordered:
        got, expected = sorted(got, key=_sort_key), sorted(expected, key=_sort_key)
    for i, (g, e) in enumerate(zip(got, expected)):
        if len(g) != len(e) or not all(_same(a, b) for a, b in zip(g, e)):
            return [f"row {i}: cli={g!r} duckdb={e!r}"]
    return []


class RegistryOracle:
    """The registry's DuckDB oracles over one testdata directory, with
    the views the correctness checker creates."""

    def __init__(self, sf_dir: str):
        import duckdb

        from octosql_spark.catalog import TPCH_TABLES
        from octosql_spark.workloads import REGISTRY
        from tools.check_correctness import compare

        self._registry, self._compare = REGISTRY, compare
        self._con = duckdb.connect()
        for t in TPCH_TABLES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    def expected(self, name: str):
        return self._con.execute(self._registry[name].oracle).df()

    def check(self, name: str, columns: list[str], rows: list, oracle_pdf) -> list[str]:
        import pandas as pd

        got = pd.DataFrame.from_records([tuple(r) for r in rows], columns=columns)
        return self._compare(name, got, oracle_pdf)

    def close(self) -> None:
        self._con.close()
