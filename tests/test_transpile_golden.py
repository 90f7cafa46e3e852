"""Golden transpiled text: the SQL front end's output for a fixed set of
inputs, so a change to the token passes shows every rewrite it moves.

``fixtures/transpile_golden.jsonl`` holds one JSON object a line. The
first line is ``{"dtypes": {table: [[column, dtype], ...]}}``, the
Spark dtypes of the registry's ten tables; a stub catalog serves them
in place of ``spark.table(name).dtypes``, so no Spark session starts.
Every other line is an ``{"in", "out"}`` pair. The inputs are every
registry oracle text that transpiles against the stub, then dialect
queries over ``nation`` drawn once, derandomized, from
``test_differential_fuzz.py``'s strategies.

After an intended change of transpiled text, rewrite the outputs with

    python tests/test_transpile_golden.py --write

and redraw the inputs and dtypes (starts Spark; ``sf_dir`` is a scale
directory holding the ten tables) with

    python tests/test_transpile_golden.py --write --draw <sf_dir>
"""

from __future__ import annotations

import json
import os
import sys
from types import SimpleNamespace

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from octosql_spark.sql.transpiler import transpile  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "fixtures", "transpile_golden.jsonl")


class _Catalog:
    """Stands in for a SparkSession: ``table(name).dtypes`` for the
    fixture's tables; any other name fails, like an unknown table."""

    def __init__(self, dtypes: dict[str, list[list[str]]]):
        self._dtypes = {k.lower(): [tuple(p) for p in v]
                        for k, v in dtypes.items()}

    def table(self, name: str):
        return SimpleNamespace(dtypes=self._dtypes[name.lower()])


def _load() -> tuple[dict, list[dict]]:
    with open(FIXTURE) as f:
        head, *cases = [json.loads(line) for line in f]
    return head["dtypes"], cases


def test_transpiled_text_matches_golden():
    dtypes, cases = _load()
    catalog = _Catalog(dtypes)
    diff = [(c["in"], c["out"], got) for c in cases
            if (got := transpile(catalog, c["in"]).sql) != c["out"]]
    assert not diff, (f"{len(diff)} of {len(cases)} transpiled texts "
                      f"changed; first: in={diff[0][0]!r}\n"
                      f"want={diff[0][1]!r}\ngot={diff[0][2]!r}")


def _draw_fuzz(per_form: int) -> list[str]:
    """Dialect queries over ``nation`` in the shapes of the differential
    fuzz tests, each filled from that file's strategies."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    import test_differential_fuzz as fz

    forms = [
        (fz._exprs(), lambda e: (
            f"SELECT {e[0]} AS v FROM nation ORDER BY n_nationkey")),
        (st.tuples(fz._exprs(), fz._bools(1)), lambda p: (
            f"SELECT {p[0][0]} AS v FROM nation WHERE {p[1][0]}")),
        (st.tuples(fz._ints(1), st.booleans()), lambda p: (
            f"SELECT n_regionkey, COUNT(*) AS c, SUM({p[0][0]}) AS s, "
            f"MIN({p[0][0]}) AS mn, MAX({p[0][0]}) AS mx FROM nation"
            f"{' WHERE n_nationkey >= 5' if p[1] else ''} "
            f"GROUP BY n_regionkey")),
        (st.tuples(fz._ints(1), st.booleans(), st.integers(1, 30)),
         lambda p: (f"SELECT n_nationkey AS k FROM nation ORDER BY "
                    f"{p[0][0]} {'DESC' if p[1] else 'ASC'}, n_nationkey "
                    f"LIMIT {p[2]}")),
        (st.tuples(fz._ints(1), st.integers(0, 6)), lambda p: (
            f"SELECT n_regionkey, COUNT(*) AS c, SUM({p[0][0]}) AS s "
            f"FROM nation GROUP BY n_regionkey HAVING COUNT(*) > {p[1]}")),
        (st.tuples(fz._ints(1), st.sampled_from(["SUM", "MIN", "MAX",
                                                  "COUNT"])),
         lambda p: (f"SELECT n_nationkey AS k, {p[1]}({p[0][0]}) OVER "
                    f"(PARTITION BY n_regionkey ORDER BY n_nationkey) "
                    f"AS w FROM nation")),
        (st.tuples(fz._ints(1), st.booleans()), lambda p: (
            f"SELECT n_regionkey, count_distinct({p[0][0]}) AS cd, "
            f"sum_distinct({p[0][0]}) AS sd, avg_distinct({p[0][0]}) AS ad "
            f"FROM nation{' WHERE n_nationkey >= 5' if p[1] else ''} "
            f"GROUP BY n_regionkey")),
        (st.tuples(fz._ints(1), fz._ints(1), st.sampled_from(
            ["UNION ALL", "UNION", "INTERSECT", "EXCEPT"])), lambda p: (
            f"SELECT {p[0][0]} AS v FROM nation WHERE n_nationkey < 13 "
            f"{p[2]} SELECT {p[1][0]} AS v FROM nation "
            f"WHERE n_nationkey >= 7")),
        (st.tuples(fz._ints(1), st.sampled_from(["SUM", "MIN", "MAX",
                                                  "COUNT"]),
                   st.sampled_from(["ROWS", "RANGE"]), fz._frame_bounds()),
         lambda p: (f"SELECT n_nationkey AS k, {p[1]}({p[0][0]}) OVER "
                    f"(ORDER BY n_nationkey {p[2]} BETWEEN {p[3][0]} AND "
                    f"{p[3][1]}) AS w FROM nation")),
        (st.tuples(st.sampled_from(["JOIN", "LEFT JOIN", "RIGHT JOIN",
                                    "FULL OUTER JOIN", "OUTER JOIN",
                                    "LOOKUP JOIN", "STREAM JOIN"]),
                   st.integers(0, 3), st.integers(0, 3), st.booleans()),
         lambda p: (f"SELECT * FROM (SELECT * FROM nation WHERE "
                    f"n_nationkey % 4 >= {p[1]}) a {p[0]} "
                    + (f"(SELECT * FROM nation WHERE n_nationkey % 5 >= "
                       f"{p[2]})" if p[3] else "nation")
                    + " b ON a.n_regionkey = b.n_regionkey")),
        (st.tuples(st.sampled_from(fz._SUBQ_FORMS),
                   st.sampled_from(fz._SUBQ_WRAPS), st.integers(18, 26)),
         lambda p: (f"SELECT n_nationkey AS k, "
                    f"{p[1][0].format(s=p[0][0])} - {p[2]} AS s "
                    f"FROM nation o")),
    ]
    drawn: list[str] = []
    for strategy, render in forms:
        @settings(max_examples=per_form, derandomize=True, database=None,
                  deadline=None, suppress_health_check=list(HealthCheck))
        @given(strategy)
        def draw(x):
            drawn.append(render(x))
        draw()
    return list(dict.fromkeys(drawn))


def _draw(sf_dir: str) -> tuple[dict, list[str]]:
    """Registry dtypes read through Spark, then the inputs that
    transpile against them: the registry's oracle texts and fuzz
    draws."""
    from octosql_spark import workloads
    from octosql_spark.catalog import TPCH_TABLES, load_table
    from octosql_spark.session import get_spark
    spark = get_spark("transpile_golden")
    dtypes = {t: load_table(spark, sf_dir, t).dtypes for t in TPCH_TABLES}
    spark.stop()
    catalog = _Catalog(dtypes)
    inputs = []
    for text in (*workloads.oracle_sql().values(), *_draw_fuzz(120)):
        try:
            transpile(catalog, text)
        except Exception:
            continue  # needs Spark itself, such as a bound TVF
        inputs.append(text)
    return dtypes, inputs


def _write(draw_from: str | None) -> None:
    if draw_from:
        dtypes, inputs = _draw(draw_from)
    else:
        dtypes, cases = _load()
        inputs = [c["in"] for c in cases]
    catalog = _Catalog(dtypes)
    with open(FIXTURE, "w") as f:
        f.write(json.dumps({"dtypes": dtypes}) + "\n")
        for text in inputs:
            out = transpile(catalog, text).sql
            f.write(json.dumps({"in": text, "out": out}) + "\n")
    print(f"wrote {len(inputs)} cases to {FIXTURE}")


if __name__ == "__main__":
    args = sys.argv[1:]
    if args[:1] != ["--write"]:
        sys.exit(__doc__)
    _write(args[2] if args[1:2] == ["--draw"] else None)
