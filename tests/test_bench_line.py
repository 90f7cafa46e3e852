"""The benchmark's one-line JSON contract stays within its length cap,
shedding detail in a fixed order."""

from __future__ import annotations

import json

from bench import _SHED_KEYS, fit_line


def _line_obj(n_sf1: int) -> tuple[dict, dict]:
    headline = {f"q{i}": 0.1 for i in range(5)}
    queries = {f"tpch_q{i}": 0.2 for i in range(20)}
    queries.update({f"sf1_tpch_q{i}": 1.5 for i in range(n_sf1)})
    queries.update(headline)
    obj = {"metric": "m", "value": 1.0, "unit": "sec", "queries": queries,
           **{k: "x" * 40 for k in _SHED_KEYS}}
    return obj, headline


def test_fitting_line_is_unchanged():
    obj, headline = _line_obj(2)
    assert json.loads(fit_line(obj, headline)) == obj


def test_sf1_timings_go_before_the_headline_fallback():
    obj, headline = _line_obj(80)
    line = fit_line(obj, headline)
    got = json.loads(line)
    assert len(line) <= 1900 and not set(_SHED_KEYS) & set(got)
    assert got["queries"] == {k: v for k, v in obj["queries"].items()
                              if not k.startswith("sf1_")}
    assert "sf1_tpch_q0" in obj["queries"]  # the input is not mutated


def test_headline_only_is_the_last_resort():
    obj, headline = _line_obj(80)
    obj["queries"].update({f"wide_entry_{i}": 0.3 for i in range(200)})
    line = fit_line(obj, headline)
    assert len(line) <= 1900
    assert json.loads(line)["queries"] == headline
