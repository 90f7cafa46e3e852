"""Type algebra + schema inference tests, replicating the reference's
fixtures (FIXTURES.md §3 nested, §4 union_values, §5 typed_csv)."""

from __future__ import annotations

import json

from pyspark.sql import types as T

from octosql_spark import types as ot
from octosql_spark.schema_infer import infer_csv, infer_json, to_spark_schema
from octosql_spark.sources import read_csv, read_json


# ------------------------------------------------------------- algebra

def test_type_sum_primitives():
    assert ot.type_sum(ot.INT, ot.INT) == ot.INT
    u = ot.type_sum(ot.INT, ot.STRING)
    assert u.id == ot.TypeID.UNION and len(u.alts) == 2
    # nested flatten
    u2 = ot.type_sum(u, ot.FLOAT)
    assert len(u2.alts) == 3


def test_type_sum_struct_merge():
    # FIXTURES §3: varying object fields deep-merge, absent → | NULL
    a = ot.struct_of({"f4": ot.STRING, "f5": ot.FLOAT})
    b = ot.struct_of({"f5": ot.STRING, "f6": ot.STRING})
    m = ot.type_sum(a, b)
    fields = dict(m.fields)
    assert fields["f4"] == ot.union_of(ot.STRING, ot.NULL)
    assert fields["f5"] == ot.union_of(ot.FLOAT, ot.STRING)
    assert fields["f6"] == ot.union_of(ot.STRING, ot.NULL)


def test_is_subtype():
    assert ot.is_subtype(ot.INT, ot.INT) == ot.Is.IS
    assert ot.is_subtype(ot.INT, ot.union_of(ot.INT, ot.NULL)) == ot.Is.IS
    assert ot.is_subtype(ot.union_of(ot.INT, ot.STRING), ot.INT) == ot.Is.MAYBE
    assert ot.is_subtype(ot.INT, ot.STRING) == ot.Is.ISNT


def test_to_spark_policy():
    # T | NULL → nullable T
    dt, n = ot.to_spark(ot.union_of(ot.INT, ot.NULL))
    assert dt == T.LongType() and n
    # numeric union widens
    dt, n = ot.to_spark(ot.union_of(ot.INT, ot.FLOAT))
    assert dt == T.DoubleType()
    # heterogeneous union → raw string carrier
    dt, n = ot.to_spark(ot.union_of(ot.FLOAT, ot.STRING, ot.list_of(ot.FLOAT)))
    assert dt == T.StringType() and n


# ----------------------------------------------------------- inference

def test_infer_csv_typed(tmp_path):
    # FIXTURES §5 typed_csv
    p = tmp_path / "t.csv"
    p.write_text(
        "c_int,c_float,c_bool,c_time,c_str,c_nullable,c_mixed\n"
        "1,1.5,true,2024-01-01T10:00:00,hi,7,12\n"
        "2,2,false,2024-06-01T00:00:00Z,yo,,abc\n"
        "3,-3.25,true,2024-12-31T23:59:59,hey,9,34\n")
    cols = infer_csv(str(p))
    assert cols["c_int"] == ot.INT
    assert cols["c_float"] == ot.FLOAT  # ints mixed in widen to Float
    assert cols["c_bool"] == ot.BOOLEAN
    assert cols["c_time"] == ot.TIME
    assert cols["c_str"] == ot.STRING
    assert cols["c_nullable"] == ot.union_of(ot.INT, ot.NULL)
    assert cols["c_mixed"] == ot.union_of(ot.INT, ot.STRING)
    schema = to_spark_schema(cols)
    assert schema["c_int"].dataType == T.LongType()
    assert schema["c_nullable"].nullable
    assert schema["c_mixed"].dataType == T.StringType()


def test_infer_json_union_and_nested(tmp_path):
    # FIXTURES §4 union_values + §3 nested
    p = tmp_path / "u.json"
    p.write_text('{"id": 0, "value": 42}\n'
                 '{"id": 0, "value": "42"}\n'
                 '{"id": 0, "value": [42, "42"]}\n')
    cols = infer_json(str(p))
    assert cols["id"] == ot.FLOAT  # JSON numbers always Float
    v = cols["value"]
    assert v.id == ot.TypeID.UNION
    ids = {a.id for a in v.alts}
    assert ot.TypeID.FLOAT in ids and ot.TypeID.STRING in ids \
        and ot.TypeID.LIST in ids

    p2 = tmp_path / "nested.json"
    p2.write_text(
        '{"f1": "value", "f3": {"f4": "x", "f5": 24}}\n'
        '{"f1": "value", "f3": {"f5": "eulav", "f6": "v"}}\n')
    cols2 = infer_json(str(p2))
    f3 = dict(cols2["f3"].fields)
    assert f3["f4"] == ot.union_of(ot.STRING, ot.NULL)
    assert f3["f5"] == ot.union_of(ot.FLOAT, ot.STRING)


def test_read_csv_with_inference(spark, tmp_path):
    p = tmp_path / "t.csv"
    p.write_text("a,b,ts\n1,x,2024-01-01T00:00:00\n,y,2024-01-02T12:30:00\n")
    df = read_csv(spark, str(p))
    assert dict(df.dtypes)["a"] == "bigint"
    assert dict(df.dtypes)["ts"] == "timestamp"
    rows = df.collect()
    assert rows[1].a is None  # empty cell → NULL


def test_read_json_with_union_carrier(spark, tmp_path):
    p = tmp_path / "u.json"
    p.write_text('{"id": 1, "value": 42}\n'
                 '{"id": 2, "value": "abc"}\n'
                 '{"id": 3, "value": [1, 2]}\n')
    df = read_json(spark, str(p))
    assert dict(df.dtypes)["id"] == "double"
    assert dict(df.dtypes)["value"] == "variant"  # exact runtime types
    from octosql_spark.sql import run_query
    df.createOrReplaceTempView("u")
    # ::T accessors extract-or-NULL out of the variant carrier
    out = run_query(spark, "SELECT id, value::int AS as_int FROM u").df
    vals = {int(r.id): r.as_int for r in out.collect()}
    assert vals == {1: 42, 2: None, 3: None}
    # a directory or glob holding the same rows, split over two files,
    # is typed like the single file
    d = tmp_path / "parts"
    d.mkdir()
    lines = p.read_text().splitlines(keepends=True)
    (d / "a.json").write_text("".join(lines[:2]))
    (d / "b.json").write_text(lines[2] + '{"id": 4, "ts": "2024-01-01T00:00:01Z"}\n')
    p.write_text("".join(lines) + '{"id": 4, "ts": "2024-01-01T00:00:01Z"}\n')
    want = read_json(spark, str(p)).dtypes
    assert dict(want)["ts"] == "timestamp"
    assert read_json(spark, str(d)).dtypes == want
    assert read_json(spark, f"{d}/*.json").dtypes == want


def test_csv_directory_strict_quote_parity(spark, tmp_path):
    """DEVIATIONS 9 extends to directory/glob reads (r8 review — the
    probe was gated on isfile): a quoted embedded newline in a
    directory CSV parses as ONE row, and Go-rejected damage raises at
    read time."""
    from octosql_spark.goemu import GoCSVDecodeError
    from octosql_spark.sources.files import read_csv

    d = tmp_path / "csvdir"
    d.mkdir()
    (d / "a.csv").write_text('name,note\nalice,"line1\nline2"\n')
    (d / "b.csv").write_text("name,note\nbob,plain\n")
    rows = read_csv(spark, str(d)).collect()
    assert len(rows) == 2
    assert {r.note for r in rows} == {"line1\nline2", "plain"}
    # Go-rejected damage inside the directory errors like single-file
    (d / "c.csv").write_text('name,note\nx,"unterminated\n')
    try:
        read_csv(spark, str(d)).collect()
        raise AssertionError("expected GoCSVDecodeError")
    except GoCSVDecodeError:
        pass


def test_lines_batch_glob_numbers_per_file(spark, tmp_path):
    """Batch lines over a glob numbers PER FILE 0-based (matching the
    tail path and impl.go's per-file numbering) — the old global
    sequence followed Spark's size-descending split packing, i.e.
    arbitrary file order (r8 review)."""
    from octosql_spark.sources.files import read_lines

    d = tmp_path / "ld"
    d.mkdir()
    (d / "a.lines").write_text("a0\na1\na2\n")
    (d / "b.lines").write_text("b0\nb1\n")
    rows = read_lines(spark, str(d / "*.lines")).collect()
    got = {(r.text, r.number) for r in rows}
    assert got == {("a0", 0), ("a1", 1), ("a2", 2), ("b0", 0),
                   ("b1", 1)}


def test_single_parquet_tail_rejected(spark, tmp_path):
    """tail=true on a single binary-format file raises a clear error
    instead of staging newline-truncated fragments (r8 review)."""
    import pytest

    from octosql_spark.sources.files import read_parquet

    p = tmp_path / "one.parquet"
    spark.range(5).coalesce(1).write.mode("overwrite").parquet(str(p))
    # a single FILE inside the written directory
    part = next(f for f in p.iterdir() if f.name.startswith("part-"))
    with pytest.raises(ValueError, match="binary formats"):
        read_parquet(spark, str(part), tail=True)
    # directory tail keeps working natively
    sdf = read_parquet(spark, str(p), tail=True)
    assert sdf.isStreaming
