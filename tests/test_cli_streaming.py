"""Streaming through the front door: ``?tail=true`` sources, TRIGGER
specs, and the stream_native printer — the reference's core identity
("a query is a dataflow", execution/files/files.go:26-68,
parser/parser.go:503-534), mapped to Structured Streaming.

Also the stream_native golden shape from
tests/scenarios/simple/select_star_from_range.in.
"""

from __future__ import annotations

import threading
import time

from octosql_spark.cli import main


def test_stream_native_golden_range(spark, capsys):
    # golden: octosql "SELECT * FROM range(start => 1, end => 10) r"
    #         --output stream_native  (select_star_from_range.out)
    rc = main(["SELECT * FROM range(start => 1, end => 10) r",
               "--output", "stream_native"])
    out = capsys.readouterr().out
    assert rc == 0
    expected = "".join(f"{{+0001-01-01T00:00:00Z| {i} |}}\n"
                       for i in range(1, 10))
    assert out == expected


def test_cli_tail_drains_and_exits(spark, tmp_path, capsys):
    d = tmp_path / "people"
    d.mkdir()
    (d / "a.json").write_text('{"name": "alice", "age": 3}\n'
                              '{"name": "bob", "age": 5}\n')
    rc = main([f"SELECT name, age FROM '{d}/*.json?tail=true' WHERE age > 4",
               "--output", "json"])
    out = capsys.readouterr().out
    assert rc == 0
    assert '"bob"' in out and '"alice"' not in out


def test_cli_tail_trigger_eos(spark, tmp_path, capsys):
    d = tmp_path / "ev"
    d.mkdir()
    (d / "a.json").write_text('{"k": "x", "v": 1.0}\n{"k": "x", "v": 2.0}\n'
                              '{"k": "y", "v": 5.0}\n')
    rc = main([f"SELECT k, COUNT(*) AS n FROM '{d}/*.json?tail=true' "
               "GROUP BY k TRIGGER ON END OF STREAM",
               "--output", "stream_native"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "{+0001-01-01T00:00:00Z| 'x', 2 |}" in out
    assert "{+0001-01-01T00:00:00Z| 'y', 1 |}" in out


def test_cli_tail_follows_new_files(spark, tmp_path, capsys):
    """The tail loop picks up data that arrives while running (the
    growing-file scenario; Spark's idiom is new files in the watched
    glob)."""
    d = tmp_path / "grow"
    d.mkdir()
    (d / "a.json").write_text('{"n": 1}\n')

    t = threading.Thread(target=main, args=(
        [f"SELECT n FROM '{d}/*.json?tail=true'",
         "--output", "stream_native", "--duration", "20"],))
    t.start()
    # wait for batch 0 to process, then grow the source
    time.sleep(6)
    (d / "b.json").write_text('{"n": 2}\n')
    t.join(timeout=60)
    assert not t.is_alive()
    out = capsys.readouterr().out
    assert "{+0001-01-01T00:00:00Z| 1 |}" in out
    assert "{+0001-01-01T00:00:00Z| 2 |}" in out


def test_cli_tail_follows_single_file_appends(spark, tmp_path, capsys):
    """DEVIATIONS 7 closed: a SINGLE file growing in place (`tail -f`
    shape, execution/files/files.go:26-68) — appended bytes are staged
    as new files by the driver-side re-stat loop and surface as rows."""
    p = tmp_path / "grow.json"
    p.write_text('{"n": 1}\n')

    def append():
        time.sleep(6)  # after batch 0
        with open(p, "a") as f:
            f.write('{"n": 2}\n{"n": 3}\n')

    a = threading.Thread(target=append)
    a.start()
    rc = main([f"SELECT n FROM '{p}?tail=true'",
               "--output", "stream_native", "--duration", "20"])
    a.join()
    assert rc == 0
    out = capsys.readouterr().out
    assert "{+0001-01-01T00:00:00Z| 1 |}" in out
    assert "{+0001-01-01T00:00:00Z| 2 |}" in out
    assert "{+0001-01-01T00:00:00Z| 3 |}" in out


def test_cli_tail_single_file_lines_numbered(spark, tmp_path, capsys):
    """DEVIATIONS 8 closed for the single-file shape: a growing
    ``lines`` file gets the reference's sequential 0-based numbers
    (datasources/lines/impl.go:13-63) — the staged-append loop sees
    chunks in file order and numbers them as it stages. (Directory
    tails number per-file — see
    test_cli_tail_directory_lines_numbered_per_file.)"""
    p = tmp_path / "grow.lines"
    p.write_text("alpha\nbeta\n")

    def append():
        time.sleep(6)  # after batch 0
        with open(p, "a") as f:
            f.write("gamma\n")

    a = threading.Thread(target=append)
    a.start()
    rc = main([f"SELECT number, text FROM '{p}?tail=true'",
               "--output", "stream_native", "--duration", "20"])
    a.join()
    assert rc == 0
    out = capsys.readouterr().out
    assert "| 0, 'alpha' |" in out
    assert "| 1, 'beta' |" in out
    assert "| 2, 'gamma' |" in out


def test_cli_tail_single_csv_header_preserved(spark, tmp_path, capsys):
    """Appended CSV chunks are staged with the header re-prepended so
    every staged file parses identically."""
    p = tmp_path / "grow.csv"
    p.write_text("name,age\nalice,3\n")

    def append():
        time.sleep(6)
        with open(p, "a") as f:
            f.write("bob,5\n")

    a = threading.Thread(target=append)
    a.start()
    rc = main([f"SELECT name, age FROM '{p}?tail=true'",
               "--output", "stream_native", "--duration", "20"])
    a.join()
    assert rc == 0
    out = capsys.readouterr().out
    assert "'alice', 3" in out
    assert "'bob', 5" in out


# ------------------------------------------- union scenario goldens

import os

_FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")


def test_union_json_golden(spark, capsys):
    # tests/scenarios/outputs/json/union.out
    rc = main([f"SELECT * FROM '{_FIXTURES}/union.json'", "--output", "json"])
    out = capsys.readouterr().out
    assert rc == 0
    # reference golden (union.out) byte-for-byte: Go-style JSON (no
    # spaces, whole floats without .0), exact per-value union types
    assert out.splitlines() == ['{"id":0,"value":42}',
                                '{"id":0,"value":"42"}',
                                '{"id":0,"value":[42,"42"]}']


def test_varying_fields_stream_native_golden(spark, capsys):
    # tests/scenarios/objects/varying_object_fields.out
    rc = main([f"SELECT * FROM '{_FIXTURES}/varying.json'",
               "--output", "stream_native"])
    out = capsys.readouterr().out
    assert rc == 0
    assert out.splitlines() == [
        "{+0001-01-01T00:00:00Z| 'value', 42, { 'eulav', 24, <null> } |}",
        "{+0001-01-01T00:00:00Z| 'value', 42, { <null>, 'eulav', 'value' } |}",
    ]


def test_stream_native_retraction_log(spark, tmp_path, capsys):
    """Complete-mode frame diffing reproduces the reference's
    retract/emit stream: a refined aggregate retracts its prior value
    (custom_trigger_group_by.go previouslySentValues)."""
    d = tmp_path / "inc"
    d.mkdir()
    f1, f2 = d / "a.json", d / "b.json"
    f1.write_text('{"k": "x"}\n{"k": "x"}\n{"k": "y"}\n')
    f2.write_text('{"k": "x"}\n')
    os.utime(f1, (1000000, 1000000))
    os.utime(f2, (2000000, 2000000))
    rc = main([f"SELECT k, COUNT(*) AS n FROM "
               f"'{d}/*.json?tail=true&maxFilesPerTrigger=1' GROUP BY k",
               "--output", "stream_native"])
    out = capsys.readouterr().out
    assert rc == 0
    lines = [l for l in out.splitlines() if l.startswith("{")]
    # frame 0: +x2 +y1 ; frame 1: -x2 +x3
    assert lines == [
        "{+0001-01-01T00:00:00Z| 'x', 2 |}",
        "{+0001-01-01T00:00:00Z| 'y', 1 |}",
        "{-0001-01-01T00:00:00Z| 'x', 2 |}",
        "{+0001-01-01T00:00:00Z| 'x', 3 |}",
    ]


def test_live_table_repaint(spark, tmp_path, capsys):
    d = tmp_path / "lt"
    d.mkdir()
    f1, f2 = d / "a.json", d / "b.json"
    f1.write_text('{"k": "x"}\n')
    f2.write_text('{"k": "y"}\n')
    os.utime(f1, (1000000, 1000000))
    os.utime(f2, (2000000, 2000000))
    rc = main([f"SELECT k, COUNT(*) AS n FROM "
               f"'{d}/*.json?tail=true&maxFilesPerTrigger=1' GROUP BY k",
               "--output", "live_table"])
    out = capsys.readouterr().out
    assert rc == 0
    # two repaints, the second one showing the full refreshed table
    assert out.count("-- batch") == 2
    assert out.index("-- batch 0 --") < out.index("-- batch 1 --")
    last_frame = out[out.index("-- batch 1 --"):]
    assert "x" in last_frame and "y" in last_frame


def test_cli_poll_continuous_retract_emit(spark, tmp_path, capsys):
    """poll() re-runs the subquery per round, retracting the previous
    emission (poll.go:104-149 retract-then-emit loop)."""
    p = tmp_path / "v.csv"
    p.write_text("a\n1\n")
    t = threading.Thread(target=main, args=(
        [f"SELECT * FROM poll(source => TABLE(SELECT a FROM '{p}'))",
         "--output", "stream_native", "--duration", "12"],))
    t.start()
    time.sleep(6)  # let at least one round with a=1 complete
    p.write_text("a\n2\n")
    t.join(timeout=90)
    assert not t.is_alive()
    out = capsys.readouterr().out
    # poll_time LEADS (poll.go:49-59 outFields[0]; r8 review), so the
    # subquery value is the LAST cell of each record
    adds_1 = [l for l in out.splitlines()
              if l.startswith("{+") and ", 1 |" in l]
    retracts = [l for l in out.splitlines() if l.startswith("{-")]
    adds_2 = [l for l in out.splitlines()
              if l.startswith("{+") and ", 2 |" in l]
    # rounds with the old value, retractions between rounds, and the
    # refreshed value after the source changed
    assert adds_1 and retracts and adds_2


def test_trigger_counting_exact_through_cli(spark, tmp_path, capsys):
    """TRIGGER COUNTING n routes to the exact per-key counting
    operator (execution/triggers.go:17-87): emissions at every n-th
    record per key, not per micro-batch."""
    d = tmp_path / "cnt"
    d.mkdir()
    (d / "a.json").write_text(
        '\n'.join('{"k": "x", "v": %d}' % i for i in range(1, 6)) + '\n'
        + '{"k": "y", "v": 10}\n')
    rc = main([f"SELECT k, COUNT(v) AS n FROM '{d}/*.json?tail=true' "
               "GROUP BY k TRIGGER COUNTING 2",
               "--output", "stream_native"])
    out = capsys.readouterr().out
    assert rc == 0
    # key x has 5 records → emissions at counts 2 and 4 (n=2, n=4);
    # key y has 1 record → no emission
    assert "{+0001-01-01T00:00:00Z| 'x', 2, 2 |}" in out
    assert "{+0001-01-01T00:00:00Z| 'x', 4, 4 |}" in out
    assert "'y'" not in out


def test_stream_native_event_time_from_tumble(spark, tmp_path, capsys):
    """tumble sets window_end as the record event time; stream_native
    stamps each record with it (tumble.go:70-122 → execution.go:73-91)."""
    p = tmp_path / "ev.json"
    p.write_text('{"k": "a", "ts": "2024-01-01T00:00:30"}\n'
                 '{"k": "b", "ts": "2024-01-01T00:03:10"}\n')
    rc = main([f"SELECT k, window_end FROM "
               f"tumble(source => TABLE(SELECT * FROM '{p}'), "
               "window_length => INTERVAL 1 MINUTE, "
               "time_field => DESCRIPTOR(ts))",
               "--output", "stream_native"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "{+2024-01-01T00:01:00Z| 'a', 2024-01-01T00:01:00Z |}" in out
    assert "{+2024-01-01T00:04:00Z| 'b', 2024-01-01T00:04:00Z |}" in out


def test_trigger_counting_exact_with_where_and_alias(spark, tmp_path,
                                                     capsys):
    """The exact counting route covers the generic simple shape, not
    just bare group-bys: WHERE filters apply BEFORE counting (the
    trigger counts records entering the group-by, triggers.go:17-87)
    and alias-qualified keys resolve."""
    d = tmp_path / "cntw"
    d.mkdir()
    # key x: 6 records but only 4 pass v <= 4 → emissions at 2 and 4
    # key y: 2 records, 1 passes → no emission
    (d / "a.json").write_text(
        '\n'.join('{"k": "x", "v": %d}' % i for i in range(1, 7)) + '\n'
        + '{"k": "y", "v": 2}\n{"k": "y", "v": 9}\n')
    rc = main([f"SELECT t.k, COUNT(t.v) AS n FROM '{d}/*.json?tail=true' t "
               "WHERE v <= 4 GROUP BY t.k TRIGGER COUNTING 2",
               "--output", "stream_native"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "{+0001-01-01T00:00:00Z| 'x', 2, 2 |}" in out
    assert "{+0001-01-01T00:00:00Z| 'x', 4, 4 |}" in out
    # the 5th/6th records were filtered out — no count-5/6 emission
    assert "'x', 5" not in out and "'x', 6" not in out
    assert "'y'" not in out


def test_trigger_counting_exact_over_tumble(spark, tmp_path, capsys):
    """DEVIATIONS 6 residual closed for window TVFs that are pure
    projections: ``FROM tumble(...) GROUP BY window_start TRIGGER
    COUNTING n`` routes to the exact per-key operator (tumble adds
    window columns per record — triggers.go:17-87 counting semantics
    are unaffected), so emissions fire at every n-th record per
    WINDOW, not per micro-batch."""
    d = tmp_path / "cntt"
    d.mkdir()
    # window 00:00-00:01 has 3 records → emission at 2 only;
    # window 00:01-00:02 has 2 records → emission at 2
    rows = ['{"k": "a", "ts": "2024-01-01T00:00:%02d"}' % s
            for s in (5, 15, 25)] + \
           ['{"k": "b", "ts": "2024-01-01T00:01:%02d"}' % s
            for s in (10, 20)]
    (d / "a.json").write_text("\n".join(rows) + "\n")
    rc = main(["SELECT window_start, COUNT(*) AS n FROM "
               f"tumble(source => TABLE(SELECT * FROM '{d}/*.json?tail=true'), "
               "window_length => INTERVAL 1 MINUTE, "
               "time_field => DESCRIPTOR(ts)) "
               "GROUP BY window_start TRIGGER COUNTING 2",
               "--output", "stream_native"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "2024-01-01T00:00:00Z, 2, 2 |}" in out
    assert "2024-01-01T00:01:00Z, 2, 2 |}" in out
    # the 3rd record of window 0 never fires (exact, not per-batch)
    assert ", 3, " not in out


def test_trigger_counting_expression_key(spark, tmp_path, capsys):
    """DEVIATIONS 6 residual closed for expression keys: a
    deterministic GROUP BY expression (here v % 2) is precomputed
    into a column, so the counting trigger still fires EXACTLY every
    n records per computed key (triggers.go:17-87), not per
    micro-batch."""
    d = tmp_path / "cnte"
    d.mkdir()
    # v=1..7 → parity 1: v∈{1,3,5,7} (4 recs → emissions at 2 and 4);
    # parity 0: v∈{2,4,6} (3 recs → emission at 2 only)
    (d / "a.json").write_text(
        '\n'.join('{"k": "x", "v": %d}' % i for i in range(1, 8)) + '\n')
    rc = main([f"SELECT v % 2 AS parity, COUNT(v) AS n "
               f"FROM '{d}/*.json?tail=true' "
               "GROUP BY v % 2 TRIGGER COUNTING 2",
               "--output", "stream_native"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "{+0001-01-01T00:00:00Z| 1, 2, 2 |}" in out
    assert "{+0001-01-01T00:00:00Z| 1, 4, 4 |}" in out
    assert "{+0001-01-01T00:00:00Z| 0, 2, 2 |}" in out
    # no partial-window emissions (parity 0 has 3 records)
    assert "| 0, 3, 3 |" not in out


def test_trigger_counting_where_uses_dialect_semantics(spark, tmp_path,
                                                       capsys):
    """The exact-counting fast path must run its WHERE through the
    dialect rewrites, not raw Spark SQL: `int(v) / 2 = 1` is integer
    division (functions.go:320-355) selecting v∈{2,3}, while Spark's
    float division would keep only v=2 (advisor-found r4). JSON
    numbers are Float, so `int(v)` makes the Int operand."""
    d = tmp_path / "cntd"
    d.mkdir()
    (d / "a.json").write_text(
        '\n'.join('{"k": "x", "v": %d}' % i for i in range(1, 7)) + '\n')
    rc = main([f"SELECT k, COUNT(v) AS n FROM '{d}/*.json?tail=true' "
               "WHERE int(v) / 2 = 1 GROUP BY k TRIGGER COUNTING 2",
               "--output", "stream_native"])
    out = capsys.readouterr().out
    assert rc == 0
    # v=2 and v=3 both pass under integer division → emission at 2
    assert "{+0001-01-01T00:00:00Z| 'x', 2, 2 |}" in out


def test_cli_tail_directory_lines_numbered_per_file(spark, tmp_path,
                                                    capsys):
    """DEVIATIONS 8 fully closed (r6): a DIRECTORY lines tail numbers
    each file 0-based independently (deterministic under any
    multi-file arrival order; the single-file reference numbering is
    the one-file special case). New files appearing mid-stream join
    the watch set."""
    d = tmp_path / "logs"
    d.mkdir()
    (d / "a.lines").write_text("a0\na1\n")

    def append():
        time.sleep(6)  # after batch 0
        (d / "b.lines").write_text("b0\n")
        with open(d / "a.lines", "a") as f:
            f.write("a2\n")

    t = threading.Thread(target=append)
    t.start()
    rc = main([f"SELECT number, text FROM '{d}/*.lines?tail=true'",
               "--output", "stream_native", "--duration", "20"])
    t.join()
    assert rc == 0
    out = capsys.readouterr().out
    assert "| 0, 'a0' |" in out
    assert "| 1, 'a1' |" in out
    assert "| 2, 'a2' |" in out   # continues a.lines' own numbering
    assert "| 0, 'b0' |" in out   # b.lines starts at 0


def test_cli_streaming_max_diff_watermark_runs(spark, tmp_path, capsys):
    """max_diff_watermark over a ?tail=true source maps to
    withWatermark (r6 fix: the batch emulation's windows used to be
    applied unconditionally and were rejected at stream start).
    On-time records aggregate normally."""
    p = tmp_path / "ev.json"
    p.write_text('{"ts": "2024-01-01T00:00:01", "v": 1}\n'
                 '{"ts": "2024-01-01T00:00:02", "v": 1}\n')

    def append():
        time.sleep(6)
        with open(p, "a") as f:
            f.write('{"ts": "2024-01-01T00:00:03", "v": 2}\n')

    t = threading.Thread(target=append)
    t.start()
    rc = main([
        "SELECT v, COUNT(*) AS n FROM max_diff_watermark("
        f"source => TABLE(SELECT * FROM '{p}?tail=true'), "
        "max_diff => INTERVAL 5 SECOND, "
        "time_field => DESCRIPTOR(ts)) GROUP BY v",
        "--output", "stream_native", "--duration", "20"])
    t.join()
    assert rc == 0
    out = capsys.readouterr().out
    assert "1, 2 |" in out.replace("1.0", "1")  # v=1 count 2


def test_streaming_max_diff_watermark_folds_resolution(spark, tmp_path):
    """The streaming watermark folds ``resolution`` into the delay
    (ADVICE r6): the reference advances its watermark from
    FLOOR(ts, resolution) (max_diff_watermark.go:148-160), so the
    Spark delay must be max_diff + resolution — conservative by at
    most one resolution unit, never dropping a row the reference
    keeps. Default resolution is 1 second (:108)."""
    from octosql_spark.sql import run_query
    p = tmp_path / "ev.json"
    p.write_text('{"ts": "2024-01-01T00:00:01", "v": 1}\n')

    q = ("SELECT v, COUNT(*) AS n FROM max_diff_watermark("
         f"source => TABLE(SELECT * FROM '{p}?tail=true'), "
         "max_diff => INTERVAL 5 SECOND, "
         "time_field => DESCRIPTOR(ts){res}) GROUP BY v")
    plan_default = run_query(
        spark, q.format(res="")).df._jdf.queryExecution() \
        .analyzed().toString()
    assert "-T6000ms" in plan_default  # 5s + default 1s
    plan_minute = run_query(
        spark, q.format(res=", resolution => INTERVAL 1 MINUTE")) \
        .df._jdf.queryExecution().analyzed().toString()
    assert "-T65000ms" in plan_minute  # 5s + 60s


def test_tail_dir_truncate_regrow_resets(tmp_path):
    """A tailed file that shrinks below its stored offset
    (truncate-then-rewrite rotation) restarts as a new file — offset
    and per-file numbering reset to 0 (ADVICE r6: the stager used to
    resume mid-content at the stale offset once the file regrew)."""
    import glob
    import json
    import time

    from octosql_spark.sources.files import _stage_growing_dir

    p = tmp_path / "a.lines"
    p.write_text("x0\nx1\n")
    d = _stage_growing_dir(str(tmp_path))
    time.sleep(1.2)
    p.write_text("y0\n")  # 3 bytes < stored offset 6 → rotation
    time.sleep(1.5)
    rows = []
    for f in sorted(glob.glob(d + "/part-*")):
        with open(f) as fh:
            rows += [json.loads(ln) for ln in fh]
    assert {"number": 0, "text": "x0"} in rows
    assert {"number": 1, "text": "x1"} in rows
    assert {"number": 0, "text": "y0"} in rows  # reset, not garbled


def test_tail_single_file_truncate_regrow_resets(tmp_path):
    """Single-file stager twin of the directory rotation fix: a
    tailed file that shrinks below the stored offset restarts at
    offset 0 / number 0 instead of staying silent or resuming at a
    stale offset."""
    import glob
    import json
    import time

    from octosql_spark.sources.files import _stage_growing_file

    p = tmp_path / "one.lines"
    p.write_text("x0\nx1\n")
    d = _stage_growing_file(str(p), number_lines=True)
    time.sleep(1.2)
    p.write_text("y0\n")  # 3 bytes < stored offset 6 → rotation
    time.sleep(1.5)
    rows = []
    for f in sorted(glob.glob(d + "/part-*")):
        with open(f) as fh:
            rows += [json.loads(ln) for ln in fh]
    assert {"number": 0, "text": "x0"} in rows
    assert {"number": 1, "text": "x1"} in rows
    assert {"number": 0, "text": "y0"} in rows


def test_trigger_counting_exact_stream_static_join(spark, tmp_path,
                                                   capsys):
    """DEVIATIONS 6 narrowed: a stream-static equi-join under TRIGGER
    COUNTING n routes to the exact per-record operator — the trigger
    counts records ENTERING the group-by (triggers.go:17-87), i.e.
    post-join post-WHERE, and a stream-static join is stateless so
    the stateful counting operator can sit right behind it."""
    d = tmp_path / "cntj"
    d.mkdir()
    (d / "a.json").write_text(
        '\n'.join('{"k": 1, "v": %d}' % i for i in range(1, 6)) + '\n'
        + '{"k": 2, "v": 10}\n')
    dim = tmp_path / "dim.csv"
    dim.write_text("k,name\n1,alpha\n2,beta\n3,gamma\n")
    rc = main([f"SELECT name, COUNT(v) AS n FROM '{d}/*.json?tail=true' s "
               f"JOIN '{dim}' t ON s.k = t.k "
               "GROUP BY name TRIGGER COUNTING 2",
               "--output", "stream_native"])
    out = capsys.readouterr().out
    assert rc == 0
    # 'alpha' sees 5 joined records → exact emissions at 2 and 4;
    # 'beta' sees 1 → none; 'gamma' matches nothing
    assert "{+0001-01-01T00:00:00Z| 'alpha', 2, 2 |}" in out
    assert "{+0001-01-01T00:00:00Z| 'alpha', 4, 4 |}" in out
    assert "'beta'" not in out and "'gamma'" not in out


def test_trigger_counting_join_where_and_fanout(spark, tmp_path,
                                                capsys):
    """Join fan-out counts per POST-JOIN record (a stream record
    matching two static rows advances each matched key's count), and
    WHERE prunes before counting."""
    d = tmp_path / "cntf"
    d.mkdir()
    (d / "a.json").write_text(
        '\n'.join('{"k": 1, "v": %d}' % i for i in range(1, 4)) + '\n')
    dim = tmp_path / "dimf.csv"
    # k=1 matches TWO static rows with the same label → every stream
    # record contributes 2 records to label 'dup'
    dim.write_text("k,label\n1,dup\n1,dup\n")
    rc = main([f"SELECT label, SUM(v) AS sv FROM '{d}/*.json?tail=true' s "
               f"JOIN '{dim}' t ON s.k = t.k WHERE v <= 2 "
               "GROUP BY label TRIGGER COUNTING 2",
               "--output", "stream_native"])
    out = capsys.readouterr().out
    assert rc == 0
    # v in (1,2) pass WHERE; each joins twice → 4 records for 'dup':
    # emissions at 2 (v=1 twice: sum 2) and 4 (sum 1+1+2+2=6)
    assert "{+0001-01-01T00:00:00Z| 'dup', 2, 2 |}" in out
    assert "{+0001-01-01T00:00:00Z| 'dup', 4, 6 |}" in out


def test_trigger_counting_right_join_not_demoted(spark, tmp_path,
                                                 capsys):
    """A RIGHT JOIN under TRIGGER COUNTING keeps its join type: the
    exact route reads the join from the transpiled query as written,
    and static-left RIGHT OUTER with the stream on the right is a
    shape Spark streams behind the stateful operator, so the joined
    records are counted exactly per record."""
    d = tmp_path / "cntr"
    d.mkdir()
    (d / "a.json").write_text('{"k": 1, "v": 5}\n{"k": 1, "v": 6}\n'
                              '{"k": 8, "v": 7}\n{"k": 9, "v": 8}\n')
    dim = tmp_path / "dimr.csv"
    dim.write_text("k,name\n1,alpha\n")
    rc = main([f"SELECT name, COUNT(v) AS n FROM '{dim}' t "
               f"RIGHT JOIN '{d}/*.json?tail=true' s ON t.k = s.k "
               "GROUP BY name TRIGGER COUNTING 2",
               "--output", "stream_native"])
    out = capsys.readouterr().out
    assert rc == 0
    # 2 joined records for 'alpha' → the exact emission at count 2;
    # the 2 unmatched stream records keep a NULL name (an inner join
    # would drop them)
    assert "{+0001-01-01T00:00:00Z| 'alpha', 2, 2 |}" in out
    assert "{+0001-01-01T00:00:00Z| <null>, 2, 2 |}" in out


def test_trigger_counting_unaliased_aggregate_exact(spark, tmp_path,
                                                    capsys):
    """An unaliased aggregate routes exactly: the transpiled query
    already names every item (``count_v``, the reference's name), so
    the exact operator emits under that name."""
    import json

    d = tmp_path / "cntu"
    d.mkdir()
    (d / "a.json").write_text(
        '\n'.join('{"k": "x", "v": %d}' % i for i in range(1, 6)) + '\n')
    rc = main([f"SELECT k, COUNT(v) FROM '{d}/*.json?tail=true' "
               "GROUP BY k TRIGGER COUNTING 2", "--output", "json"])
    out = capsys.readouterr().out
    assert rc == 0
    rows = [json.loads(ln) for ln in out.splitlines()]
    assert rows == [{"k": "x", "emitted_at_count": 2, "count_v": 2},
                    {"k": "x", "emitted_at_count": 4, "count_v": 4}]


def test_trigger_counting_stream_stream_inner(spark, tmp_path, capsys):
    """Stream-STREAM inner equi-join under TRIGGER COUNTING routes to
    the EXACT per-record operator (r8 — DEVIATIONS 6 residual closed:
    Spark 4 runs applyInPandasWithState behind a stream-stream join
    when no event-time column reaches it). Fan-out counts per
    POST-JOIN record. All of a key's v values are equal so the
    asserted emission values are independent of the join's
    within-batch emission order (which neither engine pins)."""
    da = tmp_path / "ssa"
    db = tmp_path / "ssb"
    da.mkdir()
    db.mkdir()
    (da / "a.json").write_text('{"k": 1, "v": 2}\n{"k": 1, "v": 2}\n')
    (db / "b.json").write_text('{"k": 1, "w": 7}\n{"k": 1, "w": 9}\n')
    rc = main([f"SELECT s.k AS k, COUNT(*) AS n, SUM(v) AS sv "
               f"FROM '{da}/*.json?tail=true' s "
               f"JOIN '{db}/*.json?tail=true' t ON s.k = t.k "
               "GROUP BY s.k TRIGGER COUNTING 2",
               "--output", "stream_native"])
    out = capsys.readouterr().out
    assert rc == 0
    # 2 x 2 joined records; emissions at every 2nd: (2, sv 4), (4, sv 8)
    assert "{+0001-01-01T00:00:00Z| 1, 2, 2, 4 |}" in out
    assert "{+0001-01-01T00:00:00Z| 1, 4, 4, 8 |}" in out


def test_stream_stream_join_without_trigger(spark, tmp_path, capsys):
    """A plain stream-stream inner join with no trigger runs: Spark
    refuses it in update mode, so the generic route starts it in
    append mode and prints the joined row."""
    import json

    da = tmp_path / "ssj_a"
    db = tmp_path / "ssj_b"
    da.mkdir()
    db.mkdir()
    (da / "a.json").write_text('{"k": 1, "v": 5}\n{"k": 2, "v": 6}\n')
    (db / "b.json").write_text('{"k": 1, "w": 7}\n')
    rc = main([f"SELECT s.k AS k, v, w FROM '{da}/*.json?tail=true' s "
               f"JOIN '{db}/*.json?tail=true' t ON s.k = t.k",
               "--output", "json"])
    cap = capsys.readouterr()
    assert rc == 0, cap.err
    rows = [json.loads(ln) for ln in cap.out.splitlines() if ln.strip()]
    assert rows == [{"k": 1, "v": 5, "w": 7}]


def test_trigger_counting_stream_stream_outer_falls_back(
        spark, tmp_path, capsys):
    """LEFT OUTER stream-stream needs watermark time bounds by
    Structured Streaming's rules, so Spark refuses to start it behind
    the exact operator. The query takes the generic route instead:
    generic output or a one-line error, never an exact
    ``emitted_at_count`` row."""
    da = tmp_path / "sso_a"
    db = tmp_path / "sso_b"
    da.mkdir()
    db.mkdir()
    (da / "a.json").write_text('{"k": 1, "v": 5}\n')
    (db / "b.json").write_text('{"k": 1, "w": 7}\n')
    rc = main([f"SELECT s.k AS k, COUNT(*) AS n "
               f"FROM '{da}/*.json?tail=true' s "
               f"LEFT JOIN '{db}/*.json?tail=true' t ON s.k = t.k "
               "GROUP BY s.k TRIGGER COUNTING 1", "--output", "json"])
    cap = capsys.readouterr()
    assert "emitted_at_count" not in cap.out
    assert rc in (0, 1)
    if rc:
        assert [ln for ln in cap.err.splitlines()
                if ln.startswith("error:")] and "Traceback" not in cap.err


def test_trigger_counting_max_diff_watermark_exact(spark, tmp_path,
                                                   capsys):
    """TRIGGER COUNTING over FROM max_diff_watermark(...) routes to
    the EXACT per-record operator (r8 — the TVF is a projection +
    withWatermark, not a stateful op; one event-time column under
    applyInPandasWithState is fine on Spark 4). Per-key emissions at
    every 2nd record, not per-micro-batch."""
    p = tmp_path / "mdw_cnt.json"
    p.write_text('{"ts": "2024-01-01T00:00:01", "v": 1}\n'
                 '{"ts": "2024-01-01T00:00:02", "v": 1}\n'
                 '{"ts": "2024-01-01T00:00:03", "v": 1}\n'
                 '{"ts": "2024-01-01T00:00:04", "v": 1}\n')
    rc = main([
        "SELECT v, COUNT(*) AS n FROM max_diff_watermark("
        f"source => TABLE(SELECT * FROM '{p}?tail=true'), "
        "max_diff => INTERVAL 5 SECOND, "
        "time_field => DESCRIPTOR(ts)) "
        "GROUP BY v TRIGGER COUNTING 2",
        "--output", "stream_native"])
    out = capsys.readouterr().out
    assert rc == 0
    # exact route: emissions at counts 2 and 4 (the generic
    # per-micro-batch fallback emits ONE update row n=4 here)
    assert "{+0001-01-01T00:00:00Z| 1, 2, 2 |}" in out
    assert "{+0001-01-01T00:00:00Z| 1, 4, 4 |}" in out


def test_cli_tail_csv_truncate_rewrite_no_double_header(spark, tmp_path,
                                                        capsys):
    """CSV tail across a truncate-then-rewrite rotation: the
    rewritten file starts with its OWN header, so the stager must not
    prepend the old one — the double header made the new header line
    parse as a data row / FAILFAST (r8 review)."""
    p = tmp_path / "rot.csv"
    p.write_text("name,age\nalice,3\n")

    def rotate():
        time.sleep(6)  # after batch 0
        with open(p, "w") as f:  # truncate + SHORTER rewrite (a
            # same-size rewrite is invisible to a stat loop — the
            # documented tail -f limitation)
            f.write("name,age\nbo,9\n")

    a = threading.Thread(target=rotate)
    a.start()
    rc = main([f"SELECT name, age FROM '{p}?tail=true'",
               "--output", "stream_native", "--duration", "20"])
    a.join()
    assert rc == 0
    out = capsys.readouterr().out
    assert "'alice', 3" in out
    assert "'bo', 9" in out
    assert "'name'" not in out  # the header never surfaces as data


def test_streaming_runtime_error_one_line(spark, tmp_path, capsys):
    """A malformed record failing FAILFAST mid-batch keeps the
    one-line 'error: ...' contract in STREAMING mode too (r8 review:
    awaitTermination's exception escaped as a Py4J traceback)."""
    d = tmp_path / "badjson"
    d.mkdir()
    (d / "a.json").write_text('{"v": 1}\n{broken\n')
    rc = main([f"SELECT v FROM '{d}/*.json?tail=true'",
               "--output", "stream_native"])
    err = capsys.readouterr().err
    assert rc == 1
    assert err.startswith("error: ")
    assert "Traceback" not in err and "py4j" not in err.lower()
    # not just traceback-free: the reference-exact parse error (the
    # diagnose probe resolves glob sources since r9)
    assert "couldn't parse line 2" in err


def test_streaming_runtime_error_csv_glob(spark, tmp_path, capsys):
    """CSV sibling of the glob+tail contract (r8 verdict #1): a
    wrong-field-count record under full-width decode fails the stream
    with the reference's one-line Go-csv error, not a Py4J
    traceback."""
    d = tmp_path / "badcsv"
    d.mkdir()
    (d / "a.csv").write_text("a,b\n1,2\n3,4,5\n")
    rc = main([f"SELECT a, b FROM '{d}/*.csv?tail=true'",
               "--output", "stream_native"])
    err = capsys.readouterr().err
    assert rc == 1
    assert err.startswith("error: ")
    assert "Traceback" not in err and "py4j" not in err.lower()
    assert ("couldn't decode message: record on line 3: "
            "wrong number of fields" in err)


def test_bare_counting_trigger_clean_error(spark, tmp_path, capsys):
    """TRIGGER COUNTING without a record count is a clean one-line
    error (r8 review: it crashed the exact-route regex with an
    AttributeError traceback)."""
    d = tmp_path / "bc"
    d.mkdir()
    (d / "a.json").write_text('{"v": 1}\n')
    rc = main([f"SELECT v, COUNT(*) AS c FROM '{d}/*.json?tail=true' "
               "GROUP BY v TRIGGER COUNTING",
               "--output", "stream_native"])
    err = capsys.readouterr().err
    assert rc == 1
    assert "error: unsupported trigger" in err


def test_fuzz_streaming_error_contract_source_shapes(spark, tmp_path,
                                                     capsys):
    """Seeded damage sweep over the STREAMING CLI path (r8 verdict
    #7): the round-8 red test's bug class was an exception surface
    that differed by source shape, so each damaged fixture runs as a
    single file, a directory and a glob — whatever the outcome, stderr
    obeys the one-line ``error: `` contract (no tracebacks, no Py4J),
    and a parse-class failure carries the reference's message shape."""
    import json
    import random

    rng = random.Random(99)
    cases = []
    for _ in range(2):  # structurally damaged JSON after a good line
        line = json.dumps({"a": rng.randint(0, 9), "b": "xy"})
        i0 = rng.randint(1, len(line) - 2)
        cases.append(("json",
                      '{"a": 0, "b": "ok"}\n' + line[:i0] + line[i0 + 1:]
                      + "\n"))
    cases.append(("csv", "a,b\n1,2\n3,4,5\n"))     # field-count damage
    cases.append(("csv", 'a,b\n1,"2x\n'))          # unterminated quote
    clean = {"json": '{"a": 7, "b": "zz"}\n', "csv": "a,b\n9,8\n"}
    for idx, (fmt, content) in enumerate(cases):
        for shape in ("file", "glob", "glob2"):
            d = tmp_path / f"c{idx}_{shape}"
            d.mkdir()
            f = d / f"data.{fmt}"
            f.write_text(content)
            if shape == "glob2":
                # damage in the SECOND file of a multi-file glob —
                # the diagnosis must attribute it to the right file
                (d / f"aaa_clean.{fmt}").write_text(clean[fmt])
            src = {"file": str(f), "glob": f"{d}/*.{fmt}",
                   "glob2": f"{d}/*.{fmt}"}[shape]
            rc = main([f"SELECT * FROM '{src}?tail=true'",
                       "--output", "stream_native"])
            err = capsys.readouterr().err
            label = f"case {idx} ({fmt}, {shape}): {err!r}"
            assert "Traceback" not in err, label
            assert "py4j" not in err.lower(), label
            if rc != 0:
                assert err.startswith("error: "), label
                assert err.strip().count("\n") == 0, label
                assert ("couldn't parse line" in err
                        or "couldn't decode" in err
                        or "couldn't run" in err), label


def test_cli_build_failure_stops_registered_stagers(spark, tmp_path,
                                                    capsys):
    """A query whose SECOND source fails to build after a ?tail=true
    source already registered its stager must stop that stager on the
    error return (r9 advice: the except branch returned 1 without
    stopping, leaking the polling thread and its growing staged
    copy). The CLI's own scope is nested inside ours, so the stager
    registers into both — we observe its stop event here."""
    from octosql_spark.sources.files import tail_stager_scope

    good = tmp_path / "good.json"
    good.write_text('{"a": 1}\n')
    with tail_stager_scope() as seen:
        rc = main([f"SELECT * FROM '{good}?tail=true' g "
                   f"JOIN '{tmp_path}/missing.nope' m ON g.a = m.b"])
    err = capsys.readouterr().err
    assert rc == 1 and "error:" in err
    assert len(seen) == 1, "tail stager never registered - test is stale"
    assert seen[0].is_set(), "build-failure path leaked the tail stager"
