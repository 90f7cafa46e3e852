"""Streaming subset tests (SURVEY.md §2.8/M6) through the SQL surface:
``?tail=true`` sources, the ``max_diff_watermark``/``tumble`` TVFs,
Spark's ``window``/``session_window``, stream-stream joins and the
TRIGGER mapping. Every run drains its input once (Trigger.AvailableNow
— end-of-stream semantics, like the reference's batch-as-stream model)
so it terminates."""

from __future__ import annotations

import json
import os

import pytest

from conftest import run_to_memory
from octosql_spark.cli import map_trigger

_EVENTS = [
    {"ts": "2024-01-01T00:00:05", "user": 1, "v": 1.0},
    {"ts": "2024-01-01T00:00:30", "user": 2, "v": 2.0},
    {"ts": "2024-01-01T00:01:10", "user": 1, "v": 3.0},
    {"ts": "2024-01-01T00:02:20", "user": 2, "v": 4.0},
    {"ts": "2024-01-01T00:00:01", "user": 1, "v": 9.0},  # late
]


@pytest.fixture()
def events_file(tmp_path):
    # a tailed file is staged by complete lines: end every row with \n
    p = tmp_path / "events.json"
    p.write_text("".join(json.dumps(r) + "\n" for r in _EVENTS))
    return str(p)


def _sql_to_memory(spark, query, mode=None):
    """Run ``query`` through ``run_query`` into a memory table in
    ``mode`` (default: the one its TRIGGER maps to) and collect it."""
    from octosql_spark.sources.files import (stop_tail_stagers,
                                              tail_stager_scope)
    from octosql_spark.sql import run_query
    with tail_stager_scope() as stagers:
        res = run_query(spark, query)
    try:
        assert res.df.isStreaming
        if mode is None:
            mode, _trigger = map_trigger(res.triggers[0])
        return run_to_memory(res.df, mode).collect()
    finally:
        stop_tail_stagers(stagers)  # direct run_query: no CLI teardown


def _watermarked(src, max_diff, time_field):
    return (f"max_diff_watermark(source => TABLE({src}), "
            f"max_diff => INTERVAL {max_diff}, "
            f"time_field => DESCRIPTOR({time_field}))")


def test_read_stream_and_windowed_agg(spark, events_file):
    query = ("SELECT user, window_start, window_end, COUNT(*) AS n, "
             "SUM(v) AS sv FROM tumble(source => TABLE(SELECT * FROM "
             + _watermarked(f"SELECT * FROM '{events_file}?tail=true'",
                            "10 SECOND", "ts")
             + "), window_length => INTERVAL 1 MINUTE) "
             "GROUP BY user, window_start, window_end TRIGGER {}")

    def windows(trigger):
        return {(r.user, str(r.window_start)[11:16], r.n, r.sv)
                for r in _sql_to_memory(spark, query.format(trigger))}

    # ON WATERMARK (append mode): only watermark-finalized windows
    # emit — the last window (00:02) is held back because Spark does
    # NOT flush state at end-of-stream (deviation from the reference's
    # WatermarkMaxValue flush; ON END OF STREAM → update mode for that)
    rows = windows("ON WATERMARK")
    assert (1, "00:00", 2, 10.0) in rows  # late row in same micro-batch counts
    assert (2, "00:00", 1, 2.0) in rows
    assert not any(w == "00:02" for (_, w, _, _) in rows)

    # EOS trigger mapping flushes everything:
    rows2 = windows("ON END OF STREAM")
    assert (2, "00:02", 1, 4.0) in rows2


def test_stream_stream_join(spark, events_file):
    side = _watermarked(f"SELECT * FROM '{events_file}?tail=true'",
                        "10 SECOND", "ts")
    rows = _sql_to_memory(
        spark,
        f"SELECT l.user AS user, l.ts AS lts, r.ts AS rts, l.v AS v "
        f"FROM {side} l JOIN {side} r ON l.user = r.user "
        "AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 MINUTE",
        mode="append")
    assert len(rows) > 0


def test_trigger_mapping():
    assert map_trigger(None) == ("update", {"availableNow": True})
    assert map_trigger("ON END OF STREAM") == ("update", {"availableNow": True})
    assert map_trigger("ON WATERMARK") == ("append", {})
    mode, kw = map_trigger("COUNTING 100")
    assert mode == "update"
    with pytest.raises(ValueError):
        map_trigger("DELAY 5s")  # reference panics on Delay too


def test_update_mode_counting_equivalent(spark, events_file):
    got = _sql_to_memory(
        spark, f"SELECT user, COUNT(*) AS n FROM '{events_file}?tail=true' "
               "GROUP BY user TRIGGER COUNTING 1")
    rows = {(r.user, r.n) for r in got}
    assert rows == {(1, 3), (2, 2)}


def test_sliding_and_session_aggregates(spark, events_file):
    src = f"'{events_file}?tail=true'"
    slide = _sql_to_memory(
        spark, "SELECT user, window.start AS window_start, COUNT(*) AS n "
               f"FROM {src} GROUP BY user, window(ts, '2 minutes', '1 minute')",
        mode="update")
    rows = {(r.user, str(r.window_start)[11:16]): r.n for r in slide}
    # user 1 events at 00:00:05, 00:01:10 (+late 00:00:01) fall in the
    # 23:59-00:01 and 00:00-00:02 and 00:01-00:03 sliding windows
    assert rows[(1, "00:00")] == 3  # all three user-1 events
    # session-window streaming aggs support append (with watermark) or
    # complete — not update (Spark constraint); finite input → complete
    sess = _sql_to_memory(
        spark, f"SELECT user, COUNT(*) AS n FROM {src} "
               "GROUP BY user, session_window(ts, '1 minute')",
        mode="complete")
    got = {(r.user, r.n) for r in sess}
    # user 1: 00:00:01+00:00:05 chain (gap 4s); 00:01:10 is 65s later
    # → a separate session. user 2: two singleton sessions.
    assert got == {(1, 2), (1, 1), (2, 1)}


def test_stream_stream_left_outer_emits_unmatched(spark, tmp_path):
    """Watermarked LEFT OUTER stream-stream join: left rows with no
    right match within the interval condition ARE emitted (with
    NULLs) once the watermark passes — the semantics that need state
    expiry, impossible without both-side watermarks."""
    p = tmp_path / "souter"
    p.mkdir()
    rows1 = [
        {"side": "L", "user": "a", "ts": "2024-01-01T00:00:01", "v": 1},
        {"side": "R", "user": "a", "ts": "2024-01-01T00:00:02", "v": 0},
        {"side": "L", "user": "b", "ts": "2024-01-01T00:00:03", "v": 2},
    ]
    # later batches must advance BOTH branch watermarks (the global
    # watermark is their MIN — a side with no new data pins it), and
    # outer-NULL eviction lands on the trigger AFTER the advance, so
    # batch 3 is the closing trigger
    rows2 = [{"side": "L", "user": "z", "ts": "2024-01-01T01:00:00",
              "v": 9},
             {"side": "R", "user": "zz", "ts": "2024-01-01T01:00:00",
              "v": 0}]
    rows3 = [{"side": "L", "user": "y", "ts": "2024-01-01T02:00:00",
              "v": 8},
             {"side": "R", "user": "yy", "ts": "2024-01-01T02:00:00",
              "v": 0}]
    for i, rows in enumerate((rows1, rows2, rows3), 1):
        f = p / f"b{i}.json"
        f.write_text("\n".join(json.dumps(r) for r in rows))
        os.utime(f, (i, i))  # order micro-batches
    src = f"'{p}/*.json?tail=true&maxFilesPerTrigger=1'"
    left = _watermarked(f"SELECT user, ts AS lts, v FROM {src} "
                        "WHERE side = 'L'", "5 SECOND", "lts")
    right = _watermarked(f"SELECT user AS user_r, ts AS rts FROM {src} "
                         "WHERE side = 'R'", "5 SECOND", "rts")
    got = {(r.user, r.user_r) for r in _sql_to_memory(
        spark,
        f"SELECT l.user AS user, r.user_r AS user_r FROM {left} l "
        f"LEFT JOIN {right} r ON l.user = r.user_r AND r.rts >= l.lts "
        "AND r.rts <= l.lts + INTERVAL 10 SECOND",
        mode="append")}
    assert ("a", "a") in got          # matched pair
    assert ("b", None) in got         # unmatched left emitted with NULLs


def test_nested_tvfs_streaming_front_door(spark, tmp_path):
    """tumble(max_diff_watermark(tail source)) through the SQL front
    door: nested TVF materialization composes and the result streams
    (r6 — pinned alongside the withWatermark dispatch fix)."""
    import time

    from octosql_spark.sources.files import (stop_tail_stagers,
                                              tail_stager_scope)
    from octosql_spark.sql import run_query
    p = tmp_path / "ev.json"
    p.write_text('{"ts": "2024-01-01T00:00:01", "v": 1}\n')
    with tail_stager_scope() as stagers:
        r = run_query(
            spark,
            "SELECT window_end, COUNT(*) AS n FROM tumble("
            "source => TABLE(SELECT * FROM max_diff_watermark("
            f"source => TABLE(SELECT * FROM '{p}?tail=true'), "
            "max_diff => INTERVAL 5 SECOND, time_field => DESCRIPTOR(ts))), "
            "window_length => INTERVAL 1 MINUTE) GROUP BY window_end")
    assert r.df.isStreaming
    q = (r.df.writeStream.outputMode("update")
         .format("memory").queryName("nested_tvf").start())
    try:
        deadline = time.time() + 60
        n = 0
        while time.time() < deadline:
            n = spark.sql("SELECT * FROM nested_tvf").count()
            if n:
                break
            time.sleep(0.5)
    finally:
        q.stop()
        stop_tail_stagers(stagers)  # direct run_query: no CLI teardown
    assert n == 1


def test_stream_stream_join_front_door(spark, tmp_path):
    """Two ?tail=true sources joined via comma-FROM: the transpiled
    plan is a stream-stream inner join and produces rows."""
    import time

    from octosql_spark.sql import run_query
    a, b = tmp_path / "a.json", tmp_path / "b.json"
    a.write_text('{"k": 1, "v": 10}\n')
    b.write_text('{"k": 1, "w": 20}\n')
    from octosql_spark.sources.files import (stop_tail_stagers,
                                              tail_stager_scope)
    with tail_stager_scope() as stagers:
        r = run_query(
            spark,
            f"SELECT x.v AS v, y.w AS w FROM '{a}?tail=true' x, "
            f"'{b}?tail=true' y WHERE x.k = y.k")
    assert r.df.isStreaming
    q = (r.df.writeStream.outputMode("append")
         .format("memory").queryName("ssj").start())
    try:
        # poll instead of a fixed sleep: under host load the first
        # micro-batch can take >8 s (closeout caught this flaking)
        deadline = time.time() + 60
        rows = []
        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM ssj").collect()
            if rows:
                break
            time.sleep(0.5)
    finally:
        q.stop()
        stop_tail_stagers(stagers)  # direct run_query: no CLI teardown
    assert [(r.v, r.w) for r in rows] == [(10, 20)]


def test_tail_stager_scope_isolates_queries(tmp_path):
    """tail_stager_scope: stopping one query's stagers leaves a
    concurrent query's follower running (r8 advice: the global stop
    froze it)."""
    from octosql_spark.sources.files import (_stage_growing_file,
                                             stop_tail_stagers,
                                             tail_stager_scope)

    fa = tmp_path / "a.log"
    fb = tmp_path / "b.log"
    fa.write_text("one\n")
    fb.write_text("uno\n")
    with tail_stager_scope() as sa:
        _stage_growing_file(str(fa), poll_s=0.05)
    with tail_stager_scope() as sb:
        _stage_growing_file(str(fb), poll_s=0.05)
    assert len(sa) == 1 and len(sb) == 1
    assert stop_tail_stagers(sa) == 1
    assert sa[0].is_set() and not sb[0].is_set()
    # the global stop still ends the rest (>= because other tests may
    # have registered stagers of their own in this process)
    assert stop_tail_stagers() >= 1
    assert sb[0].is_set()


def test_tail_stager_scope_is_thread_local(tmp_path):
    """A scope open on thread A must not collect stagers started by a
    concurrent query on thread B (r9: a process-global scope list
    would have re-created the cross-query stop bug for genuinely
    concurrent queries)."""
    import threading

    from octosql_spark.sources.files import (_stage_growing_file,
                                             stop_tail_stagers,
                                             tail_stager_scope)

    fa = tmp_path / "a.log"
    fb = tmp_path / "b.log"
    fa.write_text("one\n")
    fb.write_text("uno\n")
    collected_b: list = []

    def other_query():
        with tail_stager_scope() as sb:
            _stage_growing_file(str(fb), poll_s=0.05)
        collected_b.extend(sb)

    with tail_stager_scope() as sa:
        _stage_growing_file(str(fa), poll_s=0.05)
        t = threading.Thread(target=other_query)
        t.start()
        t.join()
    assert len(sa) == 1 and len(collected_b) == 1
    assert sa[0] is not collected_b[0]
    stop_tail_stagers(sa)
    assert not collected_b[0].is_set()
    stop_tail_stagers(collected_b)
    assert collected_b[0].is_set()


def test_tail_stager_ownership_matrix(tmp_path):
    """Ownership contract across 2 concurrent threads × all three
    source shapes (single file / directory / glob) × both teardown
    orders (stop own first, then the other finishes) — the matrix the
    r9 verdict asked for beyond the one two-thread case: every scope
    collects exactly ITS thread's three stagers, stopping one scope
    never touches the other's, and the late stop still lands."""
    import threading

    from octosql_spark.sources.files import (_stage_growing_dir,
                                             _stage_growing_file,
                                             stop_tail_stagers,
                                             tail_stager_scope)

    scopes: dict[str, list] = {}
    barrier = threading.Barrier(2)

    def query_thread(tag: str) -> None:
        base = tmp_path / tag
        base.mkdir()
        (base / "one.log").write_text("x\n")
        d = base / "dir"
        d.mkdir()
        (d / "f.log").write_text("y\n")
        with tail_stager_scope() as mine:
            _stage_growing_file(str(base / "one.log"), poll_s=0.05)
            barrier.wait(timeout=10)  # both threads mid-scope at once
            _stage_growing_dir(str(d), poll_s=0.05)
            _stage_growing_dir(str(base / "*.log"), poll_s=0.05)
            barrier.wait(timeout=10)
        scopes[tag] = mine

    ts = [threading.Thread(target=query_thread, args=(tag,))
          for tag in ("qa", "qb")]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=30)
    assert len(scopes["qa"]) == 3 and len(scopes["qb"]) == 3
    assert not (set(map(id, scopes["qa"])) & set(map(id, scopes["qb"])))
    # stop own first: A's three end, B's three keep running
    assert stop_tail_stagers(scopes["qa"]) == 3
    assert all(ev.is_set() for ev in scopes["qa"])
    assert not any(ev.is_set() for ev in scopes["qb"])
    # finish other: B's stop is unaffected by A's earlier teardown
    assert stop_tail_stagers(scopes["qb"]) == 3
    assert all(ev.is_set() for ev in scopes["qb"])
    # idempotent re-stop: nothing left to signal in either scope
    assert stop_tail_stagers(scopes["qa"]) == 0
    assert stop_tail_stagers(scopes["qb"]) == 0
