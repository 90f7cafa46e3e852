"""TRIGGER COUNTING n via applyInPandasWithState
(execution/triggers.go:17-87 semantics)."""

from __future__ import annotations

import json
import uuid

from conftest import read_stream, run_to_memory
from octosql_spark.streaming.counting_trigger import counting_trigger_aggregate


def test_counting_trigger_emits_every_n(spark, tmp_path):
    # user 1: 5 records, user 2: 3 records → with n=2: user1 emits at
    # 2 and 4; user2 emits at 2.
    rows = ([{"user": 1, "v": float(i)} for i in range(1, 6)]
            + [{"user": 2, "v": float(i)} for i in range(10, 13)])
    p = tmp_path / "in"
    p.mkdir()
    (p / "a.json").write_text("\n".join(json.dumps(r) for r in rows))

    src = read_stream(spark, str(p))
    agg = counting_trigger_aggregate(src, ["user"],
                                     [("count", "*", "cnt"),
                                      ("sum", "v", "sv"),
                                      ("avg", "v", "av")], n=2)
    out = run_to_memory(agg)
    got = {(r.user, r.emitted_at_count): (r.cnt, r.sv, r.av)
           for r in out.collect()}
    # user 1 at 2 records: v=1,2
    assert got[(1, 2)] == (2, 3.0, 1.5)
    # user 1 at 4 records: v=1..4
    assert got[(1, 4)] == (4, 10.0, 2.5)
    # user 2 at 2 records: v=10,11
    assert got[(2, 2)] == (2, 21.0, 10.5)
    # no emission for partial windows (user1@5, user2@3)
    assert (1, 5) not in got and (2, 3) not in got


def test_counting_trigger_state_across_batches(spark, tmp_path):
    # state persists across micro-batches: 1 record in batch 1, the
    # 2nd in batch 2 → emission happens in batch 2.
    p = tmp_path / "in2"
    p.mkdir()
    (p / "a.json").write_text(json.dumps({"user": 7, "v": 1.0}))
    chk = str(tmp_path / "chk")

    outdir = str(tmp_path / "out")
    src = read_stream(spark, str(p), maxFilesPerTrigger="1")
    agg = counting_trigger_aggregate(src, ["user"],
                                     [("count", "*", "cnt")], n=2)

    def run_round():
        q = (agg.writeStream.format("json").option("path", outdir)
             .outputMode("append").option("checkpointLocation", chk)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    run_round()
    first = spark.read.json(outdir)
    assert first.rdd.isEmpty()  # only 1 record seen, no emission yet

    (p / "b.json").write_text(json.dumps({"user": 7, "v": 2.0}))
    run_round()  # state recovered from checkpoint; 2nd record arrives
    rows = spark.read.json(outdir).collect()
    assert [(r.user, r.emitted_at_count, r.cnt) for r in rows] == [(7, 2, 2)]


def test_counting_trigger_random_replay(spark, tmp_path):
    """Property check against a pure-Python replay of the reference's
    trigger semantics (triggers.go:17-87): for random key/value
    streams and random n, every (key, emitted_at_count) emission and
    its count/sum/min/max/avg values match the per-key
    every-n-records state machine exactly."""
    import random

    rng = random.Random(42)
    for trial in range(3):
        n = rng.randint(1, 4)
        rows = [{"user": rng.randint(1, 5),
                 "v": round(rng.uniform(-50, 50), 3)}
                for _ in range(rng.randint(10, 60))]
        p = tmp_path / f"rr{trial}"
        p.mkdir()
        (p / "a.json").write_text(
            "\n".join(json.dumps(r) for r in rows))
        src = read_stream(spark, str(p))
        agg = counting_trigger_aggregate(
            src, ["user"], [("count", "*", "cnt"), ("sum", "v", "sv"),
                            ("min", "v", "mn"), ("max", "v", "mx"),
                            ("avg", "v", "av")], n=n)
        out = run_to_memory(agg)
        got = {(r.user, r.emitted_at_count):
               (r.cnt, round(r.sv, 6), r.mn, r.mx, round(r.av, 6))
               for r in out.collect()}
        # replay: per-key counter, emit at every n-th record
        want = {}
        seen: dict[int, list[float]] = {}
        for r in rows:
            vs = seen.setdefault(r["user"], [])
            vs.append(r["v"])
            if len(vs) % n == 0:
                want[(r["user"], len(vs))] = (
                    len(vs), round(sum(vs), 6), min(vs), max(vs),
                    round(sum(vs) / len(vs), 6))
        assert got == want, f"trial={trial} n={n}"


def test_counting_join_where_literal_keeps_alias_text(spark, tmp_path,
                                                     capsys):
    """A counting join's WHERE reaches Spark as transpiled text, so a
    string literal that looks like an alias qualifier stays verbatim:
    with alias ``s``, ``name = 's.x'`` keeps only the records whose
    name is ``s.x``. A text rewrite that stripped ``s.`` also inside
    literals turned it into ``'x'`` and counted the other records."""
    from octosql_spark.cli import main

    d = tmp_path / "cntq"
    d.mkdir()
    (d / "a.json").write_text(
        "".join('{"k": 1, "v": %d, "name": "%s"}\n' % (v, name)
                for v, name in ((1, "s.x"), (2, "x"), (3, "s.x"),
                                (4, "x"))))
    dim = tmp_path / "dimq.csv"
    dim.write_text("k,label\n1,one\n")
    rc = main([f"SELECT label, COUNT(*) AS n, SUM(s.v) AS sv "
               f"FROM '{d}/*.json?tail=true' s JOIN '{dim}' t "
               "ON s.k = t.k WHERE s.name = 's.x' "
               "GROUP BY label TRIGGER COUNTING 2",
               "--output", "stream_native"])
    out = capsys.readouterr().out
    assert rc == 0
    # v=1 and v=3 pass: one exact emission at count 2, sum 4
    assert "{+0001-01-01T00:00:00Z| 'one', 2, 2, 4 |}" in out
    assert "'one', 2, 2, 6" not in out


def test_count_string_column_counts_non_nulls(spark, tmp_path):
    """count(<string col>) counts NON-NULL values (r8 review: the
    numeric coercion NaN'd every string, reporting 0); sum/min/max
    over a string column raise a clean driver-side error (the CLI
    route then falls back to the generic mapping); n=0 rejects."""
    import json as _json

    import pytest

    p = tmp_path / "cstr"
    p.mkdir()
    rows = [{"user": 1, "name": "a"}, {"user": 1, "name": None},
            {"user": 1, "name": "b"}, {"user": 1, "name": "c"}]
    (p / "a.json").write_text("\n".join(_json.dumps(r) for r in rows))
    src = read_stream(spark, str(p))
    agg = counting_trigger_aggregate(
        src, ["user"], [("count", "name", "c")], n=2)
    out = run_to_memory(agg)
    got = {(r.user, r.emitted_at_count, r.c) for r in out.collect()}
    # records 1..4; name null at record 2 → counts 1,3 at boundaries
    assert got == {(1, 2, 1), (1, 4, 3)}
    with pytest.raises(ValueError, match="numeric"):
        counting_trigger_aggregate(src, ["user"],
                                   [("sum", "name", "s")], n=2)
    with pytest.raises(ValueError, match="n must be"):
        counting_trigger_aggregate(src, ["user"],
                                   [("count", "*", "c")], n=0)


def test_counting_behind_bounded_outer_join_mechanically_possible(
        spark, tmp_path):
    """r9 experiment, pinned (DEVIATIONS 6 closure): the exact
    counting operator RUNS behind a watermarked, range-bounded
    stream-stream LEFT OUTER join once both event-time columns are
    dropped post-join — the second stateful op was never the blocker.
    What keeps CLI outer joins on the per-micro-batch fallback is
    Structured Streaming's rejection of the reference's UNBOUNDED
    equi-only outer shape (no watermark/range condition to satisfy),
    also asserted here."""
    import pandas as pd  # noqa: F401 — counting fn dependency
    from pyspark.sql import functions as F

    from octosql_spark.streaming.counting_trigger import make_counting_fn

    d1 = tmp_path / "s1"
    d2 = tmp_path / "s2"
    d1.mkdir(); d2.mkdir()
    (d1 / "a.json").write_text("\n".join(json.dumps(
        {"k": i % 3, "v": i, "ts": f"2024-01-01T00:00:{i:02d}Z"})
        for i in range(12)))
    (d2 / "a.json").write_text("\n".join(json.dumps(
        {"k": i % 3, "w": i * 10, "ts2": f"2024-01-01T00:00:{i:02d}Z"})
        for i in range(9)))
    s1 = (spark.readStream.schema("k long, v long, ts string")
          .json(str(d1)).withColumn("ts", F.to_timestamp("ts"))
          .withWatermark("ts", "10 seconds"))
    s2 = (spark.readStream.schema("k long, w long, ts2 string")
          .json(str(d2)).withColumn("ts2", F.to_timestamp("ts2"))
          .withWatermark("ts2", "10 seconds"))
    j = s1.join(
        s2, (s1["k"] == s2["k"])
        & (s2["ts2"] >= s1["ts"] - F.expr("interval 5 seconds"))
        & (s2["ts2"] <= s1["ts"] + F.expr("interval 5 seconds")),
        "left_outer")
    flat = j.select(s1["k"].alias("k"), "v", "w")  # event-time cols gone
    fn = make_counting_fn([("count", "*", "c")], 2,
                          ["k", "emitted_at_count", "c"])
    res = flat.groupBy("k").applyInPandasWithState(
        fn, "k long, emitted_at_count long, c double",
        "total long, since long, acc0 double, cnt0 long",
        "append", "NoTimeout")
    name = f"outer_exp_{uuid.uuid4().hex[:8]}"
    q = (res.writeStream.outputMode("append").format("memory")
         .queryName(name).trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.k, r.emitted_at_count) for r in spark.table(name).collect()}
    # every key sees exact per-record boundaries at 2 and 4 (each key
    # has 4 left rows x >=1 match within the +/-5s band)
    assert {(k, 2) for k in (0, 1, 2)} <= got
    assert {(k, 4) for k in (0, 1, 2)} <= got

    # the UNBOUNDED equi-only outer shape — the reference's ON
    # grammar — is what Structured Streaming rejects (the honest
    # reason the CLI keeps the fallback)
    u1 = spark.readStream.schema("k long, v long").json(str(d1))
    u2 = spark.readStream.schema("k long, w long").json(str(d2))
    uj = (u1.join(u2, u1["k"] == u2["k"], "left_outer")
          .select(u1["k"], "v", "w"))
    import pytest as _pytest
    with _pytest.raises(Exception, match="range condition|watermark"):
        (uj.writeStream.outputMode("append").format("memory")
         .queryName(f"outer_rej_{uuid.uuid4().hex[:8]}")
         .trigger(availableNow=True).start().awaitTermination(60))
