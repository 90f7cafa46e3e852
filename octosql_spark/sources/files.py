"""File datasources (SURVEY.md §2.1).

The reference resolves tables by file extension
(cmd/root.go:192-198: csv, json, lines, parquet, tsv) with
sampling-based schema inference (csv/impl.go:47-129,
json/impl.go:27-75). Spark's readers provide the scan + inference;
``octosql_spark.schema_infer`` adds the reference's union-type
sampling policy on top for CSV/JSON.

Scale: these are plain ``spark.read`` calls — splittable scans,
predicate pushdown and column pruning included. The reference's
parallel JSON worker pool (json/workers.go) and column-pruned CSV
reads (csv/execution.go:33-52) are Spark-native here.
"""

from __future__ import annotations

import contextlib
import os
import sys
import tempfile
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# stop events for the driver-side tail stagers: a long-lived session
# (service, test suite) can end its tails instead of leaking one
# polling thread per tail query for the process lifetime (r8 review).
# The CLI calls stop_tail_stagers() when a streaming run finishes.
_STAGER_STOPS: list = []
# per-THREAD scope stack: concurrent queries run on separate threads
# (each CLI invocation builds its sources on its own thread), and a
# process-global scope list would cross-register query A's stagers
# into query B's open scope — re-creating the bug the scoping fixes
_STAGER_SCOPES = threading.local()


@contextlib.contextmanager
def tail_stager_scope():
    """Collect the stop events of every tail stager started while the
    scope is open ON THIS THREAD, so a query's teardown stops only
    ITS OWN follower threads. The old process-global stop silently
    froze a CONCURRENT tail query's stream in a long-lived session
    (r8 advice)."""
    mine: list = []
    stack = getattr(_STAGER_SCOPES, "stack", None)
    if stack is None:
        stack = _STAGER_SCOPES.stack = []
    stack.append(mine)
    try:
        yield mine
    finally:
        stack.remove(mine)


class _Stager(threading.Event):
    """A tail stager's stop event. ``drain()`` stages what its files
    hold now, a last line without its newline included: a run that
    drains the current contents and exits sees every line."""

    def __init__(self, drain):
        super().__init__()
        self.drain = drain


def _register_stager(drain) -> _Stager:
    stop = _Stager(drain)
    _STAGER_STOPS.append(stop)
    for scope in getattr(_STAGER_SCOPES, "stack", ()):
        scope.append(stop)
    return stop


def stop_tail_stagers(stops: list | None = None) -> int:
    """Signal tail stager threads to exit — the given collection
    (from ``tail_stager_scope``) or ALL running stagers when None;
    returns how many were stopped. Staged temp files stay on disk
    until process exit (the stream may still hold references)."""
    n = 0
    for ev in (_STAGER_STOPS if stops is None else stops):
        if not ev.is_set():
            ev.set()
            n += 1
    if stops is None:
        _STAGER_STOPS.clear()
    else:
        for ev in stops:
            if ev in _STAGER_STOPS:
                _STAGER_STOPS.remove(ev)
    return n


def _stageable(chunk: bytes, sep_b: bytes, final: bool) -> tuple[bytes, int]:
    """(the lines of ``chunk`` to stage, the bytes of ``chunk`` they
    take up): its complete lines; when ``final``, all of it, with a
    last line that has no ``sep_b`` closed by one."""
    if final and chunk and not chunk.endswith(sep_b):
        return chunk + sep_b, len(chunk)
    cut = chunk.rfind(sep_b) + len(sep_b) if sep_b in chunk else 0
    return chunk[:cut], cut


def _stage_growing_file(path: str, poll_s: float = 0.5,
                        line_prefix: bytes = b"",
                        number_lines: bool = False,
                        sep_b: bytes = b"\n") -> str:
    """Single-growing-file follow (execution/files/files.go:26-68):
    a driver-side re-stat loop stages the file's current content and
    every subsequently APPENDED byte range as new files in a temp
    directory, which the Structured Streaming file source watches —
    the reference's ``tail -f`` semantics expressed through Spark's
    new-file discovery. Only complete lines are staged (a trailing
    partial line waits for its newline, like the reference's
    line-buffered reader) until the stager's ``drain()``: a run that
    processes the current contents and exits stages it, closed by a
    newline. ``line_prefix`` (the CSV header) is prepended to every
    staged chunk so per-file header parsing stays consistent.

    ``number_lines=True`` (the single-file ``lines`` tail) re-encodes
    each staged chunk as JSON rows ``{"number": N, "text": ...}`` with
    N continuing across chunks: the stager reads appends strictly in
    file order, so it can assign the same 0-based sequential numbers
    the reference's line reader does (datasources/lines/impl.go:13-63)
    even though the downstream file-source is unordered.

    Driver-side cost is one stat per poll and one sequential read per
    growth burst — no executor involvement until data actually
    arrives; at scale a log-tailing workload would use a real message
    bus, this exists for CLI parity."""
    import json
    import time

    d = tempfile.mkdtemp(prefix="octosql_tail_")
    state = {"off": 0, "n": 0, "line": 0, "fresh": False}
    lock = threading.Lock()

    def stage(final: bool = False) -> None:
        with lock:
            with open(path, "rb") as f:
                f.seek(state["off"])
                body, used = _stageable(f.read(), sep_b, final)
            if not body:
                return
            name = os.path.join(d, f"part-{state['n']:08d}")
            tmp = name + ".tmp"
            with open(tmp, "wb") as out:
                if number_lines:
                    for ln in body.split(sep_b)[:-1]:
                        row = {"number": state["line"],
                               "text": ln.decode("utf-8", "replace")}
                        out.write(json.dumps(row).encode() + b"\n")
                        state["line"] += 1
                else:
                    # no prefix right after a rotation: the rewritten
                    # file starts with its OWN header line, and Spark
                    # skips exactly one header per staged file — the
                    # old double-header made the new header parse as a
                    # data row (r8 review)
                    if (state["n"] > 0 and line_prefix
                            and not state["fresh"]):
                        out.write(line_prefix)
                    out.write(body)
            os.rename(tmp, name)  # atomic: the stream never sees partials
            state["off"] += used
            state["n"] += 1
            state["fresh"] = False

    stage()  # current contents = batch 0
    stop = _register_stager(lambda: stage(final=True))

    def loop() -> None:
        while not stop.is_set():
            time.sleep(poll_s)
            try:
                size = os.path.getsize(path)
                if size < state["off"]:
                    # truncate-then-rewrite rotation: old content is
                    # gone — restart as a new file (numbering from 0
                    # for the lines tail), like the directory stager
                    state["off"], state["line"] = 0, 0
                    state["fresh"] = True
                if size > state["off"]:
                    stage()
            except OSError:
                pass  # file removed; keep watching for reappearance

    threading.Thread(target=loop, daemon=True,
                     name=f"octosql-tail-{os.path.basename(path)}").start()
    return d


def _stage_growing_dir(pattern: str, poll_s: float = 0.5,
                       sep_b: bytes = b"\n") -> str:
    """Directory/glob ``lines`` tail: the `_stage_growing_file` loop
    generalized to many files — per-file (offset, next line number)
    state, each growth burst staged as JSON rows with numbers that
    are 0-based WITHIN their file (datasources/lines/impl.go:13-63
    numbering, applied per file). New files join the watch set on the
    next poll; a file that SHRINKS below its stored offset
    (truncate-then-rewrite rotation) is treated as new — offset and
    numbering reset to 0; a removed file stays at its last offset in
    case it reappears unchanged. (A rewrite only ever OBSERVED at a
    size past the old offset is indistinguishable from an append —
    the same limitation as ``tail -f`` on a rotated-in-place file.)
    Same
    cost model as the single-file stager: one glob + one stat per
    file per poll, sequential reads only on growth."""
    import glob as _glob
    import json
    import time

    d = tempfile.mkdtemp(prefix="octosql_tail_dir_")
    state: dict[str, dict[str, int]] = {}
    seq = [0]

    def matches() -> list[str]:
        root = pattern
        if os.path.isdir(root):
            root = os.path.join(root, "*")
        return sorted(p for p in _glob.glob(root) if os.path.isfile(p))

    def stage_one(p: str, final: bool = False) -> None:
        st = state.setdefault(p, {"off": 0, "line": 0})
        try:
            size = os.path.getsize(p)
            if size < st["off"]:
                # truncate-then-regrow rotation: the file shrank below
                # our offset, so the old content is gone — treat the
                # rewritten file as NEW (offset 0, numbering restarts
                # at 0) instead of resuming mid-content at a stale
                # offset with continued (wrong) numbers (ADVICE r6)
                st["off"], st["line"] = 0, 0
            if size <= st["off"]:
                return
            with open(p, "rb") as f:
                f.seek(st["off"])
                chunk = f.read()
        except OSError:
            return
        body, used = _stageable(chunk, sep_b, final)
        if not body:
            return
        name = os.path.join(d, f"part-{seq[0]:08d}")
        tmp = name + ".tmp"
        with open(tmp, "wb") as out:
            for ln in body.split(sep_b)[:-1]:
                row = {"number": st["line"],
                       "text": ln.decode("utf-8", "replace")}
                out.write(json.dumps(row).encode() + b"\n")
                st["line"] += 1
        os.rename(tmp, name)  # atomic: the stream never sees partials
        st["off"] += used
        seq[0] += 1

    lock = threading.Lock()

    def stage_all(final: bool = False) -> None:
        with lock:
            for p in matches():
                stage_one(p, final)

    stage_all()
    stop = _register_stager(lambda: stage_all(final=True))

    def loop() -> None:
        while not stop.is_set():
            time.sleep(poll_s)
            stage_all()

    threading.Thread(target=loop, daemon=True,
                     name="octosql-tail-dir").start()
    return d


def _stream_reader(spark: SparkSession, path: str, fmt: str, schema,
                   **options) -> DataFrame:
    """``?tail=true`` → Structured Streaming file source
    (execution/files/files.go:26-68 follows a growing file). A
    directory/glob works by Spark's native new-file discovery; a
    SINGLE FILE is followed byte-wise via ``_stage_growing_file`` so
    in-place appends (`tail -f` style growth) surface as new rows.
    Schema comes from a static read of the current contents (streams
    need one up front)."""
    if "://" not in path and os.path.isfile(path):
        if fmt not in ("csv", "json", "text"):
            # binary formats can't be cut at newline boundaries: the
            # line stager would truncate a parquet/orc file at an
            # incidental 0x0A byte and stage a footerless fragment
            # (r8 review). Directory/glob tails work natively.
            raise ValueError(
                f"tail=true on a single {fmt} file is not supported "
                f"(binary formats cannot be followed byte-wise); "
                f"watch a directory instead — new files are "
                f"discovered natively")
        prefix = b""
        if fmt == "csv" and str(options.get("header", "")).lower() == "true":
            with open(path, "rb") as f:
                first = f.readline()
            prefix = first if first.endswith(b"\n") else first + b"\n"
        path = _stage_growing_file(path, line_prefix=prefix)
    reader = spark.readStream.format(fmt).schema(schema)
    for k, v in options.items():
        reader = reader.option(k, str(v))
    return reader.load(path)


_CSV_PROBE_CACHE: dict[tuple, tuple[bool, str | None]] = {}
_CSV_PROBE_CACHE_MAX = 256


def _local_csv_files(path: str) -> list[str]:
    """The local files a Spark read of ``path`` will scan: the file
    itself, every file in a directory, or the glob matches — the probe
    set for strict-quote parity and the JSON inference sample."""
    import glob as _glob
    if os.path.isfile(path):
        return [path]
    if os.path.isdir(path):
        return sorted(
            os.path.join(path, f) for f in os.listdir(path)
            if os.path.isfile(os.path.join(path, f))
            and not f.startswith((".", "_")))
    return sorted(p for p in _glob.glob(path) if os.path.isfile(p))


def _read_head(path: str, cap: int) -> bytes:
    """First ``cap + 1`` bytes (separate function so tests can count
    probe reads)."""
    with open(path, "rb") as f:
        return f.read(cap + 1)


def _csv_probe_worker(path: str, sep: str,
                      header: bool) -> tuple[bool, str | None]:
    """Chunked quote memchr + (only when a quote exists) the full
    Go-decoder replay. Runs on an executor for large files; the
    replay holds the file's bytes in that worker — quote-FREE files
    never replay (the memchr streams in 16 MB chunks), and a
    single multi-GB quoted CSV file is already the slow path in the
    reference too (its decoder is single-threaded per file)."""
    has_quote = False
    with open(path, "rb") as f:
        while True:
            b = f.read(16 << 20)
            if not b:
                break
            if b'"' in b:
                has_quote = True
                break
    if not has_quote:
        return False, None
    from octosql_spark.goemu import gocsv_decode_error
    return True, gocsv_decode_error(path, sep, header=header)


def _csv_quote_probe(spark: SparkSession, path: str, sep: str,
                     header: bool) -> tuple[bool, str | None]:
    """(file contains a quote char, Go-decoder rejection message or
    None), memoized per (path, size, mtime, sep, header) — the probe
    and the full-file Go replay run once per distinct file content,
    not once per read (r6 What's-wrong #2). Files ≤64 MB probe and
    replay driver-side; larger files run the ENTIRE probe (chunked
    memchr over the full file, not just a head — a quote first
    appearing past any head cap still counts) + replay EXECUTOR-side
    as one task (r6 Next #7): the reference decodes each file
    single-threaded anyway, so a per-file task loses nothing and the
    driver never streams the bytes."""
    st = os.stat(path)
    key = (os.path.abspath(path), st.st_size, st.st_mtime_ns,
           sep, header)
    if key in _CSV_PROBE_CACHE:
        return _CSV_PROBE_CACHE[key]
    cap = 64 << 20
    if st.st_size <= cap:
        head = _read_head(path, cap)
        has_quote = b'"' in head
        msg = None
        if has_quote:
            from octosql_spark.goemu import gocsv_decode_error
            msg = gocsv_decode_error(path, sep, header=header)
    else:
        has_quote, msg = (spark.sparkContext.parallelize([path], 1)
                          .map(lambda p: _csv_probe_worker(
                              p, sep, header))
                          .collect()[0])
    if len(_CSV_PROBE_CACHE) >= _CSV_PROBE_CACHE_MAX:
        _CSV_PROBE_CACHE.pop(next(iter(_CSV_PROBE_CACHE)))
    _CSV_PROBE_CACHE[key] = (has_quote, msg)
    return has_quote, msg


def read_csv(spark: SparkSession, path: str, header: bool = True,
             sep: str = ",", octosql_infer: bool = True,
             tail: bool = False, **_: object) -> DataFrame:
    """CSV/TSV scan with the reference's 100-row sampled inference
    (datasources/csv/impl.go:17-147: Int→Float→Bool→RFC3339 Time→
    String ladder, empty cell ⇒ nullable, mixed column ⇒ union →
    raw-string carrier). The sample is a driver-side head read; the
    scan itself runs distributed with an explicit schema — no
    second full pass like Spark's own inferSchema would do."""
    if octosql_infer and "://" not in path and os.path.isfile(path):
        from octosql_spark.schema_infer import infer_csv, to_spark_schema
        cols = infer_csv(path, header=header, sep=sep)
        schema = to_spark_schema(cols)
    else:
        schema = (spark.read
                  .option("header", str(header).lower())
                  .option("sep", sep)
                  .option("inferSchema", "true")
                  .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss[.SSS][XXX]")
                  .csv(path).schema)
    # FAILFAST: structurally malformed rows (wrong field count, broken
    # quoting) are a query error like the reference's Go-csv decoder
    # ("couldn't decode message: record on line N: wrong number of
    # fields"), not a silently padded/NULLed row; the CLI error path
    # re-derives the reference's exact line number (cli.py)
    # unescapedQuoteHandling=RAISE_ERROR: univocity's default silently
    # tolerates bare quotes in non-quoted fields that Go's csv decoder
    # rejects ('bare " in non-quoted field'); raising keeps strictness
    # executor-side — no driver pre-scan — and the CLI error path then
    # renders Go's exact ParseError (goemu._GoCSVReader)
    opts = {"header": str(header).lower(), "sep": sep,
            "mode": "FAILFAST",
            "unescapedQuoteHandling": "RAISE_ERROR",
            # RFC-4180 / Go-csv escaping: a doubled "" inside a quoted
            # field is a literal quote (univocity's default escape is
            # backslash, which mis-reads Go-written files)
            "escape": '"',
            "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss[.SSS][XXX]"}
    if tail:
        # extras that collide with the strictness opts are overridden
        # by them (a plain **opts, **_ raised TypeError: multiple
        # values — r8 review); the dialect's own named options were
        # already consumed as keyword parameters above
        return _stream_reader(spark, path, "csv", schema,
                              **{**_, **opts})
    # Strict quote parity (DEVIATIONS 9, closed): univocity diverges
    # from Go csv on three quote shapes — a bare `"` mid-field and an
    # unterminated quote to EOF parse as DATA (so FAILFAST never
    # fires), and a quoted embedded newline SPLITS into two rows
    # unless multiLine is on. Probe the file head (≤64 MB) for a
    # quote char: quote-free files (the common machine-written case,
    # incl. the bench anchor) pay one ~ms memchr and keep the fast
    # splittable scan; quote-bearing files turn on multiLine
    # (per-file reads, like Go's own single-threaded decode — still
    # parallel ACROSS files) and get the exact Go-decoder replay so
    # Go-rejected damage errors at read time: driver-side when the
    # whole file fits the probe (~11 MB/s pure-Python → ≤ ~6 s at the
    # 64 MB cap), EXECUTOR-side as one task for larger files (the
    # reference decodes each file single-threaded anyway, so a
    # per-file task loses nothing and the driver serializes nothing —
    # r6 Next #7). Probe + replay verdicts are cached per
    # (path, size, mtime), so a session re-querying the same file
    # pays once (r6 Next #5).
    # dir/glob reads probe EVERY matched file (r8 review: the old
    # isfile gate skipped them entirely, so a quoted embedded newline
    # in a directory CSV split rows and Go-rejected damage passed);
    # per-file verdicts stay cached by (path, size, mtime)
    if "://" not in path:
        for p in _local_csv_files(path):
            has_quote, msg = _csv_quote_probe(spark, p, sep, header)
            if has_quote:
                opts["multiLine"] = "true"
                if msg:
                    from octosql_spark.goemu import GoCSVDecodeError
                    raise GoCSVDecodeError(msg)
    reader = spark.read
    for k, v in opts.items():
        reader = reader.option(k, v)
    return reader.schema(schema).csv(path)


def read_tsv(spark: SparkSession, path: str, **opts: object) -> DataFrame:
    opts.setdefault("sep", "\t")
    return read_csv(spark, path, **opts)  # type: ignore[arg-type]


def read_json(spark: SparkSession, path: str, octosql_infer: bool = True,
              tail: bool = False, **extra: object) -> DataFrame:
    """JSON-lines scan (datasources/json/impl.go:18-99): object per
    line, nested structs/lists, 100-line sampled inference with the
    reference's rules (numbers→Float, RFC3339 strings→Time, per-key
    TypeSum merge). Union-typed columns are read as raw JSON text and
    accessed via ``::T`` try_cast accessors (SURVEY.md §7 policy)."""
    ts_fmt = "yyyy-MM-dd'T'HH:mm:ss[.SSS][XXX]"
    # a directory or glob is typed like one file, from its files' lines
    # in scan order; with no file yet, Spark's inference types it
    files = _local_csv_files(path) if octosql_infer and "://" not in path \
        else []
    if files:
        from octosql_spark.schema_infer import infer_json, to_spark_schema
        cols = infer_json(files)
        # union-typed columns → VariantType (exact per-value runtime
        # types, like the reference's union values)
        schema = to_spark_schema(cols, union_carrier="variant")
    else:
        schema = spark.read.json(path).schema
    if tail:
        return _stream_reader(spark, path, "json", schema,
                              timestampFormat=ts_fmt, mode="FAILFAST",
                              **extra)
    # FAILFAST: a malformed line is a query error, like the reference
    # ("couldn't parse line N", tests/scenarios/datasources/json/
    # error1/2) — not a silent NULL row (Spark's PERMISSIVE default)
    reader = (spark.read.option("timestampFormat", ts_fmt)
              .option("mode", "FAILFAST"))
    for k, v in extra.items():  # batch honors extras like tail does
        reader = reader.option(k, str(v))
    return reader.schema(schema).json(path)


def read_lines(spark: SparkSession, path: str, sep: str | None = None,
               tail: bool = False, **_: object) -> DataFrame:
    """lines source → {number: Int (0-based), text: String}
    (datasources/lines/impl.go:13-63).

    Row numbering must follow file order. The numbering is a pure-JVM
    parallel prefix (the same decomposition as
    ``operators.order_limit.global_ntile``):
    ``monotonically_increasing_id`` encodes (scan partition id << 33)
    | row-within-partition — partition-then-offset order, which is
    byte order for a single file — then a #partitions-row prefix-sum
    of per-partition counts broadcasts back as rank offsets. No
    ``zipWithIndex``: that form pickled every line through a Python
    worker (~100 MB/s/core) on what is otherwise a GB/s splittable
    JVM text scan. (At 100 TB you would not want a global line number
    at all — it is inherently sequential; the reference is
    single-machine.)"""
    sep_b = (sep or "\n").encode()
    if tail:
        if "://" in path:
            # the driver-side stagers read the LOCAL filesystem; an
            # s3://-style glob would silently stage nothing forever
            # (r8 review)
            raise ValueError(
                "lines tail on a remote path is not supported "
                "(the byte-wise follower reads the local filesystem)")
        if os.path.isfile(path):
            # single growing file: the staged-append loop sees chunks
            # strictly in file order, so it assigns the reference's
            # sequential 0-based numbers (impl.go:13-63) as it stages
            path = _stage_growing_file(path, number_lines=True,
                                       sep_b=sep_b)
            return (spark.readStream
                    .schema("number long, text string").json(path)
                    .select("number", "text"))
        # directory/glob tail: numbers are PER FILE 0-based via the
        # same driver-side stager — deterministic regardless of
        # multi-file arrival order (the reference only tails one file,
        # where its 0-based numbering and this coincide; a GLOBAL
        # number over an unordered multi-file stream would not be
        # well-defined)
        staged = _stage_growing_dir(path, sep_b=sep_b)
        return (spark.readStream
                .schema("number long, text string").json(staged)
                .select("number", "text"))
    reader = spark.read
    if sep is not None and sep != "\n":
        # custom separator → the text source's lineSep option: still a
        # SPLITTABLE scan (vs. wholetext, which materializes the whole
        # file as one row and breaks on multi-GB inputs)
        reader = reader.option("lineSep", sep)
    from pyspark.sql.window import Window
    df = reader.text(path)
    if "://" in path or not os.path.isfile(path):
        # MULTI-file input (dir/glob/remote): numbers are PER FILE
        # 0-based, matching the tail path and the reference's
        # per-file numbering (impl.go) — the old global sequence
        # followed Spark's size-descending split packing, i.e.
        # effectively arbitrary file order (r8 review). One shuffle
        # keyed on the file name; the single-local-file fast path
        # below stays the zero-shuffle broadcast decomposition.
        w_f = Window.partitionBy(F.input_file_name()).orderBy(
            F.monotonically_increasing_id())
        return df.select(
            (F.row_number().over(w_f) - 1).cast("long").alias("number"),
            F.col("value").alias("text"))
    # per-partition count + broadcast offset merge — the distributed
    # form of a global sequential number, with every stage JVM-side.
    # The scan subtree evaluates twice (counts + final join); a text
    # FileScan plans its splits deterministically, so both passes see
    # identical (partition, row) positions.
    d = df.select(F.monotonically_increasing_id().alias("_mid"),
                  F.col("value").alias("text"))
    d = d.withColumn("_lpid", F.shiftrightunsigned("_mid", 33))
    cnt = d.groupBy("_lpid").agg(F.count(F.lit(1)).alias("_pc"))
    w = (Window.orderBy("_lpid")
         .rowsBetween(Window.unboundedPreceding, -1))
    # #partitions rows — the only single-partition work
    prior = cnt.select(
        "_lpid",
        F.coalesce(F.sum("_pc").over(w), F.lit(0)).alias("_prior"))
    in_part = F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1))
    return (d.join(F.broadcast(prior), "_lpid")
            .select((F.col("_prior") + in_part).cast("long")
                    .alias("number"), "text"))


def read_parquet(spark: SparkSession, path: str, tail: bool = False,
                 **extra: object) -> DataFrame:
    """Parquet scan; reader options pass through (``mergeSchema=true``
    unions the footers of files written under an evolving schema —
    added columns read NULL for old files)."""
    if tail:
        return _stream_reader(spark, path, "parquet",
                              spark.read.parquet(path).schema, **extra)
    reader = spark.read
    for k, v in extra.items():
        reader = reader.option(k, str(v))
    return reader.parquet(path)


def read_orc(spark: SparkSession, path: str, tail: bool = False,
             **extra: object) -> DataFrame:
    """ORC scan (beyond the reference's format list — Spark bundles
    the reader, so the columnar-format surface matches parquet:
    pushdown, pruning, streaming-tail)."""
    if tail:
        return _stream_reader(spark, path, "orc",
                              spark.read.orc(path).schema, **extra)
    reader = spark.read
    for k, v in extra.items():  # batch honors extras like parquet's
        reader = reader.option(k, str(v))
    return reader.orc(path)


FILE_HANDLERS = {
    "csv": read_csv,
    "tsv": read_tsv,
    "json": read_json,
    "lines": read_lines,
    "parquet": read_parquet,
    "orc": read_orc,
}


def read_stdin(spark: SparkSession, fmt: str, **opts: object) -> DataFrame:
    """stdin.<ext> — the reference buffers stdin to a temp file
    (execution/files/files.go:106-127); same here, then the normal
    reader takes over. The format is validated BEFORE consuming
    stdin (a KeyError after draining the pipe was the old failure —
    r8 review), and the temp copy is unlinked at process exit (the
    lazy DataFrame may read it any time before that)."""
    import atexit
    if fmt not in FILE_HANDLERS:
        raise ValueError(f"unsupported file extension: 'stdin.{fmt}'")
    data = sys.stdin.buffer.read()
    f = tempfile.NamedTemporaryFile(prefix="octosql_stdin_",
                                    suffix=f".{fmt}", delete=False)
    f.write(data)
    f.close()
    atexit.register(lambda p=f.name: os.path.exists(p) and os.unlink(p))
    return FILE_HANDLERS[fmt](spark, f.name, **opts)  # type: ignore[operator]


def read_file(spark: SparkSession, path: str, **opts: object) -> DataFrame:
    """Extension-dispatched read (``people.csv`` → CSV handler …)."""
    if path.startswith("stdin."):
        return read_stdin(spark, path.split(".", 1)[1], **opts)
    if "://" not in path:
        # Spark resolves relative paths against its own start cwd, not
        # the caller's current cwd — absolutize like the reference's
        # OpenLocalFile does (execution/files/files.go).
        path = os.path.abspath(path)
    ext = os.path.splitext(path)[1].lstrip(".").lower()
    if ext not in FILE_HANDLERS:
        raise ValueError(f"unsupported file extension: {path!r}")
    return FILE_HANDLERS[ext](spark, path, **opts)  # type: ignore[operator]
