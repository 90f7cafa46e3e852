"""Outside-in layer trace for the benchmark's traced passes.

``Tracer.install()`` wraps public entry points of each engine layer
with span recorders; ``uninstall()`` restores the originals, so the
untimed and untraced passes run the unmodified engine. Spans stay in
memory; ``layer_metrics`` folds one pass's spans into per-layer self
times (a span's duration minus the time its child spans cover).

Spark's own counters are read from outside: job groups through
``statusTracker()``, per-stage task metrics from the status store,
and Catalyst phase times from each collected DataFrame's
``QueryExecution.tracker()``.
"""

from __future__ import annotations

import functools
import time
from collections import Counter, defaultdict

_PHASES = {"parsing": "catalyst.parse_s", "analysis": "catalyst.analysis_s",
           "optimization": "catalyst.optimization_s",
           "planning": "catalyst.planning_s"}

# span name -> metric of its self time
SELF_TIME_METRICS = {
    "cli.main": "cli.main_s",
    "sql.tokenize": "sql.tokenize_s",
    "sql.transpile": "sql.transpile_s",
    "sql.run_query": "sql.run_query_s",
    "sources.read_file": "sources.read_file_s",
    "sinks.write": "sinks.render_s",
    "catalog.load_table": "catalog.load_table_s",
    "workloads.build": "workloads.build_s",
    "storage.release": "storage.release_s",
    "exec.action": "exec.action_s",
}


class Tracer:
    def __init__(self, spark, registry_names: list[str]):
        self.spark = spark
        self.spans: list[list] = []  # [name, start, end, parent index]
        self.counts: Counter = Counter()
        self._stack: list[int] = []
        self._saved: list[tuple] = []
        self._registry_names = registry_names

    # ------------------------------------------------------------ wrapping
    def _next_job_id(self) -> int:
        return self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId()

    def _wrap(self, fn, name, before=None, after=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            parent = tracer._stack[-1] if tracer._stack else None
            state = before(args) if before else None
            span = [name, time.perf_counter(), None, parent]
            tracer._stack.append(len(tracer.spans))
            tracer.spans.append(span)
            try:
                out = fn(*args, **kwargs)
            finally:
                span[2] = time.perf_counter()
                tracer._stack.pop()
            if after:
                after(args, out, state, parent)
            return out
        return traced

    def _patch(self, owner, attr, name, before=None, after=None):
        fn = getattr(owner, attr)
        self._saved.append((owner, attr, fn))
        setattr(owner, attr, self._wrap(fn, name, before, after))

    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        import octosql_spark.catalog as catalog
        import octosql_spark.cli as cli
        import octosql_spark.session as session
        import octosql_spark.sinks as sinks
        import octosql_spark.sources as sources
        import octosql_spark.sql as sql
        import octosql_spark.sql.transpiler as transpiler
        import octosql_spark.workloads as workloads

        def count(key):
            def after(args, out, state, parent):
                self.counts[key] += 1
            return after

        def transpile_jobs(args, out, j0, parent):
            self.counts["sql.transpile_jobs"] += self._next_job_id() - j0

        def collected(args, rows, state, parent):
            phases = args[0]._jdf.queryExecution().tracker().phases()
            for phase, metric in _PHASES.items():
                summary = phases.get(phase)
                if summary.isDefined():
                    self.counts[metric] += summary.get().durationMs() / 1000
            if parent is not None and self.spans[parent][0] == "sinks.write":
                self.counts["sinks.rows_out"] += len(rows)

        self._patch(cli, "main", "cli.main")
        self._patch(transpiler, "tokenize", "sql.tokenize")
        self._patch(transpiler, "transpile", "sql.transpile",
                    before=lambda args: self._next_job_id(), after=transpile_jobs)
        self._patch(sql, "run_query", "sql.run_query")
        self._patch(sources, "read_file", "sources.read_file",
                    after=count("sources.read_file_calls"))
        self._patch(sinks, "write_table", "sinks.write")
        for owner in (catalog, workloads):  # workloads binds load_table by name
            self._patch(owner, "load_table", "catalog.load_table",
                        after=count("catalog.load_table_calls"))
        self._patch(session, "release_cached", "storage.release")
        for name in self._registry_names:
            self._patch(workloads.REGISTRY[name], "build", "workloads.build")
        self._patch(DataFrame, "collect", "exec.action", after=collected)

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, fn = self._saved.pop()
            setattr(owner, attr, fn)

    # ------------------------------------------------------------ reading
    def take(self) -> tuple[list[list], Counter]:
        """Spans and counts recorded since the last take."""
        spans, counts = self.spans, self.counts
        self.spans, self.counts = [], Counter()
        return spans, counts


def layer_metrics(spans: list[list], counts: Counter, pass_wall_s: float) -> dict[str, float]:
    """One traced pass's per-layer numbers."""
    covered: dict[int, float] = defaultdict(float)
    for name, start, end, parent in spans:
        if parent is not None:
            covered[parent] += end - start
    out: dict[str, float] = {m: 0.0 for m in SELF_TIME_METRICS.values()}
    out["sinks.write_s"] = 0.0
    attributed = 0.0
    for i, (name, start, end, parent) in enumerate(spans):
        self_s = (end - start) - covered[i]
        out[SELF_TIME_METRICS[name]] += self_s
        attributed += self_s
        if name == "sinks.write":
            out["sinks.write_s"] += end - start
    for key in ("sql.transpile_jobs", "sources.read_file_calls", "sinks.rows_out",
                "catalog.load_table_calls", *_PHASES.values()):
        out[key] = float(counts.get(key, 0))
    out["trace.attributed_pct"] = 100.0 * attributed / pass_wall_s
    return out


def wait_for_listeners(spark) -> None:
    """Let the status store catch up with the events of finished jobs."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def jobs_in_group(spark, group: str) -> list[int]:
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def stage_metrics(spark, job_ids: list[int]) -> dict[str, float]:
    """Task, GC, shuffle and input totals over the completed stages of
    ``job_ids`` (skipped stages ran no tasks)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    stage_ids = set()
    for j in job_ids:
        ids = store.job(j).stageIds()
        stage_ids.update(ids.apply(i) for i in range(ids.size()))
    out = dict.fromkeys(("spark.stages", "spark.tasks", "exec.task_s", "exec.gc_s",
                         "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
                         "exec.input_bytes"), 0.0)
    for s in stage_ids:
        sd = store.lastStageAttempt(s)
        if sd.status().toString() != "COMPLETE":
            continue
        out["spark.stages"] += 1
        out["spark.tasks"] += sd.numCompleteTasks()
        out["exec.task_s"] += sd.executorRunTime() / 1000
        out["exec.gc_s"] += sd.jvmGcTime() / 1000
        out["exec.shuffle_read_bytes"] += sd.shuffleReadBytes()
        out["exec.shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["exec.input_bytes"] += sd.inputBytes()
    return out
