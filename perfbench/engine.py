"""One measured run: a fresh process that starts a session and runs
passes over one workload's query list through the engine's public
entry points.

Started by ``run.py`` with its configuration as one JSON argument and
the workload's input files as working directory; prints one JSON
record as its last line. A pass runs every query of the workload once.
Pass 0 is the cold pass, the next ``warmup`` passes are discarded, and
the ``timed`` passes after them are measured. The pass counts are
fixed: only a run that has measured for twice ``seconds`` (a host far
slower than usual) skips the rest of its warm-up and stops after
``min_timed`` timed passes. In a traced run each
timed pass is followed by a traced one, so the tracing overhead is
measured within the run.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import statistics
import sys
import time

_T0 = time.perf_counter()

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return uptime - start_ticks / _CLK_TCK


def _proc_stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds of ``root_pid`` and its descendants. Children that
    exited and were reaped are in their parent's cutime/cstime."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _proc_stat(int(entry))
            if st is not None:
                stats[int(entry)] = st
                children.setdefault(int(st[1]), []).append(int(entry))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        st = stats.get(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
        todo += children.get(pid, [])
    return total / _CLK_TCK


def jit_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the JVM's JIT compiler threads. The compiler
    threads live as long as the JVM (``run.py`` turns off their
    dynamic start and stop), so the sum over the live threads is
    their whole CPU time."""
    ticks = 0
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        name = raw[raw.index("(") + 1:raw.rindex(")")]
        if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
            st = raw.rsplit(")", 1)[1].split()
            ticks += int(st[11]) + int(st[12])  # utime stime
    return ticks / _CLK_TCK


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_pct(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    return 100.0 * delta[7] / max(1, sum(delta))


class CliFiles:
    """OctoSQL-dialect queries through ``cli.main`` with stdout captured."""

    def __init__(self, spark, cfg):
        from perfbench.inputs import cli_queries

        from octosql_spark import cli

        self._cli = cli  # cli.main looked up per call: the tracer patches it
        self.queries = cli_queries(cfg["seed"])
        self.names = list(self.queries)
        self.registry_names: list[str] = []
        self.persisted = 0

    def run(self, name):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = self._cli.main([self.queries[name][0]])
        if rc != 0:
            raise RuntimeError(f"{name}: cli exit code {rc}")
        return buf.getvalue()

    def check(self, outputs) -> dict[int, list[str]]:
        from perfbench.checks import check_cli
        from perfbench.inputs import expected_cli

        expected = expected_cli(self.queries, os.getcwd())
        return {i: check_cli(text, expected[name], self.queries[name][2])
                for i, (name, text) in enumerate(outputs)}


class Registry:
    """Registry DataFrame builders, ``.collect()``ed; the session's
    caches are released after each, as the correctness checker does."""

    def __init__(self, spark, cfg):
        from octosql_spark import session, workloads

        self._spark, self._session, self._registry = spark, session, workloads.REGISTRY
        self.sf_dir = cfg["sf_dir"]
        self.names = list(cfg["queries"])
        self.registry_names = self.names
        self.persisted = 0

    def run(self, name):
        df = self._registry[name].build(self._spark, self.sf_dir)
        rows = df.collect()
        self.persisted += self._session.cached_rdd_count(self._spark)
        self._session.release_cached(self._spark)
        return df.columns, rows

    def check(self, outputs) -> dict[int, list[str]]:
        from perfbench.checks import RegistryOracle

        oracle = RegistryOracle(self.sf_dir)
        try:
            expected = {name: oracle.expected(name) for name in self.names}
            return {i: oracle.check(name, cols, rows, expected[name])
                    for i, (name, (cols, rows)) in enumerate(outputs)}
        finally:
            oracle.close()


def main(cfg: dict) -> dict:
    age_at_main = _process_age_s() - (time.perf_counter() - _T0)
    t0 = time.perf_counter()
    from octosql_spark import session
    if cfg["workload"] == "cli_files":
        import octosql_spark.cli  # noqa: F401
        import octosql_spark.sinks  # noqa: F401
        import octosql_spark.sql  # noqa: F401
    else:
        import octosql_spark.workloads  # noqa: F401
    t1 = time.perf_counter()
    spark = session.get_spark("perfbench", extra_conf={"spark.ui.showConsoleProgress": "false"})
    t2 = time.perf_counter()
    spark.range(1).count()
    t3 = time.perf_counter()
    setup = {"setup_s": age_at_main + (t3 - t0), "session.import_s": t1 - t0,
             "session.get_spark_s": t2 - t1, "session.first_job_s": t3 - t2}

    sc = spark.sparkContext
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    runner = (CliFiles if cfg["workload"] == "cli_files" else Registry)(spark, cfg)
    from perfbench.tracing import (Tracer, jobs_in_group, layer_metrics, stage_metrics,
                                   wait_for_listeners)
    tracer = Tracer(spark, runner.registry_names) if cfg["trace"] else None

    outputs: list[tuple[str, object]] = []
    passes: list[dict] = []

    def run_pass(traced: bool) -> dict:
        n = len(passes)
        groups = {name: f"perfbench-{n}-{name}" for name in runner.names}
        runner.persisted = 0
        if traced:
            tracer.install()
        stat_before = cpu_times()
        py0, jvm0, jit0 = time.process_time(), tree_cpu_s(jvm_pid), jit_cpu_s(jvm_pid)
        w0 = time.perf_counter()
        per_query = {}
        try:
            for name in runner.names:
                sc.setJobGroup(groups[name], name)
                q0 = time.perf_counter()
                outputs.append((name, runner.run(name)))
                per_query[name] = time.perf_counter() - q0
        finally:
            wall = time.perf_counter() - w0
            if traced:
                tracer.uninstall()
        py_cpu, jvm_cpu = time.process_time() - py0, tree_cpu_s(jvm_pid) - jvm0
        jit_cpu = jit_cpu_s(jvm_pid) - jit0
        steal = steal_pct(stat_before, cpu_times())
        wait_for_listeners(spark)
        jobs = {name: jobs_in_group(spark, g) for name, g in groups.items()}
        p = {"wall_s": wall, "py_cpu_s": py_cpu, "jvm_cpu_s": jvm_cpu, "jit_cpu_s": jit_cpu,
             "work_cpu_s": py_cpu + jvm_cpu - jit_cpu, "steal_pct": steal,
             "jobs": sum(len(j) for j in jobs.values()), "traced": traced,
             "query_s": per_query, "query_jobs": {k: len(v) for k, v in jobs.items()},
             "persisted": runner.persisted}
        if traced:
            p["layers"] = layer_metrics(*tracer.take(), wall)
            p["layers"].update(stage_metrics(spark, [j for v in jobs.values() for j in v]))
        passes.append(p)
        return p

    stat0, m0 = cpu_times(), time.perf_counter()

    def over_time() -> bool:
        return time.perf_counter() - m0 >= 2 * cfg["seconds"]

    run_pass(False)
    # Fixed pass counts keep every run at the same point of the JIT
    # warm-up, also when steal slows a run down: a run cut short would
    # time earlier, slower passes. Only a run that is far over its
    # length skips the rest of its warm-up and stops after min_timed
    # passes, to stay within the run's time limit.
    for _ in range(cfg["warmup"]):
        if over_time():
            break
        run_pass(False)
    warmup = len(passes) - 1
    timed: list[dict] = []
    per_step = 2 if tracer else 1
    while len(timed) < cfg["timed"] * per_step:
        if len(timed) >= cfg["min_timed"] * per_step and over_time():
            break
        timed.append(run_pass(False))
        if tracer is not None:
            timed.append(run_pass(True))
    window_s = time.perf_counter() - m0
    steal = steal_pct(stat0, cpu_times())
    c0 = time.perf_counter()
    problems = runner.check(outputs)
    check_s = time.perf_counter() - c0
    failed = [outputs[i][0] for i, p in problems.items() if p]
    first_problem: dict[str, list[str]] = {}
    for i, p in sorted(problems.items()):
        if p:
            first_problem.setdefault(outputs[i][0], p)

    plain = [p for p in timed if not p["traced"]]
    record = {
        "workload": cfg["workload"], "seed": cfg["seed"], "nproc": cfg["nproc"],
        "cpu_model": cfg["cpu_model"], "warmup_passes": warmup,
        "timed_passes": len(plain), "traced_passes": len(timed) - len(plain),
        "host.steal_pct": steal, "attempted": len(outputs), "failed": len(failed),
        "failed_share": len(failed) / len(outputs), "failed_queries": sorted(set(failed)),
        "problems": first_problem, "jobs_per_pass": [p["jobs"] for p in passes],
        "pass_wall_s": [round(p["wall_s"], 4) for p in passes],
        "pass_cpu_s": [round(p["work_cpu_s"], 3) for p in passes],
        "pass_jit_cpu_s": [round(p["jit_cpu_s"], 3) for p in passes],
        "pass_steal_pct": [round(p["steal_pct"], 1) for p in passes],
        "window_s": window_s, "check_s": check_s,
    }
    med = statistics.median
    record["warm_pass_s"] = med(p["wall_s"] for p in plain)
    if not cfg["trace"]:
        record["metrics"] = {
            "setup_s": setup["setup_s"],
            "warm_cpu_s": med(p["work_cpu_s"] for p in plain),
        }
    else:
        traced = [p for p in timed if p["traced"]]
        layers = {k: med(p["layers"][k] for p in traced) for k in traced[0]["layers"]}
        layers.update({k: v for k, v in setup.items() if k != "setup_s"})
        layers["cold_pass_s"] = passes[0]["wall_s"]
        layers["warm_pass_s"] = record["warm_pass_s"]
        layers["spark.jobs"] = med(p["jobs"] for p in traced)
        layers["storage.persisted_after"] = med(p["persisted"] for p in traced)
        for op in cfg["datapipe_ops"]:  # 0 on a workload without the operator
            layers[f"datapipe.{op}_s"] = med(p["query_s"].get(op, 0.0) for p in traced)
            layers[f"datapipe.{op}_jobs"] = med(p["query_jobs"].get(op, 0) for p in traced)
        layers["host.steal_pct"] = steal
        layers["jvm.cpu_s"] = med(p["jvm_cpu_s"] - p["jit_cpu_s"] for p in traced)
        layers["jvm.jit_cpu_s"] = med(p["jit_cpu_s"] for p in traced)
        layers["py.cpu_s"] = med(p["py_cpu_s"] for p in traced)
        layers["trace.overhead_pct"] = 100.0 * (
            med(p["wall_s"] for p in traced) / med(p["wall_s"] for p in plain) - 1)
        record["metrics"] = layers

    spark.stop()
    gateway = sc._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    return record


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    result = main(json.loads(sys.argv[1]))
    print(json.dumps(result), flush=True)
