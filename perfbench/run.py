"""Benchmark entry point.

    python3 perfbench/run.py --workload cli_files --seed 1 --seconds 20 --trace 0

Run from the repository root. Writes the workload's inputs under
``.perfbench_work/``, starts one fresh engine process (``engine.py``)
with Spark pinned to ``local[nproc]``, and prints a run record line and
then, as the last line, ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer metrics of a separate traced run. ``--smoke`` runs the
sf0.001 data with one pass after the cold one.

The testdata directory (TESTDATA.md) is read-only input; set
``PERFBENCH_TESTDATA`` to read it from elsewhere.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TESTDATA = os.environ.get("PERFBENCH_TESTDATA", "/root/testdata")
RUN_LIMIT_S = 170

# TPC-H shapes: the pricing headline, q6 as a scan floor and q18's
# semi-join; datapipe operators: BM25's scalar broadcast and the
# chunker's explode.
TPCH_QUERIES = ["pricing_summary", "tpch_q6_forecast_revenue", "tpch_q18_large_volume"]
DATAPIPE_OPS = ["text_bm25", "curate_chunk_documents"]

# workload -> scale, registry entries, warm-up and timed passes. The
# counts put the timed passes past the JIT warm-up slope: cli_files
# flattens after about six passes, registry_exec's shorter passes after
# about twelve. registry_exec times more passes: an occasional pass
# reads up to twice the CPU of its neighbours, and the median of twelve
# moves less for it.
WORKLOADS = {
    "cli_files": {"sf": "sf0.01", "queries": [], "warmup": 6, "timed": 6},
    "registry_exec": {"sf": "sf0.01", "queries": TPCH_QUERIES + DATAPIPE_OPS,
                      "warmup": 12, "timed": 12},
}
MIN_TIMED_PASSES = 3

END_TO_END = {"setup_s": "s", "warm_cpu_s": "s"}
PER_LAYER = {
    "cold_pass_s": "s", "warm_pass_s": "s",
    "session.import_s": "s", "session.get_spark_s": "s", "session.first_job_s": "s",
    "cli.main_s": "s", "sql.tokenize_s": "s", "sql.transpile_s": "s",
    "sql.run_query_s": "s", "sql.transpile_jobs": "count",
    "sources.read_file_s": "s", "sources.read_file_calls": "count",
    "sinks.write_s": "s", "sinks.render_s": "s", "sinks.rows_out": "count",
    "catalyst.parse_s": "s", "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "catalog.load_table_s": "s", "catalog.load_table_calls": "count",
    "workloads.build_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "exec.action_s": "s", "exec.task_s": "s", "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.input_bytes": "bytes",
    **{f"datapipe.{op}_{k}": u for op in DATAPIPE_OPS for k, u in (("s", "s"), ("jobs", "count"))},
    "storage.persisted_after": "count", "storage.release_s": "s",
    "host.steal_pct": "%", "jvm.cpu_s": "s", "jvm.jit_cpu_s": "s", "py.cpu_s": "s",
    "trace.overhead_pct": "%", "trace.attributed_pct": "%",
}


def _cpu_model() -> str:
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                return line.split(":", 1)[1].strip()
    return "unknown"


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
        return True
    except ProcessLookupError:
        return False


def _stop_group(pgid: int) -> None:
    """Stop what is left of the engine's process group (the JVM and
    its Python workers) and wait until it is gone."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.monotonic() + 10
        while _group_alive(pgid) and time.monotonic() < deadline:
            time.sleep(0.1)
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
    while _group_alive(pgid):
        time.sleep(0.1)


def run(args) -> dict | None:
    spec = WORKLOADS[args.workload]
    sf = "sf0.001" if args.smoke else spec["sf"]
    sf_dir = os.path.join(TESTDATA, sf)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    files_dir = os.path.join(work, "files")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    try:
        if args.workload == "cli_files":
            sys.path.insert(0, ROOT)
            from perfbench.inputs import write_cli_files
            write_cli_files(sf_dir, files_dir, args.seed)
        else:
            os.makedirs(files_dir)
        nproc = len(os.sched_getaffinity(0))
        cfg = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": bool(args.trace), "sf_dir": sf_dir, "queries": spec["queries"],
            "datapipe_ops": DATAPIPE_OPS,
            "warmup": 0 if args.smoke else spec["warmup"],
            "timed": 1 if args.smoke else spec["timed"],
            "min_timed": 1 if args.smoke else MIN_TIMED_PASSES,
            "nproc": nproc, "cpu_model": _cpu_model(),
        }
        env = dict(os.environ,
                   SPARK_GRAFT_CPUS=str(nproc),
                   SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
                   TMPDIR=os.path.join(work, "tmp"),
                   # every JVM of the run keeps its temp files in the run
                   # directory and writes no /tmp/hsperfdata_* file; the JIT
                   # compiler threads stay alive, so engine.py can read
                   # their CPU time and leave it out of warm_cpu_s
                   JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                                     "-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads",
                   PYTHONPATH=os.pathsep.join(
                       [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]))
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "engine.py"), json.dumps(cfg)],
            cwd=files_dir, env=env, stdout=subprocess.PIPE, text=True,
            start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            print("perfbench: run exceeded its time limit", file=sys.stderr)
            return None
        finally:
            _stop_group(proc.pid)
        if proc.returncode != 0:
            print(f"perfbench: engine exited with code {proc.returncode}", file=sys.stderr)
            return None
        return json.loads(out.strip().splitlines()[-1])
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)

    missing = [p for p in (os.path.join(ROOT, "octosql_spark", "__init__.py"),
                           os.path.join(ROOT, "tools", "check_correctness.py"),
                           os.path.join(TESTDATA, "sf0.01", "lineitem.parquet"))
               if not os.path.exists(p)]
    if missing:
        print(f"perfbench: missing {', '.join(missing)}; run from a checkout of "
              "the repository with the testdata present", file=sys.stderr)
        return 2

    record = run(args)
    if record is None:
        return 1
    units = PER_LAYER if args.trace else END_TO_END
    metrics = {name: {"value": record["metrics"][name], "unit": unit}
               for name, unit in units.items()}
    del record["metrics"]
    print(json.dumps({"run": record}))
    print(json.dumps({"correct": record["failed"] == 0, "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
