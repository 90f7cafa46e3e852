"""Run the benchmark several times per workload and summarise.

    python3 perfbench/summary.py --runs 10 [--first-seed 1] [--trace 0] [--out FILE]

Runs ``run.py`` once per (workload, seed), the workloads interleaved,
with the run length from ``BENCHMARK.json``. Prints, per workload and
metric, the median, the quartiles, the spread (quartile distance over
the median, as a share), the sample count and the unit, then the
failed share of result checks with the queries that failed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """median, first and third quartile, and their distance / median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def main(argv: list[str] | None = None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default=None, help="also write every run record here (JSON)")
    args = ap.parse_args(argv)
    workloads = [w["name"] for w in bench["workloads"]]

    results: dict[str, list[dict]] = {w: [] for w in workloads}
    for i in range(args.runs):
        for w in workloads:
            seed = args.first_seed + i
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                   "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                   "--trace", str(args.trace)]
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                  stderr=subprocess.DEVNULL, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or len(lines) < 2:
                print(f"{w} seed {seed}: exit code {proc.returncode}", flush=True)
                continue
            run, result = json.loads(lines[-2])["run"], json.loads(lines[-1])
            results[w].append({"run": run, "result": result})
            print(f"{w} seed {seed}: " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()
                if not args.trace) + f" steal={run['host.steal_pct']:.1f}%", flush=True)

    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for w, runs in results.items():
        if len(runs) < 2:
            print(f"\n{w}: {len(runs)} runs, no summary")
            continue
        print(f"\n{w} ({len(runs)} runs)")
        print(f"  {'metric':28} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} "
              f"{'bound':>6} {'n':>3} unit")
        for name in runs[0]["result"]["metrics"]:
            vals = [r["result"]["metrics"][name]["value"] for r in runs]
            med, q1, q3, sp = spread(vals)
            bound = bounds.get(name)
            print(f"  {name:28} {med:12.4f} {q1:12.4f} {q3:12.4f} {sp:8.3f} "
                  f"{bound if bound is not None else '':>6} {len(vals):3d} "
                  f"{runs[0]['result']['metrics'][name]['unit']}")
        attempted = sum(r["result"]["attempted"] for r in runs)
        failed = sum(r["result"]["failed"] for r in runs)
        names = sorted({q for r in runs for q in r["run"]["failed_queries"]})
        print(f"  failed_share {failed}/{attempted} = {failed / attempted:.4f}"
              + (f" (failed: {', '.join(names)})" if names else ""))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(results, f, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
