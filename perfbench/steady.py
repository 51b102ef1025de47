#!/usr/bin/env python3
"""Repeat the benchmark and report each metric's run-to-run spread.

    python3 perfbench/steady.py --runs 10 --out perfbench/evidence/set1.json

Runs ``run.py`` once per (workload, seed), cycling through the workloads
so that drift of the machine over the session lands on all of them, and
records every run's metrics, wall time, load average and CPU steal
share. The spread of a metric is (Q3 - Q1) / median over its runs, with
the quartiles of ``statistics.quantiles(values, n=4)``; it is compared
with the metric's bound from BENCHMARK.json. With ``--trace 1`` the
per-layer metrics of each run are recorded instead; given ``--untraced``
(an earlier output of this script), the tracing overhead per workload is
the median traced wall (trace.wall_s) minus the median untraced wall_s.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    elapsed = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n"
                           f"{proc.stderr[-2000:]}")
    info = next(json.loads(ln.split(" ", 1)[1]) for ln in lines
                if ln.startswith("perfbench-info "))
    return {"workload": workload, "seed": seed, "elapsed_s": elapsed,
            "result": json.loads(lines[-1]), "info": info}


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None, "n": len(values)}


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--out", type=Path)
    ap.add_argument("--untraced", type=Path)
    args = ap.parse_args()

    runs = []
    for i in range(args.runs):
        for w in args.workloads:
            r = one_run(w, args.seed0 + i, bench["run_seconds"], args.trace)
            runs.append(r)
            print(f"{w:8s} seed={r['seed']} elapsed={r['elapsed_s']:.1f}s "
                  f"load={r['info']['loadavg_start'][0]:.2f} "
                  f"steal={r['info']['cpu_steal_share']:.3f} correct={r['result']['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in r["result"]["metrics"].items()),
                  flush=True)
    summary = {}
    if args.runs >= 2:
        bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
        for w in args.workloads:
            mine = [r for r in runs if r["workload"] == w]
            summary[w] = {}
            for k in mine[0]["result"]["metrics"]:
                s = spread([r["result"]["metrics"][k]["value"] for r in mine])
                if k in bounds:
                    s["bound"] = bounds[k]
                    s["within_third_of_bound"] = s["spread"] is not None and \
                        s["spread"] < bounds[k] / 3
                summary[w][k] = s
                if args.trace == 0:
                    print(f"{w:8s} {k:12s} median={s['median']:.4g} spread={s['spread']:.4f} "
                          f"bound={s.get('bound')}")
    if args.trace and args.untraced:
        base = json.loads(args.untraced.read_text())["summary"]
        for w in summary:
            summary[w]["trace.overhead_s"] = (summary[w]["trace.wall_s"]["median"]
                                              - base[w]["wall_s"]["median"])
            print(f"{w:8s} tracing overhead {summary[w]['trace.overhead_s']:+.3f} s")
    doc = {"argv": sys.argv[1:], "run_seconds": bench["run_seconds"],
           "total_elapsed_s": sum(r["elapsed_s"] for r in runs),
           "summary": summary, "runs": runs}
    if args.out:
        args.out.parent.mkdir(parents=True, exist_ok=True)
        args.out.write_text(json.dumps(doc, indent=1) + "\n")
    return 0 if all(r["result"]["correct"] for r in runs) else 1


if __name__ == "__main__":
    raise SystemExit(main())
