#!/usr/bin/env python3
"""Cold closed-loop benchmark of the engine's ``queries()`` callables.

    python3 perfbench/run.py --workload spatial --seed 1 --seconds 5 --trace 0

One client runs one query at a time on ``local[<cores>]``. A run is a
fresh driver process, and its timed pass is that process's first: a
fresh JVM and SparkContext, so no invocation can reuse a cache,
checkpoint, applicationId-keyed memo or warm JIT state left by an
earlier one, and each invocation must start with no persisted RDD and
no cached plan (``cold.py``). Each query's plan build and final action
(``toPandas()``) are timed; the collected result is then hashed, off the
clock, and compared with the expected-result store (``expected.py``).
The run times exactly one pass; ``--seconds`` is accepted for the
benchmark's command-line contract and does not change it. ``setup_s``
is the median of ``SETUP_RESTARTS`` context restarts made after the
pass. The seed permutes the query order; the inputs are the fixed tables
under ``data_dir``.

``--trace 1`` traces the timed pass instead (``tracing.py``) and reports
per-layer numbers; spans, per-query breakdown and stage numbers go to
``perfbench/_work/``.

The last stdout line is the result JSON; the line before it starts
with ``perfbench-info`` and carries the run's context (load average,
the share of CPU time stolen by other guests of the host, sample counts,
error rate, leak counts).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import statistics
import sys
import threading
import time
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "_work"
#: Fresh-SparkContext restarts (session, then Python workers with the
#: engine imported) after the timed pass; their median is setup_s. The
#: pass's own start, which also launches the JVM and runs the warm-up
#: query, is not one of them.
SETUP_RESTARTS = 2
PAGE = os.sysconf("SC_PAGE_SIZE")

E2E_UNITS = {"wall_s": "s", "setup_s": "s"}
#: Modules whose spans report self time and directly launched jobs.
LAYER_MODULES = (
    "queries_catalog", "operators.spatial", "operators.skew", "operators.graph",
    "operators.dedup", "operators.similarity", "operators.textstats",
    "sources.pbf", "sources.pbf_encode", "sources.registry",
)
LAYER_UNITS = {
    "build.s": "s", "build.jobs": "count", "action.s": "s", "action.jobs": "count",
    "driver.gap_s": "s",
    **{f"{m}.{k}": u for m in LAYER_MODULES for k, u in (("self_s", "s"), ("jobs", "count"))},
    "scan.s": "s", "scan.rows": "count", "scan.bytes": "bytes",
    "python.run_s": "s", "python.start_s": "s", "python.init_s": "s",
    "python.bytes_sent": "bytes", "python.bytes_returned": "bytes",
    "spark.stages": "count", "spark.tasks": "count",
    "spark.exec_run_s": "s", "spark.exec_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_fetch_wait_s": "s", "spark.spill_bytes": "bytes",
    "spark.failed_task_ratio": "ratio",
    "cache.rdds_left": "count", "cache.plans_left": "count",
    "session.s": "s", "session.worker_start_s": "s",
    "trace.wall_s": "s",
    "operators.self_s": "s", "sources.self_s": "s",
}
#: Per-layer metrics printed on the result line. A time that is exactly 0
#: whenever a workload leaves its layer unexercised (one module's self
#: time, Python-node times, GC and fetch wait) is summed into
#: operators.self_s / sources.self_s or kept to the artifact, next to
#: the counts that are printed for every module.
REPORTED = [k for k in LAYER_UNITS if LAYER_UNITS[k] != "s" or k in (
    "build.s", "action.s", "driver.gap_s", "queries_catalog.self_s", "operators.self_s",
    "sources.self_s", "scan.s", "spark.exec_run_s", "spark.exec_cpu_s", "session.s",
    "session.worker_start_s", "trace.wall_s")]


def tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of `root_pid` and all of its descendants."""
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(d))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except (OSError, IndexError, ValueError):
            pass
        todo.extend(children[pid])
    return total


class PeakRss:
    """Background sampler of the process tree's peak resident set."""

    def __init__(self, period: float = 0.25):
        self.period, self.peak = period, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
        return False


def cpu_ticks() -> list[int]:
    """The machine-wide `cpu` line of /proc/stat: ticks per CPU state."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between.

    Steal is the eighth field of the `cpu` line. A noisy host shows here
    while the load average, which counts only this machine's tasks, does
    not move.
    """
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def prepare_env() -> dict[str, str]:
    """Keep every file Spark, the JVM and Python write inside the checkout."""
    for sub in ("tmp", "spark-local"):
        shutil.rmtree(WORK / sub, ignore_errors=True)
        (WORK / sub).mkdir(parents=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    # spark-submit's launcher JVM would otherwise write under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    return {
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}",
    }


def run_pass(conf, cpus, order, fns, sf_dir, expected, tracer_cls=None):
    """One cold pass over `order` in a fresh SparkContext.

    Each result is hashed (untimed) and compared with `expected`. A
    non-empty pass first runs the warm-up query, untimed. With
    `tracer_cls`, spans are recorded and harvested before the context
    stops.
    """
    from inputosm_spark.oracle_compare import frame_hash
    from perfbench import cold

    spark, session_s = cold.start_session(cpus, conf)
    tracer = tracer_cls(spark.sparkContext) if tracer_cls else None
    span = tracer.span if tracer else (lambda *a, **k: contextlib.nullcontext())
    try:
        if tracer:
            tracer.install()
        with span("start_workers", "session", "session"):
            worker_s = cold.start_workers(spark, cpus)
            if order:
                cold.warm_up(spark, cpus, os.path.join(sf_dir, "nation.parquet"))
        rec = {"session_s": session_s, "worker_s": worker_s,
               "setup_s": session_s + worker_s, "queries": {}}
        for q in order:
            cold.assert_cold(spark)
            r = rec["queries"][q] = {"ok": False}
            try:
                t0 = time.perf_counter()
                with span(f"{q}.build", "queries_catalog", q):
                    df = fns[q](spark, sf_dir)
                t1 = time.perf_counter()
                with span(f"{q}.action", "action", q):
                    out = df.toPandas()
                t2 = time.perf_counter()
                r.update(build_s=t1 - t0, action_s=t2 - t1, wall_s=t2 - t0)
                got, e = frame_hash(out), expected[q]
                r["ok"] = list(got) == [e["rows"], e["cols"], e["hash"]]
                if not r["ok"]:
                    r["error"] = (f"result {got[0]} rows {got[2][:8]} != oracle "
                                  f"{e['rows']} rows {e['hash'][:8]}")
            except Exception as exc:  # a failing query is counted, not fatal
                r["error"] = f"{type(exc).__name__}: {exc}"[:400]
            r["rdds_left"], r["plans_left"] = cold.release(spark)
        rec["wall_s"] = sum(r.get("wall_s", 0.0) for r in rec["queries"].values())
        if tracer:
            from perfbench import tracing

            rec["harvest"] = tracing.harvest(spark, tracer.spans)
            rec["spans"] = tracer.spans
        return rec
    finally:
        if tracer:
            tracer.uninstall()
        spark.stop()


#: Top-level span module -> the layer its time and jobs belong to.
KIND = {"queries_catalog": "build", "action": "action"}


def layer_metrics(rec: dict) -> tuple[dict, dict]:
    """Per-layer metrics and the per-query breakdown of a traced pass.

    Work under the session warm-up span is left out; it is reported as
    session.* only.
    """
    from perfbench.tracing import covered, self_times

    spans, h = rec["spans"], rec["harvest"]
    by_sid = {s.sid: s for s in spans}

    def top(s):
        while s.parent is not None:
            s = by_sid[s.parent]
        return s

    def query_of_job(jid):
        t = top(by_sid[h["jobs"][jid]["span"]])
        return per_q[t.inv] if t.module in KIND else None

    per_q = {q: defaultdict(float) for q in rec["queries"]}
    selfs = self_times(spans)
    job_intervals = defaultdict(list)
    for s in spans:
        t = top(s)
        kind = KIND.get(t.module)
        if kind is None:
            continue
        q = per_q[t.inv]
        q[f"{kind}.jobs"] += len(s.jobs)
        if s.module in LAYER_MODULES:
            q[f"{s.module}.self_s"] += selfs[s.sid]
            q[f"{s.module}.jobs"] += len(s.jobs)
        job_intervals[t.sid] += [(h["jobs"][j]["start"], h["jobs"][j]["end"] or t.end)
                                 for j in s.jobs]
    for t in spans:
        kind = KIND.get(t.module)
        if t.parent is None and kind:
            q = per_q[t.inv]
            q[f"{kind}.s"] += t.dur
            q["driver.gap_s"] += t.dur - covered(job_intervals[t.sid], t.start, t.end)
    for st in h["stages"].values():
        q = query_of_job(st["job"])
        if q is not None:
            q["spark.stages"] += 1
            q["failed_tasks"] += st.pop("failed_tasks")
            for k, v in st.items():
                if k.startswith("spark."):
                    q[k] += v
    for op in h["operators"]:
        q = query_of_job(op["jobs"][0]) if op["jobs"] else None
        if q is not None:
            for k, v in op.items():
                if k in LAYER_UNITS:
                    q[k] += v
    for name, r in rec["queries"].items():
        per_q[name]["cache.rdds_left"] = r["rdds_left"]
        per_q[name]["cache.plans_left"] = r["plans_left"]
    m = {k: sum(q.get(k, 0.0) for q in per_q.values()) for k in LAYER_UNITS}
    for group in ("operators", "sources"):
        m[f"{group}.self_s"] = sum(v for k, v in m.items()
                                   if k.startswith(f"{group}.") and k.endswith(".self_s"))
    failed = sum(q.get("failed_tasks", 0.0) for q in per_q.values())
    m["spark.failed_task_ratio"] = failed / m["spark.tasks"] if m["spark.tasks"] else 0.0
    m["session.s"] = rec["session_s"]
    m["session.worker_start_s"] = rec["worker_s"]
    m["trace.wall_s"] = rec["wall_s"]
    return m, {name: dict(q) for name, q in per_q.items()}


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "inputosm_spark" / "__init__.py").is_file():
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    spec = json.loads((HERE / "workloads.json").read_text())
    if args.workload not in spec["workloads"]:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = spec["workloads"][args.workload]
    sf_dir = str(ROOT / spec["data_dir"])
    if not os.path.isdir(sf_dir):
        print(f"perfbench: missing input tables {sf_dir}", file=sys.stderr)
        return 2

    loadavg, ticks = os.getloadavg(), cpu_ticks()
    conf = {**prepare_env(), **wl["conf"]}
    sys.path.insert(0, str(ROOT))
    import duckdb
    import pyspark

    from inputosm_spark.queries_catalog import oracle_sql, queries
    from perfbench.cold import import_engine
    from perfbench.expected import expected_for
    from perfbench.tracing import Tracer

    import_engine()
    cpus = len(os.sched_getaffinity(0))
    names = list(wl["queries"])
    fns = queries()
    expected, recomputed = expected_for(names, oracle_sql(), sf_dir)
    order = names[:]
    random.Random(args.seed).shuffle(order)
    try:
        with PeakRss() as rss:
            p = run_pass(conf, cpus, order, fns, sf_dir, expected,
                         Tracer if args.trace else None)
        setups = [] if args.trace else [
            run_pass(conf, cpus, [], fns, sf_dir, expected)["setup_s"]
            for _ in range(SETUP_RESTARTS)]
    finally:
        shutdown_jvm()
        shutil.rmtree(WORK / "tmp", ignore_errors=True)
        shutil.rmtree(WORK / "spark-local", ignore_errors=True)

    steal = steal_share(ticks, cpu_ticks())
    invs = list(p["queries"].values())
    failed = sum(not r["ok"] for r in invs)
    ok = failed == 0
    info = {
        "workload": args.workload, "seed": args.seed, "loadavg_start": loadavg,
        "cpu_steal_share": steal,
        "nproc": cpus, "pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
        "sf": spec["data_dir"], "conf": wl["conf"],
        "query_samples": len(invs), "setup_samples": len(setups),
        "error_rate": failed / len(invs),
        "query_p50_s": statistics.median(r["wall_s"] for r in invs if "wall_s" in r),
        "peak_rss_mb": rss.peak / 2**20,
        "expected_recomputed": recomputed,
        "leaks": {q: [r["rdds_left"], r["plans_left"]]
                  for q, r in p["queries"].items() if r["rdds_left"] or r["plans_left"]},
        "errors": {q: r["error"] for q, r in p["queries"].items() if "error" in r},
    }
    artifact = {"info": info, "setup_s": setups,
                "pass": {k: v for k, v in p.items() if k not in ("spans", "harvest")}}
    if args.trace:
        m, per_q = layer_metrics(p)
        attributed = sum(len(s.jobs) for s in p["spans"])
        total = p["harvest"]["jobs_total"]
        info["jobs_attributed"], info["jobs_total"] = attributed, total
        ok = ok and attributed == total
        metrics = {k: {"value": m[k], "unit": LAYER_UNITS[k]} for k in REPORTED}
        artifact.update(per_query=per_q, metrics=m,
                        spans=[vars(s) for s in p["spans"]],
                        stages=p["harvest"]["stages"],
                        operators=p["harvest"]["operators"])
    else:
        e2e = {"wall_s": p["wall_s"], "setup_s": statistics.median(setups)}
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    out = WORK / f"{'trace' if args.trace else 'run'}-{args.workload}-seed{args.seed}.json"
    out.write_text(json.dumps(artifact, indent=1, default=str))
    info["artifact"] = str(out.relative_to(ROOT))
    print("perfbench-info " + json.dumps(info, default=str))
    print(json.dumps({"correct": ok, "attempted": len(invs), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
