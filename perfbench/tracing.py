"""Span tracing for the traced benchmark run.

Spans are recorded from outside the engine: the public functions of the
traced modules are swapped, in every ``inputosm_spark`` module that
holds a reference to them, for a wrapper that opens a span. Each span
sets the Spark job group to its own id, so every job a call launches is
attributed to the innermost open span. Spans stay in memory; `harvest`
joins them with Spark's status stores once the traced pass is over.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import importlib
import pydoc
import re
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

#: Modules whose public functions get a span each: the layers reported.
TRACED_MODULES = (
    "inputosm_spark.operators.spatial",
    "inputosm_spark.operators.skew",
    "inputosm_spark.operators.graph",
    "inputosm_spark.operators.dedup",
    "inputosm_spark.operators.similarity",
    "inputosm_spark.operators.textstats",
    "inputosm_spark.sources.pbf",
    "inputosm_spark.sources.pbf_encode",
    "inputosm_spark.sources.registry",
)


def short_module(name: str) -> str:
    return name.removeprefix("inputosm_spark.")


@dataclass
class Span:
    sid: int
    name: str
    module: str
    inv: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""
    jobs: list[int] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    return {s.sid: s.dur - covered(kids[s.sid], s.start, s.end) for s in spans}


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """In-memory span recorder that routes Spark jobs to the open span."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    def open(self, name: str, module: str, inv: str = "") -> Span:
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, module, inv or (parent.inv if parent else ""),
                 parent.sid if parent else None, time.time())
        s.group = f"perfbench-{s.sid}"
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(s.group, name)
        return s

    def close(self, s: Span) -> None:
        s.end = time.time()
        popped = self._stack.pop()
        if popped is not s:
            raise RuntimeError(f"span {s.name} closed out of order")
        if self.sc is not None:
            if self._stack:
                self.sc.setJobGroup(self._stack[-1].group, self._stack[-1].name)
            else:
                self.sc._jsc.clearJobGroup()

    @contextlib.contextmanager
    def span(self, name: str, module: str, inv: str = ""):
        s = self.open(name, module, inv)
        try:
            yield s
        finally:
            self.close(s)

    # -- patching -------------------------------------------------------
    def install(self, modules=TRACED_MODULES) -> int:
        """Wrap each public function of `modules` wherever it is bound."""
        wrappers: dict[int, _Traced] = {}
        for mod_name in modules:
            mod = importlib.import_module(mod_name)
            for name, obj in list(vars(mod).items()):
                if (inspect.isfunction(obj) and not name.startswith("_")
                        and obj.__module__ == mod_name):
                    wrappers[id(obj)] = _Traced(self, obj, short_module(mod_name))
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith("inputosm_spark"):
                continue
            for name, obj in list(vars(mod).items()):
                w = wrappers.get(id(obj))
                if w is not None and w.fn is obj:
                    setattr(mod, name, w)
                    self._patched.append((mod, name, obj))
        return len(wrappers)

    def uninstall(self) -> None:
        for mod, name, obj in reversed(self._patched):
            setattr(mod, name, obj)
        self._patched.clear()


class _Traced:
    """Callable stand-in for an engine function that records a span.

    Pickles as the original function (resolved by import path), so a
    kernel closure that captured it runs the untraced function on the
    Python workers.
    """

    def __init__(self, tracer: Tracer, fn, module: str):
        functools.update_wrapper(self, fn)
        self.fn, self.tracer, self.module = fn, tracer, module

    def __call__(self, *args, **kwargs):
        s = self.tracer.open(self.fn.__name__, self.module)
        try:
            return self.fn(*args, **kwargs)
        finally:
            self.tracer.close(s)

    def __reduce__(self):
        return pydoc.locate, (f"{self.fn.__module__}.{self.fn.__qualname__}",)


# -- harvesting Spark's status stores ------------------------------------

_UNIT = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
         "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_NUM = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float:
    """SQL UI metric string -> number (bytes, seconds or a count).

    Aggregated metrics read ``total (min, med, max ...)\\n<total> (...)``;
    the total is the first value on the last line.
    """
    if not text:
        return 0.0
    m = _NUM.match(text.strip().splitlines()[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2), 1.0)


PY_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.start_s",
    "time to initialize Python workers": "python.init_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}
SCAN_METRICS = {
    "scan time": "scan.s",
    "number of output rows": "scan.rows",
    "size of files read": "scan.bytes",
}
#: Engine<->Python boundary operators (ArrowEvalPython, MapInPandas,
#: FlatMap(Co)GroupsInPandas, MapInArrow, ...).
_PY_NODE = re.compile(r"Python|Pandas|Arrow")
STAGE_FIELDS = {
    "executorRunTime": ("spark.exec_run_s", 1e-3),
    "executorCpuTime": ("spark.exec_cpu_s", 1e-9),
    "jvmGcTime": ("spark.gc_s", 1e-3),
    "shuffleWriteBytes": ("spark.shuffle_write_bytes", 1),
    "shuffleReadBytes": ("spark.shuffle_read_bytes", 1),
    "shuffleFetchWaitTime": ("spark.shuffle_fetch_wait_s", 1e-3),
    "memoryBytesSpilled": ("spark.spill_bytes", 1),
    "diskBytesSpilled": ("spark.spill_bytes", 1),
}


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1e3 if opt.isDefined() else None


def harvest(spark, spans: list[Span]) -> dict:
    """Attach job ids to spans and read job, stage and operator numbers.

    Returns ``{"jobs_total", "jobs": {id: {...}}, "stages": {id: {...}},
    "operators": [{"jobs": [...], metric: value}]}``. Call after the
    traced work finished; it waits for the listener bus to drain first.
    """
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = jsc.statusStore()
    jobs, stages = {}, {}
    for s in spans:
        s.jobs = sorted(tracker.getJobIdsForGroup(s.group))
        for jid in s.jobs:
            jd = store.job(jid)
            info = tracker.getJobInfo(jid)
            jobs[jid] = {"span": s.sid, "start": _opt_ms(jd.submissionTime()),
                         "end": _opt_ms(jd.completionTime()),
                         "stages": list(info.stageIds) if info else []}
            for sid in jobs[jid]["stages"]:
                if sid in stages:
                    continue
                st = store.lastStageAttempt(sid)
                status = st.status().toString()
                if status not in ("COMPLETE", "FAILED", "ACTIVE"):
                    continue
                row = {"job": jid, "spark.tasks": st.numCompleteTasks() + st.numFailedTasks(),
                       "failed_tasks": st.numFailedTasks()}
                for fld, (key, scale) in STAGE_FIELDS.items():
                    row[key] = row.get(key, 0) + getattr(st, fld)() * scale
                stages[sid] = row
    ops = []
    sql = spark._jsparkSession.sharedState().statusStore()
    it = sql.executionsList().iterator()
    while it.hasNext():
        ex = it.next()
        eid = ex.executionId()
        ex_jobs = [int(j) for j in ex.jobs().keySet().mkString(",").split(",") if j]
        values = sql.executionMetrics(eid)
        row = {"jobs": ex_jobs}
        nodes = sql.planGraph(eid).allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            name = node.name()
            if name.startswith("Scan "):
                wanted = SCAN_METRICS
            elif _PY_NODE.search(name):
                wanted = PY_METRICS
            else:
                continue
            metrics = node.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                key = wanted.get(m.name())
                if key is None:
                    continue
                v = values.get(m.accumulatorId())
                row[key] = row.get(key, 0.0) + parse_metric(v.get() if v.isDefined() else None)
        ops.append(row)
    return {"jobs_total": store.jobsList(None).size(), "jobs": jobs, "stages": stages,
            "operators": ops}
