"""Tracing for the ``--trace 1`` run: spans around the program's public
functions, recorded from outside the program, and Spark's own counters per
operation.

:func:`install` replaces every public function of the traced modules with a
:class:`Traced` wrapper and rebinds names other already-imported
``postpy_spark`` modules took with ``from … import``.  It must run before
``registry.load_all()`` imports the query modules, so their own imports
bind the wrappers too.  A wrapper whose tracer is disabled is a plain call,
so one traced run can alternate traced and untraced passes and measure the
tracing overhead.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import re
import sys
import time
from contextlib import contextmanager

from perfbench import stats


class Tracer:
    """Spans of the current pass: dicts with ``id``, ``parent``, ``name``,
    ``start`` and ``end`` in epoch milliseconds (the clock Spark's status
    store uses).  Operations run one at a time, so one stack serves every
    thread: a streaming ``foreachBatch`` callback runs while the caller
    waits inside its own span."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def reset(self) -> None:
        self.spans = []
        self._stack = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.time() * 1000.0,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time() * 1000.0
            self._stack.pop()


class Traced:
    """Span-recording stand-in for one module-level function.

    Pickles as the original function (looked up by module and name), so a
    worker payload that references it ships exactly what it did before."""

    def __init__(self, tracer: Tracer, name: str, fn) -> None:
        functools.update_wrapper(self, fn)
        self._tracer = tracer
        self._name = name
        self._fn = fn

    def __call__(self, *args, **kwargs):
        if not self._tracer.enabled:
            return self._fn(*args, **kwargs)
        with self._tracer.span(self._name):
            return self._fn(*args, **kwargs)

    def __reduce__(self):
        return (getattr, (sys.modules[self._fn.__module__], self._fn.__name__))


#: module → layer name; every public function of the module is wrapped
TRACED_MODULES = {
    "postpy_spark.io": "io",
    "postpy_spark.etl": "etl",
    "postpy_spark.streaming": "streaming",
}


def _targets() -> dict[str, str]:
    out = dict(TRACED_MODULES)
    ops = importlib.import_module("postpy_spark.operators")
    for info in pkgutil.iter_modules(ops.__path__):
        out[f"postpy_spark.operators.{info.name}"] = f"operators.{info.name}"
    return out


def install(tracer: Tracer) -> list[str]:
    """Wrap the traced modules' public functions; returns the span names."""
    swapped: dict[int, Traced] = {}
    for modname, layer in _targets().items():
        mod = importlib.import_module(modname)
        for name, obj in list(vars(mod).items()):
            if name.startswith("_") or not inspect.isfunction(obj) or obj.__module__ != modname:
                continue
            w = Traced(tracer, f"{layer}.{name}", obj)
            setattr(mod, name, w)
            swapped[id(obj)] = w
    for modname, mod in list(sys.modules.items()):
        if not modname.startswith("postpy_spark") or mod is None:
            continue
        for name, obj in list(vars(mod).items()):
            w = swapped.get(id(obj))
            if w is not None and w._fn is obj:
                setattr(mod, name, w)
    return sorted(w._name for w in swapped.values())


# ---------------------------------------------------------------------------
# Spark counters
# ---------------------------------------------------------------------------

_SIZE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNIT = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
PYTHON_METRICS = ("data sent to Python workers", "data returned from Python workers")


def parse_size(text: str) -> float:
    """Bytes of a size metric as the SQL status store formats it: either
    ``"47.0 KiB"`` or a ``"total (min, med, max …)\\n47.0 KiB (…)"`` block,
    whose first figure is the total."""
    m = _SIZE.search(text)
    return float(m.group(1).replace(",", "")) * _UNIT[m.group(2)] if m else 0.0


def _ms(opt) -> float | None:
    return float(opt.get().getTime()) if opt.isDefined() else None


class SparkCounters:
    """Jobs, stages and SQL executions started since the last :meth:`mark`,
    read from the application and SQL status stores.  Job ids and execution
    ids only grow, so the ids above the mark are exactly one operation's —
    including jobs a streaming query runs on its own thread."""

    STAGE_FIELDS = (
        ("task_cpu_s", "executorCpuTime", 1e-9),
        ("task_run_s", "executorRunTime", 1e-3),
        ("gc_s", "jvmGcTime", 1e-3),
        ("input_bytes", "inputBytes", 1),
        ("input_rows", "inputRecords", 1),
        ("output_bytes", "outputBytes", 1),
        ("output_rows", "outputRecords", 1),
        ("shuffle_read_bytes", "shuffleReadBytes", 1),
        ("shuffle_write_bytes", "shuffleWriteBytes", 1),
        ("spill_bytes", "memoryBytesSpilled", 1),
        ("spill_bytes", "diskBytesSpilled", 1),
        ("failed_tasks", "numFailedTasks", 1),
        ("tasks", "numCompleteTasks", 1),
    )

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._tracker = self._sc.statusTracker()
        self._next_job = 0
        self._last_exec = -1
        self.mark()

    def mark(self) -> None:
        self._bus.waitUntilEmpty()
        while self._tracker.getJobInfo(self._next_job) is not None:
            self._next_job += 1
        n = self._sql.executionsCount()
        if n:
            self._last_exec = self._sql.executionsList(n - 1, 1).apply(0).executionId()

    def collect(self) -> dict:
        """Counters of everything since the mark, then re-mark.  Returns the
        job submission times and stage run intervals (epoch ms) too."""
        self._bus.waitUntilEmpty()
        out = {k: 0.0 for k, _, _ in self.STAGE_FIELDS}
        out.update(jobs=0, stages=0, python_bytes=0.0, job_times=[], stage_intervals=[])
        jid = self._next_job
        while (info := self._tracker.getJobInfo(jid)) is not None:
            out["jobs"] += 1
            sub = _ms(self._store.job(jid).submissionTime())
            if sub is not None:
                out["job_times"].append(sub)
            for sid in info.stageIds:
                sd = self._store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                for key, getter, scale in self.STAGE_FIELDS:
                    out[key] += getattr(sd, getter)() * scale
                lo, hi = _ms(sd.submissionTime()), _ms(sd.completionTime())
                if lo is not None and hi is not None:
                    out["stage_intervals"].append((lo, hi))
            jid += 1
        self._next_job = jid
        out["python_bytes"] = self._python_bytes()
        return out

    def _python_bytes(self) -> float:
        total = 0.0
        n = self._sql.executionsCount()
        if not n:
            return total
        recent = self._sql.executionsList(max(0, n - 500), min(n, 500))
        last = self._last_exec
        for i in range(recent.size()):
            ex = recent.apply(i)
            eid = ex.executionId()
            if eid <= self._last_exec:
                continue
            last = max(last, eid)
            wanted = [m.accumulatorId() for m in _seq(ex.metrics()) if m.name() in PYTHON_METRICS]
            if not wanted:
                continue
            values = self._sql.executionMetrics(eid)
            for acc in wanted:
                v = values.get(acc)
                if v.isDefined():
                    total += parse_size(v.get())
        self._last_exec = last
        return total


def _seq(s):
    return (s.apply(i) for i in range(s.size()))


def attribute_jobs(spans: list[dict], job_times: list[float]) -> dict[int, int]:
    """Jobs per span, each job counted in the innermost span open when it
    was submitted (so a span's jobs are its *own*, like self time)."""
    out: dict[int, int] = {}
    for t in job_times:
        best = None
        for s in spans:
            if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
                best = s
        if best is not None:
            out[best["id"]] = out.get(best["id"], 0) + 1
    return out


def layer_totals(spans: list[dict], job_times: list[float]) -> dict[str, dict]:
    """Per traced function: calls, inclusive seconds, self seconds and own
    jobs."""
    selfs = stats.self_times(spans)
    jobs = attribute_jobs(spans, job_times)
    out: dict[str, dict] = {}
    for s in spans:
        t = out.setdefault(s["name"], {"calls": 0, "s": 0.0, "self_s": 0.0, "jobs": 0})
        t["calls"] += 1
        t["s"] += (s["end"] - s["start"]) / 1000.0
        t["self_s"] += selfs[s["id"]] / 1000.0
        t["jobs"] += jobs.get(s["id"], 0)
    return out
