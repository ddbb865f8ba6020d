"""Benchmark-side tracing: spans around the program's public entry points,
plus per-op engine counters read from Spark's status store.

Nothing here edits the package: spans come from wrapping public functions
at their import sites for the length of a traced run, and engine counters
come from the JVM status stores after the run.  Jobs, stages and SQL
executions are attributed to an op by submission time inside the op's
window -- ops run one at a time, and job-group tags are not inherited by
the thread pools some operators use, so time windows are the attribution
that sees every job.
"""

from __future__ import annotations

import functools
import importlib
import re
import threading
import time


class Tracer:
    """In-memory span recorder.  A span is ``(name, start, end, parent,
    op_id)``; ``parent`` is the index of the enclosing span on the same
    thread, or -1.  Spans are only kept; :meth:`dump` writes them out."""

    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float, int, int]] = []
        self.op_id = -1
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        #: time spent inside the tracer's own bookkeeping
        self.self_s = 0.0

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper until
        :meth:`unpatch`."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with tracer.span(name):
                return orig(*a, **kw)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def op_spans(self, name: str, parent: str | None = "") -> list[tuple[float, float]]:
        """``(start, end)`` of the spans named ``name`` recorded inside ops;
        with ``parent``, only those whose enclosing span has that name
        (``None``: those with no enclosing span)."""
        out = []
        for n, s, e, p, o in self.spans:
            if n != name or o < 0:
                continue
            if parent is None and p != -1:
                continue
            if parent and (p == -1 or self.spans[p][0] != parent):
                continue
            out.append((s, e))
        return out

    def total_ms(self, name: str, parent: str | None = "") -> float:
        return 1000.0 * sum(e - s for s, e in self.op_spans(name, parent))

    def count(self, name: str, parent: str | None = "") -> int:
        return len(self.op_spans(name, parent))

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            for n, s, e, p, o in self.spans:
                f.write(json.dumps({"name": n, "start": s, "end": e,
                                    "parent": p, "op": o}) + "\n")


class _Span:
    __slots__ = ("t", "name", "start", "parent", "idx")

    def __init__(self, tracer: Tracer, name: str) -> None:
        self.t, self.name = tracer, name

    def __enter__(self):
        t0 = time.perf_counter()
        stack = getattr(self.t._local, "stack", None)
        if stack is None:
            stack = self.t._local.stack = []
        self.parent = stack[-1] if stack else -1
        with self.t._lock:
            self.idx = len(self.t.spans)
            self.t.spans.append((self.name, 0.0, 0.0, self.parent, self.t.op_id))
        stack.append(self.idx)
        self.start = time.time()
        self.t.self_s += time.perf_counter() - t0
        return self

    def __exit__(self, *exc):
        end = time.time()
        t0 = time.perf_counter()
        self.t._local.stack.pop()
        with self.t._lock:
            self.t.spans[self.idx] = (self.name, self.start, end, self.parent,
                                      self.t.op_id)
        self.t.self_s += time.perf_counter() - t0
        return False


def instrument(tracer: Tracer, spark) -> None:
    """Wrap the public entry points every workload may reach."""
    pkg = "qradar_restapi_kafka_datapipeline_spark"
    aql = importlib.import_module(f"{pkg}.plans.aql")
    router = importlib.import_module(f"{pkg}.plans.rollup_router")
    pipeline = importlib.import_module(f"{pkg}.pipeline")
    rollup = importlib.import_module(f"{pkg}.operators.rollup")
    stream = importlib.import_module(f"{pkg}.streaming.rollup_stream")
    engine = importlib.import_module(f"{pkg}.engine")
    tracer.wrap(aql.AQLFrontend, "translate", "plans.aql.translate")
    tracer.wrap(aql.AQLFrontend, "sql", "plans.aql.sql")
    tracer.wrap(router, "try_route_to_globalview", "plans.rollup_router.route")
    tracer.wrap(pipeline.Pipeline, "run_all", "pipeline.run_all")
    for mod in (pipeline, rollup, stream):
        tracer.wrap(mod, "merge_rollup", "operators.rollup.merge_rollup")
    tracer.wrap(engine, "read_artifact", "engine.read_artifact")
    tracer.wrap(spark, "sql", "engine.spark_sql")


# --- Spark status stores ------------------------------------------------------

def _opt_ms(opt) -> float | None:
    return float(opt.get().getTime()) if opt.isDefined() else None


def read_jobs(spark) -> list[dict]:
    """Every job the status store still holds, with its stages' metrics."""
    ss = spark.sparkContext._jsc.sc().statusStore()
    jobs = ss.jobsList(None)
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        sub = _opt_ms(j.submissionTime())
        if sub is None:
            continue
        end = _opt_ms(j.completionTime()) or sub
        rec = {"submit": sub / 1000.0, "end": end / 1000.0, "stages": 0,
               "tasks": 0, "run_ms": 0.0, "cpu_ms": 0.0, "in_b": 0, "out_b": 0,
               "shr_b": 0, "shw_b": 0, "spill_b": 0}
        sids = j.stageIds()
        for k in range(sids.size()):
            try:
                st = ss.lastStageAttempt(sids.apply(k))
            except Exception:  # pruned from the store, or never attempted
                continue
            if str(st.status()) == "SKIPPED":
                continue
            rec["stages"] += 1
            rec["tasks"] += st.numTasks()
            rec["run_ms"] += st.executorRunTime()
            rec["cpu_ms"] += st.executorCpuTime() / 1e6
            rec["in_b"] += st.inputBytes()
            rec["out_b"] += st.outputBytes()
            rec["shr_b"] += st.shuffleReadBytes()
            rec["shw_b"] += st.shuffleWriteBytes()
            rec["spill_b"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out.append(rec)
    return out


_TIME_UNITS = {"ms": 1.0, "s": 1000.0, "m": 60000.0, "min": 60000.0, "h": 3600000.0}
_PY_METRICS = ("time to run Python workers",)


def _total_ms(text: str) -> float:
    """Total of a formatted SQL timing metric (``'12 ms'`` or
    ``'total (min, med, max ...)\\n12.4 s (...)'``)."""
    line = text.split("\n")[-1] if text.startswith("total") else text
    m = re.match(r"\s*([\d.,]+)\s*(ms|s|min|m|h)\b", line)
    return float(m.group(1).replace(",", "")) * _TIME_UNITS[m.group(2)] if m else 0.0


def read_sql_python_ms(spark) -> list[tuple[float, float]]:
    """``(submission time, Python-worker ms)`` per SQL execution."""
    sq = spark._jsparkSession.sharedState().statusStore()
    ex = sq.executionsList()
    out = []
    for i in range(ex.size()):
        e = ex.apply(i)
        wanted = [m.accumulatorId() for m in _iter(e.metrics()) if m.name() in _PY_METRICS]
        total = 0.0
        if wanted:
            vals = sq.executionMetrics(e.executionId())
            for acc in wanted:
                v = vals.get(acc)
                if v.isDefined():
                    total += _total_ms(v.get())
        out.append((e.submissionTime() / 1000.0, total))
    return out


def _iter(seq):
    for i in range(seq.size()):
        yield seq.apply(i)


def union_ms(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` second intervals, in ms."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return 1000.0 * total


def snapshot(spark) -> dict:
    """One read of both status stores, after the timed loop."""
    return {"jobs": read_jobs(spark), "py": read_sql_python_ms(spark)}


def _inside(t: float, windows: list[tuple[float, float]]) -> int | None:
    """Index of the window holding ``t``.  Status-store times have
    millisecond resolution, so a window opens 1 ms early."""
    for i, (s, e) in enumerate(windows):
        if s - 0.001 <= t <= e:
            return i
    return None


_SUMS = ("stages", "tasks", "run_ms", "cpu_ms", "in_b", "out_b", "shr_b",
         "shw_b", "spill_b")


def window_totals(snap: dict, windows: list[tuple[float, float]]) -> dict:
    """Counters summed over the jobs and SQL executions submitted inside
    ``windows``, plus the union of those jobs' spans clipped to their
    window (``busy_ms``)."""
    agg = dict.fromkeys(_SUMS, 0.0)
    agg["jobs"] = 0
    spans: dict[int, list[tuple[float, float]]] = {}
    for j in snap["jobs"]:
        w = _inside(j["submit"], windows)
        if w is None:
            continue
        agg["jobs"] += 1
        for k in _SUMS:
            agg[k] += j[k]
        spans.setdefault(w, []).append((j["submit"], min(j["end"], windows[w][1])))
    agg["busy_ms"] = sum(union_ms(v) for v in spans.values())
    agg["py_ms"] = sum(ms for t, ms in snap["py"] if _inside(t, windows) is not None)
    return agg


def engine_metrics(snap: dict, windows: list[tuple[float, float]]) -> dict[str, float]:
    """Means per timed op of the engine counters over the op ``windows``
    (set-up, warm-up and checks fall outside them)."""
    a = window_totals(snap, windows)
    wall = 1000.0 * sum(e - s for s, e in windows)
    totals = {
        "engine.jobs": a["jobs"],
        "engine.stages": a["stages"],
        "engine.tasks": a["tasks"],
        "engine.job_busy_ms": a["busy_ms"],
        "engine.driver_only_ms": wall - a["busy_ms"],
        "engine.executor_run_ms": a["run_ms"],
        "engine.executor_cpu_ms": a["cpu_ms"],
        "engine.input_bytes": a["in_b"],
        "engine.output_bytes": a["out_b"],
        "engine.shuffle_read_bytes": a["shr_b"],
        "engine.shuffle_write_bytes": a["shw_b"],
        "engine.spill_bytes": a["spill_b"],
        "engine.python_worker_ms": a["py_ms"],
    }
    return {k: v / len(windows) for k, v in totals.items()}
