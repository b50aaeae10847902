"""Tracing for the benchmark's traced run (``--trace 1``).

Nothing here touches package code: spans are recorded around calls into
each layer's public functions (instance and module attributes are
wrapped for the length of the run), and the engine layers are read from
Spark's own records — a ``StreamingQueryListener`` and the in-process
status stores (``SparkContext.statusStore`` for jobs, stages and tasks;
``SharedState.statusStore`` for SQL executions and their per-operator
metrics). Spans stay in memory and are written once, when the run ends.
"""

from __future__ import annotations

import functools
import json
import re
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory spans with parent links. The open-span stack is shared
    by all threads on purpose: ``foreachBatch`` sinks run on a py4j
    callback thread while the driver thread waits in
    ``awaitTermination``, and their spans belong under the ``run_table``
    span that is open at that moment."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._lock = threading.Lock()
        self._undo: list = []

    @contextmanager
    def span(self, name: str, **attrs):
        with self._lock:
            parent = self._stack[-1]["id"] if self._stack else None
            s = {"id": len(self.spans), "name": name, "parent": parent,
                 "start": time.perf_counter(), "end": None, **attrs}
            self.spans.append(s)
            self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            with self._lock:
                self._stack.remove(s)

    def patch(self, owner, attr: str, replacement) -> None:
        """Set ``owner.attr`` to ``replacement`` until :meth:`restore`."""
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def wrap(self, owner, attr: str, name: str, wrap_result=None) -> None:
        """Replace ``owner.attr`` by a spanning wrapper until :meth:`restore`.
        ``wrap_result`` post-processes the return value (used to span the
        per-batch sink function a sink factory returns)."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                out = orig(*args, **kwargs)
            return wrap_result(out) if wrap_result else out

        self.patch(owner, attr, wrapper)

    def current(self) -> dict | None:
        """The innermost open span."""
        with self._lock:
            return self._stack[-1] if self._stack else None

    def restore(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def spanned(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its direct children cover."""
        kids: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)
        out = {}
        for s in self.spans:
            out[s["id"]] = (s["end"] - s["start"]) - _covered(
                [(c["start"], c["end"]) for c in kids[s["id"]]], s["start"], s["end"]
            )
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
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


# ---------------------------------------------------------------------------
# streaming progress
# ---------------------------------------------------------------------------


def stream_listener():
    """A ``StreamingQueryListener`` that files every progress event under
    the bucket currently set in ``listener.bucket`` (the tick index)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def __init__(self) -> None:
            self.bucket = None
            self.started: dict = defaultdict(int)
            self.progress: dict = defaultdict(list)

        def onQueryStarted(self, event) -> None:
            self.started[self.bucket] += 1

        def onQueryProgress(self, event) -> None:
            p = event.progress
            ops = p.stateOperators or []
            self.progress[self.bucket].append({
                "rows": p.numInputRows,
                "dur": dict(p.durationMs or {}),
                "state_rows": sum(o.numRowsTotal for o in ops),
                "state_bytes": sum(o.memoryUsedBytes for o in ops),
                "dropped": sum(o.numRowsDroppedByWatermark for o in ops),
            })

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return _Listener()


# ---------------------------------------------------------------------------
# Spark status stores
# ---------------------------------------------------------------------------

_NUM = re.compile(r"(-?\d[\d,]*(?:\.\d+)?)\s*(ms|s|m|h|B|KiB|MiB|GiB|TiB)?\b")
_UNIT = {None: 1.0, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "B": 1.0,
         "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40}

# operator families reported as sql.op_s.<family>; FileScan covers every
# "Scan <format>" node
SQL_OPS = ("HashAggregate", "SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
           "Sort", "Window", "Generate", "Expand", "Exchange", "BroadcastExchange",
           "FileScan", "MapInPandas")


def parse_metric(text: str) -> tuple[float, float]:
    """(total, max) of one formatted SQL metric value, in seconds, bytes
    or plain counts. Aggregated values read
    ``total (min, med, max (...))\\n<total> (<min>, <med>, <max> (...))``."""
    line = text.split("\n")[-1]
    head = line.split("(stage")[0]
    nums = [float(v.replace(",", "")) * _UNIT[u or None] for v, u in _NUM.findall(head)]
    if not nums:
        return 0.0, 0.0
    return nums[0], (nums[3] if len(nums) >= 4 else nums[0])


# Python worker start-up timers overlap "time to run Python workers" and
# read far above wall time, so they are left out
_PY_SETUP = ("time to start Python workers", "time to initialize Python workers")


def _family(name: str) -> str | None:
    if name.startswith("Scan "):
        return "FileScan"
    return name if name in SQL_OPS else None


class EngineProbe:
    """Reads the jobs, stages and SQL executions that completed since the
    previous :meth:`collect` call."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._gw = sc._gateway
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._quant = self._gw.new_array(self._gw.jvm.double, 2)
        self._quant[0], self._quant[1] = 0.5, 1.0
        # adaptive execution submits each query stage as its own job, and
        # later jobs list the finished stages again as skipped
        self._counted_stages: set[int] = set()
        self.mark()

    def mark(self) -> None:
        """Skip everything that ran before now (e.g. an untraced pass)."""
        self.drain()
        jobs = self._store.jobsList(None)
        self._job_mark = jobs.apply(0).jobId() if jobs.size() else -1
        self._exec_mark = self._sql.executionsCount()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        stores (and the streaming listener) have seen the op's end."""
        self._jsc.listenerBus().waitUntilEmpty()

    def collect(self, t0_epoch: float, t1_epoch: float) -> dict:
        self.drain()
        m: dict[str, float] = defaultdict(float)
        spans = []
        jobs = self._store.jobsList(None)
        newest = self._job_mark
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= self._job_mark:
                break
            newest = max(newest, j.jobId())
            m["spark.jobs"] += 1
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            sids = j.stageIds()
            for k in range(sids.size()):
                self._stage(sids.apply(k), m)
        self._job_mark = newest
        m["spark.driver_gap_s"] = (t1_epoch - t0_epoch) - _covered(spans, t0_epoch, t1_epoch)
        n_exec = self._sql.executionsCount()
        if n_exec > self._exec_mark:
            execs = self._sql.executionsList(self._exec_mark, n_exec - self._exec_mark)
            for i in range(execs.size()):
                self._execution(execs.apply(i).executionId(), m)
        self._exec_mark = n_exec
        return dict(m)

    def _stage(self, sid: int, m: dict) -> None:
        if sid in self._counted_stages:
            return
        sd = self._store.lastStageAttempt(sid)
        if sd.status().toString() != "COMPLETE":
            return
        self._counted_stages.add(sid)
        m["spark.stages"] += 1
        m["spark.tasks"] += sd.numTasks()
        m["spark.executor_run_s"] += sd.executorRunTime() / 1e3
        m["spark.executor_cpu_s"] += sd.executorCpuTime() / 1e9
        m["spark.gc_s"] += sd.jvmGcTime() / 1e3
        m["spark.input_bytes"] += sd.inputBytes()
        m["spark.shuffle_read_bytes"] += sd.shuffleReadBytes()
        m["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
        m["spark.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        if sd.numTasks() >= 2:
            q = self._store.taskSummary(sid, sd.attemptId(), self._quant)
            if q.isDefined():
                run = q.get().executorRunTime()
                med, mx = run.apply(0), run.apply(1)
                if med > 0:
                    m["spark.task_skew"] = max(m.get("spark.task_skew", 1.0), mx / med)

    def _execution(self, eid: int, m: dict) -> None:
        graph = self._sql.planGraph(eid)
        values = self._sql.executionMetrics(eid)
        codegen: dict[int, float] = {}
        tops = graph.nodes()
        for i in range(tops.size()):
            top = tops.apply(i)
            if top.getClass().getSimpleName() == "SparkPlanGraphCluster":
                dur = self._metric(top, values, "duration")
                members = top.nodes()
                for k in range(members.size()):
                    codegen[members.apply(k).id()] = dur[0] if dur else 0.0
        nodes = graph.allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            name = node.name()
            metrics = self._metrics(node, values)
            fam = _family(name)
            if fam:
                own = [v[0] for k, (t, *v) in metrics.items()
                       if t in ("timing", "nsTiming") and k not in _PY_SETUP]
                m[f"sql.op_s.{fam}"] += sum(own) if own else codegen.get(node.id(), 0.0)
            if "peak memory" in metrics:
                m["sql.peak_memory_bytes"] = max(m.get("sql.peak_memory_bytes", 0.0),
                                                 metrics["peak memory"][2])
            if name == "BroadcastExchange" and "data size" in metrics:
                m["sql.broadcast_bytes"] += metrics["data size"][1]
            if "data sent to Python workers" in metrics:
                m["python.bytes_sent"] += metrics["data sent to Python workers"][1]
                m["python.bytes_received"] += metrics.get(
                    "data returned from Python workers", (None, 0.0))[1]
                m["python.rows_received"] += metrics.get(
                    "number of output rows", (None, 0.0))[1]
                m["python.worker_run_s"] += metrics.get(
                    "time to run Python workers", (None, 0.0))[1]
            if name.startswith("Scan parquet") and "number of files read" in metrics:
                m["delta.scan_files_read"] += metrics["number of files read"][1]

    def _metrics(self, node, values) -> dict[str, tuple]:
        out = {}
        ms = node.metrics()
        for k in range(ms.size()):
            pm = ms.apply(k)
            v = values.get(pm.accumulatorId())
            if v.isDefined():
                out[pm.name()] = (pm.metricType(), *parse_metric(v.get()))
        return out

    def _metric(self, node, values, name: str):
        hit = self._metrics(node, values).get(name)
        return hit[1:] if hit else None


def median_of(values, default: float = 0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default
