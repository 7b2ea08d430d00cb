"""Layer readings for the traced run.

Nothing here edits sparkobs: ``Tracer.install`` wraps the public
functions of each layer module from outside, and replaces every
reference to them that the loaded ``sparkobs`` modules hold (so the
``from sparkobs.io import load_table`` copy inside ``sparkobs.queries``
is wrapped too). Spans nest per thread; a layer's self time is its
span time minus the time of the wrapped spans it called.

``SparkReadings`` reads Spark's own status stores for a window of job
ids and SQL execution ids, so work is attributed to the call that
started it even when it ran on another thread (streaming micro-batches
run on the stream's thread, outside any job group of the caller).
``StreamProgress`` is a ``StreamingQueryListener`` that sums the
micro-batch phase durations.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import re
import sys
import threading
import time
from collections import defaultdict

# layer name -> module whose public functions are wrapped
LAYER_MODULES = {
    "io": "sparkobs.io",
    "operators.shape": "sparkobs.operators.shape",
    "operators.state": "sparkobs.operators.state",
    "operators.checks": "sparkobs.operators.checks",
    "operators.dedup": "sparkobs.operators.dedup",
    "operators.multimodal": "sparkobs.operators.multimodal",
    "monitors": "sparkobs.monitors",
    "sources.listing": "sparkobs.sources.listing",
    "sources.files": "sparkobs.sources.files",
    "streaming.monitors": "sparkobs.streaming.monitors",
}
# functions reported under a layer of their own
SPLIT_LAYERS = {"sparkobs.io.load_table": "io.load"}

SPARK_KEYS = (
    "spark.action_s", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.failed_tasks", "spark.exec_run_s", "spark.exec_cpu_s",
    "spark.gc_s", "spark.core_busy_frac", "spark.input_bytes",
    "spark.output_bytes", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes",
)
# Worker start-up is not read: "time to initialize Python workers" also
# counts a reused worker's idle time since its fork, and "time to start
# Python workers" reads 0 once the workers are warm
ARROW_METRICS = {
    "time to run Python workers": "arrow.py_run_s",
    "data sent to Python workers": "arrow.bytes_sent",
    "data returned from Python workers": "arrow.bytes_returned",
}
STREAM_PHASES = {
    "triggerExecution": "streaming.trigger_ms",
    "addBatch": "streaming.add_batch_ms",
    "queryPlanning": "streaming.query_planning_ms",
    "walCommit": "streaming.wal_commit_ms",
    "latestOffset": "streaming.latest_offset_ms",
}
STREAM_KEYS = (
    "streaming.batches", *STREAM_PHASES.values(), "streaming.state_commit_ms",
    "streaming.state_rows", "streaming.input_rows",
)


class Tracer:
    """Wraps layer functions and accumulates ``<layer>.calls`` and
    ``<layer>.s`` (self seconds) while ``enabled``."""

    def __init__(self) -> None:
        self.enabled = False
        self.readings: dict[str, float] = defaultdict(float)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[float]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _wrap(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            stack = tracer._stack()
            stack.append(0.0)  # child seconds of this span
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dur = time.perf_counter() - t0
                child = stack.pop()
                if stack:
                    stack[-1] += dur
                with tracer._lock:
                    tracer.readings[f"{layer}.calls"] += 1
                    tracer.readings[f"{layer}.s"] += dur - child

        traced.__wrapped_layer__ = layer
        return traced

    def install(self, layers: dict[str, str] = LAYER_MODULES) -> None:
        originals: dict[int, object] = {}
        for layer, modname in layers.items():
            mod = importlib.import_module(modname)
            for name, obj in list(vars(mod).items()):
                if (
                    not name.startswith("_")
                    and inspect.isfunction(obj)
                    and obj.__module__ == modname
                ):
                    own = SPLIT_LAYERS.get(f"{modname}.{name}", layer)
                    originals[id(obj)] = self._wrap(own, obj)
        # swap every reference the loaded sparkobs modules hold
        for modname, mod in list(sys.modules.items()):
            if not (modname == "sparkobs" or modname.startswith("sparkobs.")):
                continue
            for name, obj in list(vars(mod).items()):
                wrapper = originals.get(id(obj))
                if wrapper is not None:
                    self._patched.append((mod, name, obj))
                    setattr(mod, name, wrapper)

    def uninstall(self) -> None:
        for mod, name, obj in reversed(self._patched):
            setattr(mod, name, obj)
        self._patched.clear()

    def take(self) -> dict[str, float]:
        with self._lock:
            out = dict(self.readings)
            self.readings.clear()
        return out


def _opt(scala_option):
    return scala_option.get() if scala_option.isDefined() else None


_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric: ``'1.7 s'`` or, with several
    tasks, ``'total (min, med, max ...)\\n12.0 MiB (...)'``."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = re.match(r"\s*([0-9.,]+)\s*([A-Za-z]+)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class SparkReadings:
    """Executed-work readings for the jobs and SQL executions started
    between ``mark()`` and ``collect()``."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self._sc = spark.sparkContext._jsc.sc()
        self._job0 = 0
        self._exec0 = 0

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def mark(self) -> None:
        self.drain()
        self._job0 = self._sc.dagScheduler().nextJobId()
        self._exec0 = int(self._sql_store().executionsCount())

    def collect(self) -> tuple[dict[str, float], list[tuple[float, float]]]:
        """Readings plus the ``(start, end)`` epoch-second intervals of
        the window's jobs."""
        self.drain()
        store = self._sc.statusStore()
        out = dict.fromkeys(SPARK_KEYS, 0.0)
        out.update(dict.fromkeys(ARROW_METRICS.values(), 0.0))
        del out["spark.action_s"], out["spark.core_busy_frac"]
        intervals = []
        stages = set()
        for job_id in range(self._job0, self._sc.dagScheduler().nextJobId()):
            try:
                job = store.job(job_id)
            except Exception:  # noqa: BLE001 - evicted or never registered
                continue
            out["spark.jobs"] += 1
            start, end = _opt(job.submissionTime()), _opt(job.completionTime())
            if start is not None and end is not None:
                intervals.append((start.getTime() / 1e3, end.getTime() / 1e3))
            it = job.stageIds().iterator()
            while it.hasNext():
                stages.add(it.next())
        for sid in stages:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - evicted
                continue
            if st.numCompleteTasks() + st.numFailedTasks() == 0:
                continue  # skipped: its output was reused
            out["spark.stages"] += 1
            out["spark.tasks"] += st.numCompleteTasks()
            out["spark.failed_tasks"] += st.numFailedTasks()
            out["spark.exec_run_s"] += st.executorRunTime() / 1e3
            out["spark.exec_cpu_s"] += st.executorCpuTime() / 1e9
            out["spark.gc_s"] += st.jvmGcTime() / 1e3
            out["spark.input_bytes"] += st.inputBytes()
            out["spark.output_bytes"] += st.outputBytes()
            out["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
            out["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        sql = self._sql_store()
        n_exec = int(sql.executionsCount()) - self._exec0
        if n_exec > 0:
            it = sql.executionsList(self._exec0, n_exec).iterator()
            while it.hasNext():
                ex = it.next()
                names = {}
                mi = ex.metrics().iterator()
                while mi.hasNext():
                    pm = mi.next()
                    if pm.name() in ARROW_METRICS:
                        names[pm.accumulatorId()] = ARROW_METRICS[pm.name()]
                if not names:
                    continue
                values = sql.executionMetrics(ex.executionId())
                for acc, key in names.items():
                    if values.contains(acc):
                        out[key] += parse_sql_metric(values.get(acc).get())
        return out, intervals


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of ``[lo, hi]`` covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def stream_listener_class():
    """Build the listener class lazily: pyspark is imported only once
    the run environment is pinned."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamProgress(StreamingQueryListener):
        def __init__(self) -> None:
            super().__init__()
            self.readings: dict[str, float] = defaultdict(float)
            self._lock = threading.Lock()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            with self._lock:
                r = self.readings
                r["streaming.batches"] += 1
                r["streaming.input_rows"] += p.numInputRows or 0
                for phase, key in STREAM_PHASES.items():
                    r[key] += (p.durationMs or {}).get(phase, 0)
                for op in p.stateOperators or []:
                    r["streaming.state_rows"] += op.numRowsTotal or 0
                    r["streaming.state_commit_ms"] += op.commitTimeMs or 0

        def take(self) -> dict[str, float]:
            with self._lock:
                out = dict.fromkeys(STREAM_KEYS, 0.0)
                out.update(self.readings)
                self.readings.clear()
            return out

    return StreamProgress
