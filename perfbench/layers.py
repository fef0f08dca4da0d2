"""Per-layer tracing from outside the engine.

Three sources, all attached by the benchmark without touching the
package:

- Module spans: every public function of the traced modules is replaced,
  at runtime, by a wrapper that records calls, wall time, self time (wall
  minus the time of nested spans) and the Spark jobs started while it
  ran. Where another module bound the function by name
  (``from ..functions.udf import grouped_apply``), that binding is
  patched too. Wrappers pickle as the original function, so a wrapped
  function handed to Spark as a UDF body ships unchanged to the Python
  workers.
- The Spark event log (traced run only): stages, tasks, shuffle bytes,
  task CPU and off-CPU time, shuffle fetch wait, attributed to passes by
  job group.
- Streaming progress: ``DataStreamWriter.start`` is wrapped to keep each
  started query, whose ``recentProgress`` gives per-micro-batch timings.
"""

from __future__ import annotations

import copy
import functools
import importlib
import inspect
import json
import sys
import threading
import time
from collections import defaultdict
from collections.abc import Callable
from pathlib import Path

PACKAGE = "dais2021imageprocessingondeltalake_spark"

MODULES = (
    "operators.dedup",
    "operators.text",
    "operators.similarity",
    "operators.linear",
    "operators.sketches",
    "operators.sampling",
    "operators.temporal",
    "functions.udf",
    "plans.ingest",
    "plans.inference",
    "sources.binaryfiles",
    "sources.tables",
    "sources.versioned",
)

# first-parameter annotations of Python-worker bodies (pandas/Arrow
# batches in, batches out): these run on workers, not in the driver
_WORKER_BODY = ("pd.", "pa.", "Iterator", "np.")


class _Traced:
    """Callable stand-in for one module function."""

    def __init__(self, fn: Callable, layer: str, tracer: "Spans"):
        functools.update_wrapper(self, fn)
        self._fn, self._layer, self._tracer = fn, layer, tracer

    def __call__(self, *args, **kwargs):
        return self._tracer.call(self._layer, self._fn, args, kwargs)

    def __reduce__(self):
        return (copy.copy, (self._fn,))


class Spans:
    """Span recorder for the traced modules. `jobs_now()` returns the
    number of jobs the current step has started so far."""

    def __init__(self, jobs_now: Callable[[], int]):
        self.jobs_now = jobs_now
        self.active = False
        self.thread = threading.main_thread()
        self._stack: list[list[float]] = []  # [child_secs, child_jobs]
        self.stats: dict[str, list[float]] = defaultdict(lambda: [0, 0.0, 0])

    def call(self, layer: str, fn: Callable, args, kwargs):
        if not self.active or threading.current_thread() is not self.thread:
            return fn(*args, **kwargs)
        self._stack.append([0.0, 0])
        j0, t0 = self.jobs_now(), time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            secs, jobs = time.perf_counter() - t0, self.jobs_now() - j0
            child_secs, child_jobs = self._stack.pop()
            st = self.stats[layer]
            st[0] += 1
            st[1] += secs - child_secs
            st[2] += jobs - child_jobs
            if self._stack:
                self._stack[-1][0] += secs
                self._stack[-1][1] += jobs

    def install(self) -> None:
        """Wrap the public functions of MODULES and every by-name binding
        of them inside the package."""
        wrapped: dict[int, _Traced] = {}
        for name in MODULES:
            mod = importlib.import_module(f"{PACKAGE}.{name}")
            for attr, fn in list(vars(mod).items()):
                if attr.startswith("_") or not inspect.isfunction(fn):
                    continue
                if fn.__module__ != mod.__name__:
                    continue
                params = list(inspect.signature(fn).parameters.values())
                if params and str(params[0].annotation).startswith(_WORKER_BODY):
                    continue
                wrapped[id(fn)] = _Traced(fn, name, self)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for attr, value in list(vars(mod).items()):
                w = wrapped.get(id(value))
                if w is not None and w._fn is value:
                    setattr(mod, attr, w)

    def take(self) -> dict[str, list[float]]:
        """Return and reset the per-layer [calls, self_s, jobs] totals."""
        out = {k: list(v) for k, v in self.stats.items()}
        self.stats.clear()
        return out


class StreamCapture:
    """Keeps every streaming query started while installed."""

    def __init__(self):
        self.queries: list = []
        self._orig = None

    def install(self) -> None:
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        orig = self._orig = DataStreamWriter.start
        queries = self.queries

        @functools.wraps(orig)
        def start(writer, *args, **kwargs):
            q = orig(writer, *args, **kwargs)
            queries.append(q)
            return q

        DataStreamWriter.start = start

    def take(self) -> list[dict]:
        """Progress records of the queries started since the last take."""
        out = [dict(p) for q in self.queries for p in q.recentProgress]
        self.queries.clear()
        return out


def event_log_stats(log_dir: str, group_of_pass: Callable[[str], str | None]) -> dict:
    """Sum stage/task metrics per pass from the Spark event log in
    `log_dir`. `group_of_pass` maps a job group id to its pass label (or
    None to ignore the job)."""
    stage_pass: dict[int, str] = {}
    per: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in sorted(p for p in Path(log_dir).rglob("*") if p.is_file()):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    label = group_of_pass((ev.get("Properties") or {}).get("spark.jobGroup.id", ""))
                    if label is not None:
                        for sid in ev.get("Stage IDs", []):
                            stage_pass[sid] = label
                elif kind == "SparkListenerStageCompleted":
                    label = stage_pass.get(ev["Stage Info"]["Stage ID"])
                    if label is not None:
                        per[label]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    label = stage_pass.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if label is None or not m:
                        continue
                    s = per[label]
                    cpu = m.get("Executor CPU Time", 0) / 1e9
                    run = m.get("Executor Run Time", 0) / 1e3
                    s["tasks"] += 1
                    s["task_cpu_s"] += cpu
                    s["task_offcpu_s"] += max(run - cpu, 0.0)
                    s["shuffle_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    s["fetch_wait_s"] += (
                        m.get("Shuffle Read Metrics", {}).get("Fetch Wait Time", 0) / 1e3
                    )
    return {k: dict(v) for k, v in per.items()}
