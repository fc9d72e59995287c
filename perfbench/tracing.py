"""Outside-in layer trace for the traced benchmark run.

Spans are recorded only by wrapping the program's public functions (the
``session``, ``storage``, registry-builder, ``sources`` and ``sinks``
entry points) and by the benchmark's own op/build/collect boundaries;
Spark-side numbers come from Spark's own counters (job-group status,
the executor summary, Catalyst's phase tracker and the final plan's SQL
metrics). Nothing in the library is edited. Spans stay in memory and are
written once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import threading
import time
from collections import defaultdict

# (module, attribute, span name). A function re-exported by a package is
# patched in both places so callers that import it either way are seen.
WRAPPED = (
    ("duckdb_miint_spark.session", "get_spark", "session.get_spark"),
    ("duckdb_miint_spark.session", "read_table", "session.read_table"),
    ("duckdb_miint_spark.storage", "serve_bucketed", "storage.serve"),
    ("duckdb_miint_spark.storage", "build_graft_layout", "storage.build"),
    ("duckdb_miint_spark.storage", "refresh_graft_layout", "storage.refresh"),
    ("duckdb_miint_spark.storage", "write_bucketed", "storage.write"),
    ("duckdb_miint_spark.sources.fastx", "read_fastx", "sources.read_fastx"),
    ("duckdb_miint_spark.sources", "read_fastx", "sources.read_fastx"),
    ("duckdb_miint_spark.sources.sam", "read_alignments", "sources.read_alignments"),
    ("duckdb_miint_spark.sources", "read_alignments", "sources.read_alignments"),
    ("duckdb_miint_spark.sinks.fastx_sink", "copy_fastq", "sinks.copy_fastq"),
    ("duckdb_miint_spark.sinks", "copy_fastq", "sinks.copy_fastq"),
    ("duckdb_miint_spark.sinks.bam_sink", "copy_bam", "sinks.copy_bam"),
    ("duckdb_miint_spark.sinks", "copy_bam", "sinks.copy_bam"),
)
PY_METRICS = ("pythonBootTime", "pythonInitTime", "pythonTotalTime",
              "pythonDataSent", "pythonDataReceived")
PHASES = ("analysis", "optimization", "planning")


class Tracer:
    """Records spans ``{id, name, start, end, parent, op, attrs}``; times
    are ``time.perf_counter()`` seconds."""

    def __init__(self):
        self.spans: list[dict] = []
        self.op: str | None = None
        self.enabled = True  # off while the untimed warm-up pass runs
        self._local = threading.local()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str) -> dict:
        stack = self._stack()
        span = {"id": len(self.spans), "name": name, "start": time.perf_counter(),
                "end": None, "parent": stack[-1]["id"] if stack else None,
                "op": self.op, "attrs": {}}
        self.spans.append(span)
        stack.append(span)
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        span = self.begin(name)
        try:
            yield span
        finally:
            self.end(span)

    def wrap(self, fn, name: str, on_result=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name) as span:
                result = fn(*args, **kwargs)
                if on_result is not None:
                    span["attrs"].update(on_result(result))
                return result

        return traced

    def install(self, registry: dict) -> None:
        """Patch every function in ``WRAPPED`` and every registry builder,
        for the rest of the process."""
        wrappers: dict[tuple, object] = {}
        for mod_name, attr, span_name in WRAPPED:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            key = (fn.__module__, fn.__qualname__)  # wraps() keeps these
            if key not in wrappers:
                on_result = _serve_result if span_name == "storage.serve" else None
                wrappers[key] = self.wrap(fn, span_name, on_result)
            setattr(mod, attr, wrappers[key])
        for name, qd in registry.items():
            qd.spark_fn = self.wrap(qd.spark_fn, f"query.{name}")


def _serve_result(result) -> dict:
    return {"hit": result is not None}


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of its interval
    that its children cover (overlapping children are counted once)."""
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        ivs = sorted(
            (max(c["start"], lo), min(c["end"], hi)) for c in children[s["id"]]
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


# --- Spark's own counters ---------------------------------------------------


def executor_totals(spark) -> dict[str, float]:
    """Sums over the executor summary (the local driver in local mode)."""
    seq = spark.sparkContext._jsc.sc().statusStore().executorList(True)
    tot = dict.fromkeys(("task_ms", "gc_ms", "tasks", "failed_tasks",
                         "shuffle_write_bytes", "input_bytes"), 0.0)
    for i in range(seq.size()):
        e = seq.apply(i)
        tot["task_ms"] += e.totalDuration()
        tot["gc_ms"] += e.totalGCTime()
        tot["tasks"] += e.totalTasks()
        tot["failed_tasks"] += e.failedTasks()
        tot["shuffle_write_bytes"] += e.totalShuffleWrite()
        tot["input_bytes"] += e.totalInputBytes()
    return tot


def group_counts(spark, group: str) -> dict[str, int]:
    """Jobs, stages and tasks Spark ran under one job group."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages: set[int] = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None:
            tasks += info.numTasks
    return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst phase durations (ms) from the query execution's tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for p in PHASES:
        out[p] = float(phases.apply(p).durationMs()) if phases.contains(p) else 0.0
    return out


def python_metrics(df) -> dict[str, float]:
    """Python-worker SQL metrics summed over the final physical plan."""
    totals = dict.fromkeys(PY_METRICS, 0.0)
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            stack.append(node.child())
            continue
        metrics = node.metrics()
        for k in PY_METRICS:
            opt = metrics.get(k)
            if opt.isDefined():
                totals[k] += opt.get().value()
        kids = node.children()
        for i in range(kids.size()):
            stack.append(kids.apply(i))
    return totals
