"""Per-layer measurement for the traced run, kept out of the program:

- in-memory spans (name, start, end, parent, thread) around calls into
  the program's public functions, installed by rebinding those functions
  in every loaded module of the package;
- Spark's own event log (uncompressed, non-rolling), parsed after the
  session stops, for job / stage / task metrics attributed by time window;
- ``StreamingQueryProgress.durationMs`` for micro-batch phases.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import inspect
import json
import os
import sys
import threading
import time
from dataclasses import dataclass, field

PACKAGE = "stock_price_prediction_using_stream_and_batch_processing_spark"

# (module under the package, function) pairs whose calls get a span; the
# span name is the layer-qualified function name used in metric names.
TRACED_FUNCTIONS = (
    ("operators.topk", "latest_k"),
    ("operators.windows", "trailing_collect"),
    ("ml.inference", "predict_over_windows"),
    ("operators.snapshots", "snapshot_append"),
    ("operators.snapshots", "snapshot_merge"),
    ("operators.snapshots", "read_snapshot"),
    ("operators.maintenance", "delta_sized_shuffle"),
    ("operators.dedup", "incremental_near_dup"),
    ("operators.dedup", "store_cross_candidates"),
    ("operators.dedup", "resolve_components"),
    ("operators.similarity", "ivf_build"),
    ("operators.similarity", "assign_cells"),
    ("operators.similarity", "semantic_dedup"),
)

STREAM_PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
                 "commitOffsets", "triggerExecution")


@dataclass
class Span:
    name: str
    start: float
    end: float | None
    parent: int | None
    thread: int


@dataclass
class Tracer:
    """Spans kept in memory; a thread-local stack gives each span its parent."""

    spans: list[Span] = field(default_factory=list)
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, time.time(), None, stack[-1] if stack else None,
                                   threading.get_ident()))
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx].end = time.time()

    def wrap(self, name: str, fn):
        if inspect.isgeneratorfunction(getattr(fn, "__wrapped__", None)):
            # a @contextmanager function: the span covers the managed body
            @functools.wraps(fn)
            def traced_cm(*args, **kwargs):
                return _SpanningContext(self, name, fn(*args, **kwargs))

            return traced_cm

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Rebind each traced function in every loaded module of the
        package that holds a reference to it (``from x import f`` copies)."""
        for mod_name, fn_name in TRACED_FUNCTIONS:
            mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
            orig = getattr(mod, fn_name)
            wrapped = self.wrap(f"{mod_name}.{fn_name}", orig)
            for m in list(sys.modules.values()):
                if m is None or not getattr(m, "__name__", "").startswith(PACKAGE):
                    continue
                for attr, val in list(vars(m).items()):
                    if val is orig:
                        setattr(m, attr, wrapped)

    def self_seconds(self, idx: int) -> float:
        s = self.spans[idx]
        kids = [(c.start, c.end) for c in self.spans if c.parent == idx and c.end is not None]
        return (s.end - s.start) - union_length(kids, s.start, s.end)


class _SpanningContext(contextlib.AbstractContextManager):
    def __init__(self, tracer: Tracer, name: str, inner):
        self._tracer, self._name, self._inner = tracer, name, inner
        self._cm = None

    def __enter__(self):
        self._cm = self._tracer.span(self._name)
        self._cm.__enter__()
        return self._inner.__enter__()

    def __exit__(self, *exc):
        try:
            return self._inner.__exit__(*exc)
        finally:
            self._cm.__exit__(None, None, None)


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``intervals``, optionally clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class ProgressCollector:
    """StreamingQueryListener keeping each micro-batch's full ``durationMs``
    map (the package's own listener keeps only ``triggerExecution``)."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802
                pass

            def onQueryProgress(self, event):  # noqa: N802
                p = event.progress
                outer.progress.append({"run_id": str(p.runId), "query_id": str(p.id),
                                       "batch_id": p.batchId, "rows": p.numInputRows,
                                       "duration_ms": dict(p.durationMs or {})})

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                pass

        self.progress: list[dict] = []
        self.listener = _L()


def eventlog_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class EventLog:
    """Jobs, stages and tasks from one application's event log (times in
    seconds since the epoch, the same clock as ``time.time()``)."""

    jobs: dict[int, dict] = field(default_factory=dict)
    stages: dict[int, dict] = field(default_factory=dict)

    @classmethod
    def read(cls, log_dir: str) -> "EventLog":
        files = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
        if len(files) != 1:
            raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
        log = cls()
        with open(files[0], encoding="utf-8") as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    log.jobs[e["Job ID"]] = {
                        "submit": e["Submission Time"] / 1000.0, "end": None,
                        "stage_ids": e.get("Stage IDs", []),
                        "group": props.get("spark.jobGroup.id"),
                        "batch_id": props.get("streaming.sql.batchId"),
                        "query_id": props.get("sql.streaming.queryId"),
                    }
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in log.jobs:
                        log.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    st = log.stages.setdefault(e["Stage ID"], _new_stage())
                    m = e.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["tasks"] += 1
                    st["executor_run_ms"] += m.get("Executor Run Time", 0)
                    st["gc_ms"] += m.get("JVM GC Time", 0)
                    st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    st["spill_bytes"] += m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0)
        return log

    def jobs_in(self, start: float, end: float) -> list[int]:
        """Jobs submitted inside [start, end], whatever thread ran them."""
        return [j for j, d in self.jobs.items() if start <= d["submit"] <= end]

    def summary(self, start: float, end: float) -> dict[str, float]:
        jobs = self.jobs_in(start, end)
        stage_ids = {s for j in jobs for s in self.jobs[j]["stage_ids"] if s in self.stages}
        ran = [self.stages[s] for s in stage_ids if self.stages[s]["tasks"]]
        intervals = [(self.jobs[j]["submit"], self.jobs[j]["end"] or end) for j in jobs]
        out = {"jobs": len(jobs), "stages": len(ran),
               "job_busy_s": union_length(intervals, start, end)}
        for k in ("tasks", "executor_run_ms", "gc_ms", "shuffle_write_bytes", "spill_bytes"):
            out[k] = sum(st[k] for st in ran)
        return out


def _new_stage() -> dict:
    return {"tasks": 0, "executor_run_ms": 0, "gc_ms": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0}
