"""Span tracing from outside the program, plus JVM resource readings.

The traced run wraps the public entry points of each layer (see
``LAYER_ENTRY_POINTS``) with a recorder. Spans live in memory, each with
its parent's id, and are written out once at the end. A span opened on a
worker thread (the pipeline's ThreadPoolExecutor) has no open span of
its own thread, so it takes the innermost span open on the main thread
as its parent: one batch is in flight at a time, so that is the batch.

Spark jobs and stages are counted from ``sc.statusTracker()`` as the
difference in job ids around a span (worker threads do not inherit job
groups, so group-based attribution would miss their jobs). JVM CPU time
and peak RSS come from ``/proc/<jvm pid>``.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

# layer name -> (module path, attribute path) of each wrapped entry point
LAYER_ENTRY_POINTS = {
    "sources.adt_from_hl7": ("emap_spark.sources.hl7_text", "adt_from_hl7"),
    "pipeline.process_batch": ("emap_spark.streaming.pipeline", "MergePipeline.process_batch"),
    # the pipeline resolves the merge kernel through its own module globals
    "merge.build": ("emap_spark.streaming.pipeline", "merge_batch_versions"),
    "delta.read_current": ("emap_spark.storage.delta", "DeltaLog.read_current"),
    "delta.commit": ("emap_spark.storage.delta", "DeltaLog.commit"),
    # compaction has no public entry point; this span only counts and times it
    "delta.compact": ("emap_spark.storage.delta", "DeltaLog._compact"),
    # the engine resolves the location operators through its own globals
    "locations.infer": ("emap_spark.app", "infer_location_visits"),
    "locations.occupancy": ("emap_spark.app", "occupancy"),
    "collation.collate_batch": ("emap_spark.streaming.collation", "collate_batch"),
    "waveform_store.ingest": ("emap_spark.streaming.waveform_store", "WaveformStore.ingest"),
    "waveform_store.repair": ("emap_spark.streaming.waveform_store", "WaveformStore.repair"),
    "app.process_batch": ("emap_spark.app", "EmapEngine.process_batch"),
    "app.ingest_waveforms": ("emap_spark.app", "EmapEngine.ingest_waveforms"),
    "app.table": ("emap_spark.app", "EmapEngine.table"),
    "app.location_visits": ("emap_spark.app", "EmapEngine.location_visits"),
}

# spans around which Spark jobs/stages are counted (one batch or query
# at a time, so the job-id difference belongs to the span)
COUNTED = {"pipeline.process_batch", "app.ingest_waveforms", "collation.materialize",
           "sources.parse", "plans.exec"}


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    t0: float
    t1: float = 0.0
    jobs: int | None = None
    stages: int | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Records spans; ``enabled=False`` makes every method a no-op so the
    untraced run pays nothing."""

    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[Span] = []
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self.overhead_s = 0.0  # time spent inside open/close themselves

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list[Span]:
        if threading.current_thread() is self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _max_job_id(self) -> int:
        ids = self.spark.sparkContext.statusTracker().getJobIdsForGroup(None)
        return max(ids, default=-1)

    def _count_stages(self, lo: int, hi: int) -> int:
        tracker = self.spark.sparkContext.statusTracker()
        n = 0
        for j in range(lo + 1, hi + 1):
            info = tracker.getJobInfo(j)
            if info is not None:
                n += len(info.stageIds)
        return n

    def open(self, name: str, **attrs) -> Span | None:
        if not self.enabled:
            return None
        t = time.perf_counter()
        stack = self._stack()
        main_top = self._main_stack[-1:]  # a slice: safe if the main thread pops
        parent = stack[-1] if stack else (main_top[0] if main_top else None)
        with self._lock:
            span = Span(len(self.spans), parent.id if parent else None, name,
                        time.perf_counter(), attrs=attrs)
            self.spans.append(span)
        if name in COUNTED:
            span.jobs = self._max_job_id()
        stack.append(span)
        span.t0 = time.perf_counter()
        with self._lock:
            self.overhead_s += span.t0 - t
        return span

    def close(self, span: Span | None) -> None:
        if span is None:
            return
        span.t1 = time.perf_counter()
        if span.jobs is not None:
            hi = self._max_job_id()
            lo, span.jobs = span.jobs, hi - span.jobs
            span.stages = self._count_stages(lo, hi)
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()
        with self._lock:
            self.overhead_s += time.perf_counter() - span.t1

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        s = self.open(name, **attrs)
        try:
            yield s
        finally:
            self.close(s)

    # -- wrapping entry points ----------------------------------------------
    def install(self) -> None:
        """Wrap every entry point in LAYER_ENTRY_POINTS."""
        if not self.enabled:
            return
        import importlib

        for name, (mod_path, attr_path) in LAYER_ENTRY_POINTS.items():
            owner = importlib.import_module(mod_path)
            *outer, attr = attr_path.split(".")
            for o in outer:
                owner = getattr(owner, o)
            orig = getattr(owner, attr)
            setattr(owner, attr, self._wrap(orig, name))
            self._patched.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            s = tracer.open(name)
            try:
                out = fn(*args, **kwargs)
                if isinstance(out, int) and s is not None:
                    s.attrs["result"] = out  # e.g. rows repaired, actions spent
                return out
            finally:
                tracer.close(s)

        return wrapper

    # -- analysis ----------------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's
        intervals (clipped to the span)."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, end = 0.0, s.t0
            for c in sorted(children.get(s.id, []), key=lambda c: c.t0):
                lo, hi = max(c.t0, end), min(c.t1, s.t1)
                if hi > lo:
                    covered += hi - lo
                    end = hi
            out[s.id] = (s.t1 - s.t0) - covered
        return out

    def write(self, path: str) -> None:
        selfs = self.self_times()
        by_name: dict[str, list[float]] = {}
        for s in self.spans:
            by_name.setdefault(s.name, []).append(selfs[s.id])
        doc = {
            "spans": [
                {"id": s.id, "parent": s.parent, "name": s.name, "t0": s.t0,
                 "t1": s.t1, "self": selfs[s.id], "jobs": s.jobs,
                 "stages": s.stages, **s.attrs}
                for s in self.spans
            ],
            "self_time_by_name": {
                n: {"count": len(v), "total_s": sum(v), "median_s": statistics.median(v)}
                for n, v in sorted(by_name.items())
            },
        }
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=1)


# --------------------------------------------------------------------------
# JVM readings from /proc
# --------------------------------------------------------------------------
def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def jvm_cpu_s(pid: int) -> float:
    """utime + stime of the JVM process, in seconds."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile, q in [0, 1]."""
    v = sorted(values)
    if not v:
        raise ValueError("quantile of no values")
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)
