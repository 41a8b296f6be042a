"""Tracing from the benchmark's side of each layer's entry point.

A traced run wraps each layer's public entry point in the benchmark's own
code. The wrapper records a span (name, start, end, parent span on the same
thread) and adds the layer's Spark job tag for the duration of the call,
so every job the call submits carries it. After the run, the Spark event
log is folded by tag into per-layer task, shuffle, spill and GC figures.
Nothing under ``joern_spark/`` is edited: wrappers are installed on the
module attributes the pipeline looks up at call time and removed after.

Layers and their entry points:

- ``ast_pass``       ``SpillDir.write(name="ast_rows")``
- ``type_recovery``  ``collect_recovery_dicts``
- ``method_kernels`` ``SpillDir.write(name="kernel_rows")``
- ``base_passes``    ``SpillDir.write(name="edges_base_norec")``
- ``callgraph``      ``SpillDir.write(name="call_candidates" | "edges_call_fa")``
- ``triples``        the benchmark's own triples write
- ``dataflow``       ``FlowEngine.flow``
- ``scan``           ``run_scan`` plus its findings materialization
- ``analytics``      each analytics representative
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from collections.abc import Iterable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench.stats import median, uncovered, union_length

BUILD_LAYERS = ("ast_pass", "type_recovery", "method_kernels", "base_passes",
                "callgraph", "triples")
LAYERS = BUILD_LAYERS + ("dataflow", "scan", "analytics")
SPILL_LAYER = {
    "ast_rows": "ast_pass",
    "kernel_rows": "method_kernels",
    "edges_base_norec": "base_passes",
    "call_candidates": "callgraph",
    "edges_call_fa": "callgraph",
}
_MB = 1e6


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None


@dataclass
class Tracer:
    """Spans plus job tags. Disabled, every method is a no-op, so the same
    workload code runs traced and untraced."""

    sc: object = None
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    spill_writes: list[dict] = field(default_factory=list)
    _ids: Iterator[int] = field(default_factory=itertools.count)
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    @contextmanager
    def span(self, name: str, tag: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        if tag:
            self.sc.addJobTag(tag)
        stack.append(sid)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            stack.pop()
            if tag:
                self.sc.removeJobTag(tag)
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent))

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.sid]

    @contextmanager
    def installed(self):
        """Wrap the layer entry points for the duration of the block."""
        if not self.enabled:
            yield
            return
        from joern_spark.dataflow import FlowEngine
        from joern_spark.operators import type_recovery
        from joern_spark.spill import SpillDir

        orig_write = SpillDir.write
        orig_dicts = type_recovery.collect_recovery_dicts
        orig_flow = FlowEngine.flow
        tracer = self

        def write(spill, df, name, *args, **kwargs):
            layer = SPILL_LAYER.get(name)
            start = time.time()
            with tracer.span(f"spill.{name}", tag=layer):
                out = orig_write(spill, df, name, *args, **kwargs)
            wall = time.time() - start
            files, size = _dir_files(os.path.join(spill.root, name))
            with tracer._lock:
                tracer.spill_writes.append(
                    {"name": name, "wall_s": wall, "files": files,
                     "bytes": size})
            return out

        def dicts(*args, **kwargs):
            with tracer.span("type_recovery.dicts", tag="type_recovery"):
                return orig_dicts(*args, **kwargs)

        def flow(engine, *args, **kwargs):
            with tracer.span("dataflow.flow", tag="dataflow"):
                return orig_flow(engine, *args, **kwargs)

        SpillDir.write = write
        type_recovery.collect_recovery_dicts = dicts
        FlowEngine.flow = flow
        try:
            yield
        finally:
            SpillDir.write = orig_write
            type_recovery.collect_recovery_dicts = orig_dicts
            FlowEngine.flow = orig_flow


def _dir_files(path: str) -> tuple[int, int]:
    """(data file count, total bytes) under a spill directory."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


# ---------------------------------------------------------------------------
# event log fold
# ---------------------------------------------------------------------------

@dataclass
class StageRun:
    """One attempt of one stage, with its tasks' metrics summed."""

    tags: frozenset
    submit: float | None = None
    complete: float | None = None
    run_ms: list[int] = field(default_factory=list)
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0


@dataclass
class EventLog:
    stages: dict[tuple[int, int], StageRun] = field(default_factory=dict)
    # job id -> (tags, submission time)
    jobs: dict[int, tuple[frozenset, float]] = field(default_factory=dict)


def _tags(props: dict | None) -> frozenset:
    """The benchmark's layer tags among a job's tags. Spark SQL adds its own
    (``spark-session-<id>``, ``...-execution-root-id-<n>``) to every job."""
    raw = (props or {}).get("spark.job.tags") or ""
    return frozenset(t for t in raw.split(",") if t in LAYERS)


def parse_events(lines: Iterable[str]) -> EventLog:
    """Fold Spark event-log JSON lines into stage attempts and jobs. Times
    are converted from epoch milliseconds to epoch seconds."""
    log = EventLog()
    for line in lines:
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue  # a torn last line of an in-progress log
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            log.jobs[ev["Job ID"]] = (_tags(ev.get("Properties")),
                                      ev["Submission Time"] / 1000)
        elif kind == "SparkListenerStageSubmitted":
            si = ev["Stage Info"]
            key = (si["Stage ID"], si.get("Stage Attempt ID", 0))
            st = log.stages.setdefault(key, StageRun(_tags(ev.get("Properties"))))
            if si.get("Submission Time"):
                st.submit = si["Submission Time"] / 1000
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            key = (si["Stage ID"], si.get("Stage Attempt ID", 0))
            st = log.stages.setdefault(key, StageRun(frozenset()))
            if si.get("Submission Time"):
                st.submit = si["Submission Time"] / 1000
            if si.get("Completion Time"):
                st.complete = si["Completion Time"] / 1000
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            st = log.stages.setdefault(key, StageRun(frozenset()))
            m = ev.get("Task Metrics") or {}
            st.run_ms.append(m.get("Executor Run Time", 0))
            st.cpu_ns += m.get("Executor CPU Time", 0)
            st.gc_ms += m.get("JVM GC Time", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read += (sr.get("Remote Bytes Read", 0)
                                + sr.get("Local Bytes Read", 0))
            sw = m.get("Shuffle Write Metrics") or {}
            st.shuffle_write += sw.get("Shuffle Bytes Written", 0)
            st.spill += m.get("Disk Bytes Spilled", 0)
    return log


def read_event_log(directory: str) -> EventLog:
    """Parse the (single, uncompressed) event log file in ``directory``."""
    names = sorted(n for n in os.listdir(directory) if not n.startswith("."))
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {directory}: {names}")
    with open(os.path.join(directory, names[0])) as fh:
        return parse_events(fh)


def stages_in(log: EventLog, windows: list[tuple[float, float]]) -> list[StageRun]:
    """Stage attempts that ran tasks and were submitted inside a window."""
    return [st for st in log.stages.values()
            if st.submit is not None and st.run_ms
            and any(lo <= st.submit <= hi for lo, hi in windows)]


def jobs_in(log: EventLog, windows: list[tuple[float, float]],
            tag: str | None = None) -> int:
    return sum(1 for tags, t in log.jobs.values()
               if any(lo <= t <= hi for lo, hi in windows)
               and (tag is None or tag in tags))


def running(stages: Iterable[StageRun]) -> list[tuple[float, float]]:
    return [(st.submit, st.complete) for st in stages
            if st.submit is not None and st.complete is not None]


def layer_metrics(stages: list[StageRun], tag: str) -> dict[str, float]:
    """A layer's figures, over the stages carrying its ``tag``.

    ``task_skew`` is max ÷ median task run time in the layer's heaviest
    stage (largest summed run time): a hot key shows there, while mixing
    the tasks of unrelated stages would hide it."""
    mine = [st for st in stages if tag in st.tags]
    heavy = max(mine, key=lambda st: sum(st.run_ms), default=None)
    skew = 0.0
    if heavy is not None:
        mid = median(heavy.run_ms)
        skew = max(heavy.run_ms) / mid if mid > 0 else 1.0
    return {
        "busy_s": union_length(running(mine)),
        "task_run_s": sum(sum(st.run_ms) for st in mine) / 1000,
        "jvm_cpu_s": sum(st.cpu_ns for st in mine) / 1e9,
        "tasks": sum(len(st.run_ms) for st in mine),
        "task_skew": skew,
        "shuffle_read_mb": sum(st.shuffle_read for st in mine) / _MB,
        "shuffle_write_mb": sum(st.shuffle_write for st in mine) / _MB,
        "spill_mb": sum(st.spill for st in mine) / _MB,
        "gc_s": sum(st.gc_ms for st in mine) / 1000,
    }


def untagged_share(stages: list[StageRun]) -> float:
    total = sum(sum(st.run_ms) for st in stages)
    bare = sum(sum(st.run_ms) for st in stages if not st.tags)
    return bare / total if total else 0.0


def driver_gap(span: tuple[float, float], stages: list[StageRun]) -> float:
    """Wall time of ``span`` during which no stage was running."""
    return uncovered(span[0], span[1], running(stages))


def self_time(span: Span, children: list[Span]) -> float:
    return uncovered(span.start, span.end,
                     [(c.start, c.end) for c in children])
