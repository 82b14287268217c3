"""Spans around calls into each ``etlp_spark`` layer, plus Spark's
event log, for the benchmark's traced run.

A span records a name, its layer, start, end and the span that caused
it; spans stay in memory and are written out when the run ends. The
benchmark instruments the program from outside: while tracing is on,
every public function of a layer's modules (``__all__``, else every
name without a leading underscore) and every
public method of the classes they export is replaced by a wrapper that
opens a span, and the originals are restored afterwards.

Spark work runs after the Python call returns, so task-level counters
come from the event log instead: each Spark job is attributed to the
innermost benchmark span that was open when the job was submitted
(one client in a closed loop, so spans never overlap except by
nesting), and every op span also sets the job description to its span
id so the attribution can be read back in the log itself.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: layer name -> modules whose public functions belong to it.
LAYER_MODULES = {
    "session": ("etlp_spark.session",),
    "io": ("etlp_spark.io",),
    "queries": ("etlp_spark.ops", "etlp_spark.ops_temporal"),
    "functions.dedup": ("etlp_spark.functions.dedup",),
    "functions.similarity": ("etlp_spark.functions.similarity",),
    "functions.ann_index": ("etlp_spark.functions.ann_index",),
    "functions.text": ("etlp_spark.functions.text",),
    "functions.sketches": ("etlp_spark.functions.sketches",),
    "functions.graph": ("etlp_spark.functions.graph",),
    "config": ("etlp_spark.config",),
    "mapping": ("etlp_spark.mapping",),
    "expectations": ("etlp_spark.expectations", "etlp_spark.envelope"),
    "pipeline": ("etlp_spark.pipeline",),
    "streaming": ("etlp_spark.streaming",),
    "connectors.files": ("etlp_spark.connectors.files",),
    "connectors.snapshots": ("etlp_spark.connectors.snapshots",),
}
LAYERS = tuple(LAYER_MODULES)
FUNCTION_MODULES = tuple(l.split(".", 1)[1] for l in LAYERS if l.startswith("functions."))


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Spans are only recorded while
    ``enabled``; wrappers installed by ``instrument`` cost one flag
    test when it is off."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self._ids = 0
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        # One shared stack for all threads: foreachBatch callbacks run on
        # py4j threads while the benchmark thread is blocked waiting for
        # the stream, so their spans nest under the open op span.
        with self._lock:
            self._ids += 1
            parent = self._stack[-1].id if self._stack else None
            s = Span(self._ids, name, layer, time.time(), parent=parent)
            self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            with self._lock:
                self._stack.remove(s)
                self.spans.append(s)

    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name, layer):
                return fn(*args, **kwargs)

        traced.__wrapped_by_perfbench__ = True
        return traced

    def instrument(self) -> None:
        """Wrap every public function and public method of each layer."""
        for layer, mods in LAYER_MODULES.items():
            for mod_name in mods:
                mod = importlib.import_module(mod_name)
                names = getattr(mod, "__all__", None) or [n for n in vars(mod) if not n.startswith("_")]
                for attr in names:
                    obj = getattr(mod, attr, None)
                    if inspect.isfunction(obj) and obj.__module__ == mod_name:
                        self._patch(mod, attr, obj, f"{mod_name.rsplit('.', 1)[1]}.{attr}", layer)
                    elif inspect.isclass(obj) and obj.__module__ == mod_name:
                        for meth, fn in list(vars(obj).items()):
                            if not meth.startswith("_") and inspect.isfunction(fn):
                                self._patch(obj, meth, fn, f"{obj.__name__}.{meth}", layer)

    def _patch(self, owner, attr: str, fn, name: str, layer: str) -> None:
        if getattr(fn, "__wrapped_by_perfbench__", False):
            return
        self._patched.append((owner, attr, fn))
        setattr(owner, attr, self._wrap(fn, name, layer))

    def restore(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(vars(s)) + "\n")


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per layer: span duration minus the part its child spans cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {layer: 0.0 for layer in LAYERS}
    for s in spans:
        covered, cursor = 0.0, s.start
        for c in sorted(children.get(s.id, ()), key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        if s.layer in out:
            out[s.layer] += max(s.dur - covered, 0.0)
    return out


def layer_time(spans: list[Span], layer: str) -> float:
    """Wall time inside a layer's outermost spans (nested calls into the
    same layer are not double counted)."""
    by_id = {s.id: s for s in spans}

    def outer(s: Span) -> bool:
        p = by_id.get(s.parent)
        while p is not None:
            if p.layer == layer:
                return False
            p = by_id.get(p.parent)
        return True

    return sum(s.dur for s in spans if s.layer == layer and outer(s))


def layers_under(spans: list[Span], root: Span) -> set[str]:
    """Layers called (transitively) inside ``root``."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out, todo = set(), [root.id]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.add(c.layer)
            todo.append(c.id)
    return out


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


@dataclass
class Task:
    stage: int
    run_s: float
    gc_s: float
    input_bytes: int
    input_rows: int
    shuffle_write: int
    spill: int
    python_bytes: int


@dataclass
class Job:
    id: int
    submitted: float
    description: str
    stages: list[int]
    tasks: list[Task] = field(default_factory=list)


def read_event_logs(log_dir: str) -> list[Job]:
    """Jobs (with their tasks) from every event log in ``log_dir``."""
    jobs: list[Job] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        stage_job: dict[int, Job] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job = Job(
                        ev["Job ID"], ev["Submission Time"] / 1000.0,
                        (ev.get("Properties") or {}).get("spark.job.description") or "",
                        list(ev.get("Stage IDs", ())),
                    )
                    jobs.append(job)
                    for sid in job.stages:
                        stage_job[sid] = job
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get(ev["Stage ID"])
                    m = ev.get("Task Metrics") or {}
                    if job is None or not m:
                        continue
                    py = sum(
                        int(a.get("Update", 0) or 0)
                        for a in (ev.get("Task Info") or {}).get("Accumulables", ())
                        if "sent to Python" in str(a.get("Name", ""))
                    )
                    job.tasks.append(Task(
                        ev["Stage ID"],
                        m.get("Executor Run Time", 0) / 1000.0,
                        m.get("JVM GC Time", 0) / 1000.0,
                        (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                        (m.get("Input Metrics") or {}).get("Records Read", 0),
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        py,
                    ))
    return jobs


def attribute_jobs(jobs: list[Job], spans: list[Span]) -> dict[int, list[Job]]:
    """span id -> jobs submitted while it was the innermost open span.
    Event-log times have millisecond resolution, hence the slack; a job
    whose description names an op span stays inside that op."""
    by_id = {s.id: s for s in spans}
    out: dict[int, list[Job]] = {}
    for job in jobs:
        t = job.submitted
        inside = [s for s in spans if s.start - 0.002 <= t <= s.end + 0.002]
        if job.description.startswith("perfbench:"):
            tag = int(job.description.split(":")[1])
            if tag in by_id:
                inside = [s for s in inside if descends(by_id, s, tag)] or [by_id[tag]]
        if inside:
            out.setdefault(min(inside, key=lambda s: s.dur).id, []).append(job)
    return out


def descends(by_id: dict[int, Span], s: Span, ancestor: int) -> bool:
    while s is not None:
        if s.id == ancestor:
            return True
        s = by_id.get(s.parent)
    return False


def task_skew(jobs: list[Job]) -> float:
    """Max over median task time in the longest stage (by summed task
    time) of these jobs; 1.0 when there are no tasks."""
    stages: dict[int, list[float]] = {}
    for j in jobs:
        for t in j.tasks:
            stages.setdefault(t.stage, []).append(t.run_s)
    if not stages:
        return 1.0
    longest = max(stages.values(), key=sum)
    med = statistics.median(longest)
    return max(longest) / med if med > 0 else 1.0
