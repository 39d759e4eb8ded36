"""Spans around the engine's public functions, and the Spark event-log
reader that attributes jobs and tasks to them.

The tracer lives entirely outside the engine: ``Tracer.install`` rebinds
every module attribute of the engine that refers to a public function
(including private aliases such as ``correlation._persist`` for
``plans.materialize``) to a wrapper that opens a span. While a span is
open on a thread, that thread's Spark job group is the span's id, so the
event log attributes each job, stage and task to the innermost span that
forced it.

Spark is lazy: a layer's jobs run under whichever span triggers them
(often ``plans.materialize`` or the benchmark's own collect), so a
layer's self time is Spark driver time in its functions plus the jobs it
forces.

Everything except ``Tracer.install`` and the job-group calls is pure
Python, so self time and the event-log attribution are unit-tested on
hand-built inputs.
"""

from __future__ import annotations

import functools
import json
import threading
import time
import types
from contextlib import contextmanager
from dataclasses import dataclass, field

# engine sub-packages whose public functions get spans; functions/ holds
# Column builders (called per expression, not per layer step), session/
# and streaming/ are outside the measured workloads
TRACED_PACKAGES = ("operators", "plans", "serving", "sources")
GROUP_PROP = "spark.jobGroup.id"


def layer_of(module: str) -> str:
    """``propius_spark.operators.cells`` → ``cells``;
    ``propius_spark.sources.occurrences`` → ``sources``."""
    parts = module.split(".")
    if len(parts) > 2 and parts[1] == "operators":
        return parts[2]
    return parts[1] if len(parts) > 1 else parts[0]


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    start: float
    end: float | None = None

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def group(self) -> str:
        return f"span-{self.sid}"


@dataclass
class Tracer:
    """In-memory span recorder. ``sc`` (a SparkContext) is optional:
    without it no job groups are set, which is how the unit tests run."""

    sc: object = None
    spans: list[Span] = field(default_factory=list)
    # function name → DataFrames it returned while ``recording`` is set
    outputs: dict[str, list] = field(default_factory=dict)
    recording: bool = False
    clock: object = time.time

    def __post_init__(self):
        self._lock = threading.Lock()
        self._local = threading.local()
        self._installed: list[tuple[types.ModuleType, str, object]] = []
        self._owner = threading.get_ident()
        self._owner_stack: list[Span] = []

    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._owner:
            return self._owner_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, group: str | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(GROUP_PROP, group)

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        # a span opened on a helper thread with nothing open there hangs
        # under the span its creator had open (publish_model's dim-side
        # thread, for one)
        parent = stack[-1] if stack else (
            self._owner_stack[-1] if self._owner_stack else None
        )
        with self._lock:
            s = Span(len(self.spans), parent.sid if parent else None, name, self.clock())
            self.spans.append(s)
        stack.append(s)
        self._set_group(s.group)
        try:
            yield s
        finally:
            s.end = self.clock()
            stack.pop()
            self._set_group(stack[-1].group if stack else None)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if self.recording:
                self.outputs.setdefault(name, []).append(out)
            return out

        return traced

    def install(self, modules) -> int:
        """Rebind every attribute, in every module of ``modules``, that
        refers to a public function defined in a traced engine package.
        Returns the number of distinct functions wrapped."""
        wrappers: dict[int, object] = {}
        for mod in modules:
            for attr, val in list(vars(mod).items()):
                if not isinstance(val, types.FunctionType):
                    continue
                origin = getattr(val, "__module__", "") or ""
                parts = origin.split(".")
                if (
                    parts[0] != "propius_spark"
                    or len(parts) < 2
                    or parts[1] not in TRACED_PACKAGES
                    or val.__name__.startswith("_")
                ):
                    continue
                if id(val) not in wrappers:
                    wrappers[id(val)] = self.wrap(
                        val, f"{layer_of(origin)}.{val.__name__}"
                    )
                self._installed.append((mod, attr, val))
                setattr(mod, attr, wrappers[id(val)])
        return len(wrappers)

    def uninstall(self) -> None:
        for mod, attr, val in reversed(self._installed):
            setattr(mod, attr, val)
        self._installed.clear()

    # ------------------------------------------------------ tree queries

    def children(self) -> dict[int | None, list[Span]]:
        out: dict[int | None, list[Span]] = {}
        for s in self.spans:
            out.setdefault(s.parent, []).append(s)
        return out

    def subtree(self, root: Span) -> list[Span]:
        kids = self.children()
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.sid, []))
        return out


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover.
    Overlapping children (threads) count once."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return {
        s.sid: (s.end - s.start)
        - covered([(c.start, c.end) for c in kids.get(s.sid, [])], s.start, s.end)
        for s in spans
    }


# ------------------------------------------------------------ event log


@dataclass
class Job:
    job_id: int
    group: str | None
    start: float  # seconds since the epoch
    end: float | None = None


@dataclass
class Task:
    stage: int
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write_b: int
    spill_b: int


@dataclass
class EventLog:
    jobs: list[Job] = field(default_factory=list)
    tasks: list[Task] = field(default_factory=list)
    stage_group: dict[int, str | None] = field(default_factory=dict)
    # stages whose plan runs a pandas/Arrow Python worker
    python_stages: set[int] = field(default_factory=set)
    peak_rss_b: int = 0

    def jobs_in(self, groups: set[str]) -> list[Job]:
        return [j for j in self.jobs if j.group in groups]

    def tasks_in(self, groups: set[str]) -> list[Task]:
        return [t for t in self.tasks if self.stage_group.get(t.stage) in groups]


_PYTHON_OPS = ("InPandas", "ArrowEvalPython", "BatchEvalPython", "PythonUDF")


def parse_event_log(lines) -> EventLog:
    """Read a Spark event log (uncompressed JSON lines)."""
    log = EventLog()
    by_id: dict[int, Job] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            j = Job(ev["Job ID"], props.get(GROUP_PROP), ev["Submission Time"] / 1000.0)
            by_id[j.job_id] = j
            log.jobs.append(j)
        elif kind == "SparkListenerJobEnd":
            j = by_id.get(ev["Job ID"])
            if j is not None:
                j.end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            log.stage_group[sid] = (ev.get("Properties") or {}).get(GROUP_PROP)
            scopes = " ".join(
                str(r.get("Scope", "")) + str(r.get("Name", ""))
                for r in info.get("RDD Info") or []
            )
            if any(op in scopes for op in _PYTHON_OPS):
                log.python_stages.add(sid)
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            log.tasks.append(
                Task(
                    stage=ev["Stage ID"],
                    run_s=m.get("Executor Run Time", 0) / 1000.0,
                    cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                    gc_s=m.get("JVM GC Time", 0) / 1000.0,
                    shuffle_write_b=sw.get("Shuffle Bytes Written", 0),
                    spill_b=m.get("Disk Bytes Spilled", 0),
                )
            )
        elif kind == "SparkListenerStageExecutorMetrics":
            em = ev.get("Executor Metrics") or {}
            rss = em.get("ProcessTreeJVMRSSMemory", 0) or (
                em.get("JVMHeapMemory", 0) + em.get("JVMOffHeapMemory", 0)
            )
            log.peak_rss_b = max(log.peak_rss_b, rss)
    return log


def driver_gap(span: Span, jobs: list[Job]) -> float:
    """Time inside ``span`` with no job of ``jobs`` running."""
    return (span.end - span.start) - covered(
        [(j.start, j.end) for j in jobs if j.end is not None], span.start, span.end
    )
