"""Span tracer for the traced run, kept entirely in the benchmark.

`Tracer.wrap(owner, attr, name)` replaces a public function or method of
the program with a wrapper that records a span: name, start, end, parent
span, op id and phase. Spans stay in memory and are written out when the
run ends. Nothing inside the program changes; `restore()` puts every
original back.

Spark work is attributed with the status tracker. The outermost
job-counting span on a thread tags the thread's jobs with a job group of
its own; threads started through `inheritable_thread_target` inherit
the tag. Any span that counts jobs records the group's job ids that
appeared while it was open (job-id deltas), and `job_tasks()` turns job
ids into task counts after the run.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str | None = None
    phase: str = ""
    jobs: list[int] = field(default_factory=list)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.phase = "setup"
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self.sc = None  # SparkContext, once a session exists

    # -- span bookkeeping -------------------------------------------------

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _group_jobs(self, group: str) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(group))

    def begin(self, name: str, op: str | None = None, jobs: bool = False):
        stack = self._stack()
        parent = stack[-1] if stack else None
        span = Span(
            next(self._ids), name, time.monotonic(),
            parent=parent[0].id if parent else None,
            op=op if op is not None else (parent[0].op if parent else None),
            phase=self.phase,
        )
        # the nearest enclosing job group; the outermost job-counting
        # span on a thread opens one of its own
        group = parent[1] if parent else None
        own, before = False, None
        if jobs and self.sc is not None:
            if group is None:
                group, own, before = f"perfbench-{span.id}", True, set()
                self.sc.setJobGroup(group, name)
            else:
                before = self._group_jobs(group)
        stack.append((span, group, before, own))
        return span

    def end(self) -> Span:
        span, group, before, own = self._stack().pop()
        if before is not None:
            span.jobs = sorted(self._group_jobs(group) - before)
        if own:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        span.end = time.monotonic()
        with self._lock:
            self.spans.append(span)
        return span

    # -- wrapping the program's public functions ----------------------------

    def _wrapper(self, orig, name: str, jobs: bool, op_arg):
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kw):
            tracer.begin(name, op_arg(args, kw) if op_arg else None, jobs)
            try:
                return orig(*args, **kw)
            finally:
                tracer.end()

        return wrapper

    def wrap(self, owner, attr: str, name: str, jobs: bool = False, op_arg=None):
        """Record a span around every call of `owner.attr`. `op_arg`
        extracts an op id from the call's arguments."""
        # on a class, the plain function (unbound), so restore() puts back
        # exactly what was there
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        setattr(owner, attr, self._wrapper(orig, name, jobs, op_arg))
        self._patched.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- results ------------------------------------------------------------

    def by_name(self, name: str, phases=None) -> list[Span]:
        return [
            s for s in self.spans
            if s.name == name and (phases is None or s.phase in phases)
        ]

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def self_ms(self, span: Span, kids: dict[int, list[Span]]) -> float:
        """Duration minus the part of it covered by child spans."""
        covered, edge = 0.0, span.start
        for c in sorted(kids.get(span.id, ()), key=lambda c: c.start):
            lo, hi = max(c.start, edge), min(c.end, span.end)
            if hi > lo:
                covered += hi - lo
                edge = hi
        return (span.end - span.start - covered) * 1000.0

    def job_tasks(self) -> dict[int, int]:
        """Task count per job id seen in any span (0 once Spark has
        dropped the job from its status store)."""
        st = self.sc.statusTracker()
        out: dict[int, int] = {}
        for jid in sorted({j for s in self.spans for j in s.jobs}):
            info = st.getJobInfo(jid)
            n = 0
            for sid in info.stageIds if info else ():
                stage = st.getStageInfo(sid)
                n += stage.numTasks if stage else 0
            out[jid] = n
        return out

    def calibrate_us(self, n: int = 2000) -> float:
        """Cost of one recorded span that counts no jobs, in µs."""

        def f():
            return None

        w = self._wrapper(f, "trace.calibrate", False, None)
        t0 = time.perf_counter()
        for _ in range(n):
            w()
        t1 = time.perf_counter()
        for _ in range(n):
            f()
        t2 = time.perf_counter()
        with self._lock:
            self.spans = [s for s in self.spans if s.name != "trace.calibrate"]
        return ((t1 - t0) - (t2 - t1)) / n * 1e6

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
