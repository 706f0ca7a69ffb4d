"""Span tracer for the traced run.

Spans are recorded from the benchmark's own files: ``install`` replaces
each public function of a layer module (and every module-level name that
was imported from one, such as ``pipelines.eigenvector_centrality``) with
a wrapper that opens a span around the call. The program is not changed.

A span records name, start, end, parent and op id; spans stay in memory
until the run ends. Per span the tracer also reads the CPU seconds of
the JVM process tree from /proc (for ``parallelism``) and, through a
per-span Spark job group, the jobs and tasks the span ran.
"""

from __future__ import annotations

import contextlib
import os
import time
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")


def proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, user+system clock ticks) for every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        rest = raw[raw.rindex(")") + 2:].split()
        out[int(name)] = (int(rest[1]), int(rest[11]) + int(rest[12]))
    return out


def descendants(root_pid: int, table: dict | None = None) -> list[int]:
    table = proc_table() if table is None else table
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root_pid]
    while todo:
        for k in children.get(todo.pop(), ()):
            out.append(k)
            todo.append(k)
    return out


def proc_tree_cpu(root_pid: int) -> float:
    """User+system CPU seconds of ``root_pid`` and all its descendants."""
    table = proc_table()
    pids = [root_pid, *descendants(root_pid, table)]
    return sum(table[p][1] for p in pids if p in table) / CLK_TCK


@dataclass
class Span:
    name: str
    kind: str  # "call", "exec" or "op"
    start: float
    parent: int | None
    op: int | None
    end: float = 0.0
    cpu0: float = 0.0
    cpu1: float = 0.0
    jobs: int = 0
    tasks: int = 0
    extra: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval that its
    direct children cover (children of one parent may overlap)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = []
    for i, s in enumerate(spans):
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(kids.get(i, ()), key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out.append(s.dur - covered)
    return out


class Tracer:
    """Collects spans. ``sc`` (a SparkContext) and ``jvm_pid`` are
    optional so the arithmetic can be tested without Spark."""

    def __init__(self, sc=None, jvm_pid: int | None = None, clock=time.perf_counter):
        self.sc = sc
        self.jvm_pid = jvm_pid
        self.clock = clock
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.op: int | None = None
        # id(DataFrame) -> (the frame, producing function); holding the
        # frame keeps its id from being reused by another
        self.origin: dict[int, tuple] = {}
        self.overhead = 0.0  # seconds spent in tracer bookkeeping

    def _cpu(self) -> float:
        return proc_tree_cpu(self.jvm_pid) if self.jvm_pid else 0.0

    def begin(self, name: str, kind: str) -> int:
        t = self.clock()
        parent = self.stack[-1] if self.stack else None
        idx = len(self.spans)
        span = Span(name, kind, 0.0, parent, self.op, cpu0=self._cpu())
        self.spans.append(span)
        self.stack.append(idx)
        if self.sc is not None:
            self.sc.setJobGroup(f"span{idx}", name)
        span.start = self.clock()
        self.overhead += span.start - t
        return idx

    def end(self, idx: int) -> None:
        t = self.clock()
        span = self.spans[idx]
        span.end = t
        span.cpu1 = self._cpu()
        self.stack.pop()
        if self.sc is not None:
            st = self.sc.statusTracker()
            jobs = st.getJobIdsForGroup(f"span{idx}")
            span.jobs = len(jobs)
            for j in jobs:
                info = st.getJobInfo(j)
                for sid in (info.stageIds if info else ()):
                    stage = st.getStageInfo(sid)
                    span.tasks += stage.numTasks if stage else 0
            parent = self.stack[-1] if self.stack else None
            if parent is None:
                self.sc.setJobGroup("untraced", "untraced")
            else:
                self.sc.setJobGroup(f"span{parent}", self.spans[parent].name)
        self.overhead += self.clock() - t

    @contextlib.contextmanager
    def span(self, name: str, kind: str = "call"):
        idx = self.begin(name, kind)
        try:
            yield self.spans[idx]
        finally:
            self.end(idx)

    def register(self, out, name: str) -> None:
        """Remember which function built each returned DataFrame, so the
        action that runs it is timed as that function's ``exec`` span. A
        frame passed on by an outer function (``pipelines`` returning what
        ``stats.rarefy`` built) keeps its innermost producer."""
        from pyspark.sql import DataFrame

        frames = out.values() if isinstance(out, dict) else [out]
        for v in frames:
            if isinstance(v, DataFrame):
                self.origin.setdefault(id(v), (v, name))

    def producer(self, df) -> str | None:
        return self.origin.get(id(df), (None, None))[1]

    def inclusive(self, attr: str) -> list[float]:
        """Per span, ``attr`` summed over the span and its descendants."""
        tot = [float(getattr(s, attr)) for s in self.spans]
        for i in range(len(self.spans) - 1, -1, -1):
            p = self.spans[i].parent
            if p is not None:
                tot[p] += tot[i]
        return tot


def _wrap(tracer: Tracer, fn, name: str, on_result):
    def wrapper(*args, **kwargs):
        # a function calling itself (or re-entering through an imported
        # alias) is counted once, at its outermost call
        if any(tracer.spans[i].name == name for i in tracer.stack):
            return fn(*args, **kwargs)
        with tracer.span(name, "call") as span:
            out = fn(*args, **kwargs)
        t = tracer.clock()
        tracer.register(out, name)
        if on_result is not None:
            on_result(name, span, args, kwargs, out)
        tracer.overhead += tracer.clock() - t
        return out

    wrapper.__wrapped__ = fn
    wrapper.__name__ = getattr(fn, "__name__", name)
    return wrapper


def install(tracer: Tracer, modules: dict, on_result=None) -> list:
    """Wrap every public function defined in one of ``modules`` (short
    name -> module), wherever it is bound in those modules. Returns the
    (module, attribute, original) list that ``uninstall`` restores."""
    by_module = {m.__name__: short for short, m in modules.items()}
    wrappers: dict[int, object] = {}
    patched = []
    for mod in modules.values():
        for attr, fn in list(vars(mod).items()):
            if attr.startswith("_") or not callable(fn) or isinstance(fn, type):
                continue
            home = by_module.get(getattr(fn, "__module__", None))
            if home is None or not hasattr(fn, "__code__"):
                continue
            name = f"{home}.{fn.__name__}"
            if id(fn) not in wrappers:
                wrappers[id(fn)] = _wrap(tracer, fn, name, on_result)
            setattr(mod, attr, wrappers[id(fn)])
            patched.append((mod, attr, fn))
    return patched


def uninstall(patched: list) -> None:
    for mod, attr, fn in patched:
        setattr(mod, attr, fn)
