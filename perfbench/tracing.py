"""Measurement plumbing: spans with Spark job groups, stage metrics from
the live status store, executed-plan shape counts and a process-tree
RSS sampler.

A span is one call into a layer, timed from the benchmark's side. While
it runs, the span's name is the Spark job group, so every job the call
starts can be attributed to it afterwards. A lazy layer call only builds
a plan; the traced pass then forces its output (``localCheckpoint``)
under the same span, so the next layer starts from materialized data.
Jobs started while the call itself runs carry the group ``<span>.build``:
those are eager materializations inside the layer call itself.
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

BUILD = ".build"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    build_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class NullTracer:
    """Untraced passes: layer calls run exactly as a user makes them."""

    traced = False

    def call(self, name, fn, *args, force=False, **kwargs):
        return fn(*args, **kwargs)

    @contextmanager
    def span(self, name):
        yield

    @contextmanager
    def patch(self, targets):
        yield


class Tracer:
    """Records spans and sets the job group of every call it wraps."""

    traced = True

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.inputs: dict = {}  # layer -> first argument of its last call
        self.outputs: dict = {}  # layer -> its last materialized output
        self._stack: list[int] = []
        self._groups: list[str | None] = []

    def _set_group(self, group: str | None) -> None:
        """Make ``group`` the job group of the innermost open span."""
        if self._groups:
            self._groups[-1] = group
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), parent=parent))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        self._groups.append(name)
        self._set_group(name)
        try:
            yield self.spans[idx]
        finally:
            self.spans[idx].end = time.time()
            self._stack.pop()
            self._groups.pop()
            self.sc.setLocalProperty(
                "spark.jobGroup.id", self._groups[-1] if self._groups else None
            )

    def call(self, name, fn, *args, force=False, **kwargs):
        """Run ``fn`` as layer ``name``. With ``force`` the call only builds
        a plan: it runs under ``<name>.build`` and its DataFrame output
        is then materialized under ``<name>``."""
        self.inputs[name] = args[0] if args else None
        with self.span(name) as sp:
            if not force:
                return fn(*args, **kwargs)
            self._set_group(name + BUILD)
            t0 = time.time()
            out = fn(*args, **kwargs)
            sp.build_s += time.time() - t0
            self._set_group(name)
            self.outputs[name] = out.localCheckpoint(eager=True)
            return self.outputs[name]

    @contextmanager
    def patch(self, targets):
        """Route calls to ``module.attr`` through ``call`` as a layer, for
        each ``(module, attr) -> (layer, force)`` in ``targets``."""
        saved = {k: getattr(*k) for k in targets}
        try:
            for (mod, attr), (layer, force) in targets.items():
                setattr(mod, attr, self._wrap(layer, saved[(mod, attr)], force))
            yield
        finally:
            for (mod, attr), fn in saved.items():
                setattr(mod, attr, fn)

    def _wrap(self, layer, fn, force):
        def wrapped(*args, **kwargs):
            return self.call(layer, fn, *args, force=force, **kwargs)

        return wrapped

    def build_self_s(self) -> float:
        """Wall time inside the plan-building calls of forced layers, minus the
        child spans those calls contain."""
        own = [s.build_s for s in self.spans]
        for s in self.spans:
            if s.parent is not None and self.spans[s.parent].build_s:
                own[s.parent] -= s.dur
        return sum(own)

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the time its child spans cover."""
        own = [s.dur for s in self.spans]
        for s in self.spans:
            if s.parent is not None:
                own[s.parent] -= s.dur
        out: dict[str, float] = {}
        for s, t in zip(self.spans, own):
            out[s.name] = out.get(s.name, 0.0) + t
        return out


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.length())]


@dataclass
class Job:
    job_id: int
    group: str | None
    name: str
    submitted: float
    completed: float
    stages: list[int] = field(default_factory=list)


# metric -> (StageData getter, scale to the metric's unit)
STAGE_FIELDS = {
    "task_s": ("executorRunTime", 1e-3),
    "shuffle_mb": ("shuffleWriteBytes", 1e-6),
    "spill_mb": ("diskBytesSpilled", 1e-6),
    "gc_s": ("jvmGcTime", 1e-3),
    "failed_tasks": ("numFailedTasks", 1),
}


class StatusStore:
    """Reads jobs and stage metrics from the SparkContext's live status
    store (available with ``spark.ui.enabled=false``)."""

    def __init__(self, sc):
        self.sc = sc
        self.jsc = sc._jsc.sc()
        self.jvm = sc._jvm

    def drain(self) -> None:
        """Wait until every listener event has reached the store."""
        self.jsc.listenerBus().waitUntilEmpty()

    def jobs(self, min_id: int = 0) -> list[Job]:
        self.drain()
        out = []
        for j in _seq(self.jsc.statusStore().jobsList(None)):
            if j.jobId() < min_id:
                continue
            g = j.jobGroup()
            sub, done = j.submissionTime(), j.completionTime()
            out.append(
                Job(
                    j.jobId(),
                    g.get() if g.isDefined() else None,
                    j.name(),
                    sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0,
                    done.get().getTime() / 1000.0 if done.isDefined() else float("inf"),
                    [int(x) for x in _seq(j.stageIds())],
                )
            )
        return sorted(out, key=lambda j: j.job_id)

    def next_job_id(self) -> int:
        jobs = self.jobs()
        return jobs[-1].job_id + 1 if jobs else 0

    def stage_metrics(self, stage_ids) -> dict[str, float]:
        """Summed metrics over every attempt of the given stages."""
        tot = {k: 0.0 for k in STAGE_FIELDS}
        store = self.jsc.statusStore()
        empty = self.jvm.java.util.ArrayList()
        no_q = self.sc._gateway.new_array(self.jvm.double, 0)
        for sid in set(stage_ids):
            try:
                attempts = _seq(store.stageData(sid, False, empty, False, no_q))
            except Py4JJavaError:  # stage no longer retained by the store
                continue
            for st in attempts:
                for k, (getter, scale) in STAGE_FIELDS.items():
                    tot[k] += getattr(st, getter)() * scale
        return tot


def attribute(jobs: list[Job], spans: list[Span]) -> dict[str, list[Job]]:
    """Job group -> jobs. A job whose group is no span's (a streaming
    query's micro-batches run under its own run id) goes to the
    innermost span that was open when it was submitted, as a build job:
    it ran inside the call that built the query."""
    names = {s.name for s in spans}
    out: dict[str, list[Job]] = {}
    for j in jobs:
        g = j.group
        if g not in names and not (g and g.endswith(BUILD) and g[: -len(BUILD)] in names):
            open_spans = [s for s in spans if s.start <= j.submitted <= s.end]
            g = (open_spans[-1].name + BUILD) if open_spans else None
        out.setdefault(g, []).append(j)
    return out


def misplaced_jobs(jobs: list[Job], spans: list[Span], tol: float = 0.05) -> list[str]:
    """Jobs that did not run, from submission to completion as the status
    store records them, inside a span of the layer they are attributed
    to: a check of the job-group attribution against the clock."""
    out = []
    for g, js in attribute(jobs, spans).items():
        names = {g, g[: -len(BUILD)] if g and g.endswith(BUILD) else g}
        for j in js:
            if not any(
                s.name in names and s.start - tol <= j.submitted and j.completed <= s.end + tol
                for s in spans
            ):
                out.append(f"job {j.job_id} ({j.name[:60]}; group {g}) ran outside its span")
    return out


# ---------------------------------------------------------------------------
# Plan shape
# ---------------------------------------------------------------------------

_NODE = re.compile(r"^[\s:+\-|]*(?:\*\(\d+\)\s*)?([A-Za-z]+)")
PLAN_KINDS = {
    "exchanges": lambda n: n in ("Exchange", "BroadcastExchange", "ShuffleExchange"),
    "windows": lambda n: n == "Window" or n == "WindowGroupLimit",
    "generates": lambda n: n == "Generate",
    "python_nodes": lambda n: "Pandas" in n or "Python" in n or "InArrow" in n,
}


def plan_shape(df) -> dict[str, int]:
    """Operator counts of the physical plan Spark executes for ``df``
    (with AQE on, the plan before runtime re-optimization: exact and
    the same on every run of the same input)."""
    text = df._jdf.queryExecution().executedPlan().toString()
    counts = dict.fromkeys(PLAN_KINDS, 0)
    for line in text.splitlines():
        m = _NODE.match(line)
        if not m:
            continue
        for k, pred in PLAN_KINDS.items():
            if pred(m.group(1)):
                counts[k] += 1
    return counts


# ---------------------------------------------------------------------------
# Memory
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                children.setdefault(int(_stat(d)[1]), []).append(int(d))
            except (OSError, IndexError, ValueError):
                continue
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the process tree's live members."""
    total = 0
    for pid in tree_pids(root):
        try:
            st = _stat(pid)
            total += int(st[11]) + int(st[12])
        except (OSError, IndexError, ValueError):
            continue
    return total / _TICK


def _tree_rss(root: int) -> int:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Peak summed RSS of this process and all its descendants (JVM,
    Python workers), sampled every ``interval`` seconds while active."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss(me))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, _tree_rss(os.getpid()))
