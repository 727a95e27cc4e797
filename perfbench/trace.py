"""Outside-in span recorder for the traced run.

Spans are recorded from the benchmark's side of each layer boundary:
``wrap`` swaps a module attribute for a timing wrapper and ``restore``
puts every original back. Spans stay in memory; the workload reduces
them to per-layer metrics when its timed part ends.

Spark work is attributed with job groups: ``job_group`` tags every job
an operation starts, and ``statusTracker`` then gives the job and stage
counts of that group. The recorder times its own bookkeeping (the
status queries above) as ``overhead_s``, the tracing overhead the
traced run reports.
"""

from __future__ import annotations

import functools
import itertools
import time
from contextlib import contextmanager

TAG = "_perfbench_tag"


class Recorder:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[list] = []  # [name, start, end, parent]
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._groups = itertools.count()
        self.overhead_s = 0.0

    # -- spans ---------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.perf_counter(), None, parent])
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid][2] = time.perf_counter()

    def durations_ms(self, name: str) -> list[float]:
        return [(e - s) * 1e3 for n, s, e, _ in self.spans if n == name]

    def self_ms(self, name: str) -> list[float]:
        """Per span called ``name``: its duration minus the time its
        direct children cover (children of one span never overlap, as
        every span opens and closes on the calling thread)."""
        child = {}
        for _, s, e, p in self.spans:
            if p is not None:
                child[p] = child.get(p, 0.0) + (e - s)
        return [
            (e - s - child.get(i, 0.0)) * 1e3
            for i, (n, s, e, _) in enumerate(self.spans)
            if n == name
        ]

    # -- wrapping ------------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, tag: str | None = None) -> None:
        """Record a span named ``name`` around every call of
        ``owner.attr``; with ``tag``, mark the returned DataFrame so
        its later ``collect`` is recorded as ``<tag>.collect``."""
        orig = getattr(owner, attr)
        rec = self

        @functools.wraps(orig)
        def timed(*args, **kwargs):
            with rec.span(name):
                out = orig(*args, **kwargs)
            if tag is not None:
                setattr(out, TAG, tag)
            return out

        setattr(owner, attr, timed)
        self._patches.append((owner, attr, orig))

    def wrap_collect(self, cls) -> None:
        orig = cls.collect
        rec = self

        @functools.wraps(orig)
        def collect(df):
            tag = df.__dict__.get(TAG)
            if tag is None:
                return orig(df)
            with rec.span(f"{tag}.collect"):
                return orig(df)

        cls.collect = collect
        self._patches.append((cls, "collect", orig))

    def restore(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- Spark job accounting ------------------------------------------------

    @contextmanager
    def job_group(self, label: str):
        """Run the block under a fresh job group; yields a dict that
        receives ``jobs`` and ``stages`` when the block ends."""
        sc = self.spark.sparkContext
        gid = f"perfbench-{label}-{next(self._groups)}"
        counts: dict[str, int] = {}
        sc.setJobGroup(gid, label)
        try:
            yield counts
        finally:
            t0 = time.perf_counter()
            sc.setLocalProperty("spark.jobGroup.id", None)
            tracker = sc.statusTracker()
            jobs = tracker.getJobIdsForGroup(gid)
            counts["jobs"] = len(jobs)
            stages = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                stages += len(info.stageIds) if info is not None else 0
            counts["stages"] = stages
            self.overhead_s += time.perf_counter() - t0


def catalyst_phases_ms(df) -> dict[str, float]:
    """Analysis, optimization and planning time of ``df``'s own query
    execution; read after the frame has run, so nothing is forced."""
    qe = df._jdf.queryExecution()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        if phases.contains(phase):
            out[phase] = float(phases.apply(phase).durationMs())
        else:
            out[phase] = 0.0
    return out


def plan_tree(df) -> tuple[str, list]:
    """The physical plan ``df`` ran as ``(node_name, [children])``:
    the adaptive plan's final form, with every query stage opened up
    to the exchange it wraps. Read after the frame has run."""
    return _node_tree(df._jdf.queryExecution().executedPlan())


def _node_tree(node) -> tuple[str, list]:
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return _node_tree(node.finalPhysicalPlan())
    if name.endswith("QueryStage"):
        return name, [_node_tree(node.plan())]
    kids = node.children()
    children = [_node_tree(kids.apply(i)) for i in range(kids.size())]
    subs = node.subqueries()
    children += [_node_tree(subs.apply(i)) for i in range(subs.size())]
    return name, children
