"""Spans around the calls into each layer, recorded from the benchmark.

``install`` wraps public functions of the engine's modules in place
(module or class attributes, looked up at call time by the engine), so
the program itself is unchanged. A span records name, start, end,
parent span and batch index. Each span also runs under its own Spark
job group, restoring the enclosing group on exit, so the jobs it
launched can be read back from Spark's status store when the run ends.
Spans stay in memory until then.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    batch: int | None
    t0: float
    t1: float = 0.0
    group: str | None = None
    attrs: dict = field(default_factory=dict)
    #: ``(submitted_s, completed_s, n_tasks)`` per Spark job run
    #: directly under this span (not under a child span)
    jobs: list = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Collects spans. ``enabled`` and ``batch`` are set by the
    benchmark loop between batches; the span stack is per thread
    (Structured Streaming calls ``foreachBatch`` on its own thread)."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.enabled = True
        self.batch: int | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        sp = Span(next(self._ids), name, stack[-1].sid if stack else None,
                  self.batch, time.time())
        sp.group = f"perfbench-span-{sp.sid}"
        prev = self.sc.getLocalProperty(_GROUP)
        self.sc.setLocalProperty(_GROUP, sp.group)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.t1 = time.time()
            stack.pop()
            self.sc.setLocalProperty(_GROUP, prev)
            with self._lock:
                self.spans.append(sp)

    def resolve_jobs(self) -> None:
        """Attach Spark job times and task counts to every span. Call
        once, after the traced work."""
        jsc = self.sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty()
        except Exception:  # noqa: BLE001 — internal API; fall back to a pause
            time.sleep(1.0)
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for sp in self.spans:
            for jid in tracker.getJobIdsForGroup(sp.group):
                jd = store.job(int(jid))
                sub, done = jd.submissionTime(), jd.completionTime()
                if sub.isDefined() and done.isDefined():
                    sp.jobs.append((sub.get().getTime() / 1000.0,
                                    done.get().getTime() / 1000.0,
                                    jd.numTasks()))


def wrap(tracer: Tracer, owner, attr: str, name: str, before=None, after=None):
    """Replace ``owner.attr`` with a span-recording wrapper; returns an
    undo function. ``before(span, args, kwargs)`` and
    ``after(span, args, kwargs, result)`` may add attributes."""
    orig = getattr(owner, attr)

    @functools.wraps(orig)
    def wrapper(*args, **kwargs):
        with tracer.span(name) as sp:
            if sp is not None and before is not None:
                before(sp, args, kwargs)
            out = orig(*args, **kwargs)
            if sp is not None and after is not None:
                after(sp, args, kwargs, out)
            return out

    setattr(owner, attr, wrapper)
    return lambda: setattr(owner, attr, orig)


def _arg(args, kwargs, i: int, key: str, default=None):
    return args[i] if len(args) > i else kwargs.get(key, default)


def install(tracer: Tracer):
    """Wrap the engine's layer entry points; returns an undo function."""
    from kafka_jdbc_sink_connector_spark import apply as apply_mod
    from kafka_jdbc_sink_connector_spark.lake import maintenance, mor
    from kafka_jdbc_sink_connector_spark.lake import stats as stats_mod
    from kafka_jdbc_sink_connector_spark.lake.table import LakeTable
    from kafka_jdbc_sink_connector_spark.operators import merge as merge_ops
    from kafka_jdbc_sink_connector_spark.streaming.runner import CdcStreamRunner

    def commit_before(sp, args, kwargs):
        sp.attrs["_before"] = set(args[0].snapshot.all_files())

    def commit_after(sp, args, kwargs, snap):
        old = sp.attrs.pop("_before")
        sp.attrs["added"] = sorted(set(snap.all_files()) - old)

    def read_before(sp, args, kwargs):
        table = args[0]
        buckets = _arg(args, kwargs, 1, "buckets")
        version = _arg(args, kwargs, 3, "version")
        snap = table.snapshot if version is None else table._read_version(version)
        sp.attrs["files"] = len(snap.files(buckets))
        sp.attrs["delta_files"] = len(snap.delta_files(buckets))

    def prune_after(sp, args, kwargs, kept):
        sp.attrs["in"] = len(_arg(args, kwargs, 1, "rel_files"))
        sp.attrs["out"] = len(kept)

    def apply_after(sp, args, kwargs, res):
        sp.attrs["n_events"] = res.n_events
        sp.attrs["n_quarantined"] = res.n_quarantined

    undo = [
        wrap(tracer, CdcStreamRunner, "process_batch", "runner"),
        wrap(tracer, apply_mod.CdcApplier, "apply_batch", "apply",
             after=apply_after),
        wrap(tracer, apply_mod, "evolve_for_batch", "evolution"),
        wrap(tracer, apply_mod, "widen_for_batch", "evolution"),
        wrap(tracer, merge_ops, "merge_into", "merge"),
        wrap(tracer, stats_mod, "harvest_file_stats", "harvest"),
        wrap(tracer, stats_mod, "harvest_blooms", "harvest"),
        wrap(tracer, stats_mod, "prune_files", "prune", after=prune_after),
        wrap(tracer, LakeTable, "read", "table.read", before=read_before),
        wrap(tracer, LakeTable, "count", "table.count"),
        wrap(tracer, mor, "resolve", "mor.resolve"),
        wrap(tracer, maintenance, "compact", "compact"),
    ]
    for method in ("commit_rewrite", "commit_delta", "commit_append"):
        undo.append(wrap(tracer, LakeTable, method, "commit",
                         before=commit_before, after=commit_after))

    def uninstall():
        for u in reversed(undo):
            u()

    return uninstall


# --- analysis ---------------------------------------------------------


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class SpanTree:
    """Parent/child index over finished spans."""

    def __init__(self, spans: list[Span]):
        self.spans = spans
        self.by_id = {s.sid: s for s in spans}
        self.children: dict[int | None, list[Span]] = {}
        for s in spans:
            self.children.setdefault(s.parent, []).append(s)

    def self_time(self, sp: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = [(c.t0, c.t1) for c in self.children.get(sp.sid, ())]
        return sp.dur - union_length(kids, sp.t0, sp.t1)

    def subtree(self, sp: Span) -> list[Span]:
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children.get(s.sid, ()))
        return out

    def jobs(self, sp: Span) -> list[tuple]:
        return [j for s in self.subtree(sp) for j in s.jobs]

    def idle_time(self, sp: Span) -> float:
        """Span time during which none of its Spark jobs ran: driver
        work (plan construction, bookkeeping, driver-side I/O)."""
        return sp.dur - union_length([(a, b) for a, b, _ in self.jobs(sp)],
                                     sp.t0, sp.t1)

    def ancestors(self, sp: Span):
        while sp.parent is not None and sp.parent in self.by_id:
            sp = self.by_id[sp.parent]
            yield sp

    def under(self, sp: Span, name: str) -> bool:
        return any(a.name == name for a in self.ancestors(sp))

    def roots(self) -> list[Span]:
        return [s for s in self.spans
                if s.parent is None or s.parent not in self.by_id]
