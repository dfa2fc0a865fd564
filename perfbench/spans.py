"""Spans around calls into the engine's layers, joined after the run with
Spark's own per-stage metrics.

A span covers one call into a layer (``<layer>.<phase>``).  Entering a span
sets a Spark job group, so every job the call triggers is tagged with it; after
the run the jobs and stages are read back from the application status store
(populated with the UI disabled) and each job's stages are charged to the span
that owns its group.  Jobs that Spark submits under a group of its own (for
example broadcast exchanges) are charged to the innermost span that was open
when they were submitted.

The engine itself is not modified: spans come from the benchmark's calls, from
wrapping the names ``ValidationRunner.run`` looks up, and, for the corpus job's
single ``main()`` call, from the line of ``jobs/build_corpus.py`` that is
running (see :func:`trace_lines`).
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import statistics
import sys
import time

#: Spark-side counters summed over the stages charged to a span.
STAGE_FIELDS = (
    "jobs",
    "executor_cpu_s",
    "executor_run_s",
    "input_records",
    "shuffle_write_bytes",
    "spill_bytes",
)


class Span:
    __slots__ = ("sid", "name", "parent", "op", "t0", "t1", "group", "stats")

    def __init__(self, sid, name, parent, op, t0, group):
        self.sid, self.name, self.parent, self.op = sid, name, parent, op
        self.t0, self.t1, self.group = t0, None, group
        self.stats = dict.fromkeys(STAGE_FIELDS, 0)

    @property
    def wall_s(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """In-memory span recorder for one Spark session (driver thread only)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._phase: dict[int | None, Span] = {}  # parent sid -> open phase
        self._ids = itertools.count(1)
        self.op: str | None = None
        self.cached_bytes_peak = 0

    # ------------------------------------------------------------ spans
    def _new(self, name: str) -> Span:
        parent = self._stack[-1] if self._stack else None
        pkey = parent.sid if parent else None
        if pkey in self._phase:
            self._end(self._phase.pop(pkey))
        sid = next(self._ids)
        span = Span(sid, name, pkey, self.op, time.time(), f"perfbench-{sid}")
        self.spans.append(span)
        self.sc.setJobGroup(span.group, name)
        return span

    def _end(self, span: Span) -> None:
        if span.sid in self._phase:
            self._end(self._phase.pop(span.sid))
        span.t1 = time.time()
        self.cached_bytes_peak = max(self.cached_bytes_peak, cached_bytes(self.sc))

    def _regroup(self) -> None:
        """Point the job group back at the innermost open span or phase."""
        if not self._stack:
            self.sc._jsc.clearJobGroup()
            return
        top = self._stack[-1]
        inner = self._phase.get(top.sid, top)
        self.sc.setJobGroup(inner.group, inner.name)

    @contextlib.contextmanager
    def span(self, name: str):
        s = self._new(name)
        self._stack.append(s)
        try:
            yield s
        finally:
            self._stack.pop()
            self._end(s)
            self._regroup()

    def phase(self, name: str) -> None:
        """Open a span that stays open until the next sibling span opens or
        its parent closes, so it covers a call plus the statements after it
        that act on its result (``plan_pending`` and the ``limit(1).count()``
        that ``run()`` issues on it)."""
        parent = self._stack[-1] if self._stack else None
        self._phase[parent.sid if parent else None] = self._new(name)

    @contextlib.contextmanager
    def patched(self, owner, attr: str, name: str, phase: bool = False):
        """Replace ``owner.attr`` with a wrapper that records ``name``
        around each call; restore it on exit."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            if phase:
                self.phase(name)
                return orig(*a, **kw)
            with self.span(name):
                return orig(*a, **kw)

        setattr(owner, attr, wrapper)
        try:
            yield
        finally:
            setattr(owner, attr, orig)

    # ------------------------------------------------------ spark join
    def collect_stage_metrics(self) -> None:
        """Charge every recorded Spark job and its stages to a span."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        by_group = {s.group: s for s in self.spans}
        no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        stages = store.stageList(None, False, False, no_quantiles, None)
        stage_stats: dict[int, list[float]] = {}
        for i in range(stages.size()):
            st = stages.apply(i)
            acc = stage_stats.setdefault(st.stageId(), [0.0] * 5)
            acc[0] += st.executorCpuTime() / 1e9
            acc[1] += st.executorRunTime() / 1e3
            acc[2] += st.inputRecords()
            acc[3] += st.shuffleWriteBytes()
            acc[4] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        seen: set[int] = set()
        jobs = store.jobsList(None)
        rows = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            grp = j.jobGroup()
            sub = j.submissionTime()
            rows.append((
                j.jobId(),
                grp.get() if grp.isDefined() else None,
                sub.get().getTime() / 1e3 if sub.isDefined() else None,
                [j.stageIds().apply(k) for k in range(j.stageIds().size())],
            ))
        for job_id, grp, submitted, stage_ids in sorted(rows):
            span = by_group.get(grp) or self._span_at(submitted)
            if span is None:
                continue
            span.stats["jobs"] += 1
            for sid in stage_ids:
                if sid in seen or sid not in stage_stats:
                    continue
                seen.add(sid)
                cpu, run, rec, shw, spill = stage_stats[sid]
                span.stats["executor_cpu_s"] += cpu
                span.stats["executor_run_s"] += run
                span.stats["input_records"] += rec
                span.stats["shuffle_write_bytes"] += shw
                span.stats["spill_bytes"] += spill

    def _span_at(self, t: float | None) -> Span | None:
        if t is None:
            return None
        best = None
        for s in self.spans:
            # status-store times have millisecond resolution
            if s.t0 - 1e-3 <= t <= s.t1 + 1e-3 and (
                best is None or s.t0 >= best.t0
            ):
                best = s
        return best

    # ---------------------------------------------------------- output
    def self_s(self, span: Span) -> float:
        kids = [s for s in self.spans if s.parent == span.sid]
        return span.wall_s - sum(k.wall_s for k in kids)

    def per_op(self) -> dict[str, list[dict]]:
        """Span name -> one summed record per op that produced it."""
        out: dict[str, dict[str, dict]] = {}
        for s in self.spans:
            rec = out.setdefault(s.name, {}).setdefault(
                s.op, {"wall_s": 0.0, "self_s": 0.0, **dict.fromkeys(STAGE_FIELDS, 0)}
            )
            rec["wall_s"] += s.wall_s
            rec["self_s"] += self.self_s(s)
            for k in STAGE_FIELDS:
                rec[k] += s.stats[k]
        return {name: list(ops.values()) for name, ops in out.items()}

    def medians(self) -> dict[str, dict[str, float]]:
        return {
            name: {k: statistics.median(r[k] for r in recs) for k in recs[0]}
            for name, recs in self.per_op().items()
        }

    def dump(self) -> list[dict]:
        return [
            {"id": s.sid, "parent": s.parent, "op": s.op, "name": s.name,
             "start": s.t0, "end": s.t1, "self_s": self.self_s(s), **s.stats}
            for s in self.spans
        ]


def cached_bytes(sc) -> int:
    """Bytes held by persisted RDDs/DataFrames (memory + disk)."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return int(sum(i.memSize() + i.diskSize() for i in infos))


def persisted_rdds(sc) -> int:
    return int(sc._jsc.getPersistentRDDs().size())


@contextlib.contextmanager
def trace_lines(tracer: Tracer, func, stages: dict[int, str]):
    """While ``func`` runs, open a phase whenever the line executing in its
    frame crosses into a new stage.  ``stages`` maps a first line number to
    a span name; lines before the first key belong to no stage."""
    code = func.__code__
    starts = sorted(stages)
    current = [None]

    def local(frame, event, arg):
        if event == "line":
            name = None
            for ln in starts:
                if frame.f_lineno >= ln:
                    name = stages[ln]
            if name is not None and name != current[0]:
                current[0] = name
                tracer.phase(name)
        return local

    def global_(frame, event, arg):
        return local if frame.f_code is code else None

    old = sys.gettrace()
    sys.settrace(global_)
    try:
        yield
    finally:
        sys.settrace(old)
