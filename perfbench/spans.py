"""Spans and Spark structure counts for the traced run.

Spans are kept in memory and written out when the run ends. Each span
has a name, start, end, parent and the id of the operation it belongs
to; a span's self time is its duration minus the part of it that its
child spans cover, so the self times of one operation's spans add up to
the operation's wall time.

The Spark counts are deltas read from ``sparkContext.statusStore()``
right after each operation. An operation's jobs are found by a job
group set for the operation, and its stages by stage-id range
(the stages created after the previous operation's last stage), so the
counts do not depend on ``spark.ui.retainedStages`` as long as one
operation creates fewer stages than are retained. ``stages`` counts the
stages that ran; skipped stages are counted apart, because how many a
job skips depends on when its asynchronous broadcasts finish. Reading
the store starts no Spark job.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    op: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class NullTracer:
    """Tracing off: every hook is a no-op, so the untraced run pays
    nothing but a context-manager call per span."""

    enabled = False

    def span(self, name: str, **attrs):
        return contextlib.nullcontext()

    def operation(self, op_id: int, name: str):
        return contextlib.nullcontext()


class Tracer:
    enabled = True

    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op: int | None = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, self.clock(), None, parent, self._op, dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()

    @contextlib.contextmanager
    def operation(self, op_id: int, name: str):
        """Root span of one operation; every span opened inside it
        carries ``op_id``."""
        self._op = op_id
        try:
            with self.span(name) as s:
                yield s
        finally:
            self._op = None

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def self_times(self) -> dict[int, float]:
        """Span id → duration minus the union of its children's
        intervals (clipped to the span)."""
        kids = self.children()
        out = {}
        for s in self.spans:
            covered = 0.0
            cur_start = cur_end = None
            for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
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
            out[s.id] = s.duration - covered
        return out

    def op_spans(self, op_id: int) -> list[Span]:
        return [s for s in self.spans if s.op == op_id]

    def dump(self, path: str, extra: dict | None = None) -> None:
        selfs = self.self_times()
        rows = []
        for s in self.spans:
            d = asdict(s)
            d["self"] = selfs[s.id]
            rows.append(d)
        with open(path, "w") as fh:
            json.dump({"spans": rows, **(extra or {})}, fh)


@contextlib.contextmanager
def wrapped(tracer, targets):
    """Wrap each ``(owner, attribute, span_name)`` in a span for the
    duration of the block, then restore the original. Used only in the
    traced run, for calls the benchmark cannot make itself (the state
    merges and dedup operators inside the fold)."""
    saved = []
    try:
        for owner, attr, name in targets:
            orig = getattr(owner, attr)
            saved.append((owner, attr, orig))

            def make(orig=orig, name=name):
                def wrapper(*a, **kw):
                    with tracer.span(name):
                        return orig(*a, **kw)

                wrapper.__wrapped__ = orig
                return wrapper

            setattr(owner, attr, make())
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


# ---------------------------------------------------------------------------
# Spark status store


class SparkProbe:
    """Per-operation Spark structure deltas from the status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.jvm = self.sc._jvm
        self.last_stage = self._max_stage_id()
        self._between: str | None = None

    def _stage_iter(self):
        st = self.store
        return st.stageList(
            self.jvm.java.util.ArrayList(),
            getattr(st, "stageList$default$2")(),
            getattr(st, "stageList$default$3")(),
            getattr(st, "stageList$default$4")(),
            getattr(st, "stageList$default$5")(),
        ).iterator()

    def _max_stage_id(self) -> int:
        it = self._stage_iter()
        hi = -1
        while it.hasNext():
            hi = max(hi, it.next().stageId())
        return hi

    def _stage_ids(self, job_ids) -> list[int]:
        out = []
        for jid in job_ids:
            it = self.store.job(jid).stageIds().iterator()
            while it.hasNext():
                out.append(it.next())
        return out

    def begin(self, tag: str) -> None:
        """Start operation ``tag``. Stages of jobs run between operations
        (the benchmark's own checks, in job group ``<tag>-between``) are
        skipped over, so they never count towards an operation."""
        if self._between is not None:
            self.bus.waitUntilEmpty(60_000)
            ids = self.sc.statusTracker().getJobIdsForGroup(self._between)
            self.last_stage = max([self.last_stage] + self._stage_ids(ids))
        self.sc.setJobGroup(tag, tag)

    def end(self, tag: str, wall_start: float, wall_end: float) -> dict:
        """Counts for the jobs of job group ``tag`` and the stages with
        ids above the previous operation's last stage."""
        self._between = f"{tag}-between"
        self.sc.setJobGroup(self._between, self._between)
        self.bus.waitUntilEmpty(60_000)
        job_ids = sorted(self.sc.statusTracker().getJobIdsForGroup(tag))
        intervals = []
        hi = self.last_stage
        for jid in job_ids:
            job = self.store.job(jid)
            sub, comp = job.submissionTime(), job.completionTime()
            if sub.isDefined() and comp.isDefined():
                intervals.append((sub.get().getTime() / 1e3, comp.get().getTime() / 1e3))
        hi = max([hi] + self._stage_ids(job_ids))
        tot = {
            "jobs": len(job_ids), "stages": 0, "stages_skipped": 0, "tasks": 0,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "input_bytes": 0,
            "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_ms": 0,
            "stage_list": [],  # [status, tasks, name] per stage, for diffing runs
        }
        empty_status = self.jvm.java.util.ArrayList()
        for sid in range(self.last_stage + 1, hi + 1):
            try:
                attempts = self.store.stageData(
                    sid, False, empty_status, False,
                    getattr(self.store, "stageData$default$5")(),
                )
            except Exception:  # py4j error: stage id never used or evicted
                continue
            it = attempts.iterator()
            while it.hasNext():
                s = it.next()
                status = str(s.status().toString())
                # a skipped stage ran nothing; how many a job skips depends on
                # when its asynchronous broadcasts finish, so it is counted apart
                tot["stages_skipped" if status == "SKIPPED" else "stages"] += 1
                tot["stage_list"].append([status, s.numCompleteTasks(), str(s.name())[:60]])
                tot["tasks"] += s.numCompleteTasks()
                tot["shuffle_read_bytes"] += s.shuffleReadBytes()
                tot["shuffle_write_bytes"] += s.shuffleWriteBytes()
                tot["input_bytes"] += s.inputBytes()
                tot["executor_run_s"] += s.executorRunTime() / 1e3
                tot["executor_cpu_s"] += s.executorCpuTime() / 1e9
                tot["gc_ms"] += s.jvmGcTime()
        self.last_stage = hi
        tot["cpu_per_run"] = (
            tot["executor_cpu_s"] / tot["executor_run_s"] if tot["executor_run_s"] else 0.0
        )
        tot["driver_wait_s"] = (wall_end - wall_start) - _covered(intervals, wall_start, wall_end)
        return tot


def _covered(intervals, lo: float, hi: float) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def catalyst_ms(df) -> float:
    """Analysis + optimization + planning time Catalyst recorded for the
    query that ``df`` last executed."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0
    it = phases.values().iterator()
    while it.hasNext():
        total += it.next().durationMs()
    return float(total)
