"""Traced-run instrumentation, all of it from outside the program.

- ``Tracer`` keeps spans (name, start, end, parent) in memory. Calls
  into the package are wrapped by replacing the attribute the caller
  looks up (``patch``); every patch is undone by ``restore``.
- ``SparkStats`` reads jobs and stages of a job group from the status
  store that backs ``statusTracker()``.
- ``ProgressListener`` collects streaming progress events.
"""

from __future__ import annotations

import functools
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    enabled: bool = True
    _stack: list[int] = field(default_factory=list)
    _patched: list[tuple[object, str, object]] = field(default_factory=list)

    def span(self, name: str):
        return _SpanCtx(self, name) if self.enabled else NO_SPAN

    def patch(self, owner: object, attr: str, name: str) -> None:
        """Wrap ``owner.attr`` so each call records a span ``name``."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapped(*a, **kw):
            with tracer.span(name):
                return orig(*a, **kw)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapped)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def self_times(self) -> dict[str, tuple[int, float, float]]:
        """name -> (calls, total seconds, self seconds); self time is a
        span's duration minus the time its child spans cover (children
        of one span run one after another)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, list] = {}
        for i, s in enumerate(self.spans):
            r = out.setdefault(s.name, [0, 0.0, 0.0])
            r[0] += 1
            r[1] += s.end - s.start
            r[2] += s.end - s.start - child[i]
        return {k: (n, tot, own) for k, (n, tot, own) in out.items()}

    def durations(self, name: str, windows: list[tuple[float, float]]) -> list[float]:
        """Durations of the spans ``name`` that start inside one of
        ``windows``, or of all of them when none does."""
        all_ = [s for s in self.spans if s.name == name]
        inside = [s for s in all_ if any(a <= s.start <= b for a, b in windows)]
        return [s.end - s.start for s in inside or all_]


class _NoSpan:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


NO_SPAN = _NoSpan()


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        t = self.tracer
        parent = t._stack[-1] if t._stack else None
        self.idx = len(t.spans)
        t.spans.append(Span(self.name, time.time(), 0.0, parent))
        t._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        t = self.tracer
        t.spans[self.idx].end = time.time()
        t._stack.pop()
        return False


@dataclass
class OpStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_s: float = 0.0
    jvm_gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    stage_busy_s: float = 0.0  # union of stage [submit, complete] inside the op


class SparkStats:
    """Per-job-group counts from the JVM application status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so
        the store holds the stages of the operation that just ended."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def group(self, groups: list[str], t0: float, t1: float) -> OpStats:
        st = OpStats()
        intervals = []
        for g in groups:
            tracker = self.sc.statusTracker()
            for jid in tracker.getJobIdsForGroup(g):
                st.jobs += 1
                job = tracker.getJobInfo(jid)
                for sid in job.stageIds if job else []:
                    try:
                        s = self.store.lastStageAttempt(sid)
                    except Py4JJavaError:  # stage never submitted
                        continue
                    if str(s.status()) == "SKIPPED":
                        continue
                    st.stages += 1
                    st.tasks += s.numTasks()
                    st.failed_tasks += s.numFailedTasks()
                    st.executor_run_s += s.executorRunTime() / 1e3
                    st.jvm_gc_s += s.jvmGcTime() / 1e3
                    st.shuffle_write_mb += s.shuffleWriteBytes() / 2**20
                    st.spill_mb += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20
                    sub, done = s.submissionTime(), s.completionTime()
                    if sub.isDefined() and done.isDefined():
                        intervals.append((
                            max(t0, sub.get().getTime() / 1e3),
                            min(t1, done.get().getTime() / 1e3),
                        ))
        busy, last = 0.0, t0
        for a, b in sorted(intervals):
            a = max(a, last)
            if b > a:
                busy += b - a
                last = b
        st.stage_busy_s = busy
        return st


class ProgressListener(StreamingQueryListener):
    """Streaming progress, kept per query run id."""

    def __init__(self):
        self.started: list[tuple[float, str]] = []  # (time, run id)
        self.progress: dict[str, list] = {}

    def onQueryStarted(self, event):
        self.started.append((time.time(), str(event.runId)))

    def onQueryProgress(self, event):
        p = event.progress
        self.progress.setdefault(str(p.runId), []).append((
            p.numInputRows,
            p.durationMs.get("triggerExecution", 0) / 1e3,
            p.durationMs.get("addBatch", 0) / 1e3,
            sum(op.numRowsTotal for op in p.stateOperators),
        ))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def runs_between(self, t0: float, t1: float) -> list[str]:
        return [rid for t, rid in self.started if t0 <= t <= t1]
