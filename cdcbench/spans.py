"""In-memory spans around calls into the engine's layers, plus the Spark
job and stage metrics each span caused.

A span is opened by the benchmark around a call into a layer's public
function, or around a method of the benchmark's own table or lineage
instance (by wrapping that instance's attribute; the engine's modules
are never patched). Spans record name, start, end, parent and batch id.

Spark jobs are attributed to a span by submission time. Every loop in
the benchmark is closed (one call at a time), so the jobs submitted
while a span is open are exactly the jobs it caused, including jobs the
streaming tailer submits from its own thread. Spans opened on the
driver thread also tag their jobs with a job group named after the span.
Executor run time, CPU time, GC time, shuffle, spill and output bytes
come from the JVM status store after each loop iteration.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    batch: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Job:
    job_id: int
    group: str | None
    submit: float
    done: float
    stages: list[int]


STAGE_FIELDS = (
    "executorRunTime", "executorCpuTime", "jvmGcTime", "shuffleReadBytes",
    "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled", "outputBytes",
)


class Tracer:
    """Span recorder. With ``on=False`` every method is a cheap no-op
    except ``span``, which still yields a Span with its wall time, so the
    untraced run times its calls through the same code path."""

    def __init__(self, spark, on: bool):
        self.on = on
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.jobs: dict[int, Job] = {}
        self.stages: dict[int, dict] = {}
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._main = threading.get_ident()

    @contextmanager
    def span(self, name: str, batch: int | None = None, **attrs):
        with self._lock:
            sp = Span(len(self.spans), name, 0.0, batch=batch, attrs=attrs,
                      parent=self._stack[-1] if self._stack else None)
            if self.on:
                self.spans.append(sp)
                self._stack.append(sp.sid)
        group = self.on and threading.get_ident() == self._main
        if group:
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(f"cdcbench-{sp.sid}", name)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            if group:
                self.sc.setLocalProperty("spark.jobGroup.id", prev)
            if self.on:
                with self._lock:
                    self._stack.remove(sp.sid)

    def wrap(self, obj, method: str, name: str) -> None:
        """Open a span around every call of ``obj.method`` (instance
        attribute only, so other instances and the class are untouched)."""
        fn = getattr(obj, method)

        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(obj, method, traced)

    # ------------------------------------------------------------ spark
    def collect(self) -> None:
        """Pull jobs (and their stages) completed since the last call
        from the status store. Call outside timed spans."""
        if not self.on:
            return
        store = self.sc._jsc.sc().statusStore()
        seq = store.jobsList(None)
        for i in range(seq.size()):
            j = seq.apply(i)
            jid = j.jobId()
            if jid in self.jobs or not j.completionTime().isDefined():
                continue
            ids = j.stageIds()
            stages = [ids.apply(k) for k in range(ids.size())]
            self.jobs[jid] = Job(
                jid,
                j.jobGroup().get() if j.jobGroup().isDefined() else None,
                j.submissionTime().get().getTime() / 1000.0,
                j.completionTime().get().getTime() / 1000.0,
                stages,
            )
            for sid in stages:
                if sid in self.stages:
                    continue
                try:
                    s = store.lastStageAttempt(sid)
                except Py4JJavaError:  # a skipped stage has no attempt
                    continue
                if s.status().toString() != "COMPLETE":
                    continue
                self.stages[sid] = {f: getattr(s, f)() for f in STAGE_FIELDS}

    def jobs_in(self, sp: Span) -> list[Job]:
        """Jobs submitted while ``sp`` was open (ms clock resolution)."""
        return [j for j in self.jobs.values() if sp.start - 0.001 <= j.submit <= sp.end + 0.001]

    def stage_sum(self, sp: Span) -> dict:
        """Sum of stage metrics over the distinct completed stages of the
        span's jobs (executorCpuTime in ns, times in ms, sizes in bytes)."""
        seen: set[int] = set()
        out = dict.fromkeys(STAGE_FIELDS, 0)
        for j in self.jobs_in(sp):
            for sid in j.stages:
                if sid in seen or sid not in self.stages:
                    continue
                seen.add(sid)
                for f in STAGE_FIELDS:
                    out[f] += self.stages[sid][f]
        return out

    # ------------------------------------------------------------ spans
    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.sid]
