"""Spans around the program's layer boundaries, measured from outside.

:class:`Tracer` replaces public functions on their modules (the attributes
``pipeline`` and ``streaming`` look up when they call them) with wrappers
that record a :class:`Span` while an op is active, and puts the originals
back on exit. Each span also records the range of Spark job ids started
inside it; after each op, :meth:`Tracer.collect` reads the stages of those
jobs from the Spark status store (``statusStore().lastStageAttempt``), so
every span carries executor time, bytes and task counts.

Spans stay in memory and are written out by :meth:`Tracer.dump` when the run
ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

from entity_etl_spark import checkpoint, pipeline, sinks, state, streaming

# (module, attribute): the span is named "<module short name>.<attribute>"
TARGETS = (
    (pipeline, "run_incremental"),
    (pipeline, "run_streaming"),
    (state, "load_state"),
    (state, "save_state"),
    (checkpoint, "load_checkpoint"),
    (checkpoint, "max_ts_and_count"),
    (checkpoint, "save_checkpoint"),
    (streaming, "planned_batch_rows"),
    (sinks, "http_sink"),
)

STAGE_FIELDS = (
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "input_bytes",
    "output_records",
    "shuffle_write_bytes",
    "spill_bytes",
)


@dataclass
class Span:
    id: int  # index into Tracer.spans
    name: str
    op: int
    parent: int | None  # index into Tracer.spans
    start: float
    job_start: int
    end: float = 0.0
    job_end: int = 0
    # stage metrics of the jobs started inside this span (children included)
    stages: dict = field(default_factory=dict)
    # the same for jobs started here but outside every child span
    self_stages: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def span_name(module, attr: str) -> str:
    return f"{module.__name__.rsplit('.', 1)[-1]}.{attr}"


class Tracer:
    """Records spans for ops run inside :meth:`recording`. One client runs
    one op at a time, so a single span stack serves the main thread and the
    streaming callback thread alike."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op: int | None = None

    def next_job_id(self) -> int:
        v = self._jsc.dagScheduler().nextJobId()
        return v if isinstance(v, int) else int(v.get())

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = Span(
                id=len(self.spans),
                name=name,
                op=self._op,
                parent=self._stack[-1] if self._stack else None,
                start=time.perf_counter(),
                job_start=self.next_job_id(),
            )
            self.spans.append(span)
            self._stack.append(span.id)
            try:
                return fn(*args, **kwargs)
            finally:
                span.job_end = self.next_job_id()
                span.end = time.perf_counter()
                self._stack.pop()

        return traced

    @contextlib.contextmanager
    def recording(self, op_id: int):
        """Spans, tagged ``op_id``, for everything the program does inside
        this block. The wrappers are installed on entry and the original
        functions put back on exit."""
        originals = [(m, a, getattr(m, a)) for m, a in TARGETS]
        self._op = op_id
        try:
            for m, a, fn in originals:
                setattr(m, a, self._wrap(fn, span_name(m, a)))
            yield self
        finally:
            for m, a, fn in originals:
                setattr(m, a, fn)
            self._op = None
            self._stack.clear()

    def _stage_metrics(self, stage_id: int) -> dict:
        try:
            sd = self._jsc.statusStore().lastStageAttempt(stage_id)
        except Py4JJavaError:  # evicted or never submitted
            return dict.fromkeys(STAGE_FIELDS, 0)
        return {
            "tasks": sd.numCompleteTasks(),
            "executor_run_s": sd.executorRunTime() / 1e3,
            "executor_cpu_s": sd.executorCpuTime() / 1e9,
            "input_bytes": sd.inputBytes(),
            "output_records": sd.outputRecords(),
            "shuffle_write_bytes": sd.shuffleWriteBytes(),
            "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
        }

    def collect(self, op_id: int) -> list[Span]:
        """Attach stage metrics to the spans of ``op_id`` and return them.
        Call right after the op, before the status store evicts its jobs."""
        self._jsc.listenerBus().waitUntilEmpty()
        spans = [s for s in self.spans if s.op == op_id]
        tracker = self._sc.statusTracker()
        owner: dict[int, int] = {}  # stage id -> first job that lists it
        jobs: dict[int, list[int]] = {}
        for jid in range(min((s.job_start for s in spans), default=0),
                         max((s.job_end for s in spans), default=0)):
            info = tracker.getJobInfo(jid)
            jobs[jid] = [] if info is None else list(info.stageIds)
            for sid in jobs[jid]:
                owner.setdefault(sid, jid)
        stage_metrics = {sid: self._stage_metrics(sid) for sid in owner}

        def sums(job_ids) -> dict:
            out = dict.fromkeys(STAGE_FIELDS, 0)
            out["jobs"] = len(job_ids)
            for jid in job_ids:
                for sid in jobs.get(jid, ()):
                    if owner[sid] == jid:
                        for k in STAGE_FIELDS:
                            out[k] += stage_metrics[sid][k]
            return out

        for s in spans:
            own = set(range(s.job_start, s.job_end))
            for c in spans:
                if c.parent == s.id:
                    own -= set(range(c.job_start, c.job_end))
            s.stages = sums(range(s.job_start, s.job_end))
            s.self_stages = sums(sorted(own))
        return spans

    def self_seconds(self, span: Span) -> float:
        """The span's duration minus the part its direct children cover."""
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == span.id)
        covered, reach = 0.0, span.start
        for start, end in kids:
            start = max(start, reach)
            if end > start:
                covered += end - start
                reach = end
        return span.seconds - covered

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump([asdict(s) for s in self.spans], fh)
