"""Outside-in tracing for the traced run.

Spans are recorded from the benchmark's own code around each call into a
layer's public function; nothing inside ``jpspark`` is instrumented. A
span records its name, start, end, parent span and pass id. Because the
DataFrame API is lazy, ``boundary`` materializes a layer's output where
the layer ends (persist + count), so the work lands inside the span that
caused it. Every span tags its Spark jobs with ``setJobGroup``; at span
end the job, stage and task counts of that group are read from
``statusTracker()``. Spans stay in memory; the runner writes them out
once, at the end of the run.

``NullTracer`` has the same surface and does nothing, so the untraced
passes that give the end-to-end metrics run the same workload code.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    pass_id: int
    parent: int | None
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class NullTracer:
    """The untraced path: no spans, no materialization."""

    @contextmanager
    def span(self, name: str):
        yield Span(name, 0.0, -1, None)

    def boundary(self, df, span: Span, attr: str | None = None):
        return df

    def release(self) -> None:
        pass


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[tuple[int, str]] = []
        self._persisted: list = []
        self.pass_id = 0

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        sp = Span(name, time.perf_counter(), self.pass_id,
                  self._stack[-1][0] if self._stack else None)
        group = f"perfbench-{self.pass_id}-{idx}-{name}"
        self.spans.append(sp)
        self._stack.append((idx, group))
        self.sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._count_jobs(sp, group)
            if self._stack:
                self.sc.setJobGroup(self._stack[-1][1], self.spans[self._stack[-1][0]].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _count_jobs(self, sp: Span, group: str) -> None:
        st = self.sc.statusTracker()
        # a stage can be listed by several jobs of one span (an AQE shuffle
        # map stage runs as its own job, then again under the result job;
        # jobs over a shared shuffle list its map stage too): count it once
        seen: set[int] = set()
        for jid in st.getJobIdsForGroup(group):
            job = st.getJobInfo(jid)
            if job is None:
                continue
            sp.jobs += 1
            for sid in job.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                stage = st.getStageInfo(sid)
                if stage is None or stage.numCompletedTasks + stage.numFailedTasks == 0:
                    continue  # skipped: its shuffle output was reused
                sp.stages += 1
                sp.tasks += stage.numCompletedTasks
                sp.failed_tasks += stage.numFailedTasks

    def boundary(self, df, span: Span, attr: str | None = None):
        """Materialize ``df`` inside ``span`` and keep it cached for the
        next layer; the row count is stored under ``attr``."""
        df = df.persist()
        n = df.count()
        self._persisted.append(df)
        if attr:
            span.attrs[attr] = n
        return df

    def release(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    # ------------------------------------------------------------ reports

    def pass_spans(self, pass_id: int) -> list[Span]:
        return [s for s in self.spans if s.pass_id == pass_id]

    def self_times(self, pass_id: int) -> dict[str, float]:
        """Per span name: summed duration minus the part its children cover."""
        out: dict[str, float] = {}
        for s in self.pass_spans(pass_id):
            out[s.name] = out.get(s.name, 0.0) + s.end - s.start
            if s.parent is not None:
                p = self.spans[s.parent]
                out[p.name] = out.get(p.name, 0.0) - (s.end - s.start)
        return out

    def coverage(self, pass_id: int) -> float:
        """Share of the pass's wall time inside named layer spans."""
        spans = self.pass_spans(pass_id)
        root = next(i for i, s in enumerate(self.spans) if s.pass_id == pass_id and s.parent is None)
        covered = sum(s.end - s.start for s in spans if s.parent == root)
        return covered / (self.spans[root].end - self.spans[root].start)
