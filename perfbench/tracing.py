"""Spans around calls into the package, read from outside the program.

Each span runs its call under a fresh Spark job group. When the call
returns, the recorder drains the listener bus and reads the group's jobs
and their stages from the application status store. This works with
``spark.ui.enabled=false``, and AQE's map jobs inherit the group of the
query that submits them.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from harness import Span

_GROUP = "spark.jobGroup.id"
_DESCRIPTION = "spark.job.description"


def _seq(scala_seq):
    """A Scala Seq from py4j has no Python iterator; index it."""
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class SpanRecorder:
    """Records one ``Span`` per ``with rec.span(name):`` block.

    With ``enabled=False`` the blocks run with no job group and nothing is
    read back, so an untraced run does the same work without the reads.
    """

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: dict[str, list[Span]] = {}
        self._stack: list[tuple[Span, str]] = []
        self._seq = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        self._seq += 1
        group = f"perfbench-{self._seq}-{name}"
        span = Span(name)
        parent = self._stack[-1] if self._stack else None
        self._stack.append((span, group))
        self._set_group(group, name)
        t0 = time.perf_counter()
        try:
            yield span
        finally:
            span.wall_s = time.perf_counter() - t0
            self._stack.pop()
            if parent is None:
                self._set_group(None, None)
            else:
                self._set_group(parent[1], parent[0].name)
                parent[0].children.append(span)
            self._read_group(span, group)
            self.spans.setdefault(name, []).append(span)

    def _set_group(self, group, description):
        self.sc.setLocalProperty(_GROUP, group)
        self.sc.setLocalProperty(_DESCRIPTION, description)

    def _read_group(self, span: Span, group: str) -> None:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        job_ids = self.sc.statusTracker().getJobIdsForGroup(group)
        stage_ids = set()
        for j in job_ids:
            stage_ids.update(_seq(store.job(j).stageIds()))
        span.jobs = len(job_ids)
        for s in sorted(stage_ids):
            try:
                st = store.lastStageAttempt(s)
            except Exception:  # noqa: BLE001 - a stage never attempted (skipped)
                continue
            span.tasks += st.numCompleteTasks()
            span.failed_tasks += st.numFailedTasks()
            span.task_s += st.executorRunTime() / 1000.0
            span.shuffle_bytes += st.shuffleReadBytes() + st.shuffleWriteBytes()
