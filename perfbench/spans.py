"""Spans around calls into the engine, recorded from the benchmark's side.

A span times one call.  With tracing on it also runs the call under its own
Spark job group and afterwards reads, from ``statusTracker()``, how many
jobs and stages the call started.  With tracing off a span is a bare
``perf_counter`` pair, so untraced runs pay nothing for it.

Spans do not nest: a Spark job group is one value per thread, so an inner
group would take the outer span's jobs.  Totals over several calls are sums
of flat spans.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    seconds: float = 0.0
    jobs: int = 0
    stages: int = 0


@dataclass
class Tracer:
    spark: object
    enabled: bool
    _ids: itertools.count = field(default_factory=itertools.count)

    @contextmanager
    def span(self, name: str):
        rec = Span(name)
        sc = self.spark.sparkContext
        group = None
        if self.enabled:
            group = f"perfbench-{next(self._ids)}-{name}"
            sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec.seconds = time.perf_counter() - t0
            if group is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                rec.jobs, rec.stages = job_stage_counts(sc, group)


def job_stage_counts(sc, group: str) -> tuple[int, int]:
    """Jobs started under ``group`` and the stages they planned (skipped
    stages included, as the status tracker lists them)."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        if info is not None:
            stages += len(info.stageIds)
    return len(jobs), stages
