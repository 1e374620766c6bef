"""Spans around the benchmark's calls into the engine.

Every call is timed. In a traced run each span also runs in its own Spark
job group, and remembers the window of job ids the call launched (read
from the DAG scheduler's job counter, so jobs that the engine submits from
its own threads, which do not inherit the job group, are still
attributed). ``Tracer.collect`` then reads each job's stages from the
status store, which works with ``spark.ui.enabled=false``, and sums their
executor run and CPU time, input, shuffle and spill bytes.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 1e6


@dataclass
class Span:
    layer: str
    wall_s: float = 0.0
    start_ms: float = 0.0
    end_ms: float = 0.0
    first_job: int = 0
    end_job: int = 0
    jobs: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    input_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    in_jobs_s: float = 0.0
    extra: dict = field(default_factory=dict)

    @property
    def outside_jobs_s(self) -> float:
        """Wall time of the call not covered by any of its Spark jobs."""
        return max(0.0, self.wall_s - self.in_jobs_s)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._sc = spark.sparkContext if spark is not None else None

    def _next_job(self) -> int:
        return int(self._sc._jsc.sc().dagScheduler().nextJobId())

    @contextmanager
    def span(self, layer: str):
        sp = Span(layer)
        if self.enabled:
            self._sc.setJobGroup(f"e2ebench:{layer}:{len(self.spans)}", layer)
            sp.first_job = self._next_job()
            sp.start_ms = time.time() * 1e3
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.wall_s = time.perf_counter() - t0
            if self.enabled:
                sp.end_ms = time.time() * 1e3
                sp.end_job = self._next_job()
                self._sc._jsc.clearJobGroup()
            self.spans.append(sp)

    def collect(self) -> None:
        """Fill the Spark counters of every span (traced runs only)."""
        if not self.enabled:
            return
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        conv = self._sc._jvm.scala.jdk.javaapi.CollectionConverters
        no_quantiles = self._sc._gateway.new_array(self._sc._jvm.double, 0)
        stages: dict[int, tuple] = {}
        for s in conv.asJava(store.stageList(None, False, False, no_quantiles, None)):
            row = (
                s.numTasks() if str(s.status()) != "SKIPPED" else 0,
                s.executorRunTime() / 1e3,
                s.executorCpuTime() / 1e9,
                s.inputBytes() / MB,
                s.shuffleReadBytes() / MB,
                s.shuffleWriteBytes() / MB,
                s.diskBytesSpilled() / MB,
            )
            old = stages.get(s.stageId())
            stages[s.stageId()] = row if old is None else tuple(a + b for a, b in zip(old, row))
        for sp in self.spans:
            seen: set[int] = set()
            intervals = []
            for jid in range(sp.first_job, sp.end_job):
                job = store.job(jid)
                sp.jobs += 1
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.append((sub.get().getTime(), done.get().getTime()))
                for sid in conv.asJava(job.stageIds()):
                    if sid in seen or sid not in stages:
                        continue
                    seen.add(sid)
                    tasks, run, cpu, inp, shr, shw, spill = stages[sid]
                    sp.tasks += tasks
                    sp.run_s += run
                    sp.cpu_s += cpu
                    sp.input_mb += inp
                    sp.shuffle_read_mb += shr
                    sp.shuffle_write_mb += shw
                    sp.spill_mb += spill
            sp.in_jobs_s = _covered(intervals, sp.start_ms, sp.end_ms) / 1e3


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total
