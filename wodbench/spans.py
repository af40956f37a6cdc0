"""Span tracer: one Spark job group per span, counters read back from
Spark's status tracker and status store when the span ends.

Spans are opened around calls into the program's public functions, from
the benchmark's side only. Each span records its name, start, end, the
span that caused it (``parent``) and the counters of the Spark jobs that
ran inside it. Jobs of a nested span belong to the nested span's job
group; a span's counters are its own jobs plus those of every span it
caused. Spans stay in memory and are written out once, at exit.

Counters per span:
  s               wall seconds of the call
  jobs, tasks     Spark jobs and tasks run (skipped stages run no tasks)
  cpu_ms          executor CPU milliseconds
  shuffle_bytes   shuffle bytes written
  spill_bytes     memory + disk bytes spilled
  max_task_share  the slowest task's share of its stage's executor time,
                  weighted over the span's stages (1.0 = one-task stages)
  gap_s           wall seconds of the span covered by no Spark job
                  (planning, file listing, commits)
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# per-stage sums kept for each span's own jobs
_RAW = ("tasks", "cpu_ms", "shuffle_bytes", "spill_bytes", "run_ms", "max_task_ms")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)  # own jobs only
    job_windows: list[tuple[float, float]] = field(default_factory=list)
    raw: dict = field(default_factory=dict)  # own-job sums
    extra: dict = field(default_factory=dict)  # caller-supplied counts
    children: list[int] = field(default_factory=list)


class Tracer:
    """Records spans when ``enabled``; otherwise every method is a no-op
    that adds no Spark calls, so untraced runs pay nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: dict[int, Span] = {}
        self._ids = itertools.count(1)
        self._stack: list[Span] = []
        self._sc = None

    def bind(self, spark) -> None:
        """Attach to the live SparkContext (again after a restart)."""
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(next(self._ids), name, parent.id if parent else None, time.time())
        if parent:
            parent.children.append(sp.id)
        self.spans[sp.id] = sp
        self._stack.append(sp)
        group = f"wodbench-{sp.id}"
        self._sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if parent:
                self._sc.setJobGroup(f"wodbench-{parent.id}", parent.name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            self._read_counters(sp, group)

    def _read_counters(self, sp: Span, group: str) -> None:
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)  # status store is fed asynchronously
        store = jsc.statusStore()
        gw = self._sc._gateway
        quantiles = gw.new_array(gw.jvm.double, 1)
        quantiles[0] = 1.0  # the slowest task
        raw = dict.fromkeys(_RAW, 0.0)
        for job_id in self._sc.statusTracker().getJobIdsForGroup(group):
            jd = store.job(job_id)
            sp.jobs.append(job_id)
            if jd.completionTime().isDefined():
                sp.job_windows.append(
                    (jd.submissionTime().get().getTime() / 1e3, jd.completionTime().get().getTime() / 1e3)
                )
            stage_ids = jd.stageIds()
            for i in range(stage_ids.size()):
                attempts = store.stageData(stage_ids.apply(i), True, gw.jvm.java.util.ArrayList(), True, quantiles)
                for a in range(attempts.size()):
                    sd = attempts.apply(a)
                    if sd.numCompleteTasks() == 0:
                        continue  # skipped: its output was reused
                    raw["tasks"] += sd.numCompleteTasks()
                    raw["cpu_ms"] += sd.executorCpuTime() / 1e6
                    raw["shuffle_bytes"] += sd.shuffleWriteBytes()
                    raw["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    raw["run_ms"] += sd.executorRunTime()
                    dist = sd.taskMetricsDistributions()
                    if dist.isDefined():
                        raw["max_task_ms"] += dist.get().executorRunTime().apply(0)
        sp.raw = raw

    # ------------------------------------------------------------ read-out

    def _subtree(self, sp: Span) -> list[Span]:
        out = [sp]
        for c in sp.children:
            out += self._subtree(self.spans[c])
        return out

    def counters(self, sp: Span) -> dict:
        """The span's counters, its own jobs plus those of spans it caused."""
        tree = self._subtree(sp)
        tot = {k: sum(s.raw.get(k, 0.0) for s in tree) for k in _RAW}
        # wall time inside the span covered by at least one job
        covered, reach = 0.0, sp.start
        for a, b in sorted(w for s in tree for w in s.job_windows):
            a, b = max(a, reach), min(b, sp.end)
            if b > a:
                covered += b - a
                reach = b
        dur = sp.end - sp.start
        return {
            "s": dur,
            "jobs": float(sum(len(s.jobs) for s in tree)),
            "tasks": tot["tasks"],
            "cpu_ms": tot["cpu_ms"],
            "shuffle_bytes": tot["shuffle_bytes"],
            "spill_bytes": tot["spill_bytes"],
            "max_task_share": tot["max_task_ms"] / tot["run_ms"] if tot["run_ms"] else 0.0,
            "gap_s": dur - covered,
            **sp.extra,
        }

    def dump(self, path: str) -> None:
        """Write every span, with its own and inclusive counters, once."""
        with open(path, "w") as f:
            for sp in self.spans.values():
                row = {
                    "id": sp.id, "name": sp.name, "parent": sp.parent,
                    "start": sp.start, "end": sp.end, "jobs": sp.jobs,
                    "own": sp.raw, "counters": self.counters(sp),
                }
                f.write(json.dumps(row) + "\n")
