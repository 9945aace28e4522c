"""Stage-metric rollup from Spark's status store, keyed by job group.

The store (``SparkContext.statusStore``) is filled by the listener bus
whether or not the UI is enabled. The harness tags every measured call
with ``setJobGroup``; :func:`rollup` drains the listener bus, finds the
jobs of the given groups and sums the metrics of their stages.
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field

from pyspark.sql import SparkSession


@dataclass
class Rollup:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    # (executor run time, stage id, attempt) of the heaviest stage
    heaviest: tuple = (0.0, -1, 0)
    # (submitted, completed) epoch-ms interval of every job
    job_spans: list = field(default_factory=list)


class StatusStore:
    """Reads the status store of one SparkContext through py4j."""

    def __init__(self, spark: SparkSession):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        self.last_job = -1

    def _seq(self, scala_seq) -> list:
        return list(self.conv.asJava(scala_seq))

    def rollup(self, groups: set[str], cpu_only: bool = False) -> dict[str, Rollup]:
        """Metrics of the jobs submitted since the previous call, per job
        group in ``groups`` (jobs of other groups are skipped). Every
        value read is a py4j round trip, and a fuzzy_dedup run has ~200
        stages, so reads are kept few: jobs are walked newest first only
        down to the previous call's, stage ids come back as one string,
        and with ``cpu_only`` a stage costs two reads."""
        self.jsc.listenerBus().waitUntilEmpty()
        store = self.jsc.statusStore()
        out = {g: Rollup() for g in groups}
        stages_of: dict[str, set] = {g: set() for g in groups}
        newest = self.last_job
        jobs = self.conv.asJava(store.jobsList(None)).iterator()  # newest first
        while jobs.hasNext():
            job = jobs.next()
            job_id = job.jobId()
            if job_id <= self.last_job:
                break
            newest = max(newest, job_id)
            group = job.jobGroup()
            group = group.get() if group.isDefined() else None
            if group not in out:
                continue
            r = out[group]
            r.jobs += 1
            if not cpu_only:
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined() and done.isDefined():
                    r.job_spans.append((sub.get().getTime(), done.get().getTime()))
            ids = job.stageIds().mkString(",")
            stages_of[group].update(int(s) for s in ids.split(",") if s)
        self.last_job = newest
        for group, ids in stages_of.items():
            r = out[group]
            for sid in ids:
                st = store.lastStageAttempt(sid)
                if cpu_only:  # a skipped stage ran no task: 0 CPU
                    r.cpu_s += st.executorCpuTime() / 1e9
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                r.stages += 1
                r.tasks += st.numCompleteTasks()
                run_s = st.executorRunTime() / 1e3
                r.task_s += run_s
                r.cpu_s += st.executorCpuTime() / 1e9
                r.gc_s += st.jvmGcTime() / 1e3
                r.input_bytes += st.inputBytes()
                r.output_bytes += st.outputBytes()
                r.shuffle_read_bytes += st.shuffleReadBytes()
                r.shuffle_write_bytes += st.shuffleWriteBytes()
                r.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
                if run_s > r.heaviest[0]:
                    r.heaviest = (run_s, sid, st.attemptId())
        return out

    def skew(self, heaviest: tuple) -> float:
        """Max ÷ median task run time of one stage (1.0 when unknown)."""
        _, sid, attempt = heaviest
        if sid < 0:
            return 1.0
        tasks = self.jsc.statusStore().taskList(sid, attempt, 2**31 - 1)
        times = [
            t.taskMetrics().get().executorRunTime()
            for t in self._seq(tasks)
            if t.taskMetrics().isDefined()
        ]
        med = statistics.median(times) if times else 0
        return max(times) / med if med > 0 else 1.0


def merge(rollups: list[Rollup]) -> Rollup:
    """Sum of several rollups (the phases of one run)."""
    total = Rollup()
    for r in rollups:
        for name in ("jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
                     "input_bytes", "output_bytes", "shuffle_read_bytes",
                     "shuffle_write_bytes", "spill_bytes"):
            setattr(total, name, getattr(total, name) + getattr(r, name))
        total.heaviest = max(total.heaviest, r.heaviest)
        total.job_spans += r.job_spans
    return total


def busy_ms(spans: list, lo_ms: float, hi_ms: float) -> float:
    """Length of the union of job intervals, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted(spans):
        a, b = max(a, lo_ms), min(b, hi_ms)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
