"""Spark's job layer, read from outside the program.

Every unit of work runs under a named job group. Afterwards the jobs of a
group are listed with ``statusTracker()`` and each job's stages are read
from the application status store (``lastStageAttempt``): task counts,
shuffle bytes, spill and executor time. Only the traced run calls this.
"""

from __future__ import annotations

from dataclasses import dataclass

from spans import covered

MB = 1 << 20


@dataclass
class Job:
    id: int
    start: float
    end: float
    stages: int = 0
    tasks: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    run_ms: int = 0
    cpu_ns: int = 0


def _epoch_s(opt_date, default: float) -> float:
    return opt_date.get().getTime() / 1000.0 if opt_date.isDefined() else default


def jobs_for_group(spark, group: str) -> list[Job]:
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = []
    for jid in sorted(tracker.getJobIdsForGroup(group)):
        info = tracker.getJobInfo(jid)
        data = store.job(jid)
        start = _epoch_s(data.submissionTime(), 0.0)
        job = Job(jid, start, _epoch_s(data.completionTime(), start))
        for sid in info.stageIds if info else []:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # py4j: stage evicted or never submitted
                continue
            if st.status().toString() == "SKIPPED":
                continue
            job.stages += 1
            job.tasks += st.numCompleteTasks()
            job.shuffle_read += st.shuffleReadBytes()
            job.shuffle_write += st.shuffleWriteBytes()
            job.spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
            job.run_ms += st.executorRunTime()
            job.cpu_ns += st.executorCpuTime()
        out.append(job)
    return out


def summarize(jobs: list[Job], cores: int) -> dict[str, float]:
    """The ``spark.*`` layer metrics of a set of jobs (none if there are
    no jobs). ``action_s`` is the wall time during which at least one of
    them ran."""
    if not jobs:
        return {}
    busy = covered([(j.start, j.end) for j in jobs], min(j.start for j in jobs),
                   max(j.end for j in jobs))
    run_s = sum(j.run_ms for j in jobs) / 1000.0
    return {
        "spark.action_s": busy,
        "spark.jobs": len(jobs),
        "spark.stages": sum(j.stages for j in jobs),
        "spark.tasks": sum(j.tasks for j in jobs),
        "spark.shuffle_read_mb": sum(j.shuffle_read for j in jobs) / MB,
        "spark.shuffle_write_mb": sum(j.shuffle_write for j in jobs) / MB,
        "spark.spill_mb": sum(j.spill for j in jobs) / MB,
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": sum(j.cpu_ns for j in jobs) / 1e9,
        "spark.core_busy_ratio": run_s / (cores * busy) if busy else 0.0,
    }


def pinned(spark) -> tuple[int, float]:
    """(persistent RDD count, MB of blocks they hold)."""
    sc = spark.sparkContext
    n = sc._jsc.getPersistentRDDs().size()
    mem = sum(r.memSize() + r.diskSize() for r in sc._jsc.sc().getRDDStorageInfo())
    return n, mem / MB
