"""Reader for Spark's in-memory status store (the AppStatusStore the UI
would show; it is populated with ``spark.ui.enabled=false`` too).

This is the benchmark's only reader of the store. It returns plain
Python records, so a package-side metrics module can replace it with a
single import swap.
"""

from __future__ import annotations

from dataclasses import dataclass

#: per-stage counters summed into a span, in the status store's units
#: converted to seconds and bytes
STAGE_FIELDS = (
    "stages",
    "tasks",
    "failed_tasks",
    "task_run_s",
    "task_cpu_s",
    "gc_s",
    "input_bytes",
    "shuffle_bytes",
    "spill_bytes",
)


@dataclass
class JobRecord:
    job_id: int
    group: str | None
    submitted_s: float | None  # epoch seconds
    counters: dict[str, float]
    #: tasks of the job's first stage (the scan, for a scan-led job)
    first_stage_tasks: int = 0


def _opt(o):
    return o.get() if o.isDefined() else None


def read_jobs(spark) -> list[JobRecord]:
    """Every retained job with its group and the summed counters of the
    stages it ran. A stage that a later job reuses (status SKIPPED there)
    counts once, for the first job that lists it."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jvm, gw = sc._jvm, sc._gateway
    stages = {}
    it = store.stageList(
        jvm.java.util.ArrayList(), False, False, gw.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    ).iterator()
    while it.hasNext():
        s = it.next()
        if str(s.status().toString()) == "SKIPPED":
            continue
        sid = int(s.stageId())
        c = stages.setdefault(sid, dict.fromkeys(STAGE_FIELDS, 0.0))
        c["stages"] += 1
        c["tasks"] += int(s.numCompleteTasks()) + int(s.numFailedTasks())
        c["failed_tasks"] += int(s.numFailedTasks())
        c["task_run_s"] += int(s.executorRunTime()) / 1e3
        c["task_cpu_s"] += int(s.executorCpuTime()) / 1e9
        c["gc_s"] += int(s.jvmGcTime()) / 1e3
        c["input_bytes"] += int(s.inputBytes())
        c["shuffle_bytes"] += int(s.shuffleReadBytes()) + int(s.shuffleWriteBytes())
        c["spill_bytes"] += int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled())
    jobs = []
    claimed: set[int] = set()
    it = store.jobsList(None).iterator()
    raw = []
    while it.hasNext():
        raw.append(it.next())
    for j in sorted(raw, key=lambda j: int(j.jobId())):
        counters = dict.fromkeys(STAGE_FIELDS, 0.0)
        ids = j.stageIds()
        mine = []
        for i in range(ids.size()):
            sid = int(ids.apply(i))
            if sid in stages and sid not in claimed:
                claimed.add(sid)
                mine.append(sid)
                for k, v in stages[sid].items():
                    counters[k] += v
        sub = _opt(j.submissionTime())
        jobs.append(
            JobRecord(
                job_id=int(j.jobId()),
                group=_opt(j.jobGroup()),
                submitted_s=sub.getTime() / 1e3 if sub is not None else None,
                counters=counters,
                first_stage_tasks=int(stages[min(mine)]["tasks"]) if mine else 0,
            )
        )
    return jobs
