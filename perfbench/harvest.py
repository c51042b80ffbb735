"""Per-operation Spark counters read from the driver's status store.

Read after the timed region, never inside it. Jobs are attributed to
operations by job group (the benchmark sets one per operation in
traced runs) or by submission time.

Every stage is counted once. A stage id listed by several jobs (a
shuffle map stage reused by a later job) is charged to the operation
of the lowest job id that lists it, if it ran; every other operation
whose jobs list it reports it under ``stages_skipped`` and adds none
of its task counters. Stages the store marks SKIPPED add only to
``stages_skipped``. Summing stage counters per job instead counts a
reused stage once per job that lists it.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

#: counters summed over the stages an operation ran
STAGE_FIELDS = ("tasks", "run_ms", "cpu_ns", "input_bytes",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


@dataclass
class Job:
    job_id: int
    group: str | None
    stage_ids: tuple[int, ...]
    submitted_ms: int | None = None
    completed_ms: int | None = None


@dataclass
class Stage:
    stage_id: int
    status: str
    counters: dict = field(default_factory=dict)


@dataclass
class OpSpark:
    jobs: int = 0
    job_ms: int = 0
    stages: int = 0
    stages_skipped: int = 0
    counters: dict = field(
        default_factory=lambda: dict.fromkeys(STAGE_FIELDS, 0))


def attribute(jobs: list[Job], stages: dict[int, Stage],
              op_of: Callable[[Job], str | None]) -> dict[str, OpSpark]:
    """Aggregate ``stages`` per operation, each stage counted once.
    ``op_of`` maps a job to its operation key, or None to ignore it."""
    owner: dict[int, int] = {}
    for j in jobs:
        for s in j.stage_ids:
            owner[s] = min(owner.get(s, j.job_id), j.job_id)
    out: dict[str, OpSpark] = {}
    seen: dict[str, set[int]] = {}
    for j in sorted(jobs, key=lambda j: j.job_id):
        op = op_of(j)
        if op is None:
            continue
        agg = out.setdefault(op, OpSpark())
        done = seen.setdefault(op, set())
        agg.jobs += 1
        if j.submitted_ms is not None and j.completed_ms is not None:
            agg.job_ms += j.completed_ms - j.submitted_ms
        for s in j.stage_ids:
            if s in done:
                continue
            done.add(s)
            st = stages.get(s)
            if st is None or st.status == "SKIPPED" or owner[s] != j.job_id:
                agg.stages_skipped += 1
                continue
            agg.stages += 1
            for k in STAGE_FIELDS:
                agg.counters[k] += st.counters.get(k, 0)
    return out


def _opt(o):
    return o.get() if o.isDefined() else None


def read_store(sc) -> tuple[list[Job], dict[int, Stage]]:
    """All jobs and stages the status store holds (attempts summed)."""
    store = sc._jsc.sc().statusStore()
    quant = sc._gateway.new_array(sc._jvm.double, 0)
    stages: dict[int, Stage] = {}
    sl = store.stageList(None, False, False, quant, None)
    for i in range(sl.size()):
        sd = sl.apply(i)
        st = stages.setdefault(sd.stageId(), Stage(
            sd.stageId(), sd.status().toString(),
            dict.fromkeys(STAGE_FIELDS, 0)))
        if sd.status().toString() != "SKIPPED":
            st.status = sd.status().toString()
        c = st.counters
        c["tasks"] += sd.numCompleteTasks()
        c["run_ms"] += sd.executorRunTime()
        c["cpu_ns"] += sd.executorCpuTime()
        c["input_bytes"] += sd.inputBytes()
        c["shuffle_read_bytes"] += sd.shuffleReadBytes()
        c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        c["spill_bytes"] += sd.diskBytesSpilled()
    jobs = []
    jl = store.jobsList(None)
    for i in range(jl.size()):
        jd = jl.apply(i)
        sids = jd.stageIds()
        sub, end = _opt(jd.submissionTime()), _opt(jd.completionTime())
        jobs.append(Job(jd.jobId(), _opt(jd.jobGroup()),
                        tuple(int(str(sids.apply(k)))
                              for k in range(sids.size())),
                        None if sub is None else int(sub.getTime()),
                        None if end is None else int(end.getTime())))
    return jobs, stages
