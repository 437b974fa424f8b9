"""Spark's own counters, read from the driver's status store over Py4J.

Per-stage numbers come from ``lastStageAttempt(stageId)``: the
``stageList`` overload takes Scala default arguments that Py4J cannot
pass. SKIPPED stages did no work and are left out; a stage that several
jobs list is counted once, under the first job that ran it.
"""

from __future__ import annotations

import re

_BATCH_RE = re.compile(r"\bbatch = (\d+)\b")


def _opt_ms(opt):
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def jobs_between(spark, t_from: float, t_to: float) -> list[dict]:
    """Every job submitted in ``[t_from, t_to]`` with its stage totals."""
    store = spark._jsc.sc().statusStore()
    as_java = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava
    jobs = []
    for j in as_java(store.jobsList(None)):
        sub = _opt_ms(j.submissionTime())
        if sub is None or not (t_from <= sub <= t_to):
            continue
        desc = j.description()
        m = _BATCH_RE.search(desc.get()) if desc.isDefined() else None
        jobs.append({
            "job_id": j.jobId(),
            "start": sub,
            "end": _opt_ms(j.completionTime()) or t_to,
            "batch": int(m.group(1)) if m else None,
            "stage_ids": sorted(int(s) for s in as_java(j.stageIds())),
        })
    jobs.sort(key=lambda x: x["job_id"])
    seen: set[int] = set()
    for job in jobs:
        job["stages"] = []
        for sid in job["stage_ids"]:
            if sid in seen:
                continue
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            seen.add(sid)
            job["stages"].append({
                "stage_id": sid,
                "tasks": st.numTasks(),
                "run_s": st.executorRunTime() / 1000.0,
                "cpu_s": st.executorCpuTime() / 1e9,
                "gc_s": st.jvmGcTime() / 1000.0,
                "input_bytes": st.inputBytes(),
                "input_records": st.inputRecords(),
                "output_bytes": st.outputBytes(),
                "shuffle_read_bytes": st.shuffleReadBytes(),
                "shuffle_write_bytes": st.shuffleWriteBytes(),
                "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
            })
    return jobs


def totals(jobs: list[dict]) -> dict:
    """Run totals over ``jobs`` (exact counts, plus executor times)."""
    stages = [s for j in jobs for s in j["stages"]]
    out = {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s["tasks"] for s in stages),
    }
    for k in ("shuffle_write_bytes", "shuffle_read_bytes", "input_bytes",
              "output_bytes", "spill_bytes"):
        out[k] = sum(s[k] for s in stages)
    for k in ("run_s", "cpu_s", "gc_s"):
        out[k] = sum(s[k] for s in stages)
    return out
