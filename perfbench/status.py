"""Readers of Spark's own status stores: job, stage and task metrics
from the app status store, Python-worker SQL metrics from the SQL
status store. Nothing here adds tracing to the program; it reads what
Spark already records (both stores answer with the UI disabled)."""

from __future__ import annotations

import re

PY_METRICS = {
    "time to initialize Python workers": "python.worker_init_ms",
    "time to run Python workers": "python.worker_run_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}
_UNITS = {"ms": 1.0, "s": 1e3, "min": 60e3, "h": 3600e3, "B": 1.0, "KiB": 1024.0,
          "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4}
_VALUE = re.compile(r"^([0-9.,]+) ?([A-Za-z]+)")


def parse_metric(text: str) -> float:
    """A formatted SQL metric ("total (min, med, max ...)\\n1.2 s (...)" or
    "0 ms") -> its total in ms or bytes."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = _VALUE.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _store(spark):
    return spark.sparkContext._jsc.sc().statusStore()


def stage_table(spark) -> dict[int, dict]:
    """stageId -> totals of its latest attempt, for every retained stage."""
    sc = spark.sparkContext
    empty = sc._gateway.new_array(sc._jvm.double, 0)
    stages = _store(spark).stageList(None, False, False, empty, None)
    out: dict[int, dict] = {}
    for i in range(stages.size()):
        s = stages.apply(i)
        sid = s.stageId()
        if sid in out and out[sid]["attempt"] > s.attemptId():
            continue
        sub, done = s.submissionTime(), s.completionTime()
        out[sid] = {
            "attempt": s.attemptId(), "tasks": s.numTasks(),
            "start_ms": sub.get().getTime() if sub.isDefined() else None,
            "end_ms": done.get().getTime() if done.isDefined() else None,
            "run_ms": s.executorRunTime(), "cpu_ms": s.executorCpuTime() / 1e6,
            "gc_ms": s.jvmGcTime(), "shuffle_write": s.shuffleWriteBytes(),
            "shuffle_read": s.shuffleReadBytes(),
            "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
        }
    return out


def group_jobs(spark, group: str) -> list[dict]:
    """The jobs run under a job group, with their wall interval in ms."""
    store = _store(spark)
    out = []
    for jid in spark.sparkContext.statusTracker().getJobIdsForGroup(group):
        job = store.job(jid)
        sub, done = job.submissionTime(), job.completionTime()
        out.append({
            "id": jid,
            "start_ms": sub.get().getTime() if sub.isDefined() else None,
            "end_ms": done.get().getTime() if done.isDefined() else None,
            "stages": [int(x) for x in job.stageIds().mkString(",").split(",") if x],
        })
    return out


def group_task_ms(spark, group: str) -> float:
    stages = stage_table(spark)
    ids = {s for j in group_jobs(spark, group) for s in j["stages"]}
    return float(sum(stages[s]["run_ms"] for s in ids if s in stages))


def task_skew(spark, stage_id: int, attempt: int) -> float:
    """Max task run time over median task run time of one stage."""
    sc = spark.sparkContext
    q = sc._gateway.new_array(sc._jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    summary = _store(spark).taskSummary(stage_id, attempt, q)
    if not summary.isDefined():
        return 1.0
    run = summary.get().executorRunTime()
    med, top = run.apply(0), run.apply(1)
    return top / med if med > 0 else 1.0


def python_boundary(spark, job_ids: set[int] | None = None) -> dict[str, float]:
    """Python-worker SQL metrics summed over SQL executions (only those
    running one of ``job_ids`` when given)."""
    sql = spark._jsparkSession.sharedState().statusStore()
    out = dict.fromkeys(PY_METRICS.values(), 0.0)
    execs = sql.executionsList()
    for i in range(execs.size()):
        e = execs.apply(i)
        if job_ids is not None:
            jobs = {int(x) for x in e.jobs().keys().mkString(",").split(",") if x}
            if not jobs & job_ids:
                continue
        metrics, seen = e.metrics(), set()
        values = None
        for j in range(metrics.size()):
            m = metrics.apply(j)
            key = PY_METRICS.get(m.name())
            if key is None or m.accumulatorId() in seen:
                continue
            seen.add(m.accumulatorId())
            if values is None:
                values = sql.executionMetrics(e.executionId())
            v = values.get(m.accumulatorId())
            if v.isDefined():
                out[key] += parse_metric(v.get())
    return out
