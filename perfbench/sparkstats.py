"""Spark counters per job group, read from the driver's status store.

These are the ``v1.StageData`` records the Spark UI's REST API serves, reached
through py4j so they work with the UI disabled. The benchmark reads them once,
after the measured phase, for the job groups its traced spans set.
"""

from __future__ import annotations

import time

from perfbench.metrics import ALL_COUNTERS as COUNTERS
from perfbench.trace import union_length

MB = 1024.0 * 1024.0


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() if opt.isDefined() else None


def group_counters(spark, settle_s: float = 5.0) -> dict[str, dict]:
    """{job group: raw counters} over every job in the status store that has
    a group. ``stage_intervals`` holds each stage's submit-to-complete
    interval in epoch milliseconds, for the driver-gap arithmetic."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    deadline = time.time() + settle_s
    while True:
        jobs = store.jobsList(None)
        running = any(str(jobs.apply(i).status()) == "RUNNING" for i in range(jobs.size()))
        if not running or time.time() > deadline:
            break
        time.sleep(0.1)
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    for i in range(jobs.size()):
        j = jobs.apply(i)
        grp = j.jobGroup()
        if not grp.isDefined():
            continue
        g = grp.get()
        rec = out.setdefault(g, {c: 0.0 for c in COUNTERS} | {"stage_intervals": []})
        rec["jobs"] += 1
        sids = j.stageIds()
        for k in range(sids.size()):
            stage_group.setdefault(sids.apply(k), g)
    stages = store.stageList(
        gw.jvm.java.util.ArrayList(), False, False,
        gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList(),
    )
    for i in range(stages.size()):
        s = stages.apply(i)
        g = stage_group.get(s.stageId())
        if g is None or str(s.status()) == "SKIPPED":
            continue
        rec = out[g]
        rec["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
        rec["executor_run_ms"] += s.executorRunTime()
        rec["executor_cpu_ms"] += s.executorCpuTime() / 1e6
        rec["gc_ms"] += s.jvmGcTime()
        rec["deserialize_ms"] += s.executorDeserializeTime()
        rec["shuffle_write_mb"] += s.shuffleWriteBytes() / MB
        rec["shuffle_fetch_wait_ms"] += s.shuffleFetchWaitTime()
        rec["spill_mb"] += (s.diskBytesSpilled() + s.memoryBytesSpilled()) / MB
        sub, done = _opt_ms(s.submissionTime()), _opt_ms(s.completionTime())
        if sub is not None and done is not None:
            rec["stage_intervals"].append((sub, done))
    return out


def span_counters(spans, raw: dict[str, dict]) -> dict[int, dict]:
    """Counters for each span that set a job group. ``driver_gap_ms`` is the
    span's wall time minus the union of its stages' submit-to-complete
    intervals (clipped to the span): the time no stage of the call ran."""
    out = {}
    for s in spans:
        if s.group is None:
            continue
        rec = raw.get(s.group)
        start_ms, end_ms = s.start * 1000.0, s.end * 1000.0
        c = {k: (rec[k] if rec else 0.0) for k in COUNTERS}
        ivals = [(max(a, start_ms), min(b, end_ms)) for a, b in (rec or {}).get("stage_intervals", [])]
        c["driver_gap_ms"] = max(0.0, (end_ms - start_ms) - union_length(ivals))
        out[s.span_id] = c
    return out


def sum_counters(rows) -> dict[str, float]:
    total = {c: 0.0 for c in COUNTERS}
    for r in rows:
        for c in COUNTERS:
            total[c] += r[c]
    return total


def storage_state(spark) -> tuple[int, int]:
    """(temp views, cached RDD blocks) in the session, for the leak counts."""
    views = sum(1 for t in spark.catalog.listTables() if t.isTemporary)
    blocks = 0
    for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
        blocks += info.numCachedPartitions()
    return views, blocks
