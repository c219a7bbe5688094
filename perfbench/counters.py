"""Counters read from outside the engine: Spark's status store per op,
and host / JVM figures from ``/proc`` and the JVM's management beans.

Every op runs under its own Spark job group. After the op, the job ids
of that group are joined to the status store's stage data. The status
store is fed by Spark's own listener and exists with
``spark.ui.enabled=false``.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JJavaError

_HZ = os.sysconf("SC_CLK_TCK")


def _opt_ms(opt) -> int | None:
    """Epoch milliseconds of a Scala ``Option[java.util.Date]``."""
    return opt.get().getTime() if opt.isDefined() else None


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total = 0
    end = None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def op_counters(sc, group: str, wall_s: float) -> dict[str, float]:
    """Jobs, stages, tasks, bytes and executor time of one job group.

    Skipped stages (shuffle output reused from an earlier job) are not
    counted: they run no tasks. ``driver_share`` is the part of the op's
    wall time during which no stage of the group was running.
    """
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    job_ids = list(sc.statusTracker().getJobIdsForGroup(group))
    stage_ids: set[int] = set()
    for jid in job_ids:
        seq = store.job(jid).stageIds()
        stage_ids.update(seq.apply(i) for i in range(seq.size()))
    out = dict.fromkeys(
        ("stages", "tasks", "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
         "spill_bytes", "output_bytes", "output_records", "executor_run_s",
         "executor_cpu_s"),
        0.0,
    )
    intervals = []
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError as exc:
            # a job can list a stage of an earlier op whose shuffle output
            # it reuses; that stage is skipped here and may already be
            # evicted from the store
            if "NoSuchElementException" not in str(exc.java_exception):
                raise
            continue
        if st.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += st.numTasks()
        out["input_bytes"] += st.inputBytes()
        out["shuffle_read_bytes"] += st.shuffleReadBytes()
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out["output_bytes"] += st.outputBytes()
        out["output_records"] += st.outputRecords()
        out["executor_run_s"] += st.executorRunTime() / 1e3
        out["executor_cpu_s"] += st.executorCpuTime() / 1e9
        start, end = _opt_ms(st.submissionTime()), _opt_ms(st.completionTime())
        if start is not None and end is not None:
            intervals.append((start, end))
    out["jobs"] = float(len(job_ids))
    in_stages = _union_ms(intervals) / 1e3
    out["driver_share"] = max(0.0, 1.0 - in_stages / wall_s) if wall_s > 0 else 0.0
    return out


def steal_s() -> float:
    """Host CPU time stolen by the hypervisor since boot, in seconds."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _HZ


def proc_cpu_s(pid: int) -> float:
    """User plus system CPU seconds of one process."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _HZ


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def gc_s(sc) -> float:
    """Total garbage-collection time of the driver JVM, in seconds."""
    beans = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1e3
