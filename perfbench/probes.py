"""Readings taken from the running Spark application.

Job, stage and task counts come from ``SparkContext.statusTracker`` and
the application status store, which both work with the UI disabled.
Streaming progress comes from a ``StreamingQueryListener``. All of it is
read between timed calls, never inside one.
"""

from __future__ import annotations

import gc
import math
import os
import statistics
import time

from pyspark.sql.streaming import StreamingQueryListener

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _proc_ticks(fields: list[str], children: bool) -> int:
    """utime + stime (and cutime + cstime) from a /proc stat line's fields
    after the command name."""
    return sum(int(x) for x in fields[11:15 if children else 13])


def process_tree_cpu_s(root: int) -> float:
    """CPU seconds, user and system, that process ``root`` and its live
    descendants (the JVM, its Python workers) have used so far, with the
    children they have reaped."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue  # ended while scanning
            procs[int(name)] = (int(fields[1]), _proc_ticks(fields, children=True))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo.extend(kids.get(pid, ()))
    return ticks / _CLK_TCK


def jit_cpu_s(spark) -> float:
    """CPU seconds the JVM's JIT compiler threads have used so far."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    ticks = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                line = f.read()
        except OSError:
            continue
        name = line[line.index("(") + 1:line.rindex(")")]
        if "CompilerThre" in name:  # "C1 CompilerThre", "C2 CompilerThre"
            ticks += _proc_ticks(line.rsplit(")", 1)[1].split(), children=False)
    return ticks / _CLK_TCK


def _jsc(spark):
    return spark.sparkContext._jsc.sc()


def retained_heap_mb(spark, rounds: int = 3) -> float:
    """JVM heap in use after full collections.

    Python's collector runs first, so that JVM objects held only by
    dropped py4j proxies become garbage; the pauses between JVM
    collections let Spark's context cleaner release what the first one
    freed."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    for _ in range(rounds):
        jvm.java.lang.System.gc()
        time.sleep(0.5)
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return usage.getUsed() / 2**20


def storage(spark) -> tuple[int, int]:
    """(persistent RDDs, bytes they hold in memory and on disk)."""
    sc = _jsc(spark)
    cached = sum(i.memSize() + i.diskSize() for i in sc.getRDDStorageInfo())
    return sc.getPersistentRDDs().size(), cached


def jobs_started(spark) -> int:
    """Jobs submitted so far in this application; job ids are 0..n-1."""
    return _jsc(spark).dagScheduler().numTotalJobs()


def job_stats(spark, first_job: int, end_job: int) -> dict[str, float]:
    """Totals over jobs [first_job, end_job): jobs, completed stages and
    tasks, executor run time, shuffle and spill bytes. Skipped stages
    (output reused from an earlier job) count nothing."""
    _jsc(spark).listenerBus().waitUntilEmpty()
    tracker = spark.sparkContext.statusTracker()
    store = _jsc(spark).statusStore()
    out = dict(jobs=0, stages=0, tasks=0, executor_run_s=0.0,
               shuffle_read_bytes=0, shuffle_write_bytes=0, spill_bytes=0)
    seen: set[int] = set()
    for job_id in range(first_job, end_job):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            attempts = store.stageData(sid, False, None, False, None)
            for k in range(attempts.size()):
                st = attempts.apply(k)
                if st.status().toString() != "COMPLETE":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["executor_run_s"] += st.executorRunTime() / 1000.0
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out


class ProgressRecorder(StreamingQueryListener):
    """Collects one record per streaming micro-batch."""

    def __init__(self):
        self.batches: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        dur = p.durationMs or {}
        ops = p.stateOperators or []
        self.batches.append({
            "run_id": str(p.runId),
            "batch_id": p.batchId,
            "batch_s": dur.get("triggerExecution", 0) / 1000.0,
            "commit_s": (dur.get("commitOffsets", 0) + dur.get("commitBatch", 0)
                         + sum(o.commitTimeMs for o in ops)) / 1000.0,
            "state_rows": sum(o.numRowsTotal for o in ops),
            "state_bytes": sum(o.memoryUsedBytes for o in ops),
        })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def streaming_summary(batches: list[dict]) -> dict[str, float]:
    """Batch count, median batch time, total commit time, and the state
    rows and bytes of each stream's last batch, summed over streams."""
    last: dict[str, dict] = {}
    for b in batches:
        last[b["run_id"]] = b
    return {
        "batches": len(batches),
        "batch_s_p50": statistics.median([b["batch_s"] for b in batches]) if batches else 0.0,
        "commit_s": math.fsum(b["commit_s"] for b in batches),
        "state_rows": sum(b["state_rows"] for b in last.values()),
        "state_bytes": sum(b["state_bytes"] for b in last.values()),
    }
