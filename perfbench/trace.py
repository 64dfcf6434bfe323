"""Spans and Spark counters recorded from outside the library.

Spans are kept in memory and written as JSON when the run ends.  Spark
work is attributed to an op by job-id range: ops run one at a time, so
every job with an id at or above the floor taken before the op belongs
to it.  Stage metrics are read from Spark's status store after the op;
reading it starts no Spark job and works with the web UI disabled.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from .stats import median


class Tracer:
    """Records spans when ``enabled``; :meth:`span` is a no-op otherwise."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.monotonic(),
            "end": None,
        }
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


class SparkCounters:
    """Job/stage metrics of one op, read from the status store."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        jvm = self._sc._jvm
        self._no_list = jvm.java.util.ArrayList()
        self._no_q = self._sc._gateway.new_array(jvm.double, 0)

    def _jobs(self):
        return self._store.jobsList(None)

    def floor(self) -> int:
        """Id the next job will get (the store lists the newest job first)."""
        jobs = self._jobs()
        return jobs.apply(0).jobId() + 1 if jobs.size() else 0

    def since(self, floor: int) -> dict:
        """Totals over every job with id >= floor."""
        jobs = self._jobs()
        out = {
            "jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
            "input_records": 0, "input_bytes": 0,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
            "executor_cpu_s": 0.0, "executor_run_s": 0.0, "gc_s": 0.0,
            "intervals": [], "stage_list": [],
        }
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() < floor:
                break
            out["jobs"] += 1
            sub, comp = j.submissionTime(), j.completionTime()
            if sub.isDefined() and comp.isDefined():
                out["intervals"].append(
                    (sub.get().getTime() / 1e3, comp.get().getTime() / 1e3)
                )
            sids = j.stageIds()
            for k in range(sids.size()):
                self._stage(sids.apply(k), out)
        return out

    def _stage(self, sid: int, out: dict) -> None:
        attempts = self._store.stageData(sid, False, self._no_list, False, self._no_q)
        for a in range(attempts.size()):
            s = attempts.apply(a)
            if str(s.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            out["failed_tasks"] += s.numFailedTasks()
            out["input_records"] += s.inputRecords()
            out["input_bytes"] += s.inputBytes()
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["gc_s"] += s.jvmGcTime() / 1e3
            sub, comp = s.submissionTime(), s.completionTime()
            dur = (
                (comp.get().getTime() - sub.get().getTime()) / 1e3
                if sub.isDefined() and comp.isDefined() else 0.0
            )
            out["stage_list"].append(
                {"shuffle_read_bytes": s.shuffleReadBytes(), "duration_s": dur}
            )


def spark_layer(ops: list[dict], first_cycle_ops: set) -> dict:
    """Per-layer Spark figures of the traced timed ``ops`` (each carrying
    the ``spark`` totals of :meth:`SparkCounters.since`).

    Times are per-op medians; counts and bytes are per-op means over the
    first timed cycle, which every run completes, so they repeat for a
    seed."""
    drv, busy = [], []
    for o in ops:
        u = union_seconds(o["spark"]["intervals"])
        busy.append(u)
        drv.append(max(0.0, o["wall"] - u))
    first = [o for o in ops if o["op"] in first_cycle_ops]
    n = max(1, len(first))
    tot = {k: sum(o["spark"][k] for o in first) for k in (
        "jobs", "stages", "tasks", "input_records", "shuffle_read_bytes",
        "shuffle_write_bytes", "executor_cpu_s", "gc_s")}
    return {
        "api.driver_only_s": median(drv),
        "api.jobs_per_op": tot["jobs"] / n,
        "api.stages_per_op": tot["stages"] / n,
        "scan.spark_busy_s": median(busy),
        "scan.executor_cpu_s": tot["executor_cpu_s"] / n,
        "scan.shuffle_bytes": (tot["shuffle_read_bytes"] + tot["shuffle_write_bytes"]) / n,
        "scan.gc_s": tot["gc_s"] / n,
        "spark.failed_tasks": sum(o["spark"]["failed_tasks"] for o in ops),
        "spark.tasks_first_cycle": tot["tasks"],
    }


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _proc_stats() -> dict:
    """pid -> (ppid, utime + stime, cutime + cstime) in clock ticks."""
    out = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields after the command: state ppid ... utime(12) stime(13) cutime(14) cstime(15)
        out[int(pid)] = (int(fields[1]), int(fields[11]) + int(fields[12]),
                         int(fields[13]) + int(fields[14]))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by this process and all its descendants
    (the JVM, the PySpark daemon and workers), reaped children included.

    The kernel charges hypervisor steal to no process, so this moves far
    less than wall time when other tenants load the host."""
    root = os.getpid() if root is None else root
    st = _proc_stats()
    kids: dict = {}
    for pid, (ppid, _, _) in st.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in st:
            total += st[pid][1] + st[pid][2]
        todo.extend(kids.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def python_worker_cpu_s() -> float:
    """CPU seconds of the PySpark daemon and workers, children included."""
    tck = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            if b"pyspark.daemon" not in cmd and b"pyspark.worker" not in cmd:
                continue
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime stime cutime cstime (fields 14-17 of stat, 1-based)
        total += sum(int(x) for x in fields[11:15])
    return total / tck


def steal_seconds() -> float:
    """Host-wide CPU steal time so far (from /proc/stat)."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        return int(parts[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0
