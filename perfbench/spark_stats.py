"""Readers for what the Spark runtime and the OS record about a run.

- ``StatusStore``: jobs and stages from Spark's AppStatusStore (the store
  behind the Spark UI and REST API), read through py4j and serialized to
  JSON on the JVM side with the same Jackson mapper the REST API uses, so a
  whole run is two calls instead of one py4j call per field.  Every op runs
  under its own job group, so per-op figures are sums over the stages of
  that group's jobs.
- ``ProcessCpu``: CPU seconds and RSS of the Python worker processes Spark
  forks under the JVM (and of the JVM and driver themselves), from /proc.
- ``StreamProgress``: a StreamingQueryListener collecting the progress of
  every micro-batch.
"""

from __future__ import annotations

import json
import os
import threading
from dataclasses import dataclass, field

#: StageData fields summed per op
STAGE_SUMS = (
    "numCompleteTasks", "executorRunTime", "executorCpuTime", "jvmGcTime",
    "inputBytes", "inputRecords", "outputBytes", "outputRecords",
    "shuffleReadBytes", "shuffleWriteBytes", "diskBytesSpilled",
)


class StatusStore:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()
        jvm = sc._jvm
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(scala.__getattr__("MODULE$"))

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs(self) -> list[dict]:
        return self._json(self._store.jobsList(None))

    def stages(self, with_tasks: bool = False) -> dict[int, dict]:
        """Latest attempt of every stage; ``with_tasks`` adds per-task data."""
        quantiles = self._sc._gateway.new_array(self._sc._jvm.double, 0)
        out = {}
        for s in self._json(self._store.stageList(None, with_tasks, False, quantiles, None)):
            if with_tasks:
                s.pop("details", None)
            prev = out.get(s["stageId"])
            if prev is None or s["attemptId"] > prev["attemptId"]:
                out[s["stageId"]] = s
        return out


@dataclass
class GroupStats:
    """Engine figures of one job group (one op, or one op's build step)."""

    jobs: int = 0
    stages: int = 0
    sums: dict = field(default_factory=lambda: dict.fromkeys(STAGE_SUMS, 0))
    peak_exec_mem: int = 0
    #: max / median task run time on the stage with the most run time
    task_skew: float = 0.0
    scan_tasks: int = 0
    scan_tasks_fed: int = 0


def group_stats(jobs: list[dict], stages: dict[int, dict]) -> dict[str, GroupStats]:
    """Per job group sums.  A stage listed by several jobs (a reused shuffle
    map stage) is counted once, for the first job that lists it."""
    owner: dict[int, str] = {}
    out: dict[str, GroupStats] = {}
    for job in sorted(jobs, key=lambda j: j["jobId"]):
        group = job.get("jobGroup")
        if group is None:
            continue
        g = out.setdefault(group, GroupStats())
        g.jobs += 1
        for sid in job["stageIds"]:
            owner.setdefault(sid, group)
    longest: dict[str, tuple[int, dict]] = {}
    for sid, group in owner.items():
        s = stages.get(sid)
        if s is None or s["numCompleteTasks"] == 0:
            continue
        g = out[group]
        g.stages += 1
        for k in STAGE_SUMS:
            g.sums[k] += s[k]
        g.peak_exec_mem = max(g.peak_exec_mem, s["peakExecutionMemory"])
        if s["executorRunTime"] > longest.get(group, (-1, None))[0]:
            longest[group] = (s["executorRunTime"], s)
        tasks = s.get("tasks")
        if tasks and s["inputBytes"] > 0:
            done = [t for t in tasks.values() if t.get("taskMetrics")]
            g.scan_tasks += len(done)
            g.scan_tasks_fed += sum(
                1 for t in done if t["taskMetrics"]["inputMetrics"]["recordsRead"] > 0
            )
        elif s["inputBytes"] > 0:
            g.scan_tasks += s["numCompleteTasks"]
    for group, (_, s) in longest.items():
        runs = sorted(t["taskMetrics"]["executorRunTime"]
                      for t in (s.get("tasks") or {}).values() if t.get("taskMetrics"))
        if runs:
            mid = runs[len(runs) // 2]
            out[group].task_skew = runs[-1] / mid if mid > 0 else float(runs[-1] > 0) + 1.0
    return out


_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, float, float, int] | None:
    """(ppid, own cpu s, reaped children cpu s, rss bytes) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return None
    # fields[0] is field 3 (state) of proc(5)
    return (
        int(fields[1]),
        (int(fields[11]) + int(fields[12])) / _CLK,
        (int(fields[13]) + int(fields[14])) / _CLK,
        int(fields[21]) * _PAGE,
    )


def _is_pyspark_daemon(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except (FileNotFoundError, ProcessLookupError):
        return False


class ProcessCpu:
    """CPU and RSS of the driver, the JVM and the Python workers below it.

    Python workers are forked by a ``pyspark.daemon`` child of the JVM;
    a worker that exits has its CPU added to the daemon's reaped-children
    time, so daemon own + reaped + live workers' own time is cumulative."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def _tree(self) -> dict[int, tuple]:
        procs = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                st = _stat(int(d))
                if st is not None:
                    procs[int(d)] = st
        return procs

    def sample(self) -> dict:
        procs = self._tree()
        children: dict[int, list[int]] = {}
        for pid, st in procs.items():
            children.setdefault(st[0], []).append(pid)
        python_cpu = 0.0
        rss = procs.get(os.getpid(), (0, 0, 0, 0))[3] + procs.get(self.jvm_pid, (0, 0, 0, 0))[3]
        for daemon in children.get(self.jvm_pid, []):
            # the JVM also forks short-lived shell commands (file permissions)
            if not _is_pyspark_daemon(daemon):
                continue
            python_cpu += procs[daemon][1] + procs[daemon][2]
            rss += procs[daemon][3]
            for worker in children.get(daemon, []):
                python_cpu += procs[worker][1]
                rss += procs[worker][3]
        jvm_cpu = procs.get(self.jvm_pid, (0, 0.0))[1]
        return {"python_cpu_s": python_cpu, "jvm_cpu_s": jvm_cpu, "rss_bytes": rss}


class StreamProgress:
    """Collects ``(numInputRows, triggerExecution ms)`` of every micro-batch
    of every streaming query in the session."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        progress = self.progress = []
        lock = self._lock = threading.Lock()

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with lock:
                    progress.append((p.numInputRows, p.durationMs.get("triggerExecution", 0)))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        self._spark = spark
        spark.streams.addListener(self._listener)

    def take(self) -> list[tuple[int, int]]:
        with self._lock:
            out, self.progress[:] = list(self.progress), []
        return out

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)
