"""Read what Spark ran for a job group out of its in-process status
store (works with the UI disabled), plus the CPU time and memory peak
of this process tree (Python, the JVM it launched, workers).

Jobs are found through the job group set before each build and sink;
stage metrics are summed once per distinct stage of those jobs. SQL
executions (one per Spark SQL action or command, started once its
physical plan is ready) are read in the order they started.
"""

from __future__ import annotations

import os

#: StageData accessor -> summed field, with a scale to seconds for
#: the millisecond timers.
_STAGE_FIELDS = {
    "executorRunTime": ("executor_run_s", 1e-3),
    "inputBytes": ("scan_bytes", 1),
    "inputRecords": ("scan_rows", 1),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "shuffleFetchWaitTime": ("shuffle_fetch_wait_s", 1e-3),
    "memoryBytesSpilled": ("spill_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
    "jvmGcTime": ("gc_s", 1e-3),
    "numCompleteTasks": ("tasks", 1),
    "numFailedTasks": ("failed_tasks", 1),
}


class StatusStore:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._seen = 0
        jvm = self.sc._jvm
        self._no_status = jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def drain(self) -> None:
        """Wait until the listener bus has applied every event."""
        self._bus.waitUntilEmpty()

    def jobs(self, group: str) -> list[dict]:
        """Jobs of ``group`` with epoch-second submit/complete times."""
        out = []
        for jid in sorted(self.sc.statusTracker().getJobIdsForGroup(group)):
            j = self._store.job(jid)
            sub, done = j.submissionTime(), j.completionTime()
            stage_ids, it = [], j.stageIds().iterator()
            while it.hasNext():
                stage_ids.append(int(it.next()))
            out.append({
                "job": int(jid),
                "submitted": sub.get().getTime() / 1e3 if sub.isDefined() else None,
                "completed": done.get().getTime() / 1e3 if done.isDefined() else None,
                "status": j.status().toString(),
                "stages": stage_ids,
            })
        return out

    def new_executions(self) -> list[dict]:
        """Root SQL executions started since the last call, with
        epoch-second submit/complete times."""
        n = int(self._sql.executionsCount())
        out, it = [], self._sql.executionsList(self._seen, n - self._seen).iterator()
        self._seen = n
        while it.hasNext():
            e = it.next()
            if e.rootExecutionId() != e.executionId():
                continue
            done = e.completionTime()
            out.append({
                "execution": int(e.executionId()),
                "submitted": e.submissionTime() / 1e3,
                "completed": done.get().getTime() / 1e3 if done.isDefined() else None,
            })
        return out

    def stage_totals(self, stage_ids) -> dict:
        """Summed stage metrics over the distinct ``stage_ids``."""
        tot = {name: 0 for name, _ in _STAGE_FIELDS.values()}
        tot["stages"] = 0
        for sid in sorted(set(stage_ids)):
            attempts = self._store.stageData(
                sid, False, self._no_status, False, self._no_quantiles
            )
            for i in range(attempts.size()):
                s = attempts.apply(i)
                if s.status().toString() == "SKIPPED":
                    continue
                tot["stages"] += 1
                for field, (name, scale) in _STAGE_FIELDS.items():
                    tot[name] += getattr(s, field)() * scale
        return tot


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    kids = []
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        kids.append(int(p))
            except (OSError, ValueError, IndexError):
                pass
    return kids


def _tree() -> list[int]:
    todo, pids = [os.getpid()], []
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(_children(pid))
    return pids


def cpu_s() -> float:
    """User plus system CPU seconds used so far by this process and its
    live descendants."""
    total = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])
        except (OSError, ValueError, IndexError):
            pass
    return total / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> float:
    """Peak resident memory of this process plus its descendants (the
    JVM and any Python workers), in MiB."""
    return sum(_status_kb(pid, "VmHWM") for pid in _tree()) / 1024
