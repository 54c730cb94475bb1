"""Spark-side numbers read from outside the program.

Jobs and stages are attributed to an operation by id range: the ids
are sequential, so the jobs of an operation are those with an id above
the newest id seen when it started. Job groups are not used because
jobs launched from the table's worker threads lose them.

The status store keeps the newest jobs and stages first, so reading
stops at the first id already seen; read it right after each operation,
before the retention limit (1000 stages) drops anything.

CPU time and peak memory come from ``/proc``: in local mode the driver
JVM also runs every task, so its CPU time covers the executors.
"""

from __future__ import annotations

import os

from perfbench.stats import union_length

_CLK = os.sysconf("SC_CLK_TCK")


def _proc_cpu_s(pid: int | str) -> float:
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    # after the command name: utime is field 11, stime field 12
    return (int(fields[11]) + int(fields[12])) / _CLK


def _proc_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class SparkProbe:
    """Reads the status stores of one SparkSession and the ``/proc``
    entries of its processes."""

    def __init__(self, spark) -> None:
        self.spark = spark
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        self.jvm_pid = int(sc._jvm.java.lang.ProcessHandle.current().pid())

    # -- /proc ----------------------------------------------------------
    def jvm_cpu_s(self) -> float:
        return _proc_cpu_s(self.jvm_pid)

    @staticmethod
    def py_cpu_s() -> float:
        t = os.times()
        return t.user + t.system

    def peak_rss_mb(self) -> float:
        """Peak resident set (VmHWM) of the JVM plus this process."""
        return (_proc_hwm_kb(self.jvm_pid) + _proc_hwm_kb("self")) / 1024.0

    # -- status stores --------------------------------------------------
    def newest_job_id(self) -> int:
        jobs = self._store.jobsList(None)
        return int(jobs.apply(0).jobId()) if jobs.size() else -1

    def newest_stage_id(self) -> int:
        stages = self._store.stageList(None, False, False, self._no_quantiles, None)
        return int(stages.apply(0).stageId()) if stages.size() else -1

    def newest_sql_id(self) -> int:
        n = self._sql_store.executionsCount()
        if not n:
            return -1
        return int(self._sql_store.executionsList(n - 1, 1).apply(0).executionId())

    def jobs_after(self, job_id: int) -> list[dict]:
        """Jobs with an id above ``job_id``: id, submit/complete epoch
        seconds and stage ids."""
        jobs = self._store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = int(j.jobId())
            if jid <= job_id:
                break
            sub, comp = j.submissionTime(), j.completionTime()
            out.append({
                "id": jid,
                "submit": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                "complete": comp.get().getTime() / 1000.0 if comp.isDefined() else None,
            })
        return out

    def stages_after(self, stage_id: int) -> list[dict]:
        """Metrics of every stage attempt with an id above ``stage_id``."""
        stages = self._store.stageList(None, False, False, self._no_quantiles, None)
        out = []
        for i in range(stages.size()):
            s = stages.apply(i)
            if int(s.stageId()) <= stage_id:
                break
            if s.status().toString() == "SKIPPED":
                continue
            out.append({
                "tasks": int(s.numCompleteTasks()),
                "run_s": s.executorRunTime() / 1e3,
                "cpu_s": s.executorCpuTime() / 1e9,
                "gc_s": s.jvmGcTime() / 1e3,
                "input_b": int(s.inputBytes()),
                "output_b": int(s.outputBytes()),
                "shuffle_read_b": int(s.shuffleReadBytes()),
                "shuffle_write_b": int(s.shuffleWriteBytes()),
                "spill_b": int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled()),
            })
        return out

    def sql_after(self, sql_id: int) -> list[dict]:
        """SQL executions with an id above ``sql_id``: wall interval and
        whether the physical plan scans JSON."""
        n = self._sql_store.executionsCount()
        out = []
        for i in range(n - 1, -1, -1):
            e = self._sql_store.executionsList(i, 1).apply(0)
            if int(e.executionId()) <= sql_id:
                break
            comp = e.completionTime()
            out.append({
                "submit": e.submissionTime() / 1000.0,
                "complete": comp.get().getTime() / 1000.0 if comp.isDefined() else None,
                "json_scan": "Scan json" in e.physicalPlanDescription(),
            })
        return out

    def mark(self) -> dict:
        """Newest ids, to be passed to ``delta`` after an operation."""
        return {"job": self.newest_job_id(), "stage": self.newest_stage_id(),
                "sql": self.newest_sql_id()}

    def delta(self, mark: dict) -> dict:
        """Everything the engine ran since ``mark``."""
        jobs = self.jobs_after(mark["job"])
        stages = self.stages_after(mark["stage"])
        intervals = [(j["submit"], j["complete"]) for j in jobs
                     if j["submit"] is not None and j["complete"] is not None]
        return {
            "jobs": jobs,
            "stages": stages,
            "sql": self.sql_after(mark["sql"]),
            "job_busy_s": union_length(intervals),
            "first_job_submit": min((j["submit"] for j in jobs
                                     if j["submit"] is not None), default=None),
        }


def query_phases(df) -> dict[str, float]:
    """Catalyst phase durations (seconds) from the QueryPlanningTracker of
    the query a DataFrame ran with its own action (collect/count)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        out[str(kv._1())] = kv._2().durationMs() / 1e3
    return out
