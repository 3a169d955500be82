"""Counters read from the driver JVM and /proc, outside the timed window.

Jobs, stages, tasks, shuffle bytes and executor time come from the
application status store (works with the UI off); the job group the
benchmark sets around each op selects that op's jobs.
"""

from __future__ import annotations

import os
import re

# a plan line: tree drawing, optional codegen stage id, node name
PLAN_LINE = re.compile(r"^([\s|:+\-]*)(?:\*\(\d+\)\s*)?(.*)$")
# physical operators that run Python on executors
PYTHON_NODE = re.compile(r"^\w*(?:InPandas|InArrow|EvalPython|Python)\w*\b")


class Jvm:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def op_counters(self, group: str, exec_from: float) -> dict:
        """Counters of the jobs in ``group``; jobs submitted at or after
        ``exec_from`` (epoch seconds) belong to the final collect, the
        rest to construction."""
        self.jsc.listenerBus().waitUntilEmpty()
        out = {
            "build_jobs": 0, "exec_jobs": 0, "stages": 0, "tasks": 0,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
            "executor_run_s": 0.0, "executor_cpu_s": 0.0,
        }
        submitted: list[float] = []
        exec_stages: set[int] = set()
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self.store.job(job_id)
            t = job.submissionTime().get().getTime() / 1000.0
            submitted.append(t)
            is_exec = t >= exec_from - 0.001
            out["exec_jobs" if is_exec else "build_jobs"] += 1
            if is_exec:
                ids = job.stageIds()
                exec_stages.update(ids.apply(i) for i in range(ids.size()))
        for sid in exec_stages:
            st = self.store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
        out["job_times"] = submitted
        return out

    def persistent_rdds(self) -> int:
        return self.jsc.getPersistentRDDs().size()

    def peak_rss_mb(self) -> float:
        """VmHWM of the driver JVM plus this Python process."""
        return (_hwm_kb(self.sc._gateway.proc.pid) + _hwm_kb(os.getpid())) / 1024.0


def python_nodes(df) -> int:
    """Python-running nodes in the executed plan; under AQE only the
    final plan counts, each ``== Initial Plan ==`` block is skipped."""
    n, skip_below = 0, None
    for line in df._jdf.queryExecution().executedPlan().toString().splitlines():
        indent, body = PLAN_LINE.match(line).groups()
        if skip_below is not None:
            if len(indent) > skip_below:
                continue
            skip_below = None
        if body.startswith("== Initial Plan =="):
            skip_below = len(indent)
        elif PYTHON_NODE.match(body):
            n += 1
    return n


def _hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")
