"""Spark-engine numbers read from outside the program: job/stage/task
counts and per-stage task metrics from Spark's status tracker and status
store, and the JVM's peak resident memory."""

from __future__ import annotations

import resource

from py4j.protocol import Py4JJavaError

STAGE_FIELDS = {
    "run_ms": lambda s: s.executorRunTime(),
    "cpu_ms": lambda s: s.executorCpuTime() / 1e6,
    "gc_ms": lambda s: s.jvmGcTime(),
    "shuffle_write_bytes": lambda s: s.shuffleWriteBytes(),
    "spill_bytes": lambda s: s.memoryBytesSpilled() + s.diskBytesSpilled(),
}


class SparkProbe:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds all jobs that finished so far."""
        self._jsc.listenerBus().waitUntilEmpty()

    def next_job_id(self) -> int:
        self.drain()
        ids = self.sc.statusTracker().getJobIdsForGroup(None)
        return max(ids) + 1 if ids else 0

    def jobs_between(self, lo: int, hi: int) -> list[dict]:
        """Jobs with ``lo <= id < hi``: description and stage ids."""
        tracker = self.sc.statusTracker()
        store = self._jsc.statusStore()
        out = []
        for jid in range(lo, hi):
            if tracker.getJobInfo(jid) is None:
                continue
            j = store.job(jid)
            d = j.description()
            st = j.stageIds()
            out.append(
                {
                    "id": jid,
                    "description": d.get() if d.isDefined() else None,
                    "stages": [st.apply(k) for k in range(st.size())],
                }
            )
        return out

    def stage_metrics(self, jobs: list[dict]) -> dict:
        """Counts and summed task metrics over the stages that ran (skipped
        stages, whose shuffle output an earlier job already wrote, are not
        counted), in total and per job description."""
        store = self._jsc.statusStore()
        seen: set[int] = set()
        total = {"jobs": len(jobs), "stages": 0, "tasks": 0, **{k: 0.0 for k in STAGE_FIELDS}}
        by_desc: dict[str, dict] = {}
        for j in jobs:
            for sid in j["stages"]:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    s = store.lastStageAttempt(sid)
                except Py4JJavaError:
                    # evicted from the store (past spark.ui.retainedStages):
                    # a stage an earlier job ran, skipped by this one
                    continue
                if s.status().toString() != "COMPLETE":
                    continue
                vals = {k: float(f(s)) for k, f in STAGE_FIELDS.items()}
                grp = by_desc.setdefault(
                    j["description"] or "", {k: 0.0 for k in STAGE_FIELDS}
                )
                total["stages"] += 1
                total["tasks"] += s.numTasks()
                for k, v in vals.items():
                    total[k] += v
                    grp[k] += v
        return {"total": total, "by_desc": by_desc}


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory of the JVM plus that of this process, in MB."""
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    if jvm_pid is not None:
        with open(f"/proc/{jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (own_kb + jvm_kb) / 1024.0
