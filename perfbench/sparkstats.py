"""Per-statement Spark numbers for the traced run.

Every traced op runs under its own job group. Once the op returns, the
listener bus is drained and the live status store gives, for the
group's jobs: their time spans (the ``exec`` layer), job/stage/task
counts (``scheduler``) and the stage task metrics (run time, GC, input,
shuffle write, spill). Plan shape (exchanges, broadcasts) and the bytes
sent to Python workers come from the executed physical plan.
"""

from __future__ import annotations

import re

MB = 1024 * 1024


class JobStats:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._groups = 0

    def begin(self, label: str) -> str:
        self._groups += 1
        gid = f"perfbench-{self._groups}"
        self.sc.setJobGroup(gid, label, False)
        return gid

    def end(self, gid: str) -> dict:
        """Collect the group's job spans and counters."""
        self.sc._jsc.clearJobGroup()
        self._bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        out = {"jobs": [], "stages": 0, "skipped_stages": 0, "tasks": 0,
               "task_ms": 0.0, "gc_ms": 0.0, "input_rows": 0,
               "shuffle_write_mb": 0.0, "spill_mb": 0.0}
        seen: set[int] = set()
        for jid in sorted(tracker.getJobIdsForGroup(gid)):
            jd = self._store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                out["jobs"].append((sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0))
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                if sid in seen:
                    continue
                seen.add(sid)
                sd = self._store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    out["skipped_stages"] += 1
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["task_ms"] += sd.executorRunTime()
                out["gc_ms"] += sd.jvmGcTime()
                # rows, not bytes: the stage's inputBytes counted ~23 KB
                # for a 600 k-row parquet column scan
                out["input_rows"] += sd.inputRecords()
                out["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
        return out


def plan_shape(plan_text: str) -> tuple[int, int]:
    """(shuffle exchanges, broadcast exchanges) in a physical plan string."""
    broadcasts = len(re.findall(r"\bBroadcastExchange\b", plan_text))
    shuffles = len(re.findall(r"\bExchange\b", plan_text))
    return shuffles, broadcasts


def python_bytes_sent(df) -> int:
    """Bytes the executed plan of ``df`` sent to Python workers (the
    ``pythonDataSent`` SQL metric of every Python exec node). Read after
    an action that ran ``df``'s own query execution."""
    total = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls.startswith("AdaptiveSparkPlan"):
            stack.append(node.executedPlan())
            continue
        if "QueryStage" in cls:
            stack.append(node.plan())
            continue
        metrics = node.metrics()
        if metrics.contains("pythonDataSent"):
            total += metrics.apply("pythonDataSent").value()
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return total
