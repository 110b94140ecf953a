"""Benchmark-side tracing: spans around calls into each layer, and Spark
job/stage/task statistics for the jobs each span ran.

Spans are kept in memory (name, start, end, parent, request id, Spark
job group) and written out once, at exit.  Each span sets its own Spark
job group, so ``statusTracker().getJobIdsForGroup`` yields exactly the
jobs that ran inside it; stage and task metrics come from Spark's
status store, which stays populated with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.cores = self.sc.defaultParallelism
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, request_id: str | None = None):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "request_id": request_id or (parent and parent["request_id"]),
            "group": f"{name}#{len(self.spans)}",
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc._jsc.clearJobGroup()

    @staticmethod
    def wall(rec: dict) -> float:
        return rec["end"] - rec["start"]

    # ---- Spark statistics of the jobs a span ran ----
    def _stages(self, recs: list[dict]) -> list[int]:
        tracker = self.sc.statusTracker()
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        stages = set()
        for rec in recs:
            for job in tracker.getJobIdsForGroup(rec["group"]):
                info = tracker.getJobInfo(job)
                if info is not None:
                    stages.update(int(s) for s in info.stageIds)
        return sorted(stages)

    def _stage_data(self, stage_id: int):
        try:
            return self.sc._jsc.sc().statusStore().lastStageAttempt(stage_id)
        except Py4JJavaError:  # stage skipped: it never ran, so it has no data
            return None

    def _tasks(self, stage_id: int, attempt: int) -> list:
        seq = self.sc._jsc.sc().statusStore().taskList(stage_id, attempt, 1 << 20)
        return [seq.apply(i) for i in range(seq.length())]

    def job_stats(self, recs: list[dict]) -> dict:
        """Jobs, stages, tasks, run time, shuffle, GC and peak memory of
        every job run inside ``recs``; ``wall`` is their summed span time."""
        tracker = self.sc.statusTracker()
        stages = [d for d in map(self._stage_data, self._stages(recs))
                  if d is not None and d.numTasks() > 0 and d.completionTime().isDefined()]
        jobs = sum(len(tracker.getJobIdsForGroup(r["group"])) for r in recs)
        peak = 0
        for d in stages:
            for t in self._tasks(d.stageId(), d.attemptId()):
                if t.taskMetrics().isDefined():
                    peak = max(peak, t.taskMetrics().get().peakExecutionMemory())
        wall = sum(self.wall(r) for r in recs)
        run_s = sum(d.executorRunTime() for d in stages) / 1000.0
        return {
            "jobs": jobs,
            "stages": len(stages),
            "tasks": sum(d.numTasks() for d in stages),
            "run_s": run_s,
            "lane_util": run_s / (wall * self.cores) if wall > 0 else 0.0,
            "gc_s": sum(d.jvmGcTime() for d in stages) / 1000.0,
            "shuffle_write_mb": sum(d.shuffleWriteBytes() for d in stages) / 2**20,
            "shuffle_read_mb": sum(d.shuffleReadBytes() for d in stages) / 2**20,
            "peak_exec_mem_mb": peak / 2**20,
        }

    def heaviest_stage(self, recs: list[dict]) -> dict:
        """Task skew (max / median task duration) and lane utilisation
        (run time / (stage wall × cores)) of the stage with the most
        executor run time among the jobs of ``recs``."""
        stages = [d for d in map(self._stage_data, self._stages(recs))
                  if d is not None and d.completionTime().isDefined()]
        d = max(stages, key=lambda s: s.executorRunTime())
        durs = [t.duration().get() for t in self._tasks(d.stageId(), d.attemptId())
                if t.duration().isDefined()]
        wall_ms = d.completionTime().get().getTime() - d.submissionTime().get().getTime()
        return {
            "task_skew": max(durs) / max(statistics.median(durs), 1),
            "lane_util": d.executorRunTime() / (max(wall_ms, 1) * self.cores),
        }

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = min((s["start"] for s in self.spans), default=0.0)
        out = [
            {**s, "start": s["start"] - t0, "end": s.get("end", s["start"]) - t0}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump(out, f, indent=1)


def python_worker_rss_mb() -> float:
    """Summed peak RSS (VmHWM) of the live PySpark Python worker
    processes, read from /proc; 0 where /proc is unavailable."""
    total_kb = 0
    try:
        pids = [p for p in os.listdir("/proc") if p.isdigit()]
    except OSError:
        return 0.0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            if b"pyspark.daemon" not in cmd and b"pyspark.worker" not in cmd:
                continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
