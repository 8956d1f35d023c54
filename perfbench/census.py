"""Per-op Spark census read from the status REST API (traced runs only).

The traced run starts the session with the UI server on
(``get_spark(extra_conf=TRACE_CONF)``). After each op, ``Census.take``
lists the jobs submitted since the previous call and sums their stages.
The client is closed-loop, so every job in that window belongs to the op.
"""

from __future__ import annotations

import calendar
import json
import time
import urllib.request

TRACE_CONF = {"spark.ui.enabled": "true", "spark.ui.port": "0"}


def _union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end] intervals."""
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def _epoch_s(stamp: str) -> float:
    # "2026-10-17T12:00:00.123GMT"
    return calendar.timegm(time.strptime(stamp[:19], "%Y-%m-%dT%H:%M:%S")) + float(stamp[19:23])


class Census:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self._last_job = max((j["jobId"] for j in self._get("jobs")), default=-1)

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self._base}/{path}", timeout=30) as r:
            return json.load(r)

    def _new_jobs(self) -> list[dict]:
        # the listener bus is asynchronous: wait until every job the op
        # submitted shows as finished
        for _ in range(100):
            jobs = [j for j in self._get("jobs") if j["jobId"] > self._last_job]
            if all(j["status"] != "RUNNING" for j in jobs):
                return jobs
            time.sleep(0.02)
        return jobs

    def take(self, op_wall_s: float) -> dict:
        """Census of the jobs since the last call, for an op of ``op_wall_s``."""
        jobs = self._new_jobs()
        if jobs:
            self._last_job = max(j["jobId"] for j in jobs)
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self._get("stages?status=complete") if s["stageId"] in stage_ids]
        spans = [(_epoch_s(s["submissionTime"]), _epoch_s(s["completionTime"]))
                 for s in stages if s.get("submissionTime") and s.get("completionTime")]
        busy = _union_s(spans)
        total = lambda k: sum(s.get(k, 0) for s in stages)  # noqa: E731
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": total("numCompleteTasks"),
            "stage_busy_s": busy,
            "driver_gap_s": max(op_wall_s - busy, 0.0),
            "executor_run_s": total("executorRunTime") / 1e3,
            "executor_cpu_s": total("executorCpuTime") / 1e9,
            "shuffle_write_bytes": total("shuffleWriteBytes"),
            "shuffle_read_bytes": total("shuffleReadBytes"),
            "shuffle_fetch_wait_s": total("shuffleFetchWaitTime") / 1e3,
            "spill_bytes": total("memoryBytesSpilled") + total("diskBytesSpilled"),
            "peak_exec_mem_mb": max((s.get("peakExecutionMemory", 0) for s in stages),
                                    default=0) / 2**20,
            "persisted_rdds_after_op": self._sc._jsc.getPersistentRDDs().size(),
        }
