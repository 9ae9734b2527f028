"""Tracing for the benchmark's traced runs: spans kept in memory and
per-op reads of Spark's own status store.

Nothing here reaches into spark_graft. Spans are recorded by the
benchmark around its calls into each layer; job and stage figures come
from Spark's AppStatusStore, read through py4j after every op
(Spark retains only the last 1000 jobs and stages, so a read at the end
of a run would lose the early ones).
"""

from __future__ import annotations

import json
import os


class Spans:
    """In-memory spans (name, start, end, parent, run id), written once."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.items: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        self.items.append(
            {"id": len(self.items), "name": name, "start": start, "end": end,
             "parent": parent, "run": self.run_id, **attrs}
        )
        return len(self.items) - 1

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.items, fh)


class StatusStore:
    """Job and stage figures for one job group, from the status store."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._ctx = self.sc._jsc.sc()
        self._store = self._ctx.statusStore()
        gw = self.sc._gateway
        self._no_status = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def persisted_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    def group(self, group: str) -> dict:
        """Totals over the jobs of `group`; job intervals in epoch seconds."""
        # job and stage events reach the store through the listener bus
        self._ctx.listenerBus().waitUntilEmpty()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
               "gc_s": 0.0, "shuffle_write": 0, "shuffle_read": 0, "spill": 0,
               "peak_mem": 0, "input_rows": 0, "intervals": []}
        seen: set[int] = set()
        for jid in sorted(self.sc.statusTracker().getJobIdsForGroup(group)):
            job = self._store.job(jid)
            out["jobs"] += 1
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                out["intervals"].append(
                    (job.submissionTime().get().getTime() / 1000,
                     job.completionTime().get().getTime() / 1000)
                )
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid not in seen:
                    seen.add(sid)
                    self._add_stage(sid, out)
        return out

    def _add_stage(self, sid: int, out: dict) -> None:
        attempts = self._store.stageData(
            sid, False, self._no_status, False, self._no_quantiles
        )
        for k in range(attempts.size()):
            s = attempts.apply(k)
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["run_s"] += s.executorRunTime() / 1e3
            out["cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle_write"] += s.shuffleWriteBytes()
            out["shuffle_read"] += s.shuffleReadBytes()
            out["spill"] += s.diskBytesSpilled()
            out["peak_mem"] = max(out["peak_mem"], s.peakExecutionMemory())
            out["input_rows"] += s.inputRecords()


def uncovered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Part of [start, end] that no interval covers (the op's driver time)."""
    covered, cursor = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, end)
        if b > a:
            covered += b - a
            cursor = b
    return max(0.0, (end - start) - covered)
