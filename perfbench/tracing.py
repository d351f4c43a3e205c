"""Spans and Spark job/stage costs, recorded from outside the program.

A span is (op, name, start, end, parent). ``Tracer.span`` also puts
every Spark job started inside it under its own job group, so the
group's jobs and their stages can be read back from the status store
afterwards; that store stays live with ``spark.ui.enabled=false``.
Spans stay in memory until ``dump``.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path

from py4j.protocol import Py4JJavaError


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.op = 0
        self._stack: list[str] = []
        self._store = self.sc._jsc.sc().statusStore()

    def next_op(self) -> int:
        self.op += 1
        return self.op

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        group = f"op{self.op}.{name}"
        self.sc.setJobGroup(group, name)
        self._stack.append(name)
        rec = {"op": self.op, "name": name, "parent": parent, "group": group}
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"op{self.op}.{parent}", parent)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            rec.update(self.group_costs(group))
            self.spans.append(rec)

    def group_costs(self, group: str) -> dict:
        """Jobs and summed stage metrics of one job group."""
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = {
            "jobs": len(jobs),
            "task_s": 0.0,
            "shuffle_write_bytes": 0,
            "spill_bytes": 0,
            "peak_exec_mem_bytes": 0,
        }
        for sid in stage_ids:
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # skipped stages never ran an attempt
                continue
            out["task_s"] += st.executorRunTime() / 1000.0
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.diskBytesSpilled()
            out["peak_exec_mem_bytes"] = max(
                out["peak_exec_mem_bytes"], st.peakExecutionMemory()
            )
        return out

    def find(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def total(self, name: str, key: str = "wall") -> float:
        if key == "wall":
            return sum(s["end"] - s["start"] for s in self.find(name))
        return sum(s[key] for s in self.find(name))

    def dump(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"spans": self.spans, **extra}, indent=1))
