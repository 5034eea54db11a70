"""Spans, process counters and Spark job counts for the benchmark.

A ``Tracer`` records spans (name, start, end, parent, op id) in memory at
the boundaries where the benchmark calls into a layer of the program.
With tracing off every span is a no-op, so the untraced run times only
whole operations. ``layer_stats`` turns the spans into per-layer call
counts, total and self time, where self time is a span's duration minus
the part its child spans cover.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def proc_cpu_s(pid: int | str = "self") -> float:
    """User plus system CPU seconds of one process, from /proc."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _TICK


def proc_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of one process in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        idx = self.begin(name, **attrs)
        try:
            yield
        finally:
            self.end(idx)

    def begin(self, name: str, **attrs) -> int:
        t0 = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t0
        return rec["id"]

    def end(self, idx: int) -> None:
        t = time.perf_counter()
        self.spans[idx]["end"] = t
        if self._stack and self._stack[-1] == idx:
            self._stack.pop()
        self.overhead_s += time.perf_counter() - t

    def layer_stats(self) -> dict[str, dict]:
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, dict] = {}
        for s in self.spans:
            if "end" not in s:
                continue
            d = s["end"] - s["start"]
            st = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            st["calls"] += 1
            st["total_s"] += d
            st["self_s"] += d - child_s.get(s["id"], 0.0)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def group_job_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages, tasks and failed tasks Spark ran under one job group,
    read from the status tracker. Stages and tasks count what ran."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stage_ids = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = tasks = failed = 0
    for sid in stage_ids:
        info = st.getStageInfo(sid)
        # a stage whose shuffle output is reused is skipped: no tasks run
        if info is not None and info.numCompletedTasks + info.numFailedTasks:
            stages += 1
            tasks += info.numCompletedTasks
            failed += info.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}
