"""Spans around the benchmark's calls into the program, with the Spark
counters of the jobs each call triggered.

Each span sets its own job group before the call, so every job the call
launches (including broadcast and adaptive-execution sub-jobs, which inherit
the caller's local properties) is tagged with the span. Right after the call
the tracer drains the listener bus and reads those jobs' stages from the
status store. Reading per span matters: Spark keeps 1,000 stages by default,
fewer than one tabular lap launches, so a once-per-run read would lose most
of them. Counters are the span's own (child spans set their own group), so
they add up without double counting; a stage that an earlier job already ran
and a later job reuses is counted once, at its first run.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

COUNTERS = (
    "jobs",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "spill_bytes",
    "scan_rows",
)
# layer of the root span around a lap; its calls are the layers' spans
ROOT_LAYER = "perfbench"


def self_time(span: dict, children: list[dict]) -> float:
    """Span duration minus the part of it covered by its children."""
    start, end = span["start"], span["end"]
    covered = 0.0
    cursor = start
    for c in sorted(children, key=lambda c: c["start"]):
        lo, hi = max(c["start"], cursor), min(c["end"], end)
        if hi > lo:
            covered += hi - lo
            cursor = hi
    return (end - start) - covered


def floor_frac(executor_run_s: float, wall_s: float, cpus: int) -> float:
    """Share of the cores' wall time not covered by executor work: the
    job-launch and scheduling floor. 0 when the layer took no time."""
    if wall_s <= 0.0:
        return 0.0
    return 1.0 - executor_run_s / (wall_s * cpus)


def layer_totals(spans: list[dict], layers: list[str], cpus: int) -> dict[str, float]:
    """Per-layer self time and counters summed over ``spans`` (one lap)."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for layer in layers:
        mine = [s for s in spans if s["layer"] == layer]
        wall = sum(self_time(s, kids.get(s["id"], [])) for s in mine)
        out[f"{layer}.wall_s"] = wall
        for c in COUNTERS:
            out[f"{layer}.{c}"] = sum(s[c] for s in mine)
        out[f"{layer}.floor_frac"] = floor_frac(out[f"{layer}.executor_run_s"], wall, cpus)
    return out


class Tracer:
    """Records spans when ``enabled``; otherwise a span only counts the
    layer calls that completed."""

    def __init__(self, spark, enabled: bool, t0: float):
        self.enabled = enabled
        self.t0 = t0
        self.spans: list[dict] = []
        self.lap: int | None = None
        self._stack: list[int] = []
        self._next_id = 0
        self.overhead_s: dict[int | None, float] = {}
        self.completed = 0
        self._seen_stages: set[int] = set()
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            self.completed += layer != ROOT_LAYER
            return
        sid = self._next_id
        self._next_id += 1
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "parent": parent, "name": name, "layer": layer, "lap": self.lap}
        t_in = time.perf_counter() - self.t0
        self._stack.append(sid)
        self._sc.setJobGroup(f"perfbench-{sid}", name, False)
        rec["start"] = time.perf_counter() - self.t0
        try:
            yield
            self.completed += layer != ROOT_LAYER
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            if parent is None:
                self._sc._jsc.clearJobGroup()
            else:
                self._sc.setJobGroup(f"perfbench-{parent}", "", False)
            rec.update(self._counters(f"perfbench-{sid}"))
            self.spans.append(rec)
            # the tracer's own time: group bookkeeping and counter reads
            own = time.perf_counter() - self.t0 - rec["end"] + (rec["start"] - t_in)
            self.overhead_s[self.lap] = self.overhead_s.get(self.lap, 0.0) + own

    def _counters(self, group: str) -> dict:
        self._bus.waitUntilEmpty()
        out = dict.fromkeys(COUNTERS, 0)
        job_ids = self._sc.statusTracker().getJobIdsForGroup(group)
        out["jobs"] = len(job_ids)
        for jid in job_ids:
            stage_ids = self._store.job(jid).stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                if sid in self._seen_stages:
                    continue
                st = self._store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                self._seen_stages.add(sid)
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out["scan_rows"] += st.inputRecords()
        return out

    def laps(self) -> list[int]:
        return sorted({s["lap"] for s in self.spans if s["lap"] is not None})

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f, indent=1)
