"""Spans around the benchmark's calls into the engine, with the Spark
work each one caused.

Every span runs under its own Spark job group, so the jobs it started
can be listed afterwards from ``statusTracker()`` and their stages read
from the status store (``lastStageAttempt``), which is kept even with
``spark.ui.enabled=false``. Spans are kept in memory and their counters
read once per Spark context, before it stops; nothing is written while
a run is being timed. With tracing off, ``span`` only yields.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

LAYERS = ("session", "catalog", "pipelines", "text", "sources", "sinks", "export")
COUNTERS = (
    "s", "outside_jobs_s", "jobs", "stages", "tasks",
    "shuffle_write_mb", "spill_mb", "executor_cpu_s",
)
MB = 1024 * 1024


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total


def _clip(intervals, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


class Tracer:
    """Records spans when ``enabled``; a no-op otherwise."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None
        self._pending: list[int] = []

    def bind(self, sc) -> None:
        """Attach the Spark context that later spans run against."""
        self._sc = sc

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}")
        sid = len(self.spans)
        rec = {
            "id": sid, "layer": layer, "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "group": f"perfbench-{id(self):x}-{sid}",  # unique per tracer too
            "start": time.time(), "end": None, "jobs": [],
        }
        self.spans.append(rec)
        self._stack.append(sid)
        if self._sc is not None:
            self._sc.setJobGroup(rec["group"], name)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._pending.append(sid)
            if self._sc is not None:
                if self._stack:
                    outer = self.spans[self._stack[-1]]
                    self._sc.setJobGroup(outer["group"], outer["name"])
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)

    def harvest(self) -> None:
        """Read the Spark counters of every span closed since the last
        call. Must run before the Spark context stops."""
        if not self.enabled or self._sc is None or not self._pending:
            return
        from py4j.protocol import Py4JJavaError

        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self._sc.statusTracker()
        for sid in self._pending:
            rec = self.spans[sid]
            for job_id in sorted(tracker.getJobIdsForGroup(rec["group"])):
                job = store.job(job_id)
                sub, done = job.submissionTime(), job.completionTime()
                info = {
                    "id": job_id,
                    "start": sub.get().getTime() / 1000 if sub.isDefined() else None,
                    "end": done.get().getTime() / 1000 if done.isDefined() else None,
                    "stages": [],
                }
                job_info = tracker.getJobInfo(job_id)
                for stage_id in job_info.stageIds if job_info else ():
                    try:
                        st = store.lastStageAttempt(stage_id)
                    except Py4JJavaError:
                        continue  # never attempted
                    if st.status().toString() != "COMPLETE":
                        continue  # skipped: its shuffle output was reused
                    info["stages"].append({
                        "id": stage_id,
                        "tasks": st.numCompleteTasks(),
                        "shuffle_write_bytes": st.shuffleWriteBytes(),
                        "spill_bytes": st.diskBytesSpilled(),
                        "executor_cpu_ns": st.executorCpuTime(),
                    })
                rec["jobs"].append(info)
        self._pending = []

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")

    def layer_metrics(self) -> dict[str, float]:
        """Per-layer totals over the run. A span's time is its
        self time: its duration minus what its child spans cover. Jobs
        count in the innermost span that was open when they started."""
        out = {f"{layer}.{c}": 0.0 for layer in LAYERS for c in COUNTERS}
        children: dict[int, list[tuple[float, float]]] = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                children.setdefault(rec["parent"], []).append(
                    (rec["start"], rec["end"])
                )
        for rec in self.spans:
            lo, hi = rec["start"], rec["end"]
            kids = _clip(children.get(rec["id"], []), lo, hi)
            self_s = (hi - lo) - _union_length(kids)
            jobs = [
                (j["start"], j["end"]) for j in rec["jobs"]
                if j["start"] is not None and j["end"] is not None
            ]
            in_jobs = _union_length(_clip(jobs + kids, lo, hi)) - _union_length(kids)
            p = rec["layer"] + "."
            out[p + "s"] += self_s
            out[p + "outside_jobs_s"] += max(self_s - in_jobs, 0.0)
            out[p + "jobs"] += len(rec["jobs"])
            for j in rec["jobs"]:
                for st in j["stages"]:
                    out[p + "stages"] += 1
                    out[p + "tasks"] += st["tasks"]
                    out[p + "shuffle_write_mb"] += st["shuffle_write_bytes"] / MB
                    out[p + "spill_mb"] += st["spill_bytes"] / MB
                    out[p + "executor_cpu_s"] += st["executor_cpu_ns"] / 1e9
        return out
