"""Tracing for the benchmark's traced run: in-memory spans around the calls
the benchmark makes into each engine layer, Spark job groups that tie jobs
to the innermost open span, and a fold of the uncompressed Spark event log
into per-span task counters.

Spans are kept in memory and summarised when the run ends. A span's self
time is its duration minus the part of it its child spans cover; since
children nest strictly and run one at a time, that is the duration minus
the sum of the children's durations.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

# event-log task metrics folded per span: output key -> (paths summed, scale)
_SHUFFLE_READ = ("Shuffle Read Metrics",)
_TASK_METRICS = {
    "executor_run_s": ((("Executor Run Time",),), 1e-3),
    "executor_cpu_s": ((("Executor CPU Time",),), 1e-9),
    # on local[N] every block is local; a cluster reads some remotely
    "shuffle_read_bytes": ((_SHUFFLE_READ + ("Remote Bytes Read",),
                            _SHUFFLE_READ + ("Local Bytes Read",)), 1),
    "shuffle_write_bytes": ((("Shuffle Write Metrics", "Shuffle Bytes Written"),), 1),
    "spill_bytes": ((("Disk Bytes Spilled",),), 1),
    "input_bytes": ((("Input Metrics", "Bytes Read"),), 1),
    "output_bytes": ((("Output Metrics", "Bytes Written"),), 1),
}


class Tracer:
    """Spans with job-group attribution. When ``enabled`` is false every
    method is a no-op, so the untraced run pays nothing."""

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled and spark is not None
        self.sc = spark.sparkContext if spark is not None else None
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        idx = len(self.spans)
        rec = {"name": name, "parent": parent, "op": op,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        self.sc.setJobGroup(f"span-{idx}", name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(f"span-{self._stack[-1]}",
                                    self.spans[self._stack[-1]]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def job_counts(self) -> dict[int, int]:
        """Jobs per span from the status tracker (read before the session
        stops; the event log gives the rest)."""
        st = self.sc.statusTracker()
        return {i: len(st.getJobIdsForGroup(f"span-{i}")) for i in range(len(self.spans))}

    def self_times(self) -> list[float]:
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [s["end"] - s["start"] - c for s, c in zip(self.spans, child)]

    def dump(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        with open(path, "w") as f:
            json.dump([
                {**s, "start": s["start"] - t0, "end": s["end"] - t0, "id": i}
                for i, s in enumerate(self.spans)
            ], f)


def _dig(d: dict, path: tuple):
    for k in path:
        if not isinstance(d, dict):
            return 0
        d = d.get(k, 0)
    return d or 0


def fold_event_log(log_dir: str) -> dict[str, dict]:
    """Fold the event log(s) in ``log_dir`` into {job group: counters}:
    jobs, stages, tasks, failed_tasks, the task metrics above, and
    ``json_scan_tasks`` / ``json_scan_s`` for tasks of stages whose RDD
    scope is a JSON file scan (the Bronze read)."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    json_stages: set[int] = set()
    ran_stages: dict[str, set] = defaultdict(set)
    paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs
                   if not f.startswith((".", "appstatus")))  # v2 logs are directories
    for path in paths:
        with open(path) as f:
            for line in f:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    groups[g]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    scopes = " ".join(
                        str(r.get("Scope", "")) + str(r.get("Name", ""))
                        for r in info.get("RDD Info", [])
                    )
                    if "Scan json" in scopes or "JsonFileFormat" in scopes:
                        json_stages.add(info["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    g = stage_group.get(sid, "")
                    acc = groups[g]
                    ok = (ev.get("Task End Reason") or {}).get("Reason") == "Success"
                    acc["tasks"] += 1
                    acc["failed_tasks"] += 0 if ok else 1
                    ran_stages[g].add(sid)
                    tm = ev.get("Task Metrics") or {}
                    for key, (paths, scale) in _TASK_METRICS.items():
                        acc[key] += sum(_dig(tm, p) for p in paths) * scale
                    if sid in json_stages:
                        acc["json_scan_tasks"] += 1
                        acc["json_scan_s"] += _dig(tm, ("Executor Run Time",)) * 1e-3
    for g, sids in ran_stages.items():
        groups[g]["stages"] = len(sids)
    return {g: dict(v) for g, v in groups.items()}
