"""Per-layer metrics of the traced run, folded from spans, the event log and
the per-operation file-system counters. README.md says which end-to-end
metric each should move, on which workload."""

from __future__ import annotations

import statistics
from collections import defaultdict

import bench

# span name -> the per-layer metric its duration adds to
SPAN_METRICS = {
    "sources.read_json_dir": "sources.read_json_dir.plan_s",
    "plans.transform_stage": "plans.transform_stage.plan_s",
    "plans.recap_to_snapshot": "plans.recap_to_snapshot.s",
    "sinks.append_dedup_keyed": "sinks.append_dedup_keyed.s",
    "snapshots.snapshot_merge": "snapshots.snapshot_merge.s",
    "queries.plan_build": "queries.plan_build_s",
    "operators.silver_probe": "operators.silver_exec_s",
    "operators.recap_probe": "operators.recap_exec_s",
}
SPARK_COUNTERS = ("jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
                  "executor_cpu_s", "shuffle_read_bytes", "shuffle_write_bytes",
                  "spill_bytes", "input_bytes", "output_bytes")
QUERY_COUNTERS = ("jobs", "stages", "tasks", "executor_cpu_s")
LAYERS = ("sources", "plans", "sinks", "snapshots", "queries")
RATIOS = ("rewrite_amplification", "keys_scanned_per_row_appended",
          "stored_bytes_per_input_byte")


def _unit(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last in RATIOS:
        return "ratio"
    if last.endswith("_s") or last == "s":
        return "s"
    if "bytes" in last:
        return "bytes"
    return "count"


def names() -> dict[str, str]:
    """Every per-layer metric with its unit, in a fixed order."""
    out = [
        "session.get_spark_s",
        "sources.read_json_dir.plan_s", "sources.bronze_input_bytes",
        "sources.scan_tasks", "sources.scan_executor_s",
        "plans.transform_stage.plan_s", "plans.recap_to_snapshot.s",
        "operators.silver_exec_s", "operators.recap_exec_s",
        "operators.shuffle_write_bytes",
        "sinks.append_dedup_keyed.s", "sinks.append_dedup_keyed.files_written",
        "sinks.append_dedup_keyed.bytes_written", "sinks.append_dedup_keyed.rows_offered",
        "sinks.append_dedup_keyed.rows_appended", "sinks.keys_scanned_per_row_appended",
        "snapshots.snapshot_merge.s", "snapshots.bytes_rewritten",
        "snapshots.rewrite_amplification", "snapshots.live_files",
        "snapshots.publish_retries",
        "storage.stored_bytes_per_input_byte",
        "queries.plan_build_s",
    ]
    for q in bench.BENCH_QUERIES:
        out += [f"queries.{q}.s"] + [f"queries.{q}.{k}" for k in QUERY_COUNTERS]
    out += [f"spark.{k}" for k in SPARK_COUNTERS] + ["spark.gc_s", "tmp.entries_left"]
    out += [f"trace.self.{layer}_s" for layer in LAYERS]
    out += ["trace.unattributed_s", "trace.op_p50_s", "trace.overhead_op_p50_s"]
    return {n: _unit(n) for n in out}


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def fold(tracer, groups: dict, records: list[dict], setups: list[dict],
         tmp_left: int) -> dict[str, float]:
    """Medians over the traced operations of each per-layer metric.

    ``records`` are the successful operations; a record with ``traced``
    set ran inside spans and carries its file-system counters.
    """
    spans, selft = tracer.spans, tracer.self_times()
    probes = {i for i, s in enumerate(spans) if s["name"] == "probe"}
    traced = [r for r in records if r["traced"]]
    per_op: dict[int, dict] = {r["op"]: defaultdict(float) for r in traced}
    for idx, s in enumerate(spans):
        acc = per_op.get(s["op"])
        if acc is None:
            continue
        name, dur = s["name"], s["end"] - s["start"]
        if name in SPAN_METRICS:
            acc[SPAN_METRICS[name]] += dur
        if idx in probes or s["parent"] in probes:
            continue  # probes run after the operation, outside its latency
        g = groups.get(f"span-{idx}", {})
        layer = name.split(".")[0]
        if layer in LAYERS:
            acc[f"trace.self.{layer}_s"] += selft[idx]
        for k in SPARK_COUNTERS:
            acc[f"spark.{k}"] += g.get(k, 0.0)
        acc["operators.shuffle_write_bytes"] += g.get("shuffle_write_bytes", 0.0)
        acc["sources.scan_tasks"] += g.get("json_scan_tasks", 0.0)
        acc["sources.scan_executor_s"] += g.get("json_scan_s", 0.0)
        if layer == "queries":  # a query span, or its plan_build child
            query = spans[s["parent"]]["name"] if name == "queries.plan_build" else name
            if query == name:
                acc[f"{query}.s"] += dur
            for k in QUERY_COUNTERS:
                acc[f"{query}.{k}"] += g.get(k, 0.0)
    for r in traced:
        acc = per_op[r["op"]]
        for k, v in r.items():
            if "." in k:
                acc[k] = v
        acc["trace.unattributed_s"] = r["latency_s"] - sum(
            acc[f"trace.self.{layer}_s"] for layer in LAYERS)
    out = {k: _median(per_op[r["op"]].get(k, 0.0) for r in traced) for k in names()}
    out["session.get_spark_s"] = _median(s["get_spark_s"] for s in setups)
    out["tmp.entries_left"] = tmp_left
    t_lat = [r["latency_s"] for r in traced]
    u_lat = [r["latency_s"] for r in records if not r["traced"]]
    out["trace.op_p50_s"] = _median(t_lat)
    out["trace.overhead_op_p50_s"] = _median(t_lat) - _median(u_lat)
    return out
