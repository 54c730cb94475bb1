"""Per-layer attribution: which public entry points are wrapped with
spans, and how one traced operation turns into per-layer numbers.

Layers (repo modules): ``pipeline`` (execute_orders / process_orders /
load_transactions), ``streaming.queue_source`` (FileQueue),
``io.readers`` (read_json_canonical), ``io.merge`` (MergeTable),
``io.manifest`` (ManifestTable and manifest_sql), the Catalyst phases of
each read query, and Spark execution read from the status store.

Time metrics ending in ``_s`` that name a wrapped entry point are span
self times: the span's duration minus its wrapped children, so the
layers of one operation add up to its latency.
"""

from __future__ import annotations

import importlib
import os
from collections import defaultdict

from perfbench.common import tree_bytes

MB = 1e6

# Every per-layer metric, in report order, with its unit.
METRICS = {
    "pipeline.execute_s": "s", "pipeline.process_s": "s", "pipeline.load_s": "s",
    "pipeline.load_rows_new_per_scanned": "ratio",
    "queue.publish_s": "s", "queue.consume_s": "s", "queue.ack_s": "s",
    "readers.json_scan_s": "s", "readers.json_files": "count", "readers.json_input_mb": "MB",
    "merge.write_s": "s", "merge.register_s": "s", "merge.jobs": "count",
    "merge.bytes_written_mb": "MB", "merge.write_amplification": "ratio",
    "merge.partitions_rewritten": "count",
    "manifest.jobs_per_stmt": "count", "manifest.job_busy_s": "s",
    "manifest.driver_gap_s": "s", "manifest.commits": "count",
    "manifest.files_per_commit": "count", "manifest.rebase_count": "count",
    "manifest.first_job_delay_s": "s",
    "plans.build_s": "s", "plans.build_jobs": "count", "plans.analysis_s": "s",
    "plans.optimization_s": "s", "plans.planning_s": "s",
    "exec.sink_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.max_tasks_per_stage": "count",
    "exec.executor_run_s": "s", "exec.executor_cpu_s": "s", "exec.jvm_gc_s": "s",
    "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB", "exec.input_mb": "MB",
    "driver.py_cpu_s": "s", "driver.jvm_cpu_s": "s", "driver.peak_rss_mb": "MB",
    "trace.overhead_frac": "ratio",
}

_MANIFEST_METHODS = ("write", "write_txn", "delete_where", "update_where", "read", "read_cdc")


def _partition_files(path: str) -> dict[str, frozenset]:
    if not os.path.isdir(path):
        return {}
    return {d: frozenset(os.listdir(os.path.join(path, d)))
            for d in os.listdir(path) if "=" in d}


def install(tracer, probe) -> None:
    """Wrap the public entry points of every layer with span recorders."""
    from dca_manager_spark.io import manifest as manifest_mod
    from dca_manager_spark.io.manifest import ManifestTable
    from dca_manager_spark.io.merge import MergeTable
    from dca_manager_spark.streaming.queue_source import FileQueue

    # the pipeline package re-exports these functions under the module names
    eo_mod, lt_mod, po_mod = (
        importlib.import_module(f"dca_manager_spark.pipeline.{m}")
        for m in ("execute_orders", "load_transactions", "process_orders"))

    def json_input(args, kwargs):
        path = kwargs.get("input_path", args[1] if len(args) > 1 else None)
        files = sum(len(f) for _r, _d, f in os.walk(path))
        return {"json_files": files, "json_bytes": tree_bytes(path)}

    def job_mark(args, kwargs):
        return {"job": probe.newest_job_id()}

    def jobs_since(state, args, kwargs, result):
        return {"jobs": probe.newest_job_id() - state["job"]}

    def merge_before(args, kwargs):
        return {"job": probe.newest_job_id(), "parts": _partition_files(args[0].path)}

    def merge_after(state, args, kwargs, result):
        after = _partition_files(args[0].path)
        changed = sum(1 for d, files in after.items() if state["parts"].get(d) != files)
        return {"jobs": probe.newest_job_id() - state["job"], "partitions": changed}

    tracer.wrap(eo_mod, "execute_orders", "pipeline.execute_orders")
    tracer.wrap(po_mod, "process_orders", "pipeline.process_orders")
    tracer.wrap(po_mod, "load_transactions", "pipeline.load_transactions",
                before=json_input, after=lambda state, *_: state)
    tracer.wrap(lt_mod, "read_json_canonical", "readers.read_json_canonical")
    for method in ("publish", "consume", "ack"):
        tracer.wrap(FileQueue, method, f"queue.{method}")
    tracer.wrap(MergeTable, "write", "merge.write", before=merge_before, after=merge_after)
    tracer.wrap(MergeTable, "register", "merge.register", before=job_mark, after=jobs_since)
    tracer.wrap(manifest_mod, "manifest_sql", "manifest.sql")
    for method in _MANIFEST_METHODS:
        tracer.wrap(ManifestTable, method, f"manifest.{method}")


def op_metrics(rec: dict, spans: list[dict], own: dict[int, float], delta: dict) -> dict:
    """Per-layer numbers of one traced operation.

    ``rec`` is the runner's record of the op (kind, latency, start, build
    and sink times, Catalyst phases, CPU deltas, workload info); ``spans``
    its spans, ``own`` their self times and ``delta`` what the status
    store recorded while it ran."""
    by = defaultdict(list)
    for s in spans:
        by[s["name"]].append(s)

    def self_s(name: str) -> float:
        return sum(own[s["id"]] for s in by[name])

    def attr(name: str, key: str) -> float:
        return sum(s["attrs"].get(key, 0) for s in by[name])

    stages = delta["stages"]
    out = {
        "exec.jobs": len(delta["jobs"]),
        "exec.stages": len(stages),
        "exec.tasks": sum(s["tasks"] for s in stages),
        "exec.max_tasks_per_stage": max((s["tasks"] for s in stages), default=0),
        "exec.executor_run_s": sum(s["run_s"] for s in stages),
        "exec.executor_cpu_s": sum(s["cpu_s"] for s in stages),
        "exec.jvm_gc_s": sum(s["gc_s"] for s in stages),
        "exec.shuffle_read_mb": sum(s["shuffle_read_b"] for s in stages) / MB,
        "exec.shuffle_write_mb": sum(s["shuffle_write_b"] for s in stages) / MB,
        "exec.spill_mb": sum(s["spill_b"] for s in stages) / MB,
        "exec.input_mb": sum(s["input_b"] for s in stages) / MB,
        "driver.py_cpu_s": rec["py_cpu_s"],
        "driver.jvm_cpu_s": rec["jvm_cpu_s"],
    }
    if rec["kind"] == "read":
        out.update({
            "exec.sink_s": rec["sink_s"],
            "plans.build_s": rec["build_s"],
            "plans.build_jobs": rec["build_jobs"],
            "plans.analysis_s": rec["phases"].get("analysis", 0.0),
            "plans.optimization_s": rec["phases"].get("optimization", 0.0),
            "plans.planning_s": rec["phases"].get("planning", 0.0),
        })
    for name, metric in (("pipeline.execute_orders", "pipeline.execute_s"),
                         ("pipeline.process_orders", "pipeline.process_s"),
                         ("pipeline.load_transactions", "pipeline.load_s"),
                         ("queue.publish", "queue.publish_s"),
                         ("queue.consume", "queue.consume_s"),
                         ("queue.ack", "queue.ack_s"),
                         ("merge.write", "merge.write_s"),
                         ("merge.register", "merge.register_s")):
        if by[name]:
            out[metric] = self_s(name)
    if by["pipeline.load_transactions"]:
        files = attr("pipeline.load_transactions", "json_files")
        json_b = attr("pipeline.load_transactions", "json_bytes")
        out["readers.json_files"] = files
        out["readers.json_input_mb"] = json_b / MB
        out["readers.json_scan_s"] = sum(e["complete"] - e["submit"] for e in delta["sql"]
                                         if e["json_scan"] and e["complete"] is not None)
        if files and "new_rows" in rec["info"]:
            out["pipeline.load_rows_new_per_scanned"] = rec["info"]["new_rows"] / files
        if by["merge.write"]:
            written = sum(s["output_b"] for s in stages)
            out["merge.bytes_written_mb"] = written / MB
            out["merge.write_amplification"] = written / json_b if json_b else 0.0
    if by["merge.write"] or by["merge.register"]:
        out["merge.jobs"] = attr("merge.write", "jobs") + attr("merge.register", "jobs")
        out["merge.partitions_rewritten"] = attr("merge.write", "partitions")
    if by["manifest.sql"] or any(by[f"manifest.{m}"] for m in _MANIFEST_METHODS):
        if rec["kind"] == "write":
            out["manifest.jobs_per_stmt"] = len(delta["jobs"])
            out["manifest.job_busy_s"] = delta["job_busy_s"]
            out["manifest.driver_gap_s"] = max(0.0, rec["latency"] - delta["job_busy_s"])
            for key in ("commits", "files_per_commit", "rebase_count"):
                if key in rec["info"]:
                    out[f"manifest.{key}"] = rec["info"][key]
        elif delta["first_job_submit"] is not None:
            out["manifest.first_job_delay_s"] = max(0.0, delta["first_job_submit"] - rec["start"])
    return out


def aggregate(per_op: list[dict]) -> dict[str, float]:
    """Mean of each per-op metric over the traced ops that produced it; 0
    for a layer no traced op touched. Run-level metrics (peak RSS, trace
    overhead) are filled in by the caller."""
    sums: dict[str, float] = defaultdict(float)
    counts: dict[str, int] = defaultdict(int)
    for metrics in per_op:
        for k, v in metrics.items():
            sums[k] += v
            counts[k] += 1
    return {k: (sums[k] / counts[k] if counts[k] else 0.0) for k in METRICS}
