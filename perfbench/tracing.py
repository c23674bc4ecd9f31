"""Spans around the engine's public functions, and the Spark event log.

``Tracer.install()`` rebinds each traced function in every module that
holds its own binding (``streaming.pipeline`` imports ``apply_batch``,
``operators.cdc_apply`` imports ``merge_into``, ...), so the engine's
code is unchanged and every call still reaches the original. Spans are
kept in memory and turned into per-operation layer self times by
``layer_self_ms``: a span's self time is its duration minus the part of
it that its child spans cover.

``spark_ops`` reads a local Spark event log and charges every job, stage
and task to the benchmark operation that ran it: by job group for jobs
started from the client thread, and by the ``streaming.sql.batchId`` job
property for jobs a streaming query runs on its own thread.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time

from transactional_datalake_using_amazon_datafirehose_iceberg_spark.operators import cdc_apply
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans import maintenance
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans import metrics as plan_metrics
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans.lake_table import LakeTable
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.queries.base import QuerySpec
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.streaming import pipeline
from transactional_datalake_using_amazon_datafirehose_iceberg_spark.streaming.pipeline import (
    CdcStreamPipeline,
)

# (owner, attribute, span name); the span name's prefix is the layer
TRACED = (
    (CdcStreamPipeline, "process_batch", "streaming.add_batch"),
    (pipeline, "transform", "cdc_transform.build"),
    (pipeline, "typed_rows", "cdc_transform.build"),
    (pipeline, "apply_batch", "cdc_apply.apply"),
    (cdc_apply, "merge_into", "merge.merge"),
    (LakeTable, "commit", "lake_table.commit"),
    (LakeTable, "delete_by_keys_mor", "lake_table.delete_mor"),
    (LakeTable, "read", "lake_table.read"),
    (LakeTable, "changelog", "lake_table.changelog"),
    (maintenance, "rewrite_delete_files", "maintenance.rewrite_deletes"),
    (maintenance, "expire_snapshots", "maintenance.expire"),
    (QuerySpec, "run_spark", "queries.build"),
)


class Tracer:
    """In-memory span recorder. ``op`` names the benchmark operation
    the current thread works for; spans and commits inherit it."""

    def __init__(self):
        self.spans: list[dict] = []
        self.commits: list[dict] = []
        self.batch_paths: dict[str, dict] = {}
        self._lock = threading.Lock()
        self._tl = threading.local()
        self._saved: list[tuple] = []
        self._next_id = 0

    # -- spans ------------------------------------------------------------
    def set_op(self, op: str | None) -> None:
        self._tl.op = op

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._tl.__dict__.setdefault("stack", [])
        with self._lock:
            self._next_id += 1
            sid = self._next_id
        rec = {
            "id": sid,
            "parent": stack[-1] if stack else None,
            "name": name,
            "op": getattr(self._tl, "op", None),
            "t0": time.time_ns(),
        }
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["t1"] = time.time_ns()
            with self._lock:
                self.spans.append(rec)

    def _wrap(self, fn, name):
        tracer = self

        if name == "streaming.add_batch":
            def traced(pipe, batch_df, batch_id, *a, **kw):
                prev = getattr(tracer._tl, "op", None)
                op = prev or f"batch{batch_id}"
                tracer.set_op(op)
                paths0 = plan_metrics.snapshot()
                try:
                    with tracer.span(name):
                        return fn(pipe, batch_df, batch_id, *a, **kw)
                finally:
                    after = plan_metrics.snapshot()
                    tracer.batch_paths[op] = {
                        k: after[k] - paths0.get(k, 0)
                        for k in after if after[k] != paths0.get(k, 0)
                    }
                    tracer.set_op(prev)
        elif name == "lake_table.commit":
            def traced(table, added, removed_paths=(), operation="append", *a, **kw):
                removed = list(removed_paths)
                with tracer.span(name):
                    version = fn(table, added, removed, operation, *a, **kw)
                with tracer._lock:
                    tracer.commits.append({
                        "op": getattr(tracer._tl, "op", None),
                        "table": table.root,
                        "operation": operation,
                        "added_files": len(added),
                        "added_rows": sum(m.get("rows", 0) for m in added),
                        "added_bytes": sum(m.get("bytes", 0) for m in added),
                        "removed_files": len(removed),
                        "added_deletes": len(kw.get("added_deletes") or ()),
                    })
                return version
        else:
            def traced(*a, **kw):
                with tracer.span(name):
                    return fn(*a, **kw)
        traced.__wrapped__ = fn
        return traced

    def install(self) -> None:
        for owner, attr, name in TRACED:
            fn = owner.__dict__[attr]
            self._saved.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(fn, name))

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._saved):
            setattr(owner, attr, fn)
        self._saved.clear()


def self_ms(spans: list[dict]) -> dict[str, dict[str, float]]:
    """{op: {span name: summed self ms}}. The layer is the span name
    before its dot."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        covered = _union([(c["t0"], c["t1"]) for c in children.get(s["id"], [])])
        per_op = out.setdefault(s["op"] or "-", {})
        per_op[s["name"]] = per_op.get(s["name"], 0.0) + max(s["t1"] - s["t0"] - covered, 0) / 1e6
    return out


def _union(intervals):
    """Total length covered by possibly overlapping (start, end) pairs."""
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def spark_ops(event_log_dir: str, ops: list[dict]) -> dict[str, dict]:
    """Per-operation Spark execution totals from the event log.

    ``ops`` are the run's operations ({op, t0, t1} in epoch ns). A job is
    charged to its ``spark.jobGroup.id`` when that names an operation,
    else to ``batch<streaming.sql.batchId>``. A job started from a
    streaming ``foreachBatch`` callback runs on the gateway thread that
    serves the callback and carries neither, so it is charged to the
    operation whose wall contains its submission: the client runs one
    operation at a time. Returns {op: {jobs, stages, tasks,
    executor_run_ms, gc_ms, shuffle_read_bytes, shuffle_write_bytes,
    spill_bytes, job_intervals}}."""
    names = {o["op"] for o in ops}
    walls = sorted((o["t0"] / 1e6, o["t1"] / 1e6, o["op"]) for o in ops)

    def by_time(ms: float) -> str | None:
        for t0, t1, op in walls:
            if t0 <= ms <= t1:
                return op
        return None

    job_op: dict[int, str] = {}
    stage_op: dict[int, str] = {}
    out: dict[str, dict] = {}

    def acc(op):
        return out.setdefault(op, {
            "jobs": 0, "stages": 0, "tasks": 0, "executor_run_ms": 0,
            "gc_ms": 0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
            "spill_bytes": 0, "job_intervals": [],
        })

    starts: dict[int, int] = {}
    # rolling logs are a directory of events_<n>_<app> files
    logs = [
        p for p in glob.glob(f"{event_log_dir}/**", recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")
    ]
    for path in sorted(logs, key=lambda p: (len(p), p)):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    op = props.get("spark.jobGroup.id")
                    if op not in names and props.get("streaming.sql.batchId") is not None:
                        op = f"batch{props['streaming.sql.batchId']}"
                    if op not in names:
                        op = by_time(ev["Submission Time"])
                    if op is None:
                        continue
                    jid = ev["Job ID"]
                    job_op[jid] = op
                    starts[jid] = ev["Submission Time"]
                    acc(op)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_op.setdefault(sid, op)
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_op:
                        acc(job_op[jid])["job_intervals"].append(
                            (starts[jid], ev["Completion Time"])
                        )
                elif kind == "SparkListenerStageCompleted":
                    op = stage_op.get(ev["Stage Info"]["Stage ID"])
                    if op:
                        acc(op)["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    op = stage_op.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if not op or not m:
                        continue
                    a = acc(op)
                    a["tasks"] += 1
                    a["executor_run_ms"] += m.get("Executor Run Time", 0)
                    a["gc_ms"] += m.get("JVM GC Time", 0)
                    sr = m.get("Shuffle Read Metrics", {})
                    a["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    a["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return out


def driver_gap_ms(op_wall: tuple[float, float], job_intervals) -> float:
    """Operation wall minus the union of its Spark job intervals, all in
    epoch ms: the time the driver spent between jobs."""
    t0, t1 = op_wall
    clipped = [(max(a, t0), min(b, t1)) for a, b in job_intervals if b > t0 and a < t1]
    return max((t1 - t0) - _union(clipped), 0.0)
