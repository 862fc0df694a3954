"""Fold an uncompressed Spark event log into per-layer numbers.

Plan nodes come from the SQL execution events (the initial plan and every
AQE re-plan); each SQL metric's accumulator id maps to the node that owns
it.  A task's accumulator updates then say which nodes it ran, so task
metrics (run time, GC, bytes read) fold by layer as well as SQL metrics:

    Scan parquet of the input      -> sources
    Scan parquet of the table      -> icelite (the MERGE's old files)
    ArrowEvalPython                -> extract
    MapInArrow                     -> pdf_ops
    Exchange on the bucket column  -> icelite.shuffle
    any other Exchange or join     -> icelite.antijoin
    InsertIntoHadoopFsRelation     -> icelite.write (post-shuffle stage)

Driver-side SQL metrics (files listed by a scan, files written) arrive as
driver accumulator updates of an execution and fold the same way.  Jobs
attach to the span whose interval contains their submission time.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

from ocr_spark.sources.icelite import BUCKET_COL
from spans import union_s

PYTHON_NODES = {"ArrowEvalPython": "extract", "MapInArrow": "pdf_ops"}


@dataclass
class Task:
    stage: int
    index: int
    run_s: float
    gc_s: float
    updates: dict[int, float]


@dataclass
class Log:
    nodes: dict[int, tuple[str, str, str]] = field(default_factory=dict)
    jobs: list[dict] = field(default_factory=list)
    stage_job: dict[int, int] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)
    # (execution id, accumulator id, value) posted by the driver
    driver_updates: list[tuple[int, int, float]] = field(default_factory=list)


def _node_layer(node: dict, input_path: str, table_root: str) -> str | None:
    name = node["nodeName"].strip()
    if name.startswith("Scan parquet"):
        loc = node.get("metadata", {}).get("Location", node.get("simpleString", ""))
        if input_path in loc:
            return "input_scan"
        if table_root in loc:
            return "old_scan"
        return None
    if name in PYTHON_NODES:
        return PYTHON_NODES[name]
    if name == "Exchange":
        return "bucket_exchange" if BUCKET_COL in node.get("simpleString", "") else "antijoin"
    if name == "BroadcastExchange" or name.endswith("Join"):
        return "antijoin"
    if name.startswith("Execute InsertIntoHadoopFsRelationCommand"):
        return "write"
    return None


def _walk(plan: dict, input_path: str, table_root: str, out: dict) -> None:
    layer = _node_layer(plan, input_path, table_root)
    if layer is not None:
        for m in plan.get("metrics", []):
            out[m["accumulatorId"]] = (layer, m["name"], m["metricType"])
    for child in plan.get("children", []):
        _walk(child, input_path, table_root, out)


def _metric_value(raw, metric_type: str) -> float:
    v = float(raw)
    if metric_type == "timing":
        return v / 1e3  # ms -> s
    if metric_type == "nsTiming":
        return v / 1e9
    return v


def read_log(event_dir: str, input_path: str, table_root: str) -> Log:
    """Parse the rolling event files of the one application logged under
    ``event_dir``.  ``input_path`` and ``table_root`` classify the scans."""
    files = sorted(
        glob.glob(os.path.join(event_dir, "*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    if not files:
        raise FileNotFoundError(f"no Spark event log under {event_dir}")
    log = Log()
    job_by_id: dict[int, dict] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind.endswith("SQLExecutionStart") or kind.endswith(
                    "SQLAdaptiveExecutionUpdate"
                ):
                    _walk(ev["sparkPlanInfo"], input_path, table_root, log.nodes)
                elif kind == "SparkListenerJobStart":
                    exec_id = (ev.get("Properties") or {}).get("spark.sql.execution.id")
                    job = {
                        "job": ev["Job ID"],
                        "start": ev["Submission Time"] / 1e3,
                        "end": None,
                        "exec": int(exec_id) if exec_id is not None else None,
                    }
                    job_by_id[job["job"]] = job
                    log.jobs.append(job)
                    for sid in ev["Stage IDs"]:
                        log.stage_job[sid] = job["job"]
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc_id, value in ev["accumUpdates"]:
                        log.driver_updates.append((ev["executionId"], acc_id, float(value)))
                elif kind == "SparkListenerJobEnd":
                    job_by_id[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                    updates = {}
                    for acc in info.get("Accumulables", []):
                        if acc.get("Metadata") == "sql" and "Update" in acc:
                            updates[acc["ID"]] = float(acc["Update"])
                    log.tasks.append(
                        Task(
                            stage=ev["Stage ID"],
                            index=info["Index"],
                            run_s=tm.get("Executor Run Time", 0) / 1e3,
                            gc_s=tm.get("JVM GC Time", 0) / 1e3,
                            updates=updates,
                        )
                    )
    return log


def fold_pass(
    log: Log,
    pass_span: dict,
    groups: list[dict],
    docs: int,
    input_docs: int,
    cores: int,
) -> dict:
    """Per-layer numbers of one pipeline pass.

    ``groups`` holds, per bucket group, its ``span`` and the spans of its
    ``sink`` (merge/append) and ``patch`` (patch_metadata) calls."""
    p0, p1 = pass_span["start"], pass_span["end"]
    wall = p1 - p0
    jobs = [j for j in log.jobs if p0 <= j["start"] <= p1 and j["end"] is not None]
    job_ids = {j["job"] for j in jobs}
    tasks = [t for t in log.tasks if log.stage_job.get(t.stage) in job_ids]

    sql: dict[tuple[str, str], float] = {}

    def add(acc_id: int, value: float) -> str | None:
        node = log.nodes.get(acc_id)
        if node is None:
            return None
        layer, name, mtype = node
        sql[(layer, name)] = sql.get((layer, name), 0.0) + _metric_value(value, mtype)
        return layer

    execs = {j["exec"] for j in jobs}
    for exec_id, acc_id, value in log.driver_updates:
        if exec_id in execs:
            add(acc_id, value)
    write_tasks, antijoin_tasks, pdf_tasks = [], [], []
    for t in tasks:
        touched = {add(acc_id, upd) for acc_id, upd in t.updates.items()}
        # the write stage first, then anything of the MERGE's anti-join
        # (old files, key-side exchange, join)
        if "write" in touched:
            write_tasks.append(t)
        elif touched & {"old_scan", "antijoin"}:
            antijoin_tasks.append(t)
        if "pdf_ops" in touched:
            pdf_tasks.append(t)

    def m(layer: str, name: str) -> float:
        return sql.get((layer, name), 0.0)

    def run_s(ts: list[Task]) -> float:
        return sum((t.run_s for t in ts), 0.0)

    distinct = len({(t.stage, t.index) for t in tasks})
    commit_s = 0.0
    for g in groups:
        sink, patch = g["sink"], g["patch"]
        inside = [j["end"] for j in jobs if sink["start"] <= j["start"] <= sink["end"]]
        tail = sink["end"] - max(inside) if inside else sink["end"] - sink["start"]
        commit_s += max(tail, 0.0) + patch["end"] - patch["start"]
    group_jobs = [
        [j["job"] for j in jobs if g["span"]["start"] <= j["start"] <= g["span"]["end"]]
        for g in groups
    ]
    return {
        "wall_s": wall,
        "docs": docs,
        "jobs": len(jobs),
        "group_jobs": group_jobs,
        "jobs_outside_groups": len(jobs) - sum(len(js) for js in group_jobs),
        "tasks": len(tasks),
        "sources.scan_s": m("input_scan", "scan time"),
        # rows, not bytes: task bytesRead counts only the parquet footer
        # reads here, not the column chunks
        "sources.scan_amplification": m("input_scan", "number of output rows") / input_docs,
        "extract.python_run_s": m("extract", "time to run Python workers"),
        "extract.python_init_s": m("extract", "time to initialize Python workers"),
        "extract.python_start_s": m("extract", "time to start Python workers"),
        "extract.arrow_sent_mb": m("extract", "data sent to Python workers") / 1e6,
        "extract.arrow_returned_mb": m("extract", "data returned from Python workers") / 1e6,
        "extract.udf_rows_per_doc": m("extract", "number of output rows") / docs,
        "pdf_ops.python_run_s": m("pdf_ops", "time to run Python workers"),
        "pdf_ops.python_init_s": m("pdf_ops", "time to initialize Python workers"),
        "pdf_ops.python_start_s": m("pdf_ops", "time to start Python workers"),
        "pdf_ops.tasks_per_group": len(pdf_tasks) / len(groups),
        "pipeline.driver_s": max(wall - union_s((j["start"], j["end"]) for j in jobs), 0.0),
        "pipeline.core_busy_share": run_s(tasks) / (cores * wall),
        "pipeline.attempts_per_task": len(tasks) / distinct,
        "jvm.gc_s": sum((t.gc_s for t in tasks), 0.0),
        "icelite.shuffle_write_s": m("bucket_exchange", "shuffle write time"),
        "icelite.shuffle_mb": m("bucket_exchange", "shuffle bytes written") / 1e6,
        "icelite.write_s": run_s(write_tasks),
        "icelite.write_tasks_per_group": len(write_tasks) / len(groups),
        "icelite.commit_s": commit_s,
        "icelite.antijoin_s": run_s(antijoin_tasks),
        "icelite.old_mb_read": m("old_scan", "size of files read") / 1e6,
        "icelite.files_written": m("write", "number of written files"),
    }
