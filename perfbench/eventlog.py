"""Fold a Spark event log into per-job records.

Spark 4 writes a rolling log: a directory ``eventlog_v2_<app id>`` of
``events_<n>_<app id>`` files, read here in ``n`` order. The benchmark
sets ``spark.eventLog.compress=false`` so the files are plain JSON lines.

Each job carries its ``spark.jobGroup.id``; tasks reach their job through
their stage, and a stage belongs to the latest job that listed it before
the stage was submitted (a later job that reuses a computed stage lists it
but skips it).
"""

from __future__ import annotations

import glob
import json
import os
import re
from dataclasses import dataclass, field

# task-metric totals folded per job; times in seconds, sizes in bytes
TASK_FIELDS = (
    "tasks", "task_run_s", "gc_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "input_bytes",
    "python_run_s", "python_start_s", "python_init_s",
    "python_sent_bytes", "python_returned_bytes",
)
_PY_ACCUMS = {
    "time to run Python workers": ("python_run_s", 1e-3),
    "time to start Python workers": ("python_start_s", 1e-3),
    "time to initialize Python workers": ("python_init_s", 1e-3),
    "data sent to Python workers": ("python_sent_bytes", 1),
    "data returned from Python workers": ("python_returned_bytes", 1),
}
_LOCATION = re.compile(r"\[(.*)\]$")


@dataclass
class Job:
    job_id: int
    group: str
    start: float
    end: float = 0.0
    sql_id: int | None = None
    stages: int = 0
    totals: dict = field(default_factory=lambda: dict.fromkeys(TASK_FIELDS, 0.0))


@dataclass
class EventLog:
    jobs: dict[int, Job]
    # sql execution id -> [(parquet path, projected top-level columns)]
    scans: dict[int, list[tuple[str, list[str]]]]


def log_files(log_dir: str, app_id: str) -> list[str]:
    files = glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}", "events_*"))
    return sorted(files, key=lambda p: int(os.path.basename(p).split("_")[1]))


def _top_level_columns(schema: str) -> list[str]:
    cols, depth, start = [], 0, 0
    for i, ch in enumerate(schema + ","):
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            name = schema[start:i].split(":", 1)[0].strip()
            if name:
                cols.append(name)
            start = i + 1
    return cols


def _parquet_scans(node: dict):
    """(path, projected columns) of every parquet scan in a plan tree."""
    meta = node.get("metadata") or {}
    if meta.get("Format") == "Parquet":
        m = _LOCATION.search(meta.get("Location", ""))
        schema = meta.get("ReadSchema", "")
        if m and schema.startswith("struct<"):
            cols = _top_level_columns(schema[len("struct<"):-1])
            for loc in m.group(1).split(", "):
                yield loc.removeprefix("file:"), cols
    for child in node.get("children", ()):
        yield from _parquet_scans(child)


def fold(log_dir: str, app_id: str) -> EventLog:
    jobs: dict[int, Job] = {}
    latest_job_for_stage: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    scans: dict[int, list[tuple[str, list[str]]]] = {}
    for path in log_files(log_dir, app_id):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    sql_id = props.get("spark.sql.execution.id")
                    job = Job(ev["Job ID"], props.get("spark.jobGroup.id") or "",
                              ev["Submission Time"] / 1e3,
                              sql_id=int(sql_id) if sql_id is not None else None)
                    jobs[job.job_id] = job
                    for sid in ev.get("Stage IDs", ()):
                        latest_job_for_stage[sid] = job.job_id
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerStageSubmitted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in latest_job_for_stage:
                        stage_job[sid] = latest_job_for_stage[sid]
                        jobs[stage_job[sid]].stages += 1
                elif kind == "SparkListenerTaskEnd":
                    job_id = stage_job.get(ev["Stage ID"])
                    if job_id is not None:
                        _add_task(jobs[job_id].totals, ev)
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    found = list(_parquet_scans(ev.get("sparkPlanInfo") or {}))
                    if found:
                        scans[ev["executionId"]] = found
    return EventLog(jobs, scans)


def _add_task(t: dict, ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    t["tasks"] += 1
    t["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
    t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    t["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
    r = m.get("Shuffle Read Metrics", {})
    t["shuffle_read_bytes"] += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
    t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    t["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
    for acc in ev.get("Task Info", {}).get("Accumulables", ()):
        spec = _PY_ACCUMS.get(acc.get("Name"))
        if spec is not None:
            t[spec[0]] += float(acc.get("Update") or 0) * spec[1]


def projected_chunk_bytes(path: str, columns: list[str]) -> int:
    """Compressed size of ``columns``' chunks in the parquet file (or
    dataset directory) at ``path``, over every row group: what a scan that
    projects those columns and prunes no row group reads."""
    import pyarrow.parquet as pq

    wanted = set(columns)
    files = [path] if os.path.isfile(path) else glob.glob(
        os.path.join(path, "**", "*.parquet"), recursive=True)
    total = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            group = md.row_group(rg)
            for c in range(md.num_columns):
                col = group.column(c)
                if col.path_in_schema.split(".", 1)[0] in wanted:
                    total += col.total_compressed_size
    return total
