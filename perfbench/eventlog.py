"""Parser for an uncompressed Spark event log (JSON lines).

It attributes every job to a call site and sums, per job, the task metrics
the per-layer trace reports: task time, shuffle write, spill, failed tasks
and the ArrowEvalPython SQL metrics (bytes to and from the Python workers,
time spent running them). It also reports each SQL execution's wall span
and the wall time not covered by any job.

A job's call site is the Python ``file.py:line`` Spark recorded for it
(``collect at .../checkpoint.py:102`` becomes ``checkpoint.py:102``). Writes
and ``count`` go through py4j without a Python call site, so those keep the
operation name of their SQL execution (``parquet``, ``count``).
"""

from __future__ import annotations

import glob
import json
import os
import re

_PY_SITE = re.compile(r"([\w.\-]+\.py):(\d+)")
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_RUN = "time to run Python workers"


def call_site(description: str | None) -> str:
    if not description:
        return "unknown"
    m = _PY_SITE.search(description)
    if m:
        return f"{m.group(1)}:{m.group(2)}"
    return description.split(" at ", 1)[0].strip() or "unknown"


def _files(path: str) -> list[str]:
    """The ``events_<n>_<app>`` parts of a rolling (v2) event log, given its
    directory or the event-log directory that holds it."""
    parts = glob.glob(os.path.join(path, "events_*"))
    if not parts:
        parts = glob.glob(os.path.join(path, "*", "events_*"))
    return sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))


def parse(path: str) -> dict:
    """Jobs, SQL executions and application span of one event log.

    Times are epoch milliseconds as Spark wrote them."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    execs: dict[int, dict] = {}
    app = {"start": None, "end": None}
    for fname in _files(path):
        with open(fname) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerApplicationStart":
                    app["start"] = e["Timestamp"]
                elif kind == "SparkListenerApplicationEnd":
                    app["end"] = e["Timestamp"]
                elif kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    exec_id = props.get("spark.sql.execution.id")
                    jobs[e["Job ID"]] = {
                        "id": e["Job ID"],
                        "start": e["Submission Time"],
                        "end": None,
                        "exec_id": int(exec_id) if exec_id is not None else None,
                        "site": props.get("callSite.short"),
                        "group": props.get("spark.jobGroup.id"),
                        "task_ms": 0,
                        "failed_tasks": 0,
                        "shuffle_write_bytes": 0,
                        "spill_bytes": 0,
                        "py_sent": 0,
                        "py_recv": 0,
                        "py_run_ms": 0,
                    }
                    for s in e["Stage Infos"]:
                        stage_job[s["Stage ID"]] = e["Job ID"]
                elif kind == "SparkListenerJobEnd":
                    job = jobs.get(e["Job ID"])
                    if job is not None:
                        job["end"] = e["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(e["Stage ID"]))
                    if job is not None:
                        _add_task(job, e)
                elif kind.endswith("SQLExecutionStart"):
                    execs[e["executionId"]] = {
                        "id": e["executionId"],
                        "description": e.get("description"),
                        "start": e["time"],
                        "end": None,
                    }
                elif kind.endswith("SQLExecutionEnd"):
                    ex = execs.get(e["executionId"])
                    if ex is not None:
                        ex["end"] = e["time"]
    for job in jobs.values():
        ex = execs.get(job["exec_id"]) if job["exec_id"] is not None else None
        job["site"] = call_site(job["site"] or (ex or {}).get("description"))
    for ex in execs.values():
        ex["site"] = call_site(ex["description"])
    return {
        "app": app,
        "jobs": sorted(jobs.values(), key=lambda j: j["id"]),
        "executions": sorted(execs.values(), key=lambda x: x["id"]),
    }


def _add_task(job: dict, e: dict) -> None:
    if (e.get("Task End Reason") or {}).get("Reason") != "Success":
        job["failed_tasks"] += 1
    m = e.get("Task Metrics") or {}
    job["task_ms"] += m.get("Executor Run Time", 0)
    job["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0
    )
    job["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    for acc in (e.get("Task Info") or {}).get("Accumulables", []):
        name, upd = acc.get("Name"), acc.get("Update")
        if upd is None:
            continue
        if name == PY_SENT:
            job["py_sent"] += int(upd)
        elif name == PY_RECV:
            job["py_recv"] += int(upd)
        elif name == PY_RUN:
            job["py_run_ms"] += int(upd)


def covered_ms(intervals: list[tuple[int, int]]) -> int:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def totals(jobs: list[dict]) -> dict:
    """Summed task metrics and the covered wall of a set of jobs."""
    keys = (
        "task_ms", "failed_tasks", "shuffle_write_bytes",
        "spill_bytes", "py_sent", "py_recv", "py_run_ms",
    )
    out = {k: sum(j[k] for j in jobs) for k in keys}
    out["jobs"] = len(jobs)
    out["covered_ms"] = covered_ms(
        [(j["start"], j["end"]) for j in jobs if j["end"] is not None]
    )
    return out
