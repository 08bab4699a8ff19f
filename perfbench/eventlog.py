"""Spark event-log parser: per-task metrics grouped by stage, and each
stage attributed to the job (and so to the span) that ran it.

The log is written uncompressed (``spark.eventLog.compress=false``) as
JSON lines.  Task ``Accumulables`` carry the SQL metrics by name, in
ms for timings ("time to run Python workers", "scan time", "sort time",
"task commit time") and in bytes for sizes.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict
from dataclasses import dataclass, field

from spans import SPAN_PROPERTY

OP_PROPERTY = "perfbench.op"

# SQL metrics (task accumulables) that the per-layer metrics use
SQL_METRICS = (
    "time to run Python workers",
    "time to start Python workers",
    "time to initialize Python workers",
    "data sent to Python workers",
    "data returned from Python workers",
    "scan time",
    "sort time",
    "task commit time",
)


@dataclass
class Stage:
    stage_id: int
    job_id: int
    span: int | None
    op: int | None
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: list = field(default_factory=list)   # per successful task
    cpu_ns: int = 0
    gc_ms: int = 0
    input_records: int = 0
    output_bytes: int = 0
    shuffle_write_bytes: int = 0
    fetch_wait_ms: int = 0
    spill_bytes: int = 0
    sql: dict = field(default_factory=lambda: defaultdict(int))


@dataclass
class Log:
    jobs: dict          # job id -> {"span", "op", "stages"}
    stages: dict        # stage id -> Stage


def log_files(path: str) -> list[str]:
    """The event-log file(s) under ``path`` (a file or a log dir)."""
    if os.path.isfile(path):
        return [path]
    return sorted(p for p in glob.glob(os.path.join(path, "**", "*"), recursive=True)
                  if os.path.isfile(p) and not os.path.basename(p).startswith(".")
                  and "appstatus" not in os.path.basename(p))


def _int(x) -> int:
    try:
        return int(x)
    except (TypeError, ValueError):
        return 0


def parse(path: str) -> Log:
    jobs: dict = {}
    stage_job: dict = {}
    stages: dict = {}
    task_events = []
    for fname in log_files(path):
        with open(fname) as f:
            for line in f:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    span = props.get(SPAN_PROPERTY)
                    op = props.get(OP_PROPERTY)
                    jobs[e["Job ID"]] = {
                        "span": None if span is None else int(span),
                        "op": None if op is None else int(op),
                        "stages": list(e.get("Stage IDs", [])),
                    }
                    # a stage reused by a later job (skipped there)
                    # belongs to the job that first listed it
                    for sid in e.get("Stage IDs", []):
                        stage_job.setdefault(sid, e["Job ID"])
                elif ev == "SparkListenerTaskEnd":
                    task_events.append(e)
    for e in task_events:
        sid = e["Stage ID"]
        st = stages.get(sid)
        if st is None:
            jid = stage_job.get(sid)
            job = jobs.get(jid, {})
            st = stages[sid] = Stage(sid, jid, job.get("span"), job.get("op"))
        st.tasks += 1
        info = e.get("Task Info") or {}
        if (e.get("Task End Reason") or {}).get("Reason") != "Success" or info.get("Failed"):
            st.failed_tasks += 1
            continue
        tm = e.get("Task Metrics") or {}
        st.run_ms.append(_int(tm.get("Executor Run Time")))
        st.cpu_ns += _int(tm.get("Executor CPU Time"))
        st.gc_ms += _int(tm.get("JVM GC Time"))
        st.input_records += _int((tm.get("Input Metrics") or {}).get("Records Read"))
        st.output_bytes += _int((tm.get("Output Metrics") or {}).get("Bytes Written"))
        st.shuffle_write_bytes += _int(
            (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written"))
        st.fetch_wait_ms += _int(
            (tm.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time"))
        st.spill_bytes += (_int(tm.get("Memory Bytes Spilled"))
                           + _int(tm.get("Disk Bytes Spilled")))
        for acc in info.get("Accumulables") or []:
            name = acc.get("Name")
            if name in SQL_METRICS:
                st.sql[name] += _int(acc.get("Update"))
    return Log(jobs=jobs, stages=stages)
