"""Fold a Spark event log into per-span metrics.

The traced run turns the event log on from its own side
(``spark.eventLog.*`` session conf, uncompressed and non-rolling) and
tags the jobs of each span with ``setJobDescription``.  A job belongs
to the span named in its description; jobs started from other threads
carry no description and are given to the span whose time window holds
their submission time.
"""

from __future__ import annotations

import json
import re
from collections import defaultdict

EVENTLOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}
SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
MB = 1 << 20
PREFIX = "perfbench:"


def read(path: str) -> tuple[dict, dict]:
    """Returns ``(jobs, executions)``.

    ``jobs[job_id]`` has the job's description, SQL execution id, start
    and end (epoch seconds) and task totals; ``executions[exec_id]`` has
    start, end, whether any of its tasks wrote output, and the directory
    it writes to."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    execs: dict[int, dict] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                eid = props.get("spark.sql.execution.id")
                jobs[ev["Job ID"]] = {
                    "desc": props.get("spark.job.description"),
                    "exec": int(eid) if eid is not None else None,
                    "start": ev["Submission Time"] / 1000,
                    "end": None,
                    "task_s": 0.0,
                    "cpu_s": 0.0,
                    "gc_s": 0.0,
                    "shuffle_mb": 0.0,
                    "spill_mb": 0.0,
                    "written_mb": 0.0,
                }
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"]))
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                rd, wr = m["Shuffle Read Metrics"], m["Shuffle Write Metrics"]
                job["task_s"] += m["Executor Run Time"] / 1e3
                job["cpu_s"] += m["Executor CPU Time"] / 1e9
                job["gc_s"] += m["JVM GC Time"] / 1e3
                job["shuffle_mb"] += (
                    rd["Remote Bytes Read"] + rd["Local Bytes Read"] + wr["Shuffle Bytes Written"]
                ) / MB
                job["spill_mb"] += m["Disk Bytes Spilled"] / MB
                job["written_mb"] += m["Output Metrics"]["Bytes Written"] / MB
            elif kind == SQL_START:
                eid = ev["executionId"]
                execs[eid] = {
                    "start": ev["time"] / 1000,
                    "end": None,
                    "root_id": ev.get("rootExecutionId", eid),
                    "output": output_path(ev.get("physicalPlanDescription", "")),
                    "writes": False,
                }
            elif kind == SQL_END and ev["executionId"] in execs:
                execs[ev["executionId"]]["end"] = ev["time"] / 1000
    # a nested execution's jobs and writes count toward its root, whose
    # start..end spans them
    for eid, e in execs.items():
        rid = e["root_id"]
        e["root"] = eid if rid in (eid, None, -1) or rid not in execs else rid
    for job in jobs.values():
        e = execs.get(job["exec"])
        if e is not None and job["written_mb"] > 0:
            execs[e["root"]]["writes"] = True
    return jobs, execs


def output_path(plan: str) -> str | None:
    """Directory a file-writing execution writes to, from its plan."""
    m = re.search(r"InsertIntoHadoopFsRelationCommand\nInput: .*\nArguments: file:([^,\s]+)", plan)
    return m.group(1) if m else None


def assign(jobs: dict, spans: list[dict]) -> dict[str, list[dict]]:
    """Map span name → its jobs (see module docstring)."""
    out: dict[str, list[dict]] = defaultdict(list)
    for job in jobs.values():
        desc = job["desc"] or ""
        name = desc[len(PREFIX) :] if desc.startswith(PREFIX) else None
        if name is None:
            for s in spans:
                if s["start"] <= job["start"] <= s["end"]:
                    name = s["name"]
        if name is not None:
            out[name].append(job)
    return out


def totals(jobs: list[dict]) -> dict[str, float]:
    keys = ("task_s", "cpu_s", "gc_s", "shuffle_mb", "spill_mb")
    return {k: sum(j[k] for j in jobs) for k in keys}


def executions_between(jobs: list[dict], execs: dict, t0: float, t1: float) -> list[dict]:
    """Root SQL executions of ``jobs`` that started inside ``[t0, t1]``."""
    ids = {execs[j["exec"]]["root"] for j in jobs if j["exec"] in execs}
    return [execs[i] for i in sorted(ids) if t0 <= execs[i]["start"] <= t1]


def wall(execs: list[dict]) -> float:
    return sum(e["end"] - e["start"] for e in execs if e["end"] is not None)
