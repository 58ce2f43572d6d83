"""Pure-Python reader for Spark's JSON-lines event log.

Reads only the events it needs: job start (stage ids and the local
properties the tracer set), task end (task metrics) and SQL
execution start (physical plan text). Everything else is skipped, so the
parser does not depend on the rest of the schema.

``totals`` folds a set of jobs into the per-span / per-query breakdown the
benchmark reports: jobs, tasks, executor CPU and run time, GC, spill,
shuffle bytes, the widest stage, and executor time spent in stages that ran
on fewer tasks than half the cores (``serial_exec_s``).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Iterable

from spans import SPAN_PROP, STEP_PROP

JOB_START = "SparkListenerJobStart"
TASK_END = "SparkListenerTaskEnd"
SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"


@dataclass
class Stage:
    id: int
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    spill_bytes: int = 0
    shuffle_write_bytes: int = 0
    input_records: int = 0


@dataclass
class Job:
    id: int
    span: int | None
    step: str | None
    execution: int | None
    stage_ids: list[int] = field(default_factory=list)  # stages this job ran


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)
    plans: dict[int, str] = field(default_factory=dict)  # execution id -> plan

    def jobs_where(self, span_ids: set[int] | None = None, step: str | None = None) -> list[Job]:
        return [
            j for j in self.jobs.values()
            if (span_ids is None or j.span in span_ids) and (step is None or j.step == step)
        ]

    def scans(self, job: Job, path: str) -> bool:
        """Whether the job's SQL plan reads files under ``path``."""
        return job.execution is not None and path in self.plans.get(job.execution, "")


def _int(v) -> int | None:
    return None if v is None else int(v)


def parse(lines: Iterable[str]) -> EventLog:
    log = EventLog()
    seen: set[int] = set()  # stage ids some job already listed
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == JOB_START:
            props = ev.get("Properties") or {}
            job = Job(
                id=ev["Job ID"],
                span=_int(props.get(SPAN_PROP)),
                step=props.get(STEP_PROP),
                execution=_int(props.get("spark.sql.execution.id")),
            )
            for sid in ev.get("Stage IDs", []):
                # a stage listed again by a later job was skipped there: its
                # tasks ran once, under the job that first listed it
                if sid not in seen:
                    seen.add(sid)
                    job.stage_ids.append(sid)
            log.jobs[job.id] = job
        elif kind == TASK_END:
            st = log.stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
            m = ev.get("Task Metrics") or {}
            st.tasks += 1
            st.run_ms += m.get("Executor Run Time", 0)
            st.cpu_ns += m.get("Executor CPU Time", 0)
            st.gc_ms += m.get("JVM GC Time", 0)
            st.spill_bytes += m.get("Disk Bytes Spilled", 0)
            st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            st.input_records += (m.get("Input Metrics") or {}).get("Records Read", 0)
        elif kind == SQL_START:
            log.plans[ev["executionId"]] = ev.get("physicalPlanDescription", "")
    return log


def read(path: str) -> EventLog:
    with open(path) as f:
        return parse(f)


def totals(log: EventLog, jobs: Iterable[Job], cores: int) -> dict:
    """Breakdown of ``jobs``. A stage is serial when it ran fewer tasks than
    half of ``cores``: more cores cannot speed it up."""
    out = {"jobs": 0, "tasks": 0, "exec_run_s": 0.0, "exec_cpu_s": 0.0, "gc_s": 0.0,
           "spill_mb": 0.0, "shuffle_mb": 0.0, "max_stage_tasks": 0, "serial_exec_s": 0.0,
           "input_records": 0}
    for job in jobs:
        out["jobs"] += 1
        for sid in job.stage_ids:
            st = log.stages.get(sid)
            if st is None:  # listed but never ran a task
                continue
            out["tasks"] += st.tasks
            out["exec_run_s"] += st.run_ms / 1e3
            out["exec_cpu_s"] += st.cpu_ns / 1e9
            out["gc_s"] += st.gc_ms / 1e3
            out["spill_mb"] += st.spill_bytes / 1e6
            out["shuffle_mb"] += st.shuffle_write_bytes / 1e6
            out["input_records"] += st.input_records
            out["max_stage_tasks"] = max(out["max_stage_tasks"], st.tasks)
            if st.tasks < cores / 2:
                out["serial_exec_s"] += st.run_ms / 1e3
    return out
