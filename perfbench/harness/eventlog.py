"""Spark event-log parser (uncompressed JSON lines, stdlib ``json`` only).

Reads what the traced run needs: every job with its job group, SQL
execution and wall interval; per-stage task totals (count, executor run
and CPU time, task deserialize, GC, shuffle bytes written, Python worker
time); and the driver-side "number of files read" of each SQL execution.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

SQL_PREFIX = "org.apache.spark.sql.execution.ui."


@dataclass
class Tasks:
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    deserialize_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: int = 0
    python_ms: float = 0.0

    def add(self, o: "Tasks") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(o, k))


@dataclass
class Job:
    id: int
    group: str | None
    execution: int | None
    start_ms: int
    end_ms: int | None = None
    stages: list[int] = field(default_factory=list)  # stages this job ran
    tasks: Tasks = field(default_factory=Tasks)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    files_read: dict[int, int] = field(default_factory=dict)  # execution -> files

    def by_group(self) -> dict[str | None, list[Job]]:
        out: dict[str | None, list[Job]] = {}
        for j in self.jobs.values():
            out.setdefault(j.group, []).append(j)
        return out

    def totals(self, jobs: list[Job] | None = None) -> Tasks:
        t = Tasks()
        for j in self.jobs.values() if jobs is None else jobs:
            t.add(j.tasks)
        return t


def _files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    out = []
    for root, _dirs, names in os.walk(path):
        # rolling logs are events_<n>_<app>; order by the part number
        for n in names:
            if n.startswith("events_") or (n.startswith(("local-", "app-")) and "." not in n):
                out.append(os.path.join(root, n))
    return sorted(out, key=lambda p: (os.path.dirname(p), _part(os.path.basename(p))))


def _part(name: str) -> int:
    bits = name.split("_")
    return int(bits[1]) if len(bits) > 2 and bits[1].isdigit() else 0


def _plan_metric_ids(plan: dict, name: str, acc: set[int]) -> None:
    for m in plan.get("metrics", []):
        if m.get("name") == name:
            acc.add(int(m["accumulatorId"]))
    for c in plan.get("children", []):
        _plan_metric_ids(c, name, acc)


def _task_python_ms(info: dict) -> float:
    ms = 0.0
    for a in info.get("Accumulables", []):
        if a.get("Name") == "time to run Python workers":
            # SQL timing metrics carry milliseconds; nsTiming ones would
            # say so in their name, and this one does not
            ms += float(a.get("Update") or 0)
    return ms


def parse(path: str) -> EventLog:
    """Parse one event-log file, or every event-log file under a
    directory (Spark 4 writes rolling logs as a directory per app)."""
    log = EventLog()
    stage_job: dict[int, int] = {}
    files_ids: set[int] = set()
    driver_updates: list[tuple[int, list]] = []
    for fn in _files(path):
        with open(fn, encoding="utf-8") as fh:
            for line in fh:
                if not line.strip():
                    continue
                e = json.loads(line)
                ev = e.get("Event", "")
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    ex = props.get("spark.sql.execution.id")
                    job = Job(
                        id=int(e["Job ID"]),
                        group=props.get("spark.jobGroup.id"),
                        execution=int(ex) if ex is not None else None,
                        start_ms=int(e["Submission Time"]),
                    )
                    log.jobs[job.id] = job
                    for s in e.get("Stage IDs", []):
                        stage_job.setdefault(int(s), job.id)
                elif ev == "SparkListenerJobEnd":
                    j = log.jobs.get(int(e["Job ID"]))
                    if j is not None:
                        j.end_ms = int(e["Completion Time"])
                elif ev == "SparkListenerStageSubmitted":
                    sid = int(e["Stage Info"]["Stage ID"])
                    jid = stage_job.get(sid)
                    if jid is not None and sid not in log.jobs[jid].stages:
                        log.jobs[jid].stages.append(sid)
                elif ev == "SparkListenerTaskEnd":
                    jid = stage_job.get(int(e["Stage ID"]))
                    m = e.get("Task Metrics")
                    if jid is None or not m:
                        continue
                    sw = m.get("Shuffle Write Metrics") or {}
                    log.jobs[jid].tasks.add(Tasks(
                        tasks=1,
                        run_ms=float(m.get("Executor Run Time", 0)),
                        cpu_ms=float(m.get("Executor CPU Time", 0)) / 1e6,
                        deserialize_ms=float(m.get("Executor Deserialize Time", 0)),
                        gc_ms=float(m.get("JVM GC Time", 0)),
                        shuffle_write_bytes=int(sw.get("Shuffle Bytes Written", 0)),
                        python_ms=_task_python_ms(e.get("Task Info") or {}),
                    ))
                elif ev in (SQL_PREFIX + "SparkListenerSQLExecutionStart",
                            SQL_PREFIX + "SparkListenerSQLAdaptiveExecutionUpdate"):
                    _plan_metric_ids(e.get("sparkPlanInfo") or {}, "number of files read", files_ids)
                elif ev == SQL_PREFIX + "SparkListenerDriverAccumUpdates":
                    driver_updates.append((int(e["executionId"]), e.get("accumUpdates") or []))
    for ex, updates in driver_updates:
        for acc_id, value in updates:
            if int(acc_id) in files_ids:
                log.files_read[ex] = log.files_read.get(ex, 0) + int(value)
    return log
