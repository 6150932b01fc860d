"""Spark event-log parser: jobs, stages and SQL executions, attributed
to the benchmark's layer spans.

The benchmark runs with ``spark.eventLog.compress=false`` and rolling
off, so the log is one JSON object per line. Every job carries the
``spark.job.description`` the tracer set (``<layer>#<span id>``); a
stage belongs to the job that ran it, and its metrics are summed from
the task-end events. Within a layer, a stage is further split by the
plan nodes it executes (``stage_kind``): the source scan that builds
the persisted frame, the broadcast of the enrichment dictionaries, the
sort+encode of a sink write, a shuffle, or other.

The bytes a scan reads come from the SQL metric ``size of files read``
of each ``Scan parquet`` plan node (a driver-side metric, posted with
the execution that planned the scan): the task-level ``Bytes Read``
misses parquet's data-page reads.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field


def span_id(desc: str | None) -> int | None:
    """The span id in a ``<layer>#<span id>`` job description."""
    tail = (desc or "").rpartition("#")[2]
    return int(tail) if desc and "#" in desc and tail.isdigit() else None


@dataclass
class Stage:
    id: int
    scopes: list[str] = field(default_factory=list)
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_bytes: int = 0
    input_rows: int = 0
    scan_time_ms: int = 0
    task_ms: list[int] = field(default_factory=list)

    @property
    def kind(self) -> str:
        return stage_kind(self.scopes)


@dataclass
class Job:
    id: int
    desc: str | None
    submit_ms: int
    end_ms: int | None = None
    stages: list[int] = field(default_factory=list)
    #: ``callSite.short`` of the action that ran the job
    callsite: str = ""

    @property
    def span_id(self) -> int | None:
        return span_id(self.desc)


@dataclass
class SqlExecution:
    id: int
    desc: str | None
    start_ms: int
    end_ms: int | None = None
    #: ``size of files read`` summed over the parquet scans it planned
    scan_file_bytes: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)
    executions: dict[int, SqlExecution] = field(default_factory=dict)

    def stages_of(self, jobs) -> list[Stage]:
        """Stages that ran (skipped stages have no task-end events)."""
        return [
            self.stages[s]
            for j in jobs
            for s in j.stages
            if s in self.stages and self.stages[s].task_ms
        ]


def stage_kind(scopes: list[str]) -> str:
    """Classify a stage by the plan nodes in its RDD scopes."""
    s = set(scopes)
    if "WriteFiles" in s:
        return "encode"
    if "Scan parquet " in s and "InMemoryTableScan" not in s:
        return "scan"
    if "BroadcastExchange" in s:
        return "broadcast"
    if "Exchange" in s:
        return "shuffle"
    return "other"


def _scope_name(rdd: dict) -> str:
    scope = rdd.get("Scope")
    if scope:
        try:
            return json.loads(scope)["name"]
        except (ValueError, KeyError):
            pass
    return rdd.get("Name", "")


#: the SQL metric of a parquet scan node read as the scan's bytes
SCAN_BYTES = ("Scan parquet", "size of files read")


def _scan_byte_metrics(plan: dict, out: set[int]) -> None:
    """Accumulator ids of ``SCAN_BYTES`` in a ``sparkPlanInfo`` tree."""
    if plan.get("nodeName", "").startswith(SCAN_BYTES[0]):
        out.update(m["accumulatorId"] for m in plan.get("metrics", []) if m["name"] == SCAN_BYTES[1])
    for child in plan.get("children", []):
        _scan_byte_metrics(child, out)


def parse(path: str) -> EventLog:
    log = EventLog()
    scan_accs: set[int] = set()
    #: accumulator id -> (execution that first posted it, last value)
    driver_accs: dict[int, tuple[int, int]] = {}
    with open(path) as f:
        for line in f:
            if not line.strip():
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(
                    id=ev["Job ID"],
                    desc=props.get("spark.job.description"),
                    submit_ms=ev["Submission Time"],
                    stages=list(ev["Stage IDs"]),
                    callsite=props.get("callSite.short", ""),
                )
                log.jobs[job.id] = job
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in log.jobs:
                    log.jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = log.stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
                names = [_scope_name(r) for r in info.get("RDD Info", [])]
                st.scopes = sorted(set(names))
                for acc in info.get("Accumulables", []):
                    if acc.get("Name") == "scan time":
                        st.scan_time_ms += int(acc.get("Value") or 0)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                if not m:
                    continue
                st = log.stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
                st.run_ms += m["Executor Run Time"]
                st.task_ms.append(m["Executor Run Time"])
                st.cpu_ns += m["Executor CPU Time"]
                st.gc_ms += m["JVM GC Time"]
                sr = m.get("Shuffle Read Metrics", {})
                st.shuffle_bytes += (
                    sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0)
                    + m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                )
                im = m.get("Input Metrics", {})
                st.input_rows += im.get("Records Read", 0)
            elif kind.endswith("SQLExecutionStart"):
                log.executions[ev["executionId"]] = SqlExecution(
                    ev["executionId"], ev.get("description"), ev["time"]
                )
                _scan_byte_metrics(ev.get("sparkPlanInfo") or {}, scan_accs)
            elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                _scan_byte_metrics(ev.get("sparkPlanInfo") or {}, scan_accs)
            elif kind.endswith("SQLExecutionEnd"):
                if ev["executionId"] in log.executions:
                    log.executions[ev["executionId"]].end_ms = ev["time"]
            elif kind.endswith("DriverAccumUpdates"):
                for acc, value in ev["accumUpdates"]:
                    first = driver_accs.get(acc, (ev["executionId"], 0))[0]
                    driver_accs[acc] = (first, value)
    for acc, (execution, value) in driver_accs.items():
        if acc in scan_accs and execution in log.executions:
            log.executions[execution].scan_file_bytes += value
    return log


def find_log(directory: str) -> str:
    """The single finished application log in ``directory``."""
    names = [n for n in os.listdir(directory) if not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one finished event log in {directory}, found {names}")
    return os.path.join(directory, names[0])
