"""Per-layer figures of a traced run: the tracer's spans joined with the
event log's jobs, stages and SQL executions, and the share of the
timed wall the layer spans cover.

A job belongs to the span named in its description, with one
exception: jobs tagged with the dlq append but submitted after it
returned are the stream's per-sink count (``streaming.stream``'s
foreachBatch body collects it right after that append, with no layer
call in between), so they count as ``plans.counts``.
"""

from __future__ import annotations

import os
from collections import defaultdict

from .eventlog import EventLog, Job, span_id
from .harness import median
from .trace import Span

#: spans of the pipeline path (compaction reads sinks, not the source)
PIPELINE = {
    "sources.read",
    "operators.build",
    "plans.split",
    "sinks.append_sink",
    "sinks.append_dlq",
    "plans.counts",
}
APPENDS = {"sinks.append_sink", "sinks.append_dlq"}


def _dur(s: Span) -> float:
    return (s.end or s.start) - s.start


class Trace:
    def __init__(self, spans: list[Span], log: EventLog) -> None:
        self.spans = {s.id: s for s in spans}
        self.log = log
        self.children: dict[int | None, list[Span]] = defaultdict(list)
        for s in spans:
            self.children[s.parent].append(s)

    def under(self, root: int) -> set[int]:
        out, todo = set(), [root]
        while todo:
            i = todo.pop()
            out.add(i)
            todo.extend(c.id for c in self.children[i])
        return out

    def layer(self, job: Job) -> str | None:
        s = self.spans.get(job.span_id) if job.span_id is not None else None
        if s is None:
            return None
        if s.name == "sinks.append_dlq" and s.end and job.submit_ms / 1000 > s.end:
            return "plans.counts"
        return s.name

    def jobs(self, ids: set[int]) -> list[Job]:
        return [j for j in self.log.jobs.values() if j.span_id in ids]

    def scan_bytes(self, op: Span) -> int:
        """Bytes of the source scans of an op: SQL executions tagged
        with a pipeline layer under it, or untagged ones started within
        it (a stream's micro-batch executions plan the source scan)."""
        ids = self.under(op.id)
        total = 0
        for e in self.log.executions.values():
            sid = span_id(e.desc)
            if sid is None:
                mine = op.start * 1000 <= e.start_ms <= (op.end or op.start) * 1000
            else:
                mine = sid in ids and self.spans[sid].name in PIPELINE
            total += e.scan_file_bytes if mine else 0
        return total


def pipeline_op(tr: Trace, op: Span) -> dict[str, float]:
    """Layer figures of one run_batch call or one stream drain."""
    ids = tr.under(op.id)
    spans = [tr.spans[i] for i in ids if i != op.id]

    def span_s(name: str, skip_under_compact: bool = False) -> float:
        return sum(
            _dur(s)
            for s in spans
            if s.name == name
            and not (skip_under_compact and tr.spans.get(s.parent, op).name == "sinks.compact")
        )

    jobs = tr.jobs(ids)
    by_layer: dict[str, list[Job]] = defaultdict(list)
    for j in jobs:
        by_layer[tr.layer(j) or "other"].append(j)
    pipe_stages = tr.log.stages_of(j for j in jobs if tr.layer(j) in PIPELINE)
    append_stages = tr.log.stages_of(j for j in jobs if tr.layer(j) in APPENDS)
    compute = [s for s in pipe_stages if s.kind in ("scan", "broadcast")]
    scans = [s for s in pipe_stages if s.kind == "scan"]
    encode = [s for s in append_stages if s.kind == "encode"]
    skew = 0.0
    sink_encode = [
        s for s in tr.log.stages_of(by_layer["sinks.append_sink"]) if s.kind == "encode"
    ]
    if sink_encode:
        big = max(sink_encode, key=lambda s: s.run_ms)
        skew = max(big.task_ms) / max(median(big.task_ms), 1)
    return {
        "sources.scan_rows": sum(s.input_rows for s in scans),
        "sources.scan_bytes": tr.scan_bytes(op),
        "sources.scan_time_s": sum(s.scan_time_ms for s in scans) / 1000,
        "operators.build_call_s": span_s("operators.build"),
        "operators.compute_task_s": sum(s.run_ms for s in compute) / 1000,
        "operators.compute_cpu_s": sum(s.cpu_ns for s in compute) / 1e9,
        "plans.split_call_s": span_s("plans.split"),
        "plans.persist_build_task_s": sum(
            s.run_ms for s in append_stages if s.kind == "scan"
        ) / 1000,
        "plans.count_jobs_s": sum(
            (j.end_ms or j.submit_ms) - j.submit_ms for j in by_layer["plans.counts"]
        ) / 1000,
        "sinks.append_sink_s": span_s("sinks.append_sink"),
        "sinks.append_dlq_s": span_s("sinks.append_dlq"),
        "sinks.encode_task_s": sum(s.run_ms for s in encode) / 1000,
        "sinks.write_task_skew": skew,
        "sinks.commit_s": span_s("sinks.commit", skip_under_compact=True),
        "sinks.compact_s": span_s("sinks.compact"),
    }


def job_counts(tr: Trace, jobs: list[Job]) -> tuple[int, int, int]:
    stages = tr.log.stages_of(jobs)
    return len(jobs), len(stages), sum(len(s.task_ms) for s in stages)


def _site(job: Job) -> str:
    """``collect at pipeline.py:205`` (the file without its directory)."""
    what, _, where = job.callsite.partition(" at ")
    return f"{what} at {os.path.basename(where)}" if where else job.callsite or "?"


def uncovered_jobs(tr: Trace, ops: list[Span]) -> dict[str, float]:
    """Seconds of Spark jobs tagged with an op itself rather than a
    layer call under it, by call site."""
    ids = {op.id for op in ops}
    out: dict[str, float] = defaultdict(float)
    for j in tr.log.jobs.values():
        if j.span_id in ids and j.end_ms:
            out[_site(j)] += (j.end_ms - j.submit_ms) / 1000
    return dict(out)


def coverage(tr: Trace, ops: list[Span], extra: dict[str, float] | None = None):
    """Share of the ops' wall inside the layer spans directly under them
    (plus ``extra`` seconds of named layer time the caller accounts
    for). Returns the share and the seconds per layer, with the
    uncovered remainder under ``uncovered``."""
    wall = sum(_dur(op) for op in ops)
    per_layer: dict[str, float] = defaultdict(float)
    for op in ops:
        for c in tr.children[op.id]:
            per_layer[c.name] += _dur(c)
    per_layer.update(extra or {})
    covered = sum(per_layer.values())
    per_layer["uncovered"] = wall - covered
    return (covered / wall if wall > 0 else 0.0), dict(per_layer)


def query_pass(tr: Trace, query_spans: list[Span]) -> dict[str, float]:
    """Registry figures summed over one pass of query spans."""
    ids: set[int] = set()
    for s in query_spans:
        ids |= tr.under(s.id)
    jobs = tr.jobs(ids)
    n_jobs, n_stages, n_tasks = job_counts(tr, jobs)
    stages = tr.log.stages_of(jobs)
    exec_ms = sum(
        e.end_ms - e.start_ms
        for e in tr.log.executions.values()
        if e.end_ms and span_id(e.desc) in ids
    )
    return {
        "queries.exec_s": exec_ms / 1000,
        "queries.jobs": n_jobs,
        "queries.stages": n_stages,
        "queries.tasks": n_tasks,
        "queries.shuffle_bytes": sum(s.shuffle_bytes for s in stages),
        "queries.gc_s": sum(s.gc_ms for s in stages) / 1000,
    }
