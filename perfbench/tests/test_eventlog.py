"""The event-log parser and layer attribution on a tiny recorded log:
two traced ``run_batch`` calls over 2000 and 6000 seeded turns (2
files, 2 days each), local[2]. Each batch span records the rows and
parquet bytes of its input. The log keeps only the events and fields
the parser reads."""

import json
import os

import pytest

from perfbench.eventlog import parse, stage_kind
from perfbench.layers import Trace, coverage, job_counts, pipeline_op, uncovered_jobs
from perfbench.trace import Span

DATA = os.path.join(os.path.dirname(__file__), "data")
LOG = os.path.join(DATA, "eventlog_batch.jsonl")


def _spans():
    with open(os.path.join(DATA, "spans_batch.jsonl")) as f:
        return [Span(**json.loads(line)) for line in f]


def _raw(kind):
    with open(LOG) as f:
        return [e for e in map(json.loads, f) if e["Event"] == kind]


def test_jobs_stages_and_task_sums():
    log = parse(LOG)
    starts = _raw("SparkListenerJobStart")
    assert sorted(log.jobs) == sorted(e["Job ID"] for e in starts)
    assert all(j.end_ms is not None for j in log.jobs.values())
    for e in starts:
        job = log.jobs[e["Job ID"]]
        assert job.desc == e["Properties"]["spark.job.description"]
        assert job.span_id == int(job.desc.split("#")[1])
    # per-stage sums equal a direct sum over the task-end events
    run_ms: dict[int, int] = {}
    for e in _raw("SparkListenerTaskEnd"):
        run_ms[e["Stage ID"]] = run_ms.get(e["Stage ID"], 0) + e["Task Metrics"]["Executor Run Time"]
    assert {s.id: s.run_ms for s in log.stages.values() if s.task_ms} == run_ms


def test_stage_kinds():
    assert stage_kind(["WriteFiles", "InMemoryTableScan", "Scan parquet "]) == "encode"
    assert stage_kind(["Scan parquet ", "WholeStageCodegen (3)"]) == "scan"
    assert stage_kind(["Exchange", "InMemoryTableScan", "Scan parquet "]) == "shuffle"
    assert stage_kind(["BroadcastExchange", "PythonRDD"]) == "broadcast"
    kinds = {s.kind for s in parse(LOG).stages.values() if s.task_ms}
    # the persisted frame is built by its own scan stage, apart from the
    # sort+encode stage of the sink write
    assert {"scan", "encode", "broadcast", "shuffle"} <= kinds


def _batches(tr):
    return [s for s in tr.spans.values() if s.name == "batch"]


def test_layer_figures_of_each_batch():
    tr = Trace(_spans(), parse(LOG))
    ops = _batches(tr)
    assert [op.attrs["rows"] for op in ops] == [2000, 6000]
    n_jobs = 0
    for op in ops:
        f = pipeline_op(tr, op)
        assert f["sources.scan_rows"] == op.attrs["rows"]
        # the SQL metric of the source scan: the input's parquet bytes
        assert f["sources.scan_bytes"] == op.attrs["input_bytes"]
        assert f["plans.persist_build_task_s"] > 0
        assert f["sinks.encode_task_s"] > 0
        assert f["operators.compute_task_s"] >= f["plans.persist_build_task_s"]
        assert f["plans.count_jobs_s"] > 0
        assert f["sinks.compact_s"] == 0
        assert f["sinks.commit_s"] > 0
        # 2 sinks (one per day) written by 2 tasks: skew is max/median of 2
        assert f["sinks.write_task_skew"] >= 1
        jobs, stages, tasks = job_counts(tr, tr.jobs(tr.under(op.id)))
        assert stages <= tasks
        n_jobs += jobs
    # every job of the log ran under one of the two batches
    assert n_jobs == len(_raw("SparkListenerJobStart"))


def test_scan_bytes_grow_with_rows():
    tr = Trace(_spans(), parse(LOG))
    small, big = (pipeline_op(tr, op)["sources.scan_bytes"] for op in _batches(tr))
    assert big > 2 * small > 0


def test_coverage_and_uncovered_remainder():
    tr = Trace(_spans(), parse(LOG))
    ops = _batches(tr)
    share, per_layer = coverage(tr, ops)
    assert share >= 0.9
    wall = sum(op.end - op.start for op in ops)
    assert abs(sum(per_layer.values()) - wall) < 1e-6
    assert per_layer["uncovered"] == pytest.approx((1 - share) * wall)
    # plans.counts ends when its frame's collect returns: the dlq-reason
    # count that follows is run_batch's own job, outside any layer call
    sites = uncovered_jobs(tr, ops)
    assert any(site.endswith("pipeline.py:205") for site in sites)
    assert all(sec > 0 for sec in sites.values())


def test_count_jobs_after_dlq_append_are_counts():
    """In the stream body the per-sink count is collected right after
    the dlq append returns, still under its job description."""
    spans = _spans()
    dlq = next(s for s in spans if s.name == "sinks.append_dlq")
    tr = Trace(spans, parse(LOG))
    job = next(iter(tr.log.jobs.values()))
    job.desc = f"sinks.append_dlq#{dlq.id}"
    job.submit_ms = int(dlq.end * 1000) + 5
    assert tr.layer(job) == "plans.counts"
    job.submit_ms = int(dlq.start * 1000) + 1
    assert tr.layer(job) == "sinks.append_dlq"
