#!/usr/bin/env python3
"""Benchmark of the transcript pipeline on one host.

    python3 perfbench/run.py --workload batch_backfill --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload, untraced and traced

One workload per call: it builds its seeded inputs (cached under
``.perfbench/cache``), sets up, measures for ``--seconds``, checks the
outputs, prints a table of every metric (unit, median, IQR, sample
count) and, as the last line, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on
Spark's event log and the layer spans and reports the per-layer
metrics. ``--workload all`` runs every workload both ways in child
processes and adds the tracing overhead. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if sys.path[0] == HERE:
    sys.path[0] = ROOT

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "latency_geomean_ms": "ms",
}

PER_LAYER = {
    "sources.scan_rows": "count",
    "sources.scan_bytes": "bytes",
    "sources.scan_time_s": "s",
    "operators.build_call_s": "s",
    "operators.compute_task_s": "s",
    "operators.compute_cpu_s": "s",
    "plans.split_call_s": "s",
    "plans.persist_build_task_s": "s",
    "plans.count_jobs_s": "s",
    "plans.jobs_per_batch": "count",
    "plans.stages_per_batch": "count",
    "plans.tasks_per_batch": "count",
    "sinks.append_sink_s": "s",
    "sinks.append_dlq_s": "s",
    "sinks.encode_task_s": "s",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "sinks.rows_per_file": "rows/file",
    "sinks.write_task_skew": "ratio",
    "sinks.commit_s": "s",
    "sinks.manifest_bytes": "bytes",
    "sinks.compact_s": "s",
    "sinks.version_dirs_live": "count",
    "streaming.batches": "count",
    "streaming.addBatch_ms": "ms",
    "streaming.latestOffset_ms": "ms",
    "streaming.walCommit_ms": "ms",
    "streaming.commitOffsets_ms": "ms",
    "streaming.queryPlanning_ms": "ms",
    "streaming.process_self_ms": "ms",
    "microbatch_tail_ms": "ms",
    "queries.plan_s": "s",
    "queries.exec_s": "s",
    "queries.jobs": "count",
    "queries.stages": "count",
    "queries.tasks": "count",
    "queries.shuffle_bytes": "bytes",
    "queries.gc_s": "s",
    "queries.persisted_rdds_left": "count",
    "trace.coverage": "ratio",
    "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    from perfbench.workloads import QUERY_SET

    return {**PER_LAYER, **{f"queries.{q}_s": "s" for q in QUERY_SET}}


def program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "fluent_plugin_opensearch_spark", "__init__.py"))


def run_one(workload: str, seed: int, seconds: int, trace: bool) -> int:
    from perfbench import harness
    from perfbench.workloads import WORKLOADS

    facts = harness.host_facts()
    run = harness.Run(workload, seed, trace)
    out = None
    try:
        out = WORKLOADS[workload](run, seconds)
        import pyspark
        from pyspark import SparkContext

        facts["spark"] = pyspark.__version__
        facts["java"] = SparkContext._jvm.System.getProperty("java.version")
    finally:
        t0 = time.perf_counter()
        run.close()
        if out is not None:
            out.phases["close"] = time.perf_counter() - t0

    print(f"== {workload}  seed={seed}  seconds={seconds}  trace={int(trace)}")
    print(f"   host {json.dumps(facts)}")
    print(f"   input: {out.notes.get('input')}")
    print(f"   setup repetitions (s): {[round(x, 3) for x in out.e2e['setup_s'].samples]}")
    print("   phases (s): " + ", ".join(f"{k} {v:.2f}" for k, v in out.phases.items()))
    print("   end-to-end:")
    for name, stat in out.e2e.items():
        print(stat.row(name))
    print("   named:")
    for name, stat in out.named.items():
        print(stat.row(name))
    units = per_layer_units()
    if trace:
        print("   per layer (median per run_batch call / per drain / per query pass):")
        for name, unit in units.items():
            if name in out.layers:
                print(f"  {name:<44} {out.layers[name]:>16.4f} {unit}")
        cov = out.layers.get("trace.coverage", 0.0)
        wall = sum(out.coverage.values())
        print(f"   layer spans cover {100 * cov:.1f}% of the timed wall ({wall:.2f} s):")
        for name, sec in sorted(out.coverage.items(), key=lambda kv: -kv[1]):
            print(f"  {name:<44} {sec:>10.3f} s {100 * sec / wall:>6.1f}%")
        for site, sec in sorted(out.uncovered_jobs.items(), key=lambda kv: -kv[1]):
            print(f"     uncovered Spark jobs: {site:<36} {sec:>10.3f} s")
    for p in out.problems:
        print(f"   CHECK FAILED: {p}")
    print("   e2e " + json.dumps({k: s.value for k, s in out.e2e.items()}))

    if trace:
        metrics = {
            k: {"value": float(out.layers.get(k, 0.0)), "unit": u} for k, u in units.items()
        }
    else:
        metrics = {k: {"value": out.e2e[k].value, "unit": u} for k, u in END_TO_END.items()}
    print(
        json.dumps(
            {
                "correct": out.failed == 0 and not out.problems,
                "attempted": out.attempted,
                "failed": out.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def run_all(seed: int, seconds: int) -> int:
    """Every workload, untraced then traced, each in its own process."""
    from perfbench.workloads import WORKLOADS

    summary = []
    for workload in WORKLOADS:
        res = {}
        for trace in (0, 1):
            cmd = [
                sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
            ]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            sys.stdout.write(p.stdout)
            if p.returncode != 0:
                sys.stdout.write(p.stderr[-4000:])
                return p.returncode
            res[trace] = p.stdout.strip().splitlines()
        e2e = [
            json.loads(next(ln for ln in res[t] if ln.startswith("   e2e "))[7:]) for t in (0, 1)
        ]
        summary.append((workload, *e2e))
    print("== tracing overhead (the traced run's end-to-end figures against the untraced run's)")
    for workload, untraced, traced in summary:
        for name in ("rows_per_s", "latency_geomean_ms"):
            base, value = untraced[name], traced[name]
            print(
                f"   {workload:<18} {name:<16} untraced {base:.4f} traced {value:.4f} "
                f"({100 * (value - base) / base:+.1f}%)"
            )
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    p.add_argument(
        "--workload", required=True,
        choices=["batch_backfill", "stream_live", "registry_queries", "all"],
    )
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args(argv)
    if not program_present():
        print(
            "perfbench: the program package fluent_plugin_opensearch_spark is not in "
            f"{ROOT}; run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    if a.workload == "all":
        return run_all(a.seed, a.seconds)
    t0 = time.perf_counter()
    rc = run_one(a.workload, a.seed, a.seconds, bool(a.trace))
    print(f"   run wall {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    return rc


if __name__ == "__main__":
    sys.exit(main())
