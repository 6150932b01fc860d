"""The three workloads. Each returns an ``Outcome``: end-to-end stats,
the further named stats of the printed table, per-layer figures (traced
runs), and the operations attempted and failed.

All three are closed loops driven by one caller thread: a batch starts
when the previous ``run_batch`` returned, the stream drains a fixed
backlog one file per micro-batch, and queries run one after another.
"""

from __future__ import annotations

import contextlib
import glob
import os
import random
import shutil
import time
from dataclasses import dataclass, field
from datetime import datetime

from . import gen
from .harness import CACHE_DIR, WORK_ROOT, Run, Stat, geomean, median, tail

#: turns per backfill batch (8 files over 30 days)
BATCH_ROWS = 100_000
#: timed run_batch calls at least, even when --seconds is shorter
BATCH_MIN_OPS = 3
#: live backlog: files (one per micro-batch) and turns per file
LIVE_FILES = 3
LIVE_ROWS_PER_FILE = 10_000
#: compaction after the last micro-batch of each drain (batch id 2)
COMPACT_EVERY = 2
#: timed drains at least, even when --seconds is shorter: the first
#: drain still runs slower code paths, the median of three is warm
DRAIN_MIN_OPS = 3
SETUP_REPS = 3
#: turns of the one-file, one-day warm-up input of both pipeline workloads
WARM_ROWS = 2_000
#: the share of a traced run's timed wall the layer spans must cover
MIN_COVERAGE = 0.9

#: registry queries timed, one per operator family: sessions,
#: MinHash/winnow pair aggregation (a carried performance item) and BM25
#: search; each has a DuckDB oracle. Each query costs ~1.5 s of fixed
#: overhead whatever its input size, so a pass takes ~6-7 s on 4 cores.
#: ``dedup_clusters`` is left out: its oracle (a recursive CTE) takes
#: ~13 s per run at this size.
QUERY_SET = ["session_stats", "winnow_pairs_md5", "bm25_topk"]
#: timed passes over the set at least, even when --seconds is shorter;
#: the first runs each query's first-time codegen, the median over three
#: is a warm pass (a fourth pass left the spread between runs as it was)
QUERY_MIN_PASSES = 3
#: input rows of one registry pass: sf0.1's events and documents
REGISTRY_ROWS = gen.SF01_EVENTS + gen.SF01_EVENTS // gen.SF01_EVENTS_PER_DOC


@dataclass
class Outcome:
    e2e: dict[str, Stat] = field(default_factory=dict)
    named: dict[str, Stat] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    notes: dict = field(default_factory=dict)
    #: wall of each phase of the run, in order
    phases: dict[str, float] = field(default_factory=dict)
    #: traced runs: seconds of the timed wall per layer, and the
    #: uncovered remainder's Spark jobs by call site
    coverage: dict[str, float] = field(default_factory=dict)
    uncovered_jobs: dict[str, float] = field(default_factory=dict)
    _t: float = field(default_factory=time.perf_counter)

    def lap(self, phase: str) -> None:
        now = time.perf_counter()
        self.phases[phase] = now - self._t
        self._t = now

    def check_coverage(self, share: float, per_layer: dict[str, float], jobs=None) -> None:
        """Record the layer spans' coverage of the timed wall; below
        ``MIN_COVERAGE`` the traced run is not correct."""
        self.layers["trace.coverage"] = share
        self.coverage = per_layer
        self.uncovered_jobs = jobs or {}
        if share < MIN_COVERAGE:
            self.problems.append(
                f"layer spans cover {100 * share:.1f}% of the timed wall, "
                f"below {100 * MIN_COVERAGE:.0f}%"
            )


def pipeline_config():
    """The ``PipelineConfig`` ``jobs/run_pipeline.py`` builds from its
    defaults (logstash ``logs-YYYY.MM.DD``, index op, no salt,
    ``sink_partitions=0``)."""
    from fluent_plugin_opensearch_spark import PipelineConfig
    from jobs.run_pipeline import parse_args

    a = parse_args(["--input", "-", "--warehouse", "-"])
    return PipelineConfig(
        logstash_format=not a.no_logstash,
        logstash_prefix=a.logstash_prefix,
        index_name=a.index_name,
        target_index_key=a.target_index_key,
        id_key=a.id_key,
        write_operation=a.write_operation,
        target_index_affinity=a.target_index_affinity,
        retry_tag=a.retry_tag,
        salt_buckets=a.salt_buckets,
        sink_partitions=a.sink_partitions,
    )


def check_parquet(path: str, rows: int) -> None:
    """Input-cache check: the set is complete and holds ``rows`` rows
    (parquet footers only)."""
    import pyarrow.parquet as pq

    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        raise RuntimeError(f"input {path} is incomplete")
    n = sum(pq.read_metadata(f).num_rows for f in glob.glob(os.path.join(path, "*.parquet")))
    if n != rows:
        raise RuntimeError(f"input {path} has {n} rows, expected {rows}")
    os.utime(path)


def setup(run: Run, check, warm_up) -> list[float]:
    """Set up ``SETUP_REPS`` times: (re)start the session, check the
    input cache, run the warm-up. The first repetition launches the JVM;
    the last session is the measured one (with the event log on in
    traced runs)."""
    walls = []
    for i in range(SETUP_REPS):
        t0 = time.perf_counter()
        spark = run.start_session(event_log=run.traced and i == SETUP_REPS - 1)
        check()
        warm_up(spark)
        walls.append(time.perf_counter() - t0)
    return walls


def catalog_stats(base: str) -> dict[str, float]:
    files = size = manifests = versions = 0
    for table in ("sink", "dlq"):
        root = os.path.join(base, table)
        if not os.path.isdir(root):
            continue
        m = os.path.join(root, "_manifest.json")
        manifests += os.path.getsize(m) if os.path.exists(m) else 0
        versions += sum(d.startswith("v_") for d in os.listdir(root))
        for f in glob.glob(os.path.join(root, "v_*", "*", "*.parquet")):
            files += 1
            size += os.path.getsize(f)
    return {
        "sinks.files_written": files,
        "sinks.bytes_written": size,
        "sinks.manifest_bytes": manifests,
        "sinks.version_dirs_live": versions,
    }


def oracle_per_sink(path: str) -> dict[str, int]:
    """DuckDB count of routed rows per logstash index over the generated
    parquet, from the registry's own SQL fragments."""
    import duckdb

    from fluent_plugin_opensearch_spark.plans.queries import SQL_LOGSTASH_INDEX, SQL_PARSED

    con = duckdb.connect()
    try:
        rows = con.sql(
            f"WITH transcripts AS (SELECT * FROM read_parquet('{path}/*.parquet'))\n"
            f"SELECT {SQL_LOGSTASH_INDEX} AS _index, count(*) FROM transcripts "
            f"WHERE {SQL_PARSED} GROUP BY 1"
        ).fetchall()
    finally:
        con.close()
    return {k: int(v) for k, v in rows}


def read_back(spark, catalog) -> tuple[dict[str, int], int]:
    sink = {r[0]: int(r[1]) for r in catalog.read(spark, "sink").groupBy("_index").count().collect()}
    dlq = catalog.read(spark, "dlq").count() if catalog.exists("dlq") else 0
    return sink, int(dlq)


def _finish_trace(run: Run, tracer):
    """Stop the measured session and join spans with its event log."""
    from .eventlog import find_log, parse
    from .layers import Trace

    tracer.uninstall()
    run.stop_session()
    log = find_log(run.path("eventlog"))
    # keep the latest traced run of each workload for inspection
    keep = os.path.join(WORK_ROOT, f"trace-{run.workload}")
    shutil.rmtree(keep, ignore_errors=True)
    os.makedirs(keep)
    shutil.copy(log, os.path.join(keep, "eventlog.json"))
    tracer.dump(os.path.join(keep, "spans.jsonl"))
    return Trace(tracer.spans, parse(log))


def _tracer(run: Run):
    from .trace import Tracer

    t = Tracer(run.spark, f"{run.workload}-s{run.seed}")
    t.install()
    return t


def _span(tracer, name: str, **attrs):
    """A tracer span, or nothing in an untraced run (yields None)."""
    return tracer.span(name, **attrs) if tracer else contextlib.nullcontext()


# --- batch_backfill ---------------------------------------------------------


def batch_backfill(run: Run, seconds: float) -> Outcome:
    from fluent_plugin_opensearch_spark import SinkCatalog, run_batch

    out = Outcome()
    cfg = pipeline_config()
    path = gen.backfill(CACHE_DIR, run.seed, BATCH_ROWS)
    warm = gen.backfill(CACHE_DIR, run.seed, WARM_ROWS, days=1, files=1)
    out.lap("generate")

    def check():
        check_parquet(path, BATCH_ROWS)
        check_parquet(warm, WARM_ROWS)

    setup_walls = setup(
        run, check,
        lambda s: run_batch(s, s.read.parquet(warm), cfg, SinkCatalog(run.fresh("warm"))),
    )
    out.lap("setup")
    spark = run.spark
    tracer = _tracer(run) if run.traced else None

    ops = []  # (catalog, metrics or None, wall, span)
    start = time.perf_counter()
    while len(ops) < BATCH_MIN_OPS or time.perf_counter() - start < seconds:
        cat = SinkCatalog(run.fresh("cat"))
        span = None
        t0 = time.perf_counter()
        try:
            with _span(tracer, "batch") as span:
                with _span(tracer, "sources.read"):
                    df = spark.read.parquet(path)
                m = run_batch(spark, df, cfg, cat, batch_id=f"b{len(ops)}")
        except Exception as e:  # noqa: BLE001 — a failed batch is counted, not fatal
            out.problems.append(f"batch {len(ops)}: {type(e).__name__}: {e}")
            m = None
        ops.append((cat, m, time.perf_counter() - t0, span))
    out.notes["peak_rss_mb"] = out.layers["peak_rss_mb"] = run.peak_rss_mb()
    out.lap("measure")

    # checks, outside the timed window
    expect = oracle_per_sink(path)
    for i, (cat, m, _, _) in enumerate(ops):
        if m is None:
            out.failed += 1
            continue
        per_sink = {r["_index"]: int(r["routed_rows"]) for r in m["per_sink"]}
        sink, dlq = read_back(spark, cat)
        bad = []
        if m["routed_rows"] + m["dlq_rows"] != BATCH_ROWS:
            bad.append(f"routed {m['routed_rows']} + dlq {m['dlq_rows']} != {BATCH_ROWS} input rows")
        if per_sink != sink:
            bad.append("per-sink counts differ from the catalog read-back")
        if per_sink != expect:
            bad.append("per-sink counts differ from the DuckDB count")
        if dlq != m["dlq_rows"]:
            bad.append(f"dlq read-back {dlq} != {m['dlq_rows']}")
        if bad:
            out.failed += 1
            out.problems.extend(f"batch {i}: {b}" for b in bad)
    out.attempted = len(ops)

    out.lap("check")
    walls = [w for _, m, w, _ in ops if m is not None] or [w for _, _, w, _ in ops]
    rates = [BATCH_ROWS / w for w in walls]
    ms = [w * 1000 for w in walls]
    out.e2e = {
        "setup_s": Stat("s", setup_walls),
        "rows_per_s": Stat("rows/s", rates),
        "latency_geomean_ms": Stat("ms", ms, value=geomean(ms)),
    }
    out.named = {
        "turns_per_s": Stat("turns/s", rates),
        "setup_s": out.e2e["setup_s"],
        "peak_rss_mb": Stat("MB", [out.notes["peak_rss_mb"]]),
        "failed_frac": Stat("ratio", [out.failed / out.attempted]),
    }
    out.notes["input"] = f"{BATCH_ROWS} turns, 30 days, 8 files"

    if tracer:
        from .layers import coverage, job_counts, pipeline_op, uncovered_jobs

        tr = _finish_trace(run, tracer)
        per_op = []
        for cat, m, _, span in ops:
            figures = pipeline_op(tr, span)
            figures.update(catalog_stats(cat.base_dir))
            rows = (m["routed_rows"] + m["dlq_rows"]) if m else 0
            figures["sinks.rows_per_file"] = rows / max(figures["sinks.files_written"], 1)
            n_jobs, n_stages, n_tasks = job_counts(tr, tr.jobs(tr.under(span.id)))
            figures["plans.jobs_per_batch"] = n_jobs
            figures["plans.stages_per_batch"] = n_stages
            figures["plans.tasks_per_batch"] = n_tasks
            per_op.append(figures)
        out.layers.update({k: median([f[k] for f in per_op]) for k in per_op[0]})
        spans = [span for _, _, _, span in ops]
        out.check_coverage(*coverage(tr, spans), uncovered_jobs(tr, spans))
        out.lap("trace")
    return out


# --- stream_live ------------------------------------------------------------


def _progress_ms(p) -> tuple[int, int]:
    start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp() * 1000
    return int(start), int(start + p.durationMs.get("triggerExecution", 0))


def stream_live(run: Run, seconds: float) -> Outcome:
    from fluent_plugin_opensearch_spark import SinkCatalog
    from fluent_plugin_opensearch_spark.streaming.stream import (
        TRANSCRIPTS_SCHEMA,
        start_pipeline_stream,
    )

    out = Outcome()
    cfg = pipeline_config()
    total = LIVE_FILES * LIVE_ROWS_PER_FILE
    path = gen.live(CACHE_DIR, run.seed, LIVE_FILES, LIVE_ROWS_PER_FILE)
    warm = gen.live(CACHE_DIR, run.seed, 1, WARM_ROWS)
    out.lap("generate")

    def drain(spark, src_path: str):
        cat = SinkCatalog(run.fresh("scat"))
        src = (
            spark.readStream.schema(TRANSCRIPTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_path)
        )
        q = start_pipeline_stream(
            spark, src, cfg, cat, os.path.join(cat.base_dir, "_checkpoints"),
            available_now=True, compact_every=COMPACT_EVERY,
        )
        q.awaitTermination()
        return q, cat

    def check():
        check_parquet(path, total)
        check_parquet(warm, WARM_ROWS)

    setup_walls = setup(run, check, lambda s: drain(s, warm))
    out.lap("setup")
    spark = run.spark
    tracer = _tracer(run) if run.traced else None

    ops = []  # (query, catalog, wall, span); query None when the drain failed
    start = time.perf_counter()
    while len(ops) < DRAIN_MIN_OPS or time.perf_counter() - start < seconds:
        q = cat = span = None
        t0 = time.perf_counter()
        try:
            with _span(tracer, "drain") as span:
                if span is not None:
                    tracer.root = span.id
                q, cat = drain(spark, path)
        except Exception as e:  # noqa: BLE001 — a failed drain is counted, not fatal
            out.problems.append(f"drain {len(ops)}: {type(e).__name__}: {e}")
        finally:
            if tracer:
                tracer.root = None
        ops.append((q, cat, time.perf_counter() - t0, span))
    out.notes["peak_rss_mb"] = out.layers["peak_rss_mb"] = run.peak_rss_mb()
    out.lap("measure")

    # checks, outside the timed window
    expect = oracle_per_sink(path)
    busy_of = {}
    for i, (q, cat, _, _) in enumerate(ops):
        out.attempted += LIVE_FILES
        if q is None:
            out.failed += LIVE_FILES
            continue
        busy = busy_of[i] = [p for p in q.recentProgress if p.numInputRows > 0]
        drained = sum(p.numInputRows for p in busy)
        bad = []
        sink, dlq = read_back(spark, cat)
        committed = q._pipeline_metrics
        ids = [m["batch_id"] for m in committed]
        per_sink: dict[str, int] = {}
        for m in committed:
            for k, v in m["per_sink"].items():
                per_sink[k] = per_sink.get(k, 0) + int(v)
        if drained != total:
            bad.append(f"drained {drained} rows, backlog holds {total}")
        if sum(sink.values()) + dlq != drained:
            bad.append(f"sink {sum(sink.values())} + dlq {dlq} != drained {drained}")
        if len(ids) != len(set(ids)) or len(ids) != len(busy):
            bad.append(f"micro-batch commits {sorted(ids)} for {len(busy)} non-empty batches")
        if per_sink != sink:
            bad.append("per-sink counts of the micro-batches differ from the read-back")
        if sink != expect:
            bad.append("sink read-back differs from the DuckDB count")
        out.failed += min(len(bad), LIVE_FILES)
        out.problems.extend(f"drain {i}: {b}" for b in bad)

    out.lap("check")
    drained = [i for i in busy_of if busy_of[i]]
    rates = [total / ops[i][2] for i in drained] or [0.0]
    trig = [p.durationMs["triggerExecution"] for i in drained for p in busy_of[i]] or [0.0]
    geo = [geomean([p.durationMs["triggerExecution"] for p in busy_of[i]]) for i in drained]
    tail_ms, tail_note = tail(trig)
    out.e2e = {
        "setup_s": Stat("s", setup_walls),
        "rows_per_s": Stat("rows/s", rates),
        "latency_geomean_ms": Stat("ms", geo or [0.0]),
    }
    out.named = {
        "turns_per_s": Stat("turns/s", rates),
        "microbatch_p50_ms": Stat("ms", trig),
        "microbatch_tail_ms": Stat("ms", trig, tail_note, value=tail_ms),
        "setup_s": out.e2e["setup_s"],
        "peak_rss_mb": Stat("MB", [out.notes["peak_rss_mb"]]),
        "failed_frac": Stat("ratio", [out.failed / out.attempted]),
    }
    out.notes["input"] = (
        f"{LIVE_FILES} files x {LIVE_ROWS_PER_FILE} turns, 1-2 days, "
        f"compact_every={COMPACT_EVERY}; {len(ops)} drains"
    )
    out.layers["microbatch_tail_ms"] = tail_ms

    if tracer and busy_of:
        from .layers import coverage, job_counts, pipeline_op, uncovered_jobs

        tr = _finish_trace(run, tracer)
        per_op = []
        engine_s = self_s = 0.0
        for i, busy in busy_of.items():
            _, cat, _, span = ops[i]
            figures = pipeline_op(tr, span)
            figures.update(catalog_stats(cat.base_dir))
            figures["sinks.rows_per_file"] = total / max(figures["sinks.files_written"], 1)
            jobs = tr.jobs(tr.under(span.id))
            callback = tr.children[span.id]
            per_batch, self_ms = [], []
            for p in busy:
                lo, hi = _progress_ms(p)
                in_batch = [j for j in jobs if lo <= j.submit_ms <= hi]
                per_batch.append(job_counts(tr, in_batch))
                inner = sum(
                    (s.end - s.start) * 1000 for s in callback if lo <= s.start * 1000 <= hi
                )
                self_ms.append(p.durationMs.get("addBatch", 0) - inner)
            engine_s += sum(
                p.durationMs.get("triggerExecution", 0) - p.durationMs.get("addBatch", 0)
                for p in ops[i][0].recentProgress
            ) / 1000
            self_s += sum(self_ms) / 1000
            figures["plans.jobs_per_batch"] = median([c[0] for c in per_batch])
            figures["plans.stages_per_batch"] = median([c[1] for c in per_batch])
            figures["plans.tasks_per_batch"] = median([c[2] for c in per_batch])
            figures["streaming.batches"] = len(busy)
            for k in ("addBatch", "latestOffset", "walCommit", "commitOffsets", "queryPlanning"):
                figures[f"streaming.{k}_ms"] = median([p.durationMs.get(k, 0) for p in busy])
            figures["streaming.process_self_ms"] = median(self_ms)
            per_op.append(figures)
        out.layers.update({k: median([f[k] for f in per_op]) for k in per_op[0]})
        # the streaming layer: Spark's micro-batch phases outside addBatch,
        # and the foreachBatch body of streaming.stream outside layer calls
        spans = [ops[i][3] for i in busy_of]
        extra = {"streaming.engine": engine_s, "streaming.process_self": self_s}
        out.check_coverage(*coverage(tr, spans, extra), uncovered_jobs(tr, spans))
        out.lap("trace")
    return out


# --- registry_queries -------------------------------------------------------


def registry_queries(run: Run, seconds: float) -> Outcome:
    from fluent_plugin_opensearch_spark.plans.queries import ORACLES, QUERIES

    out = Outcome()
    data = gen.registry(CACHE_DIR, run.seed)
    out.lap("generate")

    def check():
        check_parquet_file(os.path.join(data, "events.parquet"), gen.SF01_EVENTS)

    setup_walls = setup(
        run, check, lambda s: QUERIES["route_logstash_counts"](s, data).toArrow()
    )
    out.lap("setup")
    spark = run.spark
    tracer = _tracer(run) if run.traced else None
    order = list(QUERY_SET)
    random.Random(run.seed).shuffle(order)
    jsc = spark.sparkContext._jsc

    passes = []  # per pass: {name: wall}
    pass_spans = []
    results: dict = {}
    errors: dict[str, str] = {}
    plan_s = persisted = 0.0
    start = time.perf_counter()
    while len(passes) < QUERY_MIN_PASSES or time.perf_counter() - start < seconds:
        walls = {}
        with _span(tracer, "pass") as pass_span:
            for name in order:
                t0 = time.perf_counter()
                try:
                    with _span(tracer, f"queries.{name}"):
                        df = QUERIES[name](spark, data)
                        table = df.toArrow()
                except Exception as e:  # noqa: BLE001 — a failed query is counted, not fatal
                    errors.setdefault(name, f"{type(e).__name__}: {str(e)[:300]}")
                    table = None
                walls[name] = time.perf_counter() - t0
                if tracer and table is not None:
                    phases = df._jdf.queryExecution().tracker().phases()
                    for k in ("analysis", "optimization", "planning"):
                        o = phases.get(k)
                        plan_s += o.get().durationMs() / 1000 if o.isDefined() else 0
                    persisted += jsc.getPersistentRDDs().size()
                spark.catalog.clearCache()
                if not passes:
                    results[name] = table
        passes.append(walls)
        pass_spans.append(pass_span)
    out.notes["peak_rss_mb"] = out.layers["peak_rss_mb"] = run.peak_rss_mb()
    out.lap("measure")

    # checks, outside the timed window
    mismatched = oracle_mismatches(data, results, ORACLES)
    for name, err in sorted(errors.items()):
        out.problems.append(f"{name}: {err}")
    for name, why in sorted(mismatched.items()):
        out.problems.append(f"{name}: {why}")
    out.attempted = len(order) * len(passes)
    out.failed = sum(n in errors for p in passes for n in p) + len(set(mismatched) - set(errors))

    out.lap("check")
    set_s = [sum(p.values()) for p in passes]
    geo = [geomean(list(p.values())) for p in passes]
    out.e2e = {
        "setup_s": Stat("s", setup_walls),
        "rows_per_s": Stat("rows/s", [REGISTRY_ROWS / s for s in set_s]),
        "latency_geomean_ms": Stat("ms", [g * 1000 for g in geo]),
    }
    out.named = {
        "query_set_s": Stat("s", set_s),
        "query_geomean_s": Stat("s", geo),
        "setup_s": out.e2e["setup_s"],
        "peak_rss_mb": Stat("MB", [out.notes["peak_rss_mb"]]),
        "failed_frac": Stat("ratio", [out.failed / out.attempted]),
    }
    out.notes["input"] = (
        f"events {gen.SF01_EVENTS}, documents {gen.SF01_EVENTS // gen.SF01_EVENTS_PER_DOC}; "
        f"{len(order)} queries x {len(passes)} passes, oracles {sum(n in ORACLES for n in order)}"
    )

    if tracer:
        from .layers import coverage, query_pass, uncovered_jobs

        tr = _finish_trace(run, tracer)
        per_pass = [query_pass(tr, tr.children[s.id]) for s in pass_spans]
        figures = {k: median([f[k] for f in per_pass]) for k in per_pass[0]}
        figures["queries.plan_s"] = plan_s / len(passes)
        figures["queries.persisted_rdds_left"] = persisted / len(passes)
        for name in order:
            figures[f"queries.{name}_s"] = median([p[name] for p in passes])
        out.layers.update(figures)
        out.check_coverage(*coverage(tr, pass_spans), uncovered_jobs(tr, pass_spans))
        out.lap("trace")
    return out


def check_parquet_file(path: str, rows: int) -> None:
    import pyarrow.parquet as pq

    n = pq.read_metadata(path).num_rows
    if n != rows:
        raise RuntimeError(f"input {path} has {n} rows, expected {rows}")
    os.utime(os.path.dirname(path))


def _canon(df):
    """Order-insensitive canonical form of a result frame (the rules of
    ``tools/check_oracles.py``: sorted columns and rows, floats to 6
    places, ints nullable, everything else as text)."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        kind = str(df[c].dtype)
        if df[c].dtype == object or "datetime" in kind or kind == "bool":
            df[c] = df[c].astype(str)
        elif kind.startswith(("float", "Float")):
            df[c] = df[c].round(6)
        elif "int" in kind.lower():
            df[c] = df[c].astype("Int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def oracle_mismatches(data: str, results: dict, oracles: dict) -> dict[str, str]:
    """Compare each query result with its DuckDB oracle."""
    import duckdb

    bad: dict[str, str] = {}
    con = duckdb.connect()
    try:
        for t in ("events", "documents"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        for name, table in results.items():
            if table is None or name not in oracles:
                continue
            a = _canon(table.to_pandas())
            b = _canon(con.sql(oracles[name]).df())
            if list(a.columns) != list(b.columns):
                bad[name] = f"columns {list(a.columns)} vs oracle {list(b.columns)}"
            elif len(a) != len(b):
                bad[name] = f"{len(a)} rows vs oracle {len(b)}"
            elif not a.equals(b):
                bad[name] = "values differ from the oracle"
    finally:
        con.close()
    return bad


WORKLOADS = {
    "batch_backfill": batch_backfill,
    "stream_live": stream_live,
    "registry_queries": registry_queries,
}
