"""Benchmark of the transcript pipeline: batch backfill, live micro-batch
stream and registry queries, with per-layer numbers from Spark's event
log. Run ``python3 perfbench/run.py --help``."""
