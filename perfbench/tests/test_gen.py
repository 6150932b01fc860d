"""Seeded inputs: the same seed gives identical inputs, another seed
different ones of the same shape."""

import os

import pyarrow.parquet as pq
import pytest

from perfbench import gen


def _rows(path):
    files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    tables = [pq.read_table(os.path.join(path, f)) for f in files]
    return sorted((repr(tuple(r.values())) for t in tables for r in t.to_pylist()))


def test_registry_same_seed_same_inputs(tmp_path):
    a = gen.registry(str(tmp_path / "a"), seed=5, n_events=2000)
    b = gen.registry(str(tmp_path / "b"), seed=5, n_events=2000)
    c = gen.registry(str(tmp_path / "c"), seed=6, n_events=2000)
    for t in ("events", "documents"):
        ta = pq.read_table(os.path.join(a, f"{t}.parquet"))
        assert ta.equals(pq.read_table(os.path.join(b, f"{t}.parquet")))
        tc = pq.read_table(os.path.join(c, f"{t}.parquet"))
        assert ta.schema == tc.schema and not ta.equals(tc)


def test_registry_shape_follows_sf01(tmp_path):
    """Users, documents and planted near-duplicates scale with the
    events as measured on sf0.1."""
    path = gen.registry(str(tmp_path), seed=1, n_events=20_000)
    events = pq.read_table(os.path.join(path, "events.parquet"))
    docs = pq.read_table(os.path.join(path, "documents.parquet")).to_pydict()
    assert len(set(events["user_id"].to_pylist())) == 300
    assert len(docs["doc_id"]) == 1000
    dups = sum(t.endswith(" dup") for t in docs["text"])
    assert 20 < dups < 80
    assert docs["source"][:21] == [f"src{i % 20}" for i in range(21)]


def test_transcripts_same_seed_same_inputs(tmp_path):
    a = gen.backfill(str(tmp_path / "a"), seed=3, n_rows=3000, files=2)
    b = gen.backfill(str(tmp_path / "b"), seed=3, n_rows=3000, files=2)
    c = gen.backfill(str(tmp_path / "c"), seed=4, n_rows=3000, files=2)
    ra, rb, rc = _rows(a), _rows(b), _rows(c)
    assert len(ra) == 3000 and ra == rb
    assert len(rc) == 3000 and ra != rc
    la = _rows(gen.live(str(tmp_path / "a"), seed=3, n_files=2, rows_per_file=500))
    lb = _rows(gen.live(str(tmp_path / "b"), seed=3, n_files=2, rows_per_file=500))
    lc = _rows(gen.live(str(tmp_path / "c"), seed=4, n_files=2, rows_per_file=500))
    assert la == lb and la != lc


@pytest.fixture(scope="module")
def spark():
    from fluent_plugin_opensearch_spark.session import get_spark

    s = get_spark(2, app_name="perfbench-tests", extra_conf={"spark.driver.memory": "1g"})
    yield s
    s.stop()


def test_transcript_grammar_and_stream_schema(spark, tmp_path):
    """Spark reads the pyarrow-written backlog with the stream's schema
    (``ts`` as timestamp_ntz) and the text grammar keeps its rates."""
    from fluent_plugin_opensearch_spark.streaming.stream import TRANSCRIPTS_SCHEMA

    path = gen.live(str(tmp_path), seed=9, n_files=2, rows_per_file=5000)
    df = spark.read.parquet(path)
    assert df.schema == TRANSCRIPTS_SCHEMA
    r = df.selectExpr(
        "avg(cast(text IS NULL AS int)) AS null_text",
        "avg(cast(text LIKE 'corrupted payload ##%' AS int)) AS malformed",
        "avg(cast(tool = 'frobnicator' AS int)) AS unknown_tool",
        "count(DISTINCT to_date(ts)) AS days",
    ).first()
    assert 0.002 < r.null_text < 0.01
    assert 0.01 < r.malformed < 0.03
    assert 0.005 < r.unknown_tool < 0.02
    assert 1 <= r.days <= 2
