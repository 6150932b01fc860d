"""Seeded inputs for every workload.

The same ``(seed, size)`` always yields byte-identical rows; a different
seed yields different rows of the same shape. Nothing here depends on
the machine, the clock or the order files are listed in.

* ``backfill`` / ``live`` transcripts use the text grammar of
  ``sources.transcripts.synthesize_transcripts`` (``[LEVEL] req=... took=
  ...ms synthetic user=...``, ~2% malformed, ~0.5% NULL text, ~1% unknown
  tool, hot-conversation skew), but every choice comes from a seed-salted
  hash of the row id instead of the bare row id. They are built with
  numpy and written with pyarrow, so no Spark job runs before set-up.
* ``registry`` writes ``events`` and ``documents`` parquet with the
  schemas of the ``testdata`` tables the registry queries were written
  for, and the shape measured on the sf0.1 set (``SF01_*`` below;
  ``perfbench/README.md`` lists the measurements).
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: 2024-01-01T00:00:00 in microseconds
BASE_US = 1_704_067_200_000_000
DAY_US = 86_400_000_000
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
#: measured on testdata sf0.1: 100k events of 1500 users (uniform, 66.7
#: each), event types uniform, ``value`` exponential (mean 49.9, median
#: 34.8), ``props`` ``{"k": 0..99}``, ids in time order over 30 days
SF01_EVENTS = 100_000
SF01_EVENTS_PER_USER = 200 / 3
SF01_VALUE_MEAN = 50.0
#: 5000 documents (one per 20 events): 10-99 words drawn from a
#: 30-word vocabulary (uniform, mean 54), 5.0% are a copy of another
#: document plus " dup", 41% en and 14.7% each de/es/fr/zh, ``source``
#: ``src{doc_id % 20}``
SF01_EVENTS_PER_DOC = 20
SF01_DUP_SHARE = 0.05
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()


def _hash(ids: np.ndarray, seed: int, salt: int) -> np.ndarray:
    """splitmix64 of (id, seed, salt): the seed-salted row hash."""
    with np.errstate(over="ignore"):
        z = ids.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)
        z += np.uint64((seed * 0x632BE59BD9B4E019 + salt * 0xD1B54A32D192ED03) & 0xFFFFFFFFFFFFFFFF)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _transcripts(seed: int, n_rows: int, ts_us) -> pa.Table:
    """``n_rows`` turns in ``synthesize_transcripts``' grammar: ``h``
    drives level/tool/role/malformed choices, ``slot`` the weighted
    conversation (1% hot conversations get 100x the turns), ``ts_us``
    maps the ``g`` hash to an event time."""
    n_convs = max(n_rows // 200, 100)
    n_hot = max(1, n_convs // 100)
    hot_share = n_hot * 100
    total = hot_share + (n_convs - n_hot)
    ids = np.arange(n_rows, dtype=np.int64)
    h = _hash(ids, seed, 0)
    g = _hash(ids, seed, 1)
    slot = (_hash(ids, seed, 2) % np.uint64(total)).astype(np.int64)
    conv = np.where(
        slot < hot_share, slot % n_hot, n_hot + (slot - hot_share) % max(n_convs - n_hot, 1)
    )
    hm = lambda k: (h % np.uint64(k)).astype(np.int64)  # noqa: E731
    role = np.array(["user", "assistant", "system", "tool"])[hm(4)]
    level = np.where(
        hm(11) == 0, "ERROR", np.where(hm(7) == 0, "WARN", np.where(hm(3) == 0, "DEBUG", "INFO"))
    )
    req = hm(100_000_000_000)
    took = (g % np.uint64(5000)).astype(np.int64)
    null, bad = hm(211) == 0, hm(50) == 0
    text = [
        None if null[i] else
        f"corrupted payload ##{i}" if bad[i] else
        f"[{level[i]}] req={req[i]:012d} took={took[i]}ms synthetic user={conv[i]}"
        for i in range(n_rows)
    ]
    tool = np.where(
        hm(97) == 0, "frobnicator",
        np.where(hm(5) == 0, "python", np.where(hm(5) == 1, "browser", np.where(hm(5) == 2, "search", ""))),
    )
    return pa.table(
        {
            "conv_id": pa.array([f"conv{c:08d}" for c in conv]),
            "turn_idx": pa.array((ids // total).astype(np.int32)),
            "role": pa.array(role),
            "text": pa.array(text, type=pa.string()),
            "tool": pa.array(tool, mask=tool == ""),
            "ts": pa.array(ts_us(g), type=pa.timestamp("us")),
        }
    )


def _write(path: str, table: pa.Table, files: int) -> str:
    """Write ``files`` parquet files (zstd, like the sessions' writes)
    and a ``_SUCCESS`` marker, atomically by directory rename."""
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(
            table.slice(i * step, step), os.path.join(tmp, f"part-{i:05d}.parquet"),
            compression="zstd",
        )
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    os.replace(tmp, path)
    return path


def backfill(cache: str, seed: int, n_rows: int, days: int = 30, files: int = 8) -> str:
    """Backfill transcripts: ``n_rows`` turns over ``days`` UTC days."""
    path = os.path.join(cache, f"backfill_s{seed}_n{n_rows}_d{days}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        span = np.uint64(days * DAY_US)
        t = _transcripts(seed, n_rows, lambda g: BASE_US + (g % span).astype(np.int64))
        _write(path, t, files)
    return path


def live(cache: str, seed: int, n_files: int, rows_per_file: int) -> str:
    """Live backlog: ``n_files`` parquet files of ``rows_per_file`` turns,
    ~80% on one day and the rest on the next. ``ts`` is written as a
    parquet timestamp not adjusted to UTC, which Spark reads as the
    ``timestamp_ntz`` of ``TRANSCRIPTS_SCHEMA``."""
    path = os.path.join(cache, f"live_s{seed}_f{n_files}_n{rows_per_file}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        day0 = BASE_US + (10 + seed % 15) * DAY_US

        def ts(g):
            second_day = (g % np.uint64(5) == 0).astype(np.int64) * DAY_US
            return day0 + second_day + (g % np.uint64(DAY_US)).astype(np.int64)

        _write(path, _transcripts(seed, n_files * rows_per_file, ts), n_files)
    return path


def registry(cache: str, seed: int, n_events: int = SF01_EVENTS) -> str:
    """``events`` and ``documents`` parquet for the registry queries, in
    the shape measured on the sf0.1 ``testdata`` tables (see
    ``SF01_*``); the default size is sf0.1's own."""
    path = os.path.join(cache, f"registry_s{seed}_n{n_events}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    rng = np.random.default_rng([seed, n_events])
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)

    # events: ids in time order over 30 days, users uniform
    n_users = max(round(n_events / SF01_EVENTS_PER_USER), 1)
    offs = np.sort(rng.integers(0, 30 * DAY_US, n_events))
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(BASE_US + offs, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_events, dtype=np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n_events)),
            "value": pa.array(np.round(rng.exponential(SF01_VALUE_MEAN, n_events), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
        }
    )
    pq.write_table(events, os.path.join(tmp, "events.parquet"))

    # documents: 10-99 vocabulary words; a share are another doc + " dup"
    n_docs = max(n_events // SF01_EVENTS_PER_DOC, 1)
    words = rng.integers(10, 100, n_docs)
    texts = [" ".join(rng.choice(VOCAB, int(w))) for w in words]
    for i in np.flatnonzero(rng.random(n_docs) < SF01_DUP_SHARE):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    pq.write_table(docs, os.path.join(tmp, "documents.parquet"))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    os.replace(tmp, path)
    return path
