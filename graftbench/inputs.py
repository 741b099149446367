"""Seeded input generation.

Table *content* is fixed by ``CONTENT_SEED``; the run seed only
decides row order, where tables are cut into part files, the order
operations run in and the order feed files arrive in. Every oracle
answer is therefore the same under every seed, while the bytes the
engine reads differ.

The program under test receives only the generated directory.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 20261017

#: Row counts of the fixture tables the pipelines workload reads
#: (the engine's sf0.01 sizes).
CUSTOMER_ROWS = 1_500
EMBEDDING_ROWS = 500
EMBED_DIM = 64
#: Rows of the event table cut into the ingest feed (sf0.1 size).
EVENT_ROWS = 100_000
#: Part files per fixture table. Each small file becomes one scan
#: task, so the count stays fixed and only the cut points follow the
#: seed: every seed then runs the same number of tasks.
TABLE_PARTS = 4

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EVENT_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC

#: Column order and Spark schema of the ingest CSV feed.
FEED_COLUMNS = ("event_id", "ts", "user_id", "event_type", "value")
FEED_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
    "event_type STRING, value DOUBLE"
)


def customer_table(n: int = CUSTOMER_ROWS) -> pa.Table:
    """TPC-H-shaped customers. Serial names make one-edit neighbours,
    so entity resolution finds real clusters within nation+segment."""
    rng = np.random.default_rng([CONTENT_SEED, 1])
    keys = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "c_custkey": keys,
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)],
        }
    )


def embeddings_table(n: int = EMBEDDING_ROWS) -> pa.Table:
    """Unit-norm float32 vectors around ten labelled centres."""
    rng = np.random.default_rng([CONTENT_SEED, 2])
    labels = rng.integers(0, 10, n).astype(np.int32)
    centres = rng.normal(size=(10, EMBED_DIM))
    vecs = centres[labels] + 0.6 * rng.normal(size=(n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    offsets = pa.array(np.arange(0, (n + 1) * EMBED_DIM, EMBED_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": labels,
        }
    )


def events_table(n: int = EVENT_ROWS) -> pa.Table:
    """Event stream in event-time order, carrying the engine's
    dirty-events dirt (``queries/_shared.dirty_events``): ``value`` is
    null where ``event_id % 7 == 0`` and ``event_type`` where
    ``event_id % 11 == 0``. Values above 150 fail the range rule."""
    rng = np.random.default_rng([CONTENT_SEED, 3])
    ids = np.arange(n, dtype=np.int64)
    gaps = rng.integers(1, 52_000_000, n)  # µs, ~30 days per 100k rows
    ts = EVENT_EPOCH_US + np.cumsum(gaps)
    value = np.round(rng.gamma(2.0, 40.0, n), 2)
    etype = np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n)]
    return pa.table(
        {
            "event_id": ids,
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, 1_500, n).astype(np.int64),
            "event_type": pa.array(etype, pa.string(), mask=ids % 11 == 0),
            "value": pa.array(value, pa.float64(), mask=ids % 7 == 0),
        }
    )


def _cuts(rng: np.random.Generator, n: int, parts: int) -> list[int]:
    """Slice boundaries cutting ``n`` rows into ``parts`` pieces: even
    cut points each moved by a seeded quarter-piece at most, so piece
    sizes stay within half and one and a half times the mean."""
    step = n / parts
    inner = np.arange(1, parts) * step + rng.uniform(-0.25, 0.25, parts - 1) * step
    return [0, *np.round(inner).astype(int).tolist(), n]


def write_parts(table: pa.Table, dest: Path, rng: np.random.Generator) -> None:
    """Write ``table`` as a seeded row permutation cut at seeded points
    into ``TABLE_PARTS`` part files under the directory ``dest``."""
    dest.mkdir(parents=True)
    rows = table.take(pa.array(rng.permutation(table.num_rows)))
    bounds = _cuts(rng, rows.num_rows, TABLE_PARTS)
    for i, (a, b) in enumerate(zip(bounds, bounds[1:])):
        pq.write_table(rows.slice(a, b - a), dest / f"part-{i:05d}.parquet")


def make_tables(data_dir: Path, seed: int) -> Path:
    """Write the pipelines workload's fixture tables (the engine's
    ``sf_dir`` layout: ``<name>.parquet`` directories)."""
    rng = np.random.default_rng([seed, 10])
    for name, table in (
        ("customer", customer_table()),
        ("embeddings", embeddings_table()),
    ):
        write_parts(table, data_dir / f"{name}.parquet", rng)
    return data_dir


def operation_orders(seed: int, names: list[str], n_passes: int) -> list[list[str]]:
    """Per-pass orders of the workload's operations: rotations of a
    seeded permutation, so any ``len(names)`` consecutive passes run
    every operation once in every position."""
    rng = np.random.default_rng([seed, 11])
    base = [names[i] for i in rng.permutation(len(names))]
    return [base[i % len(base):] + base[: i % len(base)] for i in range(n_passes)]


@dataclass(frozen=True)
class FeedFile:
    """One staged feed file and the rows it carries."""

    name: str
    staged: Path
    rows: int


def _csv_bytes(table: pa.Table) -> bytes:
    """Header + rows; nulls as empty fields, timestamps with µs."""
    ts = table.column("ts").cast(pa.int64()).to_numpy()
    secs, micros = np.divmod(ts, 1_000_000)
    stamps = np.datetime_as_string(secs.astype("datetime64[s]"), unit="s")
    cols = {c: table.column(c).to_pylist() for c in ("event_id", "user_id", "event_type", "value")}
    lines = [",".join(FEED_COLUMNS)]
    for i in range(table.num_rows):
        et = cols["event_type"][i]
        v = cols["value"][i]
        lines.append(
            f"{cols['event_id'][i]},{stamps[i].replace('T', ' ')}.{micros[i]:06d},"
            f"{cols['user_id'][i]},{'' if et is None else et},"
            f"{'' if v is None else repr(v)}"
        )
    return ("\n".join(lines) + "\n").encode()


def make_feed(stage_dir: Path, seed: int, n_files: int) -> list[FeedFile]:
    """Cut the event table into ``n_files`` CSV files at seeded points
    over a seeded row permutation, staged in ``stage_dir`` and
    returned in their seeded arrival order."""
    rng = np.random.default_rng([seed, 12])
    events = events_table()
    rows = events.take(pa.array(rng.permutation(events.num_rows)))
    bounds = _cuts(rng, rows.num_rows, n_files)
    stage_dir.mkdir(parents=True)
    files = []
    for i, (a, b) in enumerate(zip(bounds, bounds[1:])):
        name = f"events-{i:04d}.csv"
        path = stage_dir / name
        path.write_bytes(_csv_bytes(rows.slice(a, b - a)))
        files.append(FeedFile(name, path, b - a))
    return [files[i] for i in rng.permutation(len(files))]


def land(f: FeedFile, landing: Path) -> None:
    """Move a staged file into the watched directory atomically."""
    os.rename(f.staged, landing / f.name)
