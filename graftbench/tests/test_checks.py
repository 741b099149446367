"""Checkpoint-log mapping, table-root hygiene and the tail rule."""

import json

import pytest

from graftbench import harness
from graftbench.ingest import batch_files


def write_log(path, entries):
    path.write_text("v1\n" + "".join(json.dumps(e) + "\n" for e in entries))


def test_batch_files_reads_plain_and_compacted_logs(tmp_path):
    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)
    entry = lambda name, b: {"path": f"file:///feed/{name}", "timestamp": 1, "batchId": b}  # noqa: E731
    write_log(log / "9.compact", [entry("a.csv", 0), entry("b.csv", 9)])
    write_log(log / "10", [entry("c.csv", 10)])
    (log / ".10.crc").write_text("x")
    assert batch_files(tmp_path) == {"a.csv": 0, "b.csv": 9, "c.csv": 10}


def test_batch_files_without_log_is_empty(tmp_path):
    assert batch_files(tmp_path) == {}


def test_clean_table_root_passes(tmp_path):
    part = tmp_path / "t" / "batch=3"
    part.mkdir(parents=True)
    (part / "part-00000-x.c000.snappy.parquet").write_text("")
    (part / ".part-00000-x.c000.snappy.parquet.crc").write_text("")
    (tmp_path / "t" / "_SUCCESS").write_text("")
    (tmp_path / "t" / "_temporary").mkdir()
    (tmp_path / "t" / "_temporary" / "junk").write_text("")
    assert harness.check_table_root(tmp_path / "t", ".parquet") == []


def test_foreign_files_in_table_root_are_reported(tmp_path):
    root = tmp_path / "t"
    (root / "day").mkdir(parents=True)
    (root / "day=1.__write_lock.judge").write_text("")
    assert sorted(harness.check_table_root(root, ".parquet")) == [
        "foreign directory day",
        "foreign file day=1.__write_lock.judge",
    ]
    assert harness.check_table_root(tmp_path / "missing", ".parquet") != []


def test_tail_keeps_ten_samples_beyond():
    pct, value = harness.tail([float(i) for i in range(1, 31)])
    assert (pct, value) == (pytest.approx(100 * 20 / 30), 20.0)
    with pytest.raises(ValueError):
        harness.tail([1.0] * 10)
