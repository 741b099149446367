"""Unit tests for the table write lock (one kernel ``flock`` on a
hidden sibling lockfile; engine-level sweep in
scripts/axis_concurrent.py)."""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import threading
import time

import pytest

from etl_jobs_spark.sources.write_lock import (
    ConcurrentWriteError,
    _lock_path,
    acquire_table_lock,
    release_table_lock,
    table_write_lock,
)
from tests.conftest import REPO, assert_table_root_clean


def test_exclusive_and_released(tmp_path):
    root = tmp_path / "tbl"
    with table_write_lock(root):
        assert _lock_path(root).exists()
        with pytest.raises(ConcurrentWriteError):
            acquire_table_lock(root, timeout_sec=0.2)
    # the lockfile persists (never unlinked) and no longer blocks
    assert _lock_path(root).exists()
    with table_write_lock(root, timeout_sec=0.2):
        pass


def test_waiter_proceeds_after_holder_releases(tmp_path):
    root = tmp_path / "tbl"
    fd = acquire_table_lock(root)
    got = []

    def waiter():
        with table_write_lock(root, timeout_sec=5.0):
            got.append(time.monotonic())

    t = threading.Thread(target=waiter)
    t.start()
    time.sleep(0.3)
    released_at = time.monotonic()
    release_table_lock(root, fd)
    t.join(timeout=5)
    assert got and got[0] >= released_at


def test_stale_lock_broken(tmp_path):
    """A lockfile left on disk, however old and whatever it holds,
    is not a lock: only a live ``flock`` blocks."""
    root = tmp_path / "tbl"
    lock = _lock_path(root)
    lock.write_text("left over by an earlier writer")
    old = time.time() - 7200
    os.utime(lock, (old, old))
    with table_write_lock(root, timeout_sec=0.2):
        pass


def test_lock_is_sibling_not_child(tmp_path):
    # overwrite mode deletes the root's contents — the lock must
    # survive that, so it lives NEXT TO the root, hidden from Spark
    p = _lock_path(tmp_path / "tbl")
    assert p.parent == tmp_path and p.name == ".tbl.__write_lock"


def test_uri_and_object_store_paths(tmp_path):
    assert _lock_path((tmp_path / "t").as_uri()) == _lock_path(tmp_path / "t")
    assert _lock_path("s3a://bucket/table") is None
    # non-posix store: lock degrades to a documented no-op
    with table_write_lock("s3a://bucket/table"):
        pass


def test_release_spares_anothers_fresh_lock(tmp_path):
    """Release unlocks only its own fd and never unlinks the file: a
    waiter that opened the lockfile before the release then holds
    the one inode every later acquirer contends on."""
    root = tmp_path / "tbl"
    fd = acquire_table_lock(root)
    inode = _lock_path(root).stat().st_ino
    holding, done = threading.Event(), threading.Event()

    def waiter():
        with table_write_lock(root, timeout_sec=5.0):
            holding.set()
            done.wait(5)

    t = threading.Thread(target=waiter)
    t.start()
    time.sleep(0.2)  # the waiter has opened the lockfile and polls
    release_table_lock(root, fd)
    assert holding.wait(5)
    assert _lock_path(root).stat().st_ino == inode
    with pytest.raises(ConcurrentWriteError):
        acquire_table_lock(root, timeout_sec=0.2)
    done.set()
    t.join(timeout=5)


def test_concurrent_acquirers_exactly_one_holds(tmp_path):
    """Eight threads contend for one lock: every one acquires, and no
    two ever hold it at once (flock locks belong to the open file
    description, so threads of one process exclude each other)."""
    root = tmp_path / "tbl"
    holders = []
    guard = threading.Semaphore(1)

    def contender(i):
        with table_write_lock(root, timeout_sec=20.0):
            ok = guard.acquire(blocking=False)
            holders.append((i, ok))
            time.sleep(0.01)
            if ok:
                guard.release()

    ts = [threading.Thread(target=contender, args=(i,)) for i in range(8)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert len(holders) == 8
    assert all(ok for _, ok in holders), "two contenders held at once"


def _holder_process(root) -> subprocess.Popen:
    """A separate process that takes ``root``'s lock and sleeps."""
    child = subprocess.Popen(
        [
            sys.executable,
            "-c",
            "import sys, time\n"
            f"sys.path.insert(0, {str(REPO)!r})\n"
            "from etl_jobs_spark.sources.write_lock import acquire_table_lock\n"
            f"acquire_table_lock({str(root)!r})\n"
            "print('HELD', flush=True)\n"
            "time.sleep(60)\n",
        ],
        stdout=subprocess.PIPE,
        text=True,
    )
    assert child.stdout.readline().strip() == "HELD"
    return child


def test_live_holder_in_other_process_blocks(tmp_path):
    root = tmp_path / "tbl"
    child = _holder_process(root)
    try:
        t0 = time.monotonic()
        with pytest.raises(ConcurrentWriteError):
            acquire_table_lock(root, timeout_sec=0.3)
        assert time.monotonic() - t0 >= 0.3
    finally:
        child.kill()
        child.wait()


def test_dead_pid_lock_broken_immediately(tmp_path):
    """A holder SIGKILLed mid-write frees the lock with its fd: the
    next acquire succeeds at once, with no staleness wait."""
    root = tmp_path / "tbl"
    child = _holder_process(root)
    child.send_signal(signal.SIGKILL)
    child.wait()
    t0 = time.monotonic()
    fd = acquire_table_lock(root, timeout_sec=5.0)
    assert time.monotonic() - t0 < 1.0
    release_table_lock(root, fd)


def test_locked_sink_parquet_serializes_two_appenders(spark, tmp_path):
    """Two concurrent appends through the locked sink land BOTH
    writers' rows exactly — the r13 torn-append hazard closed."""
    from pyspark.sql import functions as F

    from etl_jobs_spark.sources import writers

    root = str(tmp_path / "tbl")

    def make(tag):
        return spark.range(5000).select(
            F.col("id").alias("event_id"), F.lit(tag).alias("writer")
        )

    errs = []

    def w(tag):
        try:
            writers.sink_parquet(make(tag), root, mode="append")
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=w, args=(t,)) for t in ("A", "B")]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    assert_table_root_clean(root)
    counts = {
        r["writer"]: r["n"]
        for r in spark.read.parquet(root)
        .groupBy("writer")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert counts == {"A": 5000, "B": 5000}


def test_partition_direct_locks_stay_hidden(spark, tmp_path):
    """Per-partition locks land INSIDE the table root, hidden from
    Spark's file index, so the root reads back after every write."""
    from etl_jobs_spark.sources import writers

    root = tmp_path / "tbl"
    df = spark.createDataFrame(
        [(1, "2024-01-01"), (2, "2024-01-02"), (3, None)],
        "event_id INT, day STRING",
    )
    for _ in range(2):
        writers.sink_parquet_partitions_direct(df, str(root), "day")
    assert (root / ".day=2024-01-01.__write_lock").exists()
    assert_table_root_clean(root)
    assert spark.read.parquet(str(root)).count() == 6


def test_locked_json_report_leaves_clean_root(spark, tmp_path):
    from etl_jobs_spark.sources import writers

    path = tmp_path / "report"
    for total in (1000, 2000):
        writers.sink_json_report(
            spark.createDataFrame([(total,)], "total BIGINT"), str(path)
        )
    assert_table_root_clean(path, ".json")
    assert [r["total"] for r in spark.read.json(str(path)).collect()] == [2000]
