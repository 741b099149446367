"""Single-writer mutual exclusion for plain-parquet table roots.

Two concurrent writers to ONE plain-parquet root race on the shared
``<root>/_temporary`` staging dir (a probe saw TASK_WRITE_FAILED, and
once a TORN append: 22,501 of 40,000 rows from a failed job). A table
format's commit log prevents that; the storage-level stand-in is one
kernel ``flock`` on one lockfile per locked path.

- The lockfile is the hidden sibling ``<parent>/.<name>.__write_lock``:
  outside the locked path (overwrite deletes its contents) and
  ``.``-prefixed, which Spark's file index skips — so the per-partition
  locks of ``sink_parquet_partitions_direct`` sit inside the table root
  without breaking reads (Spark lists ``_`` names that contain ``=``).
- Acquire and release run in the same process. A dead holder's lock
  dies with its fd (which child processes never inherit), so there is
  no staleness logic; locks belong to the open file description, so
  threads exclude each other too.
- The lockfile is never unlinked: a waiter may hold an fd on the old
  inode while a third opener locks a fresh one.

Scope: ``flock`` is correct on local filesystems and NFSv4. Object
stores need a conditional PUT or a lock table; ``_lock_path`` returns
None there and the lock is a no-op — the seam for that swap. Writers
that bypass this module are the documented-unsafe baseline.
"""

from __future__ import annotations

import contextlib
import fcntl
import os
import time
from pathlib import Path


class ConcurrentWriteError(RuntimeError):
    """Another writer holds the table's write lock."""


def _lock_path(root: str | Path) -> Path | None:
    """Lockfile path for a table root; None on object stores."""
    s = str(root).rstrip("/")
    if s.startswith("file://"):
        from urllib.parse import unquote, urlparse

        s = unquote(urlparse(s).path)
    elif "://" in s:
        return None
    p = Path(s)
    return p.with_name(f".{p.name}.__write_lock")


def acquire_table_lock(
    root: str | Path, timeout_sec: float = 30.0, poll_sec: float = 0.05
) -> int | None:
    """Take ``root``'s write lock and return its fd (None on object
    stores). After ``timeout_sec`` of waiting for the holder, raise
    ``ConcurrentWriteError`` — never proceed without the lock."""
    lock = _lock_path(root)
    if lock is None:
        return None
    lock.parent.mkdir(parents=True, exist_ok=True)
    fd = os.open(lock, os.O_CREAT | os.O_RDWR)
    deadline = time.monotonic() + timeout_sec
    try:
        while True:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                return fd
            except BlockingIOError:
                if time.monotonic() >= deadline:
                    raise ConcurrentWriteError(
                        f"write lock for {root} ({lock}) still held by another "
                        f"writer after {timeout_sec:.1f}s — refusing to race"
                    ) from None
                time.sleep(poll_sec)
    except BaseException:
        os.close(fd)
        raise


def release_table_lock(root: str | Path, fd: int | None) -> None:
    """Release the lock ``acquire_table_lock`` returned as ``fd``; the
    lockfile stays (see the module docstring)."""
    if fd is not None:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


@contextlib.contextmanager
def table_write_lock(root: str | Path, timeout_sec: float = 30.0, poll_sec: float = 0.05):
    """Hold ``root``'s write lock for the ``with`` body."""
    fd = acquire_table_lock(root, timeout_sec=timeout_sec, poll_sec=poll_sec)
    try:
        yield
    finally:
        release_table_lock(root, fd)
