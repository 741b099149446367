"""Write-side transactional commit log (sources/txn_log.py —
VERDICT r14 item 7). The protocol's contracts, each pinned:
atomic visibility, overwrite's remove-fold, time travel, crashed
writers invisible, optimistic two-writer safety with zero lost
updates, loud refusal under pathological contention."""

from __future__ import annotations

import threading
from pathlib import Path

import pytest

from etl_jobs_spark.sources import txn_log as T
from etl_jobs_spark.sources.write_lock import ConcurrentWriteError
from tests.conftest import assert_table_root_clean


def _df(spark, tag: str, n: int = 100):
    return spark.range(n).selectExpr(
        "id AS event_id", f"'{tag}' AS writer"
    )


def _assert_txn_root_clean(root: Path) -> None:
    """Only staged ``data_*`` parquet roots and the version log."""
    for d in root.iterdir():
        if d.name == T.LOG_DIR:
            assert_table_root_clean(d, ".json")
        else:
            assert d.name.startswith("data_"), d
            assert_table_root_clean(d)


def test_append_commits_accumulate(spark, tmp_path):
    root = tmp_path / "tbl"
    v1 = T.txn_commit(_df(spark, "a"), root)
    v2 = T.txn_commit(_df(spark, "b"), root)
    assert (v1, v2) == (1, 2)
    back = T.read_txn_table(spark, root)
    counts = dict(
        back.groupBy("writer").count().rdd.map(tuple).collect()
    )
    assert counts == {"a": 100, "b": 100}


def test_overwrite_replaces_atomically(spark, tmp_path):
    root = tmp_path / "tbl"
    T.txn_commit(_df(spark, "old1"), root)
    T.txn_commit(_df(spark, "old2"), root)
    T.txn_commit(_df(spark, "new", 7), root, mode="overwrite")
    back = T.read_txn_table(spark, root).collect()
    assert len(back) == 7 and {r["writer"] for r in back} == {"new"}
    # one commit file carries removes+add together: no window where
    # a reader can see zero files or old+new mixed
    log = T.read_log(root, version=3)
    v3 = [a for a in log if a["version"] == 3]
    assert sum(a["action"] == "remove" for a in v3) == 2
    assert sum(a["action"] == "add" for a in v3) == 1


def test_time_travel_reads_old_snapshot(spark, tmp_path):
    root = tmp_path / "tbl"
    T.txn_commit(_df(spark, "a"), root)
    T.txn_commit(_df(spark, "b", 50), root)
    T.txn_commit(_df(spark, "c", 7), root, mode="overwrite")
    assert T.read_txn_table(spark, root, version=1).count() == 100
    assert T.read_txn_table(spark, root, version=2).count() == 150
    assert T.read_txn_table(spark, root).count() == 7


def test_staged_without_commit_is_invisible(spark, tmp_path):
    root = tmp_path / "tbl"
    T.txn_commit(_df(spark, "a"), root)
    # a crashed writer: data staged, version file never published
    _df(spark, "ghost", 999).write.parquet(str(root / "data_ghost"))
    back = T.read_txn_table(spark, root)
    assert back.count() == 100
    assert {r["writer"] for r in back.collect()} == {"a"}
    assert T.orphans(root) == ["data_ghost"]


def test_empty_overwrite_reads_back_with_schema(spark, tmp_path):
    root = tmp_path / "tbl"
    T.txn_commit(_df(spark, "a"), root)
    T.txn_commit(
        _df(spark, "none", 0).limit(0), root, mode="overwrite"
    )
    back = T.read_txn_table(spark, root)
    assert back.count() == 0
    assert back.columns == ["event_id", "writer"]


def test_read_uncommitted_table_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        T.read_txn_table(spark, tmp_path / "never")


def test_two_writers_no_lost_update(spark, tmp_path):
    """The r14 axis's silent-data-loss scenario, replayed through
    the commit log: two concurrent appenders must BOTH land in full
    — version claims serialize via os.link, data writes never
    contend."""
    root = tmp_path / "tbl"
    errs: list = []

    def writer(tag):
        try:
            T.txn_commit(_df(spark, tag, 5000), root)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=writer, args=(t,)) for t in "ABCD"]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    assert T.current_version(root) == 4
    _assert_txn_root_clean(root)
    counts = dict(
        T.read_txn_table(spark, root)
        .groupBy("writer")
        .count()
        .rdd.map(tuple)
        .collect()
    )
    assert counts == {t: 5000 for t in "ABCD"}


def test_version_claim_is_first_writer_wins(spark, tmp_path):
    """Directly pin the claim primitive: a pre-existing version file
    forces the committer to the next version, never an overwrite of
    someone else's manifest."""
    root = tmp_path / "tbl"
    T.txn_commit(_df(spark, "a"), root)
    # forge a competing v2 as another engine would publish it
    (root / T.LOG_DIR / "00000002.json").write_text(
        '{"version": 2, "action": "commit", "mode": "append", '
        '"writer": "foreign", "schema": null}\n'
    )
    v = T.txn_commit(_df(spark, "b"), root)
    assert v == 3
    assert (root / T.LOG_DIR / "00000003.json").exists()


def test_contention_exhaustion_is_loud(spark, tmp_path, monkeypatch):
    root = tmp_path / "tbl"
    T.txn_commit(_df(spark, "a"), root)

    # an adversary that always steals the next version number
    real_current = T.current_version

    def racing_current(r):
        v = real_current(r)
        (root / T.LOG_DIR / f"{v + 1:08d}.json").write_text(
            '{"version": %d, "action": "commit", "mode": "append", '
            '"writer": "thief", "schema": null}\n' % (v + 1)
        )
        return v

    monkeypatch.setattr(T, "current_version", racing_current)
    with pytest.raises(ConcurrentWriteError, match="version races"):
        T.txn_commit(_df(spark, "b"), root, max_retries=3)


# ---- streaming exactly-once sink + vacuum + cross-process race ----


def test_stream_sink_exactly_once_and_replay_noop(spark, tmp_path):
    """foreachBatch commit path: a drained stream lands each batch
    exactly once; a redelivery of a committed batch id is a no-op
    even though the data differs (at-least-once upstream)."""
    from pyspark.sql import functions as F

    feed = tmp_path / "feed"
    spark.range(200).selectExpr(
        "id AS event_id", "CAST(id % 7 AS DOUBLE) AS value"
    ).coalesce(2).write.parquet(str(feed))

    root = tmp_path / "tbl"
    src = spark.readStream.schema(
        "event_id BIGINT, value DOUBLE"
    ).parquet(str(feed))
    q = T.txn_stream_sink(src, root, str(tmp_path / "ck"))
    q.awaitTermination()
    back = T.read_txn_table(spark, root)
    assert back.count() == 200
    assert back.agg(F.countDistinct("event_id")).collect()[0][0] == 200

    # simulate the crash-replay: same app + batch ids, new payload
    log = T.read_log(root)
    headers = [a for a in log if a["action"] == "commit"]
    assert headers and all("batch_id" in h for h in headers)
    h = headers[0]
    out = T.txn_commit_batch(
        spark.range(999).selectExpr(
            "id AS event_id", "CAST(0 AS DOUBLE) AS value"
        ),
        root,
        h["app_id"],
        h["batch_id"],
    )
    assert out is None, "replayed batch committed twice"
    assert T.read_txn_table(spark, root).count() == 200
    _assert_txn_root_clean(root)


def test_vacuum_reclaims_orphans_and_expired(spark, tmp_path):
    root = tmp_path / "tbl"
    T.txn_commit(_df(spark, "a"), root)          # v1: adds A
    T.txn_commit(_df(spark, "b", 50), root)      # v2: adds B
    T.txn_commit(_df(spark, "c", 7), root, mode="overwrite")  # v3: -A -B +C
    _df(spark, "ghost", 9).write.parquet(str(root / "data_ghost"))

    # retain all history: only the orphan goes
    rep = T.txn_vacuum(root, retain_versions=T.current_version(root))
    assert rep["orphans_deleted"] == ["data_ghost"]
    assert rep["expired_deleted"] == []
    assert T.read_txn_table(spark, root, version=1).count() == 100

    # retain only the latest snapshot: removed dirs reclaimed,
    # latest still reads perfectly
    rep = T.txn_vacuum(root, retain_versions=0)
    assert len(rep["expired_deleted"]) == 2
    assert T.read_txn_table(spark, root).count() == 7
    import os as _os

    data_dirs = [d for d in _os.listdir(root) if d.startswith("data_")]
    assert len(data_dirs) == 1  # only C's dir survives


def test_cross_process_claim_race_single_winner_per_version(tmp_path):
    """The protocol's core guarantee exercised ACROSS PROCESSES
    (os.link atomicity is an OS contract, not a GIL artifact): N
    subprocesses each stage a tiny parquet with pyarrow and claim
    versions concurrently; every writer must land exactly once,
    versions 1..N, no manifest ever overwritten."""
    import subprocess
    import sys as _sys

    root = tmp_path / "tbl"
    root.mkdir()
    script = f"""
import sys, uuid
sys.path.insert(0, {str(Path(__file__).resolve().parents[1])!r})
import pyarrow as pa, pyarrow.parquet as pq
from pathlib import Path
from etl_jobs_spark.sources import txn_log as T
root = Path({str(root)!r})
tag = sys.argv[1]
token = uuid.uuid4().hex
rel = f"data_{{token}}"
(root / rel).mkdir()
pq.write_table(pa.table({{"writer": [tag] * 10}}), root / rel / "part-0.parquet")
v = T._claim(root, rel, "append", token, None)
print(f"{{tag}}:{{v}}")
"""
    procs = [
        subprocess.Popen(
            [_sys.executable, "-c", script, f"w{i}"],
            stdout=subprocess.PIPE,
            text=True,
        )
        for i in range(6)
    ]
    results = {}
    for p in procs:
        out, _ = p.communicate(timeout=120)
        assert p.returncode == 0
        tag, v = out.strip().splitlines()[-1].split(":")
        results[tag] = int(v)
    assert sorted(results.values()) == [1, 2, 3, 4, 5, 6]
    files = T.snapshot_files(root)
    assert len(files) == 6
    # every manifest names exactly one add and its own writer token
    log = T.read_log(root)
    assert sum(a["action"] == "add" for a in log) == 6
