"""Custom Python DataSource WRITE path (sources/ledger_source.py
LedgerWriter): append manifest accumulation, overwrite replacement,
abort's tolerance of failed-task (None) commit messages, and
commits serialized on the ledger's write lock."""

from __future__ import annotations

import json
import os
import threading

import pytest

from etl_jobs_spark.scratch import scratch_dir
from etl_jobs_spark.sources import ledger_source
from tests.conftest import assert_table_root_clean


@pytest.fixture()
def ledger_df(spark):
    ledger_source.register(spark)
    return spark.range(10).selectExpr(
        "id AS event_id",
        "id AS user_id",
        "'click' AS event_type",
        "CAST(id AS DOUBLE) AS value",
    )


def _manifest(path: str) -> dict:
    with open(os.path.join(path, "_LEDGER_COMMIT.manifest")) as f:
        return json.load(f)


def test_append_extends_manifest(spark, ledger_df):
    out = str(scratch_dir("ledger_w_append"))
    for _ in range(2):
        ledger_df.write.format("event_ledger").option("path", out).mode(
            "append"
        ).save()
    m = _manifest(out)
    assert m["n_rows"] == 20
    back = spark.read.format("event_ledger").option("path", out).load()
    assert back.count() == 20
    assert len(m["files"]) == len(
        [n for n in os.listdir(out) if n.endswith(".json")]
    )
    assert_table_root_clean(out, ".json")


def test_overwrite_replaces(spark, ledger_df):
    out = str(scratch_dir("ledger_w_ow"))
    ledger_df.write.format("event_ledger").option("path", out).mode(
        "append"
    ).save()
    ledger_df.write.format("event_ledger").option("path", out).mode(
        "overwrite"
    ).save()
    assert _manifest(out)["n_rows"] == 10
    back = spark.read.format("event_ledger").option("path", out).load()
    assert back.count() == 10
    assert_table_root_clean(out, ".json")


def test_abort_tolerates_failed_task_messages(tmp_path):
    # pyspark passes None for failed tasks' commit messages
    w = ledger_source.LedgerWriter({"path": str(tmp_path)})
    (tmp_path / ".part-x.json.tmp").write_text("{}\n")
    w.abort([None, ledger_source._LedgerCommit("part-x.json", 1), None])
    assert not list(tmp_path.glob("*.tmp"))


def test_no_partial_ledger_visible_mid_write(tmp_path):
    # temps are dot-prefixed .tmp files: invisible to the reader glob
    w = ledger_source.LedgerWriter({"path": str(tmp_path)})
    (tmp_path / ".part-y.json.tmp").write_text("{}\n")
    visible = [n for n in os.listdir(tmp_path) if n.endswith(".json")]
    assert visible == []


def test_aborted_overwrite_preserves_old_ledger(spark, ledger_df):
    """Failure-atomic overwrite (ADVICE r4): a job that dies before
    job-commit must leave the previously committed ledger intact —
    the destructive clear happens inside commit(), after the new
    parts are renamed into place, never in __init__."""
    out = str(scratch_dir("ledger_w_ow_abort"))
    ledger_df.write.format("event_ledger").option("path", out).mode(
        "append"
    ).save()
    before = _manifest(out)

    # drive the writer protocol by hand up to (but not through) commit
    w = ledger_source.LedgerWriter({"path": out}, overwrite=True)
    # __init__ of an overwrite writer must not have touched the data
    assert _manifest(out) == before
    assert (
        spark.read.format("event_ledger").option("path", out).load().count()
        == 10
    )
    w.abort([None])  # job failed before any task committed
    assert _manifest(out) == before
    assert (
        spark.read.format("event_ledger").option("path", out).load().count()
        == 10
    )


def test_stream_writer_replayed_batch_replaces_itself(tmp_path):
    """A replayed micro-batch commit (same batchId) must replace the
    prior attempt's files, not append duplicates."""
    import json

    from etl_jobs_spark.sources.ledger_source import (
        LedgerStreamWriter,
        _LedgerCommit,
    )

    out = tmp_path / "ledger"
    out.mkdir()
    w = LedgerStreamWriter({"path": str(out)})

    def attempt(token, rows):
        tmp = out / f".stream-{token}.tmp"
        tmp.write_text("".join(json.dumps(r) + "\n" for r in rows))
        return _LedgerCommit(token, len(rows))

    m1 = attempt("aaa", [{"event_id": 1}, {"event_id": 2}])
    w.commit([m1], batchId=7)
    m2 = attempt("bbb", [{"event_id": 1}, {"event_id": 2}])
    w.commit([m2], batchId=7)  # replay of batch 7
    files = sorted(p.name for p in out.glob("stream-b*.json"))
    assert files == ["stream-b000007-00000.json"], files
    manifest = json.loads((out / "_LEDGER_STREAM.manifest").read_text())
    assert manifest["batches"]["7"]["n_rows"] == 2
    assert_table_root_clean(out, ".json")


def test_commit_waits_for_the_table_lock(tmp_path):
    """Job commit runs under the ledger's write lock: while another
    writer holds it, the manifest merge does not start."""
    from etl_jobs_spark.sources.write_lock import table_write_lock

    w = ledger_source.LedgerWriter({"path": str(tmp_path)})
    (tmp_path / ".part-z.json.tmp").write_text('{"event_id": 1}\n')
    with table_write_lock(str(tmp_path)):
        t = threading.Thread(
            target=w.commit, args=([ledger_source._LedgerCommit("part-z.json", 1)],)
        )
        t.start()
        t.join(0.5)
        assert t.is_alive()
        assert not (tmp_path / "_LEDGER_COMMIT.manifest").exists()
    t.join(10)
    assert _manifest(str(tmp_path)) == {"files": ["part-z.json"], "n_rows": 1}


def test_concurrent_appends_land_both_writers(spark, ledger_df):
    """Two concurrent appends to one ledger keep every row of both
    writers, and the manifest's row count is their total."""
    out = str(scratch_dir("ledger_w_concurrent"))
    errs = []

    def append():
        try:
            # the JVM resolves a Python data source through the
            # calling thread's active session, unset in a new thread
            jvm_session = spark._jvm.org.apache.spark.sql.SparkSession
            jvm_session.setActiveSession(spark._jsparkSession)
            ledger_df.write.format("event_ledger").option("path", out).mode(
                "append"
            ).save()
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=append) for _ in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    assert _manifest(out)["n_rows"] == 20
    assert spark.read.format("event_ledger").option("path", out).load().count() == 20
    assert_table_root_clean(out, ".json")
