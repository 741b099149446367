"""The event-log parser on a small recorded Spark 4.1 log.

``data/eventlog_v2_local-1`` is a rolled log of three jobs, trimmed
of RDD details: job group ``g1`` ran a pandas-UDF aggregation (job 0)
and its result stage (job 1, whose map stage was skipped), group
``g2`` wrote parquet (job 2). The roll boundary falls between job 0
and job 1, so job 1's tasks are only found if both parts are read in
order.
"""

from pathlib import Path

from graftbench import eventlog

DATA = Path(__file__).parent / "data"


def test_rolled_parts_are_read_in_order():
    files = eventlog.log_files(DATA)
    assert [f.name for f in files] == ["events_1_local-1", "events_2_local-1"]


def test_jobs_are_attributed_by_group():
    log = eventlog.parse(DATA)
    assert sorted(log.jobs) == [0, 1, 2]
    assert [j.id for j in log.in_group(lambda g: g == "g1")] == [0, 1]
    assert [j.id for j in log.in_group(lambda g: g.startswith("g2"))] == [2]


def test_job_timing_and_tasks():
    job = eventlog.parse(DATA).jobs[0]
    assert (job.submit_ms, job.end_ms) == (1792237897564, 1792237900454)
    assert len(job.tasks) == 2
    assert job.first_launch_ms - job.submit_ms == 219


def test_skipped_stage_is_not_submitted():
    log = eventlog.parse(DATA)
    assert log.jobs[1].stages == [1, 2]
    assert 1 not in log.submitted and 2 in log.submitted


def test_task_metrics():
    log = eventlog.parse(DATA)
    udf, result, write = (log.jobs[i].tasks for i in (0, 1, 2))
    assert sum(t.py_to_worker for t in udf) == 81552
    assert sum(t.py_from_worker for t in udf) == 80288
    assert sum(t.shuffle_write_bytes for t in udf) == 774
    assert sum(t.shuffle_read_bytes for t in result) == 774
    assert sum(t.output_bytes for t in write) == 41877
    assert sum(t.input_records for t in write) == 10000
    assert sum(t.run_ms for t in udf) == 2491 + 2520
    assert sum(t.cpu_ns for t in udf) == 328746953 + 351230021


def test_single_file_log(tmp_path):
    rolled = DATA / "eventlog_v2_local-1"
    single = tmp_path / "local-1"
    single.write_text("".join(p.read_text() for p in eventlog.log_files(rolled)))
    assert sorted(eventlog.parse(single).jobs) == [0, 1, 2]
