"""Per-layer metrics of a traced run.

Each traced unit of work (a pass, or a micro-batch for ``ingest``) is
a time window whose Spark jobs carry the window's job-group prefix.
The window's spans, jobs and tasks give each layer's figures; they
are averaged over the traced windows. A layer the workload does not
reach reports 0.
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field

from graftbench import eventlog
from graftbench.spans import Recorder, covered, self_time

#: name -> (unit, better); the order BENCHMARK.json lists them in.
METRICS: dict[str, tuple[str, str]] = {
    "session.start_s": ("s", "lower"),
    "wall.latency_p50_s": ("s", "lower"),
    "queries.build_s": ("s", "lower"),
    "queries.build_jobs": ("count", "lower"),
    "queries.action_s": ("s", "lower"),
    "queries.action_jobs": ("count", "lower"),
    "sources.readers.call_s": ("s", "lower"),
    "sources.readers.calls": ("count", "lower"),
    "cache.track_calls": ("count", "lower"),
    "cache.release_s": ("s", "lower"),
    "spark.plan.analysis_ms": ("ms", "lower"),
    "spark.plan.optimization_ms": ("ms", "lower"),
    "spark.plan.planning_ms": ("ms", "lower"),
    "spark.sched.jobs": ("count", "lower"),
    "spark.sched.stages": ("count", "lower"),
    "spark.sched.tasks": ("count", "lower"),
    "spark.sched.submit_gap_s": ("s", "lower"),
    "spark.sched.driver_gap_s": ("s", "lower"),
    "spark.exec.run_s": ("s", "lower"),
    "spark.exec.cpu_s": ("s", "lower"),
    "spark.exec.gc_s": ("s", "lower"),
    "spark.exec.busy_frac": ("ratio", "higher"),
    "spark.io.scan_bytes": ("bytes", "lower"),
    "spark.io.scan_rows": ("count", "lower"),
    "spark.shuffle.write_bytes": ("bytes", "lower"),
    "spark.shuffle.read_bytes": ("bytes", "lower"),
    "spark.shuffle.fetch_wait_s": ("s", "lower"),
    "spark.spill.bytes": ("bytes", "lower"),
    "spark.python.bytes_to_worker": ("bytes", "lower"),
    "spark.python.bytes_from_worker": ("bytes", "lower"),
    "operators.validation_s": ("s", "lower"),
    "operators.cleaning_s": ("s", "lower"),
    "operators.quality_s": ("s", "lower"),
    "sources.writers.call_s": ("s", "lower"),
    "sources.writers.calls": ("count", "lower"),
    "sources.write_lock.acquire_s": ("s", "lower"),
    "sources.write_lock.held_s": ("s", "lower"),
    "spark.io.output_bytes": ("bytes", "lower"),
    "spark.io.output_files": ("count", "lower"),
    "sources.ledger_source.write_s": ("s", "lower"),
    "sources.ledger_source.rows": ("count", "higher"),
    "streaming.latest_offset_ms": ("ms", "lower"),
    "streaming.query_planning_ms": ("ms", "lower"),
    "streaming.add_batch_ms": ("ms", "lower"),
    "streaming.wal_commit_ms": ("ms", "lower"),
    "streaming.trigger_ms": ("ms", "lower"),
    "streaming.batches": ("count", "higher"),
    "streaming.files_per_batch": ("count", "lower"),
    "streaming.backlog_max_files": ("count", "lower"),
    "streaming.gen_late_s": ("s", "lower"),
    "streaming.fresh_tail_s": ("s", "lower"),
    "trace.overhead_frac": ("ratio", "lower"),
    "trace.unattributed_frac": ("ratio", "lower"),
}

#: Spans whose time counts toward the layer named in METRICS.
SPAN_SECONDS = {
    "sources.readers.call_s": "sources.readers",
    "cache.release_s": "cache.release",
    "queries.action_s": "queries.action",
    "operators.validation_s": "operators.validation",
    "operators.cleaning_s": "operators.cleaning",
    "operators.quality_s": "operators.quality",
    "sources.writers.call_s": "sources.writers",
    "sources.write_lock.acquire_s": "sources.write_lock.acquire",
    "sources.ledger_source.write_s": "sources.ledger_source",
}
SPAN_CALLS = {
    "sources.readers.calls": "sources.readers",
    "sources.writers.calls": "sources.writers",
    "cache.track_calls": "cache.track",
}
#: Spans nested inside a query build, subtracted to give its self time.
BUILD_CHILDREN = ("sources.readers", "cache.track")


@dataclass
class Window:
    """One traced unit of work: its job-group prefix and wall interval."""

    group: str
    start: float
    end: float
    phases_ms: dict[str, float] = field(default_factory=dict)
    rows_written: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


def _window(w: Window, rec: Recorder, log: eventlog.Log) -> dict[str, float]:
    span = (w.start, w.end)
    spans = rec.of_window(span)
    by_layer: dict[str, list] = {}
    for s in spans:
        by_layer.setdefault(s.layer, []).append(s)
    jobs = log.in_group(lambda g: g.startswith(w.group))
    tasks = [t for j in jobs for t in j.tasks]
    job_iv = [(j.submit_ms / 1e3, (j.end_ms or j.submit_ms) / 1e3) for j in jobs]
    gaps = [(j.first_launch_ms - j.submit_ms) / 1e3 for j in jobs if j.tasks]
    m: dict[str, float] = {k: sum(s.seconds for s in by_layer.get(v, ())) for k, v in SPAN_SECONDS.items()}
    m.update({k: float(len(by_layer.get(v, ()))) for k, v in SPAN_CALLS.items()})
    children = [s.interval for layer in BUILD_CHILDREN for s in by_layer.get(layer, ())]
    m["queries.build_s"] = sum(self_time(s.interval, children) for s in by_layer.get("queries.build", ()))
    m["queries.build_jobs"] = float(sum(1 for j in jobs if j.group.endswith(":build")))
    m["queries.action_jobs"] = float(sum(1 for j in jobs if j.group.endswith(":action")))
    m["spark.plan.analysis_ms"] = w.phases_ms.get("analysis", 0.0)
    m["spark.plan.optimization_ms"] = w.phases_ms.get("optimization", 0.0)
    m["spark.plan.planning_ms"] = w.phases_ms.get("planning", 0.0)
    m["spark.sched.jobs"] = float(len(jobs))
    m["spark.sched.stages"] = float(sum(1 for j in jobs for s in j.stages if s in log.submitted))
    m["spark.sched.tasks"] = float(len(tasks))
    m["spark.sched.submit_gap_s"] = statistics.fmean(gaps) if gaps else 0.0
    m["spark.sched.driver_gap_s"] = w.seconds - covered(span, job_iv)
    m["spark.exec.run_s"] = sum(t.run_ms for t in tasks) / 1e3
    m["spark.exec.cpu_s"] = sum(t.cpu_ns for t in tasks) / 1e9
    m["spark.exec.gc_s"] = sum(t.gc_ms for t in tasks) / 1e3
    slots = 2.0
    m["spark.exec.busy_frac"] = sum(t.finish_ms - t.launch_ms for t in tasks) / 1e3 / (w.seconds * slots)
    m["spark.io.scan_bytes"] = float(sum(t.input_bytes for t in tasks))
    m["spark.io.scan_rows"] = float(sum(t.input_records for t in tasks))
    m["spark.shuffle.write_bytes"] = float(sum(t.shuffle_write_bytes for t in tasks))
    m["spark.shuffle.read_bytes"] = float(sum(t.shuffle_read_bytes for t in tasks))
    m["spark.shuffle.fetch_wait_s"] = sum(t.fetch_wait_ms for t in tasks) / 1e3
    m["spark.spill.bytes"] = float(sum(t.spill_bytes for t in tasks))
    m["spark.python.bytes_to_worker"] = float(sum(t.py_to_worker for t in tasks))
    m["spark.python.bytes_from_worker"] = float(sum(t.py_from_worker for t in tasks))
    m["spark.io.output_bytes"] = float(sum(t.output_bytes for t in tasks))
    acquires = by_layer.get("sources.write_lock.acquire", [])
    releases = by_layer.get("sources.write_lock.release", [])
    m["sources.write_lock.held_s"] = sum(
        max(0.0, r.start - a.end) for a, r in zip(sorted(acquires, key=lambda s: s.start),
                                                  sorted(releases, key=lambda s: s.start))
    )
    m["trace.unattributed_frac"] = 1.0 - covered(span, [s.interval for s in spans] + job_iv) / w.seconds
    m["sources.ledger_source.rows"] = float(w.rows_written)
    return m


def per_layer(windows: list[Window], rec: Recorder, log: eventlog.Log, extra: dict[str, float]) -> dict:
    """Average each layer's figures over the traced windows and add
    the run-level ones in ``extra``; every METRICS name is present."""
    rows = [_window(w, rec, log) for w in windows]
    out = {name: 0.0 for name in METRICS}
    for name in out:
        vals = [r[name] for r in rows if name in r]
        if vals:
            out[name] = statistics.fmean(vals)
    out.update(extra)
    return {name: {"value": out[name], "unit": METRICS[name][0]} for name in METRICS}
