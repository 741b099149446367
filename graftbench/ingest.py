"""The ``ingest`` workload: an open loop fed by one generator thread.

The generator lands seeded CSV cuts of the event table at ``RATE``
files per second, on a schedule fixed against the wall clock that
never adapts to the program.
``file_stream_source`` feeds ``foreach_batch_pipeline`` on a
processing-time trigger. Each micro-batch validates, writes the
quarantine, cleans, computes quality metrics and alerts, writes the
archive with ``sink_parquet``, appends the ``event_ledger`` source,
then reads back its own archive partition.

A file's freshness runs from its scheduled landing time to the
return of the batch function that committed it; the file-to-batch
mapping comes from the source's checkpoint metadata log. Set-up is
the session start, ledger registration, stream start and the
``WARMUP_BATCHES`` warm-up batches.
"""

from __future__ import annotations

import itertools
import json
import math
import statistics
import sys
import threading
import time
import traceback
from pathlib import Path

from graftbench import eventlog, harness, inputs, layers, oracle
from graftbench.layers import Window
from graftbench.spans import Patches, Recorder

#: Files landed per second during the measured window.
RATE = 2.0
#: The trigger fires on multiples of its interval since the epoch. The
#: batch running time stays well below it, so batches never queue
#: behind each other, and the measured schedule starts ``PHASE`` after
#: a trigger instant: every run sees the same landing-to-trigger waits.
TRIGGER_S = 4
TRIGGER = {"processingTime": f"{TRIGGER_S} seconds"}
PHASE = 0.25
#: Files landed together for each warm-up batch: one file for the cold
#: first batch, then two batches of the size the measured schedule
#: delivers per trigger, so the first measured batch is not the first
#: to carry several files and the JIT has compiled the batch path.
WARMUP_BATCHES = (1, int(RATE * TRIGGER_S), int(RATE * TRIGGER_S))
WARMUP_FILES = sum(WARMUP_BATCHES)
MAX_FILES_PER_TRIGGER = 10
#: How long committed output may lag the last landing before the
#: remaining files count as never committed.
DRAIN_GRACE_S = 30.0
#: Warm-up that has not committed by then fails the run; with the
#: limits above a stalled run still ends well inside three minutes.
WARMUP_LIMIT_S = 60.0


def batch_files(checkpoint: Path) -> dict[str, int]:
    """File name -> batch id, from the file source's metadata log:
    ``sources/0/<batch>`` and the periodic ``<batch>.compact`` files
    that replace them, each a version line and one JSON entry per
    file."""
    out = {}
    log = checkpoint / "sources" / "0"
    if not log.is_dir():
        return out
    for f in log.iterdir():
        if not f.name.removesuffix(".compact").isdigit():
            continue
        for line in f.read_text().splitlines()[1:]:
            entry = json.loads(line)
            out[Path(entry["path"].replace("file:", "")).name] = entry["batchId"]
    return out


class Batches:
    """The micro-batch function and what it observed."""

    def __init__(self, dirs: dict[str, Path], rec: Recorder, patches: Patches, trace: bool):
        self.dirs, self.rec, self.patches, self.trace = dirs, rec, patches, trace
        self.lock = threading.Lock()
        self.done: dict[int, float] = {}  # batch id -> return time
        self.started: dict[int, float] = {}
        self.cpu: dict[int, float] = {}  # batch id -> CPU seconds it took
        self.ledger_rows: dict[int, int] = {}
        self.quality: dict[int, tuple] = {}
        self.failed: set[int] = set()
        self.traced: set[int] = set()
        self.rows_committed = 0

    def __call__(self, df, batch_id: int) -> None:
        traced = self.trace and batch_id % 2 == 0
        if traced:
            install_patches(self.patches)
            self.rec.enabled = True
        cpu0 = harness.cpu_seconds()
        t0 = harness.now()
        try:
            n = self._run(df, batch_id)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            n = 0
            self.failed.add(batch_id)
        finally:
            self.rec.enabled = False
            self.patches.restore()
        with self.lock:
            self.started[batch_id] = t0
            if traced:
                self.traced.add(batch_id)
            self.rows_committed += n
            self.done[batch_id] = harness.now()
        self.cpu[batch_id] = harness.cpu_seconds() - cpu0

    def _step(self, sc, batch_id: int, step: str):
        sc.setJobGroup(f"bench:b{batch_id}:{step}", step)
        return self.rec.span(step)

    def _run(self, df, batch_id: int) -> int:
        from pyspark.sql import functions as F

        from etl_jobs_spark.operators import cleaning as C
        from etl_jobs_spark.operators import quality as Q
        from etl_jobs_spark.operators import validation as V
        from etl_jobs_spark.sources.writers import sink_parquet

        spark = df.sparkSession
        sc = spark.sparkContext
        lo, hi = oracle.VALUE_RANGE
        rules = [
            V.required_fields("value")[0],
            V.nonempty_string("event_type"),
            V.numeric_range("value", lo, hi),
        ]
        src = df.persist()
        try:
            with self._step(sc, batch_id, "operators.validation"):
                valid, rejected = V.validate_split(src, rules)
            with self._step(sc, batch_id, "sources.writers"):
                sink_parquet(rejected.withColumn("batch", F.lit(batch_id)), str(self.dirs["quarantine"]),
                             partition_by=["batch"])
            with self._step(sc, batch_id, "operators.cleaning"):
                clean = C.proj_add_ts(
                    C.proj_quality_score(C.proj_upper(valid, "event_type"), list(inputs.FEED_COLUMNS)),
                    oracle.PROCESSED_AT,
                ).withColumn("batch", F.lit(batch_id))
            with self._step(sc, batch_id, "operators.quality"):
                metrics = Q.run_quality_metrics(src, rules)
                row = Q.pred_alert_thresholds(metrics, min_success_rate=oracle.ALERT_MIN_SUCCESS).collect()[0]
                total, n_clean = row["total_records"], row["valid_records"]
                self.quality[batch_id] = (total, n_clean, row["success_rate"], row["should_alert"])
            with self._step(sc, batch_id, "sources.writers"):
                sink_parquet(clean, str(self.dirs["archive"]), partition_by=["batch"])
            with self._step(sc, batch_id, "sources.ledger_source"):
                clean.select("event_id", "user_id", "event_type", "value").write.format(
                    "event_ledger"
                ).mode("append").save(str(self.dirs["ledger"]))
                self.ledger_rows[batch_id] = n_clean
            with self._step(sc, batch_id, "readback"):
                back = spark.read.parquet(f"{self.dirs['archive']}/batch={batch_id}").count()
            if back != n_clean:
                raise AssertionError(f"batch {batch_id}: read back {back} rows, wrote {n_clean}")
            return total
        finally:
            src.unpersist()
            sc.setJobGroup("bench:idle", "between batches")


def install_patches(patches: Patches) -> None:
    """Time the write lock where ``sink_parquet`` resolves it."""
    from etl_jobs_spark.sources import write_lock

    patches.wrap(write_lock, "acquire_table_lock", "sources.write_lock.acquire")
    patches.wrap(write_lock, "release_table_lock", "sources.write_lock.release")


class Generator(threading.Thread):
    """Lands the warm-up files in ``WARMUP_BATCHES`` groups, each
    committed before the next, then the measured files on a fixed
    schedule that starts once warm-up has committed."""

    def __init__(self, warm, measured, landing: Path, batches: Batches):
        super().__init__(name="feed", daemon=True)
        self.warm, self.measured, self.landing, self.batches = warm, measured, landing, batches
        self.due: dict[str, float] = {}
        self.landed: dict[str, float] = {}
        self.setup_end: float | None = None
        self.ticks = (0, 0)  # harness.cpu_ticks() at the end of set-up
        self.error: Exception | None = None
        self.stop = threading.Event()

    def _wait_rows(self, rows: int, deadline: float) -> None:
        while self.batches.rows_committed < rows:
            if self.stop.is_set() or time.time() > deadline or self.batches.failed:
                raise RuntimeError(f"warm-up stalled at {self.batches.rows_committed}/{rows} rows")
            time.sleep(0.02)

    def run(self) -> None:
        try:
            rows, deadline = 0, time.time() + WARMUP_LIMIT_S
            warm = iter(self.warm)
            for size in WARMUP_BATCHES:
                for f in itertools.islice(warm, size):
                    inputs.land(f, self.landing)
                    rows += f.rows
                self._wait_rows(rows, deadline)
            self.setup_end = harness.now()
            self.ticks = harness.cpu_ticks()
            start = (math.floor(self.setup_end / TRIGGER_S) + 1) * TRIGGER_S + PHASE
            for i, f in enumerate(self.measured):
                due = start + i / RATE
                while (wait := due - harness.now()) > 0:
                    if self.stop.wait(min(wait, 0.05)):
                        return
                inputs.land(f, self.landing)
                self.due[f.name] = due
                self.landed[f.name] = harness.now()
        except Exception as e:  # raised again by the main thread
            self.error = e


def run(ctx) -> dict:
    from etl_jobs_spark import session
    from etl_jobs_spark.sources import ledger_source
    from etl_jobs_spark.streaming import pipelines as SP

    n_measured = max(11, int(RATE * ctx.seconds))
    files = inputs.make_feed(ctx.run / "stage", ctx.seed, WARMUP_FILES + n_measured)
    warm, measured = files[:WARMUP_FILES], files[WARMUP_FILES:]
    out_dir, landing, checkpoint = ctx.run / "out", ctx.run / "landing", ctx.run / "checkpoint"
    dirs = {name: out_dir / name for name in ("archive", "quarantine", "ledger")}
    landing.mkdir()
    out_dir.mkdir()
    total_rows = sum(f.rows for f in files)
    rec = Recorder(enabled=False)
    patches = Patches(rec)
    batches = Batches(dirs, rec, patches, ctx.trace)
    event_log = ctx.run / "eventlog" if ctx.trace else None
    query = []

    with harness.MemorySampler() as mem:
        t0 = harness.now()
        spark = session.get_spark("graftbench-ingest", master=harness.MASTER,
                                  extra_conf=harness.spark_conf(ctx.run, event_log))
        session_s = harness.now() - t0
        try:
            ledger_source.register(spark)
            stream = SP.file_stream_source(spark, str(landing), inputs.FEED_SCHEMA, fmt="csv",
                                           max_files_per_trigger=MAX_FILES_PER_TRIGGER)
            gen = Generator(warm, measured, landing, batches)
            gen.start()

            def stop_when() -> bool:
                if not query and spark.streams.active:
                    query.append(spark.streams.active[0])
                if gen.error is not None:
                    return True
                if gen.is_alive():
                    return False
                last_due = max(gen.due.values(), default=t0)
                return batches.rows_committed >= total_rows or harness.now() > last_due + DRAIN_GRACE_S

            SP.foreach_batch_pipeline(stream, str(checkpoint), batches, trigger=TRIGGER,
                                      await_seconds=WARMUP_LIMIT_S + ctx.seconds + DRAIN_GRACE_S,
                                      stop_when=stop_when)
            gen.stop.set()
            gen.join(timeout=10)
            if gen.error is not None:
                raise RuntimeError("feed generator failed") from gen.error
            progress = list(query[0].recentProgress) if query else []
            steal = harness.steal_share(gen.ticks)
        finally:
            harness.stop_spark(spark)

    placed = batch_files(checkpoint)
    problems = []
    for name, root in dirs.items():
        suffix = ".json" if name == "ledger" else ".parquet"
        problems += [f"{name}: {p}" for p in harness.check_table_root(root, suffix)]
    truth = oracle.IngestOracle([landing / f.name for f in files if (landing / f.name).exists()], placed)
    wrong = truth.mismatched_files(dirs["archive"], dirs["quarantine"], dirs["ledger"])
    if "?" in wrong:
        problems.append("output rows that no landed file explains")
    for b, want in truth.quality().items():
        got = batches.quality.get(b)
        if got is None or (got[0], got[1], got[3]) != (want[0], want[1], want[3]) or abs(got[2] - want[2]) > 1e-9:
            print(f"batch {b}: quality {got} != oracle {want}", file=sys.stderr)
            batches.failed.add(b)

    fresh, failed = {}, 0
    for f in measured:
        b = placed.get(f.name)
        if f.name not in gen.due or b not in batches.done or b in batches.failed or f.name in wrong:
            print(f"{f.name} failed: batch {b}", file=sys.stderr)
            failed += 1
        else:
            fresh[f.name] = batches.done[b] - gen.due[f.name]
    print(f"session {session_s:.2f}s setup {gen.setup_end - t0:.2f}s batches {len(batches.done)} "
          f"batch seconds {[round(batches.done[b] - batches.started[b], 2) for b in sorted(batches.done)]}, "
          f"cpu {[round(batches.cpu[b], 2) for b in sorted(batches.cpu)]}, "
          f"host steal {steal:.1%} while measuring, peak memory {mem.describe_peak()}", file=sys.stderr)
    out = {
        "attempted": len(measured),
        "failed": failed,
        "problems": problems,
        "setup_s": gen.setup_end - t0,
        "units": list(fresh.values()),
        # CPU per micro-batch, over the batches that committed measured files
        "cpu": [batches.cpu[b] for b in sorted({placed[n] for n in fresh})],
        "peak_rss_mb": mem.peak_mb,
    }
    if ctx.trace:
        must_fire = ("sources.write_lock.acquire", "sources.write_lock.release")
        problems += [f"wrapper {w} never fired" for w in must_fire if not patches.fired.get(w)]
        out["layers"] = _layers(rec, batches, gen, placed, progress, fresh, measured, dirs, event_log, session_s)
    return out


def _layers(rec, batches, gen, placed, progress, fresh, measured, dirs, event_log, session_s) -> dict:
    """Per-micro-batch layer figures over the measured batches."""
    measured_batches = sorted({placed[f.name] for f in measured if f.name in placed} & set(batches.done))
    first = measured_batches[0] if measured_batches else 0
    seconds = {b: batches.done[b] - batches.started[b] for b in measured_batches}
    traced = [b for b in measured_batches if b in batches.traced]
    untraced = [b for b in measured_batches if b not in batches.traced]
    windows = [Window(f"bench:b{b}:", batches.started[b], batches.done[b],
                      rows_written=batches.ledger_rows.get(b, 0)) for b in traced]

    steps = [p for p in progress if p["batchId"] >= first and p.get("numInputRows", 0) > 0]

    def phase(key: str) -> float:
        vals = [p["durationMs"].get(key, 0) for p in steps]
        return statistics.fmean(vals) if vals else 0.0

    events = sorted([(gen.landed[n], 1) for n in gen.landed]
                    + [(batches.done[placed[n]], -1) for n in gen.landed if placed.get(n) in batches.done])
    backlog = peak = 0
    for _, d in events:
        backlog += d
        peak = max(peak, backlog)
    data_files = sum(1 for root in dirs.values() for f in root.rglob("*")
                     if f.suffix in (".parquet", ".json") and not f.name.startswith((".", "_")))
    fresh_vals = list(fresh.values())
    extra = {
        "session.start_s": session_s,
        "wall.latency_p50_s": statistics.median(fresh_vals) if fresh_vals else 0.0,
        "streaming.latest_offset_ms": phase("latestOffset"),
        "streaming.query_planning_ms": phase("queryPlanning"),
        "streaming.add_batch_ms": phase("addBatch"),
        "streaming.wal_commit_ms": phase("walCommit"),
        "streaming.trigger_ms": phase("triggerExecution"),
        "streaming.batches": float(len(measured_batches)),
        "streaming.files_per_batch": len(measured) / max(len(measured_batches), 1),
        "streaming.backlog_max_files": float(peak),
        "streaming.gen_late_s": max((gen.landed[n] - gen.due[n] for n in gen.due), default=0.0),
        "streaming.fresh_tail_s": harness.tail(fresh_vals)[1] if len(fresh_vals) > 10 else max(fresh_vals, default=0.0),
        "spark.io.output_files": data_files / max(len(batches.done), 1),
        "trace.overhead_frac": (
            statistics.median(seconds[b] for b in traced) / statistics.median(seconds[b] for b in untraced) - 1.0
            if traced and untraced else 0.0
        ),
    }
    return layers.per_layer(windows, rec, eventlog.parse(event_log), extra)
