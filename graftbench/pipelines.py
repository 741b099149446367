"""The ``pipelines`` workload: a closed loop with one client.

One pass runs entity resolution, the IVF-PQ top-k probe and the
recursive-CTE hierarchy over sf0.01-sized tables, in a seeded order.
Each query is built (the registry function call), collected (the
action) and released (``cache.release_all``). Passes are timed with
GC settled before each; every result is compared with its registry
oracle after the measured window.

Set-up is the session start, the registry load and ``WARMUP_PASSES``
warm-up passes: first calls fill session memos (the IVF-PQ index),
start Python workers and warm the JIT.
"""

from __future__ import annotations

import sys
import traceback

from graftbench import eventlog, harness, inputs, layers, oracle
from graftbench.layers import Window
from graftbench.spans import Patches, Recorder

QUERIES = ["pipeline_entity_resolution", "embed_ivfpq_topk", "recursive_cte_hierarchy"]
TABLES = ["customer", "embeddings"]
#: Warm-up passes: the first fills session memos and starts Python
#: workers, the second runs the warm code paths once. Passes keep
#: getting cheaper while the JIT compiles (CPU time without the
#: compiler threads falls about 15% from the third pass to the tenth);
#: more warm-up passes do not fit the run budget.
WARMUP_PASSES = 2


class Pass:
    def __init__(self, index: int, traced: bool):
        self.index = index
        self.traced = traced
        self.start = self.end = 0.0
        self.cpu_s = 0.0
        self.results: dict = {}
        self.failed: set[str] = set()
        self.phases_ms = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def group(self) -> str:
        return f"bench:p{self.index}:"


def _phases(df) -> dict[str, float]:
    """Planner phase durations of the DataFrame's own QueryExecution."""
    ph = df._jdf.queryExecution().tracker().phases()
    return {k: float(ph.apply(k).durationMs()) for k in ("analysis", "optimization", "planning") if ph.contains(k)}


class Runner:
    def __init__(self, spark, queries, sf_dir: str, rec: Recorder):
        from etl_jobs_spark import cache

        self.spark, self.queries, self.sf_dir, self.rec = spark, queries, sf_dir, rec
        self.cache = cache

    def run_pass(self, p: Pass, order: list[str]) -> Pass:
        sc, rec = self.spark.sparkContext, self.rec
        p.start = harness.now()
        for name in order:
            group = f"{p.group}{name}"
            try:
                sc.setJobGroup(f"{group}:build", name)
                with rec.span("queries.build"):
                    df = self.queries[name](self.spark, self.sf_dir)
                sc.setJobGroup(f"{group}:action", name)
                with rec.span("queries.action"):
                    p.results[name] = df.toPandas()
                if p.traced:
                    for k, v in _phases(df).items():
                        p.phases_ms[k] += v
            except Exception:
                p.failed.add(name)
                traceback.print_exc(file=sys.stderr)
            finally:
                sc.setJobGroup(f"{group}:release", name)
                with rec.span("cache.release"):
                    self.cache.release_all()
        p.end = harness.now()
        sc.setJobGroup("bench:idle", "between passes")
        return p


def install_patches(patches: Patches) -> None:
    """Wrap the reader and the cache tracker where callers resolve them."""
    from etl_jobs_spark import cache
    from etl_jobs_spark.sources import readers

    engine = [m for n, m in list(sys.modules.items()) if n.startswith("etl_jobs_spark") and m is not None]
    patches.wrap_everywhere(engine, readers.read_table, "sources.readers")
    patches.wrap(cache, "track", "cache.track")


def run(ctx) -> dict:
    from etl_jobs_spark import registry, session

    data = inputs.make_tables(ctx.run / "data", ctx.seed)
    orders = inputs.operation_orders(ctx.seed, QUERIES, 512)
    rec = Recorder(enabled=False)
    event_log = ctx.run / "eventlog" if ctx.trace else None

    with harness.MemorySampler() as mem:
        t0 = harness.now()
        spark = session.get_spark("graftbench-pipelines", master=harness.MASTER,
                                  extra_conf=harness.spark_conf(ctx.run, event_log))
        session_s = harness.now() - t0
        try:
            runner = Runner(spark, registry.all_queries(), str(data), rec)
            warm = []
            for w in range(WARMUP_PASSES):
                p = runner.run_pass(Pass(-1 - w, False), orders[w])
                if p.failed:
                    raise RuntimeError(f"warm-up pass failed: {sorted(p.failed)}")
                warm.append(p.seconds)
            setup_s = harness.now() - t0
            print(f"session {session_s:.2f}s warm-up {[round(x, 2) for x in warm]}", file=sys.stderr)

            want = oracle.answers(oracle.connect(data, TABLES), oracle.oracle_sql(QUERIES, data))

            patches = Patches(rec)
            passes: list[Pass] = []
            ticks = harness.cpu_ticks()
            t_measure = harness.now()
            while not passes or harness.now() - t_measure < ctx.seconds:
                i = len(passes)
                traced = ctx.trace and i % 2 == 0
                if traced:
                    install_patches(patches)
                    rec.enabled = True
                harness.settle(spark)
                try:
                    cpu0 = harness.cpu_seconds()
                    p = runner.run_pass(Pass(i, traced), orders[WARMUP_PASSES + i])
                    p.cpu_s = harness.cpu_seconds() - cpu0
                    passes.append(p)
                finally:
                    rec.enabled = False
                    patches.restore()
            steal = harness.steal_share(ticks)
        finally:
            harness.stop_spark(spark)

    from etl_jobs_spark import compare

    attempted = failed = 0
    for p in passes:
        for name in QUERIES:
            attempted += 1
            if name in p.failed:
                failed += 1
                continue
            try:
                compare.frames_match(p.results[name], want[name])
            except AssertionError as e:
                print(f"pass {p.index} {name}: {e}", file=sys.stderr)
                p.failed.add(name)
                failed += 1
    ok_passes = [p for p in passes if not p.failed]
    print(f"passes {[round(p.seconds, 2) for p in passes]}, cpu {[round(p.cpu_s, 2) for p in passes]}, "
          f"host steal {steal:.1%} while measuring, peak memory {mem.describe_peak()}", file=sys.stderr)
    out = {
        "attempted": attempted,
        "failed": failed,
        "problems": [],
        "setup_s": setup_s,
        "units": [p.seconds for p in ok_passes],
        "cpu": [p.cpu_s for p in ok_passes],
        "peak_rss_mb": mem.peak_mb,
    }
    if ctx.trace:
        out["problems"] += [f"wrapper {w} never fired" for w in ("sources.readers", "cache.track")
                            if not patches.fired.get(w)]
        traced = [p for p in passes if p.traced and not p.failed]
        untraced = [p.seconds for p in passes if not p.traced and not p.failed]
        windows = [Window(p.group, p.start, p.end, phases_ms=p.phases_ms) for p in traced]
        extra = {
            "session.start_s": session_s,
            "wall.latency_p50_s": harness.median(out["units"]) if out["units"] else 0.0,
            "trace.overhead_frac": (
                harness.median([p.seconds for p in traced]) / harness.median(untraced) - 1.0
                if traced and untraced else 0.0
            ),
        }
        out["layers"] = layers.per_layer(windows, rec, eventlog.parse(event_log), extra)
    return out
