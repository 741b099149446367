"""Run plumbing shared by the workloads: the run directory inside the
checkout, the Spark session settings, GC settling, the PSS sampler,
percentiles and the table-root hygiene check."""

from __future__ import annotations

import gc
import os
import shutil
import statistics
import tempfile
import threading
import time
from pathlib import Path

#: Spark runs with two task slots on the four-core host; one client.
MASTER = "local[2]"
#: Fixed driver heap (Xms = Xmx) so heap growth never lands in a pass.
DRIVER_HEAP = "2g"
#: Sampling period of the memory sampler.
MEM_PERIOD_S = 0.5
PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024
CLOCK_TICKS = os.sysconf("SC_CLK_TCK")
#: Name prefixes of HotSpot's JIT compiler threads, as ``comm`` shows
#: them (truncated to 15 characters).
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


class RunDir:
    """A per-run scratch tree under the checkout, removed on close.
    Everything Spark, Python workers and the engine write goes here."""

    def __init__(self, checkout: Path, workload: str, seed: int):
        self.root = checkout / ".graftbench_runs" / f"{workload}-s{seed}-{os.getpid()}"
        if self.root.exists():
            shutil.rmtree(self.root)
        for sub in ("tmp", "scratch", "local", "warehouse"):
            (self.root / sub).mkdir(parents=True)
        os.environ["TMPDIR"] = tempfile.tempdir = str(self.root / "tmp")
        os.environ["SPARK_GRAFT_SCRATCH"] = str(self.root / "scratch")
        # The engine reads these; a run must not inherit them.
        for var in ("SPARK_GRAFT_SQL_CONF", "SPARK_GRAFT_DRIVER_MEM", "PYSPARK_SUBMIT_ARGS"):
            os.environ.pop(var, None)
        os.environ["SPARK_GRAFT_CPUS"] = "2"
        # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*.
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    def __truediv__(self, name: str) -> Path:
        return self.root / name

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        parent = self.root.parent
        if parent.exists() and not any(parent.iterdir()):
            parent.rmdir()


def spark_conf(run: RunDir, event_log: Path | None) -> dict[str, str]:
    tmp = run / "tmp"
    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        # -UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*.
        # -UseDynamicNumberOfCompilerThreads keeps the JIT threads alive
        # for the whole run, so cpu_seconds() can leave out their time.
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_HEAP} -Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
        ),
        "spark.local.dir": str(run / "local"),
        "spark.sql.warehouse.dir": str(run / "warehouse"),
        "spark.eventLog.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log is not None:
        event_log.mkdir()
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(event_log),
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def stop_spark(spark) -> None:
    """Stop the session and the JVM this process launched, then wait
    until every descendant process (JVM, Python workers) has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 60
    while descendants(os.getpid()):
        if time.time() > deadline:
            raise RuntimeError(f"processes still running: {descendants(os.getpid())}")
        time.sleep(0.1)


def settle(spark) -> None:
    """Collect Python and JVM garbage so a pass starts from a settled
    heap instead of paying for the previous pass's garbage."""
    gc.collect()
    spark.sparkContext._jvm.java.lang.System.gc()


def _stat(path: str) -> tuple[str, list[str]]:
    """``comm`` and the fields after it of a ``/proc`` stat file."""
    with open(path) as fh:
        text = fh.read()
    head, _, tail = text.rpartition(")")
    return head[head.index("(") + 1:], tail.split()


def _children() -> dict[int, list[int]]:
    """Children of every live process, by parent pid."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            parent = int(_stat(f"/proc/{name}/stat")[1][1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(parent, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def cpu_seconds() -> float:
    """CPU time (user + system) used so far by this process and its
    descendants (the driver JVM, the Python workers), including
    children they have reaped, less the JVM's JIT compiler threads.

    Compilation is the JVM optimising itself in the background; its
    share falls over a run and differs between runs by seconds per
    pass. Time the hypervisor gives to other guests is booked as steal,
    not to any task, so this figure does not grow on a congested host
    the way wall time does."""
    me = os.getpid()
    ticks = 0
    for pid in (me, *descendants(me)):
        try:
            _, fields = _stat(f"/proc/{pid}/stat")
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
            for tid in os.listdir(f"/proc/{pid}/task"):
                comm, tf = _stat(f"/proc/{pid}/task/{tid}/stat")
                if comm.startswith(JIT_THREADS):
                    ticks -= int(tf[11]) + int(tf[12])
        except (OSError, ValueError, IndexError):
            continue
    return ticks / CLOCK_TICKS


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return "?"


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return "?"


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * PAGE_KB
    except (OSError, IndexError, ValueError):
        return 0


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class MemorySampler:
    """Peak memory of this process's descendants: the driver JVM (the
    direct child) and the Python workers it forks.

    The JVM counts with its RSS, read in constant time from ``statm``:
    its pages are private (the fixed heap, code cache, thread stacks),
    so RSS and PSS agree within a few MB, while ``smaps_rollup`` walks
    its page tables for ~50 ms under the JVM's address-space lock and
    would stall the program it measures. The Python workers share pages
    copy-on-write with their daemon, so they count with their PSS;
    they are small and quick to read. A child the JVM is spawning still
    runs the JVM's executable and shares its address space until it
    execs; it is skipped, as the JVM's pages are already counted."""

    def __init__(self):
        self.peak_kb = 0
        self.peak_parts: list[tuple[str, int]] = []  # (command, kB) at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="memory", daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            kids = _children()
            jvm_exes = {_exe(p) for p in kids.get(me, ())} - {"?"}
            parts, todo = [], [(p, True) for p in kids.get(me, ())]
            while todo:
                p, direct = todo.pop()
                if direct:
                    parts.append((_comm(p), _rss_kb(p)))
                elif _exe(p) not in jvm_exes:
                    parts.append((_comm(p), _pss_kb(p)))
                todo.extend((c, False) for c in kids.get(p, ()))
            total = sum(kb for _, kb in parts)
            if total > self.peak_kb:
                self.peak_kb, self.peak_parts = total, parts
            self._stop.wait(MEM_PERIOD_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    def describe_peak(self) -> str:
        return ", ".join(f"{comm} {kb / 1024:.0f} MB" for comm, kb in sorted(self.peak_parts) if kb)


def tail(values: list[float], beyond: int = 10) -> tuple[float, float]:
    """The highest percentile with at least ``beyond`` samples above
    it, as (percentile, value); needs more than ``beyond`` samples."""
    xs = sorted(values)
    if len(xs) <= beyond:
        raise ValueError(f"{len(xs)} samples leave no percentile with {beyond} beyond it")
    k = len(xs) - beyond - 1
    return 100.0 * (k + 1) / len(xs), xs[k]


def median(values) -> float:
    return statistics.median(values)


def check_table_root(root: Path, data_suffix: str) -> list[str]:
    """Problems with a written table root: it must hold only data
    files (``data_suffix``), ``key=value`` partition directories and
    hidden (``_``/``.``) metadata."""
    problems = []
    if not root.is_dir():
        return [f"{root} was never written"]
    for dirpath, dirnames, filenames in os.walk(root):
        rel = Path(dirpath).relative_to(root)
        for d in dirnames:
            if not d.startswith(("_", ".")) and "=" not in d:
                problems.append(f"foreign directory {rel / d}")
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        for f in filenames:
            if not f.startswith(("_", ".")) and not f.endswith(data_suffix):
                problems.append(f"foreign file {rel / f}")
    return problems


def now() -> float:
    return time.time()


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of all CPUs since boot, from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def steal_share(since: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests since the
    ``cpu_ticks()`` reading ``since``: a measure of host contention,
    printed with each run to tell a noisy host from a slow program."""
    steal, total = cpu_ticks()
    return (steal - since[0]) / max(total - since[1], 1)
