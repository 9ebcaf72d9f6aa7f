"""Session, process, memory, span and statistics helpers shared by the
workloads. Nothing here imports Spark at module import time."""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager
from pathlib import Path

CORES = 4
HEAP = "2g"
# Spark settings for every session, sized for a 4-core, 15 GiB host that
# other jobs share: one driver JVM whose 2 GiB heap is committed and touched
# at start (so its resident size does not depend on when the heap grows),
# 8 shuffle partitions (two per core, as in the test suite), AQE on, no UI.
SPARK_CONF = {
    "spark.sql.shuffle.partitions": "8",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.driver.memory": HEAP,
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


class Bench:
    """Owns the work directory, the Spark JVM and the spans of one run."""

    def __init__(self, root: Path, work: Path):
        self.root = root
        self.work = work
        self.spark = None
        self._gateway = None
        self.tracer = Tracer()
        self.cpu = CpuClock(self)
        for d in ("tmp", "local", "warehouse", "eventlog"):
            (work / d).mkdir(parents=True, exist_ok=True)
        # every temp file of the JVM, the Python workers and this process
        # stays inside the work directory
        os.environ["TMPDIR"] = str(work / "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
        os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
        # Python workers import tokens_ts from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(root), os.environ.get("PYTHONPATH")) if p
        )

    def session(self, master: str = f"local[{CORES}]", event_log: bool = False):
        """Stop the current session (if any) and start a fresh one in the
        same JVM, so no cached data, file listing or Python worker
        survives from the previous session."""
        from pyspark.sql import SparkSession

        if self.spark is not None:
            self.spark.stop()
        b = SparkSession.builder.master(master)
        conf = dict(SPARK_CONF)
        conf["spark.sql.warehouse.dir"] = str(self.work / "warehouse")
        conf["spark.local.dir"] = str(self.work / "local")
        conf["spark.driver.extraJavaOptions"] = (
            f"-Djava.io.tmpdir={self.work / 'tmp'} -Xms{HEAP} -XX:+AlwaysPreTouch"
            # a fixed set of compiler threads, so none exits with its CPU
            # time still counted in the process total
            " -XX:-UseDynamicNumberOfCompilerThreads"
        )
        conf["spark.eventLog.enabled"] = "true" if event_log else "false"
        conf["spark.eventLog.dir"] = str(self.work / "eventlog")
        for k, v in conf.items():
            b = b.config(k, v)
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        if self._gateway is None:
            self._gateway = self.spark.sparkContext._gateway
        return self.spark

    def prime(self) -> None:
        """Start the session's Python workers, so the first timed call does
        not pay for their start."""
        sc = self.spark.sparkContext
        sc.parallelize(range(CORES), CORES).map(lambda x: x).count()

    def jvm_pid(self) -> int | None:
        proc = getattr(self._gateway, "proc", None)
        return None if proc is None else proc.pid

    def event_log_path(self) -> Path:
        """The log of the current session (written fully once it stops)."""
        app = self.spark.sparkContext.applicationId
        return self.work / "eventlog" / app

    def session_state(self) -> dict:
        """Persisted RDDs and their cached bytes left in the session."""
        jsc = self.spark.sparkContext._jsc
        infos = jsc.sc().getRDDStorageInfo()
        cached = sum(int(i.memSize()) + int(i.diskSize()) for i in infos)
        return {
            "persisted_rdds": int(jsc.getPersistentRDDs().size()),
            "cached_bytes": cached,
        }

    def close(self) -> None:
        """Stop Spark, then the JVM and its Python workers, and wait for
        each process to end."""
        from py4j.protocol import Py4JError

        pids = descendants(self.jvm_pid()) if self.jvm_pid() else []
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        proc = getattr(self._gateway, "proc", None)
        if self._gateway is not None:
            try:
                self._gateway.shutdown()
            except Py4JError:  # the JVM may already be gone
                pass
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        from pyspark import SparkContext

        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.time() + 30
        for pid in pids:
            while _alive(pid) and time.time() < deadline:
                time.sleep(0.05)
            if _alive(pid):
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass


def _stat(path: str) -> tuple[str, list[str]]:
    """(command name, fields after it) of a /proc stat file."""
    try:
        with open(path) as f:
            text = f.read()
    except OSError:
        return "", []
    head, _, rest = text.rpartition(") ")
    return head.partition(" (")[2], rest.split()


def _alive(pid: int) -> bool:
    _, fields = _stat(f"/proc/{pid}/stat")
    return bool(fields) and fields[0] != "Z"


def _proc_table() -> dict[int, int]:
    """pid → parent pid for every process visible in /proc."""
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            _, fields = _stat(f"/proc/{name}/stat")
            if fields:
                out[int(name)] = int(fields[1])
    return out


def descendants(pid: int) -> list[int]:
    """pid and every process below it (the JVM and its Python workers)."""
    table = _proc_table()
    out, frontier = [pid], [pid]
    while frontier:
        kids = [c for c, p in table.items() if p in frontier]
        out += kids
        frontier = kids
    return out


CLK_TCK = os.sysconf("SC_CLK_TCK")
# HotSpot compiler thread names, as /proc shows them (15 characters)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _cpu_ticks(pid: int) -> int:
    """utime + stime of the process and of its reaped children, less the
    JVM's JIT compiler threads."""
    _, fields = _stat(f"/proc/{pid}/stat")
    ticks = sum(int(x) for x in fields[11:15])
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:  # the process has ended
        tids = []
    for tid in tids:
        name, tf = _stat(f"/proc/{pid}/task/{tid}/stat")
        if name.startswith(JIT_THREADS):
            ticks -= sum(int(x) for x in tf[11:13])
    return ticks


class CpuClock:
    """CPU seconds spent by this process's main thread, the JVM and its
    Python workers, less the JIT compiler threads. Unlike wall time it does
    not count the time the hypervisor gives the host's cores to other
    machines (steal); without the JIT threads it does not depend on when the
    JIT happens to compile."""

    def __init__(self, bench):
        self.bench = bench

    def now(self) -> float:
        pid = self.bench.jvm_pid()
        jvm = sum(_cpu_ticks(p) for p in descendants(pid)) if pid else 0
        return time.thread_time() + jvm / CLK_TCK


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, with pages shared between
    processes (the forked Python workers) split among them."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of the JVM and its Python workers (sum of
    their proportional set sizes), sampled every 100 ms in a background
    thread while the `with` block runs."""

    def __init__(self, pid: int, interval: float = 0.1):
        self.pid = pid
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            kb = sum(_pss_kb(p) for p in descendants(self.pid))
            self.peak_kb = max(self.peak_kb, kb)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


class Tracer:
    """Wall-clock spans kept in memory: (name, layer, start, end, parent).
    Times are Unix seconds, the clock Spark's event log uses (in ms)."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str, **tags):
        rec = {
            "name": name,
            "layer": layer,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            **tags,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()


def timed(clock: CpuClock, fn, *args, **kwargs):
    """(wall seconds, CPU seconds, result) of one call."""
    t0, c0 = time.perf_counter(), clock.now()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, clock.now() - c0, out


def median(xs):
    return float(statistics.median(xs))



