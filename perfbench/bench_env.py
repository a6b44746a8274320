"""Host sizing, the Spark session, set-up timing and peak-RSS sampling.

Everything the benchmark writes goes under ``WORK`` inside the
checkout: the input cache, report dirs, Spark local/tmp dirs and the
result files.
"""

from __future__ import annotations

import contextlib
import ctypes
import os
import platform
import signal
import subprocess
import sys
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(ROOT, ".perfbench_work")
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

NPROC = os.cpu_count() or 1
#: fixed driver heap: the package default (12g, pre-touched) would take
#: most of a 15 GB host; this corpus needs a fraction of 2g
HEAP = "2g"


def prepare_env() -> dict:
    """Point every temp/scratch location of Python, the JVM and Spark
    into the checkout; returns the environment for child processes."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # every JVM (the spark-submit launcher too) would otherwise keep a
    # perf-data file under /tmp, whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    return dict(os.environ)


def adopt_orphans() -> None:
    """Make this process the reaper of every descendant orphaned below
    it (Linux ``PR_SET_CHILD_SUBREAPER``): PySpark's Python worker
    daemon and whatever outlives its parent then stay in reach of
    :func:`end_children`. SIGTERM exits through ``finally`` blocks."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:  # PR_SET_CHILD_SUBREAPER
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))


def _parents() -> dict[int, int]:
    """pid -> parent pid of every process on the host."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the comm field may hold spaces; ppid follows its ')'
        parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    return parent


def end_children(jvm_grace: float = 60.0, grace: float = 10.0) -> None:
    """End every process this one started, and wait for each: first the
    PySpark JVM, which exits (running its shutdown hooks) once its stdin
    closes, then any other child or adopted orphan, by SIGTERM and after
    ``grace`` seconds SIGKILL. Returns when no child is left."""
    context = getattr(sys.modules.get("pyspark"), "SparkContext", None)
    proc = getattr(getattr(context, "_gateway", None), "proc", None)
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=jvm_grace)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        context._gateway = context._jvm = None
    deadline = time.monotonic() + grace
    me = os.getpid()
    while kids := [pid for pid, ppid in _parents().items() if ppid == me]:
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in kids:
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, sig)
            with contextlib.suppress(ChildProcessError):
                os.waitpid(pid, os.WNOHANG)
        time.sleep(0.05)


def session_conf(
    heap: str = HEAP, pretouch: bool = True, memory_metrics: bool = False
) -> dict[str, str]:
    touch = f"-Xms{heap} -XX:+AlwaysPreTouch " if pretouch else ""
    conf = {
        "spark.driver.memory": heap,
        "spark.driver.extraJavaOptions": (
            touch +
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} "
            f"-Dderby.system.home={os.path.join(WORK, 'tmp')}"
        ),
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # the traced run reads per-job-group stage metrics back from the
        # status store; keep every job and stage of a run in it
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    if memory_metrics:
        # poll the executor's memory metrics often and report
        # the peaks every second, so the status store's peaks cover the run
        conf["spark.executor.metrics.pollingInterval"] = "100ms"
        conf["spark.executor.heartbeatInterval"] = "1s"
    return conf


def start_session(heap: str = HEAP, pretouch: bool = True, memory_metrics: bool = False):
    from opengauss_tools_datachecker_performance_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{NPROC}]",
        shuffle_partitions=NPROC,
        extra_conf=session_conf(heap, pretouch, memory_metrics),
    )


def set_up(tables: dict[str, str], tracer=None):
    """One cold set-up: ``get_spark`` launches this process's JVM, then
    ``load_table`` of every input. The inputs must exist already, so
    nothing else runs beside it. A traced set-up also keeps the memory
    peaks current (see :func:`session_conf`). Returns (spark, frames, seconds)."""
    from opengauss_tools_datachecker_performance_spark.sources.table_io import (
        load_table,
    )

    span = tracer.span if tracer is not None else lambda name: contextlib.nullcontext()
    t0 = time.perf_counter()
    with span("session"):
        spark = start_session(memory_metrics=tracer is not None)
    if tracer is not None:
        tracer.bind(spark)
    with span("sources"):
        frames = {k: load_table(spark, p) for k, p in tables.items()}
        for df in frames.values():
            df.schema
    return spark, frames, time.perf_counter() - t0


def cpu_times() -> list[int]:
    """The host's CPU time counters (``/proc/stat``): user, nice, system,
    idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def cpu_shares(before: list[int], after: list[int]) -> dict[str, float]:
    """Shares of the host's CPU time between two :func:`cpu_times`
    readings; steal and iowait show a contended host."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return {n: round(v / total, 4) for n, v in zip(names, d)}


def host_info(spark) -> dict:
    return {
        "host": platform.node(),
        "platform": platform.platform(),
        "nproc": NPROC,
        "spark_version": spark.version,
        "python": platform.python_version(),
        "driver_heap": HEAP,
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def _pss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of the driver JVM plus the Python workers it
    forks, sampled on a background thread: the JVM's RSS plus each
    worker's proportional set size, so pages forked workers share count
    once. A JVM child between fork and exec (still running the JVM's
    executable, sharing its memory) is skipped. The JVM is the process
    PySpark launched for the current gateway. (The JVM's own PSS is not
    read: walking its page tables takes tens of milliseconds under its
    memory-map lock.)

    The heap is pre-touched, so it is resident in full from the launch:
    what the program caches or spills on heap cannot move this peak;
    off-heap, metaspace and Python-worker memory can."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self.at_peak: dict[int, int] = {}  # pid -> MB at the peak sample
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is None:
            return
        parent = _parents()
        jvm = proc.pid
        jvm_exe = _exe(jvm)
        tree = []
        for pid in parent:
            p = parent[pid]
            while p is not None and p != jvm and p > 1:
                p = parent.get(p)
            if p == jvm and _exe(pid) != jvm_exe:
                tree.append(pid)
        try:
            with open(f"/proc/{jvm}/statm") as f:
                mem = {jvm: int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")}
        except OSError:
            return
        mem.update((p, _pss(p)) for p in tree)
        total = sum(mem.values())
        if total > self.peak:
            self.peak = total
            self.at_peak = {p: m // 2**20 for p, m in mem.items()}
