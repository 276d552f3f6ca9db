"""Run-scoped machinery shared by the workloads.

* :class:`Run` owns the run's scratch directory inside the checkout and
  points every temp-file user at it (Python ``tempfile``, Spark local dirs,
  the JVM's ``java.io.tmpdir``), so a run reads and writes nothing outside
  the checkout and the engine's leftovers can be counted and removed.
* :class:`Tracer` keeps spans (name, start, end, parent) in memory and
  computes self times; it is a no-op unless the run is traced.
* :class:`RssSampler` samples the resident memory of this process, its JVM
  and the Python workers below it from ``/proc``.
* :func:`stop_engine` stops the SparkSession, the JVM and its Python
  workers, and waits until every one of them has exited.
"""

from __future__ import annotations

import collections
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from contextlib import contextmanager

# every run of every workload uses the same fixed core count, whatever the
# host has; nproc is recorded next to the result
CORES = 4
MASTER = f"local[{CORES}]"

CACHE_DIR = ".perfbench_cache"
WORK_DIR = ".perfbench_work"
OUT_DIR = ".perfbench_out"


class EngineMissing(RuntimeError):
    """The checkout does not contain the engine package."""


class Run:
    """One benchmark invocation: arguments, directories, ops ledger."""

    def __init__(self, root: str, workload: str, seed: int, seconds: int, trace: bool):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cache = os.path.join(root, CACHE_DIR)
        self.work = os.path.join(root, WORK_DIR, f"{workload}-{os.getpid()}")
        self.tmp = os.path.join(self.work, "tmp")
        self.tracer = Tracer(enabled=trace)
        self.rss = RssSampler()
        self.attempted = 0
        self.failures: list[str] = []
        self.record: dict = {}
        self.calibration_s = 0.0

    # ------------------------------------------------------------ lifecycle
    def enter(self) -> None:
        """Create the run directories and route all temp files into them.

        Must run before pyspark starts the JVM. ``SPARK_GRAFT_CPUS`` is the
        engine's documented core-count variable; it is set to the same core
        count as the master. ``SPARK_DRIVER_MEM`` is cleared so the engine's
        default applies on every host.
        """
        if not os.path.isdir(os.path.join(self.root, "statefulstreamprocessor_spark")):
            raise EngineMissing(
                f"no statefulstreamprocessor_spark package under {self.root}"
            )
        self._remove_dead_runs()
        os.makedirs(self.tmp, exist_ok=True)
        os.makedirs(self.cache, exist_ok=True)
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = None  # re-read TMPDIR
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData"
        )
        os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
        os.environ.pop("SPARK_DRIVER_MEM", None)
        # the engine's pandas UDF workers print a FutureWarning per batch
        os.environ.setdefault("PYTHONWARNINGS", "ignore::FutureWarning")
        for p in (self.root, os.path.join(self.root, "scripts")):
            if p not in sys.path:
                sys.path.insert(0, p)

    def _remove_dead_runs(self) -> None:
        """Drop the work dirs of runs that were killed before cleaning up."""
        parent = os.path.dirname(self.work)
        for d in os.listdir(parent) if os.path.isdir(parent) else []:
            pid = d.rsplit("-", 1)[-1]
            if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
                shutil.rmtree(os.path.join(parent, d), ignore_errors=True)

    def residue_files(self) -> int:
        """Engine leftovers in the run's temp dir: ``ssp_*`` temp dirs and
        shipped ``ssp_spark_*.zip`` packages."""
        dirs = [p for p in glob.glob(os.path.join(self.tmp, "ssp_*")) if os.path.isdir(p)]
        zips = glob.glob(os.path.join(self.tmp, "ssp_spark_*.zip"))
        return len(set(dirs) | set(zips))

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        parent = os.path.dirname(self.work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    # -------------------------------------------------------------- window
    def begin_window(self) -> None:
        """Time the host calibration loop, then start sampling memory."""
        self.calibration_s = calibrate()
        self.record["host_calibration_s"] = self.calibration_s
        self._host0 = host_cpu_s()
        self.rss.start()

    def end_window(self) -> float:
        """Stop sampling memory; return the peak RSS in MiB."""
        self.record["host_cpu_s"] = {k: v - self._host0[k] for k, v in host_cpu_s().items()}
        return self.rss.stop()

    # ----------------------------------------------------------------- ops
    def op(self, ok: bool, what: str) -> None:
        """Count one operation (query, micro-batch or output check)."""
        self.attempted += 1
        if not ok:
            self.failures.append(what)

    def write_trace(self) -> str | None:
        if not self.trace:
            return None
        out = os.path.join(self.root, OUT_DIR)
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"trace-{self.workload}-seed{self.seed}.json")
        with open(path, "w") as f:
            json.dump({"spans": self.tracer.spans,
                       "self_s": self.tracer.self_times()}, f, indent=1)
        return path


# --------------------------------------------------------------------- spans
class Tracer:
    """In-memory spans. Callbacks on other threads pass ``parent`` explicitly."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()

    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> None:
        if not self.enabled:
            return
        with self._lock:
            self.spans.append({"id": len(self.spans), "name": name, "parent": parent,
                               "start": start, "end": end, **attrs})

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        with self._lock:
            rec = {"id": len(self.spans), "name": name, "parent": self.current(),
                   "start": time.perf_counter(), "end": None, **attrs}
            self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part its children cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                cs, ce = max(c["start"], s["start"]), min(c["end"], s["end"])
                if ce <= cs:
                    continue
                if cur_e is None or cs > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = cs, ce
                else:
                    cur_e = max(cur_e, ce)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out


# -------------------------------------------------------------------- memory
def _children(pid: int) -> list[int]:
    kids: list[int] = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(path) as f:
                kids.extend(int(x) for x in f.read().split())
        except OSError:
            pass
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """This process's descendants (not including itself)."""
    todo, seen = [root or os.getpid()], []
    while todo:
        for k in _children(todo.pop()):
            if k not in seen:
                seen.append(k)
                todo.append(k)
    return seen


def _exe(pid: int) -> str:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    except OSError:
        return ""


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def tree_rss_bytes() -> int:
    """RSS of this process, its JVM children and every Python process below.

    Other descendants are transient helpers; a JVM thread that forks one
    shows the whole JVM's resident pages until it execs, which would count
    the JVM twice."""
    me = os.getpid()
    pids = [me]
    for pid in process_tree(me):
        exe = _exe(pid)
        if exe.startswith("python") or (exe == "java" and pid in _children(me)):
            pids.append(pid)
    return sum(_rss_bytes(p) for p in pids)


class RssSampler:
    """Peak of the summed RSS of the process tree, sampled every
    ``interval`` s. The peak is taken over a rolling median of ``window``
    samples, so a sub-second transient (a Python worker being replaced, a
    forked helper) does not decide the figure."""

    def __init__(self, interval: float = 0.2, window: int = 5):
        self.interval = interval
        self.recent: collections.deque[int] = collections.deque(maxlen=window)
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        self.recent.append(tree_rss_bytes())
        self.peak = max(self.peak, int(statistics.median(self.recent)))

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> float:
        """Stop sampling; return the peak in MiB."""
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        return self.peak / 2**20


def host_cpu_s() -> dict[str, float]:
    """Seconds the host's CPUs spent busy, idle and stolen by the
    hypervisor, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    hz = os.sysconf("SC_CLK_TCK")
    return {"busy": (v[0] + v[1] + v[2] + v[5] + v[6]) / hz, "idle": (v[3] + v[4]) / hz,
            "steal": v[7] / hz}


def calibrate(n: int = 5_000_000) -> float:
    """Seconds for a fixed pure-Python loop: the host's speed next to the
    result. Shared hosts slow down for minutes at a time without reporting
    steal time; this shows it."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i
    return time.perf_counter() - t0


# -------------------------------------------------------------------- engine
def stop_engine() -> None:
    """Stop the active SparkSession, shut the JVM down and wait until every
    child process (JVM, Python daemon and workers) has exited."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    gw = SparkContext._gateway
    try:
        if sc is not None:
            sc.stop()
    finally:
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            # the JVM exits when its stdin closes (PythonGatewayServer)
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
        wait_children()


def wait_children(timeout: float = 20.0) -> None:
    """Wait until this process has no descendants; kill stragglers."""
    deadline = time.monotonic() + timeout
    while process_tree() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in process_tree():
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    while process_tree() and time.monotonic() < deadline + 10:
        time.sleep(0.1)


def jvm_jit_s(spark) -> float:
    """The driver JVM's cumulative JIT compile-thread time, from its
    compilation bean."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return mf.getCompilationMXBean().getTotalCompilationTime() / 1e3


def engine_record(spark, **extra) -> dict:
    """Effective engine config and library versions next to the result."""
    import numpy
    import pandas
    import pyarrow
    import pyspark

    conf = spark.conf
    sc = spark.sparkContext
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": int(conf.get("spark.sql.shuffle.partitions")),
        "state_store_provider": conf.get(
            "spark.sql.streaming.stateStore.providerClass"),
        "nproc": os.cpu_count(),
        "affinity_cpus": len(os.sched_getaffinity(0)),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "numpy": numpy.__version__,
        "python": sys.version.split()[0],
        **extra,
    }


# --------------------------------------------------------------------- stats
def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_quantile(n: int, want: float = 0.99) -> float:
    """Highest quantile ≤ ``want`` with at least ten samples beyond it."""
    if n <= 10:
        return 1.0
    return min(want, 1.0 - 10.0 / n)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
