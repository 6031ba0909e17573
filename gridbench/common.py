"""Run context shared by the workloads: work directory, Spark session,
timing statistics, memory sampling and the output checks' bookkeeping."""

from __future__ import annotations

import math
import os
import shutil
import signal
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager

from gridbench.trace import Tracer

#: one Spark local[4] session and one client: sized for a 4-core box
CPUS = 4


def tail_quantile(n: int) -> float:
    """The highest quantile with at least ten samples beyond it; the
    median when a run has fewer than twenty samples."""
    return max(0.5, 1.0 - 10.0 / n) if n else 0.5


def quantile(values: list[float], q: float) -> float:
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class CheckFailed(AssertionError):
    pass


_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024
_TICKS = os.sysconf("SC_CLK_TCK")


def _proc_stat(pid) -> list[str] | None:
    """The fields of /proc/<pid>/stat after the command name, from the
    state on; None once the process has ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def _tree(root: int) -> dict[int, list[str]]:
    """The stat fields of every descendant of ``root``, and of root."""
    stats = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _proc_stat(entry)
            if fields is not None:
                stats[int(entry)] = fields
    tree = {}
    for pid, fields in stats.items():
        p = pid
        while p and p != root:
            p = int(stats[p][1]) if p in stats else 0
        if p == root:
            tree[pid] = fields
    return tree


def tree_usage(root: int) -> tuple[int, float]:
    """(resident kB, CPU seconds) of ``root`` and all its descendants,
    from /proc.  CPU counts user and system time, including that of
    children already reaped; a hypervisor's steal time is not in it."""
    rss = 0
    cpu = 0.0
    for fields in _tree(root).values():
        rss += int(fields[21]) * _PAGE_KB
        cpu += sum(int(x) for x in fields[11:15]) / _TICKS
    return rss, cpu


def _alive(pid: int) -> bool:
    fields = _proc_stat(pid)
    return fields is not None and fields[0] != "Z"


def end_processes(pids, grace: float = 20.0) -> None:
    """Wait until every process in ``pids`` has ended; after ``grace``
    seconds kill the ones left and wait for them too.  Spark's Python
    worker daemon runs in a process group of its own and outlives the
    JVM by a moment, so waiting on the JVM alone is not enough."""
    deadline = time.monotonic() + grace
    left = [p for p in pids if _alive(p)]
    while left and time.monotonic() < deadline:
        time.sleep(0.05)
        left = [p for p in left if _alive(p)]
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while left:
        time.sleep(0.05)
        left = [p for p in left if _alive(p)]


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    Spark JVM and its Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, tree_usage(me)[0])
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


class Run:
    """One benchmark run: its directories, session, tracer and counters."""

    def __init__(self, root: str, workload: str, seed: int):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.work = os.path.join(root, ".gridbench_work", f"{workload}-{seed}-{os.getpid()}")
        self.out_dir = os.path.join(root, ".gridbench_out")
        self.attempted = 0
        self.failed = 0
        self.tracer = Tracer()
        self.spark = None
        self.session_s = 0.0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.path("tmp"), exist_ok=True)
        os.makedirs(self.out_dir, exist_ok=True)
        # keep every file Spark, the JVM and the Python workers write
        # inside the checkout
        os.environ["TMPDIR"] = self.path("tmp")
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-XX:-UsePerfData -Djava.io.tmpdir={self.path('tmp')}"
        )
        os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, os.environ.get("PYTHONPATH")) if p
        )
        from gridded_etl_tools_spark import session

        t0 = time.perf_counter()
        self.spark = session.get_session(
            app_name="gridbench",
            extra_conf={
                "spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.session_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.bind(self.spark)

    def stop(self) -> None:
        """Stop Spark and wait until the JVM and every Python worker it
        started have ended."""
        from pyspark import SparkContext

        me = os.getpid()
        started = [p for p in _tree(me) if p != me]
        try:
            if self.spark is not None:
                self.spark.stop()
                self.spark = None
        finally:
            gateway = SparkContext._gateway
            if gateway is not None:
                try:
                    gateway.shutdown()
                except Exception:
                    pass  # the JVM may be gone already
                # the JVM exits when its stdin closes
                gateway.proc.stdin.close()
                try:
                    gateway.proc.wait(timeout=20)
                except subprocess.TimeoutExpired:
                    gateway.proc.kill()
                    gateway.proc.wait()
            end_processes(started + [p for p in _tree(me) if p != me])
            shutil.rmtree(self.work, ignore_errors=True)

    def check(self, ok: bool, what: str) -> None:
        """Record one output check; a mismatch fails the run."""
        if not ok:
            raise CheckFailed(what)

    @contextmanager
    def op(self):
        """Count one attempted operation; a failed check or error inside
        counts it failed and ends the run."""
        self.attempted += 1
        try:
            yield
        except BaseException:
            self.failed += 1
            raise


def timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out


def blocks(pattern: list[str], deadline_fn):
    """Yield op kinds in whole blocks of ``pattern`` until
    ``deadline_fn()`` is true at a block boundary, so every run does the
    same mix of op kinds in the same order."""
    while True:
        yield from pattern
        if deadline_fn():
            return


class Workload:
    """One workload: a one-off build, a repeatable state set-up, and op
    kinds run in whole blocks of ``pattern`` by one client that waits for
    each op before the next (a closed loop)."""

    name = ""
    pattern: list[str] = []
    setup_reps = 3
    #: untimed ops after set-up, so the JVM has compiled the ops' code
    #: paths before timing starts (counted in ``setup_s``)
    warmup_ops = 0

    def __init__(self, run: Run):
        import numpy as np

        self.run = run
        self.spark = run.spark
        self.seed = run.seed
        self.rng = np.random.default_rng([run.seed, 7])
        self.reset()
        #: true while the warm-up ops run
        self.warming = False
        #: raw input bytes one archive ingest hands the program
        self.raw_bytes_per_op = 0
        #: result rows of each traced op, by kind
        self.result_rows: dict[str, list[int]] = {}

    def build(self) -> None:
        """One-off state every op needs; also warms the JVM up."""

    def prepare(self, rep: int) -> None:
        """Repeatable set-up, run ``setup_reps`` times; the median counts."""

    def op(self, kind: str) -> None:
        raise NotImplementedError

    def call(self, kind: str, fn, *args, **kwargs):
        """Time one call into the program, inside an op span when traced."""
        tracer = self.run.tracer
        cpu0 = tree_usage(os.getpid())[1]
        if tracer.active:
            with tracer.span(f"op.{kind}"):
                t, out = timed(fn, *args, **kwargs)
        else:
            t, out = timed(fn, *args, **kwargs)
        self._op_cpu += tree_usage(os.getpid())[1] - cpu0
        self.call_s.setdefault(f"{kind}.{fn.__name__}", []).append(t)
        return t, out

    def reset(self) -> None:
        """Start the op timings afresh (after the warm-up ops)."""
        self.latency: dict[str, list[float]] = {k: [] for k in self.pattern}
        #: CPU seconds of the process tree (this process, the JVM, Python workers)
        #: during each op's calls into the program
        self.cpu: dict[str, list[float]] = {k: [] for k in self.pattern}
        self._op_cpu = 0.0
        #: seconds of each timed call into the program, by op kind and
        #: function name (``ingest.run_etl``)
        self.call_s: dict[str, list[float]] = {}
        #: points or queries done by the timed ops
        self.work_units = 0.0
        self.n_op = 0

    def record(self, kind: str, seconds: float, units: float) -> None:
        self.cpu[kind].append(self._op_cpu)
        self._op_cpu = 0.0
        self.latency[kind].append(seconds)
        self.work_units += units
        self.n_op += 1

    @staticmethod
    def all(by_kind: dict[str, list[float]]) -> list[float]:
        return [t for ts in by_kind.values() for t in ts]

    @staticmethod
    def kind_p50(by_kind: dict[str, list[float]]) -> float:
        """Each op kind's median, combined over kinds by geometric mean,
        so that no boundary between two kinds' latencies sets it."""
        meds = [median(ts) for ts in by_kind.values() if ts]
        return math.exp(sum(math.log(m) for m in meds) / len(meds))

    def summary(self) -> dict[str, tuple[float, str]]:
        """Workload-specific figures under the names the README uses."""
        return {}

    def timings(self) -> dict[str, float]:
        """Per-layer op latencies and rates, taken from untraced ops."""
        return {}

    def layer_extras(self) -> dict[str, float]:
        """Other per-layer figures that come from the workload, not the spans."""
        return {}
