"""Run context shared by the workloads: run isolation, the Spark
session's lifecycle, repeated set-up, the closed loop, output
checking, process-tree CPU and RSS readings and the traced-run
bookkeeping."""

from __future__ import annotations

import importlib
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from types import SimpleNamespace

from .trace import (PKG, Tracer, layer_metrics, parse_event_logs,
                    self_time_table, span_stats)

MODULES = ("session", "registry", "api", "tables", "sources.catalog",
           "functions.distance", "operators.hnsw", "operators.index",
           "operators.knn", "operators.arrow_knn", "operators.hybrid",
           "operators.quality", "operators.dedup")


def isolate(rundir: str, trace: bool) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    this run's own directory, so no run reuses another run's index
    artifacts, fit caches or temp files, and size the session for the
    host. Must run before the Spark JVM starts."""
    tmp = os.path.join(rundir, "tmp")
    local = os.path.join(rundir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem()
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the short-lived JVM that spark-submit runs to build the driver's
    # command line: keep its temp and perf-data files in the run dir too
    os.environ["SPARK_LAUNCHER_OPTS"] = \
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    args = [f"--conf spark.sql.warehouse.dir={rundir}/warehouse",
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.driver.extraJavaOptions="
            f"'-Djava.io.tmpdir={tmp} -XX:-UsePerfData'"]
    if trace:
        log = os.path.join(rundir, "eventlog")
        os.makedirs(log, exist_ok=True)
        args += ["--conf spark.eventLog.enabled=true",
                 f"--conf spark.eventLog.dir=file://{log}",
                 "--conf spark.eventLog.compress=false",
                 "--conf spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def driver_mem() -> str:
    """2g, or a sixth of the host's memory when that is less."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(ln for ln in f if ln.startswith("MemTotal"))
                       .split()[1])
    return f"{max(1, min(2, total_kb // (6 * 1024 * 1024)))}g"


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree() -> list[int]:
    """This process and all its descendants (JVM, Python workers)."""
    kids, out, todo = _children(), [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def _descendants_cpu_s() -> float:
    """CPU seconds (user + system, including reaped children) used so
    far by this process's descendants: the JVM and the Python
    workers."""
    total = 0
    for pid in process_tree()[1:]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def cpu_start() -> float:
    """Process-tree CPU seconds, to open a measured interval. The /proc
    scan for the descendants runs before this process's own clock is
    read, so the scan's cost stays outside the interval."""
    kids = _descendants_cpu_s()
    return kids + time.process_time()


def cpu_end() -> float:
    """Process-tree CPU seconds, to close an interval opened with
    `cpu_start`: this process's clock is read before the scan."""
    own = time.process_time()
    return own + _descendants_cpu_s()


def tree_rss_mb() -> float:
    """Resident memory (MB) of this process and its descendants."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total / 2**20


def pct(xs: list[float], q: float) -> float:
    """q-th percentile (0..100) by linear interpolation."""
    s = sorted(xs)
    if not s:
        return float("nan")
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


class Stopwatch:
    """Wall and process-tree CPU seconds of a `with` block."""

    def __enter__(self) -> "Stopwatch":
        self._c0 = cpu_start()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self._t0
        self.cpu = cpu_end() - self._c0


class Run:
    """One benchmark run of one workload."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, rundir: str, size: str = "full") -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.size = size
        self.rundir = rundir
        self.data = os.path.join(rundir, "data")
        os.makedirs(self.data, exist_ok=True)
        self.tracer = Tracer()
        self.m = SimpleNamespace()
        self.spark = None
        self.attempted = 0
        self.failed = 0
        # kind -> wall / process-tree CPU seconds of measured operations
        self.latencies: dict[str, list[float]] = {}
        self.cpu: dict[str, list[float]] = {}
        # kind -> latencies, split by whether the operation was traced
        self.lat_traced: dict[str, list[float]] = {}
        self.lat_untraced: dict[str, list[float]] = {}
        self.extra_layers: dict[str, float] = {}
        self.warming = False
        self.peak_rss_mb = 0.0
        self.phase_s: dict[str, float] = {}   # wall s of warm-up and loop
        self._req = 0

    @contextmanager
    def traced(self):
        """Record spans inside this block when the run is traced (set-up
        and index builds; operations switch tracing per op)."""
        self.tracer.enabled = self.trace
        try:
            yield
        finally:
            self.tracer.enabled = False

    # ----------------------------------------------------- session
    def import_package(self, fresh: bool) -> None:
        """(Re-)import the package. `fresh` drops every loaded module
        first, so import and registration cost is paid again and no
        module-level cache survives from an earlier set-up."""
        if fresh:
            for name in [n for n in sys.modules
                         if n == PKG or n.startswith(PKG + ".")]:
                del sys.modules[name]
        for mod in MODULES:
            setattr(self.m, mod.rsplit(".", 1)[-1],
                    importlib.import_module(f"{PKG}.{mod}"))
        self.m.mods = {mod: getattr(self.m, mod.rsplit(".", 1)[-1])
                       for mod in MODULES}

    def start_session(self) -> None:
        with self.tracer.span("session.get_spark"):
            self.spark = self.m.session.get_spark(f"perfbench-{self.workload}")
        with self.tracer.span("registry.load_all"):
            self.m.registry.load_all()

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def setup(self, load, reps: int = 3) -> float:
        """Median process-tree CPU seconds of `reps` complete set-ups:
        fresh package import, get_spark on a new SparkContext,
        registry.load_all, then `load(rep)` (the workload's initial data
        load). The first repetition also pays the JVM launch."""
        reps_done = []
        for rep in range(reps):
            self.stop_session()
            with Stopwatch() as sw, self.traced():
                self.import_package(fresh=rep > 0)
                self.start_session()
                load(rep)
            reps_done.append(sw)
            self.sample_rss()
        self.setup_times = [sw.wall for sw in reps_done]
        self.setup_cpu = [sw.cpu for sw in reps_done]
        if self.trace:
            self.tracer.instrument(self.m.mods)
        return statistics.median(self.setup_cpu)

    def shutdown(self) -> None:
        """Stop Spark and its JVM and wait for the JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.stop_session()
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:  # the JVM may already be gone
            pass
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None

    # ---------------------------------------------------- operations
    def op(self, kind: str, fn, verify=None):
        """Run one operation `fn()` and time it; then (untimed) check
        its output with `verify(out)`, which returns None or a reason.
        An exception or a wrong output counts as a failed operation.
        Returns fn's output (None on failure). While `warming`, the
        operation is checked but neither timed nor traced; in a traced
        run the operations of each kind alternate traced and untraced,
        starting traced."""
        self.attempted += 1
        self._req += 1
        measured = not self.warming
        traced = (self.trace and measured
                  and len(self.latencies.get(kind, ())) % 2 == 0)
        self.tracer.enabled = traced
        self.tracer.request = self._req
        c0 = cpu_start()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"request.{kind}", kind="op"):
                out = fn()
        except Exception:
            self.tracer.enabled = False
            self.fail(f"{kind} #{self._req} raised:\n"
                      + traceback.format_exc())
            return None
        dt = time.perf_counter() - t0
        cpu = cpu_end() - c0
        self.sample_rss()
        self.tracer.enabled = False
        self.tracer.request = None
        if measured:
            self.latencies.setdefault(kind, []).append(dt)
            self.cpu.setdefault(kind, []).append(cpu)
            (self.lat_traced if traced else self.lat_untraced) \
                .setdefault(kind, []).append(dt)
        if verify is not None:
            try:
                err = verify(out)
            except Exception:
                err = "checker raised:\n" + traceback.format_exc()
            if err:
                self.fail(f"{kind} #{self._req}: {err}")
                return None
        return out

    def check(self, what: str, err: str | None) -> None:
        """A standalone correctness check (not a timed operation)."""
        self.attempted += 1
        if err:
            self.fail(f"{what}: {err}")

    def sample_rss(self) -> None:
        """Track the peak RSS of the process tree. Sampled between
        operations only, so the scan never lands in a measured one; the
        JVM rarely hands heap back, so its peak shows there too."""
        self.peak_rss_mb = max(self.peak_rss_mb, tree_rss_mb())

    def fail(self, msg: str) -> None:
        self.failed += 1
        print(f"[perfbench] FAILED {msg}", file=sys.stderr, flush=True)

    def loop(self, ops, min_ops: int = 1, quantum: int = 1) -> float:
        """Closed loop, one client: run `ops` (an iterator of zero-arg
        callables, each issuing one or more operations through `op`)
        until the time budget is spent, at least `min_ops` ran and the
        count is a multiple of `quantum` (whole request decks, so every
        run measures the same request mix). A traced run doubles both,
        so every operation kind runs traced and untraced. Returns the
        elapsed seconds."""
        if self.trace:
            min_ops, quantum = 2 * min_ops, 2 * quantum
        t0 = time.perf_counter()
        n = 0
        for step in ops:
            if (n >= min_ops and n % quantum == 0
                    and time.perf_counter() - t0 >= self.seconds):
                break
            step()
            n += 1
        elapsed = time.perf_counter() - t0
        self.phase_s["loop"] = elapsed
        self.heap_mb = self.retained_heap_mb()
        return elapsed

    def retained_heap_mb(self) -> float:
        """JVM heap still in use after full collections: what the
        session keeps resident (checkpoints, cached plans and frames,
        broadcast and listener state)."""
        jvm = self.spark.sparkContext._jvm
        rt = jvm.java.lang.Runtime.getRuntime()
        for _ in range(2):
            jvm.java.lang.System.gc()
        return (rt.totalMemory() - rt.freeMemory()) / 2**20

    def warm_up(self, ops, n: int) -> None:
        """Run `n` operations from `ops` untimed, so JIT compilation,
        lazy checkpoints and memos settle before measuring."""
        self.warming = True
        t0 = time.perf_counter()
        try:
            for _ in range(n):
                next(ops)()
        finally:
            self.warming = False
            self.phase_s["warm_up"] = time.perf_counter() - t0

    def all_latencies(self) -> list[float]:
        return [x for xs in self.latencies.values() for x in xs]

    def busy_s(self, kinds=None, cpu: bool = True) -> float:
        """Summed process-tree CPU (`cpu`) or wall seconds of the
        measured operations of `kinds` (all when None); the checker's
        work between operations is not counted."""
        src = self.cpu if cpu else self.latencies
        return sum(x for k, xs in src.items()
                   if kinds is None or k in kinds for x in xs)

    # ----------------------------------------------------- results
    def finish(self, e2e: dict) -> dict:
        """Shut down, then return the metric dict for the run's mode."""
        self.sample_rss()
        self.shutdown()
        self.e2e = e2e
        if not self.trace:
            return e2e
        self.tracer.restore()
        jobs, groups = parse_event_logs(os.path.join(self.rundir,
                                                     "eventlog"))
        stats = span_stats(self.tracer.spans, jobs, groups)
        self.self_times = self_time_table(self.tracer.spans, stats)
        extra = dict(self.extra_layers)
        extra["jvm.retained_heap_mb"] = self.heap_mb
        extra["process.peak_rss_mb"] = self.peak_rss_mb
        both = [k for k in self.lat_traced if k in self.lat_untraced]
        if both:
            extra["trace.overhead_ms"] = 1000 * statistics.fmean(
                statistics.median(self.lat_traced[k])
                - statistics.median(self.lat_untraced[k]) for k in both)
        return layer_metrics(self.tracer.spans, stats, extra)

    def write_trace(self, path: str) -> None:
        if self.trace:
            self.tracer.dump(path, {"workload": self.workload,
                                    "seed": self.seed, "e2e": self.e2e})

    def cleanup(self) -> None:
        shutil.rmtree(self.rundir, ignore_errors=True)
