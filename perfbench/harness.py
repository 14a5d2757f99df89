"""Process-level plumbing shared by the workloads: the Spark session, the
timed operations (wall and CPU time), memory high-water marks, host steal
and shutdown."""

from __future__ import annotations

import os
import time
from contextlib import contextmanager


def cores() -> int:
    """Cores this process may run on; the session runs ``local[cores]``."""
    return len(os.sched_getaffinity(0))


def process_start_epoch() -> float:
    """Wall-clock time this process started, from ``/proc`` (10 ms
    resolution): the origin of ``setup_s``."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    now = time.time()
    return now - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


class Op:
    """One timed operation: its type, wall and CPU seconds, its epoch
    interval (to attribute Spark jobs to it), the seconds until its build
    step returned (a DataFrame built, before any action), and in a traced
    run what the JVM and Spark report about it."""

    def __init__(self, kind: str):
        self.type = kind
        self.wall = self.cpu = self.build = 0.0
        self.start = self.end = 0.0
        self.extra: dict = {}
        self._t0 = 0.0

    def built(self) -> None:
        """Mark the end of the build step."""
        self.build = time.perf_counter() - self._t0


class Run:
    """One benchmark invocation: its work directory, session, timed
    operations and checks. Workloads receive it and add to it."""

    def __init__(self, work: str, trace: bool, seed: int, wrong_expected: bool = False):
        self.work = work
        self.trace = trace
        self.seed = seed
        self._wrong_expected = wrong_expected
        self.spark = None
        self.registry = None
        self.tracer = None
        self.event_log_dir = os.path.join(work, "eventlog")
        self.setup: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.ops: list[Op] = []
        # Closed loops in the measured window (a pass, a table, a replay
        # round); per-layer totals are reported per loop.
        self.loops = 0
        self.window_start = None  # epoch of the first timed operation
        self.window_end = None
        self.shape: list[dict] = []  # per-loop table shape (lakehouse, traced)
        self.ingest_rows = 0  # rows one lakehouse ingest writes
        self.steal = None  # /proc/stat at the window start, then the share

    # -- setup --

    def start(self) -> None:
        """Import the engine, build its session and load its registry,
        timing each step into ``self.setup``."""
        from biglake_iceberg_python_spark.plans import registry as reg
        from biglake_iceberg_python_spark.session import build_session

        t1 = time.perf_counter()
        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            os.makedirs(self.event_log_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.event_log_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        n = cores()
        self.spark = build_session(
            "perfbench",
            master=f"local[{n}]",
            shuffle_partitions=n,
            warehouse_dir=os.path.join(self.work, "warehouse"),
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.cpu = CpuClock(_jvm_pid())
        self.jvm = JvmCounters(self.spark)
        t2 = time.perf_counter()
        self.registry = reg.load_all()
        t3 = time.perf_counter()
        self.setup.update({"session.build_s": t2 - t1, "registry.load_s": t3 - t2})
        self._warm_t0 = time.perf_counter()

    def mark_setup_done(self) -> None:
        """End of the warm-up: what ran since ``start`` is ``setup.warm_s``."""
        self.setup["setup.warm_s"] = time.perf_counter() - self._warm_t0

    # -- checks --

    def check(self, ok: bool, what: str) -> None:
        """Count one checked outcome; a failure is recorded, never dropped."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    def wrong_once(self) -> bool:
        """True for the first check of a run started with
        ``--wrong-expected``: that check compares against a deliberately
        wrong expected result, which the self-test uses to prove failures
        are counted."""
        wrong, self._wrong_expected = self._wrong_expected, False
        return wrong

    # -- measurement --

    def housekeeping(self) -> None:
        """Between operations, outside the timing: drop cached relations,
        ask the JVM to collect, and wait for the process tree to go quiet,
        so one operation's heap, cleanup and queued JIT compilations do not
        bill the next."""
        self.spark.catalog.clearCache()
        self.spark.sparkContext._jvm.System.gc()
        self.cpu.settle()

    @contextmanager
    def op(self, kind: str, measured: bool = True):
        """Time one operation of type ``kind``. Unmeasured operations
        (warm-up) run the same code and are dropped. In a traced run the
        JVM's JIT, GC and code-generation counters are read around it
        (outside the timed interval)."""
        rec = Op(kind)
        if self.trace:
            jit0, gc0, codegen0 = self.jvm.read()
        if measured and self.window_start is None:
            self.window_start = time.time()
            self.steal = _cpu_stat()
        c0 = self.cpu()
        rec.start = time.time()
        rec._t0 = time.perf_counter()
        yield rec
        rec.wall = time.perf_counter() - rec._t0
        c1 = self.cpu(opening=False)
        rec.end = rec.start + rec.wall
        rec.cpu = c1 - c0
        if self.trace:
            jit1, gc1, codegen1 = self.jvm.read()
            rec.extra.update(
                jit_ms=jit1 - jit0, gc_ms=gc1 - gc0, codegen_compiles=codegen1 - codegen0
            )
        if measured:
            self.ops.append(rec)

    def end_window(self) -> None:
        """Close the measured window: the host's CPU steal share over it."""
        self.window_end = time.time()
        before, after = self.steal, _cpu_stat()
        total = sum(after) - sum(before)
        self.steal = (after[7] - before[7]) / total if total else 0.0

    # -- teardown --

    def stop(self) -> None:
        """Stop Spark, then the JVM, then wait for every process this run
        started to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        deadline = time.time() + 30
        while _descendants(os.getpid()) and time.time() < deadline:
            time.sleep(0.1)
        for pid in _descendants(os.getpid()):
            try:
                os.kill(pid, 9)
                os.waitpid(pid, 0)
            except (ProcessLookupError, ChildProcessError):
                pass


class JvmCounters:
    """Cumulative JVM counters: HotSpot compile time (ms), garbage
    collection time (ms) and Spark's generated-code compilations."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self._compile = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def read(self) -> tuple[int, int, int]:
        return (
            self._compile.getTotalCompilationTime(),
            sum(max(0, g.getCollectionTime()) for g in self._gcs),
            self._codegen.getCount(),
        )


def _cpu_stat() -> list[int]:
    """The aggregate ``cpu`` line of ``/proc/stat``: user, nice, system,
    idle, iowait, irq, softirq, steal (clock ticks)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class CpuClock:
    """CPU seconds used so far by this process, the driver JVM and the
    JVM's Python workers, leaving out the JVM's JIT compiler threads and
    G1's concurrent marking threads.

    Both left-out kinds are background work whose timing moves from run to
    run: compilation is warm-up (reported on its own as ``jvm.jit_ms``),
    and a G1 marking cycle starts when old-generation occupancy crosses an
    adaptive threshold. Over one analytic window the marking threads used
    1.8 to 3.7 s of CPU in most runs and 7.5 s in one, which alone moved
    ``op_cpu_ms`` by half. Stop-the-world GC work stays counted.

    Readings have nanosecond resolution (``/proc`` clock ticks are 10 ms,
    coarser than the shortest operations): this process from
    ``time.process_time``, every other thread from its ``schedstat``.
    Threads come and go, so each one's last reading is kept after it
    exits."""

    # Thread names (``comm``, at most 15 characters) of the left-out kinds.
    BACKGROUND = ("CompilerThre", "G1 Conc#")

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self._names: dict[int, str] = {}
        self._ns: dict[int, int] = {}  # last reading of every thread seen
        self._background: set[int] = set()

    def __call__(self, opening: bool = True) -> float:
        """The reading. This process's own time is taken after reading the
        other threads when ``opening`` an interval and before when closing
        it, so the reading's own cost stays outside the interval."""
        own = time.process_time()
        threads, background = self._threads()
        if opening:
            own = time.process_time()
        return own + threads - background

    def _threads(self) -> tuple[float, float]:
        """CPU seconds of every other thread in the tree, and of the
        left-out background threads among them."""
        jvm_tasks = f"/proc/{self.jvm_pid}/task"
        for tid in map(int, os.listdir(jvm_tasks)):
            if tid not in self._names:
                try:
                    with open(f"{jvm_tasks}/{tid}/comm") as fh:
                        self._names[tid] = fh.read()
                except OSError:
                    continue
                if any(b in self._names[tid] for b in self.BACKGROUND):
                    self._background.add(tid)
            self._sample(tid, f"{jvm_tasks}/{tid}")
        for pid in _descendants(self.jvm_pid):
            for task in _tasks(pid):
                self._sample(int(task.rsplit("/", 1)[1]), task)
        background = sum(self._ns.get(t, 0) for t in self._background)
        return sum(self._ns.values()) / 1e9, background / 1e9

    def _sample(self, tid: int, task_dir: str) -> None:
        try:
            with open(f"{task_dir}/schedstat") as fh:
                self._ns[tid] = int(fh.read().split()[0])
        except OSError:  # exited: keep its last reading
            pass

    def settle(self, busy_cores: float = 0.3, step_s: float = 0.05, limit_s: float = 2.0) -> None:
        """Wait until the process tree, background threads included,
        uses less than ``busy_cores`` over one ``step_s`` interval, or
        ``limit_s`` has passed."""
        deadline = time.perf_counter() + limit_s
        last = self._threads()[0]
        while time.perf_counter() < deadline:
            time.sleep(step_s)
            now = self._threads()[0]
            if now - last < busy_cores * step_s:
                return
            last = now


def _tasks(pid: int) -> list[str]:
    """The ``/proc`` directories of a process's threads; none once it exits."""
    try:
        return [f"/proc/{pid}/task/{t}" for t in os.listdir(f"/proc/{pid}/task")]
    except OSError:
        return []


def _schedstat_ns(task_dir: str) -> int:
    """Nanoseconds a thread has run on a CPU; 0 if it has gone."""
    try:
        with open(f"{task_dir}/schedstat") as fh:
            return int(fh.read().split()[0])
    except OSError:
        return 0


def _jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def peak_rss_mb() -> float:
    """Sum of the resident-memory high-water marks (VmHWM) of this process
    and every live descendant: the driver JVM and Python workers."""
    total_kb = 0
    for pid in [os.getpid(), *_descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
