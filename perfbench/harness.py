"""Shared plumbing of the perfbench workloads: session set-up, the
host-speed canary, statistics, spans, and the readers of Spark's own
status store.

Nothing here reaches inside the package under test: the benchmark times
calls into its public functions and reads what Spark itself records
(status store, ``StreamingQueryProgress``).
"""

from __future__ import annotations

import json
import math
import multiprocessing
import os
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: Root of the checkout (the directory holding ``perfbench/``).
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: Everything a run writes lives under here (gitignored).
WORK = os.path.join(ROOT, ".bench_work")

#: Percentiles ``tail_percentile`` may report, lowest first.
TAIL_CANDIDATES = (50.0, 90.0, 99.0, 99.9)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """Driver heap: a quarter of host RAM, at most 2 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return min(2048, total_kb // 1024 // 4)


def prepare_env(cpus: int) -> None:
    """Session environment, set before ``bench`` or the package is
    imported: ``bench`` fills unset variables with its own defaults
    (``local[16]`` among them), and every scratch path must stay inside
    the checkout."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_memory_mb()}m"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session():
    """``session.get_spark`` with the bench posture (``bench`` sets it on
    import) plus scratch paths inside the checkout."""
    import bench  # noqa: F401  (applies the bench session defaults)
    from lambda_arc_events_filter_spark.session import fixture_conf, get_spark

    tmp = os.path.join(WORK, "tmp")
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    conf = {
        **fixture_conf(),
        # A fixed, pre-touched heap: otherwise G1's sizing decisions and
        # how much of the heap a run happens to touch moved the peak
        # resident set by up to a third between runs.
        "spark.driver.extraJavaOptions": (
            f"-Xms{heap} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        "spark.ui.showConsoleProgress": "false",
    }
    return get_spark("perfbench", extra_conf=conf)


def describe(spark) -> dict:
    """What the run ran on, emitted with every result."""
    import duckdb

    sc = spark.sparkContext
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "aqe": spark.conf.get("spark.sql.adaptive.enabled"),
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "nproc": nproc(),
        "spark": spark.version,
        "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
    }


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a hung JVM must not outlive the run
            proc.kill()
            proc.wait(timeout=30)


# --------------------------------------------------------------------------
# Child processes
# --------------------------------------------------------------------------

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (Linux):
    a process whose parent exits first (a PySpark worker daemon after its
    JVM, the JVM of a killed child run) becomes a child of this one, so
    ``reap_children`` can wait for it."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _children() -> list[int]:
    me = str(os.getpid())
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = f.read().rsplit(")", 1)[1].split()[1]
        except OSError:  # exited meanwhile
            continue
        if ppid == me:
            out.append(int(name))
    return out


def reap_children(grace_s: float = 5.0) -> None:
    """Wait until this process has no child left.  Children get
    ``grace_s`` to exit on their own, then SIGTERM, then SIGKILL; orphans
    adopted meanwhile are waited for too."""
    import signal
    from multiprocessing import resource_tracker

    # The tracker the spawn pool started exits when its pipe closes.
    resource_tracker._resource_tracker._stop()
    sig = None
    deadline = time.time() + grace_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] != 0:
                pass
        except ChildProcessError:
            return
        if time.time() >= deadline:
            sig = signal.SIGTERM if sig is None else signal.SIGKILL
            for pid in _children():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.time() + grace_s
        time.sleep(0.05)


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus the driver JVM."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return vm_hwm_mb() + vm_hwm_mb(jvm_pid)


# --------------------------------------------------------------------------
# Host speed
# --------------------------------------------------------------------------


def _spin(n: int) -> int:
    x = 0
    for i in range(n):
        x += i
    return x


class HostProbe:
    """A canary for the speed of the host: a fixed pure-Python loop run on
    every core at once, in worker processes of its own.

    A virtual machine shares its cores with other tenants: on a 4-core VM
    this canary, timed over a minute, swings by a third between phases a
    few seconds long, and an op's wall time swings with it.  The canary is sampled
    between ops, after the driver JVM has gone quiet (its background JIT
    and GC work would slow the canary too), and keeps the fastest of a
    few tries.  ``factor`` rescales a time measured between two samples to
    a host that runs the canary in ``REF_S``.
    """

    WORK = 500_000
    #: Canary seconds on a quiet 4-core host; sets the scale only.
    REF_S = 0.034
    TRIES = 3
    QUIET_WAIT_S = 0.4

    def __init__(self, workers: int):
        self.workers = workers
        self.jvm_pid: int | None = None
        self.samples: list[tuple[float, float]] = []  # (epoch s, canary s)
        self._pool = multiprocessing.get_context("spawn").Pool(workers)
        self._pool.map(_spin, [1] * workers)

    def _jvm_cpu_ticks(self) -> int:
        with open(f"/proc/{self.jvm_pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return int(fields[11]) + int(fields[12])

    def _wait_quiet(self) -> None:
        """Wait (bounded) until the JVM burns under a fifth of a core."""
        if self.jvm_pid is None:
            return
        end = time.time() + self.QUIET_WAIT_S
        while time.time() < end:
            before = self._jvm_cpu_ticks()
            time.sleep(0.05)
            if self._jvm_cpu_ticks() - before <= 1:
                return

    def sample(self) -> float:
        self._wait_quiet()
        best = math.inf
        for _ in range(self.TRIES):
            t = time.perf_counter()
            self._pool.map(_spin, [self.WORK] * self.workers, chunksize=1)
            best = min(best, time.perf_counter() - t)
        self.samples.append((time.time(), best))
        return best

    def factor(self, samples) -> float:
        """Multiplier from times measured around ``samples`` to the
        reference host."""
        return self.REF_S / median(samples)

    def factor_around(self, start: float, end: float) -> float:
        """``factor`` of the last sample before ``start`` and the first
        after ``end``."""
        before = [s for t, s in self.samples if t <= start][-1:]
        after = [s for t, s in self.samples if t >= end][:1]
        return self.factor(before + after)


    def close(self) -> None:
        self._pool.close()
        self._pool.join()
        # Dropping the pool runs its semaphores' finalizers now: run at
        # interpreter exit, they would restart the resource tracker.
        self._pool = None


# --------------------------------------------------------------------------
# Statistics
# --------------------------------------------------------------------------


def percentile(samples, p: float) -> float:
    """Linear-interpolated percentile (NumPy's default method)."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(samples, beyond: int = 10) -> float | None:
    """The highest of ``TAIL_CANDIDATES`` with at least ``beyond`` samples
    above it, or None when even the median has fewer."""
    best = None
    for p in TAIL_CANDIDATES:
        if len(samples) * (100 - p) / 100 >= beyond - 1e-9:
            best = p
    return best


def median(xs, default: float = 0.0) -> float:
    return statistics.median(xs) if xs else default


def mean(xs, default: float = 0.0) -> float:
    return statistics.fmean(xs) if xs else default


def covered_ms(start: float, end: float, intervals) -> float:
    """Milliseconds of [start, end] (seconds) covered by the union of
    ``intervals`` (seconds)."""
    clipped = sorted(
        (max(a, start), min(b, end)) for a, b in intervals if b > start and a < end
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total * 1000


@dataclass
class Run:
    """What a workload hands back to ``run.py``."""

    attempted: int
    failed: int
    latencies_ms: list
    warmup_s: float
    layers: dict
    detail: dict
    peak_rss_mb: float
    #: Per latency sample, the (start, end) epoch seconds it spans, for
    #: the host-speed rescale.
    op_spans: list


def overhead_pct(traced_ms, plain_ms) -> float:
    """Percent by which the traced ops' median exceeds the untraced ops'."""
    if not traced_ms or not plain_ms:
        return 0.0
    return (median(traced_ms) / median(plain_ms) - 1) * 100


def spark_means(ops: list[dict]) -> dict:
    """Per-op means of the status-store totals, as ``spark.*`` metrics."""
    keys = STAGE_FIELDS + ("coord_ms",)
    return {f"spark.{k}": mean([o[k] for o in ops]) for k in keys}


# --------------------------------------------------------------------------
# Spans
# --------------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    op: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000


@dataclass
class Tracer:
    """In-memory spans; written out once, when the run ends."""

    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, op: str):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, op, parent, time.time())
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s.__dict__, "self_ms": selfs[s.id]}) + "\n")


def self_times(spans) -> dict[int, float]:
    """Self time per span id: its duration minus the part of its interval
    that its child spans cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    return {
        s.id: s.ms
        - covered_ms(s.start, s.end, [(c.start, c.end) for c in children.get(s.id, [])])
        for s in spans
    }


# --------------------------------------------------------------------------
# Spark status store
# --------------------------------------------------------------------------

STAGE_FIELDS = (
    "jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms", "gc_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "tasks_failed",
)


def drain_listener_bus(spark) -> None:
    """Wait until the status store has seen every event posted so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)


def group_stage_stats(spark, group: str) -> tuple[dict, list[tuple[float, float]]]:
    """Totals over the submitted jobs of a job group, and their stages'
    active intervals.  Read per op, so the status store's retention limit
    cannot drop them."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    stats = dict.fromkeys(STAGE_FIELDS, 0.0)
    intervals = []
    stage_ids = set()
    for jid in tracker.getJobIdsForGroup(group):
        if store.job(jid).submissionTime().isEmpty():
            continue
        stats["jobs"] += 1
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    from py4j.protocol import Py4JJavaError

    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # a stage that was never submitted (skipped)
            continue
        if sd.submissionTime().isEmpty():
            continue
        stats["stages"] += 1
        stats["tasks"] += sd.numTasks()
        stats["task_run_ms"] += sd.executorRunTime()
        stats["task_cpu_ms"] += sd.executorCpuTime() / 1e6
        stats["gc_ms"] += sd.jvmGcTime()
        stats["shuffle_read_bytes"] += sd.shuffleReadBytes()
        stats["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        stats["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        stats["tasks_failed"] += sd.numFailedTasks()
        start = sd.submissionTime().get().getTime() / 1000
        end = (
            sd.completionTime().get().getTime() / 1000
            if not sd.completionTime().isEmpty()
            else start
        )
        intervals.append((start, end))
    return stats, intervals


class ProgressListener:
    """Collects ``StreamingQueryProgress`` JSON of every query through a
    ``StreamingQueryListener``; attach only in traced runs."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                events.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _L()


def progress_layer(progress: list[dict]) -> dict:
    """``stream.*``/``sources.*``/``state.*`` medians over the progress
    records of batches that read input."""
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]

    def dur(key):
        return median([p["durationMs"].get(key, 0) for p in batches])

    state = [op for p in batches for op in p.get("stateOperators", [])]
    return {
        "stream.trigger_ms": dur("triggerExecution"),
        "stream.add_batch_ms": dur("addBatch"),
        "stream.wal_commit_ms": dur("walCommit"),
        "stream.commit_offsets_ms": dur("commitOffsets"),
        "stream.query_planning_ms": dur("queryPlanning"),
        "stream.rows_per_batch": median([p["numInputRows"] for p in batches]),
        "stream.batches": len(batches),
        "sources.latest_offset_ms": dur("latestOffset"),
        "sources.get_batch_ms": dur("getBatch"),
        "state.rows_total": median([s.get("numRowsTotal", 0) for s in state]),
        "state.memory_bytes": median([s.get("memoryUsedBytes", 0) for s in state]),
        "state.commit_ms": median([s.get("commitTimeMs", 0) for s in state]),
    }
