"""Shared pieces of the benchmark: run directories, statistics, the
process-tree memory sampler, session set-up and Spark's own counters.

Nothing here starts a thread, a process or the JVM at import time.
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import tempfile
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
DATA_DIR = BENCH_DIR / "data" / "sf0.01"
WORK_DIR = BENCH_DIR / ".work"
RSS_INTERVAL_S = 0.2


# -- statistics -----------------------------------------------------------


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100]) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty list")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50.0)


def geomean(values) -> float:
    xs = list(values)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench: [{time.perf_counter() - _T0:6.1f} s] {msg}", file=sys.stderr, flush=True)


# -- run directory and environment ---------------------------------------


def prepare_run_dir(name: str) -> Path:
    """A fresh directory for this run, inside the checkout, and point
    every temp-file user (Python, the JVM, Spark scratch, the engine's
    warehouse) at it. Must run before the JVM starts."""
    run_dir = WORK_DIR / f"{name}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(run_dir / "warehouse")
    # For every JVM started from here (Spark's launcher and the driver):
    # temp files in the run directory, and no hsperfdata file in /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    return run_dir


def import_engine():
    """Import the engine from the checkout root; exit non-zero when it
    is not there (the benchmark measures nothing without it)."""
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    try:
        import local_stream_stack_spark  # noqa: F401
        from local_stream_stack_spark.queries import QUERIES  # noqa: F401
    except ImportError as ex:
        log(f"cannot import the engine from {ROOT}: {ex}")
        sys.exit(2)


# -- memory of the process tree ------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_rss_bytes(root_pid: int, exclude: set[int]) -> dict[int, tuple[str, int]]:
    """{pid: (name, RSS bytes)} over a process tree."""
    kids = _children_map()
    page = os.sysconf("SC_PAGE_SIZE")
    out: dict[int, tuple[str, int]] = {}
    stack = [root_pid]
    while stack:
        pid = stack.pop()
        if pid in exclude:
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page
            with open(f"/proc/{pid}/comm") as f:
                name = f.read().strip()
        except OSError:
            continue
        out[pid] = (name, rss)
        stack.extend(kids.get(pid, ()))
    return out


class RssSampler:
    """Samples the RSS of this process and its descendants (JVM, Python
    workers) until stopped; ``exclude`` holds pids whose subtree is not
    counted (the load generator). A process counts from its second
    sample on: a child the JVM forks to exec a helper (``chmod``) shows
    the JVM's whole RSS for a few milliseconds and would count it twice."""

    def __init__(self):
        self.exclude: set[int] = set()
        self.peak = 0
        self.peak_by_name: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        root, prev = os.getpid(), set()
        while not self._stop.is_set():
            tree = tree_rss_bytes(root, self.exclude)
            held = [v for pid, v in tree.items() if pid in prev or pid == root]
            total = sum(rss for _, rss in held)
            if total > self.peak:
                self.peak, self.peak_by_name = total, {}
                for name, rss in held:
                    self.peak_by_name[name] = self.peak_by_name.get(name, 0) + rss
            prev = set(tree)
            self._stop.wait(RSS_INTERVAL_S)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; return the peak in MB."""
        if self._stop.is_set():
            return self.peak / 2**20
        self._stop.set()
        self._thread.join(timeout=5)
        parts = ", ".join(f"{k} {v / 2**20:.0f}" for k, v in sorted(self.peak_by_name.items()))
        log(f"peak RSS {self.peak / 2**20:.0f} MB ({parts})")
        return self.peak / 2**20


# -- session set-up -------------------------------------------------------


@dataclass
class Setup:
    total_s: float  # from the given start until the session took work
    start_s: float  # get_spark()
    warmup_s: float  # one trivial job plus one Python worker


def start_session(cores: int, t0: float):
    """Start the engine's session and make it take work: one trivial JVM
    job and one Python worker. ``t0`` is when this set-up began (process
    start for the first one)."""
    from local_stream_stack_spark.session import ensure_package_shipped, get_spark

    a = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    b = time.perf_counter()
    spark.range(16).count()
    ensure_package_shipped(spark)
    spark.sparkContext.parallelize([1, 2], 2).map(lambda x: x + 1).collect()
    c = time.perf_counter()
    return spark, Setup(total_s=c - t0, start_s=b - a, warmup_s=c - b)


def restart_session(spark, cores: int):
    """Stop the session and set it up again in the same JVM."""
    spark.stop()
    return start_session(cores, time.perf_counter())


def compose_pipeline(spark, tracer, cfg_path: Path):
    """Load, build and compose a YAML ``Pipeline``, timing each layer.
    Returns (the composed DataFrame, {metric name: seconds})."""
    from local_stream_stack_spark.config import load_pipeline_config
    from local_stream_stack_spark.pipeline import Pipeline

    t0 = time.perf_counter()
    with tracer.span("pipeline.load"):
        cfg = load_pipeline_config(str(cfg_path))
    t1 = time.perf_counter()
    with tracer.span("pipeline.build"):
        pipe = Pipeline(spark, cfg).build()
    t2 = time.perf_counter()
    with tracer.span("pipeline.compose"):
        df = pipe.dataframe()
    t3 = time.perf_counter()
    return df, {"pipeline.load_s": t1 - t0, "pipeline.build_s": t2 - t1, "pipeline.compose_s": t3 - t2}


# -- Spark's own counters -------------------------------------------------


@dataclass
class ExecTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0

    def add(self, other: "ExecTotals") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class SparkCounters:
    """Reads task-level counters for the jobs of one job group from the
    application status store (the same store the Spark UI reads; it is
    kept with the UI disabled).

    Task time is the sum of stage ``executorRunTime``, not executor
    ``totalDuration``: the latter advances with wall time even while no
    task runs. Each stage is counted once per run, by the first window
    whose jobs include it after it completed, so a stage reused (and
    skipped) by a later job is not counted twice.
    """

    spark: object
    seen_stages: set = field(default_factory=set)

    def __post_init__(self):
        sc = self.spark.sparkContext
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self._jsc.listenerBus().waitUntilEmpty()

    def group_totals(self, group: str) -> ExecTotals:
        self.drain()
        tracker = self._sc.statusTracker()
        out = ExecTotals()
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            out.jobs += 1
            for sid in info.stageIds:
                if sid in self.seen_stages:
                    continue
                sd = self._store.lastStageAttempt(sid)
                if sd.status().toString() not in ("COMPLETE", "FAILED"):
                    continue
                self.seen_stages.add(sid)
                out.stages += 1
                out.tasks += sd.numCompleteTasks() + sd.numFailedTasks()
                out.task_s += sd.executorRunTime() / 1000.0
                out.gc_s += sd.jvmGcTime() / 1000.0
                out.shuffle_write_bytes += sd.shuffleWriteBytes()
                out.shuffle_read_bytes += sd.shuffleReadBytes()
                out.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out

    def storage_bytes(self) -> int:
        """Bytes held by persisted RDDs (``localCheckpoint`` pins among them)."""
        return sum(r.memSize() + r.diskSize() for r in self._jsc.getRDDStorageInfo())
