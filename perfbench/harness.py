"""Session launch, timing, cache hygiene and clean shutdown for the workloads.

Everything the benchmark writes lives under ``WORK_DIR`` in the current
directory: inputs, outputs, Spark's local and temp directories, the
warehouse and the event log.
"""

from __future__ import annotations

import gc
import glob
import hashlib
import math
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager, suppress
from dataclasses import dataclass, field

WORK_DIR = ".bench_work"
CLEANER_WAIT_S = 1.0  # for Spark's context cleaner between two collections


def cores() -> int:
    return len(os.sched_getaffinity(0))


def source_sha() -> str:
    """Digest of the package and benchmark sources, which identifies the
    code version also where the checkout is not a git repository."""
    h = hashlib.sha256()
    files = glob.glob("doc_parser_spark/**/*.py", recursive=True)
    for p in sorted(files + glob.glob("perfbench/*.py")):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def median(values) -> float:
    return float(statistics.median(values))


def fits(t_start: float, seconds: float, last_s: float) -> bool:
    """Whether one more operation as long as the last one still ends within
    ``seconds`` of ``t_start``, so the timed phase never overruns by most of
    an operation."""
    return time.perf_counter() - t_start + last_s <= seconds


def tail_percentile(values) -> tuple[int, float] | None:
    """The highest percentile with at least ten samples above it, as
    ``(p, value)`` by nearest rank; ``None`` below eleven samples."""
    n = len(values)
    if n < 11:
        return None
    p = math.floor(100 * (n - 10) / n)
    rank = max(1, math.ceil(p / 100 * n))
    return p, float(sorted(values)[rank - 1])


def configure_launch(work: str, trace: bool) -> None:
    """Point every Spark and Python scratch path into ``work`` and, when
    tracing, switch on a plain single-file event log. Must run before the
    first SparkSession is created: the settings ride the JVM launch."""
    for sub in ("tmp", "spark-local", "eventlog", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.abspath(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.abspath(
        os.path.join(work, "spark-local")
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    confs = {
        # -UsePerfData stops the JVM writing /tmp/hsperfdata_*
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.abspath(
            os.path.join(work, "warehouse")
        ),
    }
    if trace:
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://"
                + os.path.abspath(os.path.join(work, "eventlog")),
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            }
        )
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: shared pages are split between the processes
    sharing them, so forked children (Python workers, and the JVM's
    short-lived fork before an exec) are not counted twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


class MemorySampler:
    """Peak resident memory of this process and all its descendants (the
    Spark JVM and its Python workers), sampled from /proc: of the whole
    tree, and of its Python processes alone."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.python_peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        pss = {p: _pss_bytes(p) for p in [me, *descendants(me)]}
        self.peak_bytes = max(self.peak_bytes, sum(pss.values()))
        python = sum(v for p, v in pss.items() if not _is_jvm(p))
        self.python_peak_bytes = max(self.python_peak_bytes, python)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> "MemorySampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


@dataclass
class Op:
    """One timed operation: a job, a batch or a query."""

    op_id: str
    family: str = ""
    t0: float = 0.0  # epoch seconds
    t1: float = 0.0
    build_s: float = 0.0
    run_s: float = 0.0
    build_jobs: int = 0
    held_bytes: int = 0
    info: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.build_s + self.run_s


class Bench:
    """A started SparkSession plus the bookkeeping every workload shares."""

    def __init__(self, work: str, trace: bool):
        self.work = work
        self.trace = trace
        self.cores = cores()
        t0 = time.perf_counter()
        from doc_parser_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=2 * self.cores,
            files_max_partition_bytes="4m",
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext

    def path(self, *parts: str) -> str:
        return os.path.abspath(os.path.join(self.work, *parts))

    def fresh_dir(self, *parts: str) -> str:
        p = self.path(*parts)
        shutil.rmtree(p, ignore_errors=True)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def release_caches(self) -> None:
        """Drop cached tables and any RDD a previous operation left
        persisted, so each operation starts from a cold block store."""
        self.spark.catalog.clearCache()
        for rdd in self.sc._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)

    def held_bytes(self) -> int:
        return sum(
            int(i.memSize()) + int(i.diskSize())
            for i in self.sc._jsc.sc().getRDDStorageInfo()
        )

    def settle_jvm(self) -> None:
        """Record the memory the JVM still holds after the timed phase: its
        heap after a full collection (live data: cached blocks, broadcasts,
        driver state) plus its non-heap use (class metadata, compiled code).
        Unlike the JVM's resident size, this does not depend on how far the
        collector chose to grow the heap.

        Python's collector runs first, so py4j releases the JVM objects of
        dead Python proxies; a first JVM collection lets Spark's context
        cleaner drop the broadcasts and shuffles of unreachable plans, and a
        second one after that frees their memory."""
        jvm = self.sc._jvm
        gc.collect()
        jvm.java.lang.System.gc()
        time.sleep(CLEANER_WAIT_S)
        jvm.java.lang.System.gc()
        mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        self.jvm_live_heap_bytes = int(mx.getHeapMemoryUsage().getUsed())
        self.jvm_nonheap_bytes = int(mx.getNonHeapMemoryUsage().getUsed())

    def jobs_in_group(self, group: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(group))

    @contextmanager
    def phase(self, op_id: str, name: str):
        """Tag the Spark jobs started inside the block as ``op_id:name``."""
        self.sc.setJobGroup(f"{op_id}:{name}", op_id)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def timed_op(self, op: Op):
        """Time one operation: ``build`` covers building the frame (jobs
        started there are counted separately), ``run`` the action."""
        self.release_caches()
        op.t0 = time.time()
        stamps = {}

        @contextmanager
        def part(name: str):
            with self.phase(op.op_id, name):
                t = time.perf_counter()
                try:
                    yield
                finally:
                    stamps[name] = time.perf_counter() - t

        yield part
        op.t1 = time.time()
        op.build_s = stamps.get("build", 0.0)
        op.run_s = stamps.get("run", 0.0)
        op.build_jobs = self.jobs_in_group(f"{op.op_id}:build")
        op.held_bytes = self.held_bytes()

    def warm_python_workers(self) -> float:
        """Start one Python worker per core through an identity
        ``mapInPandas`` so no timed operation pays for worker start-up."""

        def identity(batches):
            yield from batches

        df = self.spark.range(0, 64 * self.cores, numPartitions=self.cores)
        return self.noop_s(df.mapInPandas(identity, schema=df.schema), "warmup")

    def noop_s(self, df, group: str) -> float:
        """Wall time of one action that consumes every row of ``df``."""
        with self.phase(group, "run"):
            t = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t

    def stop(self) -> None:
        """Stop Spark, close the JVM gateway and wait for every process
        this run started to exit."""
        from pyspark import SparkContext

        started = descendants(os.getpid())
        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None) if gateway else None
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.time() + 30
        while time.time() < deadline and any(map(_alive, started)):
            time.sleep(0.1)
        for pid in filter(_alive, started):
            with suppress(ProcessLookupError):
                os.kill(pid, 9)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
