"""SparkSession factory with the configs the pipeline relies on, and the
one ownership rule for fork caches.

Arrow transfer on, AQE on (runtime re-plan + skew handling), shuffle
partitions sized for the local harness but overridable for cluster runs.
With a ``local``/``local-cluster`` master every Python worker is forked
from ``doc_parser_spark.daemon``, which has already imported the
worker-side modules and frozen them out of the garbage collector's reach.
That daemon starts before any task puts its ``--py-files`` on the path, so
it needs the driver's own copy of the package, which only executors on the
driver's host can read. Any other master keeps pyspark's stock daemon, and
the package ``__init__`` installs the zip fix in its workers.

A fork point is an intermediate frame that two or more branches of one
plan read; persisting it keeps each branch from re-deriving it. Spark's
CacheManager holds a persisted frame until something unpersists it —
garbage collection of the Python frame does not — so every persist that
outlives the function making it goes through ``fork``, and the caller
that runs the terminal action owns the release through a ``ForkCache``.
"""

from __future__ import annotations

import os
from contextvars import ContextVar

from pyspark.sql import DataFrame, SparkSession

ARROW_BATCH_ROWS = 1024  # rows per Arrow batch sent to Python workers (R1 analog)

# where the driver imported the package from: a directory or a --py-files zip
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "doc_parser_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    files_max_partition_bytes: str = "32m",
) -> SparkSession:
    """files_max_partition_bytes defaults low (32m) because local benches read
    a handful of medium parquet files; a real cluster reading an Iceberg table
    with well-sized data files should pass "128m"."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS)
        )
        .config("spark.sql.files.maxPartitionBytes", files_max_partition_bytes)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # the worker daemon imports the package before any task can add the
    # --py-files to its path, so it runs only where the driver's copy,
    # appended to the workers' path, is on the executors' filesystem
    same_host = master.startswith("local")
    if same_host:
        builder = builder.config(
            "spark.python.daemon.module", "doc_parser_spark.daemon"
        )
    spark = builder.getOrCreate()
    if same_host:
        env = spark.sparkContext.environment
        paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
        if PACKAGE_ROOT not in paths:
            env["PYTHONPATH"] = os.pathsep.join([*paths, PACKAGE_ROOT])
    return spark


_FORKS: ContextVar[ForkCache | None] = ContextVar("fork_cache", default=None)


def fork(df: DataFrame) -> DataFrame:
    """Persist the fork point ``df`` and register it with the innermost
    entered ``ForkCache``; with none entered, only persist."""
    df = df.persist()
    forks = _FORKS.get()
    if forks is not None:
        forks.append(df)
    return df


class ForkCache(list):
    """The forks persisted while this scope is entered. Leaving the
    ``with`` block only stops collecting — the action that runs after it
    still reads them; ``release()`` then unpersists them all."""

    def __enter__(self) -> ForkCache:
        self._token = _FORKS.set(self)
        return self

    def __exit__(self, *exc) -> None:
        _FORKS.reset(self._token)

    def release(self) -> None:
        for df in self:
            df.unpersist()
        self.clear()
