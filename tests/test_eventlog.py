"""``perfbench/eventlog.py::per_op`` on the event log of a tiny fixed job.

The benchmark's per-layer Spark figures (jobs, stages, tasks, shuffle
bytes, python-worker seconds, Arrow bytes) all come from this parser. The
job runs in its own process: the event log must be configured before the
JVM starts.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

from perfbench.eventlog import per_op, read_event_log

ROOT = Path(__file__).resolve().parent.parent

# local[2], AQE off and two shuffle partitions: one job of two stages and
# 2 + 2 tasks, whatever the machine
_JOB = """
import sys, time
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

log_dir = sys.argv[1]
spark = (
    SparkSession.builder.master("local[2]").appName("eventlog-test")
    .config("spark.eventLog.enabled", "true")
    .config("spark.eventLog.dir", "file://" + log_dir)
    .config("spark.eventLog.rolling.enabled", "false")
    .config("spark.eventLog.compress", "false")
    .config("spark.sql.adaptive.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)


def slow_identity(batches):
    for batch in batches:
        time.sleep(0.05)  # python-worker time the metric must see
        yield batch


df = spark.range(0, 2000, numPartitions=2).withColumn("k", F.col("id") % 7)
spark.sparkContext.setJobGroup("tiny:run", "tiny")
rows = df.mapInArrow(slow_identity, schema=df.schema).groupBy("k").count().collect()
assert sum(r["count"] for r in rows) == 2000
spark.stop()
"""


def test_per_op_parses_a_tiny_job(tmp_path):
    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    subprocess.run(
        [sys.executable, "-c", _JOB, str(log_dir)],
        cwd=ROOT, check=True, timeout=300,
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    ops = per_op(read_event_log(str(log_dir)))
    assert set(ops) == {"tiny"}
    op = ops["tiny"]
    assert (op["jobs"], op["stages"], op["tasks"]) == (1, 2, 4)
    assert op["shuffle_write_bytes"] > 0
    assert op["shuffle_read_bytes"] > 0
    assert op["python_s"] > 0
    assert op["arrow_bytes"] > 0
    assert op["spill_bytes"] == 0
    assert len(op["intervals"]) == 2
