"""Python-worker CPU per task of a trivial mapInArrow job.

Each timed job is ``--tasks`` partitions of a few rows through a
``mapInArrow`` that passes its batches through, so what the workers burn
is the fixed cost of a Python task: task set-up in pyspark's worker
(including its ``importlib.invalidate_caches()``), UDF unpickling and the
Arrow stream. Two passthroughs are timed: one that imports
``doc_parser_spark`` (as every extraction task does) and one that imports
nothing from it. CPU is utime + stime of every Python process under this
one, read from ``/proc`` before and after each job; the workers are
reused, so the delta is what the job cost them.

Usage (from the repo root — Spark python workers import doc_parser_spark
from the launching process's working directory):

    python tools/worker_cpu.py [--tasks 4] [--jobs 10]

Prints one JSON line: per passthrough, median python CPU per task and
median job wall.
"""
from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench.harness import descendants  # noqa: E402

TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def python_cpu_s() -> float:
    total = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1 : stat.rindex(")")]
        if comm.startswith("python"):
            fields = stat.rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])  # utime, stime
    return total * TICK_S


def passthrough_package(batches):
    import doc_parser_spark  # noqa: F401  (what every extraction task imports)

    yield from batches


def passthrough_bare(batches):
    yield from batches


def time_job(job, tasks: int, jobs: int) -> dict:
    for _ in range(3):  # start the workers and let each run a task
        job.write.format("noop").mode("overwrite").save()
    cpu, wall = [], []
    for _ in range(jobs):
        c0, t0 = python_cpu_s(), time.perf_counter()
        job.write.format("noop").mode("overwrite").save()
        wall.append(time.perf_counter() - t0)
        time.sleep(0.5)  # let the workers finish their task epilogue
        cpu.append((python_cpu_s() - c0) / tasks)
    return {
        "python_cpu_per_task_s": round(statistics.median(cpu), 3),
        "job_wall_s": round(statistics.median(wall), 3),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tasks", type=int, default=4)
    ap.add_argument("--jobs", type=int, default=10)
    args = ap.parse_args()

    from doc_parser_spark.session import get_spark

    spark = get_spark(master=f"local[{args.tasks}]", shuffle_partitions=args.tasks)
    df = spark.range(0, 16 * args.tasks, numPartitions=args.tasks)
    # the bare passthrough runs first, so its workers have not imported
    # the package through an earlier task
    timed = {
        fn.__name__: time_job(
            df.mapInArrow(fn, schema=df.schema), args.tasks, args.jobs
        )
        for fn in (passthrough_bare, passthrough_package)
    }
    spark.stop()
    print(json.dumps({
        "python": sys.version.split()[0],
        "tasks": args.tasks,
        **timed,
    }))


if __name__ == "__main__":
    main()
