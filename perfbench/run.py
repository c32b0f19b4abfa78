"""Benchmark entry point.

    python3 perfbench/run.py --workload extract_batch --seed 1 --seconds 27 --trace 0

Run from the repository root. One process starts Spark at ``local[nproc]``
through ``doc_parser_spark.session.get_spark``, makes the workload's inputs
from ``--seed``, sets up, runs operations in a closed loop with one client
for ``--seconds``, checks the outputs and prints, as its last line, one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` the run also writes Spark's event log, times each layer
from outside, and reports the per-layer metrics instead.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

from perfbench import eventlog  # noqa: E402
from perfbench.harness import (  # noqa: E402
    WORK_DIR,
    Bench,
    MemorySampler,
    configure_launch,
    cores,
    median,
    source_sha,
    tail_percentile,
)

WORKLOADS = ("extract_batch", "contract_queries")
# per-layer metrics that are the event log's per-operation figures
SPARK_LAYERS = ("jobs", "stages", "tasks", "shuffle_write_bytes",
                "shuffle_read_bytes", "spill_bytes", "task_skew", "python_s",
                "arrow_bytes", "driver_s")


def _git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True,
            timeout=10, check=True,
        )
        return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def _clean_work_dir(work: str) -> None:
    """Start from an empty work directory; only ``records`` (results kept
    for cross-run checks) survives between runs."""
    os.makedirs(work, exist_ok=True)
    for name in os.listdir(work):
        if name != "records":
            shutil.rmtree(os.path.join(work, name), ignore_errors=True)
    os.makedirs(os.path.join(work, "records"), exist_ok=True)


def _spark_rows(per: dict[str, dict], ops) -> list[dict]:
    """The event-log figures of each operation; the driver-only time is
    the op's wall not covered by any of its stages."""
    rows = []
    for op in ops:
        rec = dict(per.get(op.op_id) or eventlog.new_op())
        rec["driver_s"] = max(
            0.0, (op.t1 - op.t0) - eventlog.covered_s(rec["intervals"], op.t0, op.t1)
        )
        rows.append(rec)
    return rows


def _spark_layers(events: list[dict], res: dict) -> dict[str, float]:
    """Event-log figures per timed pass (one job, or one sweep of the
    query list); the task skew is the median over operations."""
    per = eventlog.per_op(events)
    rows = _spark_rows(per, res["ops"])
    passes = len(res["wall_samples"])
    out = {
        f"spark.{k}": sum(r[k] for r in rows) / passes
        for k in SPARK_LAYERS if k != "task_skew"
    }
    out["spark.task_skew"] = median([r["task_skew"] for r in rows])
    curate = _spark_rows(per, res.get("curate_ops", []))
    if curate:
        out["plans.curate.jobs_per_batch"] = median([r["jobs"] for r in curate])
        out["plans.curate.stages_per_batch"] = median([r["stages"] for r in curate])
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    trace = bool(args.trace)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    # fail before starting anything when the program is not here
    importlib.import_module("doc_parser_spark.session")
    module = importlib.import_module(f"perfbench.{args.workload}")

    work = os.path.join(ROOT, WORK_DIR)
    _clean_work_dir(work)
    configure_launch(work, trace)

    t_run = time.perf_counter()
    with MemorySampler() as rss:
        bench = Bench(work, trace)
        try:
            res = module.run(bench, args.seed, args.seconds)
        finally:
            bench.stop()
    ops = res["ops"]

    wall_s = median(res["wall_samples"])
    op_p50 = median(res["op_samples"])
    end_to_end = {
        "setup_s": bench.session_s + sum(res["setup"].values()),
        "wall_s": wall_s,
        "op_p50_s": op_p50,
        "items_per_s": res["items"] / wall_s,
        "memory_mb": (
            rss.python_peak_bytes + bench.jvm_live_heap_bytes
            + bench.jvm_nonheap_bytes
        ) / 2**20,
    }
    per_pass = len(ops) // len(res["wall_samples"])
    wall_n = f"n={len(res['wall_samples'])}"
    if per_pass > 1:
        wall_n += f" pass of {per_pass} ops"
    samples = {
        "wall_s": wall_n,
        "op_p50_s": f"n={len(res['op_samples'])}",
        "items_per_s": wall_n,
    }
    sha = source_sha()
    # the traced run's overhead is taken against the untraced run of the
    # same code and seed
    record = os.path.join(
        work, "records", f"untraced-{args.workload}-{args.seed}-{sha}.json"
    )
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": cores(),
        "master": f"local[{bench.cores}]",
        "spark": importlib.import_module("pyspark").__version__,
        "pyarrow": importlib.import_module("pyarrow").__version__,
        "python": platform.python_version(),
        "git_commit": _git_commit(),
        "source_sha256": sha,
        "ops": {op.op_id: round(op.wall_s, 4) for op in ops},
        "run_s": time.perf_counter() - t_run,
        "setup": {"session_s": bench.session_s, **res["setup"]},
        "errors": res["errors"],
        "memory_mb": {
            "python_pss_peak": rss.python_peak_bytes / 2**20,
            "jvm_live_heap": bench.jvm_live_heap_bytes / 2**20,
            "jvm_nonheap": bench.jvm_nonheap_bytes / 2**20,
            "rss_peak": rss.peak_bytes / 2**20,
        },
    }
    tail = tail_percentile(res["op_samples"])
    if tail:
        info[f"op_p{tail[0]}_s"] = tail[1]

    if trace:
        layers = dict(res["layers"])
        layers.update(
            _spark_layers(
                eventlog.read_event_log(os.path.join(work, "eventlog")), res
            )
        )
        layers["trace.op_p50_s"] = op_p50
        layers["memory.rss_peak_mb"] = rss.peak_bytes / 2**20
        layers["memory.python_pss_peak_mb"] = rss.python_peak_bytes / 2**20
        layers["memory.jvm_live_heap_mb"] = bench.jvm_live_heap_bytes / 2**20
        # no untraced run of this code and seed yet: the overhead is unknown
        info["trace_overhead_share"] = None
        if os.path.exists(record):
            with open(record) as f:
                base = json.load(f)["op_p50_s"]
            info["trace_overhead_share"] = op_p50 / base - 1
            info["untraced_op_p50_s"] = base
        wanted, values = spec["per_layer"], layers
    else:
        with open(record, "w") as f:
            json.dump({"op_p50_s": op_p50}, f)
        wanted, values = spec["end_to_end"], end_to_end

    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    for name, m in metrics.items():
        n = samples.get(name, "") if not trace else ""
        print(f"{name:48s} {m['value']:>16.6g} {m['unit']:6s} {n}")
    print(json.dumps({"info": info}))
    correct = not res["errors"]
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": int(res["attempted"]),
                "failed": int(res["failed"]),
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
