"""Per-operation Spark metrics read from Spark's own event log.

Every job the benchmark starts carries a job group ``<op_id>:<phase>``
(``Bench.phase``); stages inherit it. This module sums stage, task and
SQL-metric figures per ``op_id``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

# SQL metrics of the MapInPandas / ArrowEvalPython nodes, as stage
# accumulables (timing metrics are in ms, size metrics in bytes)
_PY_TIME = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_BACK = "data returned from Python workers"


def new_op() -> dict:
    return {
        "jobs": 0,
        "stages": 0,
        "tasks": 0,
        "shuffle_write_bytes": 0,
        "shuffle_read_bytes": 0,
        "spill_bytes": 0,
        "python_s": 0.0,
        "arrow_bytes": 0,
        "intervals": [],
        "stage_task_ms": defaultdict(list),
        "task_skew": 1.0,
    }


def read_event_log(log_dir: str) -> list[dict]:
    files = [
        f for f in glob.glob(os.path.join(log_dir, "*"))
        if not f.endswith(".inprogress")
    ]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}")
    with open(files[0]) as f:
        return [json.loads(line) for line in f]


def per_op(events: list[dict]) -> dict[str, dict]:
    """op_id → summed figures plus ``intervals`` (stage [start, end] epoch
    ms) and ``task_skew`` (max / median task time of the op's busiest
    stage)."""
    ops: dict[str, dict] = defaultdict(new_op)
    stage_op: dict[int, str] = {}

    def group_of(props: dict | None) -> str | None:
        g = (props or {}).get("spark.jobGroup.id")
        return g.rsplit(":", 1)[0] if g else None

    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            op = group_of(ev.get("Properties"))
            if op:
                ops[op]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            op = group_of(ev.get("Properties"))
            if op:
                stage_op[ev["Stage Info"]["Stage ID"]] = op
        elif kind == "SparkListenerTaskEnd":
            op = stage_op.get(ev["Stage ID"])
            if op is None:
                continue
            rec = ops[op]
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            rec["tasks"] += 1
            rec["stage_task_ms"][ev["Stage ID"]].append(
                info["Finish Time"] - info["Launch Time"]
            )
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            rec["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            rec["shuffle_read_bytes"] += sr.get(
                "Remote Bytes Read", 0
            ) + sr.get("Local Bytes Read", 0)
            rec["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            op = stage_op.get(si["Stage ID"])
            if op is None:
                continue
            rec = ops[op]
            rec["stages"] += 1
            rec["intervals"].append(
                (si["Submission Time"], si["Completion Time"])
            )
            for acc in si.get("Accumulables", []):
                name, value = acc.get("Name"), acc.get("Value")
                if name == _PY_TIME:
                    rec["python_s"] += int(value) / 1000.0
                elif name in (_PY_SENT, _PY_BACK):
                    rec["arrow_bytes"] += int(value)

    for rec in ops.values():
        busiest = max(rec["stage_task_ms"].values(), key=sum, default=[])
        med = statistics.median(busiest) if busiest else 0
        rec["task_skew"] = max(busiest) / med if med > 0 else 1.0
    return dict(ops)


def covered_s(intervals: list[tuple[int, int]], t0: float, t1: float) -> float:
    """Seconds of [t0, t1] (epoch s) covered by at least one stage."""
    lo_ms, hi_ms = t0 * 1000, t1 * 1000
    spans = sorted(
        (max(a, lo_ms), min(b, hi_ms)) for a, b in intervals
        if b > lo_ms and a < hi_ms
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total / 1000.0
