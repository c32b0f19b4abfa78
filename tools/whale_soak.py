"""Extreme whale-skew extraction soak.

The north rule requires salting skewed long-conversation keys.
``extract_turns`` routes by (conv_id, turn_idx) — turn_idx in the hash
means even a single whale conversation spreads across all partitions. This soak PROVES that at extreme skew: two 200,000-turn
whale conversations holding ~2/3 of all rows (100x the standing
5,000-turn verify probe), vs a uniform corpus of the same size.

Reported:
- routed-partition row and work (_proc_us) distribution max/mean for the
  production routing vs the NAIVE conv_id-only partitioning contrast
  (which pins each whale to one partition by construction);
- extraction throughput whale vs uniform, interleaved best-of-3 in one
  machine window (ratio ~1 = skew fully neutralized).

Usage (repo root): python tools/whale_soak.py [workdir]
Results table lives in docs/SCALE.md (round 7).
"""
from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def dist_stats(df, label):
    import pyspark.sql.functions as F

    rows = (
        df.groupBy(F.spark_partition_id().alias("p"))
        .count()
        .collect()
    )
    counts = sorted(r["count"] for r in rows)
    mean = sum(counts) / len(counts)
    return {
        "label": label,
        "partitions": len(counts),
        "rows_max": counts[-1],
        "rows_mean": round(mean, 1),
        "max_over_mean": round(counts[-1] / mean, 2),
    }


def main() -> None:
    work = sys.argv[1] if len(sys.argv) > 1 else "/tmp/whale_soak"
    os.makedirs(work, exist_ok=True)
    whale_path = os.path.join(work, "whale.parquet")
    uniform_path = os.path.join(work, "uniform.parquet")

    from doc_parser_spark.sources.transcripts import write_transcripts_parquet

    if not os.path.exists(whale_path):
        # 2 whales x 200k turns + ~200k normal turns = ~600k, 2/3 in 2 keys
        write_transcripts_parquet(
            whale_path, n_convs=20000, turns_mean=10, seed=11,
            whale_fraction=0.0001, whale_factor=20000,
        )
    if not os.path.exists(uniform_path):
        write_transcripts_parquet(
            uniform_path, n_convs=60000, turns_mean=10, seed=11,
            whale_fraction=0.0,
        )

    import pyspark.sql.functions as F

    from doc_parser_spark.operators.extract import extract_turns
    from doc_parser_spark.session import get_spark

    spark = get_spark(master="local[32]")
    rp = 64
    df = spark.read.parquet(whale_path)
    n_whale = df.count()
    whale_rows = (
        df.groupBy("conv_id").count().orderBy(F.desc("count")).limit(2).collect()
    )
    print(json.dumps({
        "corpus": "whale", "turns": n_whale,
        "top2_convs": {r["conv_id"]: r["count"] for r in whale_rows},
        "top2_share": round(
            sum(r["count"] for r in whale_rows) / n_whale, 3
        ),
    }), flush=True)

    # the same routing shuffle extract_turns runs before the parse
    turns = df.select("conv_id", "turn_idx", "text")
    routed = turns.repartition(rp, F.col("conv_id"), F.col("turn_idx"))
    naive = turns.repartition(rp, F.col("conv_id"))
    print(json.dumps(dist_stats(routed, "production routing (salted)")),
          flush=True)
    print(json.dumps(dist_stats(naive, "naive conv_id-only (contrast)")),
          flush=True)

    # per-partition WORK distribution under production routing
    out = extract_turns(df, route_partitions=rp, keep_metrics_cols=True)
    w = (
        out.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count("*").alias("rows"), F.sum("_proc_us").alias("us"))
        .collect()
    )
    us = sorted(r["us"] for r in w)
    mean_us = sum(us) / len(us)
    print(json.dumps({
        "label": "per-partition parse work (salted)",
        "partitions": len(us),
        "work_max_ms": round(us[-1] / 1e3, 1),
        "work_mean_ms": round(mean_us / 1e3, 1),
        "max_over_mean": round(us[-1] / mean_us, 2),
    }), flush=True)

    # throughput: whale vs uniform, interleaved best-of-3 (one window)
    dfu = spark.read.parquet(uniform_path)
    n_uniform = dfu.count()
    extract_turns(df.limit(256), route_partitions=rp).count()  # warm
    walls: dict[str, list[float]] = {"whale": [], "uniform": []}
    for _ in range(3):
        t0 = time.perf_counter()
        extract_turns(df, route_partitions=rp).count()
        walls["whale"].append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        extract_turns(dfu, route_partitions=rp).count()
        walls["uniform"].append(time.perf_counter() - t0)
    tps_w = n_whale / min(walls["whale"])
    tps_u = n_uniform / min(walls["uniform"])
    print(json.dumps({
        "whale_turns": n_whale, "uniform_turns": n_uniform,
        "whale_walls": [round(x, 2) for x in sorted(walls["whale"])],
        "uniform_walls": [round(x, 2) for x in sorted(walls["uniform"])],
        "whale_tps": round(tps_w, 1), "uniform_tps": round(tps_u, 1),
        "whale_over_uniform_tps": round(tps_w / tps_u, 3),
    }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
