"""contract_queries: a fixed list of contract queries over seeded tables.

Each query is timed from the ``QUERIES[name](spark, sf_dir)`` call (the
frame build; Spark jobs started there are counted apart) through a parquet
write of its result, with caches released before each query. The written
results are compared, untimed, with each query's ``ORACLES`` DuckDB result.
A pass over the list takes about as long as a run measures, so a run makes
one pass: its wall is the sum of the timed queries, and the median query
latency is taken over them.
A traced run also times the incremental curation path layer by layer
(``curate_layers``).
"""

from __future__ import annotations

import time

from perfbench import curate_layers, inputs
from perfbench.harness import Bench, Op, fits, median

# name → family: headline queries plus those that carry the fork caches,
# the jobs run while a frame is built, and the kernel spread
QUERY_FAMILIES = {
    "b2_paragraphs": "extraction",
    "o1_compose_vectors": "extraction",
    "b14_hwpx_extract": "office_media",
    "dedup_cc_clusters": "dedup",
    "dedup_simhash": "dedup",
    "dedup_substring_spans": "dedup",
    "curate_assemble_v2": "curation",
    "quality_lm_nll": "curation",
    "graph_triangles": "search_graph",
    "text_tfidf_topk": "search_graph",
    "pricing_summary": "sql_temporal",
    "o3_interval_merge": "sql_temporal",
}
FAMILIES = tuple(dict.fromkeys(QUERY_FAMILIES.values()))


def _oracle_check(b: Bench, sf_dir: str, names: list[str]) -> list[str]:
    """Each written result must equal its oracle under the full gate's
    normalization (sorted columns, 4-dp floats, order-free rows) and be
    non-empty."""
    import duckdb

    from doc_parser_spark.plans.driver_queries import ORACLES
    from tools.full_gate import TABLES, _normalize

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')"
            )
        errors = []
        for name in names:
            got = _normalize(
                b.spark.read.parquet(b.path("queries", name)).toPandas()
            )
            exp = _normalize(con.sql(ORACLES[name]).df())
            if len(exp) == 0:
                errors.append(f"{name}: oracle result is empty")
            elif list(got.columns) != list(exp.columns) or not got.equals(exp):
                errors.append(f"{name}: result differs from its oracle")
        return errors
    finally:
        con.close()


def run(b: Bench, seed: int, seconds: float) -> dict:
    from doc_parser_spark.plans.driver_queries import QUERIES

    spark = b.spark
    sf_dir = b.path("sf")
    input_s = []
    for _ in range(3):
        t = time.perf_counter()
        inputs.write_contract_tables(seed, sf_dir)
        input_s.append(time.perf_counter() - t)

    warm_s = b.warm_python_workers()

    names = list(QUERY_FAMILIES)
    ops: list[Op] = []
    sweeps: list[float] = []
    t_start = time.perf_counter()
    while not sweeps or fits(t_start, seconds, sweeps[-1]):
        sweep = []
        for name in names:
            op = Op(f"s{len(sweeps)}-{name}", family=QUERY_FAMILIES[name])
            out = b.path("queries", name)
            with b.timed_op(op) as part:
                with part("build"):
                    df = QUERIES[name](spark, sf_dir)
                with part("run"):
                    df.write.mode("overwrite").parquet(out)
            sweep.append(op)
        ops += sweep
        sweeps.append(sum(op.wall_s for op in sweep))
    b.settle_jvm()

    layers: dict[str, float] = {}
    if b.trace:
        for fam in FAMILIES:
            fam_ops = [op for op in ops if op.family == fam]
            n = len(sweeps)
            key = f"plans.driver_queries.{fam}"
            layers[f"{key}.build_s"] = sum(op.build_s for op in fam_ops) / n
            layers[f"{key}.run_s"] = sum(op.run_s for op in fam_ops) / n
            layers[f"{key}.build_jobs"] = sum(op.build_jobs for op in fam_ops) / n
            layers[f"{key}.held_bytes"] = sum(op.held_bytes for op in fam_ops) / n

    # untimed: the last sweep's results against the oracles
    errors = _oracle_check(b, sf_dir, names)
    attempted, curate_ops = len(names), []
    if b.trace:
        curate = curate_layers.measure(b, seed)
        layers.update(curate["layers"])
        curate_ops = curate["ops"]
        attempted += curate["checked"]
        errors += curate["errors"]
    return {
        "ops": ops,
        "curate_ops": curate_ops,
        "setup": {"input_s": median(input_s), "warm_s": warm_s},
        "wall_samples": sweeps,
        "op_samples": [op.wall_s for op in ops],
        "items": len(names),
        "attempted": attempted,
        "failed": len(errors),
        "errors": errors,
        "layers": layers,
    }
