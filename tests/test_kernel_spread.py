"""_kernel_spread (driver_queries): the office/media query scaffolds'
pre-kernel parallelism fix. The contract documents table is one parquet
split at every scale factor, so the input always gets an explicit spread
repartition (AQE byte-coalescing must not fold it back)."""

from __future__ import annotations


class TestKernelSpread:
    def test_tiny_input_spreads(self, spark):
        from doc_parser_spark.plans.driver_queries import _kernel_spread

        docs = spark.range(100).selectExpr("id as doc_id", "'x' as text")
        docs = docs.coalesce(1)
        out = _kernel_spread(docs)
        target = 2 * spark.sparkContext.defaultParallelism
        assert out.rdd.getNumPartitions() == target
        plan = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted"
        )
        assert "REPARTITION_BY_NUM" in plan  # explicit N: AQE cannot coalesce
