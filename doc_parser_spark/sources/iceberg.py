"""Iceberg transcript source with a parquet stand-in.

The production job reads an Iceberg table of transcripts partitioned by
``bucket(N, conv_id)`` (the same bucket function pipeline.py uses for the
output manifest). The reader uses the Iceberg format when the runtime is on
the classpath and falls back to parquet directories otherwise (TESTDATA.md
parquet is the documented stand-in when no iceberg-spark-runtime jar is
present).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def read_transcripts(
    spark: SparkSession, source: str, fmt: str | None = None
) -> DataFrame:
    """Read the transcript table.

    source: an Iceberg table identifier (``lake.db.transcripts``) or a
    parquet path. fmt forces a reader; default auto-detects: identifiers
    without '/' read as tables, paths as parquet.
    """
    if fmt == "iceberg" or (fmt is None and "/" not in source):
        if not iceberg_available(spark):
            raise RuntimeError(
                "Iceberg runtime not on classpath; pass a parquet path or "
                "add iceberg-spark-runtime to spark.jars.packages"
            )
        return spark.read.format("iceberg").load(source)
    return spark.read.parquet(source)
