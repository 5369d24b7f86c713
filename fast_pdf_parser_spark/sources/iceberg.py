"""Iceberg table access — gated, with a parquet fallback.

The north rule's input is "an Iceberg table of interleaved text + media
documents". This sandbox image ships no Iceberg runtime jars, so the
connector is import/config-gated: when a SparkSession has an Iceberg catalog
configured (``spark.sql.catalog.<name>`` with the Iceberg implementation),
reads/writes go through ``format("iceberg")`` / ``writeTo`` — giving the
pipeline hidden-partitioning, snapshot isolation, and time travel for the
checkpoint/resume story; otherwise the same API falls back to plain parquet
directories (identical schema, identical pipeline semantics — the pipeline
never depends on the table format).

The checkpoint design (plans/checkpoint.py) maps directly: it already
commits the way a table format does — immutable data files in a fresh
``attempt=N`` dir, made visible by an append to the checkpoint (log)
table. On Iceberg the wave write is literally an append to a
bucket-partitioned table, whose snapshot commit plays the lineage row's
part, with the same write-data-then-commit ordering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg catalog is configured AND the runtime jar is on
    the classpath."""
    confs = spark.sparkContext.getConf().getAll()
    has_catalog = any(
        k.startswith("spark.sql.catalog.") and "iceberg" in v.lower()
        for k, v in confs
    )
    if not has_catalog:
        return False
    try:
        spark._jvm.org.apache.iceberg.Schema  # noqa: B018
        return True
    except Exception:
        return False


def read_documents(spark: SparkSession, location: str) -> DataFrame:
    """Read the interleaved-span documents table from an Iceberg table name
    (``catalog.db.table``) or a parquet path."""
    if iceberg_available(spark) and not location.startswith("/"):
        return spark.read.format("iceberg").load(location)
    return spark.read.parquet(location)


def write_results(df: DataFrame, location: str, mode: str = "append") -> None:
    """Write pipeline results to an Iceberg table or a parquet path."""
    spark = df.sparkSession
    if iceberg_available(spark) and not location.startswith("/"):
        writer = df.writeTo(location)
        (writer.append() if mode == "append" else
         writer.createOrReplace())
    else:
        df.write.mode("overwrite" if mode != "append" else "append") \
            .parquet(location)
