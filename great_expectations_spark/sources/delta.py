"""Delta Lake results-table twin of the Iceberg boundary (iceberg.py).

The checkpoint sink's results table is format-pluggable: parquet (always
available), Iceberg (sources/iceberg.py), or Delta via this module. No
delta-spark jar ships in this sandbox, so — like Iceberg — every entry
point degrades with a clear error and ``delta_available()`` lets callers
and tests branch (the resume/rollup tests parameterize over formats and
skip cleanly when the jar is absent).

Why Delta serves the same 10^12-row design as the Iceberg notes:
transactional appends mean concurrent chunk writers never observe a
half-committed results table (parquet needs the engine's write lock for
this); data-skipping stats prune ``run_id`` lookups on resume; and OPTIMIZE
compaction keeps the many tiny per-chunk appends readable.

Production session configs (documentation; applied via get_spark
``extra_conf``):

    spark.sql.extensions = io.delta.sql.DeltaSparkSessionExtension
    spark.sql.catalog.spark_catalog = org.apache.spark.sql.delta.catalog.DeltaCatalog
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession


def delta_available(spark: SparkSession) -> bool:
    """True iff the Delta Lake runtime is on the classpath."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.delta.catalog.DeltaCatalog")
        return True
    except Exception:
        return False


def require_delta(spark: SparkSession) -> None:
    if not delta_available(spark):
        raise RuntimeError(
            "Delta runtime not on classpath; use results_format='parquet' "
            "for local runs or add delta-spark to spark.jars.packages plus "
            "the DeltaSparkSessionExtension session configs")


def read_results(spark: SparkSession, path: str) -> DataFrame:
    require_delta(spark)
    return spark.read.format("delta").load(path)


def write_results(df: DataFrame, path: str, mode: str = "append") -> None:
    """Append validation-result rows as a Delta commit. Schema evolution
    (mergeSchema) is on so a table begun by an older engine gains the new
    columns; the parquet path instead reads with RESULTS_SCHEMA pinned, so
    its older files read the missing columns as NULL."""
    require_delta(df.sparkSession)
    (
        df.write.format("delta")
        .mode(mode)
        .option("mergeSchema", "true")
        .save(path)
    )


def session_conf() -> dict[str, Any]:
    """extra_conf dict for sources.session.get_spark on a delta-equipped
    cluster."""
    return {
        "spark.sql.extensions": "io.delta.sql.DeltaSparkSessionExtension",
        "spark.sql.catalog.spark_catalog":
            "org.apache.spark.sql.delta.catalog.DeltaCatalog",
    }
