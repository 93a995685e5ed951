"""Iceberg table source/sink for the production deployment shape.

The north rule targets Iceberg tables of Common-Crawl-style web pages at
10^12 rows. This module is the thin, catalog-aware boundary: everything
else in the engine operates on plain DataFrames, so local tests run on
parquet while production reads ``spark.read.format("iceberg")``.

No Iceberg runtime jar ships in this sandbox — every entry point degrades
with a clear error (or falls back to parquet when given a path), and
``iceberg_available()`` lets callers branch.

Production session configs (documented here, applied by get_spark
``extra_conf`` when a catalog is configured):

    spark.sql.catalog.<name> = org.apache.iceberg.spark.SparkCatalog
    spark.sql.catalog.<name>.type = hive | hadoop | rest
    spark.sql.extensions = org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions

Why Iceberg matters to THIS engine at 10^12 rows:
  * partition transforms (e.g. ``days(warc_ts)``, ``bucket(N, url)``)
    line up with Splitter.date_part / hashed_column — a checkpoint chunk
    prunes to its own files instead of rescanning the table;
  * min/max column stats skip files for range expectations before a
    single row is read;
  * snapshot ids give the validation run a stable input ("validate
    snapshot S"), recorded in the lineage rows;
  * the results table is an append-only Iceberg table partitioned by
    (run_id) — concurrent chunk writers never conflict.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from great_expectations_spark.checkpoint import RESULTS_SCHEMA


def iceberg_available(spark: SparkSession) -> bool:
    """True iff an Iceberg catalog implementation is on the classpath."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def read_table(spark: SparkSession, table_or_path: str, snapshot_id: int | None = None) -> DataFrame:
    """Read an Iceberg table by catalog name, or fall back to parquet for
    a filesystem path (the local test shape).

    ``snapshot_id`` pins time travel for reproducible validation runs.
    """
    if "/" in table_or_path or table_or_path.endswith(".parquet"):
        return spark.read.parquet(table_or_path)
    if not iceberg_available(spark):
        raise RuntimeError(
            "Iceberg runtime not on classpath; pass a parquet path for local "
            "runs or add iceberg-spark-runtime to spark.jars.packages"
        )
    reader = spark.read.format("iceberg")
    if snapshot_id is not None:
        reader = reader.option("snapshot-id", str(snapshot_id))
    return reader.load(table_or_path)


def current_snapshot_id(spark: SparkSession, table: str) -> int | None:
    """Snapshot id recorded into checkpoint lineage (None for parquet)."""
    if not iceberg_available(spark):
        return None
    row = spark.sql(
        f"SELECT snapshot_id FROM {table}.snapshots ORDER BY committed_at DESC LIMIT 1"
    ).first()
    return int(row[0]) if row else None


def write_results(
    df: DataFrame,
    table_or_path: str,
    mode: str = "append",
    partition_by: tuple[str, ...] = ("run_id",),
) -> None:
    """Append validation-result rows; Iceberg table when available, else
    partitioned parquet with an identical layout."""
    spark = df.sparkSession
    # same routing rule as read_table: a path-shaped target means parquet
    if "/" in table_or_path or table_or_path.endswith(".parquet"):
        df.write.mode(mode).partitionBy(*partition_by).parquet(table_or_path)
        return
    if not iceberg_available(spark):
        raise RuntimeError("Iceberg runtime not on classpath")
    if mode == "append":
        df.writeTo(table_or_path).append()
    elif mode == "overwrite":
        # keep the engine's partition layout when (re)creating the table —
        # a bare createOrReplace() would drop the (run_id) partitioning the
        # concurrent-chunk-writer design depends on
        df.writeTo(table_or_path).using("iceberg").partitionedBy(
            *[F.col(c) for c in partition_by]
        ).createOrReplace()
    else:
        raise ValueError(
            f"write_results supports mode='append' or 'overwrite', got {mode!r}")


def _results_columns() -> list[tuple[str, str]]:
    """RESULTS_SCHEMA as (name, SQL type) pairs, in order."""
    columns = []
    for field in RESULTS_SCHEMA.split(","):
        name, _, ftype = field.strip().partition(" ")
        columns.append((name, "bigint" if ftype == "long" else ftype))
    return columns


def migrate_results_table(spark: SparkSession, results_table: str) -> list[str]:
    """Bring an existing results table up to the current RESULTS_SCHEMA.

    ``plan_table_ddl`` uses CREATE TABLE IF NOT EXISTS, which no-ops on a
    table bootstrapped by an older engine — a writer producing newer
    columns (e.g. ``monoid_json``, added for the chunk-monoid rollup)
    would then fail ``writeTo(...).append()``. Run this once per upgrade:
    it ALTERs in any RESULTS_SCHEMA column the table lacks (Iceberg ADD
    COLUMN is a metadata-only operation; existing rows read the new
    columns as NULL, which every reader here treats as "no payload").
    Returns the list of columns added."""
    current = {f.lower() for f in spark.table(results_table).columns}
    added = []
    for name, ftype in _results_columns():
        if name.lower() not in current:
            spark.sql(
                f"ALTER TABLE {results_table} ADD COLUMN {name} {ftype}")
            added.append(name)
    return added


def plan_table_ddl(results_table: str) -> str:
    """DDL for the production results table (documentation + bootstrap) —
    its columns are generated from the checkpoint RESULTS_SCHEMA, in order
    (``long`` → ``bigint``), so writeTo(...).append()
    resolves against a fresh table; for a table created by an OLDER engine
    version, run ``migrate_results_table`` first (IF NOT EXISTS will not
    add new columns to an existing table). Input snapshot ids belong to
    the lineage JSON inside chunk_predicate, not extra columns the writers
    never produce."""
    columns = ",\n".join(f"  {name} {ftype}" for name, ftype in _results_columns())
    return f"""
CREATE TABLE IF NOT EXISTS {results_table} (
{columns}
) USING iceberg
PARTITIONED BY (run_id)
"""


def session_conf_for_catalog(name: str, catalog_type: str = "hadoop",
                             warehouse: str | None = None) -> dict[str, Any]:
    """extra_conf dict for sources.session.get_spark on a real cluster."""
    conf = {
        f"spark.sql.catalog.{name}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{name}.type": catalog_type,
        "spark.sql.extensions":
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
    }
    if warehouse:
        conf[f"spark.sql.catalog.{name}.warehouse"] = warehouse
    return conf
