"""SparkSession factory with the engine's scale-oriented defaults.

AQE on (runtime re-plan + skew-join splitting), Arrow on (pandas-UDF
kernels), UTC session timezone (oracle comparability), ANSI off (the
engine's comparisons follow the reference's permissive coercion semantics;
Spark 4 defaults ANSI on, which would turn bad casts into job failures
instead of unexpected-value counts).
"""

from __future__ import annotations

import os
from typing import Any, Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.types import StructType, TimestampType


def get_spark(
    cores: int | str | None = None,
    app: str = "great_expectations_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    # a full master URL ("local-cluster[2,4,4096]", "spark://...") passes through
    master = cores if isinstance(cores, str) and not cores.lstrip("*").isdigit() and cores != "*" \
        else f"local[{cores}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cores) * 2, 4)
        except (TypeError, ValueError):
            shuffle_partitions = 32
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def scan_aggregate(df: DataFrame, columns: list[Column]) -> dict[str, Any]:
    """The values of the aliased global aggregates ``columns`` over ``df``,
    by alias — what ``df.agg(*columns).first().asDict()`` returns — from
    ONE scan job with no exchange and no final-aggregate stage.

    The aggregates ride a fresh ``Observation`` (its name is a random
    UUID): each task keeps one aggregate buffer, and the driver merges the
    tasks' buffers as they finish. The frame's rows go to the ``noop``
    sink with an empty projection, so the scan reads only the columns the
    aggregates reference. Spark refuses DISTINCT aggregates in observed
    metrics (``INVALID_OBSERVED_METRICS``); that error surfaces as is.

    Cost of aggregates whose buffer keeps the column's values (the exact
    median and quantiles): every task's buffer travels to the driver,
    counts against ``spark.driver.maxResultSize`` and is merged on the
    scheduler's event loop. Over 10^7 distinct doubles (local[4], 8 files)
    an exact median plus quantiles took 324 s this way (172 CPU-s of it on
    that loop) and 115 s through ``df.agg``'s exchange to one reducer, and
    a 64 MiB ``maxResultSize`` failed the job; the GK sketch
    (``exact_median`` / ``exact_quantiles`` off) avoids both."""
    from pyspark.sql import Observation

    obs = Observation()
    df.observe(obs, *columns).select().write.format("noop").mode("overwrite").save()
    return obs.get


def local_frame(spark: SparkSession, rows: Iterable[Any],
                schema: str | StructType) -> DataFrame:
    """A small frame of Python rows (tuples, or dicts keyed by field name)
    built as one Arrow table, so Spark plans it as a ``LocalTableScan``.

    ``createDataFrame(list)`` pickles rows through a Python ``map`` over
    ``defaultParallelism`` partitions: every action on it starts Python
    workers. This frame runs no job to collect and no Python worker to
    write. Each row is first checked with the same verifier the list path
    uses, because pyarrow alone coerces silently (1.5 into a ``long``
    column becomes 1). Timestamps are refused: Arrow and the list path
    localize naive datetimes differently."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _make_type_verifier, _parse_datatype_string

    struct = _parse_datatype_string(schema) if isinstance(schema, str) else schema
    if any(isinstance(f.dataType, TimestampType) for f in struct.fields):
        raise TypeError("local_frame does not take timestamp columns")
    verify = _make_type_verifier(struct)
    names = struct.names
    columns: list[list[Any]] = [[] for _ in names]
    for row in rows:
        verify(row)
        values = [row.get(n) for n in names] if isinstance(row, dict) else row
        for col, v in zip(columns, values):
            col.append(v)
    arrow = to_arrow_schema(struct)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow)], schema=arrow)
    return spark.createDataFrame(table, struct)
