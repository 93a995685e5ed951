"""Grouped validation: per-group suite verdicts in ONE scan, as a DataFrame.

The reference can only validate a group at a time by carving batches
(split_and_sample/sparkdf_data_splitter.py) and running the whole suite per
batch — k groups = k scans, and the per-group results live in k JSON blobs.
Spark-first replacement: ``validate_by(df, suite, ["lang"])`` compiles the
suite's map conditions and aggregate observations into ONE
``df.groupBy(keys).agg(...)`` and returns a long-format DataFrame — one row
per (group, expectation) with counts, observed value, and success — never
collecting to the driver. Group cardinality is unbounded (url domains at
10^12-row scale are fine: the result IS a DataFrame; write it, join it,
filter it).

Semantics reuse, not reimplementation: map conditions come from the SAME
``MAP_KERNELS`` registry the fused validator uses (include/ok Columns,
row_condition composition, NULL-is-not-unexpected coalesce, mostly ratio —
mirroring plans/compiler._compile_map), and the mostly-success expression
is the same whole-table formula ``checkpoint.rollup`` applies to merged
counts. Aggregate observations come from the metric registry
(``interactive.metric_aggs``), so medians, quantiles and distinct counts
take the same exact-or-sketch form under ``Options`` as in ``validate``
(exact quantile ranges through ``validate``'s own rank-based aggregate,
``compiler._exact_quantiles_agg``, not the registry's interpolated one);
their between-bounds evaluate as Column predicates per group.

Out of scope (raise, or ``on_unsupported="skip"``): expectations needing
eager jobs or cross-row state beyond the group — distinct-set membership/
KL/chi-square/KS, increasing/decreasing, schema-level checks. Those have
whole-table semantics; run them through ``validate``/``run_checkpoint``.
Groupable beyond map conditions: aggregate betweens, quantile ranges
(success only), distinct counts/proportions, and uniqueness-WITHIN-group
(``expect_column_values_to_be_unique`` — its own (keys, value) two-stage
shuffle joined back null-safely).
"""

from __future__ import annotations

import dataclasses
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from great_expectations_spark.core.suite import ExpectationSuite
from great_expectations_spark.functions.conditions import MAP_KERNELS
from great_expectations_spark.interactive import metric_aggs
from great_expectations_spark.plans.compiler import (
    _STRING_ONLY_MAP_TYPES,
    CompileError,
    Options,
    _exact_quantiles_agg,
    _row_condition,
)

# aggregate expectation -> registry metric (interactive.metric_aggs) whose
# aggregate is the group's observed value
_AGG_METRICS = {
    "expect_column_mean_to_be_between": "column.mean",
    "expect_column_sum_to_be_between": "column.sum",
    "expect_column_min_to_be_between": "column.min",
    "expect_column_max_to_be_between": "column.max",
    "expect_column_stdev_to_be_between": "column.standard_deviation",
    "expect_column_median_to_be_between": "column.median",
    "expect_column_unique_value_count_to_be_between":
        "column.distinct_values.count",
    "expect_column_proportion_of_unique_values_to_be_between":
        "column.unique_proportion",
    "expect_table_row_count_to_be_between": "table.row_count",
    "expect_table_row_count_to_equal": "table.row_count",
}
_NUMERIC_METRICS = {"column.mean", "column.sum", "column.min", "column.max",
                    "column.standard_deviation", "column.median"}


def _observed(metric: str, kwargs: dict[str, Any], o: Options) -> Column:
    """The registry's aggregate for ``metric`` as one double Column over
    the group (the proportion's ratio composed JVM-side)."""
    exprs, _ = metric_aggs(metric, kwargs, o)
    if metric == "column.unique_proportion":
        return F.when(exprs["n"] > 0, exprs["d"].cast("double") / exprs["n"])
    return exprs["v"].cast("double")


def _between_cond(obs: Column, kwargs: dict[str, Any]) -> Column:
    """``_between_success`` as a Column predicate (numeric bounds only —
    grouped evaluation keeps every comparison JVM-side)."""
    cond = obs.isNotNull()
    lo, hi = kwargs.get("min_value"), kwargs.get("max_value")
    for b in (lo, hi):
        if b is not None and not isinstance(b, (int, float)):
            raise CompileError(
                f"grouped validation supports numeric bounds only, got {b!r}")
    if lo is not None:
        cond = cond & (obs > F.lit(lo) if kwargs.get("strict_min") else obs >= F.lit(lo))
    if hi is not None:
        cond = cond & (obs < F.lit(hi) if kwargs.get("strict_max") else obs <= F.lit(hi))
    return cond


def _numeric(df: DataFrame, c: str) -> None:
    if c not in df.columns:
        raise CompileError(f"column not found: {c!r}")
    if not isinstance(df.schema[c].dataType, T.NumericType):
        raise CompileError(
            f"grouped aggregate expectations need a numeric column, "
            f"{c!r} is {df.schema[c].dataType.simpleString()}")


def validate_by(
    df: DataFrame,
    suite: ExpectationSuite,
    group_by: list[str] | str,
    options: Options | None = None,
    on_unsupported: str = "raise",
) -> DataFrame:
    """One row per (group, expectation): group keys + ``expectation_index``,
    ``expectation_type``, ``element_count``, ``missing_count``,
    ``unexpected_count`` (map expectations; NULL for aggregates),
    ``observed_value`` (aggregates, double; NULL for maps), ``success``.

    The whole suite is ONE ``groupBy(group_by).agg(...)`` — partial
    aggregation map-side, one shuffle on the group keys regardless of suite
    size or group count.
    """
    keys = [group_by] if isinstance(group_by, str) else list(group_by)
    o = options or Options()
    aggs: list[Column] = []
    rows: list[dict[str, Any]] = []  # per expectation: aliases + static cols
    aux_frames: list[DataFrame] = []  # per-group joins (uniqueness counts)

    def alias(expr: Column) -> str:
        a = f"m{len(aggs)}"
        aggs.append(expr.alias(a))
        return a

    for i, config in enumerate(suite.expectations):
        etype, kw = config.expectation_type, config.kwargs
        entry: dict[str, Any] = {"index": i, "type": etype, "kwargs": kw}
        try:
            if etype == "expect_column_values_to_be_unique" and not kw.get(
                    "row_condition"):
                # unique WITHIN group: needs its own (keys, value) two-stage
                # shuffle — counts per value, then rows-in-duplicated-values
                # per group — joined back null-safely. The compiler's
                # whole-table groupBy plan can't express per-group scope.
                c = kw["column"]
                if c not in df.columns:
                    raise CompileError(f"column not found: {c!r}")
                col = F.col(c)
                ua = f"u{i}"
                aux = (
                    df.where(col.isNotNull())
                    .groupBy(*keys, col)
                    .agg(F.count(F.lit(1)).alias("__n"))
                    .groupBy(*keys)
                    .agg(F.sum(F.when(F.col("__n") > 1, F.col("__n"))
                               .otherwise(F.lit(0))).alias(ua))
                )
                aux_frames.append(aux)
                entry["elem"] = alias(F.count(F.lit(1)))
                entry["missing"] = alias(
                    F.sum(col.isNull().cast("long")))
                entry["unexp"] = ua
                entry["mostly"] = float(kw.get("mostly", 1.0))
            elif etype in MAP_KERNELS:
                kernel = MAP_KERNELS[etype](kw)
                missing_cols = [c for c in kernel.columns if c not in df.columns]
                if missing_cols:
                    raise CompileError(f"column(s) not found: {missing_cols}")
                if etype in _STRING_ONLY_MAP_TYPES and not isinstance(
                        df.schema[kw["column"]].dataType, T.StringType):
                    raise CompileError(
                        f"Values passed to {etype} must be of type string.")
                rc = _row_condition(kw)
                include = kernel.include & rc if rc is not None else kernel.include
                count_base = F.when(rc, F.lit(1)) if rc is not None else F.lit(1)
                unexpected = include & F.coalesce(~kernel.ok, F.lit(False))
                not_incl = ~kernel.include
                if rc is not None:
                    not_incl = F.when(rc, not_incl)
                entry["elem"] = alias(F.count(count_base))
                entry["missing"] = alias(
                    F.sum(F.when(not_incl, F.lit(1)).otherwise(F.lit(0))))
                entry["unexp"] = alias(
                    F.sum(F.when(unexpected, F.lit(1)).otherwise(F.lit(0))))
                entry["mostly"] = float(kw.get("mostly", 1.0))
            elif etype in _AGG_METRICS:
                metric = _AGG_METRICS[etype]
                c = kw.get("column")
                if metric in _NUMERIC_METRICS:
                    _numeric(df, c)
                elif c is not None and c not in df.columns:
                    raise CompileError(f"column not found: {c!r}")
                entry["obs"] = alias(_observed(
                    metric, {"column": c} if c else {}, o))
                if etype == "expect_table_row_count_to_equal":
                    entry["equal"] = float(kw["value"])
                else:
                    _between_cond(F.lit(0.0), kw)  # validate bounds eagerly
            elif etype == "expect_column_quantile_values_to_be_between":
                _numeric(df, kw["column"])
                qr = kw["quantile_ranges"]
                qs = [float(q) for q in qr["quantiles"]]
                ranges = list(qr["value_ranges"])
                if len(qs) != len(ranges):
                    raise CompileError(
                        "quantile_ranges: quantiles and value_ranges differ in length")
                for lo, hi in ranges:
                    for b in (lo, hi):
                        if b is not None and not isinstance(b, (int, float)):
                            raise CompileError(
                                f"grouped validation supports numeric bounds only, got {b!r}")
                if o.exact_quantiles and not kw.get("allow_relative_error"):
                    # validate()'s rank-based exact quantiles, not the
                    # registry's interpolated profiler metric
                    qexpr = _exact_quantiles_agg(F.col(kw["column"]), qs)
                else:
                    qexpr = metric_aggs("column.quantile_values", {
                        "column": kw["column"], "quantiles": qs},
                        dataclasses.replace(o, exact_quantiles=False))[0]["v"]
                entry["qalias"] = alias(qexpr)
                entry["ranges"] = ranges
            else:
                raise CompileError(
                    f"{etype} has whole-table semantics (eager/cross-row "
                    "state); not groupable — validate it with "
                    "validate()/run_checkpoint()")
        except CompileError:
            if on_unsupported == "skip":
                continue
            raise
        rows.append(entry)

    if not rows:
        raise CompileError("no groupable expectations in suite")

    g = df.groupBy(*keys).agg(*aggs)
    for aux in aux_frames:
        a = aux
        for k2 in keys:
            a = a.withColumnRenamed(k2, f"__aux_{k2}")
        cond = None
        for k2 in keys:  # eqNullSafe: a NULL group key still matches its counts
            p = g[k2].eqNullSafe(a[f"__aux_{k2}"])
            cond = p if cond is None else (cond & p)
        g = g.join(a, cond, "left").drop(*[f"__aux_{k2}" for k2 in keys])

    structs = []
    for e in rows:
        if "elem" in e:  # map expectation
            elem = F.col(e["elem"])
            missing = F.coalesce(F.col(e["missing"]), F.lit(0))
            unexp = F.coalesce(F.col(e["unexp"]), F.lit(0))
            nonmissing = elem - missing
            # checkpoint.rollup's whole-table mostly formula, per group
            success = F.when(nonmissing <= 0, F.lit(True)).otherwise(
                (nonmissing - unexp).cast("double") / nonmissing
                >= F.lit(e["mostly"]))
            obs = F.lit(None).cast("double")
        elif "qalias" in e:  # quantile ranges: success only, per group
            elem = F.lit(None).cast("long")
            missing = F.lit(None).cast("long")
            unexp = F.lit(None).cast("long")
            obs = F.lit(None).cast("double")
            success = F.lit(True)
            for qi, (lo, hi) in enumerate(e["ranges"]):
                v = F.element_at(F.col(e["qalias"]), qi + 1)
                success = success & v.isNotNull()
                if lo is not None:
                    success = success & (v >= F.lit(lo))
                if hi is not None:
                    success = success & (v <= F.lit(hi))
        else:
            elem = F.lit(None).cast("long")
            missing = F.lit(None).cast("long")
            unexp = F.lit(None).cast("long")
            obs = F.col(e["obs"])
            if "equal" in e:
                success = obs.isNotNull() & (obs == F.lit(e["equal"]))
            else:
                success = _between_cond(obs, e["kwargs"])
        structs.append(F.struct(
            F.lit(e["index"]).alias("expectation_index"),
            F.lit(e["type"]).alias("expectation_type"),
            elem.cast("long").alias("element_count"),
            missing.cast("long").alias("missing_count"),
            unexp.cast("long").alias("unexpected_count"),
            obs.alias("observed_value"),
            success.alias("success"),
        ))

    return g.select(*keys, F.explode(F.array(*structs)).alias("r")).select(
        *keys, "r.*")


def violations_by(
    df: DataFrame,
    suite: ExpectationSuite,
    group_by: list[str] | str,
    k: int = 20,
    on_unsupported: str = "skip",
) -> DataFrame:
    """Up to ``k`` violating values per (group, map expectation) — the
    violation-row counterpart of ``validate_by``, one extra scan.

    One pass builds, per row, the array of (expectation, value) entries the
    row violates; rows violating nothing are filtered BEFORE the shuffle,
    so only violation rows move. The per-group cap is a two-phase top-k:
    first ``row_number`` within (group, expectation, input-partition) —
    bounded per task even when one group carries millions of violations —
    then within (group, expectation) over the ≤ k x n_partitions
    survivors. Non-scalar violation values (pair/record kernels) come back
    as JSON.

    Non-map expectations have no violating rows; ``on_unsupported="skip"``
    (default) ignores them, ``"raise"`` refuses the suite.
    """
    from pyspark.sql import Window

    keys = [group_by] if isinstance(group_by, str) else list(group_by)
    entries: list[Column] = []
    conds: list[Column] = []
    for i, config in enumerate(suite.expectations):
        etype, kw = config.expectation_type, config.kwargs
        if etype not in MAP_KERNELS:
            if on_unsupported == "skip":
                continue
            raise CompileError(
                f"{etype} is not a map expectation; it has no violation rows")
        kernel = MAP_KERNELS[etype](kw)
        missing_cols = [c for c in kernel.columns if c not in df.columns]
        if missing_cols:
            raise CompileError(f"column(s) not found: {missing_cols}")
        rc = _row_condition(kw)
        include = kernel.include & rc if rc is not None else kernel.include
        unexpected = include & F.coalesce(~kernel.ok, F.lit(False))
        value = (kernel.value.cast("string") if kernel.value_format == "scalar"
                 else F.to_json(kernel.value))
        entries.append(F.when(unexpected, F.struct(
            F.lit(i).alias("expectation_index"),
            F.lit(etype).alias("expectation_type"),
            value.alias("unexpected_value"))))
        conds.append(unexpected)
    if not entries:
        raise CompileError("no map expectations in suite")

    any_bad = conds[0]
    for c in conds[1:]:
        any_bad = any_bad | c
    ex = (
        df.where(F.coalesce(any_bad, F.lit(False)))
        .select(*keys, F.spark_partition_id().alias("__pid"),
                F.explode(F.filter(F.array(*entries),
                                   lambda e: e.isNotNull())).alias("r"))
        .select(*keys, "__pid", "r.*")
    )
    w1 = Window.partitionBy(*keys, "expectation_index", "__pid").orderBy(
        "unexpected_value")
    w2 = Window.partitionBy(*keys, "expectation_index").orderBy(
        "unexpected_value")
    return (
        ex.withColumn("__rn", F.row_number().over(w1))
        .where(F.col("__rn") <= k)
        .withColumn("__rn", F.row_number().over(w2))
        .where(F.col("__rn") <= k)
        .drop("__rn", "__pid")
    )
