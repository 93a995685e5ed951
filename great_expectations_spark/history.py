"""Cross-run metric history + drift flagging over the checkpoint results table.

The reference persists one validation result per run to a validations store
(data_context/store/validations_store.py, keyed by run_id/run_time) and lets
later suites reference earlier runs through evaluation-parameter URNs
(core/evaluation_parameters.py:340-455) — but it has no engine-side view of
a metric ACROSS runs; reading history back means deserializing every stored
JSON result on the driver.

Here the results table (checkpoint.RESULTS_SCHEMA) already accumulates one
row per (run_id, chunk_id, expectation), so history is a query, not a
store walk:

* ``metric_series`` merges each run's chunks into one numeric metric row
  per (run_id, expectation) — the same commutative-monoid merge ``rollup``
  uses (sums/min/max JVM-side, HLL union, KLL merge; exact except KLL's
  documented rank error), plus summed map-expectation counts — entirely as
  one bounded aggregation over the results table.
* ``flag_drift`` scores the newest runs against their own trailing history
  (windowed mean/stddev per expectation, partitioned BY expectation — never
  a global window) and flags values that break the trend.

Scale shape: the results table is runs x chunks x expectations rows —
thousands, not billions — so the merge agg and the per-expectation windows
are bounded by construction; nothing here rescans the validated data.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from great_expectations_spark.checkpoint import (
    _CHUNK_RELATIVE,
    _expectation_groups,
    _merged_verdict,
)
from great_expectations_spark.sources.session import local_frame

SERIES_SCHEMA = (
    "run_id string, expectation_index int, expectation_type string, "
    "kwargs_json string, run_ts double, metric_name string, value double, "
    "success boolean"
)


def metric_series(results_df: DataFrame, runs: list[str] | None = None) -> DataFrame:
    """One numeric metric row per (run_id, expectation) across every run in
    the results table.

    Map expectations yield ``metric_name='unexpected_percent'`` with success
    re-derived from the summed whole-run counts against ``mostly`` (the
    rollup's whole-table semantics, per run). Aggregate expectations whose
    chunks all carry a monoid yield ``metric_name='observed_value'`` with
    the merged observed value; runs with incomplete monoids fall back to
    AND-of-chunks success and a NULL value. Chunk-relative conditions
    (uniqueness/monotonicity/other-table) always carry NULL values with
    AND-of-chunks success — their per-chunk counts do not sum to a
    whole-run truth.

    ``runs`` optionally restricts (and is not reordered by) the series;
    ordering across runs is by each run's ``finished_at`` watermark — see
    ``flag_drift``.

    Plan: the rollup's one aggregate over the results table, grouped by
    run too (``checkpoint._expectation_groups``); the merged verdicts and
    the metric values are derived on the driver, one row per group. The
    result is a driver-local frame, ordered by run and expectation, that
    collects without a Spark job.
    """
    r = results_df
    if runs is not None:
        r = r.where(F.col("run_id").isin(list(runs)))
    if "monoid_json" not in r.columns:
        r = r.withColumn("monoid_json", F.lit(None).cast("string"))

    rows = []
    for g in _expectation_groups(r, extra_keys=("run_id",)):
        merged = _merged_verdict(r.sparkSession, g)
        if g.raised_exception:
            name, value, success = None, None, False
        elif (g.unexpected_count is not None and g.expectation_type is not None
              and not re.search(_CHUNK_RELATIVE, g.expectation_type)):
            name, success = "unexpected_percent", g.map_success
            nonmissing = (None if g.element_count is None
                          or g.missing_count is None
                          else g.element_count - g.missing_count)
            value = (None if nonmissing is None else 0.0 if nonmissing <= 0
                     else float(g.unexpected_count) * 100.0 / nonmissing)
        elif merged is not None:
            # non-numeric merged observed values (quantile dicts, value
            # sets) stay NULL
            name, value, success = "observed_value", _number(merged[0]), merged[1]
        else:
            name, value, success = None, None, g.all_chunks_success
        rows.append((g.run_id, g.expectation_index, g.expectation_type,
                     g.kwargs_json, g.run_ts, name, value, success))
    rows.sort(key=lambda t: (t[0] or "", t[1], t[2] or "", t[3] or ""))
    return local_frame(r.sparkSession, rows, SERIES_SCHEMA)


def _number(observed_json: str) -> float | None:
    """A merged observed value as a double, or None when it is not one
    number."""
    v = json.loads(observed_json)
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        return None
    return float(v)


def flag_drift(
    series: DataFrame,
    z_threshold: float = 3.0,
    min_history: int = 3,
    order_by: list[str] | None = None,
    partition_by: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Score each run's metric against its own trailing history.

    For every metric series (default: one per (expectation, metric_name);
    pass ``partition_by`` to track any other identity — e.g.
    ``["lang", "expectation_index"]`` over a grouped/streaming results
    table, where each (group, expectation) drifts independently across
    micro-batches) the runs are ordered (by ``order_by``, default
    ``[run_ts, run_id]``) and each value is compared to the mean/stddev of
    STRICTLY EARLIER runs: ``zscore = (value - trailing_mean) /
    trailing_stddev``. ``drifted`` is true when at least ``min_history``
    earlier runs exist and either |zscore| > ``z_threshold`` or the
    trailing history was constant (stddev 0) and the value moved at all.
    Rows with NULL values (non-numeric metrics, raised exceptions) are
    passed through unflagged.

    The window partitions by the series identity — never a global
    single-partition sort; width = number of runs, bounded by construction.
    """
    parts = partition_by or [
        "expectation_index", "expectation_type", "kwargs_json", "metric_name"]
    order_cols = [F.col(c) for c in (order_by or ["run_ts", "run_id"])]
    w = (
        Window.partitionBy(*parts)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior_n = F.count(value_col).over(w)
    prior_mean = F.avg(value_col).over(w)
    prior_std = F.stddev_samp(value_col).over(w)
    z = F.when(
        prior_std > 0, (F.col(value_col) - prior_mean) / prior_std
    )
    moved = F.abs(F.col(value_col) - prior_mean) > 0
    drifted = (
        F.col(value_col).isNotNull()
        & (prior_n >= min_history)
        & F.coalesce(
            F.abs(z) > z_threshold,  # NULL z => constant history
            moved,
        )
    )
    return (
        series.withColumn("n_prior", prior_n)
        .withColumn("trailing_mean", prior_mean)
        .withColumn("trailing_stddev", prior_std)
        .withColumn("zscore", z)
        .withColumn("drifted", drifted)
    )


def run_summary(results_df: DataFrame) -> DataFrame:
    """Per-run operational summary straight off the results table: chunk
    and expectation-evaluation counts, whole-run success (AND of rows —
    operational signal, not the monoid verdict; use ``metric_series`` /
    ``CheckpointResult.rollup`` for merged semantics), rows scanned once
    per chunk, total validation wall time, and the run's completion
    watermark. One bounded two-level aggregation."""
    per_chunk = results_df.groupBy("run_id", "chunk_id").agg(
        F.count(F.lit(1)).alias("n_expectations"),
        F.min(F.col("success").cast("int")).cast("boolean").alias("chunk_success"),
        F.max("rows_scanned").alias("rows_scanned"),
        F.max("wall_time_s").alias("wall_time_s"),
        F.max("finished_at").alias("finished_at"),
    )
    return (
        per_chunk.groupBy("run_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_expectations").alias("n_evaluations"),
            F.min(F.col("chunk_success").cast("int")).cast("boolean").alias("success"),
            F.sum("rows_scanned").alias("rows_scanned"),
            F.sum("wall_time_s").alias("wall_time_s"),
            F.max("finished_at").alias("finished_at"),
        )
        .orderBy("finished_at", "run_id")
    )
