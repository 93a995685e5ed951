"""DataAssistant presets: canned RuleBasedProfiler configs → full suites.

The reference's one-call onboarding path
(rule_based_profiler/data_assistant/onboarding_data_assistant.py:46
``OnboardingDataAssistant`` — table rule, map-metric
uniqueness/nullity/nonnullity rules, numeric / datetime / text /
categorical column rules; ``volume_data_assistant.py:29``
``VolumeDataAssistant``) re-expressed as generated declarative configs
executed by ``rule_profiler.run_rule_based_profiler``. The reference's
semantic-type classification becomes an explicit ``df.schema`` pass
(numeric / datetime / string partitioning written into each rule's
``include_column_names``), so the emitted config is plain data a user
can inspect, edit, and re-run — and the profiling cost keeps the
runner's fused shape: one schema pass, one fused domain agg, one fused
metric agg, one groupBy per batching, one format-inference scan (plus a
strptime confirm scan only when some value could be a date).

Every emitted expectation validates GREEN on the data that produced it
(the reference assistant's contract): exact estimators produce envelope
bounds that contain the whole-table statistic, map-metric domains admit
only columns whose violation ratio is at most ``1 - mostly``, and
format expectations fire only when the inferred format's match ratio
meets the ``mostly`` they are emitted with.

One deliberate omission, documented: the reference's numeric rule also
emits ``expect_column_stdev_to_be_between`` per batch. This engine's
validation unit is the whole table, and a whole-table stddev can exceed
every per-chunk stddev (between-chunk mean spread adds variance), so a
chunk-envelope stdev bound is unsound here; the ``stdev_range``
parameter is still resolved for inspection, and a whole-table stdev
expectation needs bounds set by hand.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from great_expectations_spark.core.suite import ExpectationSuite
from great_expectations_spark.rule_profiler import (
    RuleBasedProfilerResult,
    run_rule_based_profiler,
)

__all__ = ["onboarding_profiler_config", "run_onboarding_assistant",
           "volume_profiler_config", "run_volume_assistant"]

_NUMERIC = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.DecimalType)
_DATETIME = (T.TimestampType, T.DateType)


def _classify(df: DataFrame, exclude: set[str]):
    numeric, datetime_, text, all_cols = [], [], [], []
    for f in df.schema.fields:
        if f.name in exclude:
            continue
        all_cols.append(f.name)
        if isinstance(f.dataType, _NUMERIC):
            numeric.append(f.name)
        elif isinstance(f.dataType, _DATETIME):
            datetime_.append(f.name)
        elif isinstance(f.dataType, T.StringType):
            text.append(f.name)
    return numeric, datetime_, text, all_cols


def _range_builder(name: str, metric: str, estimator: str,
                   false_positive_rate: float, n_chunks: int) -> dict:
    return {"name": name,
            "class_name": "NumericMetricRangeMultiBatchParameterBuilder",
            "metric_name": metric,
            "metric_domain_kwargs": "$domain.domain_kwargs",
            "estimator": estimator,
            "false_positive_rate": false_positive_rate,
            "n_chunks": n_chunks}


def onboarding_profiler_config(
    df: DataFrame,
    exclude_column_names: list[str] | None = None,
    cardinality_limit_mode: str = "FEW",
    estimator: str = "exact",
    false_positive_rate: float = 0.05,
    n_chunks: int = 8,
    batch_spec: dict | None = None,
    max_null_ratio: float = 0.05,
    format_threshold: float = 0.9,
    format_sample_mod: int | None = None,
) -> dict[str, Any]:
    """The OnboardingDataAssistant's rules as one declarative config
    (reference onboarding_data_assistant.py:91-165 builds the same eight
    rules programmatically). Pass the result to
    ``run_rule_based_profiler`` — or call ``run_onboarding_assistant``
    for the one-call path with result post-processing."""
    exclude = set(exclude_column_names or [])
    numeric, datetime_, text, all_cols = _classify(df, exclude)
    if not all_cols:
        raise ValueError("no columns left to profile after exclusions")
    mostly = round(1.0 - float(max_null_ratio), 6)

    rules: dict[str, Any] = {}
    rules["table_rule"] = {
        "domain_builder": {"class_name": "TableDomainBuilder"},
        "parameter_builders": [
            {"name": "row_count",
             "class_name": "MetricSingleBatchParameterBuilder",
             "metric_name": "table.row_count"}],
        "expectation_configuration_builders": [
            # reference _build_table_rule: row-count range + column-set
            # pin; exact row count (min == max) is the reference
            # UserConfigurableProfiler convention for one batch
            {"expectation_type": "expect_table_row_count_to_be_between",
             "min_value": "$parameter.row_count.value",
             "max_value": "$parameter.row_count.value"},
            {"expectation_type": "expect_table_columns_to_match_set",
             "column_set": list(df.columns)}],
    }
    rules["column_value_uniqueness_rule"] = {
        # build_map_metric_rule(column_values.unique): columns with zero
        # duplicates on the profiled data
        "domain_builder": {"class_name": "MapMetricColumnDomainBuilder",
                           "map_metric_name": "column_values.unique",
                           "max_unexpected_values": 0,
                           "include_column_names": all_cols},
        "parameter_builders": [],
        "expectation_configuration_builders": [
            {"expectation_type": "expect_column_values_to_be_unique",
             "column": "$domain.domain_kwargs.column"}],
    }
    rules["column_value_nonnullity_rule"] = {
        "domain_builder": {"class_name": "MapMetricColumnDomainBuilder",
                           "map_metric_name": "column_values.nonnull",
                           "max_unexpected_values": 0,
                           "include_column_names": all_cols},
        "parameter_builders": [],
        "expectation_configuration_builders": [
            {"expectation_type": "expect_column_values_to_not_be_null",
             "column": "$domain.domain_kwargs.column"}],
    }
    rules["column_value_nonnullity_mostly_rule"] = {
        # null ratio <= max_null_ratio ⇒ nonnull rate >= mostly, so the
        # emitted mostly bound holds on the profiled data by construction
        "domain_builder": {"class_name": "MapMetricColumnDomainBuilder",
                           "map_metric_name": "column_values.nonnull",
                           "max_unexpected_ratio": max_null_ratio,
                           "include_column_names": all_cols},
        "parameter_builders": [],
        "expectation_configuration_builders": [
            {"expectation_type": "expect_column_values_to_not_be_null",
             "column": "$domain.domain_kwargs.column",
             "mostly": mostly}],
    }
    rules["column_value_nullity_rule"] = {
        "domain_builder": {"class_name": "MapMetricColumnDomainBuilder",
                           "map_metric_name": "column_values.null",
                           "max_unexpected_ratio": max_null_ratio,
                           "include_column_names": all_cols},
        "parameter_builders": [],
        "expectation_configuration_builders": [
            {"expectation_type": "expect_column_values_to_be_null",
             "column": "$domain.domain_kwargs.column",
             "mostly": mostly}],
    }
    if numeric:
        def rb(name, metric, vk=None):
            b = _range_builder(name, metric, estimator,
                               false_positive_rate, n_chunks)
            if vk:
                b["metric_value_kwargs"] = vk
            if batch_spec is None:
                # ONE shared pseudo-chunk key for every (column × statistic)
                # — without it each column's builders would default
                # chunk_by to the column itself, one full-table shuffle
                # PER COLUMN; with it (or with a real batch_spec) the
                # whole numeric rule is a single groupBy
                b["chunk_by"] = all_cols[0]
            return b

        rules["numeric_columns_rule"] = {
            "domain_builder": {"class_name": "ColumnDomainBuilder",
                               "include_column_names": numeric},
            "parameter_builders": [
                rb("min_range", "column.min"),
                rb("max_range", "column.max"),
                rb("mean_range", "column.mean"),
                rb("median_range", "column.median"),
                rb("q25_range", "column.quantile", {"quantile": 0.25}),
                rb("q75_range", "column.quantile", {"quantile": 0.75}),
                rb("stdev_range", "column.standard_deviation")],
            # every builder is condition-gated on a resolved lower bound:
            # an all-null column resolves [None, None] (the profiler's
            # annotate-not-raise path) and must emit NOTHING here — a
            # between expectation with two None bounds validates red,
            # breaking the green-on-profiled-data contract
            "expectation_configuration_builders": [
                {"expectation_type": "expect_column_min_to_be_between",
                 "column": "$domain.domain_kwargs.column",
                 "min_value": "$parameter.min_range.value[0]",
                 "max_value": "$parameter.min_range.value[1]",
                 "condition": "$parameter.min_range.value[0] != None"},
                {"expectation_type": "expect_column_max_to_be_between",
                 "column": "$domain.domain_kwargs.column",
                 "min_value": "$parameter.max_range.value[0]",
                 "max_value": "$parameter.max_range.value[1]",
                 "condition": "$parameter.max_range.value[0] != None"},
                {"expectation_type": "expect_column_mean_to_be_between",
                 "column": "$domain.domain_kwargs.column",
                 "min_value": "$parameter.mean_range.value[0]",
                 "max_value": "$parameter.mean_range.value[1]",
                 "condition": "$parameter.mean_range.value[0] != None"},
                {"expectation_type": "expect_column_median_to_be_between",
                 "column": "$domain.domain_kwargs.column",
                 "min_value": "$parameter.median_range.value[0]",
                 "max_value": "$parameter.median_range.value[1]",
                 "condition": "$parameter.median_range.value[0] != None"},
                # reference numeric rule's quantile ranges
                # (onboarding_data_assistant.py:298): each whole-table
                # quantile lies inside its per-batch envelope (the same
                # order-statistic argument as the median), so this
                # validates green on the profiled data
                {"expectation_type":
                     "expect_column_quantile_values_to_be_between",
                 "column": "$domain.domain_kwargs.column",
                 "quantile_ranges": {
                     "quantiles": [0.25, 0.5, 0.75],
                     "value_ranges": [
                         ["$parameter.q25_range.value[0]",
                          "$parameter.q25_range.value[1]"],
                         ["$parameter.median_range.value[0]",
                          "$parameter.median_range.value[1]"],
                         ["$parameter.q75_range.value[0]",
                          "$parameter.q75_range.value[1]"]]},
                 "condition": "$parameter.median_range.value[0] != None"},
                # whole-column bounds from the min/max envelopes
                {"expectation_type": "expect_column_values_to_be_between",
                 "column": "$domain.domain_kwargs.column",
                 "min_value": "$parameter.min_range.value[0]",
                 "max_value": "$parameter.max_range.value[1]",
                 "condition": "$parameter.min_range.value[0] != None"}],
        }
    if datetime_:
        rules["datetime_columns_rule"] = {
            # single-batch exact min/max (datetimes are not
            # envelope-estimable floats); the reference's datetime rule
            # emits the same between-bounds per column
            "domain_builder": {"class_name": "ColumnDomainBuilder",
                               "include_column_names": datetime_},
            "parameter_builders": [
                {"name": "ts_min",
                 "class_name": "MetricSingleBatchParameterBuilder",
                 "metric_name": "column.min",
                 "metric_domain_kwargs": "$domain.domain_kwargs"},
                {"name": "ts_max",
                 "class_name": "MetricSingleBatchParameterBuilder",
                 "metric_name": "column.max",
                 "metric_domain_kwargs": "$domain.domain_kwargs"}],
            "expectation_configuration_builders": [
                {"expectation_type": "expect_column_values_to_be_between",
                 "column": "$domain.domain_kwargs.column",
                 "min_value": "$parameter.ts_min.value",
                 "max_value": "$parameter.ts_max.value",
                 # all-null datetime column: both bounds None — skip
                 "condition": "$parameter.ts_min.value != None"}],
        }
    if text:
        rules["text_columns_rule"] = {
            "domain_builder": {"class_name": "ColumnDomainBuilder",
                               "include_column_names": text},
            "parameter_builders": [
                {"name": "len_min",
                 "class_name": "MetricSingleBatchParameterBuilder",
                 "metric_name": "column_values.length_min",
                 "metric_domain_kwargs": "$domain.domain_kwargs"},
                {"name": "len_max",
                 "class_name": "MetricSingleBatchParameterBuilder",
                 "metric_name": "column_values.length_max",
                 "metric_domain_kwargs": "$domain.domain_kwargs"},
                # format_sample_mod: candidate evaluation is a regex per
                # candidate per row (plus Python strptime on the values
                # a strftime prefilter admits) — at crawl scale run it
                # on a seeded per-row 1/mod F.rand sample; ratios, not
                # exact counts, drive the emission
                {"name": "date_format",
                 "class_name": "SimpleDateFormatStringParameterBuilder",
                 "metric_domain_kwargs": "$domain.domain_kwargs",
                 "threshold": format_threshold,
                 **({"sample_mod": format_sample_mod}
                    if format_sample_mod else {})},
                {"name": "regex",
                 "class_name": "RegexPatternStringParameterBuilder",
                 "metric_domain_kwargs": "$domain.domain_kwargs",
                 "threshold": format_threshold,
                 **({"sample_mod": format_sample_mod}
                    if format_sample_mod else {})}],
            "expectation_configuration_builders": [
                {"expectation_type":
                     "expect_column_value_lengths_to_be_between",
                 "column": "$domain.domain_kwargs.column",
                 "min_value": "$parameter.len_min.value",
                 "max_value": "$parameter.len_max.value",
                 # all-null text column: both length bounds None — skip
                 "condition": "$parameter.len_min.value != None"},
                {"expectation_type":
                     "expect_column_values_to_match_strftime_format",
                 "column": "$domain.domain_kwargs.column",
                 "strftime_format": "$parameter.date_format.value",
                 "mostly": format_threshold,
                 "condition": "$parameter.date_format.value != None"},
                {"expectation_type": "expect_column_values_to_match_regex",
                 "column": "$domain.domain_kwargs.column",
                 "regex": "$parameter.regex.value",
                 "mostly": format_threshold,
                 "condition": "$parameter.regex.value != None"}],
        }
    rules["categorical_columns_rule"] = {
        "domain_builder": {"class_name": "CategoricalColumnDomainBuilder",
                           "cardinality_limit_mode": cardinality_limit_mode,
                           "include_column_names": all_cols},
        "parameter_builders": [
            {"name": "value_set",
             "class_name": "ValueSetMultiBatchParameterBuilder",
             "metric_domain_kwargs": "$domain.domain_kwargs"}],
        "expectation_configuration_builders": [
            {"expectation_type": "expect_column_values_to_be_in_set",
             "column": "$domain.domain_kwargs.column",
             "value_set": "$parameter.value_set.value"}],
    }
    cfg: dict[str, Any] = {"name": "onboarding_assistant",
                           "config_version": 1.0, "rules": rules}
    if batch_spec is not None:
        cfg["batch_spec"] = batch_spec
    return cfg


def _dedupe_mostly(result: RuleBasedProfilerResult) -> RuleBasedProfilerResult:
    """Result post-processing (the reference assistant's
    ``_build_data_assistant_result`` stage): a column admitted by BOTH the
    strict zero-violation rule and its mostly twin would carry two copies
    of the same expectation — keep the strict one, drop the weaker."""
    strict = {(e.expectation_type, e.kwargs.get("column"))
              for e in result.suite.expectations
              if e.expectation_type in ("expect_column_values_to_not_be_null",
                                        "expect_column_values_to_be_null")
              and "mostly" not in e.kwargs}
    kept = [e for e in result.suite.expectations
            if not ("mostly" in e.kwargs
                    and (e.expectation_type, e.kwargs.get("column")) in strict)]
    result.suite = ExpectationSuite(
        name=result.suite.name, expectations=kept,
        evaluation_parameters=result.suite.evaluation_parameters,
        meta=result.suite.meta)
    return result


def run_onboarding_assistant(df: DataFrame, options: Any = None,
                             **config_kwargs: Any) -> RuleBasedProfilerResult:
    """One call → a full onboarding suite plus resolved parameters
    (reference OnboardingDataAssistant.run). The emitted suite validates
    green on ``df`` (tests/test_data_assistant.py pins this on the
    Common-Crawl-style webpages table)."""
    cfg = onboarding_profiler_config(df, **config_kwargs)
    return _dedupe_mostly(run_rule_based_profiler(df, cfg, options=options))


def volume_profiler_config(
    df: DataFrame,
    exclude_column_names: list[str] | None = None,
    estimator: str = "exact",
    false_positive_rate: float = 0.05,
    n_chunks: int = 8,
    batch_spec: dict | None = None,
) -> dict[str, Any]:
    """The VolumeDataAssistant's two rules (reference
    volume_data_assistant.py:29: table row-count range + per-column
    distinct-count ranges) as one declarative config."""
    exclude = set(exclude_column_names or [])
    cols = [c for c in df.columns if c not in exclude]
    if not cols:
        raise ValueError("no columns left to profile after exclusions")
    rules: dict[str, Any] = {
        "table_rule": {
            "domain_builder": {"class_name": "TableDomainBuilder"},
            "parameter_builders": [
                {"name": "row_count",
                 "class_name": "MetricSingleBatchParameterBuilder",
                 "metric_name": "table.row_count"}],
            "expectation_configuration_builders": [
                {"expectation_type": "expect_table_row_count_to_be_between",
                 "min_value": "$parameter.row_count.value",
                 "max_value": "$parameter.row_count.value"}],
        },
        "column_unique_values_rule": {
            "domain_builder": {"class_name": "ColumnDomainBuilder",
                               "include_column_names": cols},
            "parameter_builders": [
                {**_range_builder("distinct_range",
                                  "column.distinct_values.count",
                                  estimator, false_positive_rate, n_chunks),
                 # shared pseudo-chunk key: one groupBy for every column's
                 # per-chunk distinct counts (same scale note as the
                 # onboarding numeric rule)
                 **({} if batch_spec is not None
                    else {"chunk_by": cols[0]})}],
            "expectation_configuration_builders": [
                # chunk-wise distinct counts under-shoot the whole-table
                # count (chunks split value groups), so only the emitted
                # LOWER bound is sound for whole-table validation; the
                # upper bound is the whole-table distinct count itself,
                # resolved as its own single-batch parameter
                {"expectation_type":
                     "expect_column_unique_value_count_to_be_between",
                 "min_value": "$parameter.distinct_range.value[0]",
                 "max_value": "$parameter.distinct_total.value",
                 "column": "$domain.domain_kwargs.column"}],
        },
    }
    rules["column_unique_values_rule"]["parameter_builders"].append(
        {"name": "distinct_total",
         "class_name": "MetricSingleBatchParameterBuilder",
         "metric_name": "column.distinct_values.count",
         "metric_domain_kwargs": "$domain.domain_kwargs"})
    cfg: dict[str, Any] = {"name": "volume_assistant",
                           "config_version": 1.0, "rules": rules}
    if batch_spec is not None:
        cfg["batch_spec"] = batch_spec
    return cfg


def run_volume_assistant(df: DataFrame, options: Any = None,
                         **config_kwargs: Any) -> RuleBasedProfilerResult:
    """One call → volume suite (row count + distinct-count bounds)."""
    cfg = volume_profiler_config(df, **config_kwargs)
    return run_rule_based_profiler(df, cfg, options=options)
