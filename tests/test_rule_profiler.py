"""Declarative RuleBasedProfiler config runner (VERDICT r3 task 2):
reference-shaped configs (domain builders → parameter builders →
expectation configuration builders with $variables / $domain /
$parameter refs and conditions) produce suites over one DataFrame."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from great_expectations_spark import validate
from great_expectations_spark.rule_profiler import run_rule_based_profiler
from great_expectations_spark.sources.session import scan_aggregate

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF}/events.parquet").cache()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


def _by_type(result, etype):
    return [c for c in result.suite.expectations
            if c.expectation_type == etype]


def test_alice_style_config_end_to_end(spark, events):
    """A config with the alice fixture's shape (verbose class_name /
    module_name keys left in, $variables, MetricSingleBatch min/max,
    conditions, date-format inference) runs unchanged."""
    config = {
        "name": "alice-ish",
        "class_name": "RuleBasedProfiler",
        "config_version": 1.0,
        "variables": {
            "very_small_id": -1,
            "very_large_id": 10_000_000_000,
            "min_ts": "2020-01-01 00:00:00",
        },
        "rules": {
            "user_id_rule": {
                "domain_builder": {
                    "class_name": "ColumnDomainBuilder",
                    "module_name": "great_expectations.rule_based_profiler.domain_builder",
                    "include_column_name_suffixes": ["_id"],
                    "exclude_column_names": ["event_id"],
                },
                "parameter_builders": [
                    {"name": "my_min", "class_name": "MetricSingleBatchParameterBuilder",
                     "metric_name": "column.min",
                     "metric_domain_kwargs": "$domain.domain_kwargs"},
                    {"name": "my_max", "class_name": "MetricSingleBatchParameterBuilder",
                     "metric_name": "column.max",
                     "metric_domain_kwargs": "$domain.domain_kwargs"},
                ],
                "expectation_configuration_builders": [
                    {"expectation_type": "expect_column_values_to_not_be_null",
                     "class_name": "DefaultExpectationConfigurationBuilder",
                     "column": "$domain.domain_kwargs.column"},
                    {"expectation_type": "expect_column_values_to_be_between",
                     "class_name": "DefaultExpectationConfigurationBuilder",
                     "column": "$domain.domain_kwargs.column",
                     "min_value": "$variables.very_small_id",
                     "max_value": "$parameter.my_max.value",
                     "condition": "$parameter.my_max.value < $variables.very_large_id"
                                  " & $parameter.my_min.value >= $variables.very_small_id"},
                ],
            },
        },
    }
    res = run_rule_based_profiler(events, config)
    # domain: user_id only (suffix filter + exclusion)
    assert res.domains["user_id_rule"] == [{"column": "user_id"}]
    p = res.parameters["user_id_rule"]["user_id"]
    real_min = events.agg(F.min("user_id")).first()[0]
    real_max = events.agg(F.max("user_id")).first()[0]
    assert p["my_min"]["value"] == real_min
    assert p["my_max"]["value"] == real_max
    types = [c.expectation_type for c in res.suite.expectations]
    assert types == ["expect_column_values_to_not_be_null",
                     "expect_column_values_to_be_between"]
    between = res.suite.expectations[1]
    assert between.kwargs["max_value"] == real_max
    assert between.kwargs["min_value"] == -1
    # the suite actually validates
    out = validate(events, res.suite)
    assert all(r.success for r in out.results)


def test_condition_false_skips_expectation(spark, events):
    config = {
        "name": "c", "config_version": 1.0,
        "rules": {"r": {
            "domain_builder": {"class_name": "ColumnDomainBuilder",
                               "include_column_names": ["value"]},
            "parameter_builders": [
                {"name": "mx", "class_name": "MetricSingleBatchParameterBuilder",
                 "metric_name": "column.max",
                 "metric_domain_kwargs": "$domain.domain_kwargs"}],
            "expectation_configuration_builders": [
                {"expectation_type": "expect_column_max_to_be_between",
                 "column": "$domain.domain_kwargs.column",
                 "max_value": "$parameter.mx.value",
                 "condition": "$parameter.mx.value < -999999"},
                {"expectation_type": "expect_column_values_to_not_be_null",
                 "column": "$domain.domain_kwargs.column",
                 "condition": "($parameter.mx.value > -999999) | (1 > 2)"},
            ]}}}
    res = run_rule_based_profiler(events, config)
    assert [c.expectation_type for c in res.suite.expectations] == [
        "expect_column_values_to_not_be_null"]


def test_categorical_domain_and_value_set(spark, docs):
    """CategoricalColumnDomainBuilder picks low-cardinality string
    columns via ONE fused agg; ValueSetMultiBatch emits their sorted
    distinct values."""
    config = {
        "name": "cats", "config_version": 1.0,
        "rules": {"cat": {
            "domain_builder": {
                "class_name": "CategoricalColumnDomainBuilder",
                "cardinality_limit_mode": "FEW",
                "exclude_column_names": ["doc_id", "text", "n_chars"]},
            "parameter_builders": [
                {"name": "vs", "class_name": "ValueSetMultiBatchParameterBuilder",
                 "metric_domain_kwargs": "$domain.domain_kwargs"}],
            "expectation_configuration_builders": [
                {"expectation_type": "expect_column_values_to_be_in_set",
                 "column": "$domain.domain_kwargs.column",
                 "value_set": "$parameter.vs.value"}]}}}
    res = run_rule_based_profiler(docs, config)
    cols = {d["column"] for d in res.domains["cat"]}
    # lang and source are the low-cardinality string columns
    assert cols == {"lang", "source"}
    for cfg in res.suite.expectations:
        c = cfg.kwargs["column"]
        truth = sorted(
            r[0] for r in docs.select(c).distinct().collect()
            if r[0] is not None)
        assert cfg.kwargs["value_set"] == truth
    out = validate(docs, res.suite)
    assert all(r.success for r in out.results)


def test_numeric_range_and_indexing(spark, events):
    """NumericMetricRangeMultiBatch (pseudo-chunks, exact + quantiles
    estimators) + $parameter.x.value[0]/[1] indexing (the bobby config's
    form)."""
    config = {
        "name": "ranges", "config_version": 1.0,
        "variables": {"fpr": 0.2},
        "rules": {"r": {
            "domain_builder": {"class_name": "ColumnDomainBuilder",
                               "include_column_names": ["value"]},
            "parameter_builders": [
                {"name": "mean_range",
                 "class_name": "NumericMetricRangeMultiBatchParameterBuilder",
                 "metric_name": "column.mean",
                 "metric_domain_kwargs": "$domain.domain_kwargs",
                 "estimator": "exact", "n_chunks": 4, "chunk_by": "event_id",
                 "round_decimals": 6},
                {"name": "q_range",
                 "class_name": "NumericMetricRangeMultiBatchParameterBuilder",
                 "metric_name": "column.mean",
                 "metric_domain_kwargs": "$domain.domain_kwargs",
                 "estimator": "quantiles",
                 "false_positive_rate": "$variables.fpr",
                 "n_chunks": 4, "chunk_by": "event_id"}],
            "expectation_configuration_builders": [
                {"expectation_type": "expect_column_mean_to_be_between",
                 "column": "$domain.domain_kwargs.column",
                 "min_value": "$parameter.mean_range.value[0]",
                 "max_value": "$parameter.mean_range.value[1]",
                 "meta": {"profiler_details": "$parameter.mean_range.details"}}]}}}
    res = run_rule_based_profiler(events, config)
    p = res.parameters["r"]["value"]
    lo, hi = p["mean_range"]["value"]
    # exact estimator == min/max of the per-chunk means
    from great_expectations_spark.pipeline.dedup import _md5_int

    chunks = (events.groupBy(
        F.pmod(_md5_int(F.col("event_id").cast("string")), F.lit(4))
        .alias("c")).agg(F.avg("value").alias("m")).collect())
    means = [r["m"] for r in chunks]
    assert lo == round(min(means), 6) and hi == round(max(means), 6)
    qlo, qhi = p["q_range"]["value"]
    assert min(means) <= qlo <= qhi <= max(means)
    cfg = res.suite.expectations[0]
    assert cfg.kwargs["min_value"] == lo and cfg.kwargs["max_value"] == hi
    assert cfg.meta["profiler_details"]["estimator"] == "exact"
    assert validate(events, res.suite).results[0].success


def test_date_format_builder(spark):
    df = spark.createDataFrame(
        [(i, f"2024-0{1 + i % 9}-1{i % 10}") for i in range(40)],
        "i int, day string")
    config = {
        "name": "dates", "config_version": 1.0,
        "rules": {"d": {
            "domain_builder": {"class_name": "ColumnDomainBuilder",
                               "include_column_names": ["day"]},
            "parameter_builders": [
                {"name": "fmt",
                 "class_name": "SimpleDateFormatStringParameterBuilder",
                 "metric_domain_kwargs": "$domain.domain_kwargs"}],
            "expectation_configuration_builders": [
                {"expectation_type": "expect_column_values_to_match_strftime_format",
                 "column": "$domain.domain_kwargs.column",
                 "strftime_format": "$parameter.fmt.value",
                 "meta": {"profiler_details": "$parameter.fmt.details"}}]}}}
    res = run_rule_based_profiler(df, config)
    cfg = res.suite.expectations[0]
    assert cfg.kwargs["strftime_format"] == "%Y-%m-%d"
    assert cfg.meta["profiler_details"]["success_ratio"] == 1.0
    assert validate(df, res.suite).results[0].success


def test_format_builders_share_one_inference_call(spark, monkeypatch,
                                                  new_job_ids):
    """Every date-format and regex builder on the same format sample rides
    ONE format count plan; each column is checked against only the
    candidates its own builders name (a regex-only column gets no
    strftime candidate), and each builder reports only its own
    candidates' ratios. The unsampled plan's counts ride the whole-table
    aggregate of the single-batch metrics; a builder on a different sample
    gets its own call: 6 jobs, where a query of its own for the unsampled
    counts made 9 and an exchanged whole-table aggregate 7."""
    from great_expectations_spark import profiler

    calls = []
    real = profiler.format_count_plan

    def counting(df, plan, threshold=1.0):
        calls.append(plan)
        return real(df, plan, threshold)

    monkeypatch.setattr(profiler, "format_count_plan", counting)
    df = spark.createDataFrame(
        [(f"2024-01-{10 + i % 9}", str(i)) for i in range(40)],
        "day string, code string")

    def builder(name, cls, col, **kw):
        return {"name": name, "class_name": cls,
                "metric_domain_kwargs": {"column": col}, **kw}

    config = {"name": "fmts", "config_version": 1.0, "rules": {"r": {
        "domain_builder": {"class_name": "TableDomainBuilder"},
        "parameter_builders": [
            builder("day_fmt", "SimpleDateFormatStringParameterBuilder",
                    "day", candidate_strings=["%d/%m/%Y", "%Y-%m-%d"]),
            builder("code_fmt", "SimpleDateFormatStringParameterBuilder",
                    "code", candidate_strings=["%H"]),
            builder("code_re", "RegexPatternStringParameterBuilder",
                    "code", candidate_regexes=[r"^\d+$"]),
            builder("day_re", "RegexPatternStringParameterBuilder", "day",
                    candidate_regexes=[r"^\d+$"], sample_mod=3),
            {"name": "n", "class_name": "MetricSingleBatchParameterBuilder",
             "metric_name": "table.row_count"}],
        "expectation_configuration_builders": []}}}
    res, jobs = new_job_ids(lambda: run_rule_based_profiler(df, config))
    assert calls == [
        {"day": ([], ["%d/%m/%Y", "%Y-%m-%d"]),
         "code": ([r"^\d+$"], ["%H"])},
        {"day": ([r"^\d+$"], [])}]
    assert len(jobs) == 6
    params = res.parameters["r"]["table"]
    assert params["day_fmt"]["value"] == "%Y-%m-%d"
    assert params["day_fmt"]["details"]["candidate_strings"] == {
        "%d/%m/%Y": 0.0, "%Y-%m-%d": 1.0}
    assert params["code_fmt"]["details"]["candidate_strings"] == {
        "%H": 24 / 40}
    assert params["code_re"]["details"]["evaluated_regexes"] == {
        r"^\d+$": 1.0}
    assert params["day_re"]["details"]["sample_mod"] == 3
    assert params["n"]["value"] == 40


def test_format_sample_over_a_reordering_shuffle(spark):
    """A format sample is read twice when the strptime confirm scan runs:
    regex matches and the non-null count come from the prefilter scan,
    strptime matches from the confirm scan. Over a shuffle whose output
    order differs between reads (an orderBy on a nondeterministic key), a
    seeded ``F.rand`` draws other rows on each read, so pass 2c persists
    the sample. Half the values are ``2020-01-dd``, half ``2020/01/dd``:
    on one sample the full-match regex and ``%Y-%m-%d`` count the same
    rows."""
    import random

    # OS entropy: forked Python workers share the random module's state
    key = F.udf(lambda: random.SystemRandom().random(),
                "double").asNondeterministic()
    df = spark.range(20000).select(F.format_string(
        "2020%s01%s%02d", F.when(F.col("id") % 2 == 0, "-").otherwise("/"),
        F.when(F.col("id") % 2 == 0, "-").otherwise("/"),
        (F.col("id") % 28 + 1).cast("int")).alias("d")).orderBy(key())
    # the premise: two reads (two queries), two samples
    reads = [sorted(r.d for r in df.where(F.rand(seed=7) < 1.0 / 7).collect())
             for _ in range(2)]
    assert reads[0] != reads[1]

    config = {"name": "fmts", "config_version": 1.0, "rules": {"r": {
        "domain_builder": {"class_name": "TableDomainBuilder"},
        "parameter_builders": [
            {"name": "fmt", "class_name":
                "SimpleDateFormatStringParameterBuilder",
             "metric_domain_kwargs": {"column": "d"}, "sample_mod": 7,
             "candidate_strings": ["%Y-%m-%d", "%Y/%m/%d"]},
            {"name": "re", "class_name": "RegexPatternStringParameterBuilder",
             "metric_domain_kwargs": {"column": "d"}, "sample_mod": 7,
             "candidate_regexes": [r"^\d{4}-\d{2}-\d{2}$"]}],
        "expectation_configuration_builders": []}}}
    params = run_rule_based_profiler(df, config).parameters["r"]["table"]
    fmt = params["fmt"]["details"]["candidate_strings"]
    assert fmt["%Y-%m-%d"] == params["re"]["details"]["evaluated_regexes"][
        r"^\d{4}-\d{2}-\d{2}$"]
    assert fmt["%Y-%m-%d"] + fmt["%Y/%m/%d"] == 1.0
    assert 0.4 < fmt["%Y-%m-%d"] < 0.6


def test_map_metric_domain_and_table_builder(spark):
    df = spark.createDataFrame(
        [(1, "a", None), (2, "b", None), (3, None, None)],
        "i int, mostly_full string, all_null string")
    config = {
        "name": "mm", "config_version": 1.0,
        "rules": {
            "nonnull_cols": {
                "domain_builder": {
                    "class_name": "MapMetricColumnDomainBuilder",
                    "map_metric_name": "column_values.nonnull",
                    "max_unexpected_ratio": 0.5},
                "expectation_configuration_builders": [
                    {"expectation_type": "expect_column_values_to_not_be_null",
                     "column": "$domain.domain_kwargs.column",
                     "mostly": 0.5}]},
            "table": {
                "domain_builder": {"class_name": "TableDomainBuilder"},
                "parameter_builders": [
                    {"name": "n", "class_name": "MetricSingleBatchParameterBuilder",
                     "metric_name": "table.row_count",
                     "metric_domain_kwargs": {}}],
                "expectation_configuration_builders": [
                    {"expectation_type": "expect_table_row_count_to_equal",
                     "value": "$parameter.n.value"}]},
        }}
    res = run_rule_based_profiler(df, config)
    nn_cols = {d["column"] for d in res.domains["nonnull_cols"]}
    assert nn_cols == {"i", "mostly_full"}  # all_null: ratio 1.0 > 0.5
    table_cfg = _by_type(res, "expect_table_row_count_to_equal")[0]
    assert table_cfg.kwargs["value"] == 3
    assert all(r.success for r in validate(df, res.suite).results)


def test_unknown_classes_raise(spark, events):
    with pytest.raises(ValueError, match="domain_builder"):
        run_rule_based_profiler(events, {
            "name": "x", "config_version": 1.0,
            "rules": {"r": {"domain_builder":
                            {"class_name": "MyCustomDomainBuilder"}}}})
    with pytest.raises(ValueError, match="parameter_builder"):
        run_rule_based_profiler(events, {
            "name": "x", "config_version": 1.0,
            "rules": {"r": {
                "domain_builder": {"class_name": "TableDomainBuilder"},
                "parameter_builders": [
                    {"name": "p", "class_name": "MyCustomParameterBuilder"}]}}})


def test_rule_level_variables_reach_parameter_builders(spark, events):
    """Per-rule variables shadow config-level ones for that rule's
    parameter builders too (reference Rule(variables=...)), not just the
    expectation phase."""
    config = {
        "name": "rv", "config_version": 1.0,
        "variables": {"fpr": 0.5},
        "rules": {"r": {
            "variables": {"fpr": 0.2},
            "domain_builder": {"class_name": "ColumnDomainBuilder",
                               "include_column_names": ["value"]},
            "parameter_builders": [
                {"name": "q", "class_name":
                     "NumericMetricRangeMultiBatchParameterBuilder",
                 "metric_name": "column.mean",
                 "metric_domain_kwargs": "$domain.domain_kwargs",
                 "estimator": "quantiles",
                 "false_positive_rate": "$variables.fpr",
                 "n_chunks": 4, "chunk_by": "event_id"}],
            "expectation_configuration_builders": []}}}
    res = run_rule_based_profiler(events, config)
    lo, hi = res.parameters["r"]["value"]["q"]["value"]
    # fpr 0.2 => quantiles at 0.1/0.9 over 4 chunk means — compare against
    # a config-level fpr 0.2 run (no rule override) for identity
    config2 = {**config, "variables": {"fpr": 0.2},
               "rules": {"r": {**config["rules"]["r"], "variables": None}}}
    res2 = run_rule_based_profiler(events, config2)
    assert (lo, hi) == tuple(res2.parameters["r"]["value"]["q"]["value"])
    # and it differs from what config-level fpr 0.5 would give
    config3 = {**config, "rules": {"r": {**config["rules"]["r"],
                                         "variables": None}}}
    res3 = run_rule_based_profiler(events, config3)
    assert (lo, hi) != tuple(res3.parameters["r"]["value"]["q"]["value"])


def test_cardinality_zero_mode_matches_all_null_columns(spark):
    df = spark.createDataFrame(
        [(1, None), (2, None)], "i int, empty string")
    config = {
        "name": "z", "config_version": 1.0,
        "rules": {"z": {
            "domain_builder": {
                "class_name": "CategoricalColumnDomainBuilder",
                "cardinality_limit_mode": "ZERO",
                "include_column_names": ["empty", "i"]},
            "expectation_configuration_builders": [
                {"expectation_type": "expect_column_values_to_be_null",
                 "column": "$domain.domain_kwargs.column"}]}}}
    res = run_rule_based_profiler(df, config)
    assert [d["column"] for d in res.domains["z"]] == ["empty"]
    assert validate(df, res.suite).results[0].success


def test_nested_builder_configs_rejected(spark, events):
    config = {
        "name": "n", "config_version": 1.0,
        "rules": {"r": {
            "domain_builder": {"class_name": "TableDomainBuilder"},
            "expectation_configuration_builders": [
                {"expectation_type": "expect_table_row_count_to_be_between",
                 "min_value": 1,
                 "validation_parameter_builder_configs": [{"name": "x"}]}]}}}
    with pytest.raises(ValueError, match="validation_parameter_builder"):
        run_rule_based_profiler(events, config)


def test_variables_override_and_multi_metric_fusion(spark, events,
                                                   monkeypatch, new_job_ids):
    """run(variables=...) overrides config variables; ALL single-batch
    metric requests across rules and domains ride ONE scan aggregate: the
    run starts as many jobs as that one aggregate does on its own (one;
    the exchanged ``df.agg`` it replaced ran two)."""
    import great_expectations_spark.interactive as imod

    plans = []
    orig = imod.plan_metrics

    def spy(requests, options):
        plans.append(len(requests))
        return orig(requests, options)

    # _resolve_parameters does `from ...interactive import plan_metrics` at
    # call time, so patching the module attribute intercepts it
    monkeypatch.setattr(imod, "plan_metrics", spy)

    config = {
        "name": "v", "config_version": 1.0,
        "variables": {"lo": 0},
        "rules": {
            "a": {"domain_builder": {"class_name": "ColumnDomainBuilder",
                                     "include_column_names": ["value"]},
                  "parameter_builders": [
                      {"name": "mn", "class_name": "MetricSingleBatchParameterBuilder",
                       "metric_name": "column.min",
                       "metric_domain_kwargs": "$domain.domain_kwargs"}],
                  "expectation_configuration_builders": [
                      {"expectation_type": "expect_column_min_to_be_between",
                       "column": "$domain.domain_kwargs.column",
                       "min_value": "$variables.lo"}]},
            "b": {"domain_builder": {"class_name": "ColumnDomainBuilder",
                                     "include_column_names": ["user_id", "event_id"]},
                  "parameter_builders": [
                      {"name": "mx", "class_name": "MetricSingleBatchParameterBuilder",
                       "metric_name": "column.max",
                       "metric_domain_kwargs": "$domain.domain_kwargs"}],
                  "expectation_configuration_builders": [
                      {"expectation_type": "expect_column_max_to_be_between",
                       "max_value": "$parameter.mx.value",
                       "column": "$domain.domain_kwargs.column"}]},
        }}
    def one_agg():
        return scan_aggregate(events, [
            F.min("value").alias("a"), F.max("user_id").alias("b"),
            F.max("event_id").alias("c")])

    one_agg()  # the first read of the cached frame builds the cache
    res, jobs = new_job_ids(lambda: run_rule_based_profiler(
        events, config, variables={"lo": -123}))
    assert plans == [3]  # one metric plan carrying all 3 requests
    assert len(jobs) == len(new_job_ids(one_agg)[1])
    assert res.suite.expectations[0].kwargs["min_value"] == -123


def test_uncounted_distinct_requests_share_one_query(spark, events,
                                                     monkeypatch, new_job_ids):
    """Exact distinct counts the domain pass did not count (a
    ColumnDomainBuilder counts nothing) cannot ride the scan aggregate;
    all of them share ONE ``get_metrics`` query, as many jobs as that
    query on its own, whatever the number of columns."""
    import great_expectations_spark.interactive as imod

    calls = []
    orig = imod.get_metrics

    def spy(df, requests, options=None):
        calls.append(sorted(requests.values(), key=repr))
        return orig(df, requests, options)

    monkeypatch.setattr(imod, "get_metrics", spy)
    cols = ["user_id", "event_id"]
    config = {
        "name": "d", "config_version": 1.0,
        "rules": {"r": {
            "domain_builder": {"class_name": "ColumnDomainBuilder",
                               "include_column_names": cols},
            "parameter_builders": [
                {"name": "n", "class_name": "MetricSingleBatchParameterBuilder",
                 "metric_name": "column.distinct_values.count",
                 "metric_domain_kwargs": "$domain.domain_kwargs"},
                {"name": "p", "class_name": "MetricSingleBatchParameterBuilder",
                 "metric_name": "column.unique_proportion",
                 "metric_domain_kwargs": "$domain.domain_kwargs"}],
            "expectation_configuration_builders": [
                {"expectation_type": "expect_column_unique_value_count_to_be_between",
                 "column": "$domain.domain_kwargs.column",
                 "min_value": "$parameter.n.value",
                 "max_value": "$parameter.n.value"}]}}}
    requests = {f"{m}{c}": (m, {"column": c}) for c in cols
                for m in ("column.distinct_values.count", "column.unique_proportion")}

    def one_query():
        return orig(events, requests)

    want = one_query()  # the first read of the cached frame builds the cache
    res, jobs = new_job_ids(lambda: run_rule_based_profiler(events, config))
    assert calls == [sorted(requests.values(), key=repr)]
    assert len(jobs) == len(new_job_ids(one_query)[1])
    got = {e.kwargs["column"]: e.kwargs["min_value"] for e in res.suite.expectations}
    assert got == {c: want[f"column.distinct_values.count{c}"] for c in cols}


# ---------------------------------------------------- round-5 advice fixes


def test_relative_cardinality_uses_nonnull_denominator(spark):
    """ADVICE r4 (medium): relative modes compare distinct / NON-NULL
    count (reference column.unique_proportion,
    column_proportion_of_unique_values.py), not distinct / total rows.
    A 80%-null column with 10 distinct among 20 non-null rows reads
    ratio 0.5 — over REL_10's 0.10 — so it must NOT become a
    categorical domain (the old total-rows denominator said 0.1 and
    wrongly kept it)."""
    rows = [(i, f"v{i % 10}" if i < 20 else None) for i in range(100)]
    df = spark.createDataFrame(rows, "id bigint, mostly_null string")
    cfg = {
        "name": "card", "config_version": 1.0,
        "rules": {"cats": {
            "domain_builder": {
                "class_name": "CategoricalColumnDomainBuilder",
                "cardinality_limit_mode": "REL_10",
                "include_column_names": ["mostly_null"]},
            "parameter_builders": [],
            "expectation_configuration_builders": []}}}
    res = run_rule_based_profiler(df, cfg)
    assert res.domains["cats"] == []

    # sanity: a truly-low-proportion column still qualifies (5 distinct
    # over 100 non-null rows = 0.05 <= 0.10)
    df2 = spark.createDataFrame(
        [(i, f"k{i % 5}") for i in range(100)], "id bigint, lowcard string")
    cfg["rules"]["cats"]["domain_builder"]["include_column_names"] = ["lowcard"]
    res2 = run_rule_based_profiler(df2, cfg)
    assert res2.domains["cats"] == [{"column": "lowcard"}]


def test_condition_single_precedence_level(spark, events):
    """ADVICE r4: '&' and '|' share ONE left-assoc precedence level like
    the reference's infixNotation, so 'a | b & c' is ((a|b) & c).
    With a=T, b=F, c=F that is False; and-over-or precedence would say
    True — so no expectation must be emitted."""
    cfg = {
        "name": "prec", "config_version": 1.0,
        "variables": {"a": 1, "b": 0, "c": 0},
        "rules": {"r": {
            "domain_builder": {"class_name": "ColumnDomainBuilder",
                               "include_column_names": ["value"]},
            "parameter_builders": [],
            "expectation_configuration_builders": [
                {"expectation_type": "expect_column_values_to_not_be_null",
                 "column": "$domain.domain_kwargs.column",
                 "condition": "$variables.a == 1 | $variables.b == 1"
                              " & $variables.c == 1"}]}}}
    res = run_rule_based_profiler(events, cfg)
    assert len(res.suite.expectations) == 0
    # parenthesized override still honored: a | (b & c) = True
    cfg["rules"]["r"]["expectation_configuration_builders"][0]["condition"] = (
        "$variables.a == 1 | ($variables.b == 1 & $variables.c == 1)")
    res2 = run_rule_based_profiler(events, cfg)
    assert len(res2.suite.expectations) == 1


def test_nested_variables_in_metric_value_kwargs(spark, events):
    """ADVICE r4: $variables refs nested inside builder dicts (the
    reference's common 'quantiles: $variables.quantiles' pattern) must
    substitute, not pass the literal string into get_metrics."""
    cfg = {
        "name": "nested", "config_version": 1.0,
        "variables": {"qs": [0.25, 0.75]},
        "rules": {"r": {
            "domain_builder": {"class_name": "ColumnDomainBuilder",
                               "include_column_names": ["value"]},
            "parameter_builders": [
                {"name": "q", "class_name": "MetricSingleBatchParameterBuilder",
                 "metric_name": "column.quantile_values",
                 "metric_domain_kwargs": "$domain.domain_kwargs",
                 "metric_value_kwargs": {"quantiles": "$variables.qs"}}],
            "expectation_configuration_builders": []}}}
    res = run_rule_based_profiler(events, cfg)
    q = res.parameters["r"]["value"]["q"]["value"]
    assert isinstance(q, list) and len(q) == 2 and q[0] <= q[1]


def test_numeric_range_all_null_column_annotates_not_raises(spark):
    """ADVICE r4: an all-null column's NumericMetricRange builder emits
    [None, None] with a details note instead of aborting the whole run."""
    df = spark.createDataFrame(
        [(i, None) for i in range(50)], "id bigint, v double")
    cfg = {
        "name": "nulls", "config_version": 1.0,
        "rules": {"r": {
            "domain_builder": {"class_name": "ColumnDomainBuilder",
                               "include_column_names": ["v"]},
            "parameter_builders": [
                {"name": "rng",
                 "class_name": "NumericMetricRangeMultiBatchParameterBuilder",
                 "metric_name": "column.mean",
                 "metric_domain_kwargs": "$domain.domain_kwargs",
                 "estimator": "exact", "n_chunks": 4, "chunk_by": "id"}],
            "expectation_configuration_builders": [
                {"expectation_type": "expect_column_mean_to_be_between",
                 "column": "$domain.domain_kwargs.column",
                 "min_value": "$parameter.rng.value[0]",
                 "max_value": "$parameter.rng.value[1]"}]}}}
    res = run_rule_based_profiler(df, cfg)
    p = res.parameters["r"]["v"]["rng"]
    assert p["value"] == [None, None]
    assert "note" in p["details"]
    # the emitted expectation carries unbounded (None) limits
    (exp,) = res.suite.expectations
    assert exp.kwargs["min_value"] is None and exp.kwargs["max_value"] is None


# ------------------------------------------------ round-5 real batches


def _day_means(events):
    rows = (events.groupBy(F.dayofmonth("ts").alias("d"))
            .agg(F.avg("value").alias("m")).orderBy("d").collect())
    return [r["m"] for r in rows]


def test_real_batch_numeric_range_date_part(spark, events):
    """VERDICT r4 task 2: with a date_part batch_spec the
    NumericMetricRange builder iterates GENUINE per-day batches (one
    groupBy(day(ts)), not md5 pseudo-chunks): exact estimator = [min,
    max] of the real per-day means, details carry the real batch ids."""
    cfg = {
        "name": "real", "config_version": 1.0,
        "batch_spec": {"splitter": "date_part", "column": "ts",
                       "part": "day"},
        "rules": {"r": {
            "domain_builder": {"class_name": "ColumnDomainBuilder",
                               "include_column_names": ["value"]},
            "parameter_builders": [
                {"name": "rng",
                 "class_name": "NumericMetricRangeMultiBatchParameterBuilder",
                 "metric_name": "column.mean",
                 "metric_domain_kwargs": "$domain.domain_kwargs",
                 "estimator": "exact"}],
            "expectation_configuration_builders": [
                {"expectation_type": "expect_column_mean_to_be_between",
                 "column": "$domain.domain_kwargs.column",
                 "min_value": "$parameter.rng.value[0]",
                 "max_value": "$parameter.rng.value[1]"}]}}}
    res = run_rule_based_profiler(events, cfg)
    means = _day_means(events)
    p = res.parameters["r"]["value"]["rng"]
    assert p["value"] == [pytest.approx(min(means)), pytest.approx(max(means))]
    assert p["details"]["num_batches"] == len(means)
    assert p["details"]["batching"] == "day(ts)"
    assert len(p["details"]["batch_identifiers"]) == len(means)
    # whole-table mean lies inside the per-day-mean envelope
    (exp,) = res.suite.expectations
    whole = events.agg(F.avg("value")).first()[0]
    assert exp.kwargs["min_value"] <= whole <= exp.kwargs["max_value"]


def test_real_batch_metric_multibatch_per_batch_values(spark, events):
    """MetricMultiBatch + batch_spec returns ONE value per real batch
    (reference metric_multi_batch_parameter_builder.py resolves per
    Batch), key-ordered and aligned with batch_identifiers."""
    cfg = {
        "name": "mb", "config_version": 1.0,
        "rules": {"r": {
            "batch_spec": {"splitter": "date_part", "column": "ts",
                           "part": "day"},
            "domain_builder": {"class_name": "ColumnDomainBuilder",
                               "include_column_names": ["value"]},
            "parameter_builders": [
                {"name": "daily_mean",
                 "class_name": "MetricMultiBatchParameterBuilder",
                 "metric_name": "column.mean",
                 "metric_domain_kwargs": "$domain.domain_kwargs"},
                {"name": "daily_rows",
                 "class_name": "MetricMultiBatchParameterBuilder",
                 "metric_name": "table.row_count",
                 "metric_domain_kwargs": "$domain.domain_kwargs"}],
            "expectation_configuration_builders": []}}}
    res = run_rule_based_profiler(events, cfg)
    means = _day_means(events)
    p = res.parameters["r"]["value"]["daily_mean"]
    assert p["value"] == [pytest.approx(m) for m in means]
    assert p["details"]["batch_identifiers"] == [
        str(d) for d in sorted(
            r["d"] for r in events.select(
                F.dayofmonth("ts").alias("d")).distinct().collect())]
    n = res.parameters["r"]["value"]["daily_rows"]
    assert sum(n["value"]) == events.count()


def test_builder_level_chunk_by_opts_out_of_real_batches(spark, events):
    """An explicit builder-level chunk_by keeps the md5 pseudo-chunk path
    even under a rule batch_spec — same values as a spec-less run."""
    base = {
        "domain_builder": {"class_name": "ColumnDomainBuilder",
                           "include_column_names": ["value"]},
        "parameter_builders": [
            {"name": "rng",
             "class_name": "NumericMetricRangeMultiBatchParameterBuilder",
             "metric_name": "column.mean",
             "metric_domain_kwargs": "$domain.domain_kwargs",
             "estimator": "exact", "n_chunks": 4, "chunk_by": "event_id"}],
        "expectation_configuration_builders": []}
    cfg_plain = {"name": "a", "config_version": 1.0, "rules": {"r": dict(base)}}
    cfg_spec = {"name": "b", "config_version": 1.0,
                "batch_spec": {"splitter": "date_part", "column": "ts",
                               "part": "day"},
                "rules": {"r": dict(base)}}
    v1 = run_rule_based_profiler(events, cfg_plain).parameters["r"]["value"]["rng"]
    v2 = run_rule_based_profiler(events, cfg_spec).parameters["r"]["value"]["rng"]
    assert v1["value"] == v2["value"]
    assert v2["details"]["num_batches"] == 4


def test_batch_key_expr_splitter_family(spark, events):
    """Every splitter kind resolves to a key column whose distinct count
    matches the checkpoint splitter's chunk count semantics."""
    from great_expectations_spark.rule_profiler import batch_key_expr

    cases = [
        ({"splitter": "column_value", "column": "event_type"}, None),
        ({"splitter": "date_part", "column": "ts", "part": "day"}, 30),
        ({"splitter": "date_part", "column": "ts",
          "parts": ["year", "month"]}, 1),
        ({"splitter": "hashed_column", "column": "event_id", "n": 8}, 8),
        ({"splitter": "mod_integer", "column": "event_id", "mod": 5}, 5),
        ({"splitter": "divided_integer", "column": "event_id",
          "divisor": 250}, None),
        ({"splitter": "converted_datetime", "column": "ts",
          "date_format": "yyyy-MM-dd"}, 30),
        ({"splitter": "multi_column_values",
          "columns": ["event_type"]}, None),
    ]
    for spec, expect_n in cases:
        key, label = batch_key_expr(events, spec)
        n = events.select(key.alias("k")).distinct().count()
        assert n > 0 and isinstance(label, str)
        if expect_n is not None:
            assert n == expect_n, (spec, n)
    with pytest.raises(ValueError):
        batch_key_expr(events, {"splitter": "nope", "column": "ts"})


def test_metric_multibatch_nonaggregable_falls_back_single_batch(spark, events):
    """Under a real batch_spec, a MetricMultiBatch metric with no
    per-chunk aggregate form (column.value_counts) degrades to the
    single-batch value instead of erroring, while aggregable siblings in
    the same rule (row count, histogram) still resolve per batch."""
    cfg = {
        "name": "fb", "config_version": 1.0,
        "batch_spec": {"splitter": "date_part", "column": "ts",
                       "part": "day"},
        "rules": {"r": {
            "domain_builder": {"class_name": "ColumnDomainBuilder",
                               "include_column_names": ["event_type"]},
            "parameter_builders": [
                {"name": "vc",
                 "class_name": "MetricMultiBatchParameterBuilder",
                 "metric_name": "column.value_counts",
                 "metric_domain_kwargs": "$domain.domain_kwargs"},
                {"name": "daily_n",
                 "class_name": "MetricMultiBatchParameterBuilder",
                 "metric_name": "table.row_count",
                 "metric_domain_kwargs": "$domain.domain_kwargs"},
                {"name": "hist",
                 "class_name": "MetricMultiBatchParameterBuilder",
                 "metric_name": "column.histogram",
                 "metric_domain_kwargs": {"column": "value"},
                 "metric_value_kwargs": {"bins": [-1e9, 0.0, 1e9]}}],
            "expectation_configuration_builders": []}}}
    res = run_rule_based_profiler(events, cfg)
    p = res.parameters["r"]["event_type"]
    assert p["vc"]["details"]["num_batches"] == 1  # single-batch fallback
    assert sum(n for _v, n in p["vc"]["value"][0]) <= events.count()
    assert p["daily_n"]["details"]["num_batches"] == 30  # real batches
    # the histogram has an aggregate form, so it resolves per real batch
    hist = p["hist"]
    assert hist["details"]["num_batches"] == 30
    per_day = {str(r["d"]): r["n"] for r in events.where(F.col("value").isNotNull())
               .groupBy(F.dayofmonth("ts").alias("d"))
               .agg(F.count(F.lit(1)).alias("n")).collect()}
    for day, counts in zip(hist["details"]["batch_identifiers"],
                           hist["value"]):
        assert sum(counts) == per_day.get(day, 0)


def test_quantile_chunk_metric_range(spark, events):
    """column.quantile with metric_value_kwargs {"quantile": p}: a
    NumericMetricRange builder envelopes ANY quantile (reference numeric
    rule's quantile ranges); exact estimator over real day batches =
    [min, max] of per-day type-7 quantiles."""
    cfg = {
        "name": "q", "config_version": 1.0,
        "batch_spec": {"splitter": "date_part", "column": "ts",
                       "part": "day"},
        "rules": {"r": {
            "domain_builder": {"class_name": "ColumnDomainBuilder",
                               "include_column_names": ["value"]},
            "parameter_builders": [
                {"name": "q25",
                 "class_name": "NumericMetricRangeMultiBatchParameterBuilder",
                 "metric_name": "column.quantile",
                 "metric_value_kwargs": {"quantile": 0.25},
                 "metric_domain_kwargs": "$domain.domain_kwargs",
                 "estimator": "exact"}],
            "expectation_configuration_builders": []}}}
    res = run_rule_based_profiler(events, cfg)
    lo, hi = res.parameters["r"]["value"]["q25"]["value"]
    per_day = (events.groupBy(F.dayofmonth("ts"))
               .agg(F.percentile("value", F.lit(0.25)).alias("q")).collect())
    qs = [r["q"] for r in per_day]
    assert lo == pytest.approx(min(qs)) and hi == pytest.approx(max(qs))
    with pytest.raises(ValueError):
        run_rule_based_profiler(events, {
            "name": "bad", "config_version": 1.0,
            "rules": {"r": {
                "domain_builder": {"class_name": "ColumnDomainBuilder",
                                   "include_column_names": ["value"]},
                "parameter_builders": [
                    {"name": "q",
                     "class_name":
                         "NumericMetricRangeMultiBatchParameterBuilder",
                     "metric_name": "column.quantile",
                     "metric_value_kwargs": {"quantile": 1.5},
                     "metric_domain_kwargs": "$domain.domain_kwargs"}],
                "expectation_configuration_builders": []}}})


# ------------------------------------------- per-batch registry metrics


def test_numeric_range_median_on_column_name_with_space(spark, events):
    """The per-batch median builds its aggregate from a column reference,
    not SQL text: a column named ``n chars`` resolves like any other."""
    df = events.select(F.col("event_id"), F.col("value").alias("n chars"))
    cfg = {
        "name": "sp", "config_version": 1.0,
        "rules": {"r": {
            "domain_builder": {"class_name": "ColumnDomainBuilder",
                               "include_column_names": ["n chars"]},
            "parameter_builders": [
                {"name": "med",
                 "class_name": "NumericMetricRangeMultiBatchParameterBuilder",
                 "metric_name": "column.median",
                 "metric_domain_kwargs": "$domain.domain_kwargs",
                 "estimator": "exact", "n_chunks": 4}],
            "expectation_configuration_builders": []}}}
    res = run_rule_based_profiler(df, cfg)
    lo, hi = res.parameters["r"]["n chars"]["med"]["value"]
    whole = df.agg(F.percentile(F.col("n chars"), F.lit(0.5))).first()[0]
    assert res.parameters["r"]["n chars"]["med"]["details"]["num_batches"] == 4
    # the whole-table median lies inside the per-batch median envelope
    assert lo - 1e-9 <= whole <= hi + 1e-9


_SKETCH_REQUESTS = {
    "med": ("column.median", {"column": "value"}),
    "q": ("column.quantile", {"column": "value", "quantile": 0.25}),
    "qs": ("column.quantile_values", {"column": "value",
                                      "quantiles": [0.1, 0.9]}),
    "dc": ("column.distinct_values.count", {"column": "event_type"}),
}


def _batch_plan(events, options):
    from great_expectations_spark.rule_profiler import (
        _portable_chunk_key,
        chunk_aggregate_frame,
    )

    frame, _ = chunk_aggregate_frame(
        events, _portable_chunk_key("event_id", 4), _SKETCH_REQUESTS, options)
    return frame._jdf.queryExecution().optimizedPlan().toString()


def test_batch_metrics_follow_options(spark, events):
    """``Options`` reach the per-batch pass: the sketch settings plan
    percentile_approx and approx_count_distinct with no exact percentile;
    the defaults plan the exact forms."""
    from great_expectations_spark.plans.compiler import Options

    sketch = _batch_plan(events, Options(
        exact_median=False, exact_quantiles=False, approx_distinct=True))
    assert "percentile_approx" in sketch
    assert "approx_count_distinct" in sketch
    assert "percentile(" not in sketch, sketch

    exact = _batch_plan(events, Options())
    assert "percentile(" in exact
    assert "percentile_approx" not in exact
    assert "count(distinct" in exact
    assert "approx_count_distinct" not in exact


def test_batch_metrics_shape_and_determinism(spark, docs):
    """One (batch_id, values) pair per batch, in batch-id order, and the
    same answers whatever the input partitioning."""
    from great_expectations_spark.rule_profiler import (
        _portable_chunk_key,
        batch_metrics,
    )

    requests = {"n_rows": ("table.row_count", {}),
                "mean": ("column.mean", {"column": "n_chars"}),
                "len_max": ("column_values.length_max", {"column": "lang"})}
    key = _portable_chunk_key("doc_id", 4)
    m1 = batch_metrics(docs, requests, key)
    ids = [b for b, _ in m1]
    assert set(ids) <= {0, 1, 2, 3} and ids == sorted(ids)
    assert sum(v["n_rows"] for _, v in m1) == docs.count()
    m2 = batch_metrics(docs.repartition(9), requests, key)
    assert m1 == m2
    with pytest.raises(ValueError):
        batch_metrics(docs, {"vc": ("column.value_counts",
                                    {"column": "lang"})}, key)
