"""DataAssistant presets (VERDICT r4 task 3): one-call onboarding /
volume suites over the Common-Crawl-style webpages table, emitted
suites validating GREEN on the data that produced them — the reference
OnboardingDataAssistant / VolumeDataAssistant contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from great_expectations_spark import (
    onboarding_profiler_config,
    run_onboarding_assistant,
    run_volume_assistant,
    validate,
    volume_profiler_config,
)
from great_expectations_spark.sources.webpages import webpages


@pytest.fixture(scope="module")
def pages(spark):
    return webpages(spark, 2000).cache()


def _types(res):
    return {(e.expectation_type, e.kwargs.get("column"))
            for e in res.suite.expectations}


def test_onboarding_suite_validates_green_on_webpages(spark, pages):
    res = run_onboarding_assistant(pages)
    vr = validate(pages, res.suite, result_format="BOOLEAN_ONLY")
    failed = [r.expectation_config.expectation_type
              for r in vr.results if not r.success]
    assert vr.success, failed
    t = _types(res)
    # each rule family contributed
    assert ("expect_table_row_count_to_be_between", None) in t
    assert ("expect_table_columns_to_match_set", None) in t
    assert ("expect_column_values_to_not_be_null", "url") in t
    assert ("expect_column_values_to_be_between", "warc_ts") in t
    assert ("expect_column_value_lengths_to_be_between", "url") in t
    assert ("expect_column_values_to_be_in_set", "lang") in t


def test_onboarding_mostly_dedupe_and_calibration(spark, pages):
    """Zero-null columns get the strict not-null expectation ONLY (the
    mostly twin is deduped); text (~3% nulls <= 5%) gets the mostly
    variant at 1 - max_null_ratio."""
    res = run_onboarding_assistant(pages)
    by_col = {}
    for e in res.suite.expectations:
        if e.expectation_type == "expect_column_values_to_not_be_null":
            by_col.setdefault(e.kwargs["column"], []).append(e.kwargs)
    assert by_col["url"] == [{"column": "url"}]  # strict, single
    assert by_col["text"] == [{"column": "text", "mostly": 0.95}]


def test_onboarding_uniqueness_domain_is_exact(spark):
    """column_values.unique map-metric domain: zero-duplicate columns
    only (distinct == nonnull), never fully-null ones."""
    df = spark.createDataFrame(
        [(i, i % 7, None) for i in range(50)],
        "uid bigint, dup bigint, empty string")
    res = run_onboarding_assistant(df)
    uniq = {e.kwargs["column"] for e in res.suite.expectations
            if e.expectation_type == "expect_column_values_to_be_unique"}
    assert uniq == {"uid"}
    # and the all-null column got be_null, not not_be_null
    nullity = {e.kwargs["column"] for e in res.suite.expectations
               if e.expectation_type == "expect_column_values_to_be_null"}
    assert "empty" in nullity


def test_onboarding_numeric_envelopes_contain_whole_table(spark, pages):
    """Exact-estimator chunk envelopes must contain the whole-table
    statistic (that is WHY the suite validates green): checked directly
    for the numeric column derived from text length."""
    df = pages.withColumn("n_tokens", F.size(F.split("text", " ")))
    res = run_onboarding_assistant(df.select("url", "n_tokens"))
    whole = df.agg(F.avg("n_tokens"), F.min("n_tokens"),
                   F.max("n_tokens")).first()
    got = {e.expectation_type: e.kwargs for e in res.suite.expectations
           if e.kwargs.get("column") == "n_tokens"}
    mean_k = got["expect_column_mean_to_be_between"]
    assert mean_k["min_value"] <= whole[0] <= mean_k["max_value"]
    vals_k = got["expect_column_values_to_be_between"]
    assert vals_k["min_value"] == whole[1]
    assert vals_k["max_value"] == whole[2]
    # stdev expectation deliberately not emitted (whole-table validation
    # unit; see data_assistant module docstring) but the parameter exists
    p = res.parameters["numeric_columns_rule"]["n_tokens"]
    assert "stdev_range" in p
    assert "expect_column_stdev_to_be_between" not in got


def test_onboarding_with_real_batch_spec(spark, pages):
    """batch_spec routes the numeric ranges over genuine batches; suite
    still validates green (envelope over real batches also contains the
    whole-table stats)."""
    df = pages.withColumn("n_tokens", F.size(F.split("text", " ")))
    res = run_onboarding_assistant(
        df.select("warc_ts", "n_tokens"),
        batch_spec={"splitter": "date_part", "column": "warc_ts",
                    "part": "month"})
    p = res.parameters["numeric_columns_rule"]["n_tokens"]["mean_range"]
    assert p["details"]["num_batches"] == 12
    vr = validate(df.select("warc_ts", "n_tokens"), res.suite,
                  result_format="BOOLEAN_ONLY")
    assert vr.success


def test_onboarding_config_is_plain_data(spark, pages):
    """The generated config round-trips through the declarative runner
    unchanged — a user can inspect/edit it like a reference YAML."""
    import json

    cfg = onboarding_profiler_config(pages, exclude_column_names=["html"])
    json.dumps(cfg)  # fully serializable
    assert "html" not in cfg["rules"]["column_value_uniqueness_rule"][
        "domain_builder"]["include_column_names"]
    from great_expectations_spark import run_rule_based_profiler

    res = run_rule_based_profiler(pages, cfg)
    assert not any(e.kwargs.get("column") == "html"
                   for e in res.suite.expectations)


def test_volume_assistant_green_and_bounded(spark, pages):
    df = pages.drop("html")
    res = run_volume_assistant(df)
    vr = validate(df, res.suite, result_format="BOOLEAN_ONLY")
    assert vr.success
    got = {e.kwargs.get("column"): e.kwargs for e in res.suite.expectations
           if e.expectation_type
           == "expect_column_unique_value_count_to_be_between"}
    # upper bound is the whole-table distinct count; lower is the
    # chunk-envelope minimum (<= whole-table by subadditivity)
    for c in ("url", "lang"):
        whole = df.select(c).distinct().count()
        assert got[c]["max_value"] == whole
        assert got[c]["min_value"] <= whole


def test_onboarding_numeric_rule_shares_one_chunk_plan(spark):
    """Without a batch_spec every numeric column's range builders share
    ONE md5 pseudo-chunk key (the first profiled column) — one groupBy
    for the whole numeric rule instead of one full-table shuffle per
    column (the 100-TB scale shape)."""
    df = spark.createDataFrame(
        [(i, float(i % 7), float(i % 11), i % 13) for i in range(200)],
        "id bigint, a double, b double, c bigint")
    res = run_onboarding_assistant(df)
    labels = {
        res.parameters["numeric_columns_rule"][col]["mean_range"][
            "details"]["batching"]
        for col in ("id", "a", "b", "c")}
    assert labels == {"md5(id)%8"}


def test_format_sample_mod_matches_exact_inference(spark, pages):
    """format_sample_mod evaluates candidate formats on a seeded per-row
    1/mod ``F.rand`` sample — the inferred format must agree with the exact
    full-scan inference on homogeneous data, with the sample recorded in
    the parameter details."""
    df = pages.select("url", "lang")
    exact = run_onboarding_assistant(df)
    sampled = run_onboarding_assistant(df, format_sample_mod=7)
    for col in ("url", "lang"):
        e = exact.parameters["text_columns_rule"][col]["regex"]
        s = sampled.parameters["text_columns_rule"][col]["regex"]
        assert s["value"] == e["value"]
        assert s["details"]["sample_mod"] == 7
        assert "sample_mod" not in e["details"]
    vr = validate(df, sampled.suite, result_format="BOOLEAN_ONLY")
    assert vr.success


def test_format_sample_mod_confirm_scan_sees_the_same_sample(spark):
    """Under format_sample_mod the strftime counts come from two scans —
    the JVM prefilter scan (non-null count) and the strptime confirm scan
    (matches among the admitted values). Both read the same seeded
    ``F.rand`` sample: every candidate's ratio equals a Python strptime
    recount over that sampled frame, Feb-30 values (admitted by the
    prefilter, refused by strptime) included."""
    from datetime import datetime

    from great_expectations_spark.profiler import CANDIDATE_STRFTIME

    def parses(v, fmt):
        try:
            datetime.strptime(v, fmt)
            return True
        except ValueError:
            return False

    kinds = [lambda i: f"2021-{i % 12 + 1:02d}-{i % 28 + 1:02d}",
             lambda i: f"2021-02-{29 + i % 2}",
             lambda i: f"garbage-{i}"]
    df = spark.createDataFrame(
        [(kinds[i % 3](i),) for i in range(3000)], "s string")
    res = run_onboarding_assistant(df, format_sample_mod=7)
    ratios = res.parameters["text_columns_rule"]["s"]["date_format"][
        "details"]["candidate_strings"]
    sample = [r.s for r in df.where(F.rand(seed=7) < 1.0 / 7).collect()]
    assert 300 < len(sample) < 560
    want = {f: sum(parses(v, f) for v in sample) / len(sample)
            for f in CANDIDATE_STRFTIME}
    assert ratios == want
    assert 0.2 < ratios["%Y-%m-%d"] < 0.5


def test_onboarding_all_null_columns_stay_green(spark):
    """Review fix (r5): all-null numeric / text / datetime columns
    resolve [None, None] ranges, and the assistant must emit NO
    between-family expectation for them (a double-None between validates
    red) — the suite stays green on the profiled data."""
    df = spark.createDataFrame(
        [(i, None, None, None) for i in range(40)],
        "id bigint, v double, s string, ts timestamp")
    res = run_onboarding_assistant(df)
    null_cols = {"v", "s", "ts"}
    for e in res.suite.expectations:
        if e.kwargs.get("column") in null_cols:
            assert e.expectation_type == "expect_column_values_to_be_null", e
    vr = validate(df, res.suite, result_format="BOOLEAN_ONLY")
    assert vr.success, [r.expectation_config.expectation_type
                        for r in vr.results if not r.success]


def test_format_sampling_is_row_wise_not_value_keyed(spark):
    """Review fix (r5): the format-inference sample is PER-ROW (seeded
    rand), not value-keyed — a 50/50 date/garbage column must read a
    ~0.5 match ratio under sampling, never 1.0 (whole-value-group
    sampling would include all dates and exclude all garbage, emitting a
    strftime expectation that fails on the producing data)."""
    rows = [(i, "2020-10-14" if i % 2 == 0 else "notadate")
            for i in range(4000)]
    df = spark.createDataFrame(rows, "i bigint, s string")
    res = run_onboarding_assistant(df.select("s"), format_sample_mod=7)
    p = res.parameters["text_columns_rule"]["s"]["date_format"]
    assert p["value"] is None  # 0.5 ratio < 0.9 threshold
    ratios = p["details"]["candidate_strings"]
    best = max(ratios.values()) if ratios else 0.0
    assert 0.3 < best < 0.7, ratios
    vr = validate(df.select("s"), res.suite, result_format="BOOLEAN_ONLY")
    assert vr.success
