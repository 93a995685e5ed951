"""Onboarding assistant (data_assistant.run_onboarding_assistant), the
per-batch metric plan it rides (rule_profiler.batch_metrics), and the
numeric-range estimators (assistant.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from great_expectations_spark.data_assistant import run_onboarding_assistant
from great_expectations_spark.rule_profiler import batch_metrics
from great_expectations_spark.validator import validate

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def docs_suite(spark, docs):
    return run_onboarding_assistant(docs).suite


def _failed(res):
    return {r.expectation_config.expectation_type
            for r in res.results if not r.success}


def test_suite_passes_on_profiled_data(spark, docs, docs_suite):
    res = validate(docs, docs_suite, result_format="BOOLEAN_ONLY")
    assert res.success, _failed(res)


def test_suite_fails_on_drifted_data(spark, docs, docs_suite):
    # shift the numeric column far outside the envelope; inject an unseen
    # category
    drifted = docs.withColumn("n_chars", F.col("n_chars") + F.lit(10**6)) \
                  .withColumn("lang", F.lit("??"))
    res = validate(drifted, docs_suite, result_format="BOOLEAN_ONLY")
    assert not res.success
    failed = _failed(res)
    assert "expect_column_mean_to_be_between" in failed
    assert "expect_column_values_to_be_in_set" in failed


def test_suite_fails_on_null_surge(spark, docs, docs_suite):
    surged = docs.withColumn(
        "text", F.when(F.pmod(F.col("doc_id"), 2) == 0, None).otherwise(F.col("text")))
    res = validate(surged, docs_suite, result_format="BOOLEAN_ONLY")
    assert not res.success
    assert "expect_column_values_to_not_be_null" in _failed(res)


def test_high_cardinality_column_gets_no_in_set(spark, docs):
    suite = run_onboarding_assistant(
        docs, cardinality_limit_mode="VERY_FEW").suite
    types_by_col = {}
    for e in suite.expectations:
        types_by_col.setdefault(e.kwargs.get("column"), set()).add(e.expectation_type)
    assert "expect_column_values_to_be_in_set" not in types_by_col.get("text", set())
    # lang is low-cardinality -> in_set present with the observed values
    assert "expect_column_values_to_be_in_set" in types_by_col.get("lang", set())


def test_explicit_chunk_column_used_verbatim(spark, docs):
    key = F.pmod(F.col("doc_id"), F.lit(3))
    rows = batch_metrics(docs, {"n": ("table.row_count", {})}, key)
    assert [b for b, _ in rows] == [0, 1, 2]


def test_bad_args(spark, docs):
    key = F.pmod(F.col("doc_id"), F.lit(3))
    with pytest.raises(ValueError):  # no aggregate form
        batch_metrics(docs, {"m": ("column.value_counts", {"column": "lang"})},
                      key)
    with pytest.raises(ValueError):  # column metric without a column
        batch_metrics(docs, {"m": ("column.mean", {})}, key)
    with pytest.raises(ValueError):
        run_onboarding_assistant(docs, exclude_column_names=list(docs.columns))


def test_empty_input(spark):
    df = spark.createDataFrame([], "a long, b string")
    suite = run_onboarding_assistant(df).suite
    res = validate(df, suite, result_format="BOOLEAN_ONLY")
    assert res.success, _failed(res)
    row_counts = [e for e in suite.expectations
                  if e.expectation_type == "expect_table_row_count_to_be_between"]
    assert [(e.kwargs["min_value"], e.kwargs["max_value"])
            for e in row_counts] == [(0, 0)]


def test_suite_passes_on_chunk_correlated_column(spark):
    """A low-cardinality numeric column splits into value-pure chunks
    (per-chunk std 0) while the whole-table std is large — the
    between-chunk variance term. The assistant emits no chunk-envelope
    stdev bound for exactly this reason, so its suite still validates
    green on the data it profiled."""
    df = spark.createDataFrame(
        [(float(0.0),)] * 50 + [(float(1000.0),)] * 50, "flag double")
    res_suite = run_onboarding_assistant(df)
    assert "stdev_range" in res_suite.parameters["numeric_columns_rule"]["flag"]
    kinds = {e.expectation_type for e in res_suite.suite.expectations}
    assert "expect_column_stdev_to_be_between" not in kinds
    res = validate(df, res_suite.suite, result_format="BOOLEAN_ONLY")
    assert res.success, _failed(res)


# ---- numeric-range estimators (reference parity) ---------------------------


def test_quantile_linear_matches_numpy():
    import numpy as np

    from great_expectations_spark.assistant import _quantile_linear

    vals = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.3]
    s = sorted(vals)
    for q in (0.0, 0.025, 0.05, 0.25, 0.5, 0.75, 0.975, 1.0):
        assert _quantile_linear(s, q) == pytest.approx(
            float(np.quantile(np.array(vals), q, method="linear")), abs=1e-12)


def test_estimate_range_modes():
    from great_expectations_spark.assistant import estimate_range

    vals = [10.0, 12.0, 11.0, 13.0, 10.5, 12.5, 11.5, 12.2]
    ex = estimate_range(vals, "exact")
    assert ex == (10.0, 13.0)
    qlo, qhi = estimate_range(vals, "quantiles", false_positive_rate=0.1)
    assert 10.0 <= qlo <= qhi <= 13.0
    blo, bhi = estimate_range(vals, "bootstrap", false_positive_rate=0.1)
    # deterministic: same seed -> same bounds
    assert (blo, bhi) == estimate_range(vals, "bootstrap", false_positive_rate=0.1)
    assert 10.0 - 1e-9 <= blo <= bhi <= 13.0 + 1e-9
    with pytest.raises(ValueError):
        estimate_range(vals, "kde")
    with pytest.raises(ValueError):
        estimate_range([None, None], "exact")


def test_bootstrap_bias_correction_branches():
    from great_expectations_spark.assistant import bootstrap_range

    # constant values: se == 0 -> corrected branch -> exactly the sample
    # quantile (the constant)
    lo, hi = bootstrap_range([5.0] * 6, false_positive_rate=0.1)
    assert lo == pytest.approx(5.0) and hi == pytest.approx(5.0)


def test_estimator_suite_passes_on_profiled_data(spark, docs):
    for est in ("exact", "quantiles"):
        suite = run_onboarding_assistant(docs, estimator=est).suite
        res = validate(docs, suite, result_format="BOOLEAN_ONLY")
        # exact bounds contain the observed stats by construction;
        # quantiles at default fpr clip the chunk extremes, so only the
        # within-bounds stats are guaranteed — check mean specifically
        by_type = {(r.expectation_config.expectation_type,
                    r.expectation_config.kwargs.get("column")): r.success
                   for r in res.results}
        assert by_type[("expect_column_mean_to_be_between", "n_chars")], est
