"""Exact quantiles ride the fused pass-1 aggregate: their values must equal
``df.stat.approxQuantile(c, qs, 0.0)`` (the reference Spark engine's
exact rank-based quantiles) on every layout, and non-numeric columns keep
approxQuantile's own failure without poisoning the rest of the suite."""

from __future__ import annotations

import datetime
import random

import pytest

from great_expectations_spark import ExpectationSuite, validate

QS = [0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0]


def _quantile_suite(column: str = "v") -> ExpectationSuite:
    return ExpectationSuite("q").add(
        "expect_column_quantile_values_to_be_between", column=column,
        quantile_ranges={"quantiles": QS, "value_ranges": [[None, None]] * len(QS)})


def _cases():
    rng = random.Random(11)
    longs = [(rng.randint(-10**12, 10**12),) for _ in range(3000)]
    small = [(rng.randint(0, 9),) for _ in range(500)]  # heavy ties
    doubles = [(rng.gauss(0.0, 1e3),) for _ in range(2000)]
    specials = (
        [(float("nan"),)] * 40 + [(None,)] * 60
        + [(rng.uniform(-5, 5),) for _ in range(700)])
    return [
        ("long", "v long", longs),
        ("long_ties", "v long", small),
        ("double", "v double", doubles),
        ("nan_null", "v double", specials),
        ("all_null", "v double", [(None,)] * 9),
        ("one_row", "v long", [(42,)]),
        ("empty", "v double", []),
    ]


@pytest.mark.parametrize("name,schema,rows", _cases(), ids=[c[0] for c in _cases()])
def test_pass1_quantiles_equal_approx_quantile_recount(spark, name, schema, rows):
    base = spark.createDataFrame(rows, schema)
    for parts in (1, 3, 8):
        df = base.repartition(parts)
        got = validate(df, _quantile_suite()).results[0]
        assert not got.exception_info.get("raised_exception"), got.exception_info
        want = df.stat.approxQuantile("v", QS, 0.0) or [None] * len(QS)
        assert got.result["observed_value"]["values"] == want, (name, parts)
        # an all-NULL (or empty) column has no quantiles: the check fails
        assert got.success is (want[0] is not None), (name, parts)


def test_quantiles_run_no_job_of_their_own(spark, new_job_ids):
    df = spark.createDataFrame([(float(i),) for i in range(200)], "v double")
    mean = ExpectationSuite("m").add(
        "expect_column_mean_to_be_between", column="v", min_value=0)
    both = ExpectationSuite("mq", expectations=mean.expectations
                            + _quantile_suite().expectations)
    _, base_jobs = new_job_ids(lambda: validate(df, mean))
    res, jobs = new_job_ids(lambda: validate(df, both))
    assert len(jobs) == len(base_jobs)
    assert res.results[1].result["observed_value"]["values"] == (
        df.stat.approxQuantile("v", QS, 0.0))


def test_non_numeric_quantile_fails_alone(spark, new_job_ids):
    """String, timestamp and binary columns fail only their quantile
    expectation, with approxQuantile's own message, at no extra job and
    without the pass-1 isolation fallback."""
    ts = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(float(i), f"s{i}", ts + datetime.timedelta(hours=i), bytearray(b"%d" % i))
         for i in range(100)],
        "v double, s string, t timestamp, b binary")
    others = (
        ExpectationSuite("o")
        .add("expect_column_mean_to_be_between", column="v", min_value=0)
        .add("expect_column_values_to_not_be_null", column="s")
        .add("expect_column_quantile_values_to_be_between", column="v",
             quantile_ranges={"quantiles": [0.5], "value_ranges": [[0, 100]]})
    )
    bad = [
        ("s", "StringType"), ("t", "TimestampType"), ("b", "BinaryType")]
    suite = ExpectationSuite("mixed", expectations=list(others.expectations))
    for c, _ in bad:
        suite.add("expect_column_quantile_values_to_be_between", column=c,
                  quantile_ranges={"quantiles": [0.5], "value_ranges": [[0, 1]]})
    want, base_jobs = new_job_ids(lambda: validate(df, others))
    got, jobs = new_job_ids(lambda: validate(df, suite))
    assert len(jobs) == len(base_jobs)
    n = len(others.expectations)
    for w, g in zip(want.results, got.results[:n]):
        assert g.to_dict() == w.to_dict()
    for (c, dtype), evr in zip(bad, got.results[n:]):
        assert evr.success is False
        assert evr.exception_info["raised_exception"]
        assert evr.exception_info["exception_message"] == (
            f"requirement failed: Quantile calculation for column {c} with "
            f"data type {dtype} is not supported.")


def test_quantile_outside_unit_interval_fails_at_compile(spark, new_job_ids):
    df = spark.createDataFrame([(1.0,), (2.0,)], "v double")
    suite = ExpectationSuite("bad").add(
        "expect_column_quantile_values_to_be_between", column="v",
        quantile_ranges={"quantiles": [0.5, 1.5], "value_ranges": [[0, 5], [0, 5]]})
    res, jobs = new_job_ids(lambda: validate(df, suite))
    evr = res.results[0]
    assert evr.success is False
    assert evr.exception_info["exception_message"] == (
        "quantiles must be in [0, 1], got [0.5, 1.5]")
    assert jobs == set()
