"""Uniqueness violation samples come from the eager counts query itself:
the smallest duplicated keys, each repeated by its multiplicity, so the
lists do not depend on the partition layout; SUMMARY counts are the most
frequent keys, ordered by count descending, then value."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from great_expectations_spark import ExpectationSuite, validate


@pytest.fixture(scope="module")
def frame(spark):
    rng = random.Random(5)
    rows = []
    for i in range(600):
        k = rng.randint(0, 400)  # ~30% of keys repeat, multiplicities 2-5
        a = None if i % 13 == 0 else rng.choice("xyz")
        b = None if i % 7 == 0 else rng.randint(0, 30)
        rows.append((i, k, a, b))
    return spark.createDataFrame(rows, "id long, k long, a string, b long").cache()


SUITES = {
    "single": ExpectationSuite("u1").add(
        "expect_column_values_to_be_unique", column="k"),
    "compound": ExpectationSuite("u2").add(
        "expect_compound_columns_to_be_unique", column_list=["a", "b"],
        ignore_row_if="never"),
    "compound_any": ExpectationSuite("u3").add(
        "expect_compound_columns_to_be_unique", column_list=["a", "b"],
        ignore_row_if="any_value_is_missing"),
    "multicolumn": ExpectationSuite("u4").add(
        "expect_multicolumn_values_to_be_unique", column_list=["a", "b"]),
}


def _dups(df, suite):
    """groupBy recount of the duplicated keys: [(value, count)] in key
    order, the value shaped as the result reports it."""
    cfg = suite.expectations[0]
    cols = cfg.kwargs.get("column_list") or [cfg.kwargs["column"]]
    mode = cfg.kwargs.get("ignore_row_if", "all_values_are_missing")
    d = df
    if len(cols) == 1 or mode == "any_value_is_missing":
        for c in cols:
            d = d.where(F.col(c).isNotNull())
    elif mode == "all_values_are_missing":
        d = d.where(F.coalesce(*[F.col(c) for c in cols]).isNotNull())
    rows = (d.groupBy(*cols).count().where("count > 1")
            .orderBy(*[F.asc_nulls_first(c) for c in cols]).collect())
    out = []
    for r in rows:
        v = r[cols[0]] if len(cols) == 1 else {c: r[c] for c in cols}
        out.append((v, r["count"]))
    return out


@pytest.mark.parametrize("name", list(SUITES))
def test_samples_are_smallest_duplicate_keys(spark, frame, name):
    suite = SUITES[name]
    dups = _dups(frame, suite)
    expanded = [v for v, n in dups for _ in range(n)]
    assert expanded, "fixture must hold duplicates"
    for rf in ("BASIC", "SUMMARY", "COMPLETE"):
        res = validate(frame, suite, result_format=rf).results[0].result
        n = res["unexpected_count"]
        assert n == len(expanded)
        assert res["partial_unexpected_list"] == expanded[:min(20, n)]
        if rf == "COMPLETE":
            assert res["unexpected_list"] == expanded
        if rf in ("SUMMARY", "COMPLETE"):
            by_count = sorted(dups, key=lambda t: -t[1])  # stable: key order
            assert res["partial_unexpected_counts"] == [
                {"value": v, "count": c} for v, c in by_count[:20]]


@pytest.mark.parametrize("name", ["single", "compound"])
def test_samples_independent_of_layout(spark, frame, name):
    suite = SUITES[name]
    layouts = [frame.repartition(1), frame.repartition(7), frame.coalesce(2)]
    for rf in ("BASIC", "SUMMARY", "COMPLETE"):
        results = [validate(d, suite, result_format=rf).results[0].result
                   for d in layouts]
        for key in ("partial_unexpected_list", "partial_unexpected_counts",
                    "unexpected_list"):
            assert all(r.get(key) == results[0].get(key) for r in results), (rf, key)


def test_sample_cut_at_partial_count(spark):
    # one key repeated 50 times: the sample is the key, cut to k
    df = spark.createDataFrame([(7,)] * 50 + [(i,) for i in range(100, 130)], "k long")
    suite = SUITES["single"]
    res = validate(df, suite, result_format={
        "result_format": "SUMMARY", "partial_unexpected_count": 5}).results[0].result
    assert res["unexpected_count"] == 50
    assert res["partial_unexpected_list"] == [7] * 5
    assert res["partial_unexpected_counts"] == [{"value": 7, "count": 50}]


def test_complete_index_columns_read_source_rows(spark, frame):
    suite = SUITES["single"]
    dup_keys = {v for v, _ in _dups(frame, suite)}
    res = validate(frame, suite, result_format={
        "result_format": "COMPLETE",
        "unexpected_index_column_names": ["id"]}).results[0].result
    ids = [r["id"] for r in res["unexpected_index_list"]]
    assert len(ids) == res["unexpected_count"] == len(set(ids))
    key_of = {r["id"]: r["k"] for r in frame.collect()}
    assert {key_of[i] for i in ids} == dup_keys
    # each index entry pairs with the unexpected value at the same position
    assert [key_of[i] for i in ids] == res["unexpected_list"]
