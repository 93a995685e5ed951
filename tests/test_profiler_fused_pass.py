"""The rule profiler's parameter pass reads the whole frame in one
aggregate: value sets whose size the domain pass already counted ride it
as ``collect_set`` and equal the eager ``distinct()`` query's answer; per-
batch rows come back in Spark's ``asc_nulls_first`` order, sorted on the
driver."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from great_expectations_spark.interactive import _eager
from great_expectations_spark.plans.compiler import Options
from great_expectations_spark.rule_profiler import (
    _sorted_value_set,
    batch_key_expr,
    batch_metrics,
    run_rule_based_profiler,
)

_TS = datetime.datetime(2024, 3, 1, 12, 30)
_ROWS = [
    (1, -0.0, "é", True, datetime.date(2024, 1, 1), _TS),
    (2, 0.0, "\U0001F600", False, datetime.date(2024, 1, 2), None),
    (None, float("nan"), "\uffff", None, None, _TS),
    (2, float("nan"), "a", True, datetime.date(2024, 1, 1),
     datetime.datetime(1999, 12, 31, 23, 59, 59)),
    (-7, None, None, False, datetime.date(1970, 1, 1), _TS),
    (1, 1.5, "é", None, None, None),
]
_SCHEMA = "l long, d double, s string, b boolean, dt date, ts timestamp"
_COLUMNS = ["l", "d", "s", "b", "dt", "ts"]


def _value_set_config(domain_builder, metric_builder=False):
    builders = [{"name": "vs", "class_name": "ValueSetMultiBatchParameterBuilder",
                 "metric_domain_kwargs": "$domain.domain_kwargs"}]
    if metric_builder:
        builders.append({"name": "dv",
                         "class_name": "MetricSingleBatchParameterBuilder",
                         "metric_name": "column.distinct_values",
                         "metric_domain_kwargs": "$domain.domain_kwargs"})
    return {"name": "vs", "config_version": 1.0, "rules": {"r": {
        "domain_builder": domain_builder, "parameter_builders": builders,
        "expectation_configuration_builders": []}}}


def _eager_spy(monkeypatch):
    """The ``column.distinct_values`` requests that reach the eager query."""
    import great_expectations_spark.interactive as imod

    seen = []
    real = imod._eager

    def spy(df, name, kw, o):
        if name == "column.distinct_values":
            seen.append(kw["column"])
        return real(df, name, kw, o)

    monkeypatch.setattr(imod, "_eager", spy)
    return seen


def _canon(values):
    # NaN never equals itself: compare value sets by repr
    return sorted(repr(v) for v in values)


def test_value_set_order_ignores_insertion_order():
    """Two equal sets built in different insertion orders emit the same
    list, NaN last: plain ``sorted`` left NaN where set iteration put it."""
    nan = float("nan")
    one = {3.0, nan, -1.0, 0.0, 2.5}
    other: set = set()
    for v in (2.5, 0.0, nan, -1.0, 3.0):
        other.add(v)
    a, b = _sorted_value_set(list(one)), _sorted_value_set(list(other))
    assert repr(a) == repr(b) == repr([-1.0, 0.0, 2.5, 3.0, nan])
    # and whichever position NaN comes in
    for i in range(5):
        vals = [1.0, 2.0, 3.0, 4.0]
        vals.insert(i, nan)
        assert repr(_sorted_value_set(vals)) == repr([1.0, 2.0, 3.0, 4.0, nan])


def test_fused_value_sets_equal_the_eager_query(spark, monkeypatch):
    """Over every column type, with NULLs, -0.0 next to 0.0, two NaNs,
    non-ASCII and supplementary-plane strings, the fused ``collect_set``
    answers both the value-set builder (a sorted list) and a
    ``column.distinct_values`` metric builder (a set) exactly as the eager
    ``distinct()`` query does, and no request reaches that query."""
    # the two NaNs sit in different partitions
    df = spark.createDataFrame(_ROWS[:3], _SCHEMA).union(
        spark.createDataFrame(_ROWS[3:], _SCHEMA))
    seen = _eager_spy(monkeypatch)
    res = run_rule_based_profiler(df, _value_set_config(
        {"class_name": "CategoricalColumnDomainBuilder",
         "cardinality_limit_mode": "FEW"}, metric_builder=True))
    assert seen == []
    params = res.parameters["r"]
    assert sorted(params) == sorted(_COLUMNS)
    for c in _COLUMNS:
        eager = _eager(df, "column.distinct_values", {"column": c}, Options())
        assert isinstance(params[c]["dv"]["value"], set)
        assert _canon(params[c]["dv"]["value"]) == _canon(eager), c
        want = _sorted_value_set([v for v in eager if v is not None])
        assert _canon(params[c]["vs"]["value"]) == _canon(want), c
        assert repr(params[c]["vs"]["value"]) == repr(want), c
    # the normalisation has teeth: collect_set keeps a NaN per partition
    raw = df.agg(F.collect_set("d")).first()[0]
    assert sum(v != v for v in raw) == 2
    assert len(params["d"]["dv"]["value"]) == 3


def test_value_set_cap_boundary(spark, new_job_ids):
    """At a counted cardinality equal to ``distinct_set_cap`` the set comes
    back; one over the cap raises the eager query's own error after the
    domain pass's aggregate, without a query of its own."""
    df = spark.createDataFrame([(i % 5, f"v{i % 5}") for i in range(40)],
                               "k int, s string")
    config = _value_set_config({"class_name": "CategoricalColumnDomainBuilder",
                                "cardinality_limit_mode": "FEW",
                                "include_column_names": ["s"]})
    res = run_rule_based_profiler(df, config, options=Options(distinct_set_cap=5))
    assert res.parameters["r"]["s"]["vs"]["value"] == [f"v{i}" for i in range(5)]

    capped = Options(distinct_set_cap=4)
    with pytest.raises(ValueError) as eager_err:
        _eager(df, "column.distinct_values", {"column": "s"}, capped)

    def run():
        with pytest.raises(ValueError) as err:
            run_rule_based_profiler(df, config, options=capped)
        return str(err.value)

    message, jobs = new_job_ids(run)
    assert message == str(eager_err.value)
    _, domain_jobs = new_job_ids(lambda: df.agg(F.count_distinct("s")).first())
    assert len(jobs) == len(domain_jobs)


def test_value_set_without_a_counted_domain_stays_eager(spark, monkeypatch):
    """A value-set builder on a schema-only ColumnDomainBuilder domain has no
    proven cardinality, so it keeps the bounded eager query."""
    df = spark.createDataFrame(_ROWS, _SCHEMA)
    seen = _eager_spy(monkeypatch)
    res = run_rule_based_profiler(df, _value_set_config(
        {"class_name": "ColumnDomainBuilder", "include_column_names": ["s", "l"]}))
    assert seen == ["l", "s"]
    assert res.parameters["r"]["s"]["vs"]["value"] == [
        "a", "é", "\uffff", "\U0001F600"]
    assert res.parameters["r"]["l"]["vs"]["value"] == [-7, 1, 2]


@pytest.mark.parametrize("spec", [
    {"splitter": "date_part", "column": "ts", "part": "month"},
    {"splitter": "date_part", "column": "ts", "parts": ["year", "month"]},
    {"splitter": "mod_integer", "column": "n", "mod": 3},
    {"splitter": "hashed_column", "column": "s", "n": 4},
    {"splitter": "converted_datetime", "column": "ts", "date_format": "yyyy-MM"},
    {"splitter": "multi_column_values", "columns": ["s", "n"]},
    {"splitter": "column_value", "column": "s"},
    {"splitter": "column_value", "column": "x"},
], ids=lambda s: f"{s['splitter']}-{s.get('column') or s.get('columns')}")
def test_batch_rows_in_spark_order(spark, spec):
    """``batch_metrics`` sorts its rows on the driver in the order Spark's
    ``orderBy(asc_nulls_first)`` gives the same keys: NULL keys, negative
    numbers, NaN, non-ASCII strings (U+FFFF sorts before a supplementary-
    plane character in UTF-8, after it in UTF-16)."""
    strings = ["b", "a", "é", "\uffff", "\U0001F600", "Z", None, "a b"]
    rows = [(datetime.datetime(2020 + i % 3, 1 + i % 12, 1) if i % 7 else None,
             None if i % 5 == 0 else i - 20, strings[i % len(strings)],
             [None, float("nan"), -1.5, 0.0, 2.0][i % 5])
            for i in range(60)]
    df = spark.createDataFrame(rows, "ts timestamp, n int, s string, x double")
    key, _ = batch_key_expr(df, spec)
    got = batch_metrics(df.repartition(5), {"n": ("table.row_count", {})}, key)
    want = (df.groupBy(key.alias("k")).agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("k").asc_nulls_first()).collect())
    assert len(want) > 2
    assert repr([(b, v["n"]) for b, v in got]) == repr([(r.k, r.n) for r in want])
