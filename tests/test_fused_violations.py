"""Pass-2 violation extraction: ONE query serves every violated map
expectation, and its lists are ``compiler.unexpected_lists``' definition —
the k smallest unexpected values, each repeated by its count; the k most
frequent values at SUMMARY; at COMPLETE every unexpected value up to the
cap, with its index columns and source row in (value, index, row) order.

Every case compares exact values against ``collect()`` of the violating
rows, so the typed values (sub-ms timestamps, timestamp_ntz, float32,
binary, decimal, containers) must come back exactly as the JVM holds
them."""

from __future__ import annotations

import ast
import datetime
import decimal
import json
import pathlib
from collections import Counter

import pytest
from pyspark.sql import functions as F

from great_expectations_spark import ExpectationSuite, validate
from great_expectations_spark.plans.compiler import _ascending_nulls_first, _py


def _suite() -> ExpectationSuite:
    return (
        ExpectationSuite("fused")
        .add("expect_column_values_to_not_be_null", column="tag", mostly=0.1)
        .add("expect_column_values_to_be_between",
             column="x", min_value=0, max_value=10, mostly=0.1)
        .add("expect_column_values_to_be_in_set",
             column="lang", value_set=["en", "de"], mostly=0.1)
        .add("expect_column_values_to_match_regex",
             column="tag", regex="^t", mostly=0.1)
        .add("expect_column_pair_values_a_to_be_greater_than_b",
             column_A="x", column_B="y", mostly=0.1,
             ignore_row_if="either_value_is_missing")
        # clean expectation: must emit empty lists and join no query
        .add("expect_column_values_to_not_be_null", column="x")
    )


def _truth():
    """Per expectation of _suite(): (predicate of its unexpected rows, value)."""
    return [
        (F.col("tag").isNull(), F.col("tag")),
        (F.col("x") > 10, F.col("x")),
        (~F.col("lang").isin("en", "de"), F.col("lang")),
        (F.col("tag").isNotNull() & ~F.col("tag").rlike("^t"), F.col("tag")),
        (F.col("x") <= F.col("y"), F.array("x", "y")),
        (F.col("x").isNull(), F.col("x")),
    ]


@pytest.fixture(scope="module")
def frame(spark):
    rows = []
    for i in range(200):
        rows.append(
            (
                i,
                i % 7,
                None if i % 5 == 0 else ("t%d" % i if i % 3 else "u%d" % i),
                ["en", "de", "fr", "es"][i % 4],
                datetime.datetime(2024, 1, 1) + datetime.timedelta(hours=i),
            )
        )
    return spark.createDataFrame(
        rows, "x int, y int, tag string, lang string, ts timestamp"
    ).repartition(4)


def _c(v):
    return json.dumps(v, sort_keys=True, default=str)


def _violating(df, bad, value, *extra):
    """``(value, *extra)`` of every violating row, collected and sorted in
    Spark's ascending order (NULL first, NaN last)."""
    got = [tuple(_py(x) for x in r)
           for r in df.where(bad).select(value, *extra).collect()]
    return sorted(got, key=lambda t: tuple(_ascending_nulls_first(x) for x in t))


def _top(values, k):
    counts = Counter(_c(v) for v in values)
    first = {}
    for v in values:
        first.setdefault(_c(v), v)
    ranked = sorted(counts, key=lambda c: (-counts[c], _ascending_nulls_first(first[c])))
    return [{"value": first[c], "count": counts[c]} for c in ranked[:k]]


@pytest.mark.parametrize(
    "rf",
    [
        "BASIC",
        "SUMMARY",
        "COMPLETE",
        {
            "result_format": "COMPLETE",
            "unexpected_index_column_names": ["x"],
            "include_unexpected_rows": True,
        },
    ],
    ids=["basic", "summary", "complete", "complete_idx_rows"],
)
def test_fused_matches_per_expectation(spark, frame, rf):
    res = validate(frame, _suite(), result_format=rf)
    tier = rf if isinstance(rf, str) else rf["result_format"]
    k = 20
    for evr, (bad, value) in zip(res.results, _truth()):
        truth = [v for v, in _violating(frame, bad, value)]
        r = evr.result
        assert r["unexpected_count"] == len(truth)
        assert r["partial_unexpected_list"] == truth[:k]
        if tier in ("SUMMARY", "COMPLETE"):
            assert _c(r["partial_unexpected_counts"]) == _c(_top(truth, k))
        if tier == "COMPLETE":
            assert r["unexpected_list"] == truth
        if isinstance(rf, dict) and truth:
            ordered = _violating(frame, bad, value, "x", "y", "tag", "lang", "ts")
            assert r["unexpected_index_list"] == [{"x": t[1]} for t in ordered]
            names = ["x", "y", "tag", "lang", "ts"]
            assert r["unexpected_rows"] == [dict(zip(names, t[1:])) for t in ordered]


def test_fused_partial_counts_exact(spark, frame):
    """SUMMARY counts from the grouped branch are exact per value."""
    res = validate(frame, _suite(), result_format="SUMMARY")
    in_set = next(
        r for r in res.results
        if r.expectation_config.kwargs.get("value_set") == ["en", "de"])
    counts = {d["value"]: d["count"]
              for d in in_set.result["partial_unexpected_counts"]}
    assert counts == {"fr": 50, "es": 50}


def test_fused_timestamp_values_roundtrip(spark):
    """Datetime violation values come back as naive-UTC ISO strings, the
    collected values' own rendering."""
    rows = [(i, datetime.datetime(2024, 1, 1, i)) for i in range(6)]
    df = spark.createDataFrame(rows, "i int, ts timestamp")
    suite = (
        ExpectationSuite("ts")
        .add("expect_column_values_to_be_between",
             column="ts", max_value="2024-01-01T02:00:00", mostly=0.1)
        .add("expect_column_values_to_be_between",
             column="i", max_value=1, mostly=0.1)
    )
    got = validate(df, suite, result_format="COMPLETE").results[0].result
    truth = [v for v, in _violating(df, F.col("ts") > "2024-01-01 02:00:00", "ts")]
    assert got["unexpected_list"] == truth
    assert all(isinstance(v, str) and v.startswith("2024-01-01T") for v in truth)


def test_fused_respects_partial_cap(spark):
    n = 500
    df = spark.range(n).select(
        F.col("id").cast("int").alias("a"), (F.col("id") % 3).cast("int").alias("b"))
    suite = (
        ExpectationSuite("cap")
        .add("expect_column_values_to_be_between", column="a", max_value=-1, mostly=0.01)
        .add("expect_column_values_to_be_between", column="b", max_value=-1, mostly=0.01)
    )
    res = validate(df.repartition(5), suite, result_format={
        "result_format": "BASIC", "partial_unexpected_count": 7})
    a, b = (evr.result for evr in res.results)
    assert a["unexpected_count"] == b["unexpected_count"] == n
    assert a["partial_unexpected_list"] == list(range(7))
    assert b["partial_unexpected_list"] == [0] * 7


def test_fused_submillisecond_timestamps_exact(spark):
    """Sub-ms-distinct timestamps keep their microseconds and stay
    distinct values in the counts."""
    rows = [
        (1, datetime.datetime(2024, 1, 2, 3, 4, 5, 123456)),
        (2, datetime.datetime(2024, 1, 2, 3, 4, 5, 123999)),
        (3, datetime.datetime(2024, 1, 1)),
        (300, datetime.datetime(2024, 1, 1)),
    ]
    df = spark.createDataFrame(rows, "i int, ts timestamp")
    suite = (
        ExpectationSuite("subms")
        .add("expect_column_values_to_be_between",
             column="ts", max_value="2024-01-01T12:00:00", mostly=0.1)
        .add("expect_column_values_to_be_between", column="i", max_value=2, mostly=0.1)
    )
    got = validate(df, suite, result_format="SUMMARY").results[0].result
    truth = [v for v, in _violating(df, F.col("ts") > "2024-01-01 12:00:00", "ts")]
    assert got["partial_unexpected_list"] == truth == [
        "2024-01-02T03:04:05.123456", "2024-01-02T03:04:05.123999"]
    assert got["partial_unexpected_counts"] == [
        {"value": "2024-01-02T03:04:05.123456", "count": 1},
        {"value": "2024-01-02T03:04:05.123999", "count": 1}]


def test_fused_float32_exact(spark):
    """float32 values come back as the collected float32-widened doubles."""
    df = spark.createDataFrame(
        [(1, 0.1), (2, 0.2), (3, 9.9), (300, 9.9)], "i int, x float")
    suite = (
        ExpectationSuite("f32")
        .add("expect_column_values_to_be_between", column="x", max_value=1.0,
             mostly=0.1)
        .add("expect_column_values_to_be_between", column="i", max_value=2,
             mostly=0.1)
    )
    got = validate(df, suite, result_format="COMPLETE").results[0].result
    truth = [v for v, in _violating(df, F.col("x") > 1.0, "x")]
    assert got["unexpected_list"] == truth
    # the float32-widened double, not the naive 9.9
    assert all(abs(v - 9.899999618530273) < 1e-9 for v in truth)


def test_fused_binary_exact(spark):
    """Binary values are byte-exact (non-UTF8 bytes included) and order by
    unsigned byte."""
    rows = [
        (1, bytearray(b"\x00\xff\xfe magic")),
        (2, bytearray(b"plain")),
        (3, bytearray(b"")),
        (300, None),
    ]
    df = spark.createDataFrame(rows, "i int, b binary")
    suite = (
        ExpectationSuite("bin")
        .add("expect_column_value_lengths_to_be_between", column="b",
             min_value=100, mostly=0.1)
        .add("expect_column_values_to_be_between", column="i", max_value=2,
             mostly=0.1)
    )
    got = validate(df, suite, result_format="SUMMARY").results[0].result
    truth = [v for v, in _violating(df, F.length("b") < 100, "b")]
    assert got["unexpected_count"] == 3
    assert got["partial_unexpected_list"] == truth
    assert truth[0] == b"" and truth[1] == b"\x00\xff\xfe magic"
    assert got["partial_unexpected_counts"] == [{"value": v, "count": 1} for v in truth]


def test_fused_decimal_exact(spark):
    """Decimals come back as decimal.Decimal at the declared scale,
    including a 38-digit value no double can hold."""
    big = decimal.Decimal("12345678901234567890123456.789012345678")
    rows = [
        (1, decimal.Decimal("1.500000000000")),
        (2, big),
        (3, decimal.Decimal("-7.250000000000")),
        (300, decimal.Decimal("0.000000000001")),
    ]
    df = spark.createDataFrame(rows, "i int, d decimal(38,12)")
    suite = (
        ExpectationSuite("dec")
        .add("expect_column_values_to_be_between", column="d",
             max_value=0, mostly=0.1)
        .add("expect_column_values_to_be_between", column="i", max_value=2,
             mostly=0.1)
    )
    got = validate(df, suite, result_format="COMPLETE").results[0].result
    truth = [v for v, in _violating(df, F.col("d") > 0, "d")]
    assert got["unexpected_list"] == truth
    assert all(isinstance(v, decimal.Decimal) for v in truth)
    assert truth[-1] == big


def test_fused_binary_decimal_rows_and_index(spark):
    """Binary and decimal index columns and unexpected rows are exact."""
    rows = [
        (1, bytearray(b"\x01\x02"), decimal.Decimal("3.14")),
        (2, None, decimal.Decimal("-0.01")),
        (3, bytearray(b"\xffz"), None),
    ]
    df = spark.createDataFrame(rows, "i int, b binary, d decimal(10,2)")
    suite = ExpectationSuite("bd").add(
        "expect_column_values_to_be_between", column="i", max_value=0,
        mostly=0.1)
    rf = {"result_format": "COMPLETE",
          "unexpected_index_column_names": ["b", "d"],
          "include_unexpected_rows": True}
    got = validate(df, suite, result_format=rf).results[0].result
    truth = _violating(df, F.col("i") > 0, "i", "b", "d")
    assert got["unexpected_index_list"] == [{"b": b, "d": d} for _i, b, d in truth]
    assert got["unexpected_rows"] == [{"i": i, "b": b, "d": d} for i, b, d in truth]
    assert {"b": b"\x01\x02", "d": decimal.Decimal("3.14")} in got["unexpected_index_list"]


def test_fused_string_tie_order_matches_native(spark):
    """>50 count-tied string violations, some that JSON escaping would
    reorder ('\"a...' sorts first natively): the cut keeps the natively
    smallest values."""
    vals = [f'"a{i:03d}' for i in range(10)] + [f"m{i:03d}" for i in range(110)]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i int, s string")
    suite = (
        ExpectationSuite("ties")
        .add("expect_column_values_to_be_in_set", column="s",
             value_set=["zz"], mostly=0.001)
        .add("expect_column_values_to_be_between", column="i", max_value=-1,
             mostly=0.001)
    )
    got = validate(df.repartition(3), suite, result_format="SUMMARY").results[0].result
    smallest = sorted(vals)[:20]
    assert got["partial_unexpected_counts"] == [{"value": v, "count": 1} for v in smallest]
    assert got["partial_unexpected_list"] == smallest
    assert smallest[:10] == [f'"a{i:03d}' for i in range(10)]


def test_fused_typed_encoding_rows_and_index(spark):
    """Timestamp and float32 index columns and rows (an array<float> too)
    keep microseconds and the widened doubles."""
    import datetime as dt

    rows = [
        (1, dt.datetime(2024, 5, 6, 7, 8, 9, 100001), 0.1, [0.25, 0.1]),
        (2, dt.datetime(2024, 5, 6, 7, 8, 9, 100002), 9.9, None),
        (3, dt.datetime(2024, 5, 6), None, [9.9]),
    ]
    df = spark.createDataFrame(
        rows, "i int, ts timestamp, x float, xs array<float>")
    suite = ExpectationSuite("enc").add(
        "expect_column_values_to_be_between", column="i", max_value=0,
        mostly=0.1)
    rf = {"result_format": "COMPLETE",
          "unexpected_index_column_names": ["ts", "x"],
          "include_unexpected_rows": True}
    got = validate(df, suite, result_format=rf).results[0].result
    truth = _violating(df, F.col("i") > 0, "i", "ts", "x", "xs")
    assert got["unexpected_index_list"] == [{"ts": t, "x": x} for _i, t, x, _xs in truth]
    assert got["unexpected_rows"] == [
        {"i": i, "ts": t, "x": x, "xs": xs} for i, t, x, xs in truth]
    tss = {d["ts"] for d in got["unexpected_index_list"]}
    assert {"2024-05-06T07:08:09.100001", "2024-05-06T07:08:09.100002"} <= tss
    xs = {d["x"] for d in got["unexpected_index_list"] if d["x"] is not None}
    assert any(abs(v - 9.899999618530273) < 1e-12 for v in xs)


def test_fused_timestamp_ntz_exact(spark):
    """timestamp_ntz values keep sub-ms precision and do not shift with
    the session timezone (NTZ carries no zone)."""
    rows = [
        (1, datetime.datetime(2024, 1, 2, 3, 4, 5, 123456)),
        (2, datetime.datetime(2024, 1, 2, 3, 4, 5, 123999)),
        (3, datetime.datetime(2024, 1, 1)),
        (300, datetime.datetime(2024, 1, 1)),
    ]
    df = spark.createDataFrame(rows, "i int, ts timestamp_ntz")
    suite = (
        ExpectationSuite("ntz")
        .add("expect_column_values_to_be_between",
             column="ts", max_value="2024-01-01T12:00:00", mostly=0.1)
        .add("expect_column_values_to_be_between", column="i", max_value=2,
             mostly=0.1)
    )
    got = validate(df, suite, result_format="SUMMARY").results[0].result
    bad = F.col("ts") > F.lit(datetime.datetime(2024, 1, 1, 12)).cast("timestamp_ntz")
    truth = [v for v, in _violating(df, bad, "ts")]
    assert got["partial_unexpected_list"] == truth
    assert {d["value"]: d["count"] for d in got["partial_unexpected_counts"]} == {
        "2024-01-02T03:04:05.123456": 1, "2024-01-02T03:04:05.123999": 1}

    tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        shifted = validate(df, suite, result_format="SUMMARY")
        assert (shifted.results[0].result["partial_unexpected_counts"]
                == got["partial_unexpected_counts"])
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def test_fused_timestamp_ntz_in_containers(spark):
    """An array<timestamp_ntz> value (the duplicated key of a uniqueness
    check, whose samples come from its own query) is exact to the
    microsecond."""
    ts = datetime.datetime(2024, 6, 1, 12, 0, 0, 500)
    other = datetime.datetime(2024, 6, 2)
    df = spark.createDataFrame(
        [(1, [ts]), (2, [ts]), (300, [other])],
        "i int, a array<timestamp_ntz>")
    suite = (
        ExpectationSuite("ntz-arr")
        .add("expect_column_values_to_be_unique", column="a", mostly=0.1)
        .add("expect_column_values_to_be_between", column="i", max_value=2,
             mostly=0.1)
    )
    res = validate(df, suite, result_format="COMPLETE").results
    assert res[0].result["unexpected_list"] == [["2024-06-01T12:00:00.000500"]] * 2
    # the same value through pass 2's typed field, with the index columns
    # the uniqueness query leaves to it
    rf = {"result_format": "COMPLETE", "unexpected_index_column_names": ["i"]}
    got = validate(df, suite, result_format=rf).results[0].result
    assert got["unexpected_list"] == [["2024-06-01T12:00:00.000500"]] * 2
    assert got["unexpected_index_list"] == [{"i": 1}, {"i": 2}]


# ------------------------------------------------- one definition, any layout

LAYOUTS = {"repartition1": lambda d: d.repartition(1),
           "repartition7": lambda d: d.repartition(7),
           "coalesce2": lambda d: d.repartition(5).coalesce(2)}


@pytest.fixture(scope="module")
def mixed(spark):
    base = datetime.datetime(2024, 3, 1)
    strings = ["ünï", "日本", "x😀", "apple", None, "b"]
    doubles = [float("nan"), -0.0, 0.0, 1.5, None, -2.5]
    rows = [(i, strings[i % 6], doubles[(i * 5) % 6], i % 4,
             base + datetime.timedelta(microseconds=137 * (i % 9)) if i % 8 else None)
            for i in range(240)]
    return spark.createDataFrame(rows, "i int, s string, d double, g int, t timestamp")


def _mixed_suite(with_kl: bool) -> ExpectationSuite:
    s = ExpectationSuite("layouts")
    if with_kl:
        for c, v in (("s", "apple"), ("d", 1.5)):
            s.add("expect_column_kl_divergence_to_be_less_than", column=c,
                  partition_object={"values": [v], "weights": [1.0]}, threshold=99.0)
    return (s
            .add("expect_column_values_to_be_in_set", column="s", value_set=["apple"])
            .add("expect_column_values_to_be_in_set", column="d", value_set=[1.5])
            .add("expect_column_values_to_not_be_null", column="t")
            .add("expect_column_values_to_be_between", column="t",
                 max_value="2024-03-01T00:00:00.000300")
            .add("expect_column_pair_values_a_to_be_greater_than_b",
                 column_A="g", column_B="i", ignore_row_if="neither"))


@pytest.mark.parametrize("rf", [
    {"result_format": "SUMMARY", "partial_unexpected_count": 7},
    {"result_format": "COMPLETE", "unexpected_index_column_names": ["i"]},
], ids=["summary", "complete_idx"])
def test_lists_identical_across_layouts_and_plans(mixed, rf):
    """``partial_unexpected_list``, ``partial_unexpected_counts`` and
    ``unexpected_index_list`` do not depend on the partition layout, nor
    on whether a KL's value-count query on the same column serves them."""
    keys = ("partial_unexpected_list", "partial_unexpected_counts", "unexpected_index_list")
    seen = set()
    for with_kl in (False, True):
        for layout in LAYOUTS.values():
            res = validate(layout(mixed), _mixed_suite(with_kl), result_format=rf)
            maps = res.results[2:] if with_kl else res.results
            assert all(r.result["unexpected_count"] for r in maps)
            seen.add(_c([[r.result.get(key) for key in keys] for r in maps]))
    assert len(seen) == 1
    d_list = json.loads(seen.pop())[1][0]
    # -0.0 and 0.0 are one value, as grouping reports it; NaN ranks last
    assert "-0.0" not in _c(d_list)


def test_pass2_is_one_jvm_query_with_a_window_cut(spark, frame, monkeypatch):
    """Pass 2 collects ONE query; its plan cuts with ``WindowGroupLimit``
    (partial before the exchange, final after it) and runs no Python."""
    from pyspark.sql.classic.dataframe import DataFrame

    from great_expectations_spark.validator import SparkValidator

    plans: list[str] = []
    inside = []
    collect = DataFrame.collect
    entry = SparkValidator._collect_violations

    def spy_collect(self):
        out = collect(self)
        if inside:
            plans.append(self._jdf.queryExecution().executedPlan().toString())
        return out

    def spy_entry(self, sources):
        inside.append(1)
        try:
            return entry(self, sources)
        finally:
            inside.pop()

    monkeypatch.setattr(DataFrame, "collect", spy_collect)
    monkeypatch.setattr(SparkValidator, "_collect_violations", spy_entry)
    validate(frame, _suite(), result_format="SUMMARY")
    assert len(plans) == 1
    plan = plans[0]
    assert "WindowGroupLimit" in plan and "Partial" in plan and "Final" in plan, plan
    assert "Python" not in plan and "MapInPandas" not in plan, plan


def test_validator_has_no_python_capper_or_json_codec():
    """AST guard: pass 2 builds no ``mapInPandas`` stage and encodes no
    value as JSON text."""
    src = pathlib.Path(__file__).parents[1] / "great_expectations_spark" / "validator.py"
    names = {n.attr for n in ast.walk(ast.parse(src.read_text()))
             if isinstance(n, ast.Attribute)}
    names |= {n.id for n in ast.walk(ast.parse(src.read_text())) if isinstance(n, ast.Name)}
    assert not names & {"mapInPandas", "to_json", "_from_json_value", "get_json_object"}


def test_a_failing_kernel_keeps_the_other_lists(spark, frame, monkeypatch):
    """A kernel whose value raises at run time fails the one query; the
    query then runs per expectation, so every other expectation keeps its
    lists, every count and verdict is unchanged, and the failure is
    reported under ``meta["degradations"]``."""
    from great_expectations_spark.functions.conditions import MAP_KERNELS, MapKernel

    name = "expect_column_values_to_be_small_or_raise"

    def kernel(kwargs):
        col = F.col(kwargs["column"])
        return MapKernel(include=col.isNotNull(), ok=col <= 3,
                         value=F.when(col > 5, F.raise_error(F.lit("boom"))).otherwise(col),
                         columns=[kwargs["column"]])

    monkeypatch.setitem(MAP_KERNELS, name, kernel)
    suite = _suite().add(name, column="x", mostly=0.1)
    got = validate(frame, suite, result_format="SUMMARY")
    want = validate(frame, _suite(), result_format="SUMMARY")
    for g, w in zip(got.results, want.results):
        assert _c(g.result) == _c(w.result)
        assert g.success == w.success
    bad = got.results[-1]
    assert not bad.exception_info.get("raised_exception")
    assert bad.result["unexpected_count"] == 196 and bad.success is False
    assert "partial_unexpected_list" not in bad.result
    [d] = got.meta["degradations"]
    assert d["expectation_id"] == suite.expectations[-1].id
    assert d["fallback"] == "pass2"
    assert "boom" in d["message"] and d["exception"]
    assert "degradations" not in want.meta
