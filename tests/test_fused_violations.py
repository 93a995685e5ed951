"""Fused pass-2 violation extraction: one early-stopping scan for ALL
violated map expectations must report the same violations as the
per-expectation bounded jobs (Options(fuse_violations=False)).

Partial lists are k-SAMPLES of the violation multiset — WHICH k appear is
engine-arbitrary in both plans (the per-expectation path takes first-k in
partition order), so the tests assert sample validity against the full
violation multiset plus exact equality of everything deterministic:
counts, success, full COMPLETE lists, index lists, rows, value counts."""

from __future__ import annotations

import datetime
import json
from collections import Counter

import pytest
from pyspark.sql import functions as F

from great_expectations_spark import ExpectationSuite, validate
from great_expectations_spark.plans.compiler import Options


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
        # clean expectation: must emit empty lists, no fused participation
        .add("expect_column_values_to_not_be_null", column="x")
    )


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


def _mset(values):
    return Counter(_c(v) for v in values)


@pytest.fixture(scope="module")
def solo_complete(spark, frame):
    """Ground truth: per-expectation path at COMPLETE with index cols and
    rows — unexpected_list is the FULL violation multiset (count < cap)."""
    rf = {
        "result_format": "COMPLETE",
        "unexpected_index_column_names": ["x"],
        "include_unexpected_rows": True,
    }
    return validate(frame, _suite(), result_format=rf,
                    options=Options(fuse_violations=False))


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
def test_fused_matches_per_expectation(spark, frame, rf, solo_complete):
    fused = validate(frame, _suite(), result_format=rf,
                     options=Options(fuse_violations=True))
    k = 20
    for f_evr, truth in zip(fused.results, solo_complete.results):
        n = truth.result["unexpected_count"]
        full = _mset(truth.result["unexpected_list"])
        assert f_evr.success == truth.success
        assert f_evr.result["unexpected_count"] == n

        partial = f_evr.result["partial_unexpected_list"]
        assert len(partial) == min(k, n)
        assert not _mset(partial) - full  # every sampled value is a violation

        tier = rf if isinstance(rf, str) else rf["result_format"]
        if tier in ("SUMMARY", "COMPLETE"):
            got = f_evr.result["partial_unexpected_counts"]
            truth_counts = Counter()
            for v in truth.result["unexpected_list"]:
                truth_counts[_c(v)] += 1
            assert len(got) == min(k, len(truth_counts))
            for d in got:  # reported counts are exact
                assert truth_counts[_c(d["value"])] == d["count"]
            # valid top-k: the REPORTED count multiset equals the true one
            # (selection among equal-count ties is engine-arbitrary)
            top = sorted(truth_counts.values(), reverse=True)[:k]
            assert sorted((d["count"] for d in got), reverse=True) == top
        if tier == "COMPLETE":
            assert _mset(f_evr.result["unexpected_list"]) == full
            assert f_evr.result.get("unexpected_index_query") == truth.result.get(
                "unexpected_index_query")
        if isinstance(rf, dict):
            assert _mset(f_evr.result.get("unexpected_index_list", [])) == _mset(
                truth.result.get("unexpected_index_list", []))
            assert _mset(f_evr.result.get("unexpected_rows", [])) == _mset(
                truth.result.get("unexpected_rows", []))


def test_fused_partial_counts_exact(spark, frame):
    """SUMMARY counts from the fused groupBy must be exact per value."""
    res = validate(frame, _suite(), result_format="SUMMARY",
                   options=Options(fuse_violations=True))
    in_set = next(
        r for r in res.results
        if r.expectation_config.kwargs.get("value_set") == ["en", "de"])
    counts = {d["value"]: d["count"]
              for d in in_set.result["partial_unexpected_counts"]}
    assert counts == {"fr": 50, "es": 50}


def test_fused_timestamp_values_roundtrip(spark):
    """Datetime violation values must come back as the same naive-UTC ISO
    strings the per-expectation path emits."""
    rows = [(i, datetime.datetime(2024, 1, 1, i)) for i in range(6)]
    df = spark.createDataFrame(rows, "i int, ts timestamp")
    suite = (
        ExpectationSuite("ts")
        .add("expect_column_values_to_be_between",
             column="ts", max_value="2024-01-01T02:00:00", mostly=0.1)
        .add("expect_column_values_to_be_between",
             column="i", max_value=1, mostly=0.1)
    )
    fused = validate(df, suite, result_format="COMPLETE",
                     options=Options(fuse_violations=True))
    solo = validate(df, suite, result_format="COMPLETE",
                    options=Options(fuse_violations=False))
    f_list = fused.results[0].result["unexpected_list"]
    s_list = solo.results[0].result["unexpected_list"]
    assert sorted(f_list) == sorted(s_list)
    assert all(isinstance(v, str) and v.startswith("2024-01-01T") for v in f_list)


def test_single_violation_skips_fusion(spark):
    """With one violated expectation the per-expectation plan is already
    minimal — the fused path must not engage (no behavior change)."""
    df = spark.createDataFrame([(1,), (2,), (300,)], "x int")
    suite = ExpectationSuite("s").add(
        "expect_column_values_to_be_between", column="x", min_value=0, max_value=10)
    res = validate(df, suite, result_format="COMPLETE",
                   options=Options(fuse_violations=True))
    assert res.results[0].result["unexpected_list"] == [300]


def test_fused_respects_partial_cap(spark):
    n = 500
    df = spark.range(n).select(
        F.col("id").cast("int").alias("a"), (F.col("id") % 3).cast("int").alias("b"))
    suite = (
        ExpectationSuite("cap")
        .add("expect_column_values_to_be_between", column="a", max_value=-1, mostly=0.01)
        .add("expect_column_values_to_be_between", column="b", max_value=-1, mostly=0.01)
    )
    res = validate(df, suite, result_format={"result_format": "BASIC",
                                             "partial_unexpected_count": 7},
                   options=Options(fuse_violations=True))
    for evr in res.results:
        assert evr.result["unexpected_count"] == n
        assert len(evr.result["partial_unexpected_list"]) == 7


def test_adaptive_policy(spark, frame, monkeypatch):
    """fuse_violations=None picks the plan from pass-1 statistics: solo
    below the thresholds, fused above (rows OR violated-expectation count)."""
    from great_expectations_spark import validator as vmod

    calls = []
    orig = vmod.SparkValidator._collect_violations_fused

    def spy(self, fusable, metrics):
        calls.append(len(fusable))
        return orig(self, fusable, metrics)

    monkeypatch.setattr(vmod.SparkValidator, "_collect_violations_fused", spy)

    # 200 rows, 5 violated; the not-null one needs no rows (its values are
    # all NULL), so 4 enter the plan choice < count threshold ->
    # per-expectation path
    validate(frame, _suite(), result_format="SUMMARY", options=Options())
    assert calls == []

    # rows threshold forced down -> fused path engages
    validate(frame, _suite(), result_format="SUMMARY",
             options=Options(fuse_rows_threshold=100))
    assert calls == [4]

    # count threshold alone can trigger it
    validate(frame, _suite(), result_format="SUMMARY",
             options=Options(fuse_count_threshold=4))
    assert calls == [4, 4]


def _forbid_solo_fallback(monkeypatch):
    """While fuse_violations=True, any call into the per-expectation
    violation fallback is a test failure — the typed encodings must carry
    the expectation through the fused scan."""
    import great_expectations_spark.validator as vmod

    orig = vmod.SparkValidator._collect_violations

    def guard(self, config, comp, metrics):
        if self.options.fuse_violations is True and comp.kernel is not None:
            raise AssertionError(
                f"fused run fell back to per-expectation violations for "
                f"{config.expectation_type}")
        return orig(self, config, comp, metrics)

    monkeypatch.setattr(vmod.SparkValidator, "_collect_violations", guard)


def test_fused_submillisecond_timestamps_exact(spark, monkeypatch):
    """Timestamps ARE fused-eligible via the unix_micros typed encoding
    (round 3): sub-ms-distinct violations must keep full microsecond
    precision and distinct counts, identical to the per-expectation path,
    AND the detail must come from the fused scan (the per-expectation
    fallback is forbidden here)."""
    _forbid_solo_fallback(monkeypatch)
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
    fused = validate(df, suite, result_format="SUMMARY",
                     options=Options(fuse_violations=True))
    solo = validate(df, suite, result_format="SUMMARY",
                    options=Options(fuse_violations=False))
    f_counts = fused.results[0].result["partial_unexpected_counts"]
    s_counts = solo.results[0].result["partial_unexpected_counts"]
    assert f_counts == s_counts
    # the two sub-ms values are DISTINCT (count 1 each), microseconds intact
    assert {d["value"]: d["count"] for d in f_counts} == {
        "2024-01-02T03:04:05.123456": 1, "2024-01-02T03:04:05.123999": 1}


def test_fused_float32_exact(spark, monkeypatch):
    """float32 IS fused-eligible via the exact cast(double) widening
    (round 3): fused == solo exactly, THROUGH the fused plan (the
    per-expectation fallback is forbidden here)."""
    _forbid_solo_fallback(monkeypatch)
    df = spark.createDataFrame(
        [(1, 0.1), (2, 0.2), (3, 9.9), (300, 9.9)], "i int, x float")
    suite = (
        ExpectationSuite("f32")
        .add("expect_column_values_to_be_between", column="x", max_value=1.0,
             mostly=0.1)
        .add("expect_column_values_to_be_between", column="i", max_value=2,
             mostly=0.1)
    )
    fused = validate(df, suite, result_format="COMPLETE",
                     options=Options(fuse_violations=True))
    solo = validate(df, suite, result_format="COMPLETE",
                    options=Options(fuse_violations=False))
    f_list = fused.results[0].result["unexpected_list"]
    s_list = solo.results[0].result["unexpected_list"]
    assert sorted(f_list) == sorted(s_list)
    # the float32-widened double, not the naive 9.9
    assert all(abs(v - 9.899999618530273) < 1e-9 for v in f_list)


def test_fused_binary_exact(spark, monkeypatch):
    """binary IS fused-eligible via the base64 typed encoding (round 4):
    byte-exact values (incl. non-UTF8 bytes) through the fused plan —
    per-expectation fallback forbidden."""
    _forbid_solo_fallback(monkeypatch)
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
    fused = validate(df, suite, result_format="SUMMARY",
                     options=Options(fuse_violations=True))
    solo = validate(df, suite, result_format="SUMMARY",
                    options=Options(fuse_violations=False))
    f_len = fused.results[0].result
    s_len = solo.results[0].result
    assert f_len["unexpected_count"] == s_len["unexpected_count"] == 3
    assert sorted(f_len["partial_unexpected_list"]) == \
        sorted(s_len["partial_unexpected_list"])
    assert bytearray(b"\x00\xff\xfe magic") in f_len["partial_unexpected_list"]
    assert f_len["partial_unexpected_counts"] == s_len["partial_unexpected_counts"]


def test_fused_decimal_exact(spark, monkeypatch):
    """decimal IS fused-eligible via the exact string-cast encoding
    (round 4): values come back as decimal.Decimal at the declared scale,
    identical to collect() — incl. a 38-digit value no double can hold —
    through the fused plan (fallback forbidden)."""
    import decimal

    _forbid_solo_fallback(monkeypatch)
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
    fused = validate(df, suite, result_format="COMPLETE",
                     options=Options(fuse_violations=True))
    solo = validate(df, suite, result_format="COMPLETE",
                    options=Options(fuse_violations=False))
    f_list = fused.results[0].result["unexpected_list"]
    s_list = solo.results[0].result["unexpected_list"]
    assert sorted(f_list) == sorted(s_list)
    assert all(isinstance(v, decimal.Decimal) for v in f_list)
    assert big in f_list  # full 38-digit precision survived the round trip


def test_fused_binary_decimal_rows_and_index(spark, monkeypatch):
    """binary/decimal in INDEX columns and unexpected_rows round-trip
    through the fused scan identically to solo."""
    import decimal

    _forbid_solo_fallback(monkeypatch)
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
    fused = validate(df, suite, result_format=rf,
                     options=Options(fuse_violations=True))
    solo = validate(df, suite, result_format=rf,
                    options=Options(fuse_violations=False))
    fr, sr = fused.results[0].result, solo.results[0].result
    key = lambda d: json.dumps(d, sort_keys=True, default=str)
    assert sorted(map(key, fr["unexpected_index_list"])) == \
        sorted(map(key, sr["unexpected_index_list"]))
    assert sorted(map(key, fr["unexpected_rows"])) == \
        sorted(map(key, sr["unexpected_rows"]))
    got = {key(d) for d in fr["unexpected_index_list"]}
    assert key({"b": b"\x01\x02", "d": decimal.Decimal("3.14")}) in got


def test_fused_string_tie_order_matches_native(spark):
    """>50 count-tied string violations incl. JSON-escaping-sensitive ones
    ('\"a...' sorts first natively but after 'm' when escaped): the fused
    window cut must keep the natively-smallest values, matching solo."""
    vals = [f'"a{i:03d}' for i in range(10)] + [f"m{i:03d}" for i in range(110)]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i int, s string")
    suite = (
        ExpectationSuite("ties")
        .add("expect_column_values_to_be_in_set", column="s",
             value_set=["zz"], mostly=0.001)
        .add("expect_column_values_to_be_between", column="i", max_value=-1,
             mostly=0.001)
    )
    fused = validate(df, suite, result_format="SUMMARY",
                     options=Options(fuse_violations=True))
    solo = validate(df, suite, result_format="SUMMARY",
                    options=Options(fuse_violations=False))
    f_counts = fused.results[0].result["partial_unexpected_counts"]
    s_counts = solo.results[0].result["partial_unexpected_counts"]
    assert f_counts == s_counts
    assert [d["value"] for d in f_counts][:10] == [f'"a{i:03d}' for i in range(10)]


def test_fused_typed_encoding_rows_and_index(spark, monkeypatch):
    """Timestamps/float32 in INDEX columns and unexpected_rows round-trip
    through the fused scan's typed encodings byte-identically to solo."""
    import datetime as dt

    _forbid_solo_fallback(monkeypatch)
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
    fused = validate(df, suite, result_format=rf,
                     options=Options(fuse_violations=True))
    solo = validate(df, suite, result_format=rf,
                    options=Options(fuse_violations=False))
    fr, sr = fused.results[0].result, solo.results[0].result
    key = lambda d: json.dumps(d, sort_keys=True, default=str)
    assert sorted(map(key, fr["unexpected_index_list"])) == \
        sorted(map(key, sr["unexpected_index_list"]))
    assert sorted(map(key, fr["unexpected_rows"])) == \
        sorted(map(key, sr["unexpected_rows"]))
    # microseconds intact and floats exactly the widened doubles
    tss = {d["ts"] for d in fr["unexpected_index_list"]}
    assert "2024-05-06T07:08:09.100001" in tss
    assert "2024-05-06T07:08:09.100002" in tss
    xs = {d["x"] for d in fr["unexpected_index_list"] if d["x"] is not None}
    assert any(abs(v - 9.899999618530273) < 1e-12 for v in xs)


def test_fused_timestamp_ntz_exact(spark, monkeypatch):
    """timestamp_ntz IS fused-eligible via the wall-clock string-cast
    encoding (round 5 — the last cell of the atom matrix): sub-ms
    precision intact, identical to the per-expectation path, THROUGH the
    fused plan, and independent of the session timezone (NTZ carries no
    zone, so the rendered wall clock must not shift)."""
    _forbid_solo_fallback(monkeypatch)
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
    fused = validate(df, suite, result_format="SUMMARY",
                     options=Options(fuse_violations=True))
    solo = validate(df, suite, result_format="SUMMARY",
                    options=Options(fuse_violations=False))
    f_counts = fused.results[0].result["partial_unexpected_counts"]
    s_counts = solo.results[0].result["partial_unexpected_counts"]
    assert f_counts == s_counts
    assert {d["value"]: d["count"] for d in f_counts} == {
        "2024-01-02T03:04:05.123456": 1, "2024-01-02T03:04:05.123999": 1}

    # session-timezone independence: same wall clock under a shifted zone
    tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        shifted = validate(df, suite, result_format="SUMMARY",
                           options=Options(fuse_violations=True))
        assert (shifted.results[0].result["partial_unexpected_counts"]
                == f_counts)
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def test_fused_timestamp_ntz_in_containers(spark, monkeypatch):
    """NTZ nested in arrays also rides the fused encoding: the duplicated
    NTZ array itself appears in unexpected_list, byte-identical to the
    per-expectation path (full microseconds)."""
    _forbid_solo_fallback(monkeypatch)
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
    fused = validate(df, suite, result_format="COMPLETE",
                     options=Options(fuse_violations=True))
    solo = validate(df, suite, result_format="COMPLETE",
                    options=Options(fuse_violations=False))
    f_list = fused.results[0].result["unexpected_list"]
    assert f_list == solo.results[0].result["unexpected_list"]
    assert f_list and all(v == ["2024-06-01T12:00:00.000500"] for v in f_list)
