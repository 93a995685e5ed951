"""Profiler, samplers, and streaming-module tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


# ----------------------------------------------------------------- profiler


def test_profile_one_row_per_column(spark, docs):
    from great_expectations_spark.profiler import profile

    prof = {r.column: r for r in profile(docs).collect()}
    assert set(prof) == set(docs.columns)
    n = docs.count()
    assert prof["doc_id"].n_rows == n
    assert prof["doc_id"].kind == "numeric"
    assert prof["text"].kind == "string"
    assert prof["lang"].cardinality_band in ("very_few", "few")
    # exact cross-check of a couple of facts
    assert prof["text"].n_null == docs.where(F.col("text").isNull()).count()
    assert prof["n_chars"].min == docs.agg(F.min("n_chars")).first()[0]


def test_profile_rows_pinned_across_types(spark):
    """Every column kind through the registry aggregates: the rows are
    pinned (HLL++ cardinality, datetimes rendered Spark-side in the
    session time zone, binary lengths in bytes, an all-null column)."""
    import datetime
    import decimal

    from great_expectations_spark.profiler import profile

    df = spark.createDataFrame([
        (1, 0.5, decimal.Decimal("1.250"), "ab", bytearray(b"\x00\x01"), True,
         datetime.datetime(2024, 1, 5, 7, 8, 9), datetime.date(2024, 1, 5), None),
        (7, -2.25, decimal.Decimal("-3.500"), "héllo", bytearray(b"xyz"), False,
         datetime.datetime(2023, 12, 31, 23, 59, 59), datetime.date(2023, 12, 31), None),
        (None, 10.0, None, None, None, None, None, None, None),
        (3, 1e-3, decimal.Decimal("100.001"), "", bytearray(b""), True,
         datetime.datetime(2024, 6, 1), datetime.date(2024, 6, 1), None),
    ], "l long, d double, m decimal(10,3), s string, b binary, f boolean, "
       "t timestamp, dt date, z double")
    stats = ("min", "max", "mean", "stddev", "min_ts", "max_ts",
             "min_len", "max_len", "avg_len")
    base = {"n_rows": 4, "n_null": 1, "null_fraction": 0.25,
            "cardinality_band": "unique", **dict.fromkeys(stats)}
    expected = {
        "l": {"dtype": "bigint", "kind": "numeric", "approx_distinct": 3,
              "min": 1.0, "max": 7.0, "mean": 3.6666666666666665,
              "stddev": 3.0550504633038935},
        "d": {"dtype": "double", "kind": "numeric", "approx_distinct": 4,
              "n_null": 0, "null_fraction": 0.0, "min": -2.25, "max": 10.0,
              "mean": 2.06275, "stddev": 5.42502690469519},
        "m": {"dtype": "decimal(10,3)", "kind": "numeric", "approx_distinct": 3,
              "min": -3.5, "max": 100.001, "mean": 32.5836667,
              "stddev": 58.433408683161154},
        "s": {"dtype": "string", "kind": "string", "approx_distinct": 3,
              "min_len": 0.0, "max_len": 5.0, "avg_len": 2.3333333333333335},
        "b": {"dtype": "binary", "kind": "binary", "approx_distinct": None,
              "cardinality_band": None,
              "min_len": 0.0, "max_len": 3.0, "avg_len": 1.6666666666666667},
        "f": {"dtype": "boolean", "kind": "boolean", "approx_distinct": 2,
              "cardinality_band": "two"},
        "t": {"dtype": "timestamp", "kind": "datetime", "approx_distinct": 3,
              "min_ts": "2023-12-31 23:59:59", "max_ts": "2024-06-01 00:00:00"},
        "dt": {"dtype": "date", "kind": "datetime", "approx_distinct": 3,
               "min_ts": "2023-12-31", "max_ts": "2024-06-01"},
        "z": {"dtype": "double", "kind": "numeric", "approx_distinct": 0,
              "n_null": 4, "null_fraction": 1.0, "cardinality_band": "one"},
    }
    got = [r.asDict() for r in profile(df).collect()]
    assert [r["column"] for r in got] == list(expected)
    for r in got:
        want = {"column": r["column"], **base, **expected[r["column"]]}
        assert r == pytest.approx(want, rel=1e-12), r["column"]


def test_suggested_suite_passes_on_its_own_data(spark, docs):
    """The onboarding assistant's suite validates green on the data it
    was profiled from."""
    from great_expectations_spark import validate
    from great_expectations_spark.data_assistant import run_onboarding_assistant

    suite = run_onboarding_assistant(docs).suite
    assert len(suite.expectations) >= 5
    res = validate(docs, suite, result_format="BOOLEAN_ONLY")
    assert all(r.success for r in res.results), [
        (r.expectation_config.expectation_type, r.result) for r in res.results if not r.success
    ]


def test_suggest_suite_fused_value_sets(spark):
    """Under a VERY_FEW cardinality limit a 2-value column gets its value
    set; a 40-value column gets a range, never an in-set expectation."""
    from great_expectations_spark.data_assistant import run_onboarding_assistant

    df = spark.createDataFrame(
        [(i, ["a", "b"][i % 2], float(i)) for i in range(40)],
        "id long, tag string, x double",
    )
    suite = run_onboarding_assistant(df, cardinality_limit_mode="VERY_FEW").suite
    by_col = {}
    for e in suite.expectations:
        by_col.setdefault(e.kwargs.get("column"), []).append(e.expectation_type)
    in_set = [e for e in suite.expectations
              if e.expectation_type == "expect_column_values_to_be_in_set"
              and e.kwargs["column"] == "tag"]
    assert len(in_set) == 1
    assert sorted(in_set[0].kwargs["value_set"]) == ["a", "b"]
    assert "expect_column_values_to_be_in_set" not in by_col.get("x", [])
    assert "expect_column_values_to_be_between" in by_col["x"]


# ----------------------------------------------------------------- samplers


def test_hash_sampler_partitions_rows(spark, docs):
    from great_expectations_spark.sources.samplers import sample_hash

    total = docs.count()
    got = sum(sample_hash(docs, "doc_id", buckets=4, keep=k).count() for k in range(4))
    assert got == total


def test_mod_and_list_samplers(spark, docs):
    from great_expectations_spark.sources.samplers import sample_mod, sample_value_list

    m = sample_mod(docs, "doc_id", 10, 3)
    assert m.where(F.col("doc_id") % 10 != 3).count() == 0
    v = sample_value_list(docs, "lang", ["en"])
    assert v.select("lang").distinct().collect() == [("en",)]


def test_random_sampler_deterministic_seed(spark, docs):
    from great_expectations_spark.sources.samplers import sample_random

    a = sample_random(docs, 0.5, seed=7).count()
    b = sample_random(docs, 0.5, seed=7).count()
    assert a == b and 0 < a < docs.count()


# ---------------------------------------------------------------- streaming


def test_validate_stream_microbatches(spark, docs, tmp_path):
    from great_expectations_spark import ExpectationSuite
    from great_expectations_spark.streaming import validate_stream

    src = str(tmp_path / "src")
    docs.limit(100).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(src)
    suite = (
        ExpectationSuite(name="stream")
        .add("expect_column_values_to_not_be_null", column="doc_id")
        .add("expect_column_values_to_not_be_null", column="text", mostly=0.8)
    )
    results = str(tmp_path / "results")
    q = validate_stream(stream, suite, results, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.read.parquet(results)
    rows = out.collect()
    assert len(rows) == 2  # one batch x two expectations
    assert {r.chunk_id for r in rows} == {"batch-0"}
    assert out.where(F.col("expectation_index") == 0).first().element_count == 100


def test_validate_stream_replayed_batch_idempotent(spark, docs, tmp_path):
    """A batch replayed after a failure mid-run (simulated: restart the
    stream with a FRESH streaming checkpoint so batch-0 re-fires over the
    same source, same run_id, same results table) must append NO duplicate
    (run_id, chunk_id) rows — rollup over the results stays exact."""
    from great_expectations_spark import ExpectationSuite
    from great_expectations_spark.streaming import validate_stream

    src = str(tmp_path / "src")
    docs.limit(50).coalesce(1).write.parquet(src)
    stream = lambda: spark.readStream.schema(docs.schema).parquet(src)
    suite = ExpectationSuite(name="replay").add(
        "expect_column_values_to_not_be_null", column="doc_id")
    results = str(tmp_path / "results")

    q = validate_stream(stream(), suite, results, str(tmp_path / "ckpt1"),
                        run_id="run-x")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    first = spark.read.parquet(results).collect()
    assert len(first) == 1 and first[0].chunk_id == "batch-0"

    # fresh checkpoint => Spark replays the source from scratch as batch-0
    q2 = validate_stream(stream(), suite, results, str(tmp_path / "ckpt2"),
                         run_id="run-x")
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    again = spark.read.parquet(results).collect()
    assert len(again) == 1  # skip-if-present: no duplicate rows

    # a DIFFERENT run_id is a new logical run and appends normally
    q3 = validate_stream(stream(), suite, results, str(tmp_path / "ckpt3"),
                         run_id="run-y")
    try:
        q3.processAllAvailable()
    finally:
        q3.stop()
    out = spark.read.parquet(results)
    assert out.count() == 2
    assert {(r.run_id, r.chunk_id) for r in out.collect()} == {
        ("run-x", "batch-0"), ("run-y", "batch-0")}


def test_validate_stream_by_replayed_batch_idempotent(spark, docs, tmp_path):
    from great_expectations_spark import ExpectationSuite
    from great_expectations_spark.streaming import validate_stream_by

    src = str(tmp_path / "src")
    docs.limit(40).coalesce(1).write.parquet(src)
    stream = lambda: spark.readStream.schema(docs.schema).parquet(src)
    suite = ExpectationSuite(name="g").add(
        "expect_column_values_to_not_be_null", column="text", mostly=0.5)
    results = str(tmp_path / "results_by")

    for ckpt in ("c1", "c2"):  # second run replays batch-0 via fresh ckpt
        q = validate_stream_by(stream(), suite, ["lang"], results,
                               str(tmp_path / ckpt), run_id="run-x")
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    out = spark.read.parquet(results)
    keys = out.select("run_id", "chunk_id", "lang").collect()
    assert len(keys) == len({(r.run_id, r.chunk_id, r.lang) for r in keys})


def test_windowed_condition_rates_batch_semantics(spark, tmp_path):
    """The windowed aggregation is valid for batch frames too — verify the
    arithmetic there (streaming execution covered by validate_stream)."""
    from great_expectations_spark.streaming import windowed_condition_rates

    df = spark.createDataFrame(
        [("2024-01-01 00:00:05", "en"), ("2024-01-01 00:00:20", None),
         ("2024-01-01 00:01:10", "de")],
        "ts string, lang string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = windowed_condition_rates(df, "ts", {"lang_known": F.col("lang").isNotNull()},
                                   window_seconds=60).orderBy("window_start").collect()
    assert [r.element_count for r in out] == [2, 1]
    assert out[0].lang_known__pass == 1 and out[0].lang_known__rate == 0.5


def test_stateful_cumulative_rate(spark, docs, tmp_path):
    """applyInPandasWithState: totals accumulate ACROSS micro-batches."""
    from great_expectations_spark.streaming.stateful import cumulative_condition_rate

    src = str(tmp_path / "src2")
    half = docs.limit(200)
    half.limit(100).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("ok", F.col("text").isNotNull())
    )
    rates = cumulative_condition_rate(stream, "lang", "ok")
    q = (
        rates.writeStream.format("memory")
        .queryName("cumrates")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    try:
        q.processAllAvailable()
        first = {
            r.key: r.n_total
            for r in spark.sql(
                "SELECT key, max(n_total) AS n_total FROM cumrates GROUP BY key"
            ).collect()
        }
        # second batch arrives -> totals must GROW past the first 100 rows
        half.coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        final = {
            r.key: r.n_total
            for r in spark.sql(
                "SELECT key, max(n_total) AS n_total FROM cumrates GROUP BY key"
            ).collect()
        }
    finally:
        q.stop()
    assert sum(first.values()) == 100
    assert sum(final.values()) == 300  # 100 + 200 cumulative, state carried
    assert all(final[k] >= v for k, v in first.items())


def test_windowed_kl_drift_batch_semantics(spark):
    """Column-expression KL matches the engine's numpy kl_divergence on the
    same counts (batch execution checks the arithmetic; streaming execution
    covered below)."""
    import numpy as np

    from great_expectations_spark.functions import stats
    from great_expectations_spark.streaming import windowed_kl_drift

    po = {"values": ["en", "de", "fr"], "weights": [0.5, 0.3, 0.2]}
    # window 1: matches expected-ish; window 2: heavy drift toward 'de'
    rows = (
        [("2024-01-01 00:00:01", "en")] * 5 + [("2024-01-01 00:00:02", "de")] * 3
        + [("2024-01-01 00:00:03", "fr")] * 2
        + [("2024-01-01 00:01:01", "de")] * 9 + [("2024-01-01 00:01:02", "en")] * 1
    )
    df = spark.createDataFrame(rows, "ts string, lang string").withColumn(
        "ts", F.to_timestamp("ts"))
    out = windowed_kl_drift(df, "ts", "lang", po, threshold=0.1,
                            window_seconds=60).orderBy("window_start").collect()
    assert len(out) == 2
    w1, w2 = out
    assert w1.element_count == 10 and w1.other_count == 0
    expect1 = stats.kl_divergence(np.array([0.5, 0.3, 0.2]), np.array(po["weights"]))
    assert abs(w1.kl_divergence - expect1) < 1e-12 and w1.drifted is False
    expect2 = stats.kl_divergence(np.array([0.1, 0.9, 0.0]), np.array(po["weights"]))
    assert abs(w2.kl_divergence - expect2) < 1e-12 and w2.drifted is True
    assert [round(x, 3) for x in w1.observed_weights] == [0.5, 0.3, 0.2]


def test_windowed_kl_drift_other_bucket(spark):
    """Unseen category with no holdout => KL=+inf => drifted; with a holdout
    the lumped-other KL is finite and equals p*ln(p/q') + p_o*ln(p_o/h)."""
    import math

    from great_expectations_spark.streaming import windowed_kl_drift

    po = {"values": ["en"], "weights": [1.0]}
    df = spark.createDataFrame(
        [("2024-01-01 00:00:01", "en")] * 8 + [("2024-01-01 00:00:02", "xx")] * 2,
        "ts string, lang string",
    ).withColumn("ts", F.to_timestamp("ts"))
    strict = windowed_kl_drift(df, "ts", "lang", po, threshold=10.0).first()
    assert math.isinf(strict.kl_divergence) and strict.drifted is True
    held = windowed_kl_drift(df, "ts", "lang", po, threshold=10.0,
                             tail_weight_holdout=0.1).first()
    expect = 0.8 * math.log(0.8 / 0.9) + 0.2 * math.log(0.2 / 0.1)
    assert abs(held.kl_divergence - expect) < 1e-12 and held.drifted is False


def test_windowed_kl_drift_streaming(spark, tmp_path):
    """Incremental execution: one state row per window, update-mode sink."""
    from great_expectations_spark.streaming import windowed_kl_drift

    src = str(tmp_path / "drift_src")
    po = {"values": ["en", "de"], "weights": [0.5, 0.5]}
    rows = spark.createDataFrame(
        [("2024-01-01 00:00:01", "en"), ("2024-01-01 00:00:02", "de"),
         ("2024-01-01 00:01:01", "de"), ("2024-01-01 00:01:02", "de")],
        "ts string, lang string",
    ).withColumn("ts", F.to_timestamp("ts"))
    rows.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("ts timestamp, lang string").parquet(src)
    drift = windowed_kl_drift(stream, "ts", "lang", po, threshold=0.2,
                              window_seconds=60)
    q = (
        drift.writeStream.format("memory").queryName("drift")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_drift"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.window_start.minute: r for r in spark.sql("SELECT * FROM drift").collect()}
    assert got[0].drifted is False and got[0].kl_divergence == 0.0
    assert got[1].drifted is True  # all-'de' window: KL = ln 2 ≈ 0.693 > 0.2


def _run_stream_to_memory(spark, out_df, name, ckpt):
    q = (
        out_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {name}")


def test_streaming_exact_dedup(spark, tmp_path):
    """dropDuplicatesWithinWatermark on url: duplicates arriving within the
    delay are dropped; each url is emitted exactly once across micro-batches."""
    from great_expectations_spark.streaming import streaming_exact_dedup

    src = str(tmp_path / "dedup_src")
    schema = "url string, warc_ts timestamp, text string"
    batch1 = spark.createDataFrame(
        [("https://a.example/1", "2024-01-01 00:00:01", "alpha"),
         ("https://a.example/2", "2024-01-01 00:00:02", "beta"),
         ("https://a.example/1", "2024-01-01 00:00:03", "alpha-dup")],
        "url string, warc_ts string, text string",
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    batch2 = spark.createDataFrame(
        [("https://a.example/2", "2024-01-01 00:00:10", "beta-dup"),
         ("https://a.example/3", "2024-01-01 00:00:11", "gamma")],
        "url string, warc_ts string, text string",
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    batch1.coalesce(1).write.mode("append").parquet(src)
    batch2.coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    deduped = streaming_exact_dedup(stream, ["url"], "warc_ts", delay="10 minutes")
    out = _run_stream_to_memory(spark, deduped, "dedup_urls", str(tmp_path / "ck_d1"))
    urls = [r.url for r in out.collect()]
    assert sorted(urls) == [
        "https://a.example/1", "https://a.example/2", "https://a.example/3"
    ]


def test_streaming_content_dedup(spark, tmp_path):
    """Content digest dedup: identical text bodies under different urls pass
    through once; state carries the 16-byte digest, and the helper column is
    dropped from the output schema."""
    from great_expectations_spark.streaming import streaming_content_dedup

    src = str(tmp_path / "cdedup_src")
    schema = "url string, warc_ts timestamp, text string"
    rows = spark.createDataFrame(
        [("https://m.example/a", "2024-01-01 00:00:01", "same body"),
         ("https://m.example/b", "2024-01-01 00:00:02", "same body"),
         ("https://m.example/c", "2024-01-01 00:00:03", "other body")],
        "url string, warc_ts string, text string",
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    rows.coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    deduped = streaming_content_dedup(stream, "text", "warc_ts")
    out = _run_stream_to_memory(spark, deduped, "dedup_content", str(tmp_path / "ck_d2"))
    got = out.collect()
    assert sorted(r.text for r in got) == ["other body", "same body"]
    assert out.columns == ["url", "warc_ts", "text"]  # __digest dropped


# ------------------------------------------------- format inference (r3)


def test_infer_formats_regex_and_strftime(spark):
    from great_expectations_spark.profiler import infer_formats

    df = spark.createDataFrame(
        [("2024-01-05 07:08:09", "10.5", None),
         ("2024-02-06 08:09:10", "-3", "   "),
         ("2024-03-07 09:10:11", "42", "x")],
        "d string, num string, misc string")
    inf = infer_formats(df)
    assert inf["d"]["strftime"]["best"] == "%Y-%m-%d %H:%M:%S"
    assert inf["d"]["strftime"]["ratio"] == pytest.approx(1.0)
    # num: every value matches the decimal candidate (most-specific tie
    # winner per the ordered candidate list)
    assert inf["num"]["regex"]["best"] == r"-?\d+(?:\.\d*)?"
    assert inf["num"]["strftime"]["best"] is None
    # misc: no candidate reaches threshold 1.0 (all-space vs 'x' disagree
    # on every pattern — candidates are SEARCH semantics, so any alnum
    # substring would match general_text)
    assert inf["misc"]["regex"]["best"] is None
    assert inf["misc"]["nonnull"] == 2


def test_infer_formats_threshold(spark):
    from great_expectations_spark.profiler import infer_formats

    df = spark.createDataFrame(
        [("2024-01-05",), ("2024-02-06",), ("not a date",), (None,)],
        "d string")
    strict = infer_formats(df, threshold=1.0)
    loose = infer_formats(df, threshold=0.6)
    assert strict["d"]["strftime"]["best"] is None
    assert loose["d"]["strftime"]["best"] == "%Y-%m-%d"
    assert loose["d"]["strftime"]["ratio"] == pytest.approx(2 / 3, rel=1e-9)


def test_suggest_suite_includes_passing_formats_on_webpages(spark):
    """VERDICT r2 #4 'done' criterion: suggested suites on the webpages
    fixture include a passing regex/strftime expectation."""
    from great_expectations_spark import validate
    from great_expectations_spark.data_assistant import run_onboarding_assistant
    from great_expectations_spark.sources.webpages import webpages

    wp = webpages(spark, 400).withColumn(
        "fetch_date", F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss"))
    cols = wp.select("url", "fetch_date", "text", "lang")
    for threshold in (0.9, 1.0):
        suite = run_onboarding_assistant(cols, format_threshold=threshold).suite
        types = {(e.expectation_type, e.kwargs.get("column"))
                 for e in suite.expectations}
        assert ("expect_column_values_to_match_strftime_format",
                "fetch_date") in types, threshold
        assert any(t == "expect_column_values_to_match_regex"
                   for t, _ in types), threshold
        res = validate(cols, suite, result_format="BOOLEAN_ONLY")
        assert res.success, [
            (r.expectation_config.expectation_type, r.expectation_config.kwargs)
            for r in res.results if not r.success]


def test_infer_formats_single_row_full_match(spark):
    """A 1-row column that matches 100% must clear threshold=1.0 — the
    n/(nn+eps) ratio form only misses exact 1.0 at nn == 1."""
    from great_expectations_spark.profiler import infer_formats

    df = spark.createDataFrame([("2024-01-05",)], ["d"])
    inf = infer_formats(df, threshold=1.0)
    assert inf["d"]["strftime"]["best"] == "%Y-%m-%d"
    assert inf["d"]["strftime"]["ratio"] == 1.0


# values where a Java regex and Python strptime can disagree: Unicode
# digits and whitespace, trailing/leading junk, range-check failures,
# %z spellings, case, padding, and the locale name directives
_STRPTIME_EDGE_VALUES = [
    "2024-01-05", "٢٠٢٤-01-05", "٢٠٢٤-٠١-٠٥", "1٢:30:00",
    "2024-01-05\x1c12:00:00", "2024-01-05　12:00:00",
    "2024-01-05  12:00:00", "2024-01-05\t12:00:00", "2024-01-05 12:00:00",
    "2024-01-05\n", " 2024-01-05", "2024-01-05 ",
    "2024-02-30", "2024-13-01", "2024-02-30 10:00:00",
    "2024-01-05 23:59:60", "2024-01-05 23:59:61", "2024-01-05 23:59:62",
    "2024-01-05T12:00:00Z", "2024-01-05t12:00:00", "2024-01-05T12:00:00+01:00",
    "2024-01-05T12:00:00+0100", "2024-01-05T12:00:00.123456z",
    "2024-01-05 12:00:00.5+01:00", "2024-01-05 12:00:00,123",
    "2024-01-05 12:00:00,1234567", "20240105 12:00:00", "2024/01/05 12:00:00",
    "01/05/2024 12:00:00", "05/jAn/2024:12:00:00", "Jan 05 12:00:00 2024",
    "JAN  5 2024 12:00:00", "05 Jan 2024 12:00:00", "01/05/24", "05-01-2024",
    "24-01-05", "12:00:00.5", "DECEMBER", "december", "DeCeMbEr", "Mon 05 Jan",
    "mon  5 JAN", "Tue\x1c5　feb", " 5", "5", "001", "366", "367",
    "%Y-01", "%Y-1", "%y-01", "Sat Jan  5 12:00:00 2024",
    "\U0001d7d0\U0001d7ce\U0001d7d0\U0001d7d2-01-05", "2024-01-0\ue000",
    "2024\u066001", "\u0662\u0660\u0662\u0664\u066001", "2024001",
    "https://example.com/2024-01-05", "hello world", "", None,
]
_CUSTOM_STRFTIME = ["%B", "%a %d %b", "%c", "%j", "%%Y-%m", "%d", "%Y\u0660%m"]


def test_infer_formats_strftime_counts_match_strptime(spark):
    """The JVM prefilter only narrows which values reach Python strptime:
    every strftime count equals a strptime recount, on values where a
    Java regex can disagree with Python (Unicode digits, \\x1c / U+3000
    whitespace, Feb 30, second 62, %z spellings, case, " 5" for %d,
    digit-free %B, untranslatable %c, supplementary-plane digits, the
    prefilters' own sentinel character, a non-ASCII digit in a format)."""
    from datetime import datetime

    from great_expectations_spark.profiler import (
        CANDIDATE_STRFTIME,
        infer_formats,
        prefilter_text,
        strptime_prefilter,
    )

    def parses(v, fmt):
        try:
            datetime.strptime(v, fmt)
            return True
        except ValueError:
            return False

    assert strptime_prefilter("%c") is None
    assert strptime_prefilter("%Y-%") is None
    cands = CANDIDATE_STRFTIME + _CUSTOM_STRFTIME
    df = spark.createDataFrame([(v,) for v in _STRPTIME_EDGE_VALUES], "s string")
    got = infer_formats(df, candidate_regexes=[], candidate_strings=cands)["s"]
    values = [v for v in _STRPTIME_EDGE_VALUES if v is not None]
    want = {f: sum(parses(v, f) for v in values) for f in cands}
    assert got["nonnull"] == len(values)
    mismatches = {f: (got["strftime"]["counts"][f], want[f])
                  for f in cands if got["strftime"]["counts"][f] != want[f]}
    # each prefilter on its own admits every value strptime accepts (the
    # counts above cannot see a per-candidate slip while another
    # candidate, like the any-text %B, admits the same value)
    pre = {f: strptime_prefilter(f) for f in cands}
    admitted = df.select("s", *[
        prefilter_text(F.col("s")).rlike(p).alias(f"p{i}")
        for i, p in enumerate(pre.values()) if p is not None]).collect()
    for r in (r for r in admitted if r.s is not None):
        flags = iter(r[1:])
        for f, p in pre.items():
            if p is not None and not next(flags) and parses(r.s, f):
                mismatches[(f, r.s)] = "rejected by the prefilter"
    assert mismatches == {}
    # the recount itself has teeth: Python accepts the Unicode digit and
    # whitespace spellings and the digit-free month name
    assert parses("2024-01-05\x1c12:00:00", "%Y-%m-%d %H:%M:%S")
    assert parses("٢٠٢٤-01-05", "%Y-%m-%d")
    assert want["%B"] == 3 and want["%d"] == 2 and want["%c"] == 1
    assert want["%Y\u0660%m"] == 2 and want["%Y-%m-%d"] == 3
    # every prefilter stays short: \d and \s are classes of a few
    # characters, the rest of Python's classes is folded by prefilter_text
    assert all(len(p) < 600 for p in pre.values() if p is not None)


def test_fused_format_counts_equal_infer_formats_by_column(spark):
    """The format counts fused into another aggregate (as the rule
    profiler fuses the unsampled format plan into its whole-table
    aggregate) give ``infer_formats_by_column``'s answer on the strptime
    edge values, date-bearing ones included, so the confirm scan runs; so
    do the rule profiler's builder details."""
    from great_expectations_spark.profiler import (
        CANDIDATE_REGEXES,
        CANDIDATE_STRFTIME,
        format_count_plan,
        infer_formats_by_column,
    )
    from great_expectations_spark.rule_profiler import run_rule_based_profiler

    cands = CANDIDATE_STRFTIME + _CUSTOM_STRFTIME
    df = spark.createDataFrame(
        [(v, i) for i, v in enumerate(_STRPTIME_EDGE_VALUES)], "s string, n int")
    plan = {"s": (CANDIDATE_REGEXES, cands), "n": (["x"], ["%Y"])}
    want = infer_formats_by_column(df, plan, 0.5)
    assert want["s"]["strftime"]["counts"]["%Y-%m-%d"] == 3
    projections, aggs, finish = format_count_plan(df, plan, 0.5)
    row = df.select("*", *projections).agg(
        F.max("n").alias("m0"), F.count("s").alias("m1"), *aggs).first()
    assert finish(row) == want
    assert row["m0"] == len(_STRPTIME_EDGE_VALUES) - 1

    def builder(name, cls, **kw):
        return {"name": name, "class_name": cls,
                "metric_domain_kwargs": {"column": "s"}, **kw}

    res = run_rule_based_profiler(df, {"name": "f", "rules": {"r": {
        "domain_builder": {"class_name": "TableDomainBuilder"},
        "parameter_builders": [
            builder("fmt", "SimpleDateFormatStringParameterBuilder",
                    candidate_strings=cands, threshold=0.0),
            builder("re", "RegexPatternStringParameterBuilder",
                    candidate_regexes=CANDIDATE_REGEXES, threshold=0.0),
            builder("mx", "MetricSingleBatchParameterBuilder",
                    metric_name="column.max")],
        "expectation_configuration_builders": []}}})
    params = res.parameters["r"]["table"]
    got = infer_formats_by_column(df, {"s": plan["s"]}, 0.0)["s"]
    assert params["fmt"]["details"]["candidate_strings"] == got["strftime"]["ratios"]
    assert params["fmt"]["value"] == got["strftime"]["best"]
    assert params["re"]["details"]["evaluated_regexes"] == got["regex"]["ratios"]
    assert params["mx"]["value"] == max(v for v in _STRPTIME_EDGE_VALUES if v)


def test_infer_formats_more_than_62_strftime_candidates(spark):
    """One mask UDF holds 62 candidate bits; a longer list (the rule
    profiler merges the lists of every builder on a column) is split over
    several UDFs and every count still equals a strptime recount."""
    from datetime import datetime

    from great_expectations_spark.profiler import (
        CANDIDATE_STRFTIME,
        infer_formats,
    )

    cands = CANDIDATE_STRFTIME + [f"%Y-%m-%d run{i}" for i in range(50)]
    values = ["2024-01-05", "2024-02-30", "2024-01-05 12:00:00"] + [
        f"2024-01-{1 + i % 28:02d} run{i}" for i in range(0, 50, 3)]
    df = spark.createDataFrame([(v,) for v in values], "s string")
    got = infer_formats(df, candidate_regexes=[], candidate_strings=cands)

    def parses(v, fmt):
        try:
            datetime.strptime(v, fmt)
            return True
        except ValueError:
            return False

    assert len(cands) > 62
    assert got["s"]["strftime"]["counts"] == {
        f: sum(parses(v, f) for v in values) for f in cands}
    assert got["s"]["strftime"]["counts"]["%Y-%m-%d run48"] == 1


def _sql_plans_during(spark, fn):
    """(fn(), physical plans of the SQL executions fn started)."""
    store = spark._jsparkSession.sharedState().statusStore()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    seen = {e.executionId() for e in _scala_list(store.executionsList())}
    out = fn()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return out, [e.physicalPlanDescription()
                 for e in _scala_list(store.executionsList())
                 if e.executionId() not in seen]


def _scala_list(seq):
    return [seq.apply(i) for i in range(seq.size())]


def test_infer_formats_runs_no_python_without_date_like_values(
        spark, new_job_ids):
    """Default candidates over URL-like and prose values: no strftime
    prefilter admits a value, so inference is one JVM-only scan; a date
    among them adds the strptime confirm scan."""
    from great_expectations_spark.profiler import infer_formats

    rows = [(f"https://example.com/p/{i}?q={i * 7}",
             f"plain prose line {i}, nothing to parse here.") for i in range(200)]
    df = spark.createDataFrame(rows, "url string, text string")
    (inf, plans), jobs = new_job_ids(
        lambda: _sql_plans_during(spark, lambda: infer_formats(df)))
    assert len(plans) == 1
    assert not any("EvalPython" in p for p in plans), plans
    assert all(n == 0 for c in inf.values()
               for n in c["strftime"]["counts"].values())
    assert inf["url"]["regex"]["best"] is not None

    dated = df.union(spark.createDataFrame(
        [("2024-01-05", "2024-02-30 10:00:00")], "url string, text string"))
    (inf2, plans2), jobs2 = new_job_ids(
        lambda: _sql_plans_during(spark, lambda: infer_formats(dated)))
    assert len(plans2) == 2 and len(jobs2) > len(jobs)
    assert ["EvalPython" in p for p in plans2] == [False, True]
    assert inf2["url"]["strftime"]["counts"]["%Y-%m-%d"] == 1
    assert inf2["text"]["strftime"]["counts"]["%Y-%m-%d %H:%M:%S"] == 0


def test_seen_chunks_seeds_once_then_memory(spark, docs, tmp_path):
    """ADVICE r4: the idempotence gate reads the results table ONCE at
    stream (re)start to seed a driver-side chunk_id set; every later
    trigger is an in-memory lookup, so per-trigger cost no longer grows
    with accumulated results history."""
    from great_expectations_spark.streaming.validate_stream import _SeenChunks

    results = str(tmp_path / "results")
    docs.limit(3).selectExpr(
        "'run-x' AS run_id", "'batch-0' AS chunk_id").write.parquet(results)

    gate = _SeenChunks(spark, results, "run-x")
    calls = {"n": 0}
    orig = gate._seed

    def counting_seed():
        calls["n"] += 1
        return orig()

    gate._seed = counting_seed
    assert gate.already_written("batch-0") is True   # seeded from table
    assert gate.already_written("batch-1") is False
    gate.mark("batch-1")
    assert gate.already_written("batch-1") is True   # in-memory, no reread
    assert calls["n"] == 1

    # missing table = first write; other run_id's rows don't leak in
    gate2 = _SeenChunks(spark, str(tmp_path / "nope"), "run-x")
    assert gate2.already_written("batch-0") is False
    gate3 = _SeenChunks(spark, results, "run-OTHER")
    assert gate3.already_written("batch-0") is False


def test_seen_chunks_directory_without_committed_files(spark, tmp_path):
    """A results directory holding no committed parquet file (a write that
    died before its commit) is read as an empty table: writing is the
    first write."""
    from great_expectations_spark.streaming.validate_stream import _SeenChunks

    results = tmp_path / "results"
    (results / "_temporary" / "0").mkdir(parents=True)
    gate = _SeenChunks(spark, str(results), "run-x")
    assert gate.already_written("batch-0") is False
