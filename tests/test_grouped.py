"""Grouped validation: per-group suite verdicts in one scan (grouped.py).

Parity target: for each group g, validate_by's row must equal what
validate() returns on df.where(group == g) — same counts, same mostly
semantics, same between verdicts — without running one job per group.
"""

import re

import pytest
from pyspark.sql import functions as F

from great_expectations_spark import ExpectationSuite, validate
from great_expectations_spark.grouped import validate_by, violations_by
from great_expectations_spark.plans.compiler import CompileError, Options

SUITE = (
    ExpectationSuite("grp")
    .add("expect_column_values_to_not_be_null", column="v", mostly=0.8)
    .add("expect_column_values_to_be_between", column="v", min_value=0, max_value=50)
    .add("expect_column_mean_to_be_between", column="v", min_value=0, max_value=30)
    .add("expect_table_row_count_to_be_between", min_value=5)
)


@pytest.fixture(scope="module")
def df(spark):
    rows = []
    for i in range(300):
        g = "abc"[i % 3]
        v = None if (g == "a" and i % 4 == 0) else float(i % 80)
        rows.append((i, g, v))
    return spark.createDataFrame(rows, "id long, g string, v double").cache()


def test_matches_per_group_validate(spark, df):
    out = {(r.g, r.expectation_index): r
           for r in validate_by(df, SUITE, ["g"]).collect()}
    assert len(out) == 3 * 4
    for g in ("a", "b", "c"):
        ref = validate(df.where(F.col("g") == g), SUITE)
        for i, evr in enumerate(ref.results):
            row = out[(g, i)]
            assert row.success == evr.success, (g, i)
            res = evr.result
            if row.unexpected_count is not None:  # map expectation
                assert row.element_count == res["element_count"]
                assert row.missing_count == res["missing_count"]
                assert row.unexpected_count == res["unexpected_count"]
            else:
                assert row.observed_value == pytest.approx(
                    float(res["observed_value"]))


def test_single_shuffle_plan(df):
    plan = (validate_by(df, SUITE, ["g"])
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Exchange hashpartitioning") == 1  # one shuffle on g
    assert "partial" in plan.lower()  # map-side combine


def test_row_condition_and_multiple_keys(spark):
    d = spark.createDataFrame(
        [(i, i % 2, "xy"[i % 2], float(i)) for i in range(40)],
        "id long, k int, s string, v double")
    suite = ExpectationSuite("rc").add(
        "expect_column_values_to_be_between", column="v", min_value=10,
        row_condition="id >= 20", condition_parser="spark")
    rows = validate_by(d, suite, ["k", "s"]).collect()
    assert len(rows) == 2
    for r in rows:
        # rows with id < 20 are excluded by the row condition entirely
        assert r.element_count == 10 and r.unexpected_count == 0 and r.success


def test_distinct_count_and_proportion(spark, df):
    suite = (
        ExpectationSuite("dc")
        .add("expect_column_unique_value_count_to_be_between",
             column="v", min_value=1, max_value=100)
        .add("expect_column_proportion_of_unique_values_to_be_between",
             column="v", min_value=0.5)
    )
    rows = {(r.g, r.expectation_index): r
            for r in validate_by(df, suite, "g").collect()}
    for g in ("a", "b", "c"):
        sub = df.where(F.col("g") == g)
        dc = sub.select("v").where(F.col("v").isNotNull()).distinct().count()
        nn = sub.where(F.col("v").isNotNull()).count()
        assert rows[(g, 0)].observed_value == float(dc)
        assert rows[(g, 1)].observed_value == pytest.approx(dc / nn)


def test_quantile_ranges_per_group(spark, df):
    suite = (
        ExpectationSuite("q")
        .add("expect_column_quantile_values_to_be_between", column="v",
             quantile_ranges={"quantiles": [0.25, 0.75],
                              "value_ranges": [[0, 60], [20, 79]]})
        .add("expect_column_quantile_values_to_be_between", column="v",
             quantile_ranges={"quantiles": [0.5],
                              "value_ranges": [[1000, None]]})
        .add("expect_column_median_to_be_between", column="v",
             min_value=30, max_value=50)
    )
    # the default exact median, then the sketch validate() would use
    for opts, median_fn in ((Options(), "percentile"),
                            (Options(exact_median=False), "percentile_approx")):
        out = validate_by(df, suite, ["g"], options=opts)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert re.search(rf"{median_fn}\(v#\d+, 0\.5,", plan), plan
        rows = {(r.g, r.expectation_index): r for r in out.collect()}
        for g in ("a", "b", "c"):
            ref = validate(df.where(F.col("g") == g), suite, options=opts)
            assert rows[(g, 0)].success == ref.results[0].success
            assert rows[(g, 1)].success is False  # median nowhere near 1000
            assert rows[(g, 0)].observed_value is None
            assert rows[(g, 2)].success == ref.results[2].success
            assert rows[(g, 2)].observed_value == pytest.approx(
                float(ref.results[2].result["observed_value"]))
    # exact quantiles are rank-based in both: validate() observes 2.0 for
    # the median of [1, 2, 3, 4], not the interpolated 2.5
    four = spark.createDataFrame([("a", float(x)) for x in (1, 2, 3, 4)],
                                 "g string, v double")
    qsuite = ExpectationSuite("q4").add(
        "expect_column_quantile_values_to_be_between", column="v",
        quantile_ranges={"quantiles": [0.5], "value_ranges": [[2.0, 2.2]]})
    ref = validate(four, qsuite).results[0]
    assert ref.result["observed_value"]["values"] == [2.0]
    assert ref.success is True
    assert [r.success for r in validate_by(four, qsuite, ["g"]).collect()] == [True]


def test_string_only_map_type_needs_string_column(spark, df):
    suite = ExpectationSuite("s").add(
        "expect_column_values_to_match_strftime_format",
        column="v", strftime_format="%Y-%m-%d")
    with pytest.raises(CompileError, match="type string"):
        validate_by(df, suite, ["g"])


def test_row_count_equal(spark, df):
    suite = ExpectationSuite("rce").add(
        "expect_table_row_count_to_equal", value=100)
    rows = validate_by(df, suite, ["g"]).collect()
    assert all(r.success for r in rows)  # 300 rows, 3 even groups


def test_unique_within_group(spark):
    # value 7 appears twice in group a (ids 7 and 21 -> 7 % 40...), build
    # explicit duplicates instead: group a has v=1 twice + nulls
    d = spark.createDataFrame(
        [(0, "a", 1.0), (1, "a", 1.0), (2, "a", 2.0), (3, "a", None),
         (4, "b", 1.0), (5, "b", 2.0), (6, None, 3.0), (7, None, 3.0)],
        "id long, g string, v double")
    suite = ExpectationSuite("uq").add(
        "expect_column_values_to_be_unique", column="v", mostly=0.5)
    rows = {r.g: r for r in validate_by(d, suite, ["g"]).collect()}
    a = rows["a"]
    assert (a.element_count, a.missing_count, a.unexpected_count) == (4, 1, 2)
    assert not a.success  # (3-2)/3 = 0.33 < mostly 0.5
    b = rows["b"]
    assert b.unexpected_count == 0 and b.success
    n = rows[None]  # NULL group key keeps its duplicate counts (eqNullSafe)
    assert n.unexpected_count == 2 and not n.success


def test_unique_within_group_parity(spark, df):
    suite = ExpectationSuite("uqp").add(
        "expect_column_values_to_be_unique", column="v", mostly=0.3)
    out = {r.g: r for r in validate_by(df, suite, ["g"]).collect()}
    for g in ("a", "b", "c"):
        ref = validate(df.where(F.col("g") == g), suite).results[0]
        r = out[g]
        assert r.unexpected_count == ref.result["unexpected_count"]
        assert r.success == ref.success


def test_unsupported_raises_with_reason(df):
    suite = ExpectationSuite("u").add(
        "expect_column_kl_divergence_to_be_less_than", column="g",
        partition_object={"values": ["a"], "weights": [1.0]}, threshold=1.0)
    with pytest.raises(CompileError, match="whole-table semantics"):
        validate_by(df, suite, ["g"])


def test_unsupported_skip_keeps_rest(df):
    suite = (
        ExpectationSuite("u")
        .add("expect_column_kl_divergence_to_be_less_than", column="g",
             partition_object={"values": ["a"], "weights": [1.0]}, threshold=1.0)
        .add("expect_column_values_to_not_be_null", column="v")
    )
    rows = validate_by(df, suite, ["g"], on_unsupported="skip").collect()
    assert {r.expectation_index for r in rows} == {1}


def test_non_numeric_aggregate_raises(df):
    suite = ExpectationSuite("nn").add(
        "expect_column_mean_to_be_between", column="g", min_value=0)
    with pytest.raises(CompileError, match="numeric"):
        validate_by(df, suite, ["g"])


def test_missing_column_raises(df):
    suite = ExpectationSuite("mc").add(
        "expect_column_values_to_not_be_null", column="nope")
    with pytest.raises(CompileError, match="not found"):
        validate_by(df, suite, ["g"])


def test_datetime_bounds_unsupported(df):
    suite = ExpectationSuite("dt").add(
        "expect_column_mean_to_be_between", column="v", min_value="2024-01-01")
    with pytest.raises(CompileError, match="numeric bounds"):
        validate_by(df, suite, ["g"])


def test_streaming_grouped_monitor(spark, df, tmp_path):
    # per-group verdicts per micro-batch: the continuously-updating quality
    # monitor shape (validate_stream_by = validate_by inside foreachBatch)
    from great_expectations_spark.streaming import validate_stream_by

    src = str(tmp_path / "src")
    df.withColumn("part", F.pmod(F.col("id"), F.lit(2))) \
        .write.partitionBy("part").parquet(src)
    stream = (spark.readStream.schema("id long, g string, v double")
              .option("maxFilesPerTrigger", 1).parquet(src + "/part=*"))
    suite = (
        ExpectationSuite("sg")
        .add("expect_column_values_to_not_be_null", column="v", mostly=0.5)
        .add("expect_column_mean_to_be_between", column="v",
             min_value=0, max_value=100)
    )
    results = str(tmp_path / "res")
    q = validate_stream_by(stream, suite, ["g"], results,
                           str(tmp_path / "ckpt"), run_id="sg1")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rdf = spark.read.parquet(results)
    n_batches = rdf.select("chunk_id").distinct().count()
    assert n_batches >= 2
    assert rdf.count() == n_batches * 3 * 2  # batches x groups x expectations
    # per-(batch, group) verdicts are real: only group 'a' (the one with
    # planted nulls) may dip under mostly=0.5 within a skewed micro-batch
    bad = rdf.where("NOT success").collect()
    assert all(r.g == "a" and r.expectation_index == 0 for r in bad)
    assert rdf.where("expectation_index = 1 AND NOT success").count() == 0
    assert set(rdf.columns) >= {"g", "expectation_index", "success",
                                "run_id", "chunk_id", "finished_at"}


def test_violations_by_exact_values(spark):
    d = spark.createDataFrame(
        [(i, "ab"[i % 2], float(i)) for i in range(40)],
        "id long, g string, v double")
    suite = (
        ExpectationSuite("vb")
        .add("expect_column_values_to_be_between", column="v", min_value=34)
        .add("expect_column_mean_to_be_between", column="v", min_value=0)
    )
    rows = violations_by(d, suite, ["g"]).collect()
    # ids 0..33 violate; per group 17 each, all map rows from expectation 0
    assert len(rows) == 34
    assert all(r.expectation_index == 0 for r in rows)
    by_g = {}
    for r in rows:
        by_g.setdefault(r.g, []).append(float(r.unexpected_value))
    assert sorted(by_g["a"]) == [float(i) for i in range(0, 34, 2)]
    assert sorted(by_g["b"]) == [float(i) for i in range(1, 34, 2)]


def test_violations_by_cap_per_group(spark):
    d = spark.createDataFrame(
        [(i, "ab"[i % 2], float(i)) for i in range(400)],
        "id long, g string, v double")
    suite = ExpectationSuite("vb").add(
        "expect_column_values_to_be_between", column="v", min_value=1000)
    out = violations_by(d, suite, ["g"], k=5)
    counts = {r.g: r["count"] for r in out.groupBy("g").count().collect()}
    assert counts == {"a": 5, "b": 5}


def test_violations_by_raise_on_non_map(spark):
    d = spark.createDataFrame([(1, "a", 1.0)], "id long, g string, v double")
    suite = ExpectationSuite("vb").add(
        "expect_column_mean_to_be_between", column="v", min_value=0)
    with pytest.raises(CompileError, match="no map expectations"):
        violations_by(d, suite, ["g"])
    suite2 = (ExpectationSuite("vb2")
              .add("expect_column_mean_to_be_between", column="v", min_value=0)
              .add("expect_column_values_to_not_be_null", column="v"))
    with pytest.raises(CompileError, match="not a map expectation"):
        violations_by(d, suite2, ["g"], on_unsupported="raise")


def test_violations_by_pair_values_json(spark):
    d = spark.createDataFrame(
        [(1, "a", 5.0, 10.0), (2, "a", 10.0, 5.0)],
        "id long, g string, x double, y double")
    suite = ExpectationSuite("pp").add(
        "expect_column_pair_values_a_to_be_greater_than_b",
        column_A="x", column_B="y")
    rows = violations_by(d, suite, ["g"]).collect()
    assert len(rows) == 1
    assert "5.0" in rows[0].unexpected_value and "10.0" in rows[0].unexpected_value


def test_null_group_key_kept(spark):
    d = spark.createDataFrame(
        [(1, None, 1.0), (2, "x", 2.0)], "id long, g string, v double")
    suite = ExpectationSuite("ng").add(
        "expect_column_values_to_not_be_null", column="v")
    rows = validate_by(d, suite, ["g"]).collect()
    assert len(rows) == 2 and {r.g for r in rows} == {None, "x"}
