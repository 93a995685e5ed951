"""Chunk-monoid rollup: aggregate expectations merge EXACTLY across
checkpoint chunks (count/sum/sumsq/min/max partials; datasketches HLL union
for distinct counts) instead of the conservative AND-of-chunks.

North rule: "column profiling uses streaming sketches ... merged via
commutative monoid aggregation". The reference has no cross-batch merge at
all — each batch revalidates from scratch (checkpoint/checkpoint.py run
loop); this engine's results table carries the partial state.
"""

import datetime
import json
import math
import random
import tempfile

import pytest
from pyspark.sql import functions as F

from great_expectations_spark import ExpectationSuite, validate
from great_expectations_spark.checkpoint import (
    CheckpointResult,
    Splitter,
    run_checkpoint,
)
from great_expectations_spark.plans.compiler import Options


@pytest.fixture(scope="module")
def skewed_df(spark):
    # group 'a' carries a hot tail so per-chunk aggregates differ wildly
    rng = random.Random(7)
    rows = [
        (i, rng.choice("abcde"), rng.gauss(50.0, 10.0) + (60.0 if i % 11 == 0 else 0.0))
        for i in range(3000)
    ]
    return spark.createDataFrame(rows, "id long, g string, v double").cache()


AGG_SUITE = (
    ExpectationSuite("monoid_aggs")
    .add("expect_column_mean_to_be_between", column="v", min_value=40, max_value=70)
    .add("expect_column_sum_to_be_between", column="v", min_value=0)
    .add("expect_column_min_to_be_between", column="v", max_value=60)
    .add("expect_column_max_to_be_between", column="v", min_value=80)
    .add("expect_column_stdev_to_be_between", column="v", min_value=1, max_value=40)
    .add("expect_table_row_count_to_be_between", min_value=2500, max_value=3500)
)


def _rollup_by_idx(roll):
    return {r.expectation_index: r for r in roll.collect()}


def test_merged_aggregates_match_whole_table(spark, skewed_df, tmp_path):
    res = run_checkpoint(
        skewed_df, AGG_SUITE, Splitter.column_value(skewed_df, "g"),
        str(tmp_path / "res"), run_id="r1")
    by_idx = _rollup_by_idx(res.rollup())
    whole = validate(skewed_df, AGG_SUITE)
    for i, evr in enumerate(whole.results):
        row = by_idx[i]
        assert row.chunk_scoped is False, row.expectation_type
        assert row.success == evr.success
        merged = json.loads(row.merged_observed_json)
        expected = evr.result["observed_value"]
        assert merged == pytest.approx(expected, rel=1e-9)


def test_merged_success_overrides_and_of_chunks(spark, tmp_path):
    # chunk g='b' holds the high values: its chunk mean (~90) fails the
    # bounds, but the whole-table mean (~50.8) passes — the monoid rollup
    # must return the whole-table verdict, not AND-of-chunks
    rows = [(i, "a", 50.0) for i in range(950)] + [(i, "b", 90.0) for i in range(50)]
    df = spark.createDataFrame(rows, "id long, g string, v double")
    suite = ExpectationSuite("sk").add(
        "expect_column_mean_to_be_between", column="v", min_value=40, max_value=60)
    res = run_checkpoint(df, suite, Splitter.column_value(df, "g"),
                         str(tmp_path / "res"), run_id="r1")
    chunk_verdicts = {
        r.chunk_id: r.success
        for r in res.results_df.where("expectation_index = 0").collect()
    }
    assert chunk_verdicts["g=b"] is False  # per-chunk verdict really failed
    row = _rollup_by_idx(res.rollup())[0]
    assert row.success is True  # 0.95*50 + 0.05*90 = 52 — in bounds
    assert json.loads(row.merged_observed_json) == pytest.approx(52.0)
    assert row.chunk_scoped is False


def test_hll_distinct_merges_across_chunks(spark, skewed_df, tmp_path):
    suite = (
        ExpectationSuite("hll")
        .add("expect_column_unique_value_count_to_be_between",
             column="id", min_value=2800, max_value=3200)
        .add("expect_column_proportion_of_unique_values_to_be_between",
             column="id", min_value=0.95)
    )
    res = run_checkpoint(skewed_df, suite, Splitter.column_value(skewed_df, "g"),
                         str(tmp_path / "res"), run_id="r1")
    by_idx = _rollup_by_idx(res.rollup())
    # ids are globally unique but split across 5 chunks: any per-chunk count
    # is ~600 — only the UNIONED sketch sees 3000
    n = json.loads(by_idx[0].merged_observed_json)
    assert by_idx[0].chunk_scoped is False
    assert by_idx[0].success is True
    assert math.isclose(n, 3000, rel_tol=0.03)
    prop = json.loads(by_idx[1].merged_observed_json)
    assert math.isclose(prop, 1.0, rel_tol=0.03)
    assert by_idx[1].success is True


def test_median_and_quantiles_merge_across_chunks(spark, skewed_df, tmp_path):
    # KLL sketch monoid: median/quantiles merge to a whole-table estimate
    # within the sketch's rank error (k=800 → ~0.4% of a rank)
    suite = (
        ExpectationSuite("kll")
        .add("expect_column_median_to_be_between", column="v",
             min_value=40, max_value=60)
        .add("expect_column_quantile_values_to_be_between", column="v",
             quantile_ranges={"quantiles": [0.25, 0.5, 0.75],
                              "value_ranges": [[30, 60], [40, 70], [45, 80]]})
    )
    res = run_checkpoint(skewed_df, suite, Splitter.column_value(skewed_df, "g"),
                         str(tmp_path / "res"), run_id="r1")
    by_idx = _rollup_by_idx(res.rollup())
    whole = validate(skewed_df, suite)
    # exact whole-table values for tolerance anchoring
    exact_med = whole.results[0].result["observed_value"]
    exact_q = whole.results[1].result["observed_value"]["values"]
    assert by_idx[0].chunk_scoped is False
    assert by_idx[1].chunk_scoped is False
    # 3000 rows, rank error 0.4% ≈ ±12 ranks; values are gaussian(50,10)
    # with a hot tail, so ±12 ranks ≈ well under 2.0 in value
    merged_med = json.loads(by_idx[0].merged_observed_json)
    assert abs(merged_med - exact_med) < 2.0
    mq = json.loads(by_idx[1].merged_observed_json)
    assert mq["quantiles"] == [0.25, 0.5, 0.75]
    for got, exp in zip(mq["values"], exact_q):
        assert abs(got - exp) < 2.0
    assert by_idx[0].success == whole.results[0].success
    assert by_idx[1].success == whole.results[1].success


def test_merged_median_overrides_and_of_chunks(spark, tmp_path):
    # chunk g='b' has median 90 (fails bounds); whole-table median is 50
    # (950 of 1000 values) — the merged sketch must return the whole-table
    # verdict, and at two distinct values the KLL answer is exact
    rows = [(i, "a", 50.0) for i in range(950)] + [(i, "b", 90.0) for i in range(50)]
    df = spark.createDataFrame(rows, "id long, g string, v double")
    suite = ExpectationSuite("sk").add(
        "expect_column_median_to_be_between", column="v",
        min_value=40, max_value=60)
    res = run_checkpoint(df, suite, Splitter.column_value(df, "g"),
                         str(tmp_path / "res"), run_id="r1")
    chunk_verdicts = {
        r.chunk_id: r.success
        for r in res.results_df.where("expectation_index = 0").collect()
    }
    assert chunk_verdicts["g=b"] is False
    row = _rollup_by_idx(res.rollup())[0]
    assert row.success is True
    assert json.loads(row.merged_observed_json) == pytest.approx(50.0)
    assert row.chunk_scoped is False


def test_kll_merge_tolerates_all_null_chunk(spark, tmp_path):
    # one chunk's column is entirely NULL → its monoid carries an EMPTY
    # KLL sketch buffer; the merge must not crash and must return the
    # estimate from the populated chunks
    rows = [(i, "a", float(i % 100)) for i in range(1000)] + [
        (i, "b", None) for i in range(50)]
    df = spark.createDataFrame(rows, "id long, g string, v double")
    suite = ExpectationSuite("nulls").add(
        "expect_column_median_to_be_between", column="v",
        min_value=0, max_value=99)
    res = run_checkpoint(df, suite, Splitter.column_value(df, "g"),
                         str(tmp_path / "res"), run_id="r1")
    row = _rollup_by_idx(res.rollup())[0]
    assert row.chunk_scoped is False
    assert row.success is True
    assert abs(json.loads(row.merged_observed_json) - 49.5) < 2.0


def test_non_numeric_aggregate_stays_chunk_scoped(spark, skewed_df, tmp_path):
    # min over a STRING column: a merged double min would silently change
    # comparison semantics, so no monoid is recorded and AND-of-chunks holds
    suite = ExpectationSuite("s").add(
        "expect_column_min_to_be_between", column="g", min_value="a")
    res = run_checkpoint(skewed_df, suite, Splitter.hashed_column("id", 3),
                         str(tmp_path / "res"), run_id="r1")
    row = _rollup_by_idx(res.rollup())[0]
    assert row.chunk_scoped is True
    assert row.merged_observed_json is None
    assert row.success is True  # every chunk passed on its own


def test_monoids_off_falls_back_to_and_of_chunks(spark, skewed_df, tmp_path):
    res = run_checkpoint(
        skewed_df, AGG_SUITE, Splitter.column_value(skewed_df, "g"),
        str(tmp_path / "res"), run_id="r1", options=Options())
    roll = res.rollup().collect()
    assert all(r.chunk_scoped for r in roll if r.unexpected_count is None)
    assert all(r.merged_observed_json is None for r in roll)


def test_rollup_tolerates_pre_monoid_results_table(spark, skewed_df, tmp_path):
    # a results table written before the monoid_json column existed still
    # rolls up (engine upgrade over an in-flight run)
    res = run_checkpoint(
        skewed_df, AGG_SUITE, Splitter.column_value(skewed_df, "g"),
        str(tmp_path / "res"), run_id="r1")
    legacy = CheckpointResult(
        run_id="r1", completed_chunks=res.completed_chunks, skipped_chunks=[],
        results_df=res.results_df.drop("monoid_json"))
    roll = legacy.rollup().collect()
    assert all(r.merged_observed_json is None for r in roll)
    assert all(r.chunk_scoped for r in roll if r.unexpected_count is None)


def test_map_expectation_rollup_unchanged_by_monoids(spark, skewed_df, tmp_path):
    # map counts still merge by summation; monoid machinery must not touch them
    suite = ExpectationSuite("m").add(
        "expect_column_values_to_not_be_null", column="v", mostly=0.9)
    res = run_checkpoint(skewed_df, suite, Splitter.column_value(skewed_df, "g"),
                         str(tmp_path / "res"), run_id="r1")
    row = _rollup_by_idx(res.rollup())[0]
    assert row.success is True
    assert row.element_count == 3000
    assert row.merged_observed_json is None


def test_nan_chunk_falls_back_to_and_of_chunks(spark, tmp_path):
    # a NaN partial is not representable in strict JSON; the monoid is
    # dropped for that chunk so the expectation keeps AND-of-chunks
    # (merging the remaining chunks would report a clean in-bounds mean
    # for a column whose whole-table mean is NaN)
    rows = [(i, "a", 50.0) for i in range(100)] + [(100, "b", float("nan"))]
    df = spark.createDataFrame(rows, "id long, g string, v double")
    suite = ExpectationSuite("nan").add(
        "expect_column_mean_to_be_between", column="v", min_value=0,
        max_value=100)
    res = run_checkpoint(df, suite, Splitter.column_value(df, "g"),
                         str(tmp_path / "res"), run_id="r1")
    nan_chunk = res.results_df.where("chunk_id = 'g=b'").first()
    assert nan_chunk.monoid_json is None  # dropped, not mangled
    row = _rollup_by_idx(res.rollup())[0]
    assert row.merged_observed_json is None
    assert row.chunk_scoped is True
    assert row.success is False  # the NaN chunk's own verdict fails


def test_stdev_merge_survives_large_magnitude(spark, tmp_path):
    # values ~1e9 with stdev ~0.82: raw sum/sumsq re-derivation cancels
    # catastrophically (signal below one double ULP of sumsq); Chan's
    # (count, mean, M2) merge recovers the whole-table stdev
    rows = [(i, "abc"[i % 3], 1.0e9 + (i % 3)) for i in range(3000)]
    df = spark.createDataFrame(rows, "id long, g string, v double")
    suite = ExpectationSuite("big").add(
        "expect_column_stdev_to_be_between", column="v",
        min_value=0.5, max_value=2)
    res = run_checkpoint(df, suite, Splitter.column_value(df, "g"),
                         str(tmp_path / "res"), run_id="r1")
    row = _rollup_by_idx(res.rollup())[0]
    whole = validate(df, suite)
    exact = whole.results[0].result["observed_value"]
    assert row.chunk_scoped is False
    merged = json.loads(row.merged_observed_json)
    assert merged == pytest.approx(exact, rel=1e-6)
    assert row.success is True
    # NOTE: per-chunk values are IDENTICAL within each chunk (stdev 0) but
    # the whole-table spread is 0.8165 — only a correct cross-chunk merge
    # can pass these bounds; AND-of-chunks would fail (chunk stdev 0 < 0.5)


def test_suite_edit_on_resume_keeps_definitions_separate(spark, tmp_path):
    # chunks validated under DIFFERENT kwargs for the same expectation
    # index (suite edited mid-resume) must not mix monoids: each
    # (index, type, kwargs) group merges only its own chunks
    rows = [(i, "abc"[i % 3], float(i % 100)) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, g string, v double")
    path = str(tmp_path / "res")
    suite_a = ExpectationSuite("s").add(
        "expect_column_mean_to_be_between", column="v", min_value=0,
        max_value=100)
    # run only chunk g=a under suite A
    sub = Splitter("one", [c for c in Splitter.column_value(df, "g").chunks
                           if c[0] == "g=a"])
    run_checkpoint(df, suite_a, sub, path, run_id="r1")
    # resume the remaining chunks under EDITED bounds
    suite_b = ExpectationSuite("s").add(
        "expect_column_mean_to_be_between", column="v", min_value=90,
        max_value=100)
    res = run_checkpoint(df, suite_b, Splitter.column_value(df, "g"),
                         path, run_id="r1")
    roll = res.rollup().collect()
    assert len(roll) == 2  # one row per kwargs variant
    by_kw = {json.loads(r.kwargs_json)["min_value"]: r for r in roll}
    # variant A merged only chunk g=a (mean ~49.5 → passes [0, 100])
    assert by_kw[0].success is True
    a_obs = json.loads(by_kw[0].merged_observed_json)
    # variant B merged chunks g=b,g=c (mean ~49.5 → fails [90, 100])
    assert by_kw[90].success is False
    b_obs = json.loads(by_kw[90].merged_observed_json)
    # neither observed value is contaminated by the other variant's chunks
    assert a_obs == pytest.approx(49.5, abs=2.0)
    assert b_obs == pytest.approx(49.5, abs=2.0)


def test_streaming_microbatches_rollup_to_whole_stream_aggregates(
        spark, skewed_df, tmp_path):
    # micro-batches are chunks: validate_stream records monoids per batch,
    # so a rollup over the stream's results table returns whole-STREAM
    # aggregate observed values (exact for mean, sketch-accurate for
    # median/distinct) even though no single batch ever saw all rows
    from great_expectations_spark.streaming import validate_stream

    src = str(tmp_path / "src")
    # 3 files → 3 micro-batches with maxFilesPerTrigger=1
    skewed_df.withColumn("part", F.pmod(F.col("id"), F.lit(3))).write \
        .partitionBy("part").parquet(src)
    stream = (spark.readStream.schema("id long, g string, v double")
              .option("maxFilesPerTrigger", 1).parquet(src + "/part=*"))
    suite = (
        ExpectationSuite("stream_agg")
        .add("expect_column_mean_to_be_between", column="v",
             min_value=40, max_value=70)
        .add("expect_column_median_to_be_between", column="v",
             min_value=40, max_value=70)
        .add("expect_column_unique_value_count_to_be_between", column="id",
             min_value=2800, max_value=3200)
    )
    results = str(tmp_path / "results")
    q = validate_stream(stream, suite, results, str(tmp_path / "ckpt"),
                        run_id="s1")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rdf = spark.read.parquet(results)
    n_batches = rdf.select("chunk_id").distinct().count()
    assert n_batches >= 2  # the point: no batch saw the whole stream
    res = CheckpointResult(run_id="s1", completed_chunks=[], skipped_chunks=[],
                           results_df=rdf)
    by_idx = _rollup_by_idx(res.rollup())
    whole = validate(skewed_df, suite)
    mean_exact = whole.results[0].result["observed_value"]
    med_exact = whole.results[1].result["observed_value"]
    assert json.loads(by_idx[0].merged_observed_json) == pytest.approx(
        mean_exact, rel=1e-9)
    assert abs(json.loads(by_idx[1].merged_observed_json) - med_exact) < 2.0
    assert math.isclose(json.loads(by_idx[2].merged_observed_json), 3000,
                        rel_tol=0.03)
    assert all(by_idx[i].success for i in range(3))
    assert all(not by_idx[i].chunk_scoped for i in range(3))


def test_incremental_validation_of_growing_table(spark, tmp_path):
    # the 100-TB shape: a partitioned table grows by one chunk per day;
    # re-running the checkpoint under the same run_id validates ONLY the
    # new chunk (resume skips completed ones) yet rollup() still returns
    # whole-table verdicts — map counts re-sum, aggregate monoids re-merge
    day1 = [(i, "d1", float(i % 100)) for i in range(1000)]
    day2 = [(i + 1000, "d2", float(i % 100) + 100.0) for i in range(1000)]
    df1 = spark.createDataFrame(day1, "id long, day string, v double")
    suite = (
        ExpectationSuite("inc")
        .add("expect_column_values_to_not_be_null", column="v", mostly=0.9)
        .add("expect_column_mean_to_be_between", column="v",
             min_value=0, max_value=120)
        .add("expect_column_unique_value_count_to_be_between", column="id",
             min_value=1500, max_value=2500)  # sized for the FULL table
    )
    path = str(tmp_path / "res")
    r1 = run_checkpoint(df1, suite, Splitter.column_value(df1, "day"),
                        path, run_id="daily")
    assert r1.completed_chunks == ["day=d1"]
    # the table grows; same run_id, splitter now sees both days
    df2 = spark.createDataFrame(day1 + day2, "id long, day string, v double")
    r2 = run_checkpoint(df2, suite, Splitter.column_value(df2, "day"),
                        path, run_id="daily")
    assert r2.completed_chunks == ["day=d2"]  # day1 was NOT revalidated
    assert r2.skipped_chunks == ["day=d1"]
    by_idx = _rollup_by_idx(r2.rollup())
    assert by_idx[0].element_count == 2000  # map counts span both days
    # whole-table mean = (49.5 + 149.5) / 2 = 99.5 — only a cross-day
    # merge sees it; day2 alone (149.5) would FAIL the [0, 120] bounds
    assert json.loads(by_idx[1].merged_observed_json) == pytest.approx(99.5)
    assert by_idx[1].success is True
    # distinct ids: each day has 1000 — only the HLL union reaches 2000
    n = json.loads(by_idx[2].merged_observed_json)
    assert math.isclose(n, 2000, rel_tol=0.03)
    assert by_idx[2].success is True


def test_plain_validate_has_no_monoid_payload(spark, skewed_df):
    # default Options: result dicts stay byte-identical to round-1 behavior
    whole = validate(skewed_df, AGG_SUITE)
    assert all("monoid" not in evr.result for evr in whole.results)
    with_monoids = validate(skewed_df, AGG_SUITE,
                            options=Options(chunk_monoids=True))
    kinds = [evr.result.get("monoid", {}).get("kind")
             for evr in with_monoids.results]
    assert kinds == ["mean", "sum", "min", "max", "stdev", "count"]


def test_monoid_partials_skip_non_numeric_columns(spark, new_job_ids):
    """A min over a DATE column under chunk_monoids: its double partials do
    not analyze over dates, so none are built — the verdicts and the job
    count equal a run without monoids (no pass-1 isolation fallback)."""
    df = spark.createDataFrame(
        [(datetime.date(2024, 1, 1 + i % 28), float(i)) for i in range(300)],
        "d date, v double")
    suite = (
        ExpectationSuite("dates")
        .add("expect_column_min_to_be_between", column="d", min_value="2023-01-01")
        .add("expect_column_max_to_be_between", column="v", min_value=0)
    )
    plain, plain_jobs = new_job_ids(lambda: validate(df, suite))
    mono, mono_jobs = new_job_ids(
        lambda: validate(df, suite, options=Options(chunk_monoids=True)))
    assert len(mono_jobs) == len(plain_jobs)
    assert [r.success for r in mono.results] == [r.success for r in plain.results]
    assert [r.success for r in mono.results] == [True, True]
    assert "monoid" not in mono.results[0].result
    assert mono.results[1].result["monoid"]["kind"] == "max"


# --------------------------------------------- rollup: one aggregate query

WIDE_SUITE = (
    ExpectationSuite("wide", expectations=list(AGG_SUITE.expectations))
    .add("expect_table_row_count_to_equal", value=3000)
    .add("expect_column_median_to_be_between", column="v", min_value=40, max_value=60)
    .add("expect_column_quantile_values_to_be_between", column="v",
         quantile_ranges={"quantiles": [0.25, 0.5, 0.75],
                          "value_ranges": [[30, 60], [40, 60], [45, 70]]})
    .add("expect_column_unique_value_count_to_be_between", column="g",
         min_value=5, max_value=5)
    .add("expect_column_proportion_of_unique_values_to_be_between",
         column="id", min_value=0.9)
    .add("expect_column_values_to_not_be_null", column="v", mostly=0.9)
    .add("expect_column_values_to_be_between", column="v", min_value=20,
         max_value=100, mostly=0.99)
    .add("expect_column_values_to_be_unique", column="g")
    .add("expect_column_min_to_be_between", column="g", min_value="a")
    .add("expect_column_mean_to_be_between", column="nope", min_value=0)
    .add("expect_column_values_to_be_increasing", column="id")
)

ROLLUP_DTYPES = [
    ("expectation_index", "int"), ("expectation_type", "string"),
    ("kwargs_json", "string"), ("n_chunks", "bigint"),
    ("element_count", "bigint"), ("missing_count", "bigint"),
    ("unexpected_count", "bigint"), ("raised_exception", "boolean"),
    ("chunk_scoped", "boolean"), ("merged_observed_json", "string"),
    ("success", "boolean"),
]

# The rollup rows of WIDE_SUITE over skewed_df, by column_value(g), as the
# groupBy + broadcast-join plan this aggregate replaced computed them:
# (n_chunks, element, missing, unexpected, raised, chunk_scoped,
# merged_observed, success) per expectation index. KLL values (7, 8) vary
# with the sketch's randomized compaction; they are compared within its
# rank error.
MONOID_ROWS = [
    (5, 3000, 0, None, False, False, 55.810669123334, True),
    (5, 3000, 0, None, False, False, 167432.00737000201, True),
    (5, 3000, 0, None, False, False, 19.543958913585996, True),
    (5, 3000, 0, None, False, False, 135.00506792013053, True),
    (5, 3000, 0, None, False, False, 19.862915632917424, True),
    (5, None, None, None, False, False, 3000, True),
    (5, None, None, None, False, False, 3000, True),
    (5, 3000, 0, None, False, False, 51.33303292986423, True),
    (5, 3000, 0, None, False, False,
     {"quantiles": [0.25, 0.5, 0.75],
      "values": [44.54530892921541, 51.33303292986423, 59.270615103179786]}, True),
    (5, None, None, None, False, False, 5, True),
    (5, None, None, None, False, False, 0.999, True),
    (5, 3000, 0, 0, False, False, None, True),
    (5, 3000, 0, 236, False, False, None, False),
    (5, 3000, 0, 3000, False, False, None, False),
    (5, 3000, 0, None, False, True, None, True),
    (5, None, None, None, True, False, None, False),
    (5, 3000, 0, 0, False, False, None, True),
]
# the same results table without its monoid_json column: AND-of-chunks
PRE_MONOID_SUCCESS = [True, True, True, True, True, False, False, True, True,
                      False, True, True, False, False, True, False, True]


def _assert_rollup(roll, rows):
    assert roll.dtypes == ROLLUP_DTYPES
    got = roll.collect()
    assert [r.expectation_index for r in got] == list(range(len(WIDE_SUITE.expectations)))
    for r, cfg, want in zip(got, WIDE_SUITE.expectations, rows):
        assert r.expectation_type == cfg.expectation_type
        assert r.kwargs_json == json.dumps(cfg.kwargs, sort_keys=True, default=str)
        *exact, merged, success = want
        assert (r.n_chunks, r.element_count, r.missing_count, r.unexpected_count,
                r.raised_exception, r.chunk_scoped) == tuple(exact), r
        assert r.success is success, r
        if merged is None:
            assert r.merged_observed_json is None, r
            continue
        obs = json.loads(r.merged_observed_json)
        kll = cfg.expectation_type in ("expect_column_median_to_be_between",
                                       "expect_column_quantile_values_to_be_between")
        approx = (lambda v: pytest.approx(v, abs=1.0)) if kll else (
            lambda v: pytest.approx(v, rel=1e-12))
        if isinstance(merged, dict):
            assert obs["quantiles"] == merged["quantiles"]
            assert obs["values"] == approx(merged["values"])
        else:
            assert obs == approx(merged), r


@pytest.fixture(scope="module")
def wide_run(spark, skewed_df):
    """Run r1 (monoids on) and, into the same results table, run r2 over a
    third of the rows without monoids; the result views run r1."""
    with tempfile.TemporaryDirectory() as d:
        run_checkpoint(skewed_df, WIDE_SUITE, Splitter.column_value(skewed_df, "g"),
                       d + "/res", run_id="r1")
        res = run_checkpoint(skewed_df.where("id % 3 = 0"), WIDE_SUITE,
                             Splitter.hashed_column("id", 3), d + "/res",
                             run_id="r2", options=Options())
        yield CheckpointResult(run_id="r1", completed_chunks=[], skipped_chunks=[],
                               results_df=res.results_df)


def test_rollup_rows_unchanged_by_one_aggregate_plan(wide_run):
    _assert_rollup(wide_run.rollup(), MONOID_ROWS)
    legacy = CheckpointResult(
        run_id="r1", completed_chunks=[], skipped_chunks=[],
        results_df=wide_run.results_df.drop("monoid_json"))
    _assert_rollup(legacy.rollup(), [
        (n, e, m, u, raised, not raised and u is None, None, ok)
        for (n, e, m, u, raised, _cs, _obs, _ok), ok
        in zip(MONOID_ROWS, PRE_MONOID_SUCCESS)])


def test_rollup_runs_one_aggregate_and_collects_without_jobs(spark, wide_run, new_job_ids):
    from great_expectations_spark.checkpoint import _EXPECTATION_KEY, _kll_quantiles

    r = wide_run.results_df.where(F.col("run_id") == "r1")
    _, agg_jobs = new_job_ids(lambda: r.groupBy(*_EXPECTATION_KEY).count().collect())
    roll, jobs = new_job_ids(wide_run.rollup)
    assert len(jobs) == len(agg_jobs)
    _, collect_jobs = new_job_ids(roll.collect)
    assert collect_jobs == set()
    sketch = r.where(F.col("expectation_index") == 7).select(
        F.get_json_object("monoid_json", "$.kll")).first()[0]
    values, kll_jobs = new_job_ids(lambda: _kll_quantiles(spark, sketch, [0.1, 0.5]))
    assert kll_jobs == set()
    assert values[0] < values[1]


def test_metric_series_runs_one_aggregate_and_collects_without_jobs(
        spark, wide_run, new_job_ids):
    """metric_series is the rollup's one aggregate grouped by run too (the
    plan with its own groupBy, the merge aggregate and a join ran 5 jobs
    on this table); its frame collects without a job."""
    from great_expectations_spark.checkpoint import _EXPECTATION_KEY
    from great_expectations_spark.history import metric_series

    r = wide_run.results_df
    _, agg_jobs = new_job_ids(
        lambda: r.groupBy("run_id", *_EXPECTATION_KEY).count().collect())
    series, jobs = new_job_ids(lambda: metric_series(r))
    assert len(jobs) == len(agg_jobs)
    _, collect_jobs = new_job_ids(series.collect)
    assert collect_jobs == set()


# history.metric_series over both runs, as the plan before the one-aggregate
# merge computed it: (metric_name, value, success) per expectation index.
SERIES_R1 = [
    ("observed_value", 55.810669123334, True),
    ("observed_value", 167432.00737000201, True),
    ("observed_value", 19.543958913585996, True),
    ("observed_value", 135.00506792013053, True),
    ("observed_value", 19.862915632917424, True),
    ("observed_value", 3000.0, True),
    ("observed_value", 3000.0, True),
    ("observed_value", 51.33303292986423, True),  # KLL
    ("observed_value", None, True),  # merged quantiles: not one number
    ("observed_value", 5.0, True),
    ("observed_value", 0.999, True),
    ("unexpected_percent", 0.0, True),
    ("unexpected_percent", 7.866666666666666, False),
    (None, None, False),
    (None, None, True),
    (None, None, False),
    (None, None, True),
]
SERIES_R2 = [
    (None, None, ok) for ok in (True, True, True, True, True, False, False,
                                True, True, True, True)
] + [
    ("unexpected_percent", 0.0, True),
    ("unexpected_percent", 7.9, False),
    (None, None, False),
    (None, None, True),
    (None, None, False),
    (None, None, True),
]


def test_metric_series_unchanged_by_one_aggregate_merge(wide_run):
    from great_expectations_spark.history import metric_series

    series = metric_series(wide_run.results_df)
    assert series.dtypes == [
        ("run_id", "string"), ("expectation_index", "int"),
        ("expectation_type", "string"), ("kwargs_json", "string"),
        ("run_ts", "double"), ("metric_name", "string"), ("value", "double"),
        ("success", "boolean")]
    got = sorted(series.collect(), key=lambda r: (r.run_id, r.expectation_index))
    want = [("r1", i, w) for i, w in enumerate(SERIES_R1)] + [
        ("r2", i, w) for i, w in enumerate(SERIES_R2)]
    assert len(got) == len(want)
    for r, (run, i, (name, value, ok)) in zip(got, want):
        assert (r.run_id, r.expectation_index, r.metric_name, r.success) == (
            run, i, name, ok), r
        tol = dict(abs=1.0) if (run, i) == ("r1", 7) else dict(rel=1e-12)
        assert r.value == (None if value is None else pytest.approx(value, **tol)), r
