"""One value-count query per (column, row_condition) domain serves the
categorical KL / chi-square counts, the exact distinct counts and the
violation samples of the violated map expectations over that column."""

from __future__ import annotations

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F

import great_expectations_spark.validator as vmod
from great_expectations_spark import ExpectationSuite, validate
from great_expectations_spark.plans.compiler import Options
from great_expectations_spark.validator import SparkValidator

VALUES = ["apple", "b", "cherry", "dd", "eeeeeeeee", "f", "grape", "日本", "x😀"]
KL = {"values": ["apple", "b", "cherry"], "weights": [0.5, 0.25, 0.25]}


@pytest.fixture(scope="module")
def fruit(spark):
    rows = [(None if i % 11 == 0 else VALUES[(i * 7) % len(VALUES)], i % 5)
            for i in range(400)]
    return spark.createDataFrame(rows, "s string, g int")


@pytest.fixture()
def pass2(monkeypatch):
    """Config ids whose violation lists pass 2 read from rows."""
    ids: list[str] = []
    entry = SparkValidator._collect_violations

    def spy(self, sources):
        ids.extend(config.id for config, _source in sources)
        return entry(self, sources)

    monkeypatch.setattr(SparkValidator, "_collect_violations", spy)
    return ids


@pytest.fixture()
def count_only(monkeypatch):
    """Domains whose distinct count ran the count-only query."""
    domains: list = []
    real = vmod.exact_distinct_count
    monkeypatch.setattr(vmod, "exact_distinct_count",
                        lambda df, domain: domains.append(domain) or real(df, domain))
    return domains


# (expectation, kwargs, the unexpected rows' predicate over s)
KERNELS = [
    ("expect_column_values_to_be_in_set", {"value_set": ["apple", "b", "cherry"]},
     lambda s: ~s.isin("apple", "b", "cherry")),
    ("expect_column_values_to_not_be_in_set", {"value_set": ["b", "grape", "日本"]},
     lambda s: s.isin("b", "grape", "日本")),
    ("expect_column_values_to_match_regex", {"regex": "^[a-c]"},
     lambda s: ~s.rlike("^[a-c]")),
    ("expect_column_value_lengths_to_be_between", {"min_value": 2, "max_value": 6},
     lambda s: ~F.length(s).between(2, 6)),
]


def _recount(df, bad, k):
    """The definitions, recounted from the violating rows: the k smallest
    unexpected values, each repeated by its count, and the k (value, count)
    pairs by count descending, then value."""
    groups = sorted((r[0], r[1]) for r in
                    df.where(F.col("s").isNotNull() & bad(F.col("s")))
                    .groupBy("s").count().collect())
    listed: list = []
    for v, n in groups:
        listed.extend([v] * n)
    counts = sorted(groups, key=lambda t: (-t[1], t[0]))[:k]
    return listed[:k], [{"value": v, "count": n} for v, n in counts]


@pytest.mark.parametrize("layout", ["repartition1", "repartition7", "coalesce2"])
def test_samples_from_groups_equal_a_recount(fruit, pass2, layout):
    df = {"repartition1": lambda: fruit.repartition(1),
          "repartition7": lambda: fruit.repartition(7),
          "coalesce2": lambda: fruit.repartition(5).coalesce(2)}[layout]()
    suite = ExpectationSuite("share").add(
        "expect_column_kl_divergence_to_be_less_than", column="s",
        partition_object=KL, threshold=10.0)
    for etype, kw, _bad in KERNELS:
        suite.add(etype, column="s", mostly=0.1, **kw)
    res = validate(df, suite, result_format={
        "result_format": "SUMMARY", "partial_unexpected_count": 7})
    assert pass2 == []
    for r, (_etype, _kw, bad) in zip(res.results[1:], KERNELS):
        listed, counts = _recount(df, bad, 7)
        assert r.result["unexpected_count"] > 0
        assert r.result["partial_unexpected_list"] == listed
        assert r.result["partial_unexpected_counts"] == counts


def test_complete_lists_run_to_the_cap(fruit, pass2):
    etype, kw, bad = KERNELS[0]
    suite = (ExpectationSuite("c")
             .add("expect_column_chisquare_test_p_value_to_be_greater_than",
                  column="s", partition_object=KL)
             .add(etype, column="s", **kw))
    res = validate(fruit, suite, result_format="COMPLETE",
                   options=Options(complete_list_cap=30))
    assert pass2 == []
    r = res.results[1].result
    every, _ = _recount(fruit, bad, 10_000)
    assert r["unexpected_list"] == every[:30]
    assert r["partial_unexpected_list"] == every[:20]


def test_samples_match_pass2_on_a_single_value_layout(fruit, pass2):
    """Pass 2 and the value-count groups give the same lists on any
    layout: both take the smallest unexpected values."""
    etype, kw, _bad = KERNELS[0]
    df = fruit.repartition(3)
    alone = validate(df, ExpectationSuite("a").add(etype, column="s", **kw),
                     result_format="SUMMARY").results[0].result
    shared = validate(df, ExpectationSuite("b").add(
        "expect_column_kl_divergence_to_be_less_than", column="s",
        partition_object=KL, threshold=10.0).add(etype, column="s", **kw),
        result_format="SUMMARY").results[1].result
    assert len(pass2) == 1
    assert shared["partial_unexpected_counts"] == alone["partial_unexpected_counts"]
    assert shared["partial_unexpected_list"] == alone["partial_unexpected_list"]


@pytest.fixture(scope="module")
def typed(spark):
    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(300):
        d = [float("nan"), -0.0, 0.0, 1.5, float("inf"), None][i % 6] if i % 7 else i / 4
        rows.append((f"v{i % 37}" if i % 9 else None, d,
                     base + dt.timedelta(minutes=i % 41) if i % 10 else None, i % 3))
    return spark.createDataFrame(rows, "s string, d double, t timestamp, g int") \
        .repartition(4)


@pytest.mark.parametrize("column", ["s", "d", "t"])
@pytest.mark.parametrize("rc", [None, "g > 0"])
@pytest.mark.parametrize("with_kl", [True, False])
def test_distinct_counts_equal_count_distinct(typed, count_only, column, rc, with_kl):
    kw = {"row_condition": rc} if rc else {}
    suite = (ExpectationSuite("d")
             .add("expect_column_unique_value_count_to_be_between", column=column,
                  min_value=0, **kw)
             .add("expect_column_proportion_of_unique_values_to_be_between",
                  column=column, min_value=0, **kw))
    if with_kl:
        suite.add("expect_column_kl_divergence_to_be_less_than", column=column,
                  partition_object={"values": [1.5], "weights": [1.0]}, threshold=99.0)
    res = validate(typed, suite)
    scoped = typed.where(rc) if rc else typed
    want = scoped.agg(F.count_distinct(column)).first()[0]
    nonnull = scoped.where(F.col(column).isNotNull()).count()
    assert res.results[0].result["observed_value"] == want
    assert math.isclose(res.results[1].result["observed_value"], want / nonnull)
    # the KL groups (no row_condition) serve the count; otherwise the
    # count-only query runs, once for both expectations
    assert len(count_only) == (0 if with_kl and rc is None else 1)


def test_overflow(fruit, pass2):
    """Over ``distinct_set_cap``: KL raises as it did, the distinct count
    stays exact through the count-only query, the in-set samples come from
    pass 2."""
    etype, kw, _bad = KERNELS[0]
    suite = (ExpectationSuite("o")
             .add("expect_column_kl_divergence_to_be_less_than", column="s",
                  partition_object=KL, threshold=10.0)
             .add("expect_column_unique_value_count_to_be_between", column="s",
                  min_value=0)
             .add(etype, column="s", **kw))
    res = validate(fruit, suite, result_format="SUMMARY",
                   options=Options(distinct_set_cap=3))
    kl, unique, in_set = res.results
    assert kl.exception_info["raised_exception"]
    assert "have more than 3 distinct groups" in kl.exception_info["exception_message"]
    assert unique.result["observed_value"] == len(VALUES)
    assert pass2 == [suite.expectations[2].id]
    assert in_set.result["partial_unexpected_list"]


def test_other_row_condition_shares_nothing(fruit, pass2, count_only):
    """Neither a map expectation nor a distinct count under another
    row_condition reads the KL's groups: the samples come from pass 2, the
    count from the count-only query of its own domain."""
    etype, kw, _bad = KERNELS[0]
    suite = (ExpectationSuite("r")
             .add("expect_column_kl_divergence_to_be_less_than", column="s",
                  partition_object=KL, threshold=10.0)
             .add(etype, column="s", row_condition="g > 1", **kw)
             .add("expect_column_unique_value_count_to_be_between", column="s",
                  row_condition="g > 2", min_value=0))
    res = validate(fruit, suite, result_format="SUMMARY")
    assert pass2 == [suite.expectations[1].id]
    assert [d.rc_id for d in count_only] == ["g > 2"]
    want = fruit.where("g > 2").agg(F.count_distinct("s")).first()[0]
    assert res.results[2].result["observed_value"] == want


@pytest.mark.parametrize("rc", [None, "g > 1"])
def test_distinct_count_and_violated_map_share_one_query(fruit, pass2, count_only, rc):
    """With no KL, an exact distinct count and a violated map expectation on
    the same domain share one value-count query: no pass-2 job and no
    count-only query; the count is ``count_distinct``'s and the samples are
    the recount's."""
    etype, kw, bad = KERNELS[0]
    rcs = {"row_condition": rc} if rc else {}
    suite = (ExpectationSuite("d")
             .add(etype, column="s", **rcs, **kw)
             .add("expect_column_unique_value_count_to_be_between", column="s",
                  min_value=0, **rcs))
    res = validate(fruit, suite, result_format="SUMMARY")
    assert pass2 == [] and count_only == []
    scoped = fruit.where(rc) if rc else fruit
    assert res.results[1].result["observed_value"] == \
        scoped.agg(F.count_distinct("s")).first()[0]
    listed, counts = _recount(scoped, bad, 20)
    assert res.results[0].result["partial_unexpected_list"] == listed
    assert res.results[0].result["partial_unexpected_counts"] == counts


def test_kernel_that_reads_another_column_falls_back_to_pass2(fruit, pass2, monkeypatch):
    """A single-column kernel whose expressions do not analyze over the
    grouped column (here it also reads ``g``) leaves the value-count query
    with its counts; its samples come from pass 2."""
    from great_expectations_spark.functions.conditions import MAP_KERNELS, MapKernel

    name = "expect_column_values_to_be_shorter_than_g_plus_three"

    def kernel(kwargs):
        col = F.col(kwargs["column"])
        return MapKernel(include=col.isNotNull(), ok=F.length(col) < F.col("g") + 3,
                         value=col, columns=[kwargs["column"]])

    monkeypatch.setitem(MAP_KERNELS, name, kernel)
    suite = (ExpectationSuite("k")
             .add("expect_column_kl_divergence_to_be_less_than", column="s",
                  partition_object=KL, threshold=10.0)
             .add(name, column="s"))
    kl, short = validate(fruit, suite, result_format="SUMMARY").results
    assert not kl.exception_info.get("raised_exception")
    assert kl.result["details"]["observed_partition"]["values"][:3] == KL["values"]
    assert short.result["unexpected_count"] > 0
    assert pass2 == [suite.expectations[1].id]
    assert short.result["partial_unexpected_list"]


def test_count_only_query_has_one_exchange(spark, tmp_path, new_job_ids):
    """The count-only query counts the domain's groups as an observed
    metric: the grouping's exchange and no second one, two jobs, where a
    ``count(DISTINCT s)`` aggregate runs three."""
    from pyspark.sql import Observation

    from great_expectations_spark.plans.compiler import ValueDomain, exact_distinct_count

    path = str(tmp_path / "t.parquet")
    spark.range(3000).select((F.col("id") % 37).cast("string").alias("s"),
                             (F.col("id") % 5).alias("g")).write.parquet(path)
    df = spark.read.parquet(path)
    domain = ValueDomain("s", "g > 0", F.col("g") > 0)
    want = df.where("g > 0").agg(F.count_distinct("s")).first()[0]
    n, jobs = new_job_ids(lambda: exact_distinct_count(df, domain))
    assert n == want == 37
    assert len(jobs) == 2
    _, distinct_jobs = new_job_ids(
        lambda: df.where("g > 0").agg(F.count_distinct("s")).first())
    assert len(distinct_jobs) == 3
    groups = df.where((F.col("g") > 0) & F.col("s").isNotNull()).groupBy("s").agg(
        F.count(F.lit(1)).alias("__n"))
    plan = (groups.observe(Observation(), F.count(F.lit(1)).alias("n")).select()
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Exchange") == 1, plan
