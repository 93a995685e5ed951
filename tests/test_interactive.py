"""Interactive validation + raw metrics (SURVEY §3 entry points A and D).

Reference: Validator.expect_* dynamic dispatch accumulating a suite
(validator/validator.py) and MetricsCalculator.get_metric(s). Spark-first:
get_metrics resolves every agg-expressible metric in ONE fused df.agg.
"""

import ast
import pathlib

import pytest
from pyspark.sql import functions as F

from great_expectations_spark.interactive import (
    InteractiveValidator,
    get_metric,
    get_metrics,
)
from great_expectations_spark.plans.compiler import Options


@pytest.fixture(scope="module")
def df(spark):
    rows = [(i, float(i), "abc"[i % 3] * (i % 5 + 1), None if i % 10 == 0 else i % 7)
            for i in range(100)]
    return spark.createDataFrame(rows, "id long, v double, s string, k long").cache()


# ---------------------------------------------------------------- metrics


def test_get_metric_scalar(df):
    assert get_metric(df, "table.row_count") == 100
    assert get_metric(df, "column.mean", column="v") == pytest.approx(49.5)
    assert get_metric(df, "column_values.null.count", column="k") == 10
    assert get_metric(df, "column.distinct_values.count", column="s") == 15


def test_get_metrics_single_fused_scan(df):
    out = get_metrics(df, {
        "n": ("table.row_count", {}),
        "mean_v": ("column.mean", {"column": "v"}),
        "min_v": ("column.min", {"column": "v"}),
        "max_v": ("column.max", {"column": "v"}),
        "std_v": ("column.standard_deviation", {"column": "v"}),
        "med_v": ("column.median", {"column": "v"}),
        "uniq_k": ("column.unique_proportion", {"column": "k"}),
        "between": ("column.values_between.count",
                    {"column": "v", "min_value": 10, "max_value": 19}),
        "len_max": ("column_values.length_max", {"column": "s"}),
    })
    assert out["n"] == 100 and out["min_v"] == 0.0 and out["max_v"] == 99.0
    assert out["med_v"] == pytest.approx(49.5)
    assert out["uniq_k"] == pytest.approx(7 / 90)
    assert out["between"] == 10 and out["len_max"] == 5


def test_get_metrics_quantiles_and_schema(df):
    out = get_metrics(df, {
        "q": ("column.quantile_values", {"column": "v", "quantiles": [0.25, 0.75]}),
        "cols": ("table.columns", {}),
        "types": ("table.column_types", {}),
    })
    assert out["q"] == [pytest.approx(24.75), pytest.approx(74.25)]
    assert out["cols"] == ["id", "v", "s", "k"]
    assert {"name": "v", "type": "double"} in out["types"]


def test_eager_metrics_bounded(df):
    vc = get_metric(df, "column.value_counts", column="s")
    assert len(vc) == 15 and all(isinstance(n, int) for _, n in vc)
    dv = get_metric(df, "column.distinct_values", column="s")
    assert len(dv) == 15
    mc = get_metric(df, "column.most_common_value", column="k")
    assert set(mc) <= set(range(7))
    with pytest.raises(ValueError, match="distinct"):
        get_metric(df, "column.distinct_values", column="id",
                   options=Options(distinct_set_cap=5))


def test_histogram_fused(df):
    out = get_metrics(df, {
        "h": ("column.histogram", {"column": "v", "bins": [0, 25, 50, 100]}),
        "n": ("table.row_count", {}),
    })
    # [0,25) [25,50) [50,100] over v = 0..99
    assert out["h"] == [25, 25, 50] and out["n"] == 100


def test_partition_uniform_and_quantile(df):
    edges = get_metric(df, "column.partition", column="v", n_bins=4)
    assert edges == [pytest.approx(e) for e in [0, 24.75, 49.5, 74.25, 99.0]]
    qedges = get_metric(df, "column.partition", column="v",
                        bins="quantile", n_bins=4)
    assert qedges[0] == 0.0 and qedges[-1] == 99.0 and len(qedges) == 5


def test_partition_constant_column(spark):
    d = spark.createDataFrame([(5.0,), (5.0,), (5.0,)], "v double")
    edges = get_metric(d, "column.partition", column="v", n_bins=3)
    assert edges == [5.0, 5.0, 5.0, 5.0]  # np.linspace semantics


def test_unknown_metric_lists_supported(df):
    with pytest.raises(KeyError, match="unsupported metric"):
        get_metric(df, "column.nope", column="v")


# ------------------------------------------------------------ interactive


def test_expect_methods_validate_immediately(df):
    v = InteractiveValidator(df)
    r = v.expect_column_values_to_not_be_null(column="v")
    assert r.success and r.result["unexpected_count"] == 0
    r2 = v.expect_column_mean_to_be_between(column="v", min_value=0, max_value=10)
    assert not r2.success and r2.result["observed_value"] == pytest.approx(49.5)


def test_suite_accumulates_and_discards_failed(df):
    v = InteractiveValidator(df, name="explore")
    v.expect_column_values_to_not_be_null(column="v")
    v.expect_column_mean_to_be_between(column="v", min_value=0, max_value=10)
    v.expect_column_values_to_be_unique(column="id")
    suite = v.get_expectation_suite()
    assert suite.name == "explore"
    assert [e.expectation_type for e in suite.expectations] == [
        "expect_column_values_to_not_be_null",
        "expect_column_values_to_be_unique",
    ]
    assert len(v.get_expectation_suite(discard_failed_expectations=False)
               .expectations) == 3


def test_rerun_same_domain_upserts(df):
    v = InteractiveValidator(df)
    v.expect_column_mean_to_be_between(column="v", min_value=0, max_value=10)
    v.expect_column_mean_to_be_between(column="v", min_value=0, max_value=100)
    suite = v.get_expectation_suite()
    assert len(suite.expectations) == 1
    assert suite.expectations[0].kwargs["max_value"] == 100
    # different column: both kept
    v.expect_column_mean_to_be_between(column="k", min_value=0, max_value=100)
    assert len(v.get_expectation_suite().expectations) == 2


def test_unsupported_expectation_raises(df):
    v = InteractiveValidator(df)
    with pytest.raises(AttributeError, match="not a supported"):
        v.expect_total_nonsense(column="v")
    with pytest.raises(AttributeError):
        v.some_other_attr


def test_validation_result_rollup(df):
    v = InteractiveValidator(df)
    v.expect_column_values_to_not_be_null(column="v")
    v.expect_column_mean_to_be_between(column="v", min_value=0, max_value=10)
    res = v.validation_result()
    assert not res.success and len(res.results) == 2
    assert res.meta["entry_point"] == "interactive"


def test_interactive_get_metric(df):
    v = InteractiveValidator(df)
    assert v.get_metric("column.sum", column="v") == pytest.approx(4950.0)
    out = v.get_metrics({"a": ("table.row_count", {})})
    assert out["a"] == 100


def test_result_format_passthrough(df):
    v = InteractiveValidator(df, result_format="SUMMARY")
    r = v.expect_column_values_to_be_between(column="v", min_value=5)
    assert sorted(r.result["partial_unexpected_list"]) == [0.0, 1.0, 2.0, 3.0, 4.0]
    r2 = v.expect_column_values_to_be_between(
        column="v", min_value=5, result_format="BOOLEAN_ONLY")
    assert "partial_unexpected_list" not in r2.result


# ---------------------------------------------------------------- table.head


def test_table_head_metric(df):
    """table.head (reference table_metrics/table_head.py spark branch):
    first-n rows as a pandas DataFrame, negative n = drop last |n|,
    fetch_all = whole table."""
    out = get_metric(df.orderBy("id"), "table.head", n_rows=3)
    assert list(out.columns) == ["id", "v", "s", "k"]
    assert list(out["id"]) == [0, 1, 2]
    # default n_rows = 5
    assert len(get_metric(df, "table.head")) == 5
    # negative n: all but the last |n| (reference does count() + n)
    assert len(get_metric(df, "table.head", n_rows=-90)) == 10
    assert len(get_metric(df, "table.head", n_rows=-200)) == 0
    # fetch_all
    assert len(get_metric(df, "table.head", fetch_all=True)) == 100
    # empty frame keeps the schema header (reference returns a 0-row df)
    empty = get_metric(df.where(F.lit(False)), "table.head")
    assert len(empty) == 0 and list(empty.columns) == ["id", "v", "s", "k"]


def test_validator_head(df):
    v = InteractiveValidator(df.orderBy("id"), name="h")
    out = v.head(2)
    assert len(out) == 2 and list(out["id"]) == [0, 1]


# ------------------------------------------------------------ registry guard

ENGINE = pathlib.Path(__file__).resolve().parent.parent / "great_expectations_spark"

# exact and sketch aggregates whose choice belongs to Options: built only
# by plans/compiler.py's helpers (reached through the metric registry)
SKETCHABLE = {"count_distinct", "countDistinct", "approx_count_distinct",
              "percentile", "percentile_approx", "approx_percentile",
              "approxQuantile"}


def _sketchable_calls(tree: ast.AST) -> list[int]:
    return [node.lineno for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and (node.func.attr if isinstance(node.func, ast.Attribute)
                 else getattr(node.func, "id", None)) in SKETCHABLE]


def test_exact_and_sketch_aggregates_only_in_compiler():
    offenders = []
    for path in sorted(ENGINE.rglob("*.py")):
        rel = path.relative_to(ENGINE).as_posix()
        if rel.startswith("pipeline/") or rel == "plans/compiler.py":
            continue
        offenders += [f"{rel}:{line}"
                      for line in _sketchable_calls(ast.parse(path.read_text()))]
    assert offenders == [], (
        "resolve through interactive.metric_aggs: " + ", ".join(offenders))
