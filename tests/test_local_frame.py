"""``sources.session.local_frame``: small frames of Python rows built as one
Arrow table (a LocalTableScan) instead of ``createDataFrame(list)``, which
pickles rows through Python workers."""

from __future__ import annotations

import ast
import json
import pathlib

import pytest
from pyspark.sql import functions as F

from great_expectations_spark import ExpectationSuite, validate
from great_expectations_spark.checkpoint import RESULTS_SCHEMA, results_rows
from great_expectations_spark.plans.compiler import Options
from great_expectations_spark.sources.session import local_frame

ENGINE = pathlib.Path(__file__).resolve().parent.parent / "great_expectations_spark"


@pytest.fixture(scope="module")
def rows(spark):
    """results_rows of a real run: map rows with samples of non-ASCII
    text, aggregate rows with NULL counts and JSON observed values and
    monoids, and a NULL-only sample column on passing rows."""
    df = spark.createDataFrame(
        [(i, ["café", "日本語", "naïve ✓", None][i % 4], float(i)) for i in range(40)],
        "id long, s string, x double")
    suite = (
        ExpectationSuite(name="lf")
        .add("expect_column_values_to_be_in_set", column="s", value_set=["café"])
        .add("expect_column_values_to_not_be_null", column="s")
        .add("expect_column_mean_to_be_between", column="x", min_value=0)
        .add("expect_column_median_to_be_between", column="x", min_value=0)
        .add("expect_column_unique_value_count_to_be_between", column="s",
             min_value=1)
    )
    res = validate(df, suite, "SUMMARY", options=Options(chunk_monoids=True))
    out = results_rows(res, "run-ü", "chunk=日本", "s = 'café'", 0.123456)
    assert any(r[9] is None for r in out) and any(r[16] for r in out)
    assert any("日本語" in json.loads(r[16] or "[]") for r in out)
    assert any(r[15] for r in out)  # monoid JSON
    return out


def test_matches_list_path(spark, rows):
    got = local_frame(spark, rows, RESULTS_SCHEMA)
    want = spark.createDataFrame(rows, RESULTS_SCHEMA)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_dict_rows_match_list_path(spark):
    schema = "column string, n_rows long, mean double, kind string"
    data = [{"column": "ü", "n_rows": 3, "mean": 1.5, "kind": None},
            {"column": "b", "n_rows": None, "mean": None}]  # missing key -> NULL
    assert (local_frame(spark, data, schema).collect()
            == spark.createDataFrame(data, schema).collect())


def test_float_in_long_column_raises(spark):
    with pytest.raises(TypeError):
        local_frame(spark, [("a", 1.5)], "k string, n long")
    with pytest.raises(TypeError):  # the list path agrees
        spark.createDataFrame([("a", 1.5)], "k string, n long")


def test_timestamp_columns_refused(spark):
    import datetime

    with pytest.raises(TypeError, match="timestamp"):
        local_frame(spark, [(datetime.datetime(2024, 1, 1),)], "t timestamp")


def test_works_with_arrow_disabled(spark, rows):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        got = local_frame(spark, rows, RESULTS_SCHEMA).collect()
    finally:
        spark.conf.set(key, prev)
    assert got == spark.createDataFrame(rows, RESULTS_SCHEMA).collect()


def test_collect_launches_no_job(spark, rows, new_job_ids):
    frame = local_frame(spark, rows, RESULTS_SCHEMA)
    got, jobs = new_job_ids(frame.collect)
    assert len(got) == len(rows)
    assert jobs == set()
    # the list path it replaces runs a job on Python workers
    _, jobs = new_job_ids(spark.createDataFrame(rows, RESULTS_SCHEMA).collect)
    assert len(jobs) == 1


def test_empty_rows(spark):
    frame = local_frame(spark, [], "a string, b long")
    assert frame.collect() == [] and frame.columns == ["a", "b"]
    assert frame.where(F.col("b") > 0).count() == 0


# createDataFrame calls allowed in engine modules outside pipeline/:
# local_frame itself, and the monotonic compiler's prev_last frame, which
# holds a column of any dtype (timestamps included, which Arrow localizes
# differently from the list path)
ALLOWED = {
    ("sources/session.py", "local_frame"),
    ("plans/compiler.py", "_monotonic_compiler.<locals>._c.<locals>.eager"),
}


def _create_dataframe_calls(tree: ast.AST) -> list[tuple[str, int]]:
    """(enclosing qualname, line) of every ``.createDataFrame(...)`` call."""
    found: list[tuple[str, int]] = []

    def walk(node: ast.AST, qual: str, in_func: bool) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                sep = ".<locals>." if in_func else "."
                walk(child, f"{qual}{sep}{child.name}" if qual else child.name,
                     not isinstance(child, ast.ClassDef))
                continue
            if (isinstance(child, ast.Call) and isinstance(child.func, ast.Attribute)
                    and child.func.attr == "createDataFrame"):
                found.append((qual, child.lineno))
            walk(child, qual, in_func)

    walk(tree, "", False)
    return found


def test_engine_builds_local_frames_only_through_local_frame():
    offenders, seen = [], set()
    for path in sorted(ENGINE.rglob("*.py")):
        rel = path.relative_to(ENGINE).as_posix()
        if rel.startswith("pipeline/"):
            continue
        for qual, line in _create_dataframe_calls(ast.parse(path.read_text())):
            if (rel, qual) in ALLOWED:
                seen.add((rel, qual))
            else:
                offenders.append(f"{rel}:{line} in {qual or '<module>'}")
    assert offenders == [], "use sources.session.local_frame: " + ", ".join(offenders)
    assert seen == ALLOWED  # a stale exception fails too
