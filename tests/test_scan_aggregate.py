"""``sources.session.scan_aggregate`` returns what ``df.agg(...).first()``
returns, from one scan job with no exchange."""

from __future__ import annotations

import ast
import datetime as dt
import decimal
import pathlib
import threading

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import Observation
from pyspark.sql import functions as F

from great_expectations_spark.sources.session import scan_aggregate


def _agg(df, cols):
    return df.agg(*cols).first().asDict()


def _same(a: dict, b: dict) -> bool:
    """Equal values, NaN equal to NaN and -0.0 told apart from 0.0."""
    return repr(a) == repr(b)


def _scan(df, cols, timeout=120):
    """scan_aggregate in a thread: ``.get`` must return, not block."""
    box: dict = {}

    def run():
        try:
            box["v"] = scan_aggregate(df, cols)
        except Exception as e:  # re-raised on the test thread
            box["e"] = e

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(timeout)
    assert not t.is_alive(), "scan_aggregate did not return"
    if "e" in box:
        raise box["e"]
    return box["v"]


@pytest.fixture(scope="module")
def typed(spark):
    rows = []
    for i in range(40):
        rows.append((
            i * 7 - 100,
            [float("nan"), -0.0, 0.0, 1.5, -2.25][i % 5],
            decimal.Decimal(f"{i}.{i % 10}5"),
            ["ä", "日本", "x😀", "zz", "a"][i % 5],
            bytes([i % 3, 255 - i]),
            i % 3 == 0,
            dt.date(2020, 1, 1) + dt.timedelta(days=i * 11),
            dt.datetime(2021, 3, 4, 5, 6, 7, i * 1001),
            dt.datetime(2022, 1, 1, 0, 0, 0, i * 3),
            (i % 4, f"s{i % 6}"),
            {f"k{i % 3}": i},
        ))
    schema = ("l long, d double, dec decimal(12,2), s string, b binary, "
              "f boolean, dd date, ts timestamp, ntz timestamp_ntz, "
              "st struct<a:int,b:string>, m map<string,int>")
    return spark.createDataFrame(rows, schema).repartition(5)


def test_matches_agg_on_every_column_type(typed):
    cols = [
        F.sum("l").alias("l_sum"), F.min("l").alias("l_min"),
        F.max("d").alias("d_max"), F.min("d").alias("d_min"),
        F.sum("d").alias("d_sum"), F.count("d").alias("d_n"),
        F.sum("dec").alias("dec_sum"), F.avg("dec").alias("dec_avg"),
        F.max("s").alias("s_max"), F.min("s").alias("s_min"),
        F.max("b").alias("b_max"),
        F.count_if("f").alias("f_n"),
        F.min("dd").alias("dd_min"), F.max("ts").alias("ts_max"),
        F.max("ntz").alias("ntz_max"), F.max("st").alias("st_max"),
        F.max_by("m", "l").alias("m_last"),
        F.percentile_approx("l", [0.1, 0.5, 0.9], 2147483647).alias("pct"),
    ]
    assert _same(_scan(typed, cols), _agg(typed, cols))
    sets = [F.collect_set("s").alias("cs")]
    assert sorted(_scan(typed, sets)["cs"]) == sorted(_agg(typed, sets)["cs"])


def test_kll_sketch_quantiles_match(spark, typed):
    """KLL bytes differ between two plain ``agg`` runs; the quantiles they
    answer do not."""
    cols = [F.kll_sketch_agg_double(F.col("l").cast("double")).alias("k")]
    ranks = [0.0, 0.25, 0.5, 0.75, 1.0]

    def quantiles(sketch):
        frame = spark.range(1).select(*[
            F.kll_sketch_get_quantile_double(F.lit(sketch), F.lit(r)).alias(f"q{i}")
            for i, r in enumerate(ranks)])
        return list(frame.first())

    assert quantiles(_scan(typed, cols)["k"]) == quantiles(_agg(typed, cols)["k"])


@pytest.mark.parametrize("shape", ["where_false", "limit0", "zero_partitions", "empty_list"])
def test_empty_frames(spark, typed, shape):
    frame = {
        "where_false": lambda: typed.where(F.lit(False)),
        "limit0": lambda: typed.limit(0),
        "zero_partitions": lambda: spark.createDataFrame(
            spark.sparkContext.emptyRDD(), typed.schema),
        "empty_list": lambda: spark.createDataFrame([], typed.schema),
    }[shape]()
    cols = [F.count(F.lit(1)).alias("n"), F.sum("l").alias("s"),
            F.max("st").alias("st"), F.collect_set("s").alias("cs")]
    assert _same(_scan(frame, cols), _agg(frame, cols))


def test_failing_aggregate_raises_what_agg_raises(typed):
    cols = [F.max(F.raise_error(F.lit("boom"))).alias("m0")]
    with pytest.raises(Exception) as scanned:
        _scan(typed, cols)
    with pytest.raises(Exception) as agged:
        _agg(typed, cols)
    assert type(scanned.value) is type(agged.value)
    assert str(scanned.value) == str(agged.value)


def test_frame_with_its_own_observation(typed):
    mine = Observation("callers_metrics")
    observed = typed.observe(mine, F.count(F.lit(1)).alias("rows"))
    cols = [F.sum("l").alias("s")]
    assert _scan(observed, cols) == _agg(typed, cols)
    assert mine.get == {"rows": 40}


def test_distinct_aggregate_is_refused(typed):
    with pytest.raises(AnalysisException, match="INVALID_OBSERVED_METRICS"):
        scan_aggregate(typed, [F.count_distinct("s").alias("n")])


def test_one_job_and_no_exchange(spark, tmp_path, new_job_ids):
    path = str(tmp_path / "t.parquet")
    spark.range(5000).select((F.col("id") % 13).alias("a"),
                             F.lit("w" * 50).alias("wide")) \
        .repartition(3).write.parquet(path)
    df = spark.read.parquet(path)
    cols = [F.sum("a").alias("s"), F.max("a").alias("m")]
    out, jobs = new_job_ids(lambda: scan_aggregate(df, cols))
    assert out == _agg(df, cols) and len(jobs) == 1
    plan = (df.observe(Observation(), *cols).select()
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan and "HashAggregate" not in plan
    # the empty projection prunes the scan to the referenced column
    assert "ReadSchema: struct<a:bigint>" in plan, plan


# ---------------------------------------------------------------- guard

ENGINE = pathlib.Path(__file__).resolve().parent.parent / "great_expectations_spark"
GROUPINGS = {"groupBy", "groupby", "rollup", "cube", "pivot"}
# the domain pass's aggregate holds exact (DISTINCT) counts, which an
# observed metric cannot carry
ALLOWED = {("rule_profiler.py", "_resolve_domains")}


def _global_aggs(tree: ast.AST) -> list[tuple[str, int]]:
    """(enclosing function, line) of every ``.agg(...)`` whose receiver is
    not a grouping call: a global aggregate, run by ``.first()`` or
    ``.collect()``."""
    found = []

    def walk(node: ast.AST, qual: str) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                walk(child, child.name if not qual else qual)
                continue
            if (isinstance(child, ast.Call) and isinstance(child.func, ast.Attribute)
                    and child.func.attr == "agg"):
                recv = child.func.value
                grouped = (isinstance(recv, ast.Call)
                           and isinstance(recv.func, ast.Attribute)
                           and recv.func.attr in GROUPINGS)
                if not grouped:
                    found.append((qual, child.lineno))
            walk(child, qual)

    walk(tree, "")
    return found


def test_global_aggregates_run_through_scan_aggregate():
    offenders = []
    for rel in ("validator.py", "rule_profiler.py"):
        tree = ast.parse((ENGINE / rel).read_text())
        offenders += [f"{rel}:{line} ({qual})" for qual, line in _global_aggs(tree)
                      if (rel, qual) not in ALLOWED]
    assert offenders == [], (
        "run global aggregates through sources.session.scan_aggregate: "
        + ", ".join(offenders))


def test_guard_sees_a_global_agg():
    tree = ast.parse("def f(df):\n    return df.agg(x).first()\n"
                     "def g(df):\n    return df.groupBy(k).agg(x).collect()\n")
    assert _global_aggs(tree) == [("f", 2)]
