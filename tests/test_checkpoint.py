"""Checkpoint/resume + per-partition lineage tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from great_expectations_spark import ExpectationSuite
from great_expectations_spark.checkpoint import CheckpointResult, Splitter, run_checkpoint

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


def _suite() -> ExpectationSuite:
    return (
        ExpectationSuite(name="cp")
        .add("expect_column_values_to_not_be_null", column="text", mostly=0.9)
        .add("expect_column_value_lengths_to_be_between",
             column="text", min_value=1, max_value=10_000_000)
        .add("expect_column_mean_to_be_between", column="n_chars", min_value=1)
    )


def test_checkpoint_runs_all_chunks(spark, docs, tmp_path):
    sp = Splitter.column_value(docs, "lang")
    res = run_checkpoint(docs, _suite(), sp, str(tmp_path / "results"), run_id="r1")
    assert res.skipped_chunks == []
    assert set(res.completed_chunks) == {c for c, _ in sp.chunks}
    rows = res.results_df.collect()
    # one row per (chunk, expectation)
    assert len(rows) == len(sp.chunks) * 3
    # per-chunk counts sum to the table totals
    total = res.results_df.where(F.col("expectation_index") == 0).agg(
        F.sum("element_count")).first()[0]
    assert total == docs.count()


def test_checkpoint_resume_skips_done(spark, docs, tmp_path):
    path = str(tmp_path / "results")
    sp = Splitter.column_value(docs, "lang")
    first = run_checkpoint(docs, _suite(), sp, path, run_id="r1")
    assert first.skipped_chunks == []
    second = run_checkpoint(docs, _suite(), sp, path, run_id="r1")
    assert second.completed_chunks == []
    assert set(second.skipped_chunks) == {c for c, _ in sp.chunks}
    # a NEW run_id recomputes everything into the same table
    third = run_checkpoint(docs, _suite(), sp, path, run_id="r2")
    assert set(third.completed_chunks) == {c for c, _ in sp.chunks}
    assert third.results_df.select("run_id").distinct().count() == 2


def test_checkpoint_partial_resume(spark, docs, tmp_path):
    """Simulate preemption: run only 2 chunks, then resume the rest."""
    path = str(tmp_path / "results")
    sp = Splitter.column_value(docs, "lang")
    partial = Splitter(sp.name, sp.chunks[:2])
    run_checkpoint(docs, _suite(), partial, path, run_id="r1")
    res = run_checkpoint(docs, _suite(), sp, path, run_id="r1")
    assert set(res.skipped_chunks) == {c for c, _ in sp.chunks[:2]}
    assert set(res.completed_chunks) == {c for c, _ in sp.chunks[2:]}


def test_rollup_merges_counts_exactly(spark, docs, tmp_path):
    path = str(tmp_path / "results")
    sp = Splitter.hashed_column("doc_id", 4)
    res = run_checkpoint(docs, _suite(), sp, path, run_id="r1")
    roll = {r.expectation_index: r for r in res.rollup().collect()}
    assert roll[0].n_chunks == 4
    assert roll[0].element_count == docs.count()
    n_null = docs.where(F.col("text").isNull()).count()
    assert roll[0].missing_count == n_null
    # map expectations merge by count summation; the aggregate (mean) now
    # merges too via its per-chunk (count, sum) monoid — see
    # tests/test_monoid_rollup.py for the exactness contract
    assert not roll[0].chunk_scoped
    assert not roll[2].chunk_scoped
    assert roll[2].merged_observed_json is not None


def test_hashed_splitter_covers_all_rows(spark, docs):
    sp = Splitter.hashed_column("doc_id", 8)
    total = 0
    for _, pred in sp.chunks:
        total += docs.where(pred).count()
    assert total == docs.count()


# ----------------------------------------- results-format twin (delta, r3)


@pytest.fixture(params=["parquet", "delta"])
def results_format(request, spark):
    fmt = request.param
    if fmt == "delta":
        from great_expectations_spark.sources.delta import delta_available

        if not delta_available(spark):
            pytest.skip("delta runtime not on classpath")
    return fmt


def test_checkpoint_resume_and_rollup_per_format(
        spark, docs, tmp_path, results_format):
    """Resume + rollup behave identically across results-table formats
    (VERDICT r2 #8); delta skips cleanly when the jar is absent."""
    sp = Splitter.column_value(docs, "lang")
    path = str(tmp_path / "results")
    first = run_checkpoint(docs, _suite(), sp, path, run_id="r1",
                           results_format=results_format)
    assert set(first.completed_chunks) == {cid for cid, _ in sp.chunks}
    second = run_checkpoint(docs, _suite(), sp, path, run_id="r1",
                            results_format=results_format)
    assert second.completed_chunks == []
    assert set(second.skipped_chunks) == {cid for cid, _ in sp.chunks}
    roll = {r.expectation_type: r for r in second.rollup().collect()}
    assert all(r.success for r in roll.values())
    n = docs.count()
    assert roll["expect_column_values_to_not_be_null"].element_count == n


def test_checkpoint_bad_results_format(spark, docs, tmp_path):
    sp = Splitter.column_value(docs, "lang")
    with pytest.raises(ValueError, match="results_format"):
        run_checkpoint(docs, _suite(), sp, str(tmp_path / "r"), run_id="x",
                       results_format="orc")


def test_delta_unavailable_raises_cleanly(spark, docs, tmp_path):
    from great_expectations_spark.sources.delta import delta_available

    if delta_available(spark):
        pytest.skip("delta IS available here; the error path is untestable")
    sp = Splitter.column_value(docs, "lang")
    with pytest.raises(RuntimeError, match="[Dd]elta"):
        run_checkpoint(docs, _suite(), sp, str(tmp_path / "r"), run_id="x",
                       results_format="delta")


def test_checkpoint_job_counts_and_rows(spark, docs, tmp_path, monkeypatch,
                                       new_job_ids):
    """A 2-chunk run launches exactly one write job per chunk, and its
    results reads (resume + final) launch no schema-inference job; the
    rows it writes equal those of the createDataFrame(list) path, except
    for the timings."""
    from great_expectations_spark import checkpoint as ck

    jobs: dict[str, list[int]] = {"append": [], "read": []}

    def counted(name, fn):
        def call(*a, **kw):
            out, ids = new_job_ids(lambda: fn(*a, **kw))
            jobs[name].append(len(ids))
            return out
        return call

    sp = Splitter.hashed_column("doc_id", 2)
    suite = _suite().add("expect_column_values_to_be_in_set",
                         column="lang", value_set=["en"])
    with monkeypatch.context() as m:
        m.setattr(ck, "append_results", counted("append", ck.append_results))
        m.setattr(ck, "read_results", counted("read", ck.read_results))
        res = run_checkpoint(docs, suite, sp, str(tmp_path / "arrow"),
                             run_id="r1", result_format="SUMMARY")
    assert res.completed_chunks == [c for c, _ in sp.chunks]
    assert jobs == {"append": [1, 1], "read": [0]}  # first read: no table yet

    with monkeypatch.context() as m:
        m.setattr(ck, "local_frame",
                  lambda spark, rows, schema: spark.createDataFrame(rows, schema))
        listed = run_checkpoint(docs, suite, sp, str(tmp_path / "list"),
                                run_id="r1", result_format="SUMMARY")

    def written(r):
        return sorted(r.results_df.drop("wall_time_s", "finished_at").collect())

    assert written(res) == written(listed)
    assert res.results_df.where(F.col("unexpected_json").isNotNull()).count() == 2


def test_iceberg_ddl_columns_match_results_schema(spark):
    import re

    from pyspark.sql.types import _parse_datatype_string

    from great_expectations_spark.checkpoint import RESULTS_SCHEMA
    from great_expectations_spark.sources.iceberg import plan_table_ddl

    ddl = plan_table_ddl("cat.db.results")
    body = re.search(r"\((.*)\) USING iceberg", ddl, re.S).group(1)
    assert (_parse_datatype_string(body.strip())
            == _parse_datatype_string(RESULTS_SCHEMA))
