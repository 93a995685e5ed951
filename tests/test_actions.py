"""Checkpoint actions (reference checkpoint/actions.py:168-1185 surface):
result store, evaluation-parameter publication (URN chaining), data docs,
notification payloads."""

from __future__ import annotations

import json
import os

from great_expectations_spark import ExpectationSuite, validate
from great_expectations_spark.actions import (
    SlackNotificationAction,
    StoreEvaluationParametersAction,
    StoreValidationResultAction,
    UpdateDataDocsAction,
    run_actions,
)


def _result(spark, n=10, suite_name="s"):
    df = spark.range(n).toDF("id")
    suite = ExpectationSuite(suite_name).add(
        "expect_table_row_count_to_be_between", min_value=1, max_value=10**6)
    return validate(df, suite)


def test_store_validation_result(spark, tmp_path):
    res = _result(spark)
    receipts = run_actions(res, [StoreValidationResultAction(str(tmp_path))], run_id="r1")
    path = receipts[0]["path"]
    assert os.path.exists(path)
    loaded = json.load(open(path))
    assert loaded["success"] is True
    assert loaded["results"][0]["result"]["observed_value"] == 10


def test_store_evaluation_parameters_chains_downstream(spark):
    upstream = _result(spark, n=42, suite_name="upstream")
    action = StoreEvaluationParametersAction()
    run_actions(upstream, [action], run_id="r1")
    urn = ("urn:great_expectations:validations:upstream:"
           "expect_table_row_count_to_be_between.result.observed_value")
    assert action.params[urn] == 42

    # bind into a downstream suite two ways: flat params and lazy results
    df = spark.range(42).toDF("id")
    down = ExpectationSuite("down").add(
        "expect_table_row_count_to_equal", value={"$PARAMETER": urn})
    assert validate(df, down, evaluation_parameters=action.params).success
    assert validate(df, down, validation_results=action.results).success


def test_update_data_docs(spark, tmp_path):
    res = _result(spark)
    receipts = run_actions(res, [UpdateDataDocsAction(str(tmp_path))], run_id="r1")
    html = open(receipts[0]["path"]).read()
    assert "expect_table_row_count_to_be_between" in html
    assert "PASS" in html


def test_slack_payload_and_notify_on(spark):
    ok = _result(spark)
    a_all = SlackNotificationAction(notify_on="all")
    r = a_all.run(ok, "r1")
    assert r["notified"] and "Success" in json.dumps(r["payload"])

    a_fail_only = SlackNotificationAction(notify_on="failure")
    assert a_fail_only.run(ok, "r1")["notified"] is False


def test_failing_action_does_not_abort_list(spark, tmp_path):
    res = _result(spark)
    receipts = run_actions(
        res,
        [StoreValidationResultAction("/proc/definitely/not/writable"),
         UpdateDataDocsAction(str(tmp_path))],
        run_id="r1")
    assert "error" in receipts[0]
    assert os.path.exists(receipts[1]["path"])


# ------------------------------------------- single-EVR data-docs page (r3)


def _rich_result(spark):
    """Deterministic suite result exercising every rendered section: pass,
    fail-with-details (COMPLETE tier), and exception."""
    df = spark.createDataFrame(
        [(1, "en"), (2, "de"), (3, "xx"), (4, "xx"), (5, None)],
        "id long, lang string")
    suite = (
        ExpectationSuite("docs_demo")
        .add("expect_column_values_to_not_be_null", column="lang", mostly=0.5)
        .add("expect_column_values_to_be_in_set", column="lang",
             value_set=["en", "de"])
        .add("expect_column_mean_to_be_between", column="id",
             min_value=0, max_value=10)
        .add("expect_column_values_to_be_unique", column="nope")
    )
    return validate(
        df, suite,
        result_format={"result_format": "COMPLETE",
                       "include_unexpected_rows": True})


def test_render_validation_docs_sections(spark, tmp_path):
    from great_expectations_spark.actions import render_validation_docs

    res = _rich_result(spark)
    path = render_validation_docs(res, str(tmp_path), "r1")
    html = open(path).read()
    # overview
    assert "docs_demo" in html and "expectations passed" in html
    # per-expectation sections with status badges
    assert html.count("<section>") == 4
    assert ">PASS<" in html and ">FAIL<" in html and ">EXC<" in html
    # per-expectation content blocks: kwargs rendered as prose naming the
    # column and bounds (r4), not only raw JSON
    assert ("lang values must never be null, at least 50% of the time."
            in html)
    assert ("lang values must belong to the set [&quot;en&quot;, "
            "&quot;de&quot;]." in html)
    assert ("id mean must be greater than or equal to 0 and less than or "
            "equal to 10." in html)
    assert "nope values must be unique." in html
    # count summary + most-common-unexpected table for the in-set failure
    assert "unexpected %" in html
    assert "most common unexpected values" in html and "&quot;xx&quot;" in html
    # violating rows carry the source columns
    assert "sample violating rows" in html and "lang" in html
    # observed value for the aggregate expectation
    assert "observed value" in html
    # exception section for the missing column
    assert "not found" in html
    # everything HTML-escaped: no raw angle brackets from values
    assert "<script" not in html


def test_expectation_prose_families(spark):
    """Prose templates across the expectation families + qualifier
    clauses + the humanized fallback for unknown (plugin) types."""
    from great_expectations_spark.actions import expectation_prose
    from great_expectations_spark.core.suite import ExpectationConfiguration

    def p(t, **kw):
        return expectation_prose(
            ExpectationConfiguration(expectation_type=t, kwargs=kw))

    assert p("expect_column_values_to_be_between", column="x",
             min_value=0, strict_min=True) == \
        "x values must be greater than 0."
    assert p("expect_column_values_to_match_regex", column="t",
             regex="^a", row_condition="lang = 'en'") == \
        "t values must match the regular expression \"^a\", " \
        "for rows where lang = 'en'."
    assert p("expect_column_pair_values_a_to_be_greater_than_b",
             column_A="a", column_B="b", or_equal=True,
             ignore_row_if="either_value_is_missing") == \
        "a values must be greater than or equal to b values, " \
        "ignoring rows if either value is missing."
    assert p("expect_compound_columns_to_be_unique",
             column_list=["a", "b"]) == \
        "the column combination (a, b) must be unique."
    assert p("expect_table_row_count_to_equal", value=7) == \
        "table row count must equal 7."
    assert p("expect_column_values_to_be_in_set", column="s",
             value_set=list(range(15)), mostly=0.95).endswith(
        "… (15 values)], at least 95% of the time.")
    # unknown type: humanized fallback, never a crash
    assert p("expect_column_values_to_be_excellent", column="q") == \
        "q column values to be excellent."


def test_render_validation_docs_golden(spark, tmp_path):
    """Golden-file pin of the page layout (VERDICT r2 #6 'done'
    criterion). Regenerate with:
    python -c "from tests.test_actions import regen_docs_golden; regen_docs_golden()"
    """
    from great_expectations_spark.actions import render_validation_docs

    res = _rich_result(spark)
    path = render_validation_docs(res, str(tmp_path), "golden-run")
    got = open(path).read()
    golden_path = os.path.join(
        os.path.dirname(__file__), "golden", "validation_docs.html")
    if not os.path.exists(golden_path):  # first run: write the golden
        with open(golden_path, "w") as f:
            f.write(got)
    want = open(golden_path).read()
    assert got == want


def test_update_data_docs_uses_full_renderer(spark, tmp_path):
    res = _rich_result(spark)
    receipts = run_actions(res, [UpdateDataDocsAction(str(tmp_path))],
                           run_id="r2")
    html = open(receipts[0]["path"]).read()
    assert "<section>" in html and "most common unexpected values" in html


def test_render_profile_docs(spark, tmp_path):
    """Profiling page: dataset panel, kind summary, one stats row per
    column; deterministic golden pin (same policy as the validation
    page)."""
    import os

    from great_expectations_spark.actions import render_profile_docs
    from great_expectations_spark.profiler import profile

    df = spark.createDataFrame(
        [(1, "a", 1.5, None), (2, "b", 2.5, None), (3, None, None, None)],
        "id long, s string, x double, b binary")
    path = render_profile_docs(profile(df), str(tmp_path), "t1")
    got = open(path).read()
    assert "Profile: t1" in got and "3 rows" in got and "4 columns" in got
    assert "<code>id</code>" in got and "numeric" in got and "string" in got
    assert "mean 2" in got  # numeric stats rendered
    golden_path = os.path.join(
        os.path.dirname(__file__), "golden", "profile_docs.html")
    if not os.path.exists(golden_path):
        with open(golden_path, "w") as f:
            f.write(got)
    assert got == open(golden_path).read()


def test_render_profile_docs_accepts_collected_rows(spark, tmp_path):
    from great_expectations_spark.actions import render_profile_docs
    from great_expectations_spark.profiler import profile

    df = spark.createDataFrame([(1,)], "id long")
    rows = profile(df).collect()
    p1 = render_profile_docs(rows, str(tmp_path), "rows")
    assert "1 rows" in open(p1).read()


def test_render_suite_docs_grouped_by_column(tmp_path):
    from great_expectations_spark.actions import render_suite_docs
    from great_expectations_spark.core.suite import ExpectationSuite

    s = (ExpectationSuite(name="demo", evaluation_parameters={"mn": 5})
         .add("expect_table_row_count_to_be_between", min_value=1)
         .add("expect_column_values_to_not_be_null", column="id")
         .add("expect_column_pair_values_a_to_be_greater_than_b",
              column_A="a", column_B="b")
         .add("expect_compound_columns_to_be_unique", column_list=["x", "y"]))
    p = render_suite_docs(s, str(tmp_path))
    h = open(p).read()
    # table-level section first, then columns alphabetically
    assert h.index("(table)") < h.index("<h3>a</h3>") < h.index("<h3>id</h3>")
    assert "expect_compound_columns_to_be_unique" in h and "x, y" in h
    assert "mn" in h  # evaluation parameters panel
    # deterministic
    assert open(render_suite_docs(s, str(tmp_path))).read() == h


def test_build_docs_site_links_suite_definitions(spark, tmp_path):
    from great_expectations_spark.actions import build_docs_site
    from great_expectations_spark.stores import (
        ExpectationSuiteStore, InMemoryStoreBackend, ValidationResultStore)
    from great_expectations_spark.core.suite import ExpectationSuite
    from great_expectations_spark import validate

    suite = (ExpectationSuite(name="s1")
             .add("expect_column_values_to_not_be_null", column="id"))
    df = spark.createDataFrame([(1,), (2,)], "id long")
    res = validate(df, suite)
    vstore = ValidationResultStore(InMemoryStoreBackend())
    vstore.set(("s1", "r1"), res)
    sstore = ExpectationSuiteStore(InMemoryStoreBackend())
    sstore.save(suite)
    # a stored suite with NO runs yet must still get a definition section
    sstore.save(ExpectationSuite(name="s2")
                .add("expect_table_row_count_to_be_between", min_value=0))
    index = open(build_docs_site(vstore, str(tmp_path),
                                 suite_store=sstore)).read()
    assert "[definition]" in index and "suite__s1.html" in index
    assert "s2" in index and "suite__s2.html" in index
    assert "r1" in index  # run link still present


def test_render_profile_docs_column_sections_golden(spark, tmp_path):
    """Per-column profiling sections (VERDICT r4 task 7; reference
    column_section_renderer.py:33): properties table + common-value bars
    + histogram bars per column, pinned as a golden file. profile_details
    runs exactly two jobs regardless of column count."""
    import os

    from great_expectations_spark.actions import render_profile_docs
    from great_expectations_spark.profiler import profile, profile_details

    df = spark.createDataFrame(
        [(i, ["a", "b", "b", "c"][i % 4], float(i % 10), None)
         for i in range(40)],
        "id long, s string, x double, b binary")
    prof = profile(df).collect()
    details = profile_details(df, profile_rows=prof, top_k=3, bins=4)
    # top values: 'b' dominates (20 of 40); histogram covers [0, 9] in 4 bins
    assert details["s"]["top_values"][0] == ("b", 20)
    assert len(details["s"]["top_values"]) == 3
    assert sum(details["x"]["histogram"]["counts"]) == 40
    assert len(details["x"]["histogram"]["counts"]) == 4

    path = render_profile_docs(prof, str(tmp_path), "t2", details=details)
    got = open(path).read()
    assert got.count("<section>") == 2 + 4  # overview panels + 4 columns
    assert "common values" in got and "histogram" in got
    assert "<code>s</code>" in got and "width:100%" in got
    golden_path = os.path.join(
        os.path.dirname(__file__), "golden", "profile_docs_sections.html")
    if not os.path.exists(golden_path):
        with open(golden_path, "w") as f:
            f.write(got)
    assert got == open(golden_path).read()


def test_profile_details_respects_cardinality_cap(spark):
    from great_expectations_spark.profiler import profile_details

    df = spark.createDataFrame(
        [(i, f"u{i}") for i in range(500)], "id long, s string")
    d = profile_details(df, max_set_card=100)
    # both columns exceed the cap -> no value-count branches at all
    assert all("top_values" not in (d.get(c) or {}) for c in ("id", "s"))
    # numeric histogram still present for id
    assert sum(d["id"]["histogram"]["counts"]) == 500


def test_profile_details_histogram_counts_the_max(spark):
    """The last edge is the profiled max itself: with uniform edges
    lo + (hi - lo) * i / bins the top edge lands one ULP below 0.9 here
    and the max row fell in no bin."""
    from great_expectations_spark.profiler import profile_details

    df = spark.createDataFrame([(0.2,), (0.5,), (0.9,), (None,)], "x double")
    h = profile_details(df, bins=4)["x"]["histogram"]
    assert h["edges"][0] == 0.2 and h["edges"][-1] == 0.9
    assert sum(h["counts"]) == 3  # the non-null count
    assert h["counts"] == [1, 1, 0, 1]
