"""Input table, suites, operations and output checks of the four workloads.

The table is ``sources.webpages.webpages(spark, ROWS, seed, MAX_TOKENS)`` plus
``warc_month = month(warc_ts)``, written as parquet partitioned by
``warc_month`` at the start of every run. Expected outputs are computed with
DuckDB over the same parquet files, so the engine is checked against an
independent implementation on every operation.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import time
from typing import Any, Callable

ROWS = 48_000
LANGS = ["en", "de", "fr", "es", "zh", "ru", "ja", "pt"]
LANG_WEIGHTS = [0.605, 0.15, 0.08, 0.06, 0.04, 0.03, 0.02, 0.015]
URL_RE = r"^https://d\d+\.example/p/\d+$"
TS_LO, TS_HI = "2024-01-01 00:00:00", "2025-01-01 00:00:00"
DIRTY_TS_HI = "2024-12-01 00:00:00"
MAX_TOKENS = 60
DIRTY_TEXT_MAX = 240
CKPT_MONTHS = 2
UNIQUE_URL = 10  # suite12 index of the chunk-relative uniqueness expectation
_LANGS_SQL = ", ".join(f"'{v}'" for v in LANGS)


# ------------------------------------------------------------------ input

def generate(spark, root: str, seed: int) -> None:
    """Write the seed's table under ``root``."""
    from pyspark.sql import functions as F

    from great_expectations_spark.sources.webpages import webpages

    (webpages(spark, ROWS, seed, max_tokens=MAX_TOKENS)
     .withColumn("warc_month", F.month("warc_ts"))
     .write.partitionBy("warc_month").parquet(os.path.join(root, "table")))


def input_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(os.path.join(root, "table"))
               for f in fs if f.endswith(".parquet"))


def load_table(spark, root: str):
    from great_expectations_spark.suites import prepare_webpages

    return prepare_webpages(spark.read.parquet(os.path.join(root, "table")))


# ------------------------------------------------------------------ suites

def suite12():
    """Clean-path suite: every verdict comes from pass 1 and the eager jobs."""
    from great_expectations_spark import ExpectationSuite

    s = ExpectationSuite(name="crawl_clean")
    s.add("expect_table_row_count_to_be_between", min_value=1)
    s.add("expect_column_values_to_not_be_null", column="url")
    s.add("expect_column_values_to_match_regex", column="url", regex=URL_RE)
    s.add("expect_column_value_lengths_to_be_between", column="url",
          min_value=10, max_value=2048)
    s.add("expect_column_values_to_be_in_set", column="lang", value_set=LANGS,
          mostly=0.99)
    s.add("expect_column_values_to_not_be_null", column="text", mostly=0.95)
    s.add("expect_column_values_to_be_between", column="warc_ts",
          min_value=TS_LO, max_value=TS_HI)
    s.add("expect_column_mean_to_be_between", column="text_len",
          min_value=1, max_value=100_000)
    s.add("expect_column_quantile_values_to_be_between", column="text_len",
          quantile_ranges={"quantiles": [0.25, 0.5, 0.75],
                           "value_ranges": [[0, 100_000]] * 3})
    s.add("expect_column_unique_value_count_to_be_between", column="lang",
          min_value=2, max_value=20)
    s.add("expect_column_values_to_be_unique", column="url", mostly=0.85)
    s.add("expect_column_kl_divergence_to_be_less_than", column="lang",
          partition_object={"values": LANGS, "weights": LANG_WEIGHTS},
          threshold=0.1, tail_weight_holdout=0.01)
    return s


def suite6():
    """Dirty-path suite: six map expectations, each violated by a planted
    anomaly, so pass 2 extracts violation detail for all six."""
    from great_expectations_spark import ExpectationSuite

    s = ExpectationSuite(name="crawl_dirty")
    s.add("expect_column_values_to_not_be_null", column="text")
    s.add("expect_column_values_to_be_in_set", column="lang", value_set=LANGS)
    s.add("expect_column_values_to_be_between", column="html_len", min_value=1)
    s.add("expect_column_values_to_match_regex", column="url", regex=r"^https://d[1-9]")
    s.add("expect_column_values_to_be_between", column="warc_ts",
          min_value=TS_LO, max_value=DIRTY_TS_HI)
    s.add("expect_column_value_lengths_to_be_between", column="text",
          max_value=DIRTY_TEXT_MAX)
    return s


# --------------------------------------------------------- expected values

def _kl(counts: dict[str, int]) -> float:
    """Categorical KL of the observed lang mix against LANG_WEIGHTS with a
    1% tail holdout spread over unseen values (the reference's formula)."""
    nonnull = sum(counts.values())
    extra = sorted(v for v in counts if v not in LANGS)
    index = LANGS + extra
    p = [counts.get(v, 0) / nonnull for v in index]
    q = [w * (1 - 0.01) if extra else w for w in LANG_WEIGHTS]
    q += [0.01 / len(extra)] * len(extra)
    ps, qs = sum(p), sum(q)
    return sum((pi / ps) * math.log((pi / ps) / (qi / qs))
               for pi, qi in zip(p, q) if pi > 0)


class Expected:
    """Whole-table and per-month counts from DuckDB over the parquet files."""

    def __init__(self, root: str) -> None:
        import duckdb

        glob = os.path.join(root, "table", "*", "*.parquet")
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 2")
            con.execute(
                "CREATE VIEW t AS SELECT *, length(text) AS text_len, "
                f"octet_length(html) AS html_len FROM read_parquet('{glob}', "
                "hive_partitioning = true)")
            self.clean = self._clean(con, "true")
            self.ckpt = self._clean(con, f"warc_month <= {CKPT_MONTHS}")
            n, text_null, *dirty = con.execute(
                "SELECT count(*), count(*) - count(text), "
                f"count(*) FILTER (WHERE lang NOT IN ({_LANGS_SQL})), "
                "count(*) FILTER (WHERE html_len < 1), "
                "count(*) FILTER (WHERE NOT regexp_matches(url, '^https://d[1-9]')), "
                f"count(*) FILTER (WHERE warc_ts > TIMESTAMP '{DIRTY_TS_HI}'), "
                f"count(*) FILTER (WHERE text_len > {DIRTY_TEXT_MAX}) FROM t").fetchone()
            self.month_rows = dict(con.execute(
                "SELECT warc_month, count(*) FROM t GROUP BY warc_month").fetchall())
        finally:
            con.close()
        self.rows = int(n)
        # unexpected_count per suite6 expectation
        self.dirty = [text_null, *dirty]

    @staticmethod
    def _clean(con, where: str) -> dict[str, Any]:
        """suite12's expected (success, unexpected_count or None) per
        expectation over the rows matching ``where``, plus the observed
        values checked exactly and the summed per-month unexpected counts
        a checkpoint rollup must report."""
        q = lambda sql: con.execute(sql).fetchone()  # noqa: E731
        n, text_null, url_null, mean_len, bad_lang, bad_re, bad_len, bad_ts = q(
            "SELECT count(*), count(*) - count(text), count(*) - count(url), "
            "avg(text_len), "
            f"count(*) FILTER (WHERE lang NOT IN ({_LANGS_SQL})), "
            f"count(*) FILTER (WHERE NOT regexp_matches(url, '{URL_RE}')), "
            "count(*) FILTER (WHERE length(url) NOT BETWEEN 10 AND 2048), "
            f"count(*) FILTER (WHERE warc_ts < TIMESTAMP '{TS_LO}' "
            f"OR warc_ts > TIMESTAMP '{TS_HI}') FROM t WHERE {where}")
        dups = [q("SELECT coalesce(sum(c), 0) FROM (SELECT count(*) c FROM t "
                  f"WHERE {where} GROUP BY {key} url HAVING count(*) > 1)")[0]
                for key in ("", "warc_month,")]
        lang_counts = dict(con.execute(
            f"SELECT lang, count(*) FROM t WHERE {where} AND lang IS NOT NULL "
            "GROUP BY lang").fetchall())
        kl = _kl(lang_counts)
        verdicts = [
            (n >= 1, None),
            (url_null == 0, url_null),
            (bad_re == 0, bad_re),
            (bad_len == 0, bad_len),
            ((n - bad_lang) / n >= 0.99, bad_lang),
            ((n - text_null) / n >= 0.95, text_null),
            (bad_ts == 0, bad_ts),
            (1 <= mean_len <= 100_000, None),
            (True, None),
            (2 <= len(lang_counts) <= 20, None),
            ((n - dups[0]) / n >= 0.85, dups[0]),
            (kl <= 0.1, None),
        ]
        # row-scoped expectations sum to the whole count; url uniqueness is
        # judged per chunk, so its sum is the within-month duplicate count
        chunk_sums = {i: u for i, (_, u) in enumerate(verdicts) if u is not None}
        chunk_sums[UNIQUE_URL] = dups[1]
        return {"rows": int(n), "verdicts": verdicts, "kl": kl, "mean_len": mean_len,
                "chunk_sums": chunk_sums}


def check_suite_result(res, expected: list[tuple[bool, int | None]]) -> list[str]:
    errs = []
    if len(res.results) != len(expected):
        return [f"{len(res.results)} results, expected {len(expected)}"]
    for i, (evr, (ok, unexp)) in enumerate(zip(res.results, expected)):
        r = evr.result
        if evr.exception_info.get("raised_exception"):
            errs.append(f"#{i} raised: {evr.exception_info.get('exception_message')}")
        if bool(evr.success) != bool(ok):
            errs.append(f"#{i} success={evr.success}, expected {ok}")
        if unexp is not None and r.get("unexpected_count") != unexp:
            errs.append(f"#{i} unexpected_count={r.get('unexpected_count')}, expected {unexp}")
    return errs


# -------------------------------------------------------------- workloads

class Workload:
    """One operation kind; ``op`` runs it, ``check`` returns mismatches."""

    name = ""
    rows_per_op = 0
    # operations measured per run at least. Operation times still fall from
    # one operation to the next after the warm-up, so a fixed count keeps
    # every run measuring the same operations; it is sized to the op's cost.
    min_ops = 5
    suite = None  # the validated suite, for the compile-time measurement

    def __init__(self, spark, table, exp: Expected, work_dir: str) -> None:
        self.spark, self.table, self.exp = spark, table, exp
        self.work_dir = work_dir
        self.tagger = None  # set by a traced run
        self.layer: dict[str, list[float]] = {}

    def span(self, name: str):
        from contextlib import nullcontext

        return self.tagger.span(name) if self.tagger else nullcontext()

    def record(self, key: str, value: float) -> None:
        self.layer.setdefault(key, []).append(value)

    def warmup(self) -> Any:
        return self.op()

    def op(self) -> Any:
        raise NotImplementedError

    def check(self, out: Any) -> list[str]:
        raise NotImplementedError


class CrawlClean(Workload):
    name = "crawl_clean"

    def __init__(self, *a, **kw) -> None:
        super().__init__(*a, **kw)
        self.rows_per_op = self.exp.rows
        self.suite = suite12()

    def op(self):
        from great_expectations_spark import validate

        return validate(self.table, self.suite, "BOOLEAN_ONLY")

    def check(self, res) -> list[str]:
        want = self.exp.clean
        errs = check_suite_result(res, want["verdicts"])
        if errs:
            return errs
        for i, key, tol in ((11, "kl", 1e-9), (7, "mean_len", 1e-9)):
            got = res.results[i].result.get("observed_value")
            if got is None or abs(got - want[key]) > tol * max(1.0, abs(want[key])):
                errs.append(f"#{i} observed {got}, expected {want[key]}")
        return errs


class CrawlDirty(Workload):
    name = "crawl_dirty"

    def __init__(self, *a, **kw) -> None:
        super().__init__(*a, **kw)
        self.rows_per_op = self.exp.rows
        self.suite = suite6()

    def op(self):
        from great_expectations_spark import validate

        return validate(self.table, self.suite, "SUMMARY")

    def check(self, res) -> list[str]:
        errs = check_suite_result(res, [(False, u) for u in self.exp.dirty])
        if errs:
            return errs
        for i, (evr, unexpected) in enumerate(zip(res.results, self.exp.dirty)):
            r = evr.result
            got = len(r.get("partial_unexpected_list") or [])
            if got != min(20, unexpected):
                errs.append(f"#{i} partial_unexpected_list has {got}, "
                            f"expected {min(20, unexpected)}")
            counts = [c["count"] for c in r.get("partial_unexpected_counts") or []]
            if not counts or sum(counts) > unexpected or counts != sorted(counts, reverse=True):
                errs.append(f"#{i} partial_unexpected_counts {counts[:5]} inconsistent")
        return errs


class CrawlCheckpoint(Workload):
    """A checkpoint run preempted after half the months of the first
    ``CKPT_MONTHS``, its resume over all of them, then the rollup and the
    violation samples."""

    name = "crawl_checkpoint"
    min_ops = 2

    def __init__(self, *a, **kw) -> None:
        from pyspark.sql import functions as F

        from great_expectations_spark.checkpoint import Splitter

        super().__init__(*a, **kw)
        self.rows_per_op = self.exp.ckpt["rows"]
        self.suite = suite12()
        self.months = self.table.where(F.col("warc_month") <= CKPT_MONTHS)
        self.splitter = Splitter.column_value(self.months, "warc_month")
        self.n_ops = 0

    def _run(self, n_first: int, n_all: int):
        from great_expectations_spark.checkpoint import Splitter, run_checkpoint

        self.n_ops += 1
        path = os.path.join(self.work_dir, f"results-{self.n_ops}")
        shutil.rmtree(path, ignore_errors=True)
        walls: list[float] = []
        on_chunk: Callable[[str, float], None] = lambda _cid, wall: walls.append(wall)  # noqa: E731
        kw = dict(results_path=path, run_id="bench", result_format="BASIC",
                  on_chunk=on_chunk)
        chunks = self.splitter.chunks
        first = run_checkpoint(self.months, self.suite,
                               Splitter(self.splitter.name, chunks[:n_first]), **kw)
        resumed = run_checkpoint(self.months, self.suite,
                                 Splitter(self.splitter.name, chunks[:n_all]), **kw)
        t0 = time.perf_counter()
        with self.span("checkpoint.rollup"):
            rollup = resumed.rollup().collect()
        t1 = time.perf_counter()
        with self.span("checkpoint.samples"):
            samples = resumed.violation_samples().collect()
        t2 = time.perf_counter()
        self.record("checkpoint.chunk_s", statistics.median(walls))
        self.record("checkpoint.rollup_s", t1 - t0)
        self.record("checkpoint.samples_s", t2 - t1)
        self.record("checkpoint.results_bytes", sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs))
        shutil.rmtree(path, ignore_errors=True)
        ids = [c for c, _ in chunks]
        return first, resumed, rollup, samples, ids[:n_first], ids[n_first:n_all]

    def warmup(self):
        # one chunk and a resume that skips it: every code path of the op
        return self._run(1, 1)

    def op(self):
        return self._run(CKPT_MONTHS // 2, CKPT_MONTHS)

    def check(self, out) -> list[str]:
        first, resumed, rollup, samples, first_ids, rest_ids = out
        errs = []
        if len(self.splitter.chunks) != CKPT_MONTHS:
            errs.append(f"{len(self.splitter.chunks)} chunks, expected {CKPT_MONTHS}")
        if sorted(first.completed_chunks) != sorted(first_ids):
            errs.append(f"first run completed {first.completed_chunks}, expected {first_ids}")
        if sorted(resumed.skipped_chunks) != sorted(first_ids):
            errs.append(f"resume skipped {resumed.skipped_chunks}, expected {first_ids}")
        if sorted(resumed.completed_chunks) != sorted(rest_ids):
            errs.append(f"resume completed {resumed.completed_chunks}, expected {rest_ids}")
        if len(first_ids) + len(rest_ids) != CKPT_MONTHS:  # the warm-up's slice
            return errs
        want = self.exp.ckpt
        by_idx = {r["expectation_index"]: r for r in rollup}
        for i, unexpected in want["chunk_sums"].items():
            r = by_idx.get(i)
            if r is None or (r["unexpected_count"], r["element_count"]) != (unexpected,
                                                                            want["rows"]):
                errs.append(f"rollup #{i}: {None if r is None else r.asDict()}, expected "
                            f"unexpected={unexpected} element={want['rows']}")
        for i, (ok, _) in enumerate(want["verdicts"]):
            if i != UNIQUE_URL and i in by_idx and bool(by_idx[i]["success"]) != bool(ok):
                errs.append(f"rollup #{i} success={by_idx[i]['success']}, expected {ok}")
        violated = {i for i, r in by_idx.items() if (r["unexpected_count"] or 0) > 0}
        sampled = {r["expectation_index"] for r in samples}
        if sampled != violated:
            errs.append(f"samples cover {sorted(sampled)}, expected {sorted(violated)}")
        return errs


class CrawlProfile(Workload):
    """The onboarding assistant over one month of the table."""

    name = "crawl_profile"
    min_ops = 2

    def __init__(self, *a, **kw) -> None:
        from pyspark.sql import functions as F

        super().__init__(*a, **kw)
        self.slice = self.table.where(F.col("warc_month") == 1)
        self.rows_per_op = self.exp.month_rows[1]
        # emitted suites already validated green; the same suite over the
        # same slice gives the same verdicts, so each is validated once
        self.green: set[str] = set()

    def op(self):
        from great_expectations_spark import run_onboarding_assistant

        return run_onboarding_assistant(self.slice)

    def check(self, res) -> list[str]:
        from great_expectations_spark import validate

        if len(res.suite.expectations) < 10:
            return [f"only {len(res.suite.expectations)} expectations emitted"]
        key = json.dumps([c.to_dict() for c in res.suite.expectations], sort_keys=True,
                         default=str)
        if key in self.green:
            return []
        vr = validate(self.slice, res.suite, "BOOLEAN_ONLY")
        errs = [f"emitted {r.expectation_config.expectation_type}"
                f"({r.expectation_config.kwargs.get('column')}) fails on its slice"
                for r in vr.results if not r.success]
        if not errs:
            self.green.add(key)
        return errs


WORKLOADS = {w.name: w for w in (CrawlClean, CrawlDirty, CrawlCheckpoint, CrawlProfile)}
