"""Checkpointed, resumable suite validation with per-partition lineage.

The north-rule production shape: a 10^12-row validation run must survive
preemption. The table is carved into chunks by a *splitter* (mirroring the
reference's batch splitters, split_and_sample/sparkdf_data_splitter.py:40-324);
each chunk is validated by the fused single-pass validator and its
per-expectation results are APPENDED to a results table keyed
``(run_id, chunk_id)`` together with lineage (predicate, rows, wall time).
Re-running the same ``run_id`` skips chunks already present — resume is a
read of the results table, not a recomputation.

Scale notes:
  * When the splitter column matches the physical table partitioning
    (e.g. Iceberg ``days(warc_ts)``), each chunk's ``df.filter`` prunes to
    its own files — chunks never rescan the table.
  * Map-expectation counts are commutative monoids: the suite-level
    verdict is re-derived exactly from per-chunk sums (``rollup``).
    Aggregate expectations (mean/quantiles/...) are chunk-scoped —
    flagged ``chunk_scoped`` in the rollup rather than merged wrongly.
  * The results table is itself a DataFrame append per chunk — on a real
    cluster an Iceberg table with (run_id, chunk_id) partitioning.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException

from great_expectations_spark.core.suite import ExpectationSuite
from great_expectations_spark.sources.session import local_frame
from great_expectations_spark.validator import validate

RESULTS_SCHEMA = (
    "run_id string, chunk_id string, chunk_predicate string, "
    "expectation_index int, expectation_type string, kwargs_json string, "
    "success boolean, element_count long, missing_count long, "
    "unexpected_count long, observed_value_json string, "
    "raised_exception boolean, rows_scanned long, wall_time_s double, "
    "finished_at double, monoid_json string, unexpected_json string"
)

# map-style expectations whose (element/missing/unexpected) counts merge as
# commutative monoids across chunks
_COUNT_KEYS = ("element_count", "missing_count", "unexpected_count")


def results_rows(result, run_id: str, chunk_id: str, chunk_predicate: str,
                 wall_s: float) -> list[tuple]:
    """Serialize a SuiteValidationResult into RESULTS_SCHEMA tuples — the
    ONE row builder shared by batch checkpointing and streaming
    foreachBatch, so both write the exact same results-table shape."""
    rows = []
    for i, evr in enumerate(result.results):
        res = evr.result
        rows.append(
            (
                run_id,
                chunk_id,
                chunk_predicate,
                i,
                evr.expectation_config.expectation_type,
                json.dumps(evr.expectation_config.kwargs, sort_keys=True, default=str),
                bool(evr.success),
                res.get("element_count"),
                res.get("missing_count"),
                res.get("unexpected_count"),
                json.dumps(res["observed_value"], default=str)
                if "observed_value" in res
                else None,
                bool(evr.exception_info.get("raised_exception")),
                res.get("element_count"),
                round(wall_s, 4),
                time.time(),
                _monoid_json(res.get("monoid")),
                _values_json(res.get("partial_unexpected_list")),
            )
        )
    return rows


def read_results(spark: SparkSession, results_path: str,
                 results_format: str = "parquet") -> DataFrame:
    """The results table at ``results_path``. A parquet read pins
    RESULTS_SCHEMA instead of inferring it: no footer-merge job, and the
    columns a table begun by an older engine lacks read as NULL."""
    if results_format == "delta":
        from great_expectations_spark.sources import delta

        return delta.read_results(spark, results_path)
    return spark.read.schema(RESULTS_SCHEMA).parquet(results_path)


def append_results(spark: SparkSession, rows: list[tuple], results_path: str,
                   results_format: str = "parquet") -> None:
    """Append ``results_rows`` output to the results table as one file —
    the one writer shared by ``run_checkpoint`` and ``validate_stream``."""
    frame = local_frame(spark, rows, RESULTS_SCHEMA).coalesce(1)
    if results_format == "delta":
        from great_expectations_spark.sources import delta

        delta.write_results(frame, results_path)
    else:
        frame.write.mode("append").parquet(results_path)


def missing_table(e: AnalysisException) -> bool:
    """True iff ``e`` says the results table does not exist yet. Only that
    means a first write: treating any other read failure as first-run
    would re-append chunks that ``rollup`` then double-counts."""
    return any(m in str(e) for m in (
        "PATH_NOT_FOUND", "Path does not exist",
        # delta's missing-table shapes
        "DELTA_MISSING_DELTA_TABLE", "is not a Delta table",
        "DELTA_PATH_DOES_NOT_EXIST",
    ))


def _values_json(vals: list | None) -> str | None:
    """Violation-value samples as a strict-JSON array (north rule: the
    results table carries pass/fail AND violation rows per partition).
    NaN/Infinity elements are not strict JSON — stringify the whole list
    rather than drop it, so the sample survives with readable values."""
    if not vals:
        return None
    try:
        return json.dumps(vals, allow_nan=False, default=str)
    except ValueError:
        return json.dumps([str(v) for v in vals])


def _monoid_json(monoid: dict | None) -> str | None:
    """Strict-JSON monoid serialization. NaN/Infinity partials are not
    representable in JSON — ``json.dumps`` would emit bare ``NaN`` tokens
    that ``get_json_object`` NULLs field-by-field while the row still
    counts as monoid-bearing, silently dropping the chunk from the merge.
    Dropping the WHOLE monoid instead makes the completeness filter fail
    → the expectation falls back to the conservative AND-of-chunks."""
    if not monoid:
        return None
    try:
        return json.dumps(monoid, allow_nan=False)
    except ValueError:
        return None


@dataclass
class Splitter:
    """Chunk definition: name + list of (chunk_id, predicate Column) pairs."""

    name: str
    chunks: list[tuple[str, Any]]  # (chunk_id, Column predicate)

    @staticmethod
    def column_value(df: DataFrame, column: str, max_chunks: int = 1000) -> "Splitter":
        """One chunk per distinct value (incl. NULL) — the reference's
        ``split_on_column_value``. Distinct values are collected once."""
        vals = [r[0] for r in df.select(column).distinct().limit(max_chunks + 1).collect()]
        if len(vals) > max_chunks:
            raise ValueError(f"column {column} has >{max_chunks} distinct values")
        chunks = []
        for v in sorted((v for v in vals if v is not None), key=str):
            # a literal string value '__null__' must not collide with the
            # NULL chunk's id, or resume would skip one of the two chunks
            cid = f"{column}={v}#s" if str(v) == "__null__" else f"{column}={v}"
            chunks.append((cid, F.col(column).eqNullSafe(F.lit(v))))
        if any(v is None for v in vals):
            chunks.append((f"{column}=__null__", F.col(column).isNull()))
        return Splitter(f"column_value({column})", chunks)

    @staticmethod
    def hashed_column(column: str, n: int) -> "Splitter":
        """n hash buckets of a column — the reference's
        ``split_on_hashed_column``, xxhash64-based (engine-native, no UDF)."""
        chunks = [
            (f"hash({column})%{n}={i}", F.pmod(F.xxhash64(F.col(column)), F.lit(n)) == i)
            for i in range(n)
        ]
        return Splitter(f"hashed_column({column},{n})", chunks)

    @staticmethod
    def date_part(column: str, part: str, values: list[int]) -> "Splitter":
        """Date-part chunks (year/month/day...) — reference's date splitters;
        aligns with Iceberg partition transforms for file pruning."""
        fn = {"year": F.year, "month": F.month, "day": F.dayofmonth, "hour": F.hour}[part]
        chunks = [(f"{part}({column})={v}", fn(F.col(column)) == v) for v in values]
        return Splitter(f"date_part({part},{column})", chunks)

    @staticmethod
    def mod_integer(column: str, mod: int) -> "Splitter":
        """``mod`` chunks by ``pmod(column, mod)`` plus a NULL chunk — the
        reference's ``split_on_mod_integer`` (sparkdf_data_splitter.py:
        269-278) made total: Spark's ``%`` keeps the dividend sign and
        NULL % n is NULL, either of which would silently drop rows from
        every chunk. Chunk count is known statically; no scan needed."""
        chunks: list[tuple[str, Any]] = [
            (f"{column}%{mod}={i}", F.pmod(F.col(column), F.lit(mod)).cast("int") == i)
            for i in range(mod)
        ]
        chunks.append((f"{column}%{mod}=__null__", F.col(column).isNull()))
        return Splitter(f"mod_integer({column},{mod})", chunks)

    @staticmethod
    def divided_integer(df: DataFrame, column: str, divisor: int,
                        max_chunks: int = 10_000) -> "Splitter":
        """One chunk per distinct ``int(column / divisor)`` quotient — the
        reference's ``split_on_divided_integer`` (sparkdf_data_splitter.py:
        251-263, true division cast to int). Quotients are enumerated with
        one bounded distinct scan."""
        q = (F.col(column) / divisor).cast("int")
        vals = [r[0] for r in (
            df.select(q.alias("__q")).distinct().limit(max_chunks + 1).collect())]
        if len(vals) > max_chunks:
            raise ValueError(
                f"column {column} / {divisor} has >{max_chunks} distinct quotients")
        chunks = [
            (f"{column}/{divisor}={v}",
             q.isNull() if v is None else q == v)
            for v in sorted(vals, key=lambda x: (x is None, x))
        ]
        return Splitter(f"divided_integer({column},{divisor})", chunks)

    @staticmethod
    def multi_column_values(df: DataFrame, columns: list[str],
                            max_chunks: int = 10_000) -> "Splitter":
        """One chunk per distinct combination of ``columns`` — the
        reference's ``split_on_multi_column_values``
        (sparkdf_data_splitter.py:280-292)."""
        rows = df.select(*columns).distinct().limit(max_chunks + 1).collect()
        if len(rows) > max_chunks:
            raise ValueError(f"columns {columns} have >{max_chunks} distinct combinations")
        chunks = []
        for r in sorted(rows, key=lambda r: tuple(str(r[c]) for c in columns)):
            pred = None
            for c in columns:
                p = F.col(c).eqNullSafe(F.lit(r[c]))
                pred = p if pred is None else (pred & p)
            cid = ",".join(f"{c}={r[c]}" for c in columns)
            chunks.append((cid, pred))
        return Splitter(f"multi_column_values({','.join(columns)})", chunks)

    @staticmethod
    def converted_datetime(df: DataFrame, column: str,
                           date_format: str = "yyyy-MM-dd",
                           max_chunks: int = 10_000) -> "Splitter":
        """One chunk per distinct formatted datetime string — the reference's
        ``split_on_converted_datetime`` (sparkdf_data_splitter.py:220-249,
        ``from_unixtime`` on an epoch-seconds column). Timestamp/date columns
        format directly via ``date_format``; numeric columns are treated as
        epoch seconds exactly like the reference."""
        dt = dict(df.dtypes).get(column, "")
        if dt in ("timestamp", "date") or dt.startswith("timestamp"):
            conv = F.date_format(F.col(column), date_format)
        else:
            conv = F.from_unixtime(F.col(column), date_format)
        vals = [r[0] for r in (
            df.select(conv.alias("__d")).distinct().limit(max_chunks + 1).collect())]
        if len(vals) > max_chunks:
            raise ValueError(
                f"column {column} has >{max_chunks} distinct {date_format} values")
        chunks = [
            (f"{column}~{date_format}={v}",
             conv.isNull() if v is None else conv == v)
            for v in sorted(vals, key=lambda x: (x is None, str(x)))
        ]
        return Splitter(f"converted_datetime({column},{date_format})", chunks)


def _kll_quantiles(spark: SparkSession, b64: str,
                   fractions: list[float]) -> list[float]:
    """Query quantile values out of a merged KLL sketch: a projection of
    literals over a one-row driver-local frame, which the optimizer folds
    on the driver — no Spark job."""
    row = local_frame(spark, [(0,)], "x int").select(*[
        F.kll_sketch_get_quantile_double(F.unbase64(F.lit(b64)), F.lit(float(f)))
        .alias(f"q{i}")
        for i, f in enumerate(fractions)
    ]).collect()[0]
    return [row[i] for i in range(len(fractions))]


def _chan_merge_stdev(welford: list) -> tuple[int, float]:
    """Fold per-chunk (count, mean, M2) partials with Chan's parallel
    update — numerically stable where the raw sum/sumsq re-derivation
    cancels catastrophically (values ~1e9, stdev ~1: the (n-1)·σ² signal
    sits below one double ULP of sumsq). Returns (n, M2)."""
    n, mean, m2 = 0, 0.0, 0.0
    for part in welford or []:
        ni = int(part[0] or 0)
        if ni == 0:
            continue
        if part[1] is None or part[2] is None:
            # a monoid written by an older engine (raw sum/sumsq fields):
            # propagate so the caller falls back to AND-of-chunks instead
            # of silently merging zeros
            raise ValueError("stdev monoid missing (mean, m2) partials")
        mi = float(part[1])
        m2i = float(part[2])
        total = n + ni
        delta = mi - mean
        mean += delta * ni / total
        m2 += m2i + delta * delta * n * ni / total
        n = total
    return n, m2


# the expectation identity every rollup groups by: a run whose suite was
# edited mid-resume keeps its definitions apart
_EXPECTATION_KEY = ("expectation_index", "expectation_type", "kwargs_json")

# chunk-RELATIVE map conditions (uniqueness: cross-chunk dups are invisible
# per chunk; ordering: chunk boundaries hide inversions) stay AND-of-chunks.
# Anchored so select_column_values_to_be_unique_WITHIN_RECORD (row-scoped —
# the condition only reads its own row) merges like any map condition.
_CHUNK_RELATIVE = (
    "(column_values_to_be_unique$)|compound_columns_to_be_unique"
    "|multicolumn_values_to_be_unique|unique_value_count"
    "|to_be_increasing|to_be_decreasing|in_other_table"
)


def _expectation_groups(r: DataFrame, extra_keys: tuple[str, ...] = ()) -> list:
    """ONE aggregate over results-table rows: per (*extra_keys, expectation)
    the chunk count, the AND of chunk verdicts, the summed map counts, the
    whole-table map verdict against ``mostly``, and the merged monoid
    partials — sums/min/max JVM-side, ``hll_union_agg`` for distinct
    sketches, ``kll_merge_agg_double`` for quantile sketches, and the
    latest ``finished_at`` (``run_ts``). One row per group, bounded by the
    suite (times runs, for ``extra_keys=("run_id",)``)."""

    def gjo(f: str) -> Column:
        return F.get_json_object(F.col("monoid_json"), f"$.{f}")

    agg = r.groupBy(*extra_keys, *_EXPECTATION_KEY).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min(F.col("success").cast("int")).cast("boolean").alias("all_chunks_success"),
        *[F.sum(k).alias(k) for k in _COUNT_KEYS],
        F.max(F.col("raised_exception").cast("int")).cast("boolean").alias(
            "raised_exception"),
        F.max("finished_at").alias("run_ts"),
        F.max(F.when(F.col("observed_value_json").isNotNull(), 1).otherwise(0))
        .cast("boolean").alias("chunk_scoped"),
        F.count(F.col("monoid_json")).alias("n_monoid"),
        F.max(gjo("kind")).alias("kind"),
        F.sum(gjo("count").cast("long")).alias("m_count"),
        F.sum(gjo("sum").cast("double")).alias("m_sum"),
        F.min(gjo("min").cast("double")).alias("m_min"),
        F.max(gjo("max").cast("double")).alias("m_max"),
        F.sum(gjo("nonnull").cast("long")).alias("m_nonnull"),
        # per-chunk (count, mean, M2) for Chan's stable stdev merge
        F.collect_list(
            F.when(
                gjo("kind") == "stdev",
                F.array(gjo("count").cast("double"),
                        gjo("mean").cast("double"),
                        gjo("m2").cast("double")),
            )
        ).alias("m_welford"),
        F.hll_sketch_estimate(F.hll_union_agg(F.unbase64(gjo("hll"))))
        .alias("m_hll"),
        F.base64(F.kll_merge_agg_double(F.unbase64(gjo("kll")))).alias("m_kll"),
    )
    mostly = F.coalesce(
        F.get_json_object(F.col("kwargs_json"), "$.mostly").cast("double"),
        F.lit(1.0),
    )
    nonmissing = F.col("element_count") - F.col("missing_count")
    return agg.select(
        "*",
        # map counts are commutative monoids: the whole-table verdict
        # applies unless a chunk recorded an observed value or the
        # condition is chunk-relative
        (F.col("unexpected_count").isNotNull() & ~F.col("chunk_scoped")
         & ~F.col("expectation_type").rlike(_CHUNK_RELATIVE)).alias("map_merges"),
        F.when(nonmissing <= 0, F.lit(True)).otherwise(
            (nonmissing - F.col("unexpected_count")).cast("double") / nonmissing
            >= mostly).alias("map_success"),
    ).collect()


def _merged_verdict(spark: SparkSession, row) -> tuple[str, bool] | None:
    """``(merged_observed_json, merged_success)`` from one group's merged
    monoid partials, or None when the group cannot merge: some chunk lacks
    a monoid (mixed options, raised exceptions, non-numeric columns) or the
    kwargs do not parse — the caller falls back to AND-of-chunks."""
    from great_expectations_spark.plans.compiler import _between_success

    if row.kind is None or row.n_monoid != row.n_rows:
        return None
    try:
        kwargs = json.loads(row.kwargs_json)
        n = int(row.m_count or 0)
        if row.kind == "kll_median":
            obs: Any = _kll_quantiles(spark, row.m_kll, [0.5])[0] if n else None
        elif row.kind == "kll_quantiles":
            # merged values carry the sketch's rank error (~2.3/k^0.937
            # of a rank, k = Options.kll_k) — approximate, like the
            # reference's allow_relative_error quantile path
            qr = kwargs["quantile_ranges"]
            qs = [float(q) for q in qr["quantiles"]]
            vals = (_kll_quantiles(spark, row.m_kll, qs)
                    if n else [None] * len(qs))
            obs = {"quantiles": qr["quantiles"], "values": vals}
            ok = True
            for v, (lo, hi) in zip(vals, qr["value_ranges"]):
                if v is None or (lo is not None and v < lo) or (
                        hi is not None and v > hi):
                    ok = False
            return json.dumps(obs, default=str), bool(ok)
        elif row.kind == "count":
            obs = n
        elif row.kind == "sum":
            obs = row.m_sum if n else None
        elif row.kind == "mean":
            obs = (row.m_sum / n) if n else None
        elif row.kind == "min":
            obs = row.m_min
        elif row.kind == "max":
            obs = row.m_max
        elif row.kind == "stdev":
            wn, m2 = _chan_merge_stdev(row.m_welford)
            obs = (m2 / (wn - 1)) ** 0.5 if wn >= 2 else None
        elif row.kind == "hll":
            obs = int(row.m_hll or 0)
        elif row.kind == "hll_prop":
            nn = int(row.m_nonnull or 0)
            obs = (int(row.m_hll or 0) / nn) if nn else None
        else:
            return None
        if row.expectation_type == "expect_table_row_count_to_equal":
            success = obs == int(kwargs["value"])
        else:
            success = _between_success(obs, kwargs)
        return json.dumps(obs, default=str), bool(success)
    except Exception:
        # unbindable kwargs ($PARAMETER recorded raw), malformed JSON
        return None


ROLLUP_SCHEMA = (
    "expectation_index int, expectation_type string, kwargs_json string, "
    "n_chunks long, element_count long, missing_count long, "
    "unexpected_count long, raised_exception boolean, chunk_scoped boolean, "
    "merged_observed_json string, success boolean"
)


@dataclass
class CheckpointResult:
    run_id: str
    completed_chunks: list[str]
    skipped_chunks: list[str]
    results_df: DataFrame

    def violation_samples(self, cap: int = 100) -> DataFrame:
        """Violation rows for this run, merged across chunks.

        Chunks validated at BASIC/SUMMARY/COMPLETE persist their
        ``partial_unexpected_list`` sample into the results table
        (``unexpected_json``); this explodes those samples back into one
        row per violating value — (expectation, chunk_id, value) — capped
        at ``cap`` rows per expectation. Values come back as strings (the
        JSON atoms coerced), pairable with ``kwargs_json`` for the column.

        The cap window partitions BY expectation (width = chunks x the
        per-chunk sample cap, bounded by construction) — never a global
        sort. BOOLEAN_ONLY runs persist no samples and return 0 rows.
        """
        r = self.results_df.where(F.col("run_id") == self.run_id)
        if "unexpected_json" not in r.columns:  # pre-upgrade results table
            return r.select(
                "expectation_index", "expectation_type", "kwargs_json",
                "chunk_id", F.lit(None).cast("string").alias("unexpected_value"),
            ).limit(0)
        from pyspark.sql import Window

        ex = r.where(F.col("unexpected_json").isNotNull()).select(
            "expectation_index", "expectation_type", "kwargs_json", "chunk_id",
            F.explode(F.from_json("unexpected_json", "array<string>")).alias(
                "unexpected_value"),
        )
        w = Window.partitionBy(
            "expectation_index", "expectation_type", "kwargs_json"
        ).orderBy("chunk_id", "unexpected_value")
        return (
            ex.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= cap)
            .drop("__rn")
        )

    def rollup(self) -> DataFrame:
        """Suite-level verdict per expectation, merged across chunks.

        Map-expectation counts are commutative monoids, so their suite
        verdict is re-derived from the SUMMED element/missing/unexpected
        counts against ``mostly`` — a mostly-expectation that fails in one
        skewed chunk still passes the rollup when the whole-table ratio
        clears the bar (whole-table semantics, not AND-of-chunks).

        Aggregate expectations that recorded a per-chunk monoid
        (``monoid_json``: count/sum/sumsq/min/max partials, datasketches HLL
        for distinct counts, datasketches KLL for median/quantiles — see
        ``Options.chunk_monoids``) are ALSO merged into a whole-table
        observed value + verdict: sums/counts add, min/max fold, stdev
        merges per-chunk (count, mean, M2) via Chan's parallel formula,
        HLL sketches union JVM-side via
        ``hll_union_agg``, KLL sketches via ``kll_merge_agg_double`` (the
        merged quantile values are approximate within the sketch's rank
        error ~2.3/k^0.937, k = ``Options.kll_k``; everything else is
        exact). The merged rows come back with
        ``chunk_scoped`` false, ``merged_observed_json`` set. An expectation
        whose chunks do not ALL carry a monoid (mixed engine options, a
        non-numeric column, a raised exception) keeps the conservative
        AND-of-chunks verdict with ``chunk_scoped`` true.

        Plan: one aggregate query over the results table computes every
        sum and sketch merge (one row per expectation); merged KLL
        quantiles are read on the driver, and the verdicts are judged
        there. The result is a driver-local frame, ordered by
        ``expectation_index``, that collects without a Spark job.
        """
        r = self.results_df.where(F.col("run_id") == self.run_id)
        if "monoid_json" not in r.columns:
            # pre-monoid results table: the merge is provably empty
            r = r.withColumn("monoid_json", F.lit(None).cast("string"))
        rows = []
        for g in _expectation_groups(r):
            merged = _merged_verdict(r.sparkSession, g)
            if g.raised_exception:
                success = False
            elif g.map_merges:
                success = g.map_success
            elif merged is not None:
                success = merged[1]
            else:
                success = g.all_chunks_success
            rows.append((
                g.expectation_index, g.expectation_type, g.kwargs_json,
                g.n_rows, g.element_count, g.missing_count,
                g.unexpected_count, g.raised_exception,
                g.chunk_scoped and merged is None,
                merged[0] if merged else None, success,
            ))
        rows.sort(key=lambda t: (t[0], t[1] or "", t[2] or ""))
        return local_frame(self.results_df.sparkSession, rows, ROLLUP_SCHEMA)


def run_checkpoint(
    df: DataFrame,
    suite: ExpectationSuite,
    splitter: Splitter,
    results_path: str,
    run_id: str,
    result_format: Any = "BOOLEAN_ONLY",
    tables: dict[str, DataFrame] | None = None,
    on_chunk: Callable[[str, float], None] | None = None,
    options: Any = None,
    max_concurrency: int = 1,
    results_format: str = "parquet",
) -> CheckpointResult:
    """Validate ``df`` chunk-by-chunk, appending per-chunk EVR rows to the
    results table at ``results_path``; chunks already recorded for this
    ``run_id`` are skipped (resume).

    ``results_format``: ``"parquet"`` (default — always available) or
    ``"delta"`` (requires the delta-spark runtime; see sources/delta.py).
    Iceberg results tables route through ``sources.iceberg.write_results``
    with a catalog table name instead of a path. Resume, violation rows,
    and rollup behave identically across formats — the per-format tests
    are parameterized and skip when the jar is absent.

    ``options`` defaults to ``Options(chunk_monoids=True)`` so aggregate
    expectations record mergeable partial state and ``rollup()`` can return
    exact whole-table aggregate verdicts; pass explicit ``Options`` to
    override (chunks written with and without monoids still roll up — the
    merge just falls back to AND-of-chunks for mixed expectations).

    ``max_concurrency`` > 1 validates that many chunks at once from driver
    threads (Spark schedules concurrent actions fine; each chunk is a few
    narrow jobs). With hundreds of pruned chunks, sequential submission
    leaves the cluster idle between a chunk's last stage and the next
    chunk's first — concurrency keeps executors saturated. The tiny
    results-table append stays serialized behind a lock: concurrent
    ``mode("append")`` commits to one parquet path share a _temporary
    staging dir and can clobber each other; validation is the parallel
    part, the write never needs to be."""
    import threading

    spark = df.sparkSession
    if options is None:
        from great_expectations_spark.plans.compiler import Options

        options = Options(chunk_monoids=True)

    if results_format == "delta":
        from great_expectations_spark.sources.delta import require_delta

        require_delta(spark)
    elif results_format != "parquet":
        raise ValueError(
            f"results_format must be 'parquet' or 'delta', got {results_format!r}"
            " (Iceberg tables go through sources.iceberg.write_results)")

    # named closures: perfbench/jobs.py attributes jobs by these qualnames
    def _read_results() -> DataFrame:
        return read_results(spark, results_path, results_format)

    def _append_results(rows: list[tuple]) -> None:
        append_results(spark, rows, results_path, results_format)

    done: set[str] = set()
    try:
        existing = _read_results()
        done = {
            r.chunk_id
            for r in existing.where(F.col("run_id") == run_id).select("chunk_id").distinct().collect()
        }
    except AnalysisException as e:
        if not missing_table(e):
            raise

    todo = [(cid, pred) for cid, pred in splitter.chunks if cid not in done]
    skipped = [cid for cid, _ in splitter.chunks if cid in done]
    write_lock = threading.Lock()
    completed: list[str] = []

    def _one(chunk_id: str, pred: Any) -> None:
        t0 = time.time()
        chunk_df = df.where(pred)
        result = validate(chunk_df, suite, result_format=result_format,
                          tables=tables, options=options)
        wall = time.time() - t0
        rows = results_rows(
            result, run_id, chunk_id,
            str(pred._jc if hasattr(pred, "_jc") else pred), wall)
        with write_lock:
            _append_results(rows)
            completed.append(chunk_id)
            if on_chunk:
                on_chunk(chunk_id, wall)

    if max_concurrency > 1 and len(todo) > 1:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=max_concurrency) as pool:
            futures = [pool.submit(_one, cid, pred) for cid, pred in todo]
            for f in futures:
                f.result()  # re-raise the first failure; done chunks persist
    else:
        for cid, pred in todo:
            _one(cid, pred)

    return CheckpointResult(
        run_id=run_id,
        completed_chunks=completed,
        skipped_chunks=skipped,
        results_df=_read_results(),
    )
