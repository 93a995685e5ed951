"""Basic column profiler: one fused scan -> per-column profile rows.

Reference: profile/basic_dataset_profiler.py:33-91 classifies each column
(cardinality band, type) by issuing many per-metric jobs through the
validator. This profiler computes the same facts — type, null fraction,
approx cardinality + band, min/max/mean/stddev for numerics, length
stats for strings — for EVERY column in ONE ``df.agg`` pass (plus zero
extra jobs), then emits a tidy DataFrame.

Use it to bootstrap a suite: ``suggest_suite`` turns a profile into the
obvious expectations (not_null for near-complete columns, in_set for
low-cardinality, between for numerics), mirroring the reference's
BasicSuiteBuilderProfiler intent.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DateType,
    NumericType,
    StringType,
    TimestampType,
)

from great_expectations_spark.core.suite import ExpectationSuite
from great_expectations_spark.sources.session import local_frame

# reference cardinality bands (basic_dataset_profiler.py: _get_column_cardinality)
_BANDS = [(1, "one"), (2, "two"), (20, "very_few"), (60, "few"),
          (1000, "many"), (10000, "very_many"), (float("inf"), "unique_or_more")]


def _band(n: int, total: int) -> str:
    if total and n >= total * 0.95:
        return "unique"
    for lim, name in _BANDS:
        if n <= lim:
            return name
    return "unique_or_more"


def profile(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """One fused scan; returns a DataFrame with one row per column:
    (column, dtype, kind, n_rows, n_null, null_fraction, approx_distinct,
    cardinality_band, min, max, mean, stddev, min_len, max_len, avg_len)."""
    spark = df.sparkSession
    fields = [f for f in df.schema.fields if columns is None or f.name in columns]

    aggs = [F.count(F.lit(1)).alias("__n")]
    for f in fields:
        c, name = F.col(f.name), f.name
        aggs.append(F.sum(F.when(c.isNull(), 1).otherwise(0)).alias(f"{name}__null"))
        if not isinstance(f.dataType, BinaryType):
            aggs.append(F.approx_count_distinct(c).alias(f"{name}__card"))
        if isinstance(f.dataType, NumericType):
            aggs.extend([
                F.min(c).cast("double").alias(f"{name}__min"),
                F.max(c).cast("double").alias(f"{name}__max"),
                F.mean(c).cast("double").alias(f"{name}__mean"),
                F.stddev_samp(c).cast("double").alias(f"{name}__std"),
            ])
        elif isinstance(f.dataType, (TimestampType, DateType)):
            aggs.extend([
                F.min(c).cast("string").alias(f"{name}__tmin"),
                F.max(c).cast("string").alias(f"{name}__tmax"),
            ])
        elif isinstance(f.dataType, StringType):
            aggs.extend([
                F.min(F.length(c)).cast("double").alias(f"{name}__lmin"),
                F.max(F.length(c)).cast("double").alias(f"{name}__lmax"),
                F.avg(F.length(c)).cast("double").alias(f"{name}__lavg"),
            ])
        elif isinstance(f.dataType, BinaryType):
            aggs.extend([
                F.min(F.octet_length(c)).cast("double").alias(f"{name}__lmin"),
                F.max(F.octet_length(c)).cast("double").alias(f"{name}__lmax"),
                F.avg(F.octet_length(c)).cast("double").alias(f"{name}__lavg"),
            ])
    row = df.agg(*aggs).first()
    n = row["__n"]

    def kind(dt) -> str:
        if isinstance(dt, NumericType):
            return "numeric"
        if isinstance(dt, (TimestampType, DateType)):
            return "datetime"
        if isinstance(dt, BooleanType):
            return "boolean"
        if isinstance(dt, BinaryType):
            return "binary"
        if isinstance(dt, StringType):
            return "string"
        return "other"

    out = []
    for f in fields:
        name = f.name
        nn = int(row[f"{name}__null"] or 0)
        card = int(row[f"{name}__card"]) if f"{name}__card" in row.asDict() else None
        out.append({
            "column": name,
            "dtype": f.dataType.simpleString(),
            "kind": kind(f.dataType),
            "n_rows": n,
            "n_null": nn,
            "null_fraction": round(nn / n, 6) if n else None,
            "approx_distinct": card,
            "cardinality_band": _band(card, n - nn) if card is not None else None,
            "min": row.asDict().get(f"{name}__min"),
            "max": row.asDict().get(f"{name}__max"),
            "mean": row.asDict().get(f"{name}__mean"),
            "stddev": row.asDict().get(f"{name}__std"),
            "min_ts": row.asDict().get(f"{name}__tmin"),
            "max_ts": row.asDict().get(f"{name}__tmax"),
            "min_len": row.asDict().get(f"{name}__lmin"),
            "max_len": row.asDict().get(f"{name}__lmax"),
            "avg_len": row.asDict().get(f"{name}__lavg"),
        })
    schema = (
        "column string, dtype string, kind string, n_rows long, n_null long, "
        "null_fraction double, approx_distinct long, cardinality_band string, "
        "min double, max double, mean double, stddev double, "
        "min_ts string, max_ts string, min_len double, max_len double, avg_len double"
    )
    return local_frame(spark, out, schema)


def profile_details(
    df: DataFrame,
    profile_rows: list | None = None,
    top_k: int = 10,
    max_set_card: int = 1000,
    bins: int = 8,
) -> dict[str, dict]:
    """Per-column drill-down for the profiling column sections — the data
    behind the reference's ProfilingResultsColumnSectionRenderer
    (render/renderer/column_section_renderer.py:33: "Example Values" /
    common-value bars and histograms per column).

    Two jobs regardless of column count:
      * ONE unioned top-k value-counts frame covering every column whose
        approx-distinct stays under ``max_set_card`` (each branch is its
        own bounded groupBy+limit; one collect);
      * ONE fused ``df.agg`` of conditional-sum histogram bins for every
        numeric column with a non-degenerate [min, max] (the KL/histogram
        agg convention — no per-column scan).

    Returns {column: {"top_values": [(value_str, count), ...],
    "histogram": {"edges": [...], "counts": [...]}}} — feed to
    ``actions.render_profile_docs(details=...)``.
    """
    rows = profile_rows if profile_rows is not None else profile(df).collect()
    rows = [r if isinstance(r, dict) else r.asDict() for r in rows]
    out: dict[str, dict] = {}

    vc_cols = [r["column"] for r in rows
               if r["approx_distinct"] is not None
               and 0 < r["approx_distinct"] <= max_set_card]
    if vc_cols:
        branches = []
        for c in vc_cols:
            branches.append(
                df.where(F.col(c).isNotNull())
                .groupBy(F.col(c).cast("string").alias("v"))
                .agg(F.count(F.lit(1)).alias("n"))
                .orderBy(F.col("n").desc(), F.col("v").asc())
                .limit(top_k)
                .select(F.lit(c).alias("c"), "v", "n"))
        union = branches[0]
        for b in branches[1:]:
            union = union.unionByName(b)
        for r in union.collect():
            out.setdefault(r["c"], {}).setdefault("top_values", []).append(
                (r["v"], int(r["n"])))
        for c in out:
            out[c]["top_values"].sort(key=lambda t: (-t[1], t[0]))

    hist_specs = [(r["column"], float(r["min"]), float(r["max"]))
                  for r in rows
                  if r["kind"] == "numeric" and r["min"] is not None
                  and r["max"] is not None and r["min"] < r["max"]]
    if hist_specs:
        aggs = []
        edges_by_col: dict[str, list[float]] = {}
        for c, lo, hi in hist_specs:
            edges = [lo + (hi - lo) * i / bins for i in range(bins + 1)]
            edges_by_col[c] = edges
            col = F.col(c)
            for i in range(bins):
                upper = (col <= F.lit(edges[i + 1])) if i == bins - 1 \
                    else (col < F.lit(edges[i + 1]))
                aggs.append(F.sum(
                    ((col >= F.lit(edges[i])) & upper).cast("long")
                ).alias(f"__h__{c}__{i}"))
        hrow = df.agg(*aggs).first()
        for c, _lo, _hi in hist_specs:
            out.setdefault(c, {})["histogram"] = {
                "edges": edges_by_col[c],
                "counts": [int(hrow[f"__h__{c}__{i}"] or 0)
                           for i in range(bins)]}
    return out


# ---- format inference (reference parity) -----------------------------------
# rule_based_profiler/parameter_builder/regex_pattern_string_parameter_builder
# .py:42 (CANDIDATE_REGEX) and simple_date_format_string_parameter_builder
# .py:104 (DEFAULT_CANDIDATE_STRINGS): both evaluate every candidate's
# unexpected_count and pick the highest success ratio above a threshold.
# DELIBERATE DEVIATIONS: (a) the reference stores candidates in a SET, so
# ties at the threshold resolve by arbitrary iteration order — here the
# lists are ordered most-specific-first and ties keep the earlier (more
# informative) candidate, deterministically; (b) the reference issues one
# metric computation per candidate — here every regex is a JVM-codegen
# conditional sum and every strftime candidate is one bit of a per-column
# bitmask computed by a single Arrow-batched pandas UDF, so the whole
# evaluation is ONE scan regardless of candidate count.

CANDIDATE_REGEXES: list[str] = [
    # ordered most-specific → least-specific (see deviation note above);
    # the reference's UUID candidate carries a trailing space (an upstream
    # typo) — reproduced without it
    r"https?:\/\/(?:www\.)?[-a-zA-Z0-9@:%._\+~#=]{2,255}\.[a-z]{2,6}\b(?:[-a-zA-Z0-9@:%_\+.~#()?&//=]*)",
    r"\b[0-9a-fA-F]{8}\b-[0-9a-fA-F]{4}-[0-5][0-9a-fA-F]{3}-[089ab][0-9a-fA-F]{3}-\b[0-9a-fA-F]{12}\b",
    r"(?:25[0-5]|2[0-4]\d|[01]\d{2}|\d{1,2})(?:.(?:25[0-5]|2[0-4]\d|[01]\d{2}|\d{1,2})){3}",
    r"<\/?(?:p|a|b|img)(?: \/)?>",
    r"-?\d+(?:\.\d*)?",
    r"-?\d+",
    r"\d+",
    r"[A-Za-z0-9\.,;:!?()\"'%\-]+",
    r"^\s+",
    r"\s+$",
]

CANDIDATE_STRFTIME: list[str] = [
    # the commonly-hit subset of the reference's DEFAULT_CANDIDATE_STRINGS,
    # ordered most-specific-first; sub-second and timezone variants before
    # their prefixes so full-precision values don't fall through to a
    # lossier match
    "%Y-%m-%dT%H:%M:%S.%f%z",
    "%Y-%m-%dT%H:%M:%S%z",
    "%Y-%m-%dT%H:%M:%S.%f",
    "%Y-%m-%dT%H:%M:%S",
    "%Y-%m-%d %H:%M:%S.%f%z",
    "%Y-%m-%d %H:%M:%S%z",
    "%Y-%m-%d %H:%M:%S.%f",
    "%Y-%m-%d %H:%M:%S,%f",
    "%Y-%m-%d %H:%M:%S",
    "%Y%m%d %H:%M:%S",
    "%Y/%m/%d %H:%M:%S",
    "%m/%d/%Y %H:%M:%S",
    "%d/%b/%Y:%H:%M:%S",
    "%b %d %H:%M:%S %Y",
    "%b %d %Y %H:%M:%S",
    "%d %b %Y %H:%M:%S",
    "%Y-%m-%d",
    "%Y/%m/%d",
    "%Y%m%d",
    "%m/%d/%Y",
    "%m/%d/%y",
    "%d-%m-%Y",
    "%y-%m-%d",
    "%H:%M:%S",
    "%H:%M:%S.%f",
]

def _strftime_mask_udf(candidates: list[str]):
    """One Arrow-batched pandas UDF: per value, a bitmask long with bit i
    set iff the value parses under candidates[i] (Python strptime — the
    SAME kernel the strftime expectation uses, functions/udfs.py:60, so an
    inferred format is guaranteed to pass its own expectation)."""
    from datetime import datetime

    from pyspark.sql import types as T

    if len(candidates) > 62:
        raise ValueError("at most 62 strftime candidates per mask")
    # Digit short-circuit, PER candidate: a digit-free value can only match
    # candidates without a numeric directive ("%B"/"%A"-style), so those
    # still take the strptime path while the (default) numeric formats are
    # skipped. "%%" escapes are stripped first — "%%d" matches the literal
    # string "%d", which demands no digit.
    import re as _re

    digit_directive = _re.compile(r"%[dmjyYHIMSfUWeuwVGgTDRFs]")
    numeric = [bool(digit_directive.search(fmt.replace("%%", "")))
               for fmt in candidates]

    @F.pandas_udf(T.LongType())
    def _mask(s: pd.Series) -> pd.Series:
        def m(v) -> int:
            if v is None:
                return 0
            v = str(v)
            has_digit = any(ch.isdigit() for ch in v)
            out = 0
            for i, fmt in enumerate(candidates):
                if numeric[i] and not has_digit:
                    continue
                try:
                    datetime.strptime(v, fmt)
                    out |= 1 << i
                except ValueError:
                    pass
            return out

        return s.map(m)

    return _mask


def infer_formats(
    df: DataFrame,
    columns: list[str] | None = None,
    candidate_regexes: list[str] | None = None,
    candidate_strings: list[str] | None = None,
    threshold: float = 1.0,
) -> dict[str, dict]:
    """Evaluate every candidate regex / strftime format against every
    string column in ONE fused scan; per column returns

        {"nonnull": int,
         "regex": {"best": str|None, "ratio": float, "ratios": {...},
                   "counts": {...}},
         "strftime": {"best": str|None, "ratio": float, "ratios": {...},
                      "counts": {...}}}

    with success_ratio = matching / (nonnull + eps) and ``best`` the
    highest ratio >= threshold (reference
    ParameterBuilder._get_best_candidate_above_threshold,
    parameter_builder.py:696-714). Pass ``candidate_strings=[]`` to skip
    strftime evaluation (and its pandas-UDF column) entirely."""
    regexes = CANDIDATE_REGEXES if candidate_regexes is None else candidate_regexes
    strfs = CANDIDATE_STRFTIME if candidate_strings is None else candidate_strings
    cols = [
        f.name for f in df.schema.fields
        if isinstance(f.dataType, StringType)
        and (columns is None or f.name in columns)
    ]
    if not cols:
        return {}

    src = df
    aggs = []
    for c in cols:
        col = F.col(c)
        aggs.append(F.count(col).alias(f"{c}__nn"))
        for i, r in enumerate(regexes):
            aggs.append(
                F.sum(F.when(col.rlike(r), 1).otherwise(0)).alias(f"{c}__re{i}"))
        if strfs:
            src = src.withColumn(f"__mask__{c}", _strftime_mask_udf(strfs)(col))
            for i in range(len(strfs)):
                aggs.append(
                    F.sum(
                        F.shiftrightunsigned(F.col(f"__mask__{c}"), i)
                        .bitwiseAND(F.lit(1))
                    ).alias(f"{c}__sf{i}")
                )
    row = src.agg(*aggs).first()

    def best_of(ratios: dict[str, float]) -> tuple[str | None, float]:
        best, best_ratio = None, 0.0
        for cand, ratio in ratios.items():
            if ratio > best_ratio and ratio >= threshold:
                best, best_ratio = cand, ratio
        return best, best_ratio

    out: dict[str, dict] = {}
    for c in cols:
        nn = row[f"{c}__nn"] or 0
        re_counts = {
            r: int(row[f"{c}__re{i}"] or 0) for i, r in enumerate(regexes)}
        sf_counts = {
            f: int(row[f"{c}__sf{i}"] or 0) for i, f in enumerate(strfs)}
        # exact ratio when nonnull rows exist: the reference's
        # n / (nn + eps) form only survives float rounding at nn == 1,
        # where a 100%-matching format lands at 1 - 2e-16 and can never
        # clear the default threshold of exactly 1.0
        re_ratios = {r: (n / nn if nn else 0.0) for r, n in re_counts.items()}
        sf_ratios = {f: (n / nn if nn else 0.0) for f, n in sf_counts.items()}
        rb, rr = best_of(re_ratios)
        sb, sr = best_of(sf_ratios)
        out[c] = {
            "nonnull": int(nn),
            "regex": {"best": rb, "ratio": rr, "ratios": re_ratios,
                      "counts": re_counts},
            "strftime": {"best": sb, "ratio": sr, "ratios": sf_ratios,
                         "counts": sf_counts},
        }
    return out


def suggest_suite(df: DataFrame, name: str = "profiled", null_tolerance: float = 0.05,
                  set_cardinality_max: int = 20,
                  infer_string_formats: bool = True,
                  format_threshold: float = 1.0) -> ExpectationSuite:
    """Bootstrap a suite from a profile (BasicSuiteBuilderProfiler-style).

    At most THREE scans regardless of column count: the fused ``profile``
    pass, ONE fused bounded ``collect_set`` job for every
    low-cardinality column at once (not one distinct().collect() per
    column — that's N extra full scans at crawl scale), and — when
    ``infer_string_formats`` — ONE fused ``infer_formats`` pass over the
    string columns that did not get an in-set expectation, adding a
    match_strftime (preferred: more informative for datelike strings) or
    match_regex expectation for the best candidate at
    ``format_threshold`` (the reference's regex/date-format parameter
    builders; see infer_formats). The collect_set is sliced at cap+1 so
    an approx_count_distinct underestimate can't pull an unbounded set
    onto the driver; overflow falls back to a range expectation for
    numerics and is skipped otherwise.
    """
    prof = {r.column: r for r in profile(df).collect()}
    suite = ExpectationSuite(name=name)
    suite.add("expect_table_columns_to_match_set", column_set=list(prof))
    suite.add("expect_table_row_count_to_be_between",
              min_value=max(int(next(iter(prof.values())).n_rows * 0.5), 1))
    set_candidates = [
        col for col, r in prof.items()
        if (r.approx_distinct is not None and r.approx_distinct <= set_cardinality_max
            and r.kind in ("string", "boolean", "numeric"))
    ]
    value_sets: dict[str, list] = {}
    if set_candidates:
        row = df.agg(*[
            F.slice(F.collect_set(F.col(c)), 1, set_cardinality_max + 1).alias(c)
            for c in set_candidates
        ]).first()
        value_sets = {c: row[c] for c in set_candidates}
    in_set_cols: set[str] = set()
    for col, r in prof.items():
        if r.null_fraction is not None and r.null_fraction <= null_tolerance:
            suite.add("expect_column_values_to_not_be_null", column=col,
                      mostly=max(0.0, round(1 - max(r.null_fraction * 2, 0.01), 4)))
        values = value_sets.get(col)
        if values is not None and len(values) <= set_cardinality_max:
            in_set_cols.add(col)
            suite.add("expect_column_values_to_be_in_set", column=col,
                      value_set=sorted(values, key=str), mostly=0.99)
        elif r.kind == "numeric" and r.min is not None and r.max is not None:
            span = (r.max - r.min) or 1.0
            suite.add("expect_column_values_to_be_between", column=col,
                      min_value=r.min - 0.5 * span, max_value=r.max + 0.5 * span,
                      mostly=0.99)
    if infer_string_formats:
        fmt_cols = [
            col for col, r in prof.items()
            if r.kind == "string" and r.n_null < r.n_rows
            and col not in in_set_cols
        ]
        if fmt_cols:
            inferred = infer_formats(df, fmt_cols, threshold=format_threshold)
            for col in fmt_cols:
                f = inferred.get(col)
                if not f:
                    continue
                if f["strftime"]["best"] is not None:
                    suite.add(
                        "expect_column_values_to_match_strftime_format",
                        column=col, strftime_format=f["strftime"]["best"])
                elif f["regex"]["best"] is not None:
                    suite.add("expect_column_values_to_match_regex",
                              column=col, regex=f["regex"]["best"])
    return suite
