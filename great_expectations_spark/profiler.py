"""Basic column profiler: one fused scan -> per-column profile rows.

Reference: profile/basic_dataset_profiler.py:33-91 classifies each column
(cardinality band, type) by issuing many per-metric jobs through the
validator. This profiler computes the same facts — type, null fraction,
approx cardinality + band, min/max/mean/stddev for numerics, length
stats for strings — for EVERY column in ONE ``df.agg`` pass (plus zero
extra jobs), then emits a tidy DataFrame. Every aggregate comes from the
metric registry (``interactive.metric_aggs``), so each metric and each
exact-vs-sketch choice is written once.

``profile_details`` adds the per-column drill-down of the profiling docs
page, and ``infer_formats`` / ``infer_formats_by_column`` the regex /
strftime candidate evaluation of the rule profiler's format builders.
``format_count_plan`` hands out that evaluation's first scan as
aggregates plus a finish, so the rule profiler fuses the unsampled
format counts into the whole-table aggregate it runs anyway. Suites are
bootstrapped by ``data_assistant.run_onboarding_assistant``.
"""

from __future__ import annotations

import _strptime
import functools
import operator
import re
import sys

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DateType,
    NumericType,
    StringType,
    TimestampType,
)

from great_expectations_spark.interactive import metric_aggs, plan_metrics
from great_expectations_spark.plans.compiler import Options
from great_expectations_spark.sources.session import local_frame

# reference cardinality bands (basic_dataset_profiler.py: _get_column_cardinality)
_BANDS = [(1, "one"), (2, "two"), (20, "very_few"), (60, "few"),
          (1000, "many"), (10000, "very_many"), (float("inf"), "unique_or_more")]

_LENGTHS = {"min_len": ("column_values.length_min", "double"),
            "max_len": ("column_values.length_max", "double"),
            "avg_len": ("column_values.length_mean", "double")}

# profile field -> (registry metric, Spark-side cast) per column kind;
# datetimes are rendered as strings in the session time zone, and the
# length of a binary value is its byte count
_KIND_STATS = {
    "numeric": {"min": ("column.min", "double"),
                "max": ("column.max", "double"),
                "mean": ("column.mean", "double"),
                "stddev": ("column.standard_deviation", "double")},
    "datetime": {"min_ts": ("column.min", "string"),
                 "max_ts": ("column.max", "string")},
    "string": _LENGTHS,
    "binary": _LENGTHS,
}


def _band(n: int, total: int) -> str:
    if total and n >= total * 0.95:
        return "unique"
    for lim, name in _BANDS:
        if n <= lim:
            return name
    return "unique_or_more"


def _kind(dt) -> str:
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


def profile(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """One fused scan; returns a DataFrame with one row per column:
    (column, dtype, kind, n_rows, n_null, null_fraction, approx_distinct,
    cardinality_band, min, max, mean, stddev, min_len, max_len, avg_len)."""
    spark = df.sparkSession
    fields = [f for f in df.schema.fields if columns is None or f.name in columns]
    sketch = Options(approx_distinct=True)  # cardinality as an HLL++ count

    def agg(metric: str, column: str | None, cast: str | None = None):
        exprs, _ = metric_aggs(metric, {"column": column}, sketch)
        return exprs["v"] if cast is None else exprs["v"].cast(cast)

    aggs = [agg("table.row_count", None)]
    slots: list[tuple[str, str]] = []  # (column, profile field) per agg after the first
    for f in fields:
        kind = _kind(f.dataType)
        wanted = {"n_null": ("column_values.null.count", None)}
        if kind != "binary":
            wanted["approx_distinct"] = ("column.distinct_values.count", None)
        wanted.update(_KIND_STATS.get(kind, {}))
        for field, (metric, cast) in wanted.items():
            slots.append((f.name, field))
            aggs.append(agg(metric, f.name, cast))
    row = df.agg(*[a.alias(f"m{i}") for i, a in enumerate(aggs)]).first()
    n = row[0]
    stats: dict[str, dict] = {f.name: {} for f in fields}
    for (name, field), value in zip(slots, row[1:]):
        stats[name][field] = value

    out = []
    for f in fields:
        s = stats[f.name]
        nn = int(s.pop("n_null") or 0)
        card = s.get("approx_distinct")
        out.append({
            **s,
            "column": f.name,
            "dtype": f.dataType.simpleString(),
            "kind": _kind(f.dataType),
            "n_rows": n,
            "n_null": nn,
            "null_fraction": round(nn / n, 6) if n else None,
            "cardinality_band": _band(card, n - nn) if card is not None else None,
        })
    schema = (
        "column string, dtype string, kind string, n_rows long, n_null long, "
        "null_fraction double, approx_distinct long, cardinality_band string, "
        "min double, max double, mean double, stddev double, "
        "min_ts string, max_ts string, min_len double, max_len double, avg_len double"
    )
    return local_frame(spark, out, schema)


def _top_values(df: DataFrame, columns: list[str], top_k: int) -> DataFrame:
    """(c, v, n) rows: the ``top_k`` most frequent non-null values of each
    of ``columns`` as strings, count ties broken by value. ONE scan of
    ``df``: the columns are melted into (column, value) rows, counted by
    one groupBy and cut per column by a row_number window."""
    melted = df.select(F.explode(F.array(*[
        F.struct(F.lit(c).alias("c"), F.col(c).cast("string").alias("v"))
        for c in columns])).alias("cv")).select("cv.c", "cv.v")
    counts = (melted.where(F.col("v").isNotNull())
              .groupBy("c", "v").agg(F.count(F.lit(1)).alias("n")))
    rank = F.row_number().over(
        Window.partitionBy("c").orderBy(F.col("n").desc(), F.col("v").asc()))
    return counts.withColumn("__rank", rank).where(
        F.col("__rank") <= top_k).drop("__rank")


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

    Two jobs and two scans of ``df`` regardless of column count:
      * ONE top-k value-counts frame covering every column whose
        approx-distinct stays under ``max_set_card`` (one melted groupBy
        plus a per-column row_number cut; one collect);
      * ONE fused ``df.agg`` of ``column.histogram`` metrics for every
        numeric column with a non-degenerate [min, max] (conditional-sum
        bins, the KL convention — no per-column scan).

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
        for r in _top_values(df, vc_cols, top_k).collect():
            out.setdefault(r["c"], {}).setdefault("top_values", []).append(
                (r["v"], int(r["n"])))
        for c in out:
            out[c]["top_values"].sort(key=lambda t: (-t[1], t[0]))

    requests = {}
    for r in rows:
        if (r["kind"] == "numeric" and r["min"] is not None
                and r["max"] is not None and r["min"] < r["max"]):
            lo, hi = float(r["min"]), float(r["max"])
            # the last edge is the profiled max itself: lo + (hi - lo) *
            # bins / bins can land one ULP below it, leaving the max row
            # in no bin
            edges = [lo + (hi - lo) * i / bins for i in range(bins)] + [hi]
            requests[r["column"]] = (
                "column.histogram", {"column": r["column"], "bins": edges})
    if requests:
        aggs, finish, _ = plan_metrics(requests, Options())
        counts = finish(df.agg(*aggs).first())
        for c, (_, kw) in requests.items():
            out.setdefault(c, {})["histogram"] = {
                "edges": kw["bins"], "counts": counts[c]}
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
# ``count_if``, and so is every strftime candidate's PREFILTER (a Java
# regex that every value strptime accepts must fully match, read through
# ``prefilter_text``, see ``strptime_prefilter``), so the first scan runs
# no Python at all. Only when some prefilter admits rows does a second
# scan run, feeding just the admitted values to one Arrow-batched pandas
# UDF per column whose bits (one per candidate) Python strptime decides —
# the counts stay exact.

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

# strptime directives whose text comes from the locale (names, AM/PM, time
# zone names): an executor's locale may differ from the driver's, so the
# prefilter admits any run of characters there
_LOCALE_NAMES = "aAbBpZ"
# directives whose whole layout comes from the locale: no prefilter
_LOCALE_LAYOUTS = ("c", "x", "X")
# candidates per strftime mask UDF: every bit fits a positive long
_MASK_BITS = 62
# Python's re counts hundreds of non-ASCII code points as \d or \s. The
# prefilters read their input with each of those mapped to one private-use
# sentinel per class (``prefilter_text``), so a \d or \s in a prefilter is
# a class of a few characters, not hundreds
_SENTINELS = {"\\d": "\ue000", "\\s": "\ue001"}


@functools.cache
def _py_class(escape: str) -> tuple[str, str]:
    """(the non-ASCII code points Python's ``re`` matches with ``escape``
    in a str pattern, a Java class of its ASCII matches plus the escape's
    sentinel). Java's own classes differ from Python's: ``(?U)\\s`` lacks
    the separators ``\\x1c``-``\\x1f``, which Python counts as
    whitespace."""
    every = "".join(map(chr, range(sys.maxunicode + 1)))
    hits = re.findall(escape, every)
    ranges: list[list[int]] = []
    for ch in [ch for ch in hits if ch < "\x80"] + [_SENTINELS[escape]]:
        if ranges and ranges[-1][1] == ord(ch) - 1:
            ranges[-1][1] = ord(ch)
        else:
            ranges.append([ord(ch), ord(ch)])

    def lit(cp: int) -> str:
        ch = chr(cp)
        return ch if ch.isascii() and ch.isalnum() else f"\\x{{{cp:X}}}"

    return "".join(ch for ch in hits if ch >= "\x80"), "[" + "".join(
        lit(lo) + (f"-{lit(hi)}" if hi > lo else "")
        for lo, hi in ranges) + "]"


def _fold(ch: str) -> str:
    """``ch`` as ``prefilter_text`` writes it."""
    for escape, sentinel in _SENTINELS.items():
        if ch in _py_class(escape)[0]:
            return sentinel
    return ch


def prefilter_text(col: Column) -> Column:
    """``col`` as the strftime prefilters read it: every non-ASCII code
    point that Python's ``re`` matches with ``\\d`` (``\\s``) becomes that
    class's sentinel, code point for code point."""
    digits, spaces = _py_class("\\d")[0], _py_class("\\s")[0]
    return F.translate(col, digits + spaces,
                       _SENTINELS["\\d"] * len(digits)
                       + _SENTINELS["\\s"] * len(spaces))


def strptime_prefilter(fmt: str) -> str | None:
    """A Java regex that fully matches ``prefilter_text(v)`` for every
    value ``v`` that ``datetime.strptime(v, fmt)`` accepts, or None when
    ``fmt`` has no translation (``%c`` / ``%x`` / ``%X``, a bad directive,
    a stray ``%``).

    Derived from CPython's own ``_strptime`` regex — the one strptime
    matches before its range checks (Feb 30, second 62 and the like fail
    only there) — with ``\\d`` and ``\\s`` spelled as the ASCII code
    points Python matches plus the sentinel ``prefilter_text`` maps the
    rest to (literals mapped the same way), IGNORECASE as ``(?iu)``, and
    the locale name directives widened to any characters. strptime takes
    the first match in alternation order and then demands that it end the
    string; a backtracking Java full match accepts every such string, so
    the prefilter admits a superset of what strptime accepts."""
    table = {k: v for k, v in _strptime._TimeRE_cache.items()
             if k not in _LOCALE_LAYOUTS}
    table.update(dict.fromkeys(_LOCALE_NAMES, "(?s:.*)"))
    try:
        pattern = _strptime.TimeRE.pattern(table, fmt)
    except (KeyError, IndexError):
        return None
    out, i = [], 0
    while i < len(pattern):
        if pattern[i] == "\\":
            esc = pattern[i:i + 2]
            out.append(_py_class(esc)[1] if esc in _SENTINELS else esc)
            i += 2
        elif pattern.startswith("(?P<", i):  # named group -> plain group
            out.append("(?:")
            i = pattern.index(">", i) + 1
        else:
            out.append(_fold(pattern[i]))
            i += 1
    # a leading \A lets Java try the match at offset 0 only
    return "(?iu)\\A(?:" + "".join(out) + ")\\z"


def _strftime_mask_udf(candidates: list[str]):
    """One Arrow-batched pandas UDF: per value, a bitmask long with bit i
    set iff the value parses under candidates[i] (Python strptime — the
    SAME kernel the strftime expectation uses, functions/udfs.py:60, so an
    inferred format is guaranteed to pass its own expectation); at most
    ``_MASK_BITS`` candidates."""
    from datetime import datetime

    from pyspark.sql import types as T

    @F.pandas_udf(T.LongType())
    def _mask(s: pd.Series) -> pd.Series:
        def m(v) -> int:
            if v is None:
                return 0
            v = str(v)
            out = 0
            for i, fmt in enumerate(candidates):
                try:
                    datetime.strptime(v, fmt)
                    out |= 1 << i
                except ValueError:
                    pass
            return out

        return s.map(m)

    return _mask


def best_candidate(ratios: dict[str, float],
                   threshold: float) -> tuple[str | None, float]:
    """The candidate with the highest success ratio at or above
    ``threshold`` and that ratio, or ``(None, 0.0)`` (reference
    ParameterBuilder._get_best_candidate_above_threshold,
    parameter_builder.py:696-714). ``ratios`` iterates in candidate
    order, so a tie keeps the earlier candidate."""
    best, best_ratio = None, 0.0
    for cand, ratio in ratios.items():
        if ratio > best_ratio and ratio >= threshold:
            best, best_ratio = cand, ratio
    return best, best_ratio


def _confirm_strftime(
    src: DataFrame, live: dict[str, tuple[str, list[tuple[str, str | None]]]],
) -> dict[str, dict[str, int]]:
    """Exact strptime hit counts for ``live`` = {column: (text column,
    [(format, prefilter), ...])}, the candidates whose prefilter admitted
    some value of the column of ``src`` (the text column is its
    ``prefilter_text``). ONE scan of ``src`` keeps the rows some prefilter
    admits and feeds each column's admitted values (NULL otherwise) to one
    mask UDF per ``_MASK_BITS`` candidates; Python strptime decides every
    admitted value."""
    gates, masks, slots = [], [], []
    for c, (text, cands) in live.items():
        col = F.col(c)
        gate = (col.isNotNull() if any(p is None for _, p in cands)
                else functools.reduce(
                    operator.or_, [F.col(text).rlike(p) for _, p in cands]))
        gates.append(gate)
        fmts = [f for f, _ in cands]
        for j in range(0, len(fmts), _MASK_BITS):
            part = fmts[j:j + _MASK_BITS]
            masks.append(_strftime_mask_udf(part)(F.when(gate, col))
                         .alias(f"m{len(masks)}"))
            slots.append((c, part))
    admitted = src.where(functools.reduce(operator.or_, gates)).select(*masks)
    row = admitted.agg(*[
        F.sum(F.shiftrightunsigned(F.col(f"m{m}"), i).bitwiseAND(F.lit(1)))
        for m, (_, part) in enumerate(slots) for i in range(len(part))]).first()
    hits: dict[str, dict[str, int]] = {c: {} for c in live}
    values = iter(row)
    for c, part in slots:
        for f in part:
            hits[c][f] = int(next(values) or 0)
    return hits


def format_count_plan(
    df: DataFrame,
    plan: dict[str, tuple[list[str], list[str]]],
    threshold: float = 1.0,
):
    """The first scan of ``infer_formats_by_column``, split so that a
    caller can fuse it into an aggregate of its own:
    ``(projections, aggregates, finish)``.

    ``aggregates`` count the non-null values, every regex's matches and
    the values each strftime prefilter admits, over
    ``df.select("*", *projections)`` (the projections are each column's
    ``prefilter_text``, one per column that has strftime candidates).
    ``finish(row)``, given a row carrying those aggregates, applies
    ``threshold`` and returns ``infer_formats_by_column``'s answer; when
    some prefilter admitted values it first runs the strptime confirm
    scan over ``df``."""
    strings = {f.name for f in df.schema.fields
               if isinstance(f.dataType, StringType)}
    cols = [c for c in plan if c in strings]
    prefilters = {f: strptime_prefilter(f) for c in cols for f in plan[c][1]}
    projections, aggs = [], []
    for k, c in enumerate(cols):
        regexes, strfs = plan[c]
        col = F.col(c)
        aggs.append(F.count(col).alias(f"f{k}nn"))
        aggs += [F.count_if(col.rlike(r)).alias(f"f{k}re{i}")
                 for i, r in enumerate(regexes)]
        if strfs:
            projections.append(prefilter_text(col).alias(f"__fmt_t{k}"))
            text = F.col(f"__fmt_t{k}")
            aggs += [F.count_if(text.rlike(prefilters[f])).alias(f"f{k}pf{i}")
                     for i, f in enumerate(strfs) if prefilters[f] is not None]

    def finish(row) -> dict[str, dict]:
        # a candidate without a prefilter admits every non-null value
        live = {}
        for k, c in enumerate(cols):
            cands = [(f, prefilters[f]) for i, f in enumerate(plan[c][1])
                     if row[f"f{k}nn" if prefilters[f] is None
                            else f"f{k}pf{i}"]]
            if cands:
                live[c] = (f"__fmt_t{k}", cands)
        hits = (_confirm_strftime(df.select("*", *projections), live)
                if live else {})

        out: dict[str, dict] = {}
        for k, c in enumerate(cols):
            regexes, strfs = plan[c]
            nn = row[f"f{k}nn"]
            re_counts = {
                r: int(row[f"f{k}re{i}"] or 0) for i, r in enumerate(regexes)}
            sf_counts = {f: hits.get(c, {}).get(f, 0) for f in strfs}
            # exact ratio when nonnull rows exist: the reference's
            # n / (nn + eps) form only survives float rounding at nn == 1,
            # where a 100%-matching format lands at 1 - 2e-16 and can never
            # clear the default threshold of exactly 1.0
            re_ratios = {r: (n / nn if nn else 0.0)
                         for r, n in re_counts.items()}
            sf_ratios = {f: (n / nn if nn else 0.0)
                         for f, n in sf_counts.items()}
            rb, rr = best_candidate(re_ratios, threshold)
            sb, sr = best_candidate(sf_ratios, threshold)
            out[c] = {
                "nonnull": int(nn),
                "regex": {"best": rb, "ratio": rr, "ratios": re_ratios,
                          "counts": re_counts},
                "strftime": {"best": sb, "ratio": sr, "ratios": sf_ratios,
                             "counts": sf_counts},
            }
        return out

    return projections, aggs, finish


def infer_formats_by_column(
    df: DataFrame,
    plan: dict[str, tuple[list[str], list[str]]],
    threshold: float = 1.0,
) -> dict[str, dict]:
    """``infer_formats`` with candidate lists per column: ``plan`` =
    {column: (regexes, strftime formats)}; columns that are not strings
    are left out. ONE aggregate of ``format_count_plan``'s counts, then its
    ``finish``. The rule profiler fuses the unsampled plan's counts into
    its whole-table aggregate and calls this only for sampled plans.

    ``df`` is read twice when the confirm scan runs, so it must yield the
    same rows both times: persist a random sample before passing it."""
    projections, aggs, finish = format_count_plan(df, plan, threshold)
    if not aggs:
        return {}
    return finish(df.select("*", *projections).agg(*aggs).first())


def infer_formats(
    df: DataFrame,
    columns: list[str] | None = None,
    candidate_regexes: list[str] | None = None,
    candidate_strings: list[str] | None = None,
    threshold: float = 1.0,
) -> dict[str, dict]:
    """Evaluate every candidate regex / strftime format against every
    string column; per column returns

        {"nonnull": int,
         "regex": {"best": str|None, "ratio": float, "ratios": {...},
                   "counts": {...}},
         "strftime": {"best": str|None, "ratio": float, "ratios": {...},
                      "counts": {...}}}

    with success_ratio = matching / (nonnull + eps) and ``best`` the
    highest ratio >= threshold (reference
    ParameterBuilder._get_best_candidate_above_threshold,
    parameter_builder.py:696-714).

    ONE JVM-only scan counts the non-null values, every regex's matches
    and the values each strftime candidate's ``strptime_prefilter``
    admits; a candidate that admits none matches none. Only when some
    candidate admits values does a second scan of ``df`` count the exact
    strptime matches among the admitted values in a pandas UDF — values
    no prefilter admits never reach Python. ``df`` must yield the same
    rows on both scans (persist a random sample first). Pass
    ``candidate_strings=[]`` to skip strftime evaluation entirely."""
    regexes = CANDIDATE_REGEXES if candidate_regexes is None else candidate_regexes
    strfs = CANDIDATE_STRFTIME if candidate_strings is None else candidate_strings
    cols = [c for c in df.columns if columns is None or c in columns]
    return infer_formats_by_column(
        df, {c: (regexes, strfs) for c in cols}, threshold)
