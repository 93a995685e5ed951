"""Declarative RuleBasedProfiler: reference profiler configs → suites.

Accepts the reference's RuleBasedProfiler config surface — a dict (or
YAML text) of ``rules``, each with a ``domain_builder``, a list of
``parameter_builders``, and a list of
``expectation_configuration_builders`` referencing ``$variables.*``,
``$domain.domain_kwargs.*`` and ``$parameter.<name>.value/.details`` —
and runs it against ONE DataFrame, producing an ``ExpectationSuite``
plus the resolved per-domain parameter values.

Reference surface (re-expressed, not ported):
  * rule_based_profiler/rule_based_profiler.py:93 ``BaseRuleBasedProfiler``
    (config loading, variables, rule loop) and :1495 ``RuleBasedProfiler``;
  * domain_builder/{table,column,categorical_column,column_pair,
    multi_column,map_metric_column}_domain_builder.py;
  * parameter_builder/{metric_single_batch,metric_multi_batch,
    numeric_metric_range_multi_batch,simple_date_format_string,
    regex_pattern_string,value_set_multi_batch,
    value_counts_single_batch,histogram_single_batch}_parameter_builder.py;
  * expectation_configuration_builder/
    default_expectation_configuration_builder.py (``condition`` grammar);
  * helpers/cardinality_checker.py:48 ``CardinalityLimitMode``.

Execution shape (the Spark-first part — the reference resolves every
parameter as its own metric-resolution wave):

  pass 0  schema-only domain resolution (Table/Column/Pair/Multi builders
          read ``df.schema``, zero jobs)
  pass 1  ONE fused ``df.agg`` for every Categorical / MapMetric domain
          builder across ALL rules (row count + exact distinct counts +
          non-null counts, registry metrics under default ``Options``)
  pass 2  ONE whole-table scan aggregate (one job, no exchange:
          ``sources.session.scan_aggregate``) carrying every single-batch
          Metric/ValueSet/ValueCounts/Histogram parameter request of
          every (rule × domain) that has an aggregate form:
          registry metrics (``interactive.plan_metrics``), value sets over
          columns whose exact distinct count pass 1 already holds
          (``collect_set``, bounded by that count; over
          ``distinct_set_cap`` it fails with no query), and the counts of
          the unsampled format plan (pass 2c). Exact distinct counts and
          unique proportions on a plain ``{column}`` domain read pass 1's
          counts; all other DISTINCT requests share one query of their
          own, and other eager requests (value_counts, value sets of
          uncounted columns, ...) run their own bounded query
  pass 2b ONE ``batch_metrics`` call — one ``groupBy(batch).agg``, its
          rows sorted on the driver — per distinct batching (real splitter
          spec or (n_chunks, chunk_by) pseudo-chunks, see below) for all
          NumericMetricRange builders and per-batch MetricMultiBatch
          builders, then driver-side ``assistant.estimate_range``. Passes 2
          and 2b resolve metrics through the same registry
          (``interactive.metric_aggs``), so a metric and its
          exact-vs-sketch choice under ``Options`` are the same whole-table
          and per batch
  pass 2c format builders, one plan per distinct format sample: the
          unsampled plan's JVM-only counts ride pass 2's aggregate
          (``profiler.format_count_plan``), a sampled plan runs ONE
          ``profiler.infer_formats_by_column`` call over its persisted
          sample; either adds a strptime confirm scan only when a strftime
          prefilter admits values
  pass 3  expectation building: pure driver-side substitution +
          condition evaluation, zero jobs

Multi-batch semantics: the reference's ``*MultiBatch`` builders iterate a
genuine batch list (rule_based_profiler.py:244 ``run()`` over batch
requests). Pass a ``batch_spec`` (a checkpoint-splitter spec — date_part /
column_value / mod_integer / ..., see ``batch_key_expr``) and every
``NumericMetricRangeMultiBatch`` / ``MetricMultiBatch`` builder resolves
its metric per REAL batch slice, all batches riding ONE
``groupBy(batch_key)`` instead of the reference's N per-batch jobs — the
exchange count is independent of the batch count (pinned by
tests/test_plan_shapes.py). Every metric with an aggregate form resolves
per batch; the eager ones (value_counts, distinct_values,
most_common_value, partition, table schema metrics) keep the single-batch
value. Without a ``batch_spec`` the builders fall back to deterministic
pseudo-chunks — an engine-portable md5 hash of ``chunk_by`` modulo
``n_chunks`` (``_portable_chunk_key``) — which is the same one-groupBy
shape with synthetic keys.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from typing import Any

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from great_expectations_spark.core.suite import (
    ExpectationConfiguration,
    ExpectationSuite,
)
from great_expectations_spark.plans.compiler import _ascending_nulls_first
from great_expectations_spark.sources.session import scan_aggregate

__all__ = ["run_rule_based_profiler", "RuleBasedProfilerResult",
           "batch_key_expr", "batch_metrics"]


# --------------------------------------------------------------- cardinality

# helpers/cardinality_checker.py:48 — (kind, limit); "abs" compares the
# exact distinct count, "rel" the distinct/row-count ratio
_CARDINALITY_MODES: dict[str, tuple[str, float]] = {
    "ZERO": ("abs", 0), "ONE": ("abs", 1), "TWO": ("abs", 2),
    "VERY_FEW": ("abs", 10), "FEW": ("abs", 100), "SOME": ("abs", 1000),
    "MANY": ("abs", 10_000), "VERY_MANY": ("abs", 100_000),
    "UNIQUE": ("rel", 1.0),
    "ABS_10": ("abs", 10), "ABS_100": ("abs", 100), "ABS_1000": ("abs", 1000),
    "ABS_10_000": ("abs", 10_000), "ABS_100_000": ("abs", 100_000),
    "ABS_1_000_000": ("abs", 1_000_000),
    "ABS_10_000_000": ("abs", 10_000_000),
    "ABS_100_000_000": ("abs", 100_000_000),
    "ABS_1_000_000_000": ("abs", 1_000_000_000),
    "REL_0": ("rel", 0.0), "REL_001": ("rel", 1e-5), "REL_01": ("rel", 1e-4),
    "REL_0_1": ("rel", 1e-3), "REL_1": ("rel", 1e-2), "REL_10": ("rel", 0.10),
    "REL_25": ("rel", 0.25), "REL_50": ("rel", 0.50), "REL_75": ("rel", 0.75),
    "REL_100": ("rel", 1.0), "ONE_PCT": ("rel", 0.01), "TEN_PCT": ("rel", 0.10),
}


# ------------------------------------------------------------------- domains


@dataclass(frozen=True)
class _Domain:
    """Resolved domain: ``kwargs`` is what ``$domain.domain_kwargs``
    substitutes to ({"column": c} / {"column_A","column_B"} /
    {"column_list": [...]} / {} for table)."""

    rule: str
    kwargs: tuple  # sorted (key, value-or-tuple) pairs — hashable

    def as_dict(self) -> dict[str, Any]:
        return {k: (list(v) if isinstance(v, tuple) else v)
                for k, v in self.kwargs}

    @property
    def label(self) -> str:
        d = self.as_dict()
        if "column" in d:
            return d["column"]
        if "column_A" in d:
            return f"{d['column_A']}__{d['column_B']}"
        if "column_list" in d:
            return "__".join(d["column_list"])
        return "table"


def _domain(rule: str, **kwargs: Any) -> _Domain:
    return _Domain(rule=rule, kwargs=tuple(
        (k, tuple(v) if isinstance(v, list) else v)
        for k, v in sorted(kwargs.items())))


def _listify(v: Any) -> list[str]:
    if v is None:
        return []
    return [v] if isinstance(v, str) else list(v)


def _name_filtered_columns(df: DataFrame, cfg: dict[str, Any]) -> list[str]:
    """ColumnDomainBuilder's name filters (column_domain_builder.py:44):
    explicit include list, exclusions, then suffix filters. Schema order
    is preserved (the reference iterates table columns in order)."""
    cols = list(df.columns)
    include = _listify(cfg.get("include_column_names"))
    if include:
        missing = [c for c in include if c not in cols]
        if missing:
            raise ValueError(f"domain columns not in DataFrame: {missing}")
        cols = [c for c in cols if c in include]
    exclude = set(_listify(cfg.get("exclude_column_names")))
    cols = [c for c in cols if c not in exclude]
    inc_suf = _listify(cfg.get("include_column_name_suffixes"))
    if inc_suf:
        cols = [c for c in cols if any(c.endswith(s) for s in inc_suf)]
    exc_suf = _listify(cfg.get("exclude_column_name_suffixes"))
    if exc_suf:
        cols = [c for c in cols if not any(c.endswith(s) for s in exc_suf)]
    unsupported = [k for k in ("include_semantic_types",
                               "exclude_semantic_types") if cfg.get(k)]
    if unsupported:
        raise ValueError(
            f"semantic-type domain filters are not supported: {unsupported} "
            "(use explicit include_column_names / suffix filters)")
    return cols


def _resolve_domains(
    df: DataFrame, rules: dict[str, dict]
) -> tuple[dict[str, list[_Domain]], dict[str, int]]:
    """All rules' domains, plus the exact distinct count of the non-null
    values of every column that a Categorical/MapMetric builder counted
    (``{column: count}``). Schema-only builders cost zero jobs; every
    Categorical/MapMetric builder's statistics ride ONE fused df.agg."""
    from great_expectations_spark.interactive import plan_metrics
    from great_expectations_spark.plans.compiler import Options

    out: dict[str, list[_Domain]] = {}
    # (rule, decide(counts) -> cols) deferred until the single fused agg
    # has run. Its registry metrics resolve under default Options whatever
    # the run's Options say, so distinct counts stay exact: uniqueness and
    # cardinality-limit admission compare them against exact thresholds.
    requests: dict[str, tuple[str, dict]] = {"__n__": ("table.row_count", {})}
    deferred: list[tuple[str, Any]] = []

    for rname, rule in rules.items():
        db = rule.get("domain_builder") or {"class_name": "TableDomainBuilder"}
        cls = db.get("class_name", "TableDomainBuilder")
        if cls == "TableDomainBuilder":
            out[rname] = [_domain(rname)]
        elif cls == "ColumnDomainBuilder":
            out[rname] = [_domain(rname, column=c)
                          for c in _name_filtered_columns(df, db)]
        elif cls == "ColumnPairDomainBuilder":
            pair = _listify(db.get("include_column_names"))
            if len(pair) != 2:
                raise ValueError(
                    "ColumnPairDomainBuilder needs exactly two "
                    f"include_column_names, got {pair}")
            out[rname] = [_domain(rname, column_A=pair[0], column_B=pair[1])]
        elif cls == "MultiColumnDomainBuilder":
            cols = _listify(db.get("include_column_names"))
            if not cols:
                raise ValueError(
                    "MultiColumnDomainBuilder needs include_column_names")
            out[rname] = [_domain(rname, column_list=cols)]
        elif cls == "CategoricalColumnDomainBuilder":
            cand = _name_filtered_columns(df, db)
            mode = db.get("cardinality_limit_mode", "VERY_FEW")
            if isinstance(mode, dict):  # serialized enum form
                mode = mode.get("name", "VERY_FEW")
            mode = str(mode).upper()
            if mode not in _CARDINALITY_MODES:
                raise ValueError(
                    f"unknown cardinality_limit_mode {mode!r}; one of "
                    f"{sorted(_CARDINALITY_MODES)}")
            for c in cand:
                requests.setdefault(f"__d__{c}", (
                    "column.distinct_values.count", {"column": c}))
                # relative modes divide by the NON-NULL count — the
                # reference's RelativeCardinalityLimit compares
                # column.unique_proportion = distinct / nonnull
                # (column_proportion_of_unique_values.py), not distinct /
                # total rows; a 90%-null all-distinct column must read 1.0
                requests.setdefault(f"__nn__{c}", (
                    "column_values.nonnull.count", {"column": c}))

            def decide_cat(row, cand=cand, mode=mode):
                kind, limit = _CARDINALITY_MODES[mode]
                keep = []
                for c in cand:
                    d = row[f"__d__{c}"] or 0
                    nn = row[f"__nn__{c}"] or 0
                    ok = (d <= limit) if kind == "abs" else (
                        (d / nn if nn > 0 else 0.0) <= limit)
                    # d == 0 (all-null column) only qualifies under a
                    # zero limit (mode ZERO / REL_0) — any other mode
                    # would emit degenerate empty-value-set expectations
                    if ok and (d > 0 or limit == 0):
                        keep.append(c)
                return keep

            deferred.append((rname, decide_cat))
        elif cls == "MapMetricColumnDomainBuilder":
            metric = db.get("map_metric_name")
            if metric not in ("column_values.nonnull", "column_values.null",
                              "column_values.unique"):
                raise ValueError(
                    "MapMetricColumnDomainBuilder supports map_metric_name "
                    "column_values.nonnull / column_values.null / "
                    f"column_values.unique here (got {metric!r}); other map "
                    "metrics need per-column shaped jobs — run them as "
                    "expectations instead")
            cand = _name_filtered_columns(df, db)
            max_vals = int(db.get("max_unexpected_values", 0))
            max_ratio = db.get("max_unexpected_ratio")
            for c in cand:
                requests.setdefault(f"__nn__{c}", (
                    "column_values.nonnull.count", {"column": c}))
                if metric == "column_values.unique":
                    requests.setdefault(f"__d__{c}", (
                        "column.distinct_values.count", {"column": c}))

            def decide_map(row, cand=cand, max_vals=max_vals,
                           max_ratio=max_ratio, metric=metric):
                n = row["__n__"] or 0
                keep = []
                for c in cand:
                    nonnull = row[f"__nn__{c}"] or 0
                    if metric == "column_values.null":
                        # unexpected under null = nonnull rows
                        # (map_metric_column_domain_builder.py:30)
                        unexpected, denom = nonnull, n
                    elif metric == "column_values.nonnull":
                        unexpected, denom = n - nonnull, n
                    else:
                        # unique: nonnull - distinct counts each duplicated
                        # row beyond its first — ZERO iff truly unique (the
                        # exact test); for nonzero thresholds it is a LOWER
                        # bound on GE's unexpected count (which counts every
                        # member of a duplicated group), so a column the
                        # reference would reject can slip through a loose
                        # threshold — use 0 thresholds for exact semantics.
                        # Denominator is the nonnull count (map metrics
                        # ignore nulls); a fully-null column never qualifies.
                        d = row[f"__d__{c}"] or 0
                        unexpected, denom = nonnull - d, nonnull
                        if nonnull == 0:
                            continue
                    if max_ratio is not None:
                        ok = denom > 0 and unexpected / denom <= float(max_ratio)
                    else:
                        ok = unexpected <= max_vals
                    if ok:
                        keep.append(c)
                return keep

            deferred.append((rname, decide_map))
        else:
            raise ValueError(
                f"unknown domain_builder class_name {cls!r} (supported: "
                "TableDomainBuilder, ColumnDomainBuilder, "
                "CategoricalColumnDomainBuilder, ColumnPairDomainBuilder, "
                "MultiColumnDomainBuilder, MapMetricColumnDomainBuilder)")

    distinct: dict[str, int] = {}
    if deferred:
        aggs, finish, _ = plan_metrics(requests, Options())
        counts = finish(df.agg(*aggs).first())
        for rname, decide in deferred:
            out[rname] = [_domain(rname, column=c) for c in decide(counts)]
        distinct = {kw["column"]: counts[key]
                    for key, (metric, kw) in requests.items()
                    if metric == "column.distinct_values.count"}
    return out, distinct


# ------------------------------------------------------------- $ references


_INDEXED = re.compile(r"^(.*?)\[(-?\d+)\]$")


def _walk_path(value: Any, parts: list[str], ref: str) -> Any:
    """Walk ``a.b[0].c``-style path segments: each segment is a dict key
    with zero or more trailing ``[i]`` list indexes."""
    for part in parts:
        raw = part
        suffix_idx: list[int] = []
        m = _INDEXED.match(raw)
        while m:
            suffix_idx.insert(0, int(m.group(2)))
            raw = m.group(1)
            m = _INDEXED.match(raw)
        if raw:
            if not isinstance(value, dict) or raw not in value:
                raise KeyError(f"cannot resolve {ref!r}: missing {raw!r}")
            value = value[raw]
        for i in suffix_idx:
            value = value[i]
    return value


def _resolve_ref(ref: str, variables: dict, domain: _Domain,
                 params: dict[str, dict]) -> Any:
    """One fully-qualified reference → its value. Grammar mirrors
    parameter_container.py's fully-qualified parameter names:
    ``$variables.<path>``, ``$domain.domain_kwargs[.key]``,
    ``$parameter.<name>.value[...]/.details[...]`` with ``[i]`` list
    indexing anywhere after the head."""
    body = ref[1:]
    parts = body.split(".")
    head = parts[0]
    if head == "variables":
        return _walk_path(variables, parts[1:], ref)
    if head == "domain":
        if len(parts) < 2 or parts[1] != "domain_kwargs":
            raise KeyError(f"cannot resolve {ref!r}")
        return _walk_path(domain.as_dict(), parts[2:], ref)
    if head == "parameter":
        if len(parts) < 3 or parts[2].split("[")[0] not in ("value", "details"):
            raise KeyError(
                f"cannot resolve {ref!r} (expected "
                "$parameter.<name>.value or .details)")
        name = parts[1]
        if name not in params:
            raise KeyError(f"unknown parameter {name!r} in {ref!r}")
        return _walk_path(params[name], parts[2:], ref)
    raise KeyError(f"unknown reference head in {ref!r}")


def _substitute(obj: Any, variables: dict, domain: _Domain,
                params: dict[str, dict]) -> Any:
    """Recursive substitution: a STRING that starts with ``$`` is a
    reference (whole-value replacement, the reference's semantics —
    no partial interpolation); dicts/lists recurse."""
    if isinstance(obj, str) and obj.startswith("$"):
        return _resolve_ref(obj, variables, domain, params)
    if isinstance(obj, dict):
        return {k: _substitute(v, variables, domain, params)
                for k, v in obj.items()}
    if isinstance(obj, list):
        return [_substitute(v, variables, domain, params) for v in obj]
    return obj


# --------------------------------------------------------------- conditions


_TOKEN = re.compile(
    r"\s*(\$[\w.\[\]\-]+|<=|>=|==|!=|<|>|&|\||\(|\)|"
    r"-?\d+\.\d*(?:[eE][+-]?\d+)?|-?\d+|\"[^\"]*\"|'[^']*'|\w+)")


def _eval_condition(cond: str, variables: dict, domain: _Domain,
                    params: dict[str, dict]) -> bool:
    """The DefaultExpectationConfigurationBuilder ``condition`` grammar
    (default_expectation_configuration_builder.py:42-86, pyparsing there):
    comparisons over $refs and literals, joined by ``&`` / ``|`` with
    parentheses. The reference's infixNotation puts ``&`` and ``|`` in ONE
    left-associative level, so ``a | b & c`` parses as ``(a | b) & c`` —
    mirrored here exactly (NOT conventional and-over-or precedence). NULL
    operands make the comparison False (SQL-like), never an exception."""
    tokens: list[str] = []
    pos = 0
    while pos < len(cond):
        m = _TOKEN.match(cond, pos)
        if not m:
            raise ValueError(f"cannot tokenize condition {cond!r} at {pos}")
        tokens.append(m.group(1))
        pos = m.end()
    i = 0

    def atom() -> Any:
        nonlocal i
        t = tokens[i]
        i += 1
        if t.startswith("$"):
            return _resolve_ref(t, variables, domain, params)
        if t[0] in "\"'":
            return t[1:-1]
        if t.lower() in ("true", "false"):
            return t.lower() == "true"
        if t.lower() in ("none", "null"):
            return None
        try:
            return int(t)
        except ValueError:
            return float(t)

    def cmp_expr() -> bool:
        nonlocal i
        if tokens[i] == "(":
            i += 1
            v = bool_expr()
            if i >= len(tokens) or tokens[i] != ")":
                raise ValueError(f"unbalanced parens in condition {cond!r}")
            i += 1
            return v
        left = atom()
        if i < len(tokens) and tokens[i] in ("<", "<=", ">", ">=", "==", "!="):
            op = tokens[i]
            i += 1
            right = atom()
            if left is None or right is None:
                return op == "!=" and (left is None) != (right is None)
            try:
                return {
                    "<": left < right, "<=": left <= right,
                    ">": left > right, ">=": left >= right,
                    "==": left == right, "!=": left != right,
                }[op]
            except TypeError:
                # mixed types (e.g. str vs int): equality-family only
                if op == "==":
                    return False
                if op == "!=":
                    return True
                raise
        return bool(left)

    def bool_expr() -> bool:
        # ONE left-assoc level for '&' and '|' (the reference's single
        # infixNotation tier); both sides always evaluate so bad $refs
        # fail loudly regardless of short-circuit truth values
        nonlocal i
        v = cmp_expr()
        while i < len(tokens) and tokens[i] in ("&", "|"):
            op = tokens[i]
            i += 1
            rhs = cmp_expr()
            v = (rhs and v) if op == "&" else (rhs or v)
        return v

    result = bool_expr()
    if i != len(tokens):
        raise ValueError(f"trailing tokens in condition {cond!r}")
    return bool(result)


# --------------------------------------------------------- parameter phase


def _portable_chunk_key(chunk_by: str, n_chunks: int) -> Column:
    """Engine-portable pseudo-batch id: md5-derived 60-bit int of the
    chunk column modulo n_chunks —
    replayable as ``('0x'||substr(md5(CAST(c AS VARCHAR)),1,15))::BIGINT
    % n`` in ANSI-ish SQL."""
    from great_expectations_spark.pipeline.dedup import _md5_int

    return F.pmod(_md5_int(F.col(chunk_by).cast("string")), F.lit(n_chunks))


_DATE_PART_FNS = {"year": F.year, "month": F.month, "day": F.dayofmonth,
                  "hour": F.hour}


def batch_key_expr(df: DataFrame, spec: dict[str, Any]) -> tuple[Column, str]:
    """A ``batch_spec`` (the checkpoint ``Splitter`` family re-expressed
    as ONE key Column, reference sparkdf_data_splitter.py) → (key, label).

    The reference's ``*MultiBatch`` parameter builders iterate a genuine
    batch list (rule_based_profiler.py:244 ``run()`` over batch requests);
    here every batch of the run rides a single ``groupBy(batch_key)`` —
    one exchange no matter how many batches the splitter resolves, which
    is what keeps a 10^12-row date-partitioned profile run tractable.

    Specs: ``{"splitter": <name>, ...}`` with
      column_value(column) · date_part(column, part|parts) ·
      hashed_column(column, n) · mod_integer(column, mod) ·
      divided_integer(column, divisor) ·
      converted_datetime(column, date_format) ·
      multi_column_values(columns)
    """
    s = dict(spec)
    kind = s.get("splitter")
    c = s.get("column")
    if kind == "column_value":
        return F.col(c), f"column_value({c})"
    if kind == "date_part":
        parts = _listify(s.get("parts") or s.get("part"))
        if not parts or any(p not in _DATE_PART_FNS for p in parts):
            raise ValueError(
                f"date_part needs part(s) among {sorted(_DATE_PART_FNS)}")
        if len(parts) == 1:
            return _DATE_PART_FNS[parts[0]](F.col(c)), f"{parts[0]}({c})"
        key = F.concat_ws(
            "-", *[F.lpad(_DATE_PART_FNS[p](F.col(c)).cast("string"), 4, "0")
                   for p in parts])
        return key, f"{'_'.join(parts)}({c})"
    if kind == "hashed_column":
        n = int(s["n"])
        return (F.pmod(F.xxhash64(F.col(c)), F.lit(n)),
                f"hashed_column({c},{n})")
    if kind == "mod_integer":
        mod = int(s["mod"])
        return (F.pmod(F.col(c), F.lit(mod)).cast("int"),
                f"mod_integer({c},{mod})")
    if kind == "divided_integer":
        # truncation toward zero, NOT floor — byte-for-byte the
        # reference's (col / divisor).cast(IntegerType())
        # (sparkdf_data_splitter.py:251-263) and checkpoint.Splitter:
        # negative values in (-divisor, divisor) share batch 0 there too
        d = int(s["divisor"])
        return (F.col(c) / d).cast("int"), f"divided_integer({c},{d})"
    if kind == "converted_datetime":
        fmt = s.get("date_format", "yyyy-MM-dd")
        dt = dict(df.dtypes).get(c, "")
        conv = (F.date_format(F.col(c), fmt)
                if dt in ("timestamp", "date") or dt.startswith("timestamp")
                else F.from_unixtime(F.col(c), fmt))
        return conv, f"converted_datetime({c},{fmt})"
    if kind == "multi_column_values":
        cols = _listify(s.get("columns"))
        if not cols:
            raise ValueError("multi_column_values needs columns")
        key = F.concat_ws("|", *[
            F.coalesce(F.col(x).cast("string"), F.lit("__null__"))
            for x in cols])
        return key, f"multi_column_values({','.join(cols)})"
    raise ValueError(
        f"unknown batch_spec splitter {kind!r} (supported: column_value, "
        "date_part, hashed_column, mod_integer, divided_integer, "
        "converted_datetime, multi_column_values)")


def _sub_variables(obj: Any, rule_vars: dict, domain: _Domain) -> Any:
    """Resolve ``$variables.*`` references at ANY nesting depth (the
    reference substitutes the whole builder config, so patterns like
    ``metric_value_kwargs: {quantiles: $variables.quantiles}`` work).
    ``$domain``/``$parameter`` refs are left untouched — they resolve
    later with the proper context (domain_kwargs_for / builder sinks)."""
    if isinstance(obj, str) and obj.startswith("$variables"):
        return _resolve_ref(obj, rule_vars, domain, {})
    if isinstance(obj, dict):
        return {k: _sub_variables(v, rule_vars, domain)
                for k, v in obj.items()}
    if isinstance(obj, list):
        return [_sub_variables(v, rule_vars, domain) for v in obj]
    return obj


def chunk_aggregate_frame(
    df: DataFrame, key: Column,
    requests: dict[str, tuple[str, dict[str, Any]]], options: Any = None,
) -> tuple[DataFrame, Any]:
    """The multi-batch resolution plan: ONE partial-aggregated groupBy on
    the batch key carrying every request's registry aggregates
    (``interactive.metric_aggs``) — its exchange count is 1 regardless of
    how many batches the splitter resolves (plan shape pinned by
    tests/test_plan_shapes.py). Returns ``(frame, finish)``: the frame's
    rows (one per batch, key ``__chunk``) come in no particular order, and
    ``finish(row)`` maps one batch row to ``{request key: value}``."""
    from great_expectations_spark.interactive import plan_metrics
    from great_expectations_spark.plans.compiler import Options

    aggs, finish, eager = plan_metrics(requests, options or Options())
    if eager:
        raise ValueError(
            "metrics with no per-batch aggregate form: "
            f"{sorted({requests[k][0] for k in eager})}")
    return df.groupBy(key.alias("__chunk")).agg(*aggs), finish


def batch_metrics(
    df: DataFrame,
    requests: dict[str, tuple[str, dict[str, Any]]],
    key: Column,
    options: Any = None,
) -> list[tuple[Any, dict[str, Any]]]:
    """``requests`` (caller key -> (metric_name, kwargs), the
    ``get_metrics`` shape) resolved per batch of ``key``:
    ``[(batch_id, {request key: value})]`` in batch-id order (NULL first),
    all from ONE ``groupBy(key).agg`` — the driver holds one row per batch
    and sorts those rows itself. Metrics, and their exact-vs-sketch
    choices under ``options``, are the ones ``get_metrics`` computes over
    the whole table."""
    frame, finish = chunk_aggregate_frame(df, key, requests, options)
    rows = sorted(frame.collect(),
                  key=lambda r: _ascending_nulls_first(r["__chunk"]))
    return [(r["__chunk"], finish(r)) for r in rows]


# registry metrics whose exact form is a DISTINCT aggregate
_DISTINCT_METRICS = ("column.distinct_values.count", "column.unique_proportion")

# column types whose value sets stay on the eager ``distinct()`` query:
# Spark's distinct normalises floats nested in them, collect_set does not
_NESTED = (T.ArrayType, T.MapType, T.StructType)


def _collected_set(vals: list[Any]) -> set[Any]:
    """A ``collect_set`` as the eager ``distinct()`` query returns it:
    that query's grouping normalises floating-point keys (-0.0 reads 0.0,
    every NaN is one NaN), collect_set keeps -0.0 and can hold a NaN per
    partition."""
    out: set[Any] = set()
    nan = False
    for v in vals:
        if isinstance(v, float):
            if v != v:
                if nan:
                    continue
                nan = True
            elif v == 0.0:
                v = 0.0
        out.add(v)
    return out


def _sorted_value_set(vals: list[Any]) -> list[Any]:
    """A value set's emitted order: ascending, NaN last. Plain ``sorted``
    leaves NaN wherever set iteration puts it (NaN compares false both
    ways), so two equal sets could emit different lists."""
    try:
        return sorted(vals, key=_ascending_nulls_first)
    except TypeError:
        return sorted(vals, key=lambda v: (str(type(v).__name__), str(v)))


def _resolve_parameters(
    df: DataFrame,
    rules: dict[str, dict],
    domains: dict[str, list[_Domain]],
    variables: dict,
    options: Any,
    batch_specs: dict[str, dict | None] | None = None,
    distinct_counts: dict[str, int] | None = None,
) -> dict[tuple[str, _Domain], dict[str, dict]]:
    """Every (rule × domain × parameter_builder). ONE whole-table aggregate
    carries every single-batch registry metric, every value set over a
    column whose exact distinct count ``distinct_counts`` holds (the
    domain pass's ``{column: count}``), and the first scan of the
    unsampled format plan; all per-batch metrics ride ONE batch_metrics
    groupBy per distinct batching (real splitter spec or (n_chunks,
    chunk_by) pseudo-chunk fallback), and every sampled format plan ONE
    infer_formats_by_column call."""
    from great_expectations_spark.assistant import estimate_range
    from great_expectations_spark.interactive import (
        _distinct_set_overflow,
        _eager,
        get_metrics,
        metric_aggs,
        plan_metrics,
    )
    from great_expectations_spark.profiler import (
        CANDIDATE_REGEXES,
        CANDIDATE_STRFTIME,
        best_candidate,
        format_count_plan,
        infer_formats_by_column,
    )

    out: dict[tuple[str, _Domain], dict[str, dict]] = {
        (r, d): {} for r in rules for d in domains.get(r, [])}

    batch_specs = batch_specs or {}
    distinct_counts = distinct_counts or {}
    metric_requests: dict[str, tuple[str, dict]] = {}
    metric_sinks: list[tuple[tuple[str, _Domain], str, str, str]] = []
    # plan_key -> {"key": batch-key Column, "requests": {alias: (metric,
    # kwargs)}, "label": str};
    # plan_key is ("real", json-sig) for a genuine splitter batching or
    # ("pseudo", n_chunks, chunk_by) for the md5 fallback — ONE groupBy
    # per distinct batching regardless of builder or batch count
    chunk_plans: dict[tuple, dict[str, Any]] = {}
    chunk_sinks: list[tuple[tuple[str, _Domain], str, tuple, str, dict]] = []
    # sample_mod -> {column: ({regex: None}, {strftime format: None})}:
    # ONE format count plan per sample serves every format builder, each
    # column checked against only the candidates its builders name
    fmt_plans: dict[int | None, dict[str, tuple[dict, dict]]] = {}
    fmt_sinks: list[
        tuple[tuple[str, _Domain], str, str, tuple, int | None, str, float]] = []

    def domain_kwargs_for(pb: dict, domain: _Domain,
                          rule_vars: dict) -> dict:
        mk = pb.get("metric_domain_kwargs", "$domain.domain_kwargs")
        resolved = _substitute(mk, rule_vars, domain, {}) if mk else {}
        if not isinstance(resolved, dict):
            raise ValueError(
                f"metric_domain_kwargs must resolve to a dict, got {resolved!r}")
        return resolved

    for rname, rule in rules.items():
        # rule-level variables shadow config-level ones for THIS rule's
        # parameter builders, matching the expectation-building phase
        # (reference Rule(variables=...))
        rule_vars = {**variables, **(rule.get("variables") or {})}
        for domain in domains.get(rname, []):
            for pb in rule.get("parameter_builders", []) or []:
                pb = {k: v if k in ("name", "class_name")
                      else _sub_variables(v, rule_vars, domain)
                      for k, v in pb.items()}
                name = pb.get("name")
                cls = pb.get("class_name")
                if not name or not cls:
                    raise ValueError(
                        f"parameter_builder needs name and class_name: {pb}")
                key = (rname, domain)
                rule_spec = batch_specs.get(rname)

                def plan_for(spec_or_none, n_chunks, chunk_by):
                    """plan_key for this builder's batching: the rule's
                    real splitter spec unless the builder explicitly pins
                    pseudo-chunks via chunk_by."""
                    if spec_or_none is not None:
                        pk = ("real", json.dumps(spec_or_none,
                                                 sort_keys=True))
                        if pk not in chunk_plans:
                            kcol, label = batch_key_expr(df, spec_or_none)
                            chunk_plans[pk] = {"key": kcol, "requests": {},
                                               "label": label}
                        return pk
                    pk = ("pseudo", n_chunks, chunk_by)
                    if pk not in chunk_plans:
                        chunk_plans[pk] = {
                            "key": _portable_chunk_key(chunk_by, n_chunks),
                            "requests": {},
                            "label": f"md5({chunk_by})%{n_chunks}"}
                    return pk

                def add_chunk_request(plan_key, metric, mkw):
                    requests = chunk_plans[plan_key]["requests"]
                    alias = f"c{len(requests)}"
                    requests[alias] = (metric, mkw)
                    return alias

                if cls in ("MetricSingleBatchParameterBuilder",
                           "MetricMultiBatchParameterBuilder"):
                    dk = domain_kwargs_for(pb, domain, rule_vars)
                    metric = pb["metric_name"]
                    mkw = {**dk, **(pb.get("metric_value_kwargs") or {})}
                    if (cls == "MetricMultiBatchParameterBuilder"
                            and rule_spec is not None
                            and metric_aggs(metric, mkw, options) is not None):
                        # real batches: one per-batch value per resolved
                        # batch (reference metric_multi_batch_parameter_
                        # builder.py resolves the metric for every Batch),
                        # riding the shared groupBy(batch_key)
                        plan_key = plan_for(rule_spec, 0, "")
                        alias = add_chunk_request(plan_key, metric, mkw)
                        chunk_sinks.append((key, name, plan_key, alias, {
                            "mode": "multibatch_values",
                            "metric_name": metric,
                        }))
                    else:
                        # single batch; eager metrics (value_counts,
                        # distinct_values, partition, table.* schema, ...)
                        # keep the single-batch value under a batch_spec
                        alias = f"m{len(metric_requests)}"
                        metric_requests[alias] = (metric, mkw)
                        metric_sinks.append((key, name, alias, cls))
                elif cls == "NumericMetricRangeMultiBatchParameterBuilder":
                    dk = domain_kwargs_for(pb, domain, rule_vars)
                    metric = pb["metric_name"]
                    n_chunks = int(pb.get("n_chunks", 8))
                    chunk_by = pb.get("chunk_by") or dk.get("column") \
                        or df.columns[0]
                    # an explicit builder-level chunk_by opts out of the
                    # rule's real batching for THIS parameter
                    spec = None if "chunk_by" in pb else rule_spec
                    mkw = {**dk, **(pb.get("metric_value_kwargs") or {})}
                    if metric_aggs(metric, mkw, options) is None:
                        raise ValueError(
                            f"NumericMetricRange metric {metric!r} has no "
                            "per-batch aggregate form")
                    plan_key = plan_for(spec, n_chunks, chunk_by)
                    alias = add_chunk_request(plan_key, metric, mkw)
                    chunk_sinks.append((key, name, plan_key, alias, {
                        "mode": "range",
                        "estimator": pb.get("estimator", "bootstrap"),
                        "false_positive_rate": float(
                            pb.get("false_positive_rate", 0.05)),
                        "n_resamples": int(pb.get("n_resamples", 999)),
                        "round_decimals": pb.get("round_decimals"),
                        "truncate_values": pb.get("truncate_values") or {},
                        "metric_name": metric,
                        "n_chunks": n_chunks,
                        "chunk_by": chunk_by,
                    }))
                elif cls in ("SimpleDateFormatStringParameterBuilder",
                             "RegexPatternStringParameterBuilder"):
                    fkind = ("strftime"
                             if cls == "SimpleDateFormatStringParameterBuilder"
                             else "regex")
                    dk = domain_kwargs_for(pb, domain, rule_vars)
                    cands = tuple(
                        pb.get("candidate_strings") or CANDIDATE_STRFTIME
                        if fkind == "strftime"
                        else pb.get("candidate_regexes") or CANDIDATE_REGEXES)
                    thr = float(pb.get("threshold", 1.0))
                    # optional 1/sample_mod per-row sample (seeded
                    # F.rand, the reference random sampler's shape):
                    # candidate evaluation is a regex per candidate per
                    # row, plus Python strptime on the values some
                    # strftime prefilter admits, so at 10^12 rows it
                    # runs on a sample — format detection needs unbiased
                    # ratios, not exact counts
                    smod = pb.get("sample_mod")
                    smod = int(smod) if smod else None
                    lists = fmt_plans.setdefault(smod, {}).setdefault(
                        dk["column"], ({}, {}))
                    lists[fkind == "strftime"].update(dict.fromkeys(cands))
                    fmt_sinks.append(
                        (key, name, fkind, cands, smod, dk["column"], thr))
                elif cls == "ValueSetMultiBatchParameterBuilder":
                    dk = domain_kwargs_for(pb, domain, rule_vars)
                    alias = f"m{len(metric_requests)}"
                    metric_requests[alias] = (
                        "column.distinct_values", {"column": dk["column"]})
                    metric_sinks.append((key, name, alias, cls))
                elif cls == "ValueCountsSingleBatchParameterBuilder":
                    dk = domain_kwargs_for(pb, domain, rule_vars)
                    alias = f"m{len(metric_requests)}"
                    metric_requests[alias] = (
                        "column.value_counts", {"column": dk["column"]})
                    metric_sinks.append((key, name, alias, cls))
                elif cls == "HistogramSingleBatchParameterBuilder":
                    dk = domain_kwargs_for(pb, domain, rule_vars)
                    vk = pb.get("metric_value_kwargs") or {}
                    if "bins" in pb:
                        vk.setdefault("bins", pb["bins"])
                    alias = f"m{len(metric_requests)}"
                    metric_requests[alias] = (
                        "column.histogram", {"column": dk["column"], **vk})
                    metric_sinks.append((key, name, alias, cls))
                else:
                    raise ValueError(
                        f"unknown parameter_builder class_name {cls!r}")

    # passes 2 and 2c share ONE whole-table scan aggregate: the registry
    # metrics, the value sets whose size the domain pass proved (a
    # collect_set buffer bounded by that exact count; a count over the cap
    # fails without a query) and the unsampled format plan's first scan.
    # An exact distinct count cannot ride it (no DISTINCT in observed
    # metrics): on a plain {column} domain the domain pass's count answers
    # it, all others share one query of their own
    metric_values: dict[str, Any] = {}
    aggregated = dict(metric_requests)
    counted: dict[str, int] = {}
    uncounted: dict[str, tuple[str, dict[str, Any]]] = {}
    for alias, (metric, mkw) in metric_requests.items():
        if metric not in _DISTINCT_METRICS or options.approx_distinct:
            continue
        c = mkw.get("column")
        del aggregated[alias]
        if mkw == {"column": c} and c in distinct_counts:
            counted[alias] = distinct_counts[c]
            if metric == "column.unique_proportion":
                aggregated[alias] = ("column_values.nonnull.count", mkw)
        else:
            uncounted[alias] = (metric, mkw)
    if uncounted:
        metric_values.update(get_metrics(df, uncounted, options))
    aggs, finish_metrics, eager = plan_metrics(aggregated, options)
    types = {f.name: f.dataType for f in df.schema.fields}
    value_sets: list[str] = []
    for alias in eager:
        metric, mkw = metric_requests[alias]
        c = mkw.get("column")
        n = distinct_counts.get(c)
        if (metric != "column.distinct_values" or mkw != {"column": c}
                or n is None or isinstance(types.get(c), _NESTED)):
            metric_values[alias] = _eager(df, metric, mkw, options)
        elif n > options.distinct_set_cap:
            raise _distinct_set_overflow(c, options)
        else:
            aggs.append(F.collect_set(F.col(c)).alias(f"vs{alias}"))
            value_sets.append(alias)
    fmt_plan = {c: (list(r), list(f))
                for c, (r, f) in fmt_plans.pop(None, {}).items()}
    # thresholds are applied per sink below
    projections, fmt_aggs, fmt_finish = format_count_plan(df, fmt_plan, 0.0)
    row = None
    if aggs or fmt_aggs:
        src = df.select("*", *projections) if projections else df
        row = scan_aggregate(src, [*aggs, *fmt_aggs])
    if aggs:
        metric_values.update(finish_metrics(row))
        for alias in value_sets:
            metric_values[alias] = _collected_set(row[f"vs{alias}"])
    for alias, d in counted.items():
        if metric_requests[alias][0] == "column.unique_proportion":
            n = metric_values[alias]  # the non-null count
            metric_values[alias] = d / n if n else None
        else:
            metric_values[alias] = d
    fmt_results: dict[int | None, dict] = {None: fmt_finish(row)}
    for key, name, alias, cls in metric_sinks:
        v = metric_values[alias]
        metric, dk = metric_requests[alias]
        if cls == "ValueSetMultiBatchParameterBuilder":
            vals = v if isinstance(v, list) else list(v)
            entry = {"value": _sorted_value_set(
                [x for x in vals if x is not None]),
                "details": {"metric_configuration": {
                    "metric_name": "column.distinct_values",
                    "domain_kwargs": dk}}}
        elif cls == "MetricMultiBatchParameterBuilder":
            entry = {"value": [v], "details": {
                "metric_configuration": {"metric_name": metric,
                                         "domain_kwargs": dk},
                "num_batches": 1}}
        else:
            entry = {"value": v, "details": {
                "metric_configuration": {"metric_name": metric,
                                         "domain_kwargs": dk}}}
        out[key][name] = entry

    # pass 2b: one groupBy per distinct batching (real or pseudo) — the
    # driver holds one row per batch, never per input row
    chunk_rows = {
        plan_key: batch_metrics(df, plan["requests"], plan["key"], options)
        for plan_key, plan in chunk_plans.items()}
    for key, name, plan_key, alias, spec in chunk_sinks:
        rows = chunk_rows[plan_key]
        real = plan_key[0] == "real"
        if spec["mode"] == "multibatch_values":
            out[key][name] = {
                "value": [vals[alias] for _, vals in rows],
                "details": {
                    "metric_configuration": {
                        "metric_name": spec["metric_name"]},
                    "num_batches": len(rows),
                    "batch_identifiers": [str(b) for b, _ in rows],
                    "batching": chunk_plans[plan_key]["label"],
                }}
            continue
        values = [vals[alias] for _, vals in rows if vals[alias] is not None]
        if any(isinstance(v, list) for v in values):
            raise ValueError(
                f"NumericMetricRange metric {spec['metric_name']!r} is not "
                "scalar")
        details = {
            "estimator": spec["estimator"],
            "metric_configuration": {"metric_name": spec["metric_name"]},
            "num_batches": len(rows) if real else spec["n_chunks"],
            "batching": chunk_plans[plan_key]["label"],
        }
        if real:
            details["batch_identifiers"] = [str(b) for b, _ in rows]
        else:
            details["chunk_by"] = spec["chunk_by"]
        if not values:
            # all-null column / empty df: annotate and keep profiling the
            # other parameters instead of letting estimate_range raise
            out[key][name] = {"value": [None, None], "details": {
                **details,
                "note": "no non-null chunk aggregates; range undefined",
            }}
            continue
        lo, hi = estimate_range(
            values, estimator=spec["estimator"],
            false_positive_rate=spec["false_positive_rate"],
            n_resamples=spec["n_resamples"])
        trunc = spec["truncate_values"]
        if trunc.get("lower_bound") is not None:
            lo = max(lo, float(trunc["lower_bound"]))
        if trunc.get("upper_bound") is not None:
            hi = min(hi, float(trunc["upper_bound"]))
        rd = spec["round_decimals"]
        if rd is not None:
            lo, hi = round(lo, int(rd)), round(hi, int(rd))
            if rd == 0:
                lo, hi = int(lo), int(hi)
        out[key][name] = {"value": [lo, hi], "details": details}

    # pass 2c: one infer_formats_by_column per sampled format plan
    for smod, plan in fmt_plans.items():
        src = df
        if smod and smod > 1:
            # PER-ROW 1/smod sample (the reference random sampler's
            # F.rand(seed) < p shape, sparkdf_data_sampler.py) — row-wise
            # so match RATIOS stay unbiased; value-keyed hashing would
            # include/exclude whole value groups and skew the ratio on
            # low-cardinality or skewed columns. Persisted: the strptime
            # confirm scan reads the sample again, and F.rand over rows
            # whose order differs between reads (a shuffle's output)
            # would draw a different sample
            src = (df.where(F.rand(seed=smod) < 1.0 / smod)
                   .select(*[F.col(c) for c in plan if c in df.columns])
                   .persist(StorageLevel.MEMORY_AND_DISK))
        try:
            fmt_results[smod] = infer_formats_by_column(
                src, {c: (list(r), list(s)) for c, (r, s) in plan.items()},
                threshold=0.0)  # thresholds applied per sink below
        finally:
            if src is not df:
                src.unpersist()
    for key, name, kind, cands, smod, col, thr in fmt_sinks:
        info = fmt_results[smod].get(col)
        section = (info or {}).get(kind, {})
        ratios = {c: section["ratios"][c] for c in cands} if section else {}
        best, best_ratio = best_candidate(ratios, thr)
        detail_key = ("candidate_strings" if kind == "strftime"
                      else "evaluated_regexes")
        details = {"success_ratio": best_ratio, detail_key: dict(ratios)}
        if smod:
            details["sample_mod"] = smod
        out[key][name] = {"value": best, "details": details}
    return out


# --------------------------------------------------------------------- run


@dataclass
class RuleBasedProfilerResult:
    """``suite`` — every emitted expectation, rule by rule, domain by
    domain; ``parameters[rule][domain_label][param]`` = {value, details};
    ``domains[rule]`` = resolved domain-kwargs dicts (reference
    RuleBasedProfilerResult fields, rule_based_profiler_result.py:40)."""

    suite: ExpectationSuite
    parameters: dict[str, dict[str, dict[str, dict]]] = field(
        default_factory=dict)
    domains: dict[str, list[dict]] = field(default_factory=dict)

    @property
    def expectation_configurations(self) -> list[ExpectationConfiguration]:
        return list(self.suite.expectations)


_META_KEYS = {"class_name", "module_name", "expectation_type", "condition",
              "meta"}


def run_rule_based_profiler(
    df: DataFrame,
    config: dict | str,
    variables: dict | None = None,
    options: Any = None,
    batch_spec: dict | None = None,
) -> RuleBasedProfilerResult:
    """Run a reference RuleBasedProfiler config against ``df``.

    ``config``: the reference's config dict (``name``, ``config_version``,
    ``variables``, ``rules``) — ``class_name``/``module_name`` noise keys
    are ignored wherever they appear, so a YAML file written for the
    reference loads unchanged (pass YAML text when PyYAML is available).
    ``variables`` overrides merge over the config's (reference run(...)
    variables argument, rule_based_profiler.py:206).

    ``batch_spec``: a splitter spec (see ``batch_key_expr``) carving the
    DataFrame into GENUINE batches for every ``*MultiBatch`` builder —
    the engine's equivalent of the reference's batch-request list
    (rule_based_profiler.py:244 ``run()`` iterates real Batches; here
    all batches ride one ``groupBy(batch_key)``). May also appear at
    config level (``config["batch_spec"]``) or per rule
    (``rule["batch_spec"]``, most specific wins). Without one,
    ``NumericMetricRange*`` builders fall back to md5 pseudo-chunks and
    ``MetricMultiBatch`` degrades to the single-batch value; with one,
    only eager metrics (value_counts, distinct_values, ...) do.

    Oracles: rule_profiler_events (ranges + categorical value sets
    replayed in DuckDB at the digit level), rule_profiler_real_batches
    (date-part splitter batches replayed as per-day GROUP BY).
    """
    if isinstance(config, str):
        try:
            import yaml  # type: ignore
        except Exception as e:  # pragma: no cover - sandbox has no pyyaml
            raise ValueError(
                "YAML config text needs PyYAML; pass the parsed dict "
                "instead") from e
        config = yaml.safe_load(config)
    if not isinstance(config, dict) or "rules" not in config:
        raise ValueError("profiler config must be a dict with 'rules'")
    rules: dict[str, dict] = config["rules"]
    merged_vars = {**(config.get("variables") or {}), **(variables or {})}

    from great_expectations_spark.plans.compiler import Options

    options = options or Options()

    run_spec = batch_spec or config.get("batch_spec")
    batch_specs = {rname: rule.get("batch_spec") or run_spec
                   for rname, rule in rules.items()}

    domains, distinct_counts = _resolve_domains(df, rules)
    params = _resolve_parameters(df, rules, domains, merged_vars, options,
                                 batch_specs, distinct_counts)

    suite = ExpectationSuite(str(config.get("name", "rule_based_profiler")))
    parameters: dict[str, dict[str, dict[str, dict]]] = {}
    domains_out: dict[str, list[dict]] = {}
    for rname, rule in rules.items():
        rule_vars = {**merged_vars, **(rule.get("variables") or {})}
        domains_out[rname] = [d.as_dict() for d in domains.get(rname, [])]
        for domain in domains.get(rname, []):
            p = params.get((rname, domain), {})
            parameters.setdefault(rname, {})[domain.label] = p
            for ecb in rule.get("expectation_configuration_builders", []) or []:
                cls = ecb.get("class_name",
                              "DefaultExpectationConfigurationBuilder")
                if cls != "DefaultExpectationConfigurationBuilder":
                    raise ValueError(
                        f"unknown expectation_configuration_builder {cls!r}")
                if ecb.get("validation_parameter_builder_configs"):
                    # nested per-builder parameter configs would silently
                    # leak into expectation kwargs — refuse loudly; hoist
                    # them into the rule's parameter_builders instead
                    raise ValueError(
                        "validation_parameter_builder_configs are not "
                        "supported — declare the builder under the rule's "
                        "parameter_builders and reference it by $parameter")
                etype = ecb["expectation_type"]
                cond = ecb.get("condition")
                if cond is not None and not _eval_condition(
                        str(cond), rule_vars, domain, p):
                    continue
                kwargs = {
                    k: _substitute(v, rule_vars, domain, p)
                    for k, v in ecb.items() if k not in _META_KEYS
                }
                meta = _substitute(ecb.get("meta") or {}, rule_vars, domain, p)
                suite.extend([ExpectationConfiguration(
                    expectation_type=etype, kwargs=kwargs, meta=meta)])
    return RuleBasedProfilerResult(
        suite=suite, parameters=parameters, domains=domains_out)
