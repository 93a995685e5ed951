"""Suite → fused-plan compiler.

Each expectation compiles to a ``Compiled`` record declaring:
  * ``aggs``   — keyed aggregate Columns folded into ONE suite-wide scan
                 aggregate (pass 1). Keys are metric ids; identical
                 keys across expectations are computed once (the metric-dedup
                 idea of the reference's ValidationGraph —
                 validator/validation_graph.py:96-100 — moved to plan time).
                 No DISTINCT aggregate: pass 1 runs as observed metrics.
  * ``aggs2``  — second-wave aggregates whose expressions depend on wave-1
                 metric VALUES (z-scores need mean/std first; reference
                 resolves these as graph waves — validation_graph.py:325-347).
                 All wave-2 requests across the suite fuse into one more agg.
  * ``eager``  — metrics that need their own shaped job (groupBy uniqueness,
                 anti-joins). One job per request, but only for
                 expectations that actually need them.
  * ``value_counts`` / ``distinct_count`` / ``group_kernel`` — declarations
                 on a ``ValueDomain`` (column, row_condition): the validator
                 plans ONE bounded value-count query per domain that some
                 expectation reads counts from (categorical KL,
                 chi-square), or whose exact distinct count a violated
                 single-column map expectation can share it with; the same
                 rows give the domain's exact distinct counts (the number
                 of groups) and the samples of its violated single-column
                 map expectations. An exact distinct count with no such
                 query runs a count-only one.
  * ``finalize`` — driver-side math turning metric values into an EVR
                 (mostly-ratio: expectation.py:3576-3586; min/max bounds:
                 expectation.py:2339-2433).
  * ``kernel`` — the row-level condition for the violation pass (pass 2),
                 which runs per *violated* expectation only.

Unlike the reference (each eager metric = its own Spark action; dozens of
jobs per suite), a suite of N expectations here costs: 1 fused scan job +
1 optional wave-2 scan job + one job per uniqueness/referential/
distribution-eager expectation + one value-count query per declared
domain + one count-only query per exact distinct count no value-count
query serves + one bounded job per violated map expectation whose
violation samples are not already in hand. Most of a small validation's
cost is fixed work per query and per job (analysis, adaptive re-planning
per stage, scheduling), not executor time, so the plan counts queries and
jobs: a scan aggregate is one job where an exchanged ``df.agg`` is two,
and an exact ``count(DISTINCT c)`` inside it would regroup every other
aggregate buffer by ``c``.
"""

from __future__ import annotations

import dataclasses
import math
from dataclasses import dataclass, field
from typing import Any, Callable, Mapping

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from great_expectations_spark.core.result import ExpectationValidationResult as EVR
from great_expectations_spark.core.result_format import ResultFormat
from great_expectations_spark.core.suite import ExpectationConfiguration
from great_expectations_spark.functions import stats
from great_expectations_spark.functions.conditions import MAP_KERNELS, MapKernel


@dataclass
class Options:
    """Engine knobs. ``approx`` trades exactness for 100TB-scale sketches:
    countDistinct → approx_count_distinct (HLL++), exact percentile accuracy
    stays bounded. Tests run exact; bench runs approx."""

    approx_distinct: bool = False
    percentile_accuracy: int = 10000
    # exact rank-based quantiles (approxQuantile(..., 0)'s values) folded
    # into the fused pass-1 aggregate; False uses a GK sketch at
    # percentile_accuracy instead (10^12-row mode)
    exact_quantiles: bool = True
    complete_list_cap: int = 100_000
    distinct_set_cap: int = 100_000
    # exact interpolated median (F.percentile: buffers the column per
    # partition, and pass 1's observed metrics send those buffers to the
    # driver — 324 s over 10^7 rows where an exchange took 115 s, and the
    # default spark.driver.maxResultSize near 4×10^7; switch off above
    # ~10^7 for the GK sketch; exact_quantiles alike)
    exact_median: bool = True
    # parameterized-KS sample bound (scipy runs on the driver)
    ks_sample_cap: int = 100_000
    # eager shaped jobs (uniqueness / referential / distribution /
    # monotonic) are independent per-expectation Spark actions writing
    # config-id-namespaced metric keys; submitting them from worker
    # threads lets the scheduler overlap their stages (a suite with a
    # uniqueness groupBy AND a KL value-counts job pays max() instead of
    # sum() of their walls). Updates apply on the driver thread in
    # submission order, so results are deterministic. False = sequential.
    parallel_eager: bool = True
    parallel_eager_max_threads: int = 4
    # checkpoint-chunk monoids: aggregate expectations ALSO emit their
    # commutative partial state (count/sum/min/max/mean/M2 as doubles; a
    # datasketches HLL sketch for distinct counts) inside the SAME fused
    # agg pass, attached as result["monoid"]. CheckpointResult.rollup
    # merges the partials across chunks into an exact whole-table verdict
    # (north rule: sketches merged via commutative monoid aggregation)
    # instead of the conservative AND-of-chunks. Off by default: plain
    # validate() results stay byte-identical.
    chunk_monoids: bool = False
    # datasketches KLL k for the median/quantile chunk monoid (mergeable
    # quantile sketch; the north rule's "t-digest/approx_percentile for
    # quantiles ... merged via commutative monoid aggregation"). k=800 →
    # ~0.4% normalized rank error, ~14 KB serialized per chunk.
    kll_k: int = 800


Metrics = Mapping[str, Any]


@dataclass(frozen=True)
class ValueDomain:
    """The non-null values of ``column`` on the rows a row_condition keeps
    (``rc_id`` its text, ``rc`` its predicate): the domain of ONE shared
    value-count query per validation (``shared_value_counts``)."""

    column: str
    rc_id: str = ""
    rc: Column | None = field(default=None, compare=False, hash=False)

    @property
    def counts_key(self) -> str:
        return f"value_counts|{self.column}|{self.rc_id}"

    @property
    def distinct_key(self) -> str:
        return f"column.distinct_count.exact|{self.column}|{self.rc_id}"


@dataclass
class Compiled:
    config: ExpectationConfiguration
    finalize: Callable[[Metrics], EVR]
    aggs: dict[str, Column] = field(default_factory=dict)
    aggs2: Callable[[Metrics], dict[str, Column]] | None = None
    eager: Callable[[DataFrame, Metrics], dict[str, Any]] | None = None
    kernel: MapKernel | None = None
    schema_only: bool = False
    # wave-2 kernel builder (z-score violation pass needs wave-1 values)
    kernel2: Callable[[Metrics], MapKernel] | None = None
    # pass-1 aggregates whose expression depends on a column's type (an
    # expression that cannot analyze over the input would fail the whole
    # fused aggregate): built from the frame's schema, merged into ``aggs``
    typed_aggs: Callable[[T.StructType], dict[str, Column]] | None = None
    # shared value-count declarations (the validator plans one query per
    # domain): finalize reads the domain's ``{value: count}`` under
    # ``counts_key`` ...
    value_counts: ValueDomain | None = None
    # ... or its exact non-null distinct count under ``distinct_key``
    distinct_count: ValueDomain | None = None
    # a single-column scalar map kernel WITHOUT its row_condition, and the
    # domain it was declared on: its violations can be counted per group of
    # that domain's value-count query instead of re-read from rows
    group_kernel: tuple[ValueDomain, MapKernel] | None = None

    def pass1_aggs(self, schema: T.StructType) -> dict[str, Column]:
        if self.typed_aggs is None:
            return self.aggs
        return {**self.aggs, **self.typed_aggs(schema)}


COMPILERS: dict[str, Callable[[ExpectationConfiguration, Options], Compiled]] = {}


def compiler(name: str):
    def deco(fn):
        COMPILERS[name] = fn
        return fn

    return deco


class CompileError(ValueError):
    pass


# Compiled records are DataFrame-independent (unresolved Column exprs +
# pure finalize closures), so identical (expectation, options) pairs are
# reused — checkpoint chunks and streaming micro-batches revalidate the
# same suite hundreds of times without re-building expression trees.
_COMPILE_CACHE: dict[tuple, Compiled] = {}
_COMPILE_CACHE_MAX = 4096


def _cache_key(config: ExpectationConfiguration, options: Options):
    import json

    try:
        kw = json.dumps(config.kwargs, sort_keys=True, default=repr)
        # finalize closures capture the whole config object, so meta is part
        # of the cached record's identity: same kwargs + different meta must
        # not share EVRs
        meta = json.dumps(config.meta, sort_keys=True, default=repr)
    except Exception:
        return None
    return (config.expectation_type, kw, meta,
            tuple(sorted(options.__dict__.items())))


def compile_expectation(config: ExpectationConfiguration, options: Options) -> Compiled:
    et = config.expectation_type
    m = config.kwargs.get("mostly")
    if m is not None:
        m = float(m)
        if not 0 <= m <= 1:
            raise CompileError("mostly must be between 0 and 1")
    key = _cache_key(config, options)
    if key is not None and key in _COMPILE_CACHE:
        return _COMPILE_CACHE[key]
    if et in COMPILERS:
        compiled = COMPILERS[et](config, options)
    elif et in MAP_KERNELS:
        compiled = _compile_map(config, options)
    else:
        raise CompileError(f"unknown expectation_type: {et}")
    if key is not None:
        if len(_COMPILE_CACHE) >= _COMPILE_CACHE_MAX:
            _COMPILE_CACHE.clear()
        _COMPILE_CACHE[key] = compiled
    return compiled


def supported_expectations() -> list[str]:
    return sorted(set(COMPILERS) | set(MAP_KERNELS))


def invalidate_cache(expectation_type: str) -> None:
    """Drop cached Compiled records for one expectation type (plugin
    re-registration changes the kernel behind the same cache key)."""
    for key in [k for k in _COMPILE_CACHE if k[0] == expectation_type]:
        del _COMPILE_CACHE[key]


# --------------------------------------------------------------------- utils


def _row_condition(kwargs: dict[str, Any]) -> Column | None:
    """Raw Spark-SQL row_condition (reference condition_parser="spark",
    sparkdf_execution_engine.py:532-552). Instead of pre-filtering the
    DataFrame per domain, the predicate is folded into each conditional
    aggregate so every domain still shares the single fused scan."""
    rc = kwargs.get("row_condition")
    if not rc:
        return None
    parser = kwargs.get("condition_parser", "spark")
    if parser not in ("spark", "great_expectations__experimental__"):
        raise CompileError(f"unsupported condition_parser {parser!r}")
    if parser == "great_expectations__experimental__":
        # GE mini-DSL: col("x") <op> literal | col("x").notnull() — rewrite
        # to SQL (reference expectations/row_conditions.py:45-70; .notnull()
        # grammar at :66-69, case-insensitive)
        import re

        rc = re.sub(
            r'col\("([^"]+)"\)\s*\.notnull\(\)', r"`\1` IS NOT NULL", rc,
            flags=re.IGNORECASE,
        )
        rc = re.sub(r'col\("([^"]+)"\)', r"`\1`", rc)
    return F.expr(rc)


def _guard(expr: Column, rc: Column | None) -> Column:
    return F.when(rc, expr) if rc is not None else expr


def _cnt_key(rc_id: str) -> str:
    return f"table.row_count|{rc_id}"


def _rc_id(kwargs: dict[str, Any]) -> str:
    return str(kwargs.get("row_condition") or "")


def _count_agg(rc: Column | None) -> Column:
    return F.count(_guard(F.lit(1), rc))


def _bool_sum(cond: Column) -> Column:
    return F.sum(F.when(cond, F.lit(1)).otherwise(F.lit(0)))


def _between_success(value: Any, kwargs: dict[str, Any]) -> bool:
    """min/max/strict bounds (reference _validate_metric_value_between,
    expectations/expectation.py:2339-2433)."""
    if value is None:
        return False
    lo, hi = kwargs.get("min_value"), kwargs.get("max_value")
    strict_min = bool(kwargs.get("strict_min", False))
    strict_max = bool(kwargs.get("strict_max", False))
    import datetime as _dt

    def bound(b):
        # datetime observed vs string bound: parse the bound (reference
        # accepts ISO strings for timestamp columns)
        if isinstance(value, (_dt.datetime, _dt.date)) and isinstance(b, str):
            try:
                parsed = _dt.datetime.fromisoformat(b)
            except ValueError:
                from dateutil import parser as _p

                parsed = _p.parse(b)
            if isinstance(value, _dt.datetime):
                return parsed
            return parsed.date()
        return b

    # NaN observed value: every comparison is False, so the inverted bound
    # checks below would silently PASS it — the reference's 'value >= min'
    # form fails NaN; match that
    if isinstance(value, float) and math.isnan(value):
        return False
    try:
        lo, hi = bound(lo), bound(hi)
        if lo is not None and (value <= lo if strict_min else value < lo):
            return False
        if hi is not None and (value >= hi if strict_max else value > hi):
            return False
    except TypeError:
        return False
    return True


def _ascending_nulls_first(v: Any) -> tuple:
    """Sort key ordering values as Spark's ``asc_nulls_first`` does: NULL
    first, NaN above every other number, arrays and structs element by
    element. Strings compare by code point, which is the order of their
    UTF-8 bytes; binary values by unsigned byte."""
    if v is None:
        return (0,)
    if isinstance(v, float) and v != v:
        return (2,)
    if isinstance(v, (list, tuple)):
        return (1, tuple(_ascending_nulls_first(x) for x in v))
    return (1, v)


def unexpected_lists(cid: str, rf: Any, need: int, ascending: list[tuple[Any, int]],
                     top: list[tuple[Any, int]] | None = None) -> dict[str, Any]:
    """The violation lists of a map expectation from ``(value, count)``
    pairs, each value standing for ``count`` unexpected rows. ``ascending``
    is in ascending value order; ``need`` is how many values the lists
    take (``complete_list_cap`` at COMPLETE, else the partial count k).
    ``partial_unexpected_list``: the k smallest unexpected values, each
    repeated by its count; SUMMARY's ``partial_unexpected_counts``: the k
    pairs of ``top`` — by default ``ascending`` ordered by count
    descending, then value; COMPLETE's ``unexpected_list``: the first
    ``need`` values. Both definitions hold on any partition layout."""
    k = rf.partial_unexpected_count
    vals: list = []
    for v, c in ascending:
        if len(vals) >= need:
            break
        vals.extend([_py(v)] * min(c, need - len(vals)))
    out: dict[str, Any] = {f"partial_unexpected_list|{cid}": vals[:k]}
    if rf.at_least("SUMMARY"):
        if top is None:
            top = sorted(ascending, key=lambda t: -t[1])  # stable: ties keep value order
        out[f"partial_unexpected_counts|{cid}"] = [
            {"value": _py(v), "count": c} for v, c in top[:k]]
    if rf.at_least("COMPLETE"):
        out[f"unexpected_list|{cid}"] = vals
    return out


def _py(v: Any) -> Any:
    """Normalize JVM/numpy scalars to plain Python for JSON-able EVRs.
    Datetimes serialize to ISO strings (reference EVR JSON convention)."""
    import datetime as _dt

    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.floating,)):
        return float(v)
    if isinstance(v, _dt.datetime):
        return v.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if hasattr(v, "asDict"):
        return {k: _py(x) for k, x in v.asDict().items()}
    if isinstance(v, list):
        return [_py(x) for x in v]
    return v


# -------------------------------------------------------- map expectations


# expectations whose reference implementation requires a string-typed column
_STRING_ONLY_MAP_TYPES = {
    "expect_column_values_to_match_strftime_format",
    "expect_column_values_to_be_dateutil_parseable",
}


def _compile_map(config: ExpectationConfiguration, options: Options) -> Compiled:
    kwargs = config.kwargs
    kernel = MAP_KERNELS[config.expectation_type](kwargs)
    rc = _row_condition(kwargs)
    group_kernel = None
    if (kernel.value_format == "scalar" and not kernel.null_unexpected
            and kernel.columns == [kwargs.get("column")]):
        group_kernel = (ValueDomain(kwargs["column"], _rc_id(kwargs), rc), kernel)
    if rc is not None:
        # dataclasses.replace keeps every other kernel field (value_format
        # etc.) — rebuilding field-by-field silently reset pair/record
        # value shaping for row-conditioned expectations
        kernel = dataclasses.replace(kernel, include=kernel.include & rc)
    rcid = _rc_id(kwargs)
    k_elem = _cnt_key(rcid)
    k_missing = f"missing|{config.id}"
    k_unexp = f"unexpected_count|{config.id}"
    # NULL ok is NOT unexpected (reference spark semantics: the unexpected
    # filter keeps rows where the negated condition is literally TRUE, so
    # three-valued NULL comparisons fall out — e.g. isin over a set
    # containing None)
    unexpected = kernel.include & F.coalesce(~kernel.ok, F.lit(False))
    aggs = {
        k_elem: _count_agg(rc),
        k_missing: _bool_sum(_guard(~kernel.include, rc) if rc is not None else ~kernel.include),
        k_unexp: _bool_sum(unexpected),
    }

    def finalize(metrics: Metrics) -> EVR:
        if config.expectation_type in _STRING_ONLY_MAP_TYPES:
            schema = metrics.get("__schema__")
            c = kwargs.get("column")
            if schema is not None and c in schema.fieldNames():
                if not isinstance(schema[c].dataType, T.StringType):
                    raise ValueError(
                        f"Values passed to {config.expectation_type} must be of "
                        "type string.\nIf you want to validate a column of dates "
                        "or timestamps, please call the expectation before "
                        "converting from string format.")
        return _map_finalize(config, metrics, k_elem, k_missing, k_unexp)

    return Compiled(config=config, finalize=finalize, aggs=aggs, kernel=kernel,
                    group_kernel=group_kernel)


def _map_finalize(
    config: ExpectationConfiguration,
    metrics: Metrics,
    k_elem: str,
    k_missing: str,
    k_unexp: str,
) -> EVR:
    """Counts → EVR with the reference's map-output field set
    (expectations/expectation.py:3411-3555) and mostly semantics
    (:3576-3586): success = (nonmissing - unexpected)/nonmissing >= mostly."""
    kwargs = config.kwargs
    element_count = int(metrics.get(k_elem) or 0)
    missing_count = int(metrics.get(k_missing) or 0)
    unexpected_count = int(metrics.get(k_unexp) or 0)
    nonmissing = element_count - missing_count
    mostly = float(kwargs.get("mostly", 1.0))

    if nonmissing <= 0:
        success = True  # vacuous truth (reference expectation.py:2846-2848)
        unexpected_percent = None
    else:
        ratio = (nonmissing - unexpected_count) / nonmissing
        success = ratio >= mostly
        unexpected_percent = 100.0 * unexpected_count / nonmissing

    result: dict[str, Any] = {
        "element_count": element_count,
        "unexpected_count": unexpected_count,
        "unexpected_percent": unexpected_percent,
        "unexpected_percent_nonmissing": unexpected_percent,
        "unexpected_percent_total": (
            100.0 * unexpected_count / element_count if element_count else None
        ),
        "missing_count": missing_count,
        "missing_percent": (100.0 * missing_count / element_count) if element_count else None,
    }
    # violation lists are attached by the engine (pass 2) under these keys
    for extra in (
        "partial_unexpected_list",
        "partial_unexpected_counts",
        "unexpected_list",
        "unexpected_index_list",
        "unexpected_index_query",
        "unexpected_rows",
    ):
        if f"{extra}|{config.id}" in metrics:
            result[extra] = metrics[f"{extra}|{config.id}"]
    return EVR(success=bool(success), expectation_config=config, result=result)


# --------------------------------------------- column aggregate expectations


def _count_keys_aggs(c: str, kwargs: dict[str, Any], rc: Column | None):
    """element/missing count metrics every column-aggregate EVR carries
    (reference aggregate results include element_count/missing_count)."""
    rcid = _rc_id(kwargs)
    k_total = _cnt_key(rcid)
    k_nn = f"column.nonnull|{c}|{rcid}"
    return (k_total, k_nn), {
        k_total: _count_agg(rc),
        k_nn: F.count(_guard(F.col(c), rc)),
    }


def _with_counts(result: dict, metrics: Metrics, k_total: str, k_nn: str) -> dict:
    total = int(metrics.get(k_total) or 0)
    nn = int(metrics.get(k_nn) or 0)
    missing = total - nn
    result.update({
        "element_count": total,
        "missing_count": missing,
        "missing_percent": (100.0 * missing / total) if total else None,
    })
    return result


# ---- chunk-monoid partials (Options.chunk_monoids) --------------------------
# Commutative partial state fused into the SAME single agg pass so that
# CheckpointResult.rollup can merge chunk results into an exact whole-table
# aggregate verdict. Numeric partials go through try_cast(double), so they
# are built (``_numeric_aggs``) and attached only when the column's schema
# type is numeric (a merged double min over strings/timestamps would
# silently change comparison semantics): non-numeric aggregate expectations
# keep AND-of-chunks.

_MONOID_FIELDS: dict[str, tuple[str, ...]] = {
    "mean": ("count", "sum"),
    "sum": ("count", "sum"),
    "min": ("count", "min"),
    "max": ("count", "max"),
    # centered partials (count, mean, M2): raw (sum, sumsq) re-derivation
    # cancels catastrophically for large-magnitude columns (values ~1e9
    # with stdev ~1 leave the signal below one double ULP of sumsq);
    # per-chunk M2 comes from Spark's numerically stable central-moment
    # var_samp, chunks merge via Chan's parallel formula in rollup
    "stdev": ("count", "mean", "m2"),
    # mergeable quantile sketch (datasketches KLL): median and
    # quantile_values merge across chunks to a whole-table estimate within
    # the sketch's rank error (~2.3/k^0.937); count guards the empty sketch
    "kll_median": ("count", "kll"),
    "kll_quantiles": ("count", "kll"),
}


def _monoid_aggs(kind: str, guarded: Column, key: str,
                 options: Options) -> dict[str, str]:
    """Register the partial-state agg columns for ``kind`` under
    ``monoid.<kind>.<field>|<key>`` metric ids; returns field → metric id."""
    d = guarded.try_cast("double")
    exprs = {
        "count": F.count(d),
        "sum": F.sum(d),
        "min": F.min(d),
        "max": F.max(d),
        "mean": F.avg(d),
        # M2 = var_samp * (n-1); n<=1 → var_samp NULL → 0 (no spread seen)
        "m2": F.coalesce(F.var_samp(d) * (F.count(d) - F.lit(1)), F.lit(0.0)),
        "kll": F.base64(F.kll_sketch_agg_double(d, F.lit(options.kll_k))),
    }
    return {f: (f"monoid.{kind}.{f}|{key}", exprs[f]) for f in _MONOID_FIELDS[kind]}


def _numeric_aggs(c: str, aggs: dict[str, Column]):
    """``Compiled.typed_aggs`` that adds ``aggs`` only over a numeric column
    ``c``: their double casts do not analyze over dates or binaries, and a
    non-numeric column attaches no monoid anyway."""
    def build(schema: T.StructType) -> dict[str, Column]:
        return aggs if isinstance(schema[c].dataType, T.NumericType) else {}

    return build


def _attach_numeric_monoid(result: dict, metrics: Metrics, kind: str,
                           mkeys: dict, c: str) -> dict:
    schema = metrics.get("__schema__")
    if (schema is not None and c in schema.fieldNames()
            and isinstance(schema[c].dataType, T.NumericType)):
        result["monoid"] = {
            "kind": kind,
            **{f: _py(metrics.get(k)) for f, (k, _) in mkeys.items()},
        }
    return result


def _hll_sketch_b64(guarded: Column) -> Column:
    """Mergeable distinct-count sketch over the STRING image of the column
    (datasketches HLL accepts int/long/string/binary only; casting to string
    is injective for all atomic types, so the estimate is unchanged)."""
    return F.base64(F.hll_sketch_agg(guarded.cast("string")))


def _agg_between(
    name: str,
    agg_builder: Callable[[dict[str, Any], Column | None, Options], Column],
    require_numeric: bool = False,
    monoid_kind: str | None = None,
):
    @compiler(name)
    def _c(config: ExpectationConfiguration, options: Options) -> Compiled:
        kwargs = config.kwargs
        rc = _row_condition(kwargs)
        c = kwargs["column"]
        col = F.col(c)
        key = f"{name}|{c}|{_rc_id(kwargs)}"
        (k_total, k_nn), count_aggs = _count_keys_aggs(c, kwargs, rc)
        aggs = {key: agg_builder(kwargs, _guard(col, rc), options), **count_aggs}
        mkeys: dict = {}
        typed_aggs = None
        if options.chunk_monoids and monoid_kind is not None:
            mkeys = _monoid_aggs(monoid_kind, _guard(col, rc), key, options)
            typed_aggs = _numeric_aggs(c, dict(mkeys.values()))

        def finalize(metrics: Metrics) -> EVR:
            if require_numeric:
                schema = metrics.get("__schema__")
                if (schema is not None and c in schema.fieldNames()
                        and not isinstance(schema[c].dataType, T.NumericType)):
                    # reference column_mean.py:31-36 requires a numeric dtype
                    raise ValueError(
                        f"{name} requires a numeric column, got "
                        f"{schema[c].dataType.simpleString()}")
            # success is judged on the RAW metric value so datetime observed
            # values compare against parsed datetime bounds
            # (reference expectation.py:2392-2410); _py only shapes the
            # JSON-able result payload
            raw = metrics.get(key)
            result = _with_counts({"observed_value": _py(raw)}, metrics, k_total, k_nn)
            if mkeys:
                _attach_numeric_monoid(result, metrics, monoid_kind, mkeys, c)
            return EVR(
                success=_between_success(raw, kwargs),
                expectation_config=config,
                result=result,
            )

        return Compiled(config=config, finalize=finalize, aggs=aggs,
                        typed_aggs=typed_aggs)

    return _c


_agg_between("expect_column_mean_to_be_between", lambda k, c, o: F.mean(c),
             require_numeric=True, monoid_kind="mean")
_agg_between("expect_column_sum_to_be_between", lambda k, c, o: F.sum(c),
             monoid_kind="sum")
_agg_between("expect_column_min_to_be_between", lambda k, c, o: F.min(c),
             monoid_kind="min")
_agg_between("expect_column_max_to_be_between", lambda k, c, o: F.max(c),
             monoid_kind="max")
_agg_between("expect_column_stdev_to_be_between", lambda k, c, o: F.stddev_samp(c),
             monoid_kind="stdev")
_agg_between("expect_column_median_to_be_between",
             lambda k, c, o: _median_agg(c, o), monoid_kind="kll_median")


def _bounded_group_counts(
    df: DataFrame, group_cols: list[str], cap: int, where: Column | None = None,
    extra: list[Column] = (),
) -> list:
    """groupBy value-counts with a hard driver-transfer bound: collects at
    most ``cap + 1`` groups and raises (→ exception_info) when the column's
    cardinality exceeds ``Options.distinct_set_cap``. Keeps the value-count
    paths (Cramér's phi, ``column.value_counts``; KL and chi-square through
    ``shared_value_counts``) from shipping an unbounded count table to the
    driver (the reference shares this flaw — dataset.py value_counts
    collects all)."""
    d = df
    if where is not None:
        d = d.where(where)
    groups = d.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("__n"))
    if extra:  # per-group expressions over the grouping columns
        groups = groups.select("*", *extra)
    rows = groups.limit(cap + 1).collect()
    if len(rows) > cap:
        raise _group_overflow(group_cols, cap)
    return rows


class GroupOverflow(ValueError):
    """A value-count query found more than ``Options.distinct_set_cap``
    groups."""


def _group_overflow(group_cols: list[str], cap: int) -> GroupOverflow:
    return GroupOverflow(
        f"column(s) {group_cols} have more than {cap} distinct groups; "
        "categorical distribution tests are not meaningful at this "
        "cardinality — raise Options.distinct_set_cap or bucket the column "
        "first")


def shared_value_counts(
    df: DataFrame, domain: ValueDomain, cap: int, kernels: list[MapKernel] = (),
) -> tuple[list, bool]:
    """The ONE value-count query of ``domain``: ``_bounded_group_counts``'
    groupBy over the domain's non-null values (rows ``(value, __n)``, at
    most ``cap``; more raises its error). It serves the categorical KL and
    chi-square counts, the exact distinct count (the number of groups) and,
    for each of ``kernels`` (scalar kernels over the domain's column, row
    condition left out), the unexpected flag ``__u<i>`` and the reported
    value ``__v<i>`` of every group — evaluated in the same query, so each
    group stands for ``__n`` violating rows. Returns ``(rows, flagged)``;
    ``flagged`` is False when a kernel does not analyze over the grouped
    column, and the rows then carry the counts only."""
    from pyspark.errors import AnalysisException

    c = domain.column
    where = F.col(c).isNotNull()
    if domain.rc is not None:
        where = domain.rc & where
    flags = []
    for i, k in enumerate(kernels):
        flags += [(k.include & F.coalesce(~k.ok, F.lit(False))).alias(f"__u{i}"),
                  k.value.alias(f"__v{i}")]
    if flags:
        try:
            return _bounded_group_counts(df, [c], cap, where, flags), True
        except AnalysisException:
            pass  # the counts alone; pass 2 reads these samples from rows
    return _bounded_group_counts(df, [c], cap, where), False


def _shared_counts(metrics: Metrics, domain: ValueDomain) -> dict[Any, int]:
    """``{value: count}`` of the domain's shared query; the query's
    overflow error, which the validator stores in its place, raises."""
    counts = metrics.get(domain.counts_key)
    if isinstance(counts, Exception):
        raise counts
    return counts or {}


def exact_distinct_count(df: DataFrame, domain: ValueDomain) -> int:
    """The count-only query: the exact number of distinct non-null values
    of ``domain``, for a distinct count no value-count query serves. The
    groups of ``domain`` are counted as an observed metric: one exchange
    (the grouping's) and two jobs, where ``count(DISTINCT c)`` adds a
    second exchange and a third job."""
    from great_expectations_spark.sources.session import scan_aggregate

    c = F.col(domain.column)
    where = c.isNotNull() if domain.rc is None else domain.rc & c.isNotNull()
    groups = df.where(where).groupBy(c).agg(F.count(F.lit(1)).alias("__n"))
    return int(scan_aggregate(groups, [F.count(F.lit(1)).alias("n")])["n"])


# The exact-vs-sketch choices, made once: the compiler, the metric registry
# (interactive.metric_aggs) and everything routed through it — per-batch
# profiler metrics, grouped validation — build these aggregates here.


def _median_agg(col: Column, o: Options) -> Column:
    """Median of ``col``. Reference column_median.py:90-121 averages the two
    middle elements on even counts (exact approxQuantile) — F.percentile
    interpolates the same way; GK sketch for 10^12-row runs via
    ``exact_median=False``."""
    if o.exact_median:
        return F.percentile(col, F.lit(0.5))
    return F.percentile_approx(col, 0.5, o.percentile_accuracy)


def _quantiles_agg(col: Column, qs: float | list[float], o: Options) -> Column:
    """Interpolated (type-7) quantile of ``col`` at one probability, or an
    array of them for a list: exact F.percentile (buffers the column per
    group), or the GK sketch when ``exact_quantiles`` is off."""
    p = (F.array(*[F.lit(float(q)) for q in qs]) if isinstance(qs, (list, tuple))
         else F.lit(float(qs)))
    if o.exact_quantiles:
        return F.percentile(col, p)
    return F.percentile_approx(col, p, o.percentile_accuracy)


def _exact_quantiles_agg(col: Column, qs: list[float]) -> Column:
    """Exact rank-based quantiles of a numeric ``col`` at ``qs`` — the
    values ``approxQuantile(c, qs, 0.0)`` returns (reference Spark
    quantiles, column_quantile_values.py:177-209) — as one aggregate that
    folds into a fused pass: ``percentile_approx`` at accuracy Int.MaxValue
    over the column's double image, NaN and NULL skipped."""
    if not all(0.0 <= q <= 1.0 for q in qs):
        raise CompileError(f"quantiles must be in [0, 1], got {qs}")
    x = col.cast("double")
    return F.percentile_approx(
        F.when(~F.isnan(x), x), F.array(*[F.lit(float(q)) for q in qs]),
        F.lit(2147483647))


def _distinct_count_agg(col: Column, o: Options) -> Column:
    if o.approx_distinct:
        return F.approx_count_distinct(col)  # HLL++
    return F.count_distinct(col)


def _distinct_count_plan(kwargs: dict[str, Any], rc: Column | None,
                         guarded: Column, o: Options):
    """``(metric key, pass-1 aggs, domain)`` of a column's distinct count.
    Under ``approx_distinct`` the HLL++ estimate rides pass 1. The exact
    count leaves it: a DISTINCT
    aggregate makes Spark group the whole fused aggregate by the column
    (every other buffer then multiplies by its cardinality) and cannot be
    an observed metric, so the count is declared on its ``ValueDomain``
    and read from the shared value-count query, or a count-only one."""
    if o.approx_distinct:
        key = f"column.distinct_count.approx|{kwargs['column']}|{_rc_id(kwargs)}"
        return key, {key: _distinct_count_agg(guarded, o)}, None
    domain = ValueDomain(kwargs["column"], _rc_id(kwargs), rc)
    return domain.distinct_key, {}, domain


@compiler("expect_column_unique_value_count_to_be_between")
def _unique_count(config: ExpectationConfiguration, options: Options) -> Compiled:
    kwargs = config.kwargs
    rc = _row_condition(kwargs)
    col = _guard(F.col(kwargs["column"]), rc)
    key, aggs, domain = _distinct_count_plan(kwargs, rc, col, options)
    k_hll = None
    if options.chunk_monoids:
        k_hll = f"monoid.hll|{kwargs['column']}|{_rc_id(kwargs)}"
        aggs[k_hll] = _hll_sketch_b64(col)

    def finalize(metrics: Metrics) -> EVR:
        obs = _py(metrics.get(key))
        result: dict[str, Any] = {"observed_value": obs}
        if k_hll is not None:
            result["monoid"] = {"kind": "hll", "hll": metrics.get(k_hll)}
        return EVR(
            success=_between_success(obs, kwargs),
            expectation_config=config,
            result=result,
        )

    return Compiled(config=config, finalize=finalize, aggs=aggs,
                    distinct_count=domain)


@compiler("expect_column_proportion_of_unique_values_to_be_between")
def _unique_proportion(config: ExpectationConfiguration, options: Options) -> Compiled:
    kwargs = config.kwargs
    rc = _row_condition(kwargs)
    c = kwargs["column"]
    col = _guard(F.col(c), rc)
    k_distinct, aggs, domain = _distinct_count_plan(kwargs, rc, col, options)
    k_nonnull = f"column.nonnull|{c}|{_rc_id(kwargs)}"
    aggs[k_nonnull] = F.count(col)
    k_hll = None
    if options.chunk_monoids:
        k_hll = f"monoid.hll|{c}|{_rc_id(kwargs)}"
        aggs[k_hll] = _hll_sketch_b64(col)

    def finalize(metrics: Metrics) -> EVR:
        distinct = int(metrics.get(k_distinct) or 0)
        nonnull = int(metrics.get(k_nonnull) or 0)
        obs = (distinct / nonnull) if nonnull else None
        result: dict[str, Any] = {"observed_value": obs}
        if k_hll is not None:
            result["monoid"] = {
                "kind": "hll_prop", "hll": metrics.get(k_hll), "nonnull": nonnull,
            }
        return EVR(
            success=_between_success(obs, kwargs),
            expectation_config=config,
            result=result,
        )

    return Compiled(config=config, finalize=finalize, aggs=aggs,
                    distinct_count=domain)


@compiler("expect_column_quantile_values_to_be_between")
def _quantiles(config: ExpectationConfiguration, options: Options) -> Compiled:
    kwargs = config.kwargs
    rc = _row_condition(kwargs)
    c = kwargs["column"]
    qr = kwargs["quantile_ranges"]
    quantiles = list(qr["quantiles"])
    ranges = list(qr["value_ranges"])
    if len(quantiles) != len(ranges):
        raise CompileError("quantiles and value_ranges must have equal length")
    accuracy = options.percentile_accuracy
    exact = options.exact_quantiles
    if kwargs.get("allow_relative_error") not in (None, False):
        err = kwargs["allow_relative_error"]
        # bool is an int subclass: allow_relative_error=True would slip
        # through as accuracy=1 (~100% error); the reference Spark engine
        # rejects non-float values (sparkdf_execution_engine quantile path)
        if isinstance(err, bool) or not isinstance(err, (int, float)) or err <= 0:
            raise CompileError(
                "allow_relative_error for the spark backend must be a "
                f"positive float (got {err!r})")
        accuracy = max(1, int(1.0 / float(err)))
        exact = False
    key = f"column.quantiles|{c}|{quantiles}|{accuracy}|{exact}|{_rc_id(kwargs)}"
    col = _guard(F.col(c), rc)
    (k_total, k_nn), count_aggs = _count_keys_aggs(c, kwargs, rc)
    aggs = dict(count_aggs)
    mkeys: dict = {}
    if options.chunk_monoids:
        mkeys = _monoid_aggs("kll_quantiles", col, key, options)
    if exact:
        # finalize raises the reference's error for a non-numeric column
        typed_aggs = _numeric_aggs(c, {
            key: _exact_quantiles_agg(col, [float(q) for q in quantiles]),
            **dict(mkeys.values())})
    else:
        aggs[key] = _quantiles_agg(col, quantiles, dataclasses.replace(
            options, exact_quantiles=False, percentile_accuracy=accuracy))
        typed_aggs = _numeric_aggs(c, dict(mkeys.values()))

    def finalize(metrics: Metrics) -> EVR:
        schema = metrics.get("__schema__")
        if exact and schema is not None and c in schema.fieldNames():
            dt = schema[c].dataType
            if not isinstance(dt, T.NumericType):
                # df.stat.approxQuantile's own message
                raise ValueError(
                    f"requirement failed: Quantile calculation for column {c} "
                    f"with data type {repr(dt).replace('()', '')} is not supported.")
        values = _py(metrics.get(key)) or [None] * len(quantiles)
        ok = True
        for v, (lo, hi) in zip(values, ranges):
            if v is None or (lo is not None and v < lo) or (hi is not None and v > hi):
                ok = False
        result = _with_counts(
            {"observed_value": {"quantiles": quantiles, "values": values}},
            metrics, k_total, k_nn)
        if mkeys:
            _attach_numeric_monoid(result, metrics, "kll_quantiles", mkeys, c)
        return EVR(
            success=ok,
            expectation_config=config,
            result=result,
        )

    return Compiled(config=config, finalize=finalize, aggs=aggs,
                    typed_aggs=typed_aggs)


def _collect_distinct_aggs(c: str, rc: Column | None, cap: int) -> tuple[str, str, dict[str, Column]]:
    """Bounded distinct-set collection: the collect_set result is sliced to
    ``cap + 1`` elements before leaving the executors (bounds the driver
    transfer) and an HLL++ guard rides the same fused agg so finalize can
    fail loudly — with exception_info, never an OOM — when the column's
    cardinality exceeds ``Options.distinct_set_cap``. The reference collects
    the full distinct set unconditionally (column_distinct_values.py:79-104)."""
    key = f"column.distinct_values|{c}|{str(rc)}|{cap}"
    k_guard = f"column.distinct_guard|{c}|{str(rc)}"
    col = _guard(F.col(c), rc)
    return key, k_guard, {
        key: F.slice(F.collect_set(col), 1, cap + 1),
        k_guard: F.approx_count_distinct(col),
    }


def _distinct_set_compiler(name: str, check: Callable[[set, set], bool]):
    @compiler(name)
    def _c(config: ExpectationConfiguration, options: Options) -> Compiled:
        kwargs = config.kwargs
        rc = _row_condition(kwargs)
        c = kwargs["column"]
        cap = options.distinct_set_cap
        key, k_guard, distinct_aggs = _collect_distinct_aggs(c, rc, cap)
        vacuous = kwargs.get("value_set") is None
        # legacy parse_strings_as_datetimes: value_set AND observed strings
        # are dateutil-parsed before the set comparison (reference
        # expect_column_distinct_values_to_contain_set.py:246-268 +
        # metrics/util.py parse_value_set)
        parse_dt = bool(kwargs.get("parse_strings_as_datetimes"))

        def _maybe_parse(v):
            if parse_dt and isinstance(v, str):
                from dateutil import parser as _p

                return _p.parse(v)
            return v

        expected = {_maybe_parse(v) for v in (kwargs.get("value_set") or [])}
        (k_total, k_nn), count_aggs = _count_keys_aggs(c, kwargs, rc)

        def finalize(metrics: Metrics) -> EVR:
            observed_list = _py(metrics.get(key)) or []
            if len(observed_list) > cap:
                raise ValueError(
                    f"column {c!r} has more than distinct_set_cap={cap} distinct "
                    f"values (~{int(metrics.get(k_guard) or 0)} by HLL++ estimate); "
                    "distinct-set expectations are not meaningful at this "
                    "cardinality — raise Options.distinct_set_cap or use "
                    "expect_column_unique_value_count_to_be_between")
            observed = {_maybe_parse(v) for v in observed_list}
            return EVR(
                success=True if vacuous else check(observed, expected),
                expectation_config=config,
                result=_with_counts(
                    {"observed_value": [
                        _py(x) for x in sorted(observed, key=lambda x: (str(type(x)), str(x)))
                    ]},
                    metrics, k_total, k_nn),
            )

        return Compiled(config=config, finalize=finalize, aggs={**distinct_aggs, **count_aggs})

    return _c


_distinct_set_compiler(
    "expect_column_distinct_values_to_be_in_set", lambda obs, exp: obs.issubset(exp)
)
_distinct_set_compiler(
    "expect_column_distinct_values_to_contain_set", lambda obs, exp: exp.issubset(obs)
)
_distinct_set_compiler(
    "expect_column_distinct_values_to_equal_set", lambda obs, exp: obs == exp
)


@compiler("expect_column_most_common_value_to_be_in_set")
def _most_common(config: ExpectationConfiguration, options: Options) -> Compiled:
    kwargs = config.kwargs
    c = kwargs["column"]
    rc = _row_condition(kwargs)
    key = f"column.most_common|{c}|{_rc_id(kwargs)}"

    def eager(df: DataFrame, metrics: Metrics) -> dict[str, Any]:
        col = F.col(c)
        cap = options.distinct_set_cap
        if rc is not None:
            # the mode must be computed over the row_condition domain —
            # the counted metrics below are rc-guarded, the eager job must
            # describe the same row set
            df = df.where(rc)
        gb = df.where(col.isNotNull()).groupBy(c).agg(F.count(F.lit(1)).alias("__n"))
        gb = gb.persist()
        try:
            top = gb.orderBy(F.desc("__n")).first()
            if top is None:
                return {key: []}
            # tied modes are collected bounded: >cap ties means the column is
            # effectively unique-valued and the mode is meaningless — fail
            # loudly instead of shipping the whole value set to the driver
            mode_rows = gb.where(F.col("__n") == top["__n"]).limit(cap + 1).collect()
            if len(mode_rows) > cap:
                raise ValueError(
                    f"column {c!r} has more than {cap} tied most-common values; "
                    "most_common_value is not meaningful at this cardinality — "
                    "raise Options.distinct_set_cap")
            modes = [r[c] for r in mode_rows]
        finally:
            gb.unpersist()
        return {key: sorted(modes, key=str)}

    (k_total, k_nn), count_aggs = _count_keys_aggs(c, kwargs, rc)

    def finalize(metrics: Metrics) -> EVR:
        modes = _py(metrics.get(key)) or []
        expected = set(kwargs["value_set"])
        ties_ok = bool(kwargs.get("ties_okay", False))
        if ties_ok:
            # reference: any intersection suffices when ties are allowed
            success = any(m in expected for m in modes)
        else:
            # a tie (multiple modes) fails outright without ties_okay
            success = len(modes) == 1 and modes[0] in expected
        if not modes:
            success = True
        return EVR(
            success=success,
            expectation_config=config,
            result=_with_counts({"observed_value": modes}, metrics, k_total, k_nn),
        )

    return Compiled(config=config, finalize=finalize, aggs=count_aggs, eager=eager)


# -------------------------------------------------------------- table-level


@compiler("expect_table_row_count_to_be_between")
def _row_count_between(config: ExpectationConfiguration, options: Options) -> Compiled:
    kwargs = config.kwargs
    rc = _row_condition(kwargs)
    key = _cnt_key(_rc_id(kwargs))
    aggs = {key: _count_agg(rc)}

    def finalize(metrics: Metrics) -> EVR:
        obs = int(metrics.get(key) or 0)
        result: dict[str, Any] = {"observed_value": obs}
        if options.chunk_monoids:
            result["monoid"] = {"kind": "count", "count": obs}
        return EVR(
            success=_between_success(obs, kwargs),
            expectation_config=config,
            result=result,
        )

    return Compiled(config=config, finalize=finalize, aggs=aggs)


@compiler("expect_table_row_count_to_equal")
def _row_count_equal(config: ExpectationConfiguration, options: Options) -> Compiled:
    kwargs = config.kwargs
    rc = _row_condition(kwargs)
    key = _cnt_key(_rc_id(kwargs))
    aggs = {key: _count_agg(rc)}

    def finalize(metrics: Metrics) -> EVR:
        obs = int(metrics.get(key) or 0)
        result: dict[str, Any] = {"observed_value": obs}
        if options.chunk_monoids:
            result["monoid"] = {"kind": "count", "count": obs}
        return EVR(
            success=obs == int(kwargs["value"]),
            expectation_config=config,
            result=result,
        )

    return Compiled(config=config, finalize=finalize, aggs=aggs)


@compiler("expect_table_row_count_to_equal_other_table")
def _row_count_other(config: ExpectationConfiguration, options: Options) -> Compiled:
    kwargs = config.kwargs
    key = _cnt_key("")
    other_key = f"other.row_count|{kwargs['other_table_name']}"
    aggs = {key: F.count(F.lit(1))}

    def eager(df: DataFrame, metrics: Metrics) -> dict[str, Any]:
        # the validator injects the other table under metrics["__tables__"]
        tables = metrics.get("__tables__") or {}
        name = kwargs["other_table_name"]
        if name not in tables:
            raise CompileError(f"other table {name!r} not provided to validator(tables=...)")
        return {other_key: tables[name].count()}

    def finalize(metrics: Metrics) -> EVR:
        obs = int(metrics.get(key) or 0)
        other = int(metrics.get(other_key) or 0)
        return EVR(
            success=obs == other,
            expectation_config=config,
            result={"observed_value": {"self": obs, "other": other}},
        )

    return Compiled(config=config, finalize=finalize, aggs=aggs, eager=eager)


def _schema_compiler(name: str, fn: Callable[[dict[str, Any], T.StructType], EVR | tuple[bool, Any]]):
    @compiler(name)
    def _c(config: ExpectationConfiguration, options: Options) -> Compiled:
        def finalize(metrics: Metrics) -> EVR:
            schema: T.StructType = metrics["__schema__"]
            success, observed = fn(config.kwargs, schema)
            return EVR(
                success=success,
                expectation_config=config,
                result={"observed_value": observed},
            )

        return Compiled(config=config, finalize=finalize, schema_only=True)

    return _c


def _col_exists(kwargs: dict[str, Any], schema: T.StructType):
    names = schema.fieldNames()
    c = kwargs["column"]
    if "column_index" in kwargs and kwargs["column_index"] is not None:
        idx = int(kwargs["column_index"])
        return (idx < len(names) and names[idx] == c), names
    return c in names, names


_schema_compiler("expect_column_to_exist", _col_exists)


def _columns_match_set(k, s):
    # None column_set: vacuous truth — EXCEPT under exact_match=True, where
    # the reference fails (a None set cannot exactly match real columns)
    if k.get("column_set") is None:
        return not bool(k.get("exact_match", True)), sorted(s.fieldNames())
    ok = (
        set(s.fieldNames()) == set(k["column_set"])
        if bool(k.get("exact_match", True))
        else set(k["column_set"]).issubset(set(s.fieldNames()))
    )
    return ok, sorted(s.fieldNames())


def _columns_match_ordered(k, s):
    if k.get("column_list") is None:
        return True, s.fieldNames()
    return s.fieldNames() == list(k["column_list"]), s.fieldNames()


_schema_compiler("expect_table_columns_to_match_set", _columns_match_set)
_schema_compiler("expect_table_columns_to_match_ordered_list", _columns_match_ordered)
_schema_compiler(
    "expect_table_column_count_to_equal",
    lambda k, s: (len(s.fields) == int(k["value"]), len(s.fields)),
)


@compiler("expect_table_column_count_to_be_between")
def _column_count_between(config: ExpectationConfiguration, options: Options) -> Compiled:
    def finalize(metrics: Metrics) -> EVR:
        n = len(metrics["__schema__"].fields)
        return EVR(
            success=_between_success(n, config.kwargs),
            expectation_config=config,
            result={"observed_value": n},
        )

    return Compiled(config=config, finalize=finalize, schema_only=True)


_SPARK_TYPE_ALIASES = {
    "StringType": "string", "str": "string", "string": "string", "TEXT": "string",
    "IntegerType": "int", "int": "int", "IntType": "int", "INTEGER": "int",
    "LongType": "bigint", "bigint": "bigint", "long": "bigint", "BIGINT": "bigint",
    "FloatType": "float", "float": "float", "FLOAT": "float",
    "DoubleType": "double", "double": "double", "DOUBLE": "double",
    "BooleanType": "boolean", "bool": "boolean", "boolean": "boolean", "BOOLEAN": "boolean",
    "TimestampType": "timestamp", "timestamp": "timestamp", "datetime": "timestamp",
    "DateType": "date", "date": "date",
    "BinaryType": "binary", "binary": "binary",
    "DecimalType": "decimal", "decimal": "decimal",
}


def _normalize_type(name: str) -> str:
    return _SPARK_TYPE_ALIASES.get(name, name.lower())


def _type_of(schema: T.StructType, column: str) -> str:
    dt = schema[column].dataType.simpleString()
    return dt.split("(")[0]  # decimal(10,2) → decimal


def _of_type(kwargs: dict[str, Any], schema: T.StructType):
    # reference resolves names against pyspark.sql.types at the expectation
    # level (expect_column_values_to_be_of_type.py:418-470) — pure schema
    # comparison, no row scan needed.
    c = kwargs["column"]
    if c not in schema.fieldNames():
        return False, None
    actual = _type_of(schema, c)
    return actual == _normalize_type(str(kwargs["type_"])), actual


def _in_type_list(kwargs: dict[str, Any], schema: T.StructType):
    c = kwargs["column"]
    if c not in schema.fieldNames():
        return False, None
    actual = _type_of(schema, c)
    if kwargs.get("type_list") is None:
        return True, actual  # None type_list → vacuous placeholder
    wanted = {_normalize_type(str(t)) for t in kwargs["type_list"]}
    return actual in wanted, actual


_schema_compiler("expect_column_values_to_be_of_type", _of_type)
_schema_compiler("expect_column_values_to_be_in_type_list", _in_type_list)


# ------------------------------------------------------ uniqueness (eager)


def _uniqueness_compiler(name: str, cols_fn: Callable[[dict[str, Any]], list[str]]):
    @compiler(name)
    def _c(config: ExpectationConfiguration, options: Options) -> Compiled:
        kwargs = config.kwargs
        cols = cols_fn(kwargs)
        rcid = _rc_id(kwargs)
        rc = _row_condition(kwargs)
        k_elem = _cnt_key(rcid)
        k_missing = f"missing|{config.id}"
        k_unexp = f"unexpected_count|{config.id}"
        single = len(cols) == 1
        if single:
            include = F.col(cols[0]).isNotNull()
        else:
            # multicolumn ignore_row_if semantics (reference default
            # "all_values_are_missing", sparkdf_execution_engine.py:557-618)
            from great_expectations_spark.functions.conditions import _multi_include

            include = _multi_include(
                [F.col(x) for x in cols],
                kwargs.get("ignore_row_if", "all_values_are_missing"),
            )
        base_include = include
        if rc is not None:
            include = include & rc
        aggs = {
            k_elem: _count_agg(rc),
            k_missing: _bool_sum(~include if rc is None else _guard(~include, rc)),
        }

        def eager(df: DataFrame, metrics: Metrics) -> dict[str, Any]:
            # Skew-safe uniqueness: two-stage partial-agg groupBy (map-side
            # combine keeps hot keys from flooding one reducer) instead of
            # the reference's single-partition window
            # (column_values_unique.py:79-84, compound_columns_unique.py:154-160).
            d = df
            if rc is not None:
                d = d.filter(rc)
            d = d.filter(base_include)
            value = F.col(cols[0]) if single else F.struct(
                *[F.col(c).alias(c) for c in cols])
            dup_keys = (d.groupBy(*cols).agg(F.count(F.lit(1)).alias("__n"))
                        .where(F.col("__n") > 1))
            dups = dup_keys.select(value.alias("__v"), "__n")
            rf = metrics["__rf__"]
            # Unless pass 2 must read source rows, the samples come from the
            # same query as the counts: the ``need`` smallest duplicate keys
            # (each stands for __n rows) and, at SUMMARY, the k most
            # frequent — bounded top-k branches over the one counts exchange.
            k = rf.partial_unexpected_count
            need = options.complete_list_cap if rf.at_least("COMPLETE") else k
            branches = [dups.agg(
                F.coalesce(F.sum("__n"), F.lit(0)).alias("__rows"),
                F.count(F.lit(1)).alias("__keys"),
            ).withColumn("__b", F.lit(0))]
            if rf.at_least("BASIC") and not rf.needs_source_rows:
                branches.append(
                    dups.withColumn("__b", F.lit(1)).orderBy("__v").limit(need))
                if rf.at_least("SUMMARY"):
                    branches.append(dups.withColumn("__b", F.lit(2))
                                    .orderBy(F.desc("__n"), "__v").limit(k))
            q = branches[0]
            for b in branches[1:]:
                q = q.unionByName(b, allowMissingColumns=True)
            got: dict[int, list] = {0: [], 1: [], 2: []}
            for r in q.collect():
                got[r["__b"]].append(r)
            sums = got[0][0]
            out: dict[str, Any] = {
                k_unexp: int(sums["__rows"]),
                f"dup_keys|{config.id}": int(sums["__keys"]),
            }
            if rf.needs_source_rows:
                # index columns and unexpected rows: pass 2 reads them from a
                # LEFT SEMI join of the rows against the duplicated keys (a
                # skewed key never funnels through one task). NULL-SAFE join
                # keys: groupBy treats NULL as a value, so the list must too.
                dk = dup_keys.select(*[F.col(c).alias(f"__dk_{c}") for c in cols])
                join_cond = None
                for c in cols:
                    p = F.col(c).eqNullSafe(F.col(f"__dk_{c}"))
                    join_cond = p if join_cond is None else (join_cond & p)
                out[f"__violations_df__|{config.id}"] = (
                    d.join(dk, on=join_cond, how="left_semi")
                    .withColumn("__value", value))
            elif rf.at_least("BASIC"):
                out.update(unexpected_lists(
                    config.id, rf, need,
                    [(r["__v"], int(r["__n"])) for r in got[1]],
                    [(r["__v"], int(r["__n"])) for r in got[2]]))
            return out

        def finalize(metrics: Metrics) -> EVR:
            return _map_finalize(config, metrics, k_elem, k_missing, k_unexp)

        return Compiled(config=config, finalize=finalize, aggs=aggs, eager=eager)

    return _c


_uniqueness_compiler("expect_column_values_to_be_unique", lambda k: [k["column"]])
_uniqueness_compiler("expect_compound_columns_to_be_unique", lambda k: list(k["column_list"]))
_uniqueness_compiler("expect_multicolumn_values_to_be_unique", lambda k: list(k["column_list"]))


# ----------------------------------------------------- referential (eager)


@compiler("expect_column_values_to_be_in_other_table")
def _in_other_table(config: ExpectationConfiguration, options: Options) -> Compiled:
    """Native cross-table referential check — hash-partitioned LEFT ANTI join
    (broadcast when the reference side is small; AQE decides). The reference
    cannot do this on Spark at all (sparkdf_execution_engine.py:507-511
    raises on multiple named tables)."""
    kwargs = config.kwargs
    c = kwargs["column"]
    k_elem = _cnt_key("")
    k_missing = f"missing|{config.id}"
    k_unexp = f"unexpected_count|{config.id}"
    col = F.col(c)
    aggs = {k_elem: F.count(F.lit(1)), k_missing: _bool_sum(col.isNull())}

    def eager(df: DataFrame, metrics: Metrics) -> dict[str, Any]:
        tables = metrics.get("__tables__") or {}
        name = kwargs["other_table_name"]
        if name not in tables:
            raise CompileError(f"other table {name!r} not provided to validator(tables=...)")
        other_col = kwargs.get("other_column", c)
        ref = tables[name].select(F.col(other_col).alias(c)).where(F.col(c).isNotNull()).distinct()
        missing = (
            df.where(col.isNotNull())
            .join(ref, on=c, how="left_anti")
        )
        unexp = missing.count()
        out: dict[str, Any] = {k_unexp: int(unexp)}
        out[f"__violations_df__|{config.id}"] = missing.select(col.alias("__value"))
        return out

    def finalize(metrics: Metrics) -> EVR:
        return _map_finalize(config, metrics, k_elem, k_missing, k_unexp)

    return Compiled(config=config, finalize=finalize, aggs=aggs, eager=eager)


# ---------------------------------------------------------- z-score (wave 2)


@compiler("expect_column_value_z_scores_to_be_less_than")
def _z_scores(config: ExpectationConfiguration, options: Options) -> Compiled:
    kwargs = config.kwargs
    c = kwargs["column"]
    rc = _row_condition(kwargs)
    rcid = _rc_id(kwargs)
    col = F.col(c)
    k_elem = _cnt_key(rcid)
    k_missing = f"missing|{config.id}"
    k_unexp = f"unexpected_count|{config.id}"
    k_mean = f"expect_column_mean_to_be_between|{c}|{rcid}"
    k_std = f"column.stdev|{c}|{rcid}"
    threshold = float(kwargs["threshold"])
    double_sided = bool(kwargs.get("double_sided", True))
    include = col.isNotNull() if rc is None else (col.isNotNull() & rc)
    aggs = {
        k_elem: _count_agg(rc),
        k_missing: _bool_sum(_guard(col.isNull(), rc) if rc is not None else col.isNull()),
        k_mean: F.mean(_guard(col, rc)),
        k_std: F.stddev_samp(_guard(col, rc)),
    }

    def _z(metrics: Metrics) -> Column:
        mean = float(metrics.get(k_mean) or 0.0)
        std = float(metrics.get(k_std) or 0.0)
        if std == 0 or math.isnan(std):
            return F.lit(0.0)
        return (col - F.lit(mean)) / F.lit(std)

    def aggs2(metrics: Metrics) -> dict[str, Column]:
        z = _z(metrics)
        ok = (F.abs(z) < threshold) if double_sided else (z < threshold)
        return {k_unexp: _bool_sum(include & ~ok)}

    def kernel2(metrics: Metrics) -> MapKernel:
        z = _z(metrics)
        ok = (F.abs(z) < threshold) if double_sided else (z < threshold)
        return MapKernel(include=include, ok=ok, value=col, columns=[c])

    def finalize(metrics: Metrics) -> EVR:
        return _map_finalize(config, metrics, k_elem, k_missing, k_unexp)

    return Compiled(config=config, finalize=finalize, aggs=aggs, aggs2=aggs2, kernel2=kernel2)


# ------------------------------------------------- ordered (window, eager)


def _monotonic_compiler(name: str, increasing: bool):
    @compiler(name)
    def _c(config: ExpectationConfiguration, options: Options) -> Compiled:
        kwargs = config.kwargs
        c = kwargs["column"]
        strictly = bool(kwargs.get("strictly", False))
        order_by = kwargs.get("order_by")  # engine extension; reference only
        # has encounter order via a single-partition constant-literal window
        # (column_values_increasing.py:140-145) — whole table on one task.
        k_elem = _cnt_key("")
        k_missing = f"missing|{config.id}"
        k_unexp = f"unexpected_count|{config.id}"
        col = F.col(c)
        aggs = {k_elem: F.count(F.lit(1)), k_missing: _bool_sum(col.isNull())}

        def _violates(cur: Column, prev: Column) -> Column:
            if increasing:
                return (cur <= prev) if strictly else (cur < prev)
            return (cur >= prev) if strictly else (cur > prev)

        def eager(df: DataFrame, metrics: Metrics) -> dict[str, Any]:
            """Distributed monotonicity (SURVEY §7): lag WITHIN partitions +
            one boundary value per partition pair, instead of the reference's
            global single-partition window.

            order_by mode: range-repartition on the sort key so each task
            holds one contiguous key range; encounter-order mode: no shuffle
            at all — monotonically_increasing_id() already orders rows as
            (partition_id, position-in-partition).

            The COUNT is one Spark job: the per-row lag runs under
            Window.partitionBy(partition id), and the immediately following
            groupBy on the same partition id reuses the window's hash
            partitioning (no second shuffle), folding each partition to ONE
            row (within-partition violations, first/last value). The P
            partition boundaries are then checked on the driver. The
            violation DataFrame (pass 2) is built lazily and only executes
            for violated expectations at result_format >= BASIC."""
            if order_by:
                keep = [c] if order_by == c else [c, order_by]
                d = df.where(col.isNotNull()).select(*keep)
                d = d.repartitionByRange(F.col(order_by))
                okey = F.col(order_by)
            else:
                d = df.where(col.isNotNull()).select(c)
                okey = F.monotonically_increasing_id()
            d = d.withColumn("__ok", okey).withColumn("__pid", F.spark_partition_id())
            # When a violation pass can follow (result_format > BOOLEAN_ONLY),
            # persist so the lazy violation frame sees the SAME partition
            # assignment the boundary map was computed from — re-executing
            # repartitionByRange/monotonically_increasing_id in a second job
            # could re-sample different range bounds. The validator
            # unpersists via the __persist__ handle after pass 2.
            # BOOLEAN_ONLY stays a pure one-job count with zero cache cost.
            persisted = False
            rf = metrics.get("__rf__")
            if rf is None or rf.at_least("BASIC"):
                from pyspark import StorageLevel

                d = d.persist(StorageLevel.MEMORY_AND_DISK)
                persisted = True
            w = Window.partitionBy("__pid").orderBy("__ok")
            prev = F.lag(col).over(w)
            bad_within = prev.isNotNull() & _violates(col, prev)

            per = (
                d.select("__pid", "__ok", col.alias("__v"), bad_within.alias("__bad"))
                .groupBy("__pid")
                .agg(
                    _bool_sum(F.col("__bad")).alias("__nbad"),
                    F.min("__ok").alias("__lo"),
                    F.min_by("__v", F.col("__ok")).alias("__first"),
                    F.max_by("__v", F.col("__ok")).alias("__last"),
                )
                .collect()
            )
            per.sort(key=lambda r: r["__lo"])

            def _py_violates(cur, prv) -> bool:
                if increasing:
                    return (cur <= prv) if strictly else (cur < prv)
                return (cur >= prv) if strictly else (cur > prv)

            unexp = sum(int(r["__nbad"] or 0) for r in per)
            boundary_bad_pids = [
                per[i]["__pid"]
                for i in range(1, len(per))
                if _py_violates(per[i]["__first"], per[i - 1]["__last"])
            ]
            unexp += len(boundary_bad_pids)

            # lazy violation frame: within-partition violators + the first
            # row of each boundary-violating partition
            prev_last = [
                (per[i]["__pid"], per[i - 1]["__last"]) for i in range(1, len(per))
            ]
            if prev_last:
                spark = df.sparkSession
                schema = T.StructType([
                    T.StructField("__pid", T.IntegerType()),
                    T.StructField("__prev_last", d.schema[c].dataType),
                ])
                dj = d.join(F.broadcast(spark.createDataFrame(prev_last, schema)),
                            on="__pid", how="left")
            else:
                dj = d.withColumn("__prev_last", F.lit(None).cast(d.schema[c].dataType))
            eff_prev = F.coalesce(prev, F.col("__prev_last"))
            bad = eff_prev.isNotNull() & _violates(col, eff_prev)
            vdf = dj.select(col.alias("__value"), bad.alias("__bad")).where(
                F.col("__bad")).select("__value")
            out: dict[str, Any] = {
                k_unexp: int(unexp),
                f"__violations_df__|{config.id}": vdf,
            }
            if persisted:
                out[f"__persist__|{config.id}"] = d
            return out

        def finalize(metrics: Metrics) -> EVR:
            return _map_finalize(config, metrics, k_elem, k_missing, k_unexp)

        return Compiled(config=config, finalize=finalize, aggs=aggs, eager=eager)

    return _c


_monotonic_compiler("expect_column_values_to_be_increasing", True)
_monotonic_compiler("expect_column_values_to_be_decreasing", False)


# ------------------------------------------------------- distributional


def _hist_keys(config_id: str, nbins: int) -> list[str]:
    return [f"hist|{config_id}|{i}" for i in range(nbins + 2)]  # + below/above


def _bin_sums(col: Column, bins: list[float]) -> list[Column]:
    """One conditional count per interior bin of the ascending ``bins``
    edges: [lo, hi) each, the last bin closed so the top edge is counted
    (the KL histogram and the ``column.histogram`` metric)."""
    last = len(bins) - 2
    return [_bool_sum((col >= F.lit(lo))
                      & ((col <= F.lit(hi)) if i == last else (col < F.lit(hi))))
            for i, (lo, hi) in enumerate(zip(bins, bins[1:]))]


def _hist_aggs(col: Column, bins: list[float], config_id: str) -> dict[str, Column]:
    keys = _hist_keys(config_id, len(bins) - 1)
    sums = [_bool_sum(col < F.lit(bins[0])), *_bin_sums(col, bins),
            _bool_sum(col > F.lit(bins[-1]))]
    return dict(zip(keys, sums))


@compiler("expect_column_kl_divergence_to_be_less_than")
def _kl_divergence(config: ExpectationConfiguration, options: Options) -> Compiled:
    """KL(observed || expected) against a partition_object.

    Continuous path (bins+weights): histogram bucket sums fused into pass 1
    + below/above-partition counts, tail/internal holdout math on the driver
    (reference expect_column_kl_divergence_to_be_less_than.py:359-516).
    Categorical path (values+weights): the column's shared value-count
    query (``shared_value_counts``).
    """
    kwargs = config.kwargs
    c = kwargs["column"]
    po = kwargs["partition_object"]
    threshold = kwargs.get("threshold")
    tail_holdout = kwargs.get("tail_weight_holdout", 0.0)
    internal_holdout = kwargs.get("internal_weight_holdout", 0.0)
    col = F.col(c)
    k_nonnull = f"column.nonnull|{c}|"
    aggs: dict[str, Column] = {k_nonnull: F.count(col)}
    value_counts = None

    # ---- auto-partition: no partition_object → profile the column
    # (reference two-phase plan, expect_column_kl_divergence...py:230-288:
    # column.partition bins='auto' + histogram; observed == expected → KL 0)
    if po is None:
        if not kwargs.get("bucketize_data", True):
            raise CompileError(
                "KL Divergence cannot be computed with a continuous partition "
                "object and the bucketize_data parameter set to false.")
        if threshold is not None and (
            not isinstance(threshold, (int, float)) or threshold < 0
        ):
            raise CompileError(
                "Threshold must be specified, greater than or equal to zero.")
        k_auto = f"kl_auto|{config.id}"
        cap = options.ks_sample_cap

        def eager_auto(df: DataFrame, metrics: Metrics) -> dict[str, Any]:
            rows = df.where(col.isNotNull()).select(c).limit(cap).collect()
            return {k_auto: [float(r[0]) for r in rows]}

        def finalize_auto(metrics: Metrics) -> EVR:
            sample = np.array(metrics.get(k_auto) or [], dtype=float)
            if len(sample) == 0:
                return EVR(success=True, expectation_config=config,
                           result={"observed_value": None})
            edges = np.histogram_bin_edges(sample, bins="auto")
            hist, _ = np.histogram(sample, edges)
            w = (hist / len(sample)).tolist()
            tail = (1 - sum(w)) / 2
            # observed partition IS the expected partition → KL = 0
            part = {"bins": edges.tolist(), "weights": w, "tail_weights": [tail, tail]}
            kl = 0.0
            success = True if threshold is None else kl <= float(threshold)
            return EVR(success=bool(success), expectation_config=config,
                       result={"observed_value": kl,
                               "details": {"observed_partition": part,
                                           "expected_partition": part}})

        return Compiled(config=config, finalize=finalize_auto, eager=eager_auto)

    # ---- kwarg validation (reference _validate raises ValueError) ----------
    if not isinstance(po, dict):
        raise CompileError("Invalid partition object.")
    if threshold is not None and (
        not isinstance(threshold, (int, float)) or threshold < 0
    ):
        raise CompileError("Threshold must be specified, greater than or equal to zero.")
    for name, h in (("tail_weight_holdout", tail_holdout),
                    ("internal_weight_holdout", internal_holdout)):
        if not isinstance(h, (int, float)) or h < 0 or h > 1:
            raise CompileError(f"{name} must be between zero and one.")
    tail_holdout = float(tail_holdout)
    internal_holdout = float(internal_holdout)
    if tail_holdout != 0 and "tail_weights" in po:
        raise CompileError(
            "tail_weight_holdout must be 0 when using tail_weights in partition object")

    def _valid_weights(p: dict) -> bool:
        w = list(p.get("weights") or [])
        if "tail_weights" in p:
            if len(p["tail_weights"]) != 2:
                return False
            w = list(p["tail_weights"]) + w
        return bool(np.allclose(np.sum(w), 1))

    if "bins" in po:
        if len(po["bins"]) != len(po["weights"]) + 1 or not _valid_weights(po):
            raise CompileError("Invalid partition object.")
        bins = [float(b) for b in po["bins"]]
        weights = [float(w) for w in po["weights"]]
        left_inf, right_inf = math.isinf(bins[0]), math.isinf(bins[-1])
        if (left_inf or right_inf) and "tail_weights" in po:
            raise CompileError(
                "There can be no tail weights for partitions with one or both "
                "endpoints at infinity")
        if left_inf and right_inf and tail_holdout > 0:
            raise CompileError(
                "tail_weight_holdout cannot be used for partitions with infinite "
                "endpoints.")
        aggs.update(_hist_aggs(col, bins, config.id))
        keys = _hist_keys(config.id, len(bins) - 1)

        def finalize(metrics: Metrics) -> EVR:
            nonnull = int(metrics.get(k_nonnull) or 0)
            counts = [int(metrics.get(k) or 0) for k in keys]
            below, hist, above = counts[0], counts[1:-1], counts[-1]
            if nonnull == 0:
                return EVR(success=True, expectation_config=config,
                           result={"observed_value": None})
            ow = np.array(hist, dtype=float) / nonnull  # observed weights per bin
            ew = np.array(weights, dtype=float) * (1 - tail_holdout - internal_holdout)
            if internal_holdout > 0:
                zero = int(len(ew) - np.count_nonzero(ew))
                if zero > 0:
                    ew = np.where(ew == 0, internal_holdout / zero, ew)
            bf, af = below / nonnull, above / nonnull
            # branch mirrors the reference's inf-endpoint cases
            if left_inf and right_inf:
                expected_bins = bins[1:-1]
                comb_e, e_tail, e_main = ew, [ew[0], ew[-1]], ew[1:-1]
                comb_o, o_tail, o_main = ow, [ow[0], ow[-1]], ow[1:-1]
            elif left_inf:
                expected_bins = bins[1:]
                comb_e = np.concatenate((ew, [tail_holdout]))
                e_tail, e_main = [ew[0], tail_holdout], ew[1:]
                comb_o = np.concatenate((ow, [af]))
                o_tail, o_main = [ow[0], af], ow[1:]
            elif right_inf:
                expected_bins = bins[:-1]
                comb_e = np.concatenate(([tail_holdout], ew))
                e_tail, e_main = [tail_holdout, ew[-1]], ew[:-1]
                comb_o = np.concatenate(([bf], ow))
                o_tail, o_main = [bf, ow[-1]], ow[:-1]
            else:
                expected_bins = bins
                if "tail_weights" in po:
                    tw = [float(t) for t in po["tail_weights"]]
                    comb_e = np.concatenate(([tw[0]], ew, [tw[1]]))
                    e_tail = tw
                else:
                    comb_e = np.concatenate(([tail_holdout / 2], ew, [tail_holdout / 2]))
                    e_tail = [tail_holdout / 2, tail_holdout / 2]
                e_main = ew
                comb_o = np.concatenate(([bf], ow, [af]))
                o_tail, o_main = [bf, af], ow

            kl = stats.kl_divergence(comb_o, comb_e)
            bad = math.isinf(kl) or math.isnan(kl)
            success = True if threshold is None else (not bad and kl <= float(threshold))
            return EVR(
                success=bool(success),
                expectation_config=config,
                result={
                    "observed_value": None if bad else kl,
                    "details": {
                        "observed_partition": {
                            "bins": expected_bins,
                            "weights": np.asarray(o_main, dtype=float).tolist(),
                            "tail_weights": [float(x) for x in o_tail],
                        },
                        "expected_partition": {
                            "bins": expected_bins,
                            "weights": np.asarray(e_main, dtype=float).tolist(),
                            "tail_weights": [float(x) for x in e_tail],
                        },
                    },
                },
            )

    elif "values" in po:  # categorical
        if internal_holdout > 0:
            raise CompileError("Internal weight holdout cannot be used for discrete data.")
        values = list(po["values"])
        weights = [float(w) for w in po["weights"]]
        if len(values) != len(weights) or not np.allclose(np.sum(weights), 1):
            raise CompileError("Invalid partition object.")
        value_counts = ValueDomain(c)

        def finalize(metrics: Metrics) -> EVR:
            counts = _shared_counts(metrics, value_counts)
            nonnull = int(metrics.get(k_nonnull) or 0)
            if nonnull == 0:
                return EVR(success=True, expectation_config=config,
                           result={"observed_value": None})
            expected = {v: w for v, w in zip(values, weights)}
            # union index, expected order first then unseen observed values
            # (reference pd.concat axis=1 alignment)
            index = values + sorted(
                (v for v in counts if v not in expected), key=str)
            n_extra = sum(1 for v in index if v not in expected)
            pk, qk = [], []
            for v in index:
                pk.append(counts.get(v, 0) / nonnull)
                if v in expected:
                    qk.append(expected[v] * (1 - tail_holdout) if n_extra else expected[v])
                else:
                    # reference fills unseen-expected NAs with holdout/n_extra
                    qk.append(tail_holdout / n_extra if tail_holdout else 0.0)
            kl = stats.kl_divergence(np.array(pk), np.array(qk))
            bad = math.isinf(kl) or math.isnan(kl)
            success = True if threshold is None else (not bad and kl <= float(threshold))
            return EVR(
                success=bool(success),
                expectation_config=config,
                result={
                    "observed_value": None if bad else kl,
                    "details": {
                        "observed_partition": {
                            "values": index,
                            "weights": pk,
                        },
                        "expected_partition": {
                            "values": index,
                            "weights": qk,
                        },
                    },
                },
            )

    else:
        raise CompileError("Invalid partition object.")

    return Compiled(config=config, finalize=finalize, aggs=aggs,
                    value_counts=value_counts)


@compiler("expect_column_chisquare_test_p_value_to_be_greater_than")
def _chisquare(config: ExpectationConfiguration, options: Options) -> Compiled:
    kwargs = config.kwargs
    c = kwargs["column"]
    po = kwargs["partition_object"]
    p_threshold = float(kwargs.get("p", 0.05))
    col = F.col(c)
    k_nonnull = f"column.nonnull|{c}|"
    value_counts = ValueDomain(c)
    aggs = {k_nonnull: F.count(col)}
    tail_holdout = float(kwargs.get("tail_weight_holdout", 0.0))

    def finalize(metrics: Metrics) -> EVR:
        counts = _shared_counts(metrics, value_counts)
        nonnull = int(metrics.get(k_nonnull) or 0)
        values = list(po["values"])
        weights = [float(w) for w in po["weights"]]
        # union index: expected values first, then unseen observed values
        # (reference dataset.py:3783-3830 pd.concat alignment)
        index = values + sorted((v for v in counts if v not in set(values)), key=str)
        n_extra = len(index) - len(values)
        expected_map = {v: w * nonnull for v, w in zip(values, weights)}
        if n_extra > 0:
            expected_map = {v: e * (1 - tail_holdout) for v, e in expected_map.items()}
            fill = nonnull * (tail_holdout / n_extra)
            for v in index[len(values):]:
                expected_map[v] = fill
        observed = np.array([counts.get(v, 0) for v in index], dtype=float)
        expected = np.array([expected_map[v] for v in index], dtype=float)
        stat, p = stats.chisquare_test(observed, expected)
        e_sum, o_sum = expected.sum(), observed.sum()
        return EVR(
            success=p > p_threshold,
            expectation_config=config,
            result={
                "observed_value": p,
                "element_count": nonnull,
                "missing_count": None,
                "missing_percent": None,
                "details": {
                    "observed_partition": {
                        "values": index,
                        "weights": (observed / o_sum).tolist() if o_sum else [0.0] * len(index),
                    },
                    "expected_partition": {
                        "values": index,
                        "weights": (expected / e_sum).tolist() if e_sum else [0.0] * len(index),
                    },
                    "chi_squared": stat,
                },
            },
        )

    return Compiled(config=config, finalize=finalize, aggs=aggs,
                    value_counts=value_counts)


@compiler("expect_column_bootstrapped_ks_test_p_value_to_be_greater_than")
def _bootstrapped_ks(config: ExpectationConfiguration, options: Options) -> Compiled:
    """Bootstrapped KS test against a continuous partition_object
    (reference column_bootstrapped_ks_test_p_value.py:33-115, pandas-only
    there): observed_value = fraction of ``bootstrap_samples`` small
    resamples whose KS p-value vs the partition's interpolated CDF
    exceeds ``p``. The small resample size (2x bins) deliberately
    desensitizes the test to partition compression. The resampling runs on
    a bounded driver-side sample; the column itself never leaves Spark
    unsampled."""
    kwargs = config.kwargs
    c = kwargs["column"]
    po = kwargs["partition_object"]
    p_threshold = float(kwargs.get("p", 0.05))

    def _valid_continuous(p_obj) -> bool:
        if not isinstance(p_obj, dict) or "bins" not in p_obj or "weights" not in p_obj:
            return False
        w = list(p_obj["weights"])
        if "tail_weights" in p_obj:
            if len(p_obj["tail_weights"]) != 2:
                return False
            w = list(p_obj["tail_weights"]) + w
        return len(p_obj["bins"]) == len(p_obj["weights"]) + 1 and bool(
            np.allclose(np.sum(w), 1))

    if not _valid_continuous(po):
        raise CompileError("Invalid continuous partition object.")
    bins = [float(b) for b in po["bins"]]
    if math.isinf(bins[0]) or math.isinf(bins[-1]):
        raise CompileError("Partition endpoints must be finite.")
    if "tail_weights" in po and np.sum(po["tail_weights"]) > 0:
        raise CompileError(
            "Partition cannot have tail weights -- endpoints must be finite.")
    weights = [float(w) for w in po["weights"]]
    n_boot = int(kwargs.get("bootstrap_samples") or 1000)
    sample_size = int(kwargs.get("bootstrap_sample_size") or len(weights) * 2)
    k_sample = f"ks_boot_sample|{config.id}"
    cap = options.ks_sample_cap

    def eager(df: DataFrame, metrics: Metrics) -> dict[str, Any]:
        rows = df.where(F.col(c).isNotNull()).select(c).limit(cap).collect()
        return {k_sample: [float(r[0]) for r in rows]}

    def finalize(metrics: Metrics) -> EVR:
        sample = np.array(metrics.get(k_sample) or [], dtype=float)
        if len(sample) == 0:
            return EVR(success=True, expectation_config=config,
                       result={"observed_value": None})
        test_cdf = np.append([0.0], np.cumsum(weights))

        def est_cdf(x):
            return np.interp(x, bins, test_cdf)

        rng = np.random.default_rng(42)  # deterministic replay
        hits = 0
        for _ in range(n_boot):
            resample = rng.choice(sample, size=sample_size)
            s = np.sort(resample)
            cdf = est_cdf(s)
            n = len(s)
            d = float(max(np.max(np.arange(1, n + 1) / n - cdf),
                          np.max(cdf - np.arange(0, n) / n)))
            if stats.ks_sf(d, n) >= p_threshold:
                hits += 1
        test_result = (1 + hits) / (n_boot + 1)
        return EVR(
            success=bool(test_result > p_threshold),
            expectation_config=config,
            result={"observed_value": float(test_result),
                    "details": {"bootstrap_samples": n_boot,
                                "bootstrap_sample_size": sample_size}},
        )

    return Compiled(config=config, finalize=finalize, eager=eager)


def _scipy_args(distribution: str, params) -> tuple:
    """Positional scipy args from GE's named-parameter convention
    (reference dataset/util.py validate_distribution_parameters /
    _scipy_distribution_positional_args_from_dict)."""
    if params is None:
        raise CompileError("params is required for parameterized KS test")
    if isinstance(params, (list, tuple)):
        return tuple(params)
    p = params
    if distribution == "norm":
        return (p.get("mean", 0), p.get("std_dev", 1))
    if distribution == "beta":
        return (p["alpha"], p["beta"], p.get("loc", 0), p.get("scale", 1))
    if distribution == "gamma":
        return (p["alpha"], p.get("loc", 0), p.get("scale", 1))
    if distribution == "uniform":
        return (p.get("min", 0), p.get("max", 1))
    if distribution == "chi2":
        return (p["df"], p.get("loc", 0), p.get("scale", 1))
    if distribution in ("expon", "exponential"):
        return (p.get("loc", 0), p.get("scale", 1))
    raise CompileError(f"unsupported distribution {distribution!r}")


@compiler("expect_column_parameterized_distribution_ks_test_p_value_to_be_greater_than")
def _parameterized_ks(config: ExpectationConfiguration, options: Options) -> Compiled:
    """KS test of the column against a NAMED scipy distribution
    (reference expect_column_parameterized_distribution_ks_test...py,
    pandas-only there): bounded sample → driver-side scipy.stats.kstest.
    At 10^12 rows the sample bound keeps the driver transfer constant."""
    kwargs = config.kwargs
    c = kwargs["column"]
    distribution = kwargs["distribution"]
    p_threshold = float(kwargs.get("p_value", 0.05))
    args = _scipy_args(distribution, kwargs.get("params"))
    dist_name = "expon" if distribution == "exponential" else distribution
    k_sample = f"ks_sample|{config.id}"
    cap = options.ks_sample_cap

    def eager(df: DataFrame, metrics: Metrics) -> dict[str, Any]:
        rows = df.where(F.col(c).isNotNull()).select(c).limit(cap).collect()
        return {k_sample: [float(r[0]) for r in rows]}

    def finalize(metrics: Metrics) -> EVR:
        sample = metrics.get(k_sample) or []
        if not sample:
            return EVR(success=True, expectation_config=config,
                       result={"observed_value": None})
        stat, p = stats.ks_test_named(np.array(sample), dist_name, args)
        return EVR(
            success=bool(p > p_threshold),
            expectation_config=config,
            result={"observed_value": float(p), "details": {"ks_d": float(stat)}},
        )

    return Compiled(config=config, finalize=finalize, eager=eager)


@compiler("expect_column_pair_cramers_phi_value_to_be_less_than")
def _cramers_phi(config: ExpectationConfiguration, options: Options) -> Compiled:
    kwargs = config.kwargs
    ca, cb = kwargs["column_A"], kwargs["column_B"]
    threshold = float(kwargs.get("threshold", 0.1))
    k_phi = f"cramers_phi|{config.id}"

    def eager(df: DataFrame, metrics: Metrics) -> dict[str, Any]:
        rows = _bounded_group_counts(
            df, [ca, cb], options.distinct_set_cap,
            where=F.col(ca).isNotNull() & F.col(cb).isNotNull())
        a_vals = sorted({r[ca] for r in rows}, key=str)
        b_vals = sorted({r[cb] for r in rows}, key=str)
        table = np.zeros((len(a_vals), len(b_vals)))
        ai = {v: i for i, v in enumerate(a_vals)}
        bi = {v: i for i, v in enumerate(b_vals)}
        for r in rows:
            table[ai[r[ca]], bi[r[cb]]] = r["__n"]
        return {k_phi: stats.cramers_phi(table)}

    def finalize(metrics: Metrics) -> EVR:
        phi = float(metrics.get(k_phi) or 0.0)
        return EVR(
            success=phi < threshold,
            expectation_config=config,
            result={"observed_value": phi},
        )

    return Compiled(config=config, finalize=finalize, eager=eager)
