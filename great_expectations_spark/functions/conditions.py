"""Map-condition kernels: expectation kwargs → Spark boolean Column.

Each kernel compiles one row-level expectation into three Columns:

  include : row participates in the denominator (null/ignore_row_if filter —
            reference ``filter_column_isnull`` map_metric_provider.py:526-541
            and ``ignore_row_if`` sparkdf_execution_engine.py:557-618)
  ok      : row satisfies the expectation (only meaningful where ``include``)
  value   : the value reported for violating rows

The engine turns these into conditional sums inside ONE fused ``df.agg``:
  element_count   = count(*)
  missing_count   = sum(when(~include, 1))
  unexpected_count= sum(when(include & ~coalesce(ok, false), 1))

Everything here is a native Column expression (JVM-side, whole-stage
codegen); Python-semantics kernels (json/strftime/dateutil) live in
functions/udfs.py as vectorized pandas UDFs (north rule: no per-row Python).

Reference kernels re-expressed (not copied):
  great_expectations/expectations/metrics/column_map_metrics/*.py,
  column_pair_map_metrics/*.py, multicolumn_map_metrics/*.py.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce
from typing import Any, Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from great_expectations_spark.functions import udfs


@dataclass
class MapKernel:
    include: Column
    ok: Column
    value: Column
    # columns the kernel reads (for column pruning in the violation pass)
    columns: list[str] = field(default_factory=list)
    # True when missing rows should be reported via missing_count/percent
    # (column-map semantics); pair/multicolumn report filtered_row_count.
    column_domain: bool = True
    # shape of each reported unexpected value (reference _format_map_output):
    # "scalar" (column), "pair" (list [a, b]), "record" (dict col->value)
    value_format: str = "scalar"
    # every unexpected row's value is NULL (not-null checks, under any
    # row_condition too): the violation lists follow from the unexpected
    # count, so pass 2 reads rows only for index columns or unexpected rows
    null_unexpected: bool = False


KernelBuilder = Callable[[dict[str, Any]], MapKernel]
MAP_KERNELS: dict[str, KernelBuilder] = {}


def register(name: str) -> Callable[[KernelBuilder], KernelBuilder]:
    def deco(fn: KernelBuilder) -> KernelBuilder:
        MAP_KERNELS[name] = fn
        return fn

    return deco


def _col_kernel(kwargs: dict[str, Any], ok: Column, include: Column | None = None) -> MapKernel:
    c = kwargs["column"]
    col = F.col(c)
    return MapKernel(
        include=include if include is not None else col.isNotNull(),
        ok=ok,
        value=col,
        columns=[c],
    )


# ---------------------------------------------------------------- null checks


@register("expect_column_values_to_not_be_null")
def _not_null(kwargs: dict[str, Any]) -> MapKernel:
    col = F.col(kwargs["column"])
    # element_count is ALL rows; null rows are the unexpected ones
    # (reference: column_values_non_null.py:36-38, filter_column_isnull=False)
    return MapKernel(include=F.lit(True), ok=col.isNotNull(), value=col,
                     columns=[kwargs["column"]], null_unexpected=True)


@register("expect_column_values_to_be_null")
def _null(kwargs: dict[str, Any]) -> MapKernel:
    col = F.col(kwargs["column"])
    return MapKernel(include=F.lit(True), ok=col.isNull(), value=col, columns=[kwargs["column"]])


# ------------------------------------------------------------- set membership


@register("expect_column_values_to_be_in_set")
def _in_set(kwargs: dict[str, Any]) -> MapKernel:
    vs = kwargs.get("value_set")
    col = F.col(kwargs["column"])
    # None → vacuously true; EMPTY list → nothing passes
    # (reference column_values_in_set.py:105-126)
    if vs is None:
        ok = F.lit(True)
    elif not vs:
        ok = F.lit(False)
    else:
        ok = col.isin(list(vs))
    return _col_kernel(kwargs, ok)


@register("expect_column_values_to_not_be_in_set")
def _not_in_set(kwargs: dict[str, Any]) -> MapKernel:
    vs = kwargs.get("value_set")
    col = F.col(kwargs["column"])
    if vs is None:
        # reference spark backend raises (column_values_not_in_set.py)
        raise ValueError(
            "expect_column_values_to_not_be_in_set cannot support a None in the "
            "value_set in spark")
    ok = F.lit(True) if not vs else ~col.isin(list(vs))
    return _col_kernel(kwargs, ok)


# --------------------------------------------------------------------- ranges


def _between(col: Column, kwargs: dict[str, Any]) -> Column:
    lo = kwargs.get("min_value")
    hi = kwargs.get("max_value")
    if kwargs.get("parse_strings_as_datetimes"):
        # legacy kwarg (deprecated in the reference since 0.13.41): on the
        # spark backend ONLY the bounds are parsed — the column is compared
        # natively (column_values_between.py:315-356 _spark). in_set and
        # increasing deliberately ignore the flag there too
        # (column_values_in_set.py:111 "compare the strings as is").
        from dateutil import parser as _p

        def _parse(b):
            if isinstance(b, str):
                try:
                    return _p.parse(b)
                except (ValueError, OverflowError):
                    return b
            return b

        lo, hi = _parse(lo), _parse(hi)
    strict_min = bool(kwargs.get("strict_min", False))
    strict_max = bool(kwargs.get("strict_max", False))
    conds: list[Column] = []
    if lo is not None:
        conds.append(col > F.lit(lo) if strict_min else col >= F.lit(lo))
    if hi is not None:
        conds.append(col < F.lit(hi) if strict_max else col <= F.lit(hi))
    if not conds:
        # reference column_values_between._spark raises rather than
        # vacuously passing every row (a dropped-bounds typo must not
        # silently validate nothing)
        raise ValueError("min_value and max_value cannot both be None")
    return reduce(lambda a, b: a & b, conds)


@register("expect_column_values_to_be_between")
def _values_between(kwargs: dict[str, Any]) -> MapKernel:
    return _col_kernel(kwargs, _between(F.col(kwargs["column"]), kwargs))


@register("expect_column_value_lengths_to_be_between")
def _lengths_between(kwargs: dict[str, Any]) -> MapKernel:
    for b in ("min_value", "max_value"):
        v = kwargs.get(b)
        if v is not None:
            # reference raises on non-INTEGER length bounds — int(2.5)
            # passing through would compare lengths against a bound the
            # user never stated
            try:
                ok_int = float(v) == int(v)
            except (TypeError, ValueError):
                ok_int = False
            if not ok_int:
                raise ValueError(f"{b} for length must be an integer, got {v!r}")
    return _col_kernel(kwargs, _between(F.length(F.col(kwargs["column"])), kwargs))


@register("expect_column_value_lengths_to_equal")
def _lengths_equal(kwargs: dict[str, Any]) -> MapKernel:
    ok = F.length(F.col(kwargs["column"])) == F.lit(int(kwargs["value"]))
    return _col_kernel(kwargs, ok)


# ---------------------------------------------------------------- regex/LIKE


@register("expect_column_values_to_match_regex")
def _match_regex(kwargs: dict[str, Any]) -> MapKernel:
    return _col_kernel(kwargs, F.col(kwargs["column"]).rlike(kwargs["regex"]))


@register("expect_column_values_to_not_match_regex")
def _not_match_regex(kwargs: dict[str, Any]) -> MapKernel:
    return _col_kernel(kwargs, ~F.col(kwargs["column"]).rlike(kwargs["regex"]))


def _regex_list(col: Column, patterns: list[str], match_on: str) -> Column:
    if not patterns:
        raise ValueError("regex_list / like_pattern_list must not be empty")
    conds = [col.rlike(p) for p in patterns]
    op = (lambda a, b: a | b) if match_on == "any" else (lambda a, b: a & b)
    return reduce(op, conds)


@register("expect_column_values_to_match_regex_list")
def _match_regex_list(kwargs: dict[str, Any]) -> MapKernel:
    ok = _regex_list(
        F.col(kwargs["column"]), list(kwargs["regex_list"]), kwargs.get("match_on", "any")
    )
    return _col_kernel(kwargs, ok)


@register("expect_column_values_to_not_match_regex_list")
def _not_match_regex_list(kwargs: dict[str, Any]) -> MapKernel:
    # ok = matches none of the patterns
    ok = ~_regex_list(F.col(kwargs["column"]), list(kwargs["regex_list"]), "any")
    return _col_kernel(kwargs, ok)


@register("expect_column_values_to_match_like_pattern")
def _match_like(kwargs: dict[str, Any]) -> MapKernel:
    return _col_kernel(kwargs, F.col(kwargs["column"]).like(kwargs["like_pattern"]))


@register("expect_column_values_to_not_match_like_pattern")
def _not_match_like(kwargs: dict[str, Any]) -> MapKernel:
    return _col_kernel(kwargs, ~F.col(kwargs["column"]).like(kwargs["like_pattern"]))


@register("expect_column_values_to_match_like_pattern_list")
def _match_like_list(kwargs: dict[str, Any]) -> MapKernel:
    col = F.col(kwargs["column"])
    pats = list(kwargs["like_pattern_list"])
    if not pats:
        raise ValueError("like_pattern_list must not be empty")
    conds = [col.like(p) for p in pats]
    op = (lambda a, b: a | b) if kwargs.get("match_on", "any") == "any" else (lambda a, b: a & b)
    return _col_kernel(kwargs, reduce(op, conds))


@register("expect_column_values_to_not_match_like_pattern_list")
def _not_match_like_list(kwargs: dict[str, Any]) -> MapKernel:
    col = F.col(kwargs["column"])
    pats = list(kwargs["like_pattern_list"])
    if not pats:
        raise ValueError("like_pattern_list must not be empty")
    ok = ~reduce(lambda a, b: a | b, [col.like(p) for p in pats])
    return _col_kernel(kwargs, ok)


# ------------------------------------------- python-semantics (pandas UDFs)


@register("expect_column_values_to_be_json_parseable")
def _json_parseable(kwargs: dict[str, Any]) -> MapKernel:
    return _col_kernel(kwargs, udfs.json_parseable(F.col(kwargs["column"])))


@register("expect_column_values_to_match_json_schema")
def _match_json_schema(kwargs: dict[str, Any]) -> MapKernel:
    ok = udfs.match_json_schema(kwargs["json_schema"])(F.col(kwargs["column"]))
    return _col_kernel(kwargs, ok)


@register("expect_column_values_to_match_strftime_format")
def _match_strftime(kwargs: dict[str, Any]) -> MapKernel:
    fmt = kwargs["strftime_format"]
    # reference validates the format by a strftime/strptime round trip
    import datetime as _dt

    try:
        _dt.datetime.strptime(_dt.datetime.strftime(_dt.datetime.now(), fmt), fmt)
    except ValueError as e:
        raise ValueError("Unable to use provided strftime_format.") from e
    ok = udfs.match_strftime(fmt)(F.col(kwargs["column"]))
    return _col_kernel(kwargs, ok)


@register("expect_column_values_to_be_dateutil_parseable")
def _dateutil_parseable(kwargs: dict[str, Any]) -> MapKernel:
    return _col_kernel(kwargs, udfs.dateutil_parseable(F.col(kwargs["column"])))


# ------------------------------------------------------------- pair kernels


def _pair_include(a: Column, b: Column, ignore_row_if: str) -> Column:
    if ignore_row_if == "both_values_are_missing":
        return ~(a.isNull() & b.isNull())
    if ignore_row_if in ("either_value_is_missing", "any_value_is_missing"):
        return a.isNotNull() & b.isNotNull()
    return F.lit(True)  # "neither" / "never"


def _pair_kernel(kwargs: dict[str, Any], ok: Column) -> MapKernel:
    ca, cb = kwargs["column_A"], kwargs["column_B"]
    a, b = F.col(ca), F.col(cb)
    include = _pair_include(a, b, kwargs.get("ignore_row_if", "both_values_are_missing"))
    return MapKernel(
        include=include,
        ok=ok,
        value=F.struct(a.alias(ca), b.alias(cb)),
        columns=[ca, cb],
        column_domain=False,
        value_format="pair",
    )


@register("expect_column_pair_values_to_be_equal")
def _pair_equal(kwargs: dict[str, Any]) -> MapKernel:
    a, b = F.col(kwargs["column_A"]), F.col(kwargs["column_B"])
    return _pair_kernel(kwargs, a.eqNullSafe(b))


@register("expect_column_pair_values_a_to_be_greater_than_b")
def _pair_greater(kwargs: dict[str, Any]) -> MapKernel:
    a, b = F.col(kwargs["column_A"]), F.col(kwargs["column_B"])
    ok = (a >= b) if kwargs.get("or_equal") else (a > b)
    return _pair_kernel(kwargs, ok)


# legacy capitalized registration — the reference's own fixture corpus and
# docs use this casing (tests/test_definitions/column_pair_map_expectations/
# expect_column_pair_values_a_to_be_greater_than_b.json "expectation_type")
MAP_KERNELS["expect_column_pair_values_A_to_be_greater_than_B"] = _pair_greater


@register("expect_column_pair_values_to_be_in_set")
def _pair_in_set(kwargs: dict[str, Any]) -> MapKernel:
    a, b = F.col(kwargs["column_A"]), F.col(kwargs["column_B"])
    if kwargs.get("value_pairs_set") is None:
        raise ValueError("value_pairs_set is required")
    pairs = list(kwargs["value_pairs_set"])
    conds = [a.eqNullSafe(F.lit(x)) & b.eqNullSafe(F.lit(y)) for (x, y) in pairs]
    # empty allowlist permits NOTHING (same convention as _in_set)
    ok = reduce(lambda p, q: p | q, conds) if conds else F.lit(False)
    return _pair_kernel(kwargs, ok)


# ------------------------------------------------------- multicolumn kernels


def _multi_include(cols: list[Column], ignore_row_if: str) -> Column:
    if ignore_row_if == "all_values_are_missing":
        return ~reduce(lambda a, b: a & b, [c.isNull() for c in cols])
    if ignore_row_if == "any_value_is_missing":
        return reduce(lambda a, b: a & b, [c.isNotNull() for c in cols])
    return F.lit(True)


def _multi_kernel(kwargs: dict[str, Any], ok: Column) -> MapKernel:
    names = list(kwargs["column_list"])
    cols = [F.col(c) for c in names]
    include = _multi_include(cols, kwargs.get("ignore_row_if", "all_values_are_missing"))
    return MapKernel(
        include=include,
        ok=ok,
        value=F.struct(*[c.alias(n) for c, n in zip(cols, names)]),
        columns=names,
        column_domain=False,
        value_format="record",
    )


@register("expect_multicolumn_sum_to_equal")
def _multicolumn_sum_equal(kwargs: dict[str, Any]) -> MapKernel:
    # reference multicolumn_sum_equal.py:37-44: COALESCE each column to 0
    total = reduce(
        lambda a, b: a + b, [F.coalesce(F.col(c), F.lit(0)) for c in kwargs["column_list"]]
    )
    return _multi_kernel(kwargs, total == F.lit(kwargs["sum_total"]))


# ------------------------------------------------- plugin expectation bases


def _register_plugin(name: str, builder: KernelBuilder) -> None:
    """(Re-)register a plugin kernel and invalidate any cached Compiled
    records for the name — re-registering with a new regex/set must not
    serve the stale kernel out of the compile cache."""
    MAP_KERNELS[name] = builder
    from great_expectations_spark.plans import compiler

    compiler.invalidate_cache(name)


def register_regex_expectation(name: str, regex: str, match: bool = True) -> None:
    """Plugin base: declare a new column-map expectation from a regex —
    the engine-native form of the reference's
    ``RegexBasedColumnMapExpectation`` (expectations/
    regex_based_column_map_expectation.py: subclass carries ``regex_`` +
    camel name; here one call registers the kernel). ``match=False``
    asserts values do NOT match.

    Example::

        register_regex_expectation(
            "expect_column_values_to_be_hex_color", r"^#[0-9a-fA-F]{6}$")
    """
    if not name.startswith("expect_"):
        raise ValueError("expectation name must start with 'expect_'")

    def build(kwargs: dict[str, Any]) -> MapKernel:
        cond = F.col(kwargs["column"]).rlike(regex)
        return _col_kernel(kwargs, cond if match else ~cond)

    _register_plugin(name, build)


def register_set_expectation(name: str, value_set: list, in_set: bool = True) -> None:
    """Plugin base: declare a new column-map expectation from a fixed value
    set — the engine-native ``SetBasedColumnMapExpectation``
    (set_based_column_map_expectation.py)."""
    if not name.startswith("expect_"):
        raise ValueError("expectation name must start with 'expect_'")
    frozen = list(value_set)

    def build(kwargs: dict[str, Any]) -> MapKernel:
        col = F.col(kwargs["column"])
        cond = col.isin(frozen) if frozen else F.lit(False)
        return _col_kernel(kwargs, cond if in_set else ~cond)

    _register_plugin(name, build)


@register("expect_select_column_values_to_be_unique_within_record")
def _unique_within_record(kwargs: dict[str, Any]) -> MapKernel:
    # pairwise all-distinct within the row
    # (reference select_column_values_unique_within_record.py:69-90)
    names = list(kwargs["column_list"])
    conds = []
    for i in range(len(names)):
        for j in range(i + 1, len(names)):
            conds.append(~F.col(names[i]).eqNullSafe(F.col(names[j])))
    ok = reduce(lambda a, b: a & b, conds) if conds else F.lit(True)
    return _multi_kernel(kwargs, ok)
