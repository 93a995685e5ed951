"""Interactive validation + raw metric access (SURVEY §3 entry points A/D).

The reference's exploratory workflow: ``validator.expect_*(...)`` methods
generated from the expectation registry — each call validates immediately,
returns its EVR, and upserts its configuration into the validator's
in-memory suite, which ``get_expectation_suite(
discard_failed_expectations=True)`` then returns for saving
(validator/validator.py:393-460 dynamic dispatch, :1280-1343 suite
accumulation). Raw metric access without any expectation is
``MetricsCalculator.get_metric(s)`` (validator/metrics_calculator.py:57-106),
resolved one validation-graph wave per metric.

Spark-first deltas:
  * ``get_metrics`` computes EVERY requested aggregate metric in ONE fused
    ``df.agg`` scan instead of one resolution wave per metric.
  * ``metric_aggs`` is the one metric-name → aggregate table (the
    reference's MetricConfiguration registry): ``profiler.profile`` /
    ``profile_details``, the rule profiler's domain pass and per-batch
    ``batch_metrics``, and ``grouped.validate_by`` resolve through it
    too. Its exact-vs-sketch aggregates come from the compiler's helpers
    and its histogram bins from the KL path's builder, so no module
    outside ``plans/compiler.py`` writes its own.
  * eager metrics (value_counts, distinct_values, most_common_value) ride
    the same bounded-collect guards the compiler uses
    (``Options.distinct_set_cap``) — nothing unbounded reaches the driver.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from great_expectations_spark.core.result import (
    ExpectationValidationResult,
    SuiteValidationResult,
)
from great_expectations_spark.core.suite import (
    ExpectationConfiguration,
    ExpectationSuite,
)
from great_expectations_spark.plans.compiler import (
    Options,
    _bin_sums,
    _bounded_group_counts,
    _distinct_count_agg,
    _median_agg,
    _quantiles_agg,
    supported_expectations,
)
from great_expectations_spark.validator import validate

# ---------------------------------------------------------------- metrics


def _one(expr: Column, post=lambda v: v):
    return {"v": expr}, lambda d: post(d["v"])


def _quantile(col: Column, kw: dict, o: Options):
    # one scalar quantile (metric_value_kwargs {"quantile": p}), so a
    # per-batch range builder can envelope any quantile, not just the
    # median (the reference numeric rule's quantile ranges,
    # onboarding_data_assistant.py:298)
    p = float(kw["quantile"])
    if not 0.0 <= p <= 1.0:
        raise ValueError(f"quantile must be in [0, 1], got {p}")
    return _one(_quantiles_agg(col, p, o))


def _values_between_count(col: Column, kw: dict, o: Options):
    cond = F.lit(True)
    if kw.get("min_value") is not None:
        lo = F.lit(kw["min_value"])
        cond = cond & (col > lo if kw.get("strict_min") else col >= lo)
    if kw.get("max_value") is not None:
        hi = F.lit(kw["max_value"])
        cond = cond & (col < hi if kw.get("strict_max") else col <= hi)
    return _one(F.sum((col.isNotNull() & cond).cast("long")),
                lambda v: int(v or 0))


def _histogram(col: Column, kw: dict, o: Options):
    # reference column_histogram.py:229-296 (Bucketizer + groupBy): here
    # the bucket counts are conditional sums fused into the same agg,
    # built by the KL path's bin builder
    sums = _bin_sums(col, [float(b) for b in kw["bins"]])
    return ({f"b{i}": s for i, s in enumerate(sums)},
            lambda d: [int(d[f"b{i}"] or 0) for i in range(len(sums))])


# metric name -> (col, kwargs, options) -> (agg Columns by tag, finalize)
_REGISTRY = {
    "table.row_count": lambda col, kw, o: _one(F.count(F.lit(1))),
    "column.sum": lambda col, kw, o: _one(F.sum(col)),
    "column.mean": lambda col, kw, o: _one(F.avg(col)),
    "column.min": lambda col, kw, o: _one(F.min(col)),
    "column.max": lambda col, kw, o: _one(F.max(col)),
    "column.standard_deviation": lambda col, kw, o: _one(F.stddev_samp(col)),
    "column.median": lambda col, kw, o: _one(_median_agg(col, o)),
    "column.quantile": _quantile,
    "column.quantile_values": lambda col, kw, o: _one(
        _quantiles_agg(col, [float(q) for q in kw["quantiles"]], o),
        lambda v: list(v) if v is not None else None),
    "column.distinct_values.count": lambda col, kw, o: _one(
        _distinct_count_agg(col, o), lambda v: int(v or 0)),
    "column.unique_proportion": lambda col, kw, o: (
        {"d": _distinct_count_agg(col, o), "n": F.count(col)},
        lambda d: (int(d["d"]) / int(d["n"])) if d["n"] else None),
    "column_values.null.count": lambda col, kw, o: _one(
        F.sum(col.isNull().cast("long")), lambda v: int(v or 0)),
    "column_values.nonnull.count": lambda col, kw, o: _one(
        F.count(col), lambda v: int(v or 0)),
    "column.values_between.count": _values_between_count,
    "column_values.length_min": lambda col, kw, o: _one(F.min(F.length(col))),
    "column_values.length_max": lambda col, kw, o: _one(F.max(F.length(col))),
    "column_values.length_mean": lambda col, kw, o: _one(F.avg(F.length(col))),
    "column.histogram": _histogram,
}


def metric_aggs(name: str, kw: dict, o: Options):
    """The metric registry: (aggregate Columns by tag, finalize(values by
    tag) -> metric) for a metric name + domain/value kwargs, or None when
    the metric has no aggregate form (see ``_eager``). Whole-table
    ``get_metrics``, the profiler's per-batch ``batch_metrics`` and
    ``grouped.validate_by`` all resolve through this one table; its
    exact-vs-sketch choices come from the compiler's helpers."""
    build = _REGISTRY.get(name)
    if build is None:
        return None
    c = kw.get("column")
    if c is None and not name.startswith("table."):
        raise ValueError(f"metric {name!r} needs a column domain")
    return build(F.col(c) if c else None, kw, o)


def plan_metrics(requests: dict[str, tuple[str, dict[str, Any]]],
                 o: Options):
    """Every registry metric among ``requests`` as ONE aliased aggregate
    list, plus ``finish(row) -> {key: value}`` over a row of those aliases
    and the keys left for eager resolution."""
    aggs: list[Column] = []
    finalize: dict[str, Any] = {}
    eager: list[str] = []
    for key, (name, kw) in requests.items():
        plan = metric_aggs(name, kw, o)
        if plan is None:
            eager.append(key)
            continue
        exprs, fin = plan
        aliases = {}
        for tag, expr in exprs.items():
            alias = f"m{len(aggs)}"
            aggs.append(expr.alias(alias))
            aliases[tag] = alias
        finalize[key] = (fin, aliases)

    def finish(row) -> dict[str, Any]:
        return {key: fin({tag: row[a] for tag, a in aliases.items()})
                for key, (fin, aliases) in finalize.items()}

    return aggs, finish, eager


def _distinct_set_overflow(column: str, o: Options) -> ValueError:
    """The error of a ``column.distinct_values`` request over a column
    with more than ``o.distinct_set_cap`` distinct non-null values."""
    return ValueError(f"column {column!r} has more than distinct_set_cap="
                      f"{o.distinct_set_cap} distinct values")


def _eager(df: DataFrame, name: str, kw: dict, o: Options):
    c = kw.get("column")
    if name == "table.columns":
        return list(df.columns)
    if name == "table.column_types":
        return [{"name": f.name, "type": f.dataType.simpleString()}
                for f in df.schema.fields]
    if name == "column.value_counts":
        rows = _bounded_group_counts(
            df, [c], o.distinct_set_cap, where=F.col(c).isNotNull())
        return sorted(((r[0], int(r["__n"])) for r in rows),
                      key=lambda t: str(t[0]))
    if name == "column.distinct_values":
        rows = (df.select(c).where(F.col(c).isNotNull()).distinct()
                .limit(o.distinct_set_cap + 1).collect())
        if len(rows) > o.distinct_set_cap:
            raise _distinct_set_overflow(c, o)
        return set(r[0] for r in rows)
    if name == "column.partition":
        # reference column_partition.py:59-113: bin edges from min/max
        # (uniform), quantiles (quantile), or ntile-style auto — one
        # bounded agg job, edges math on the driver
        n_bins = int(kw.get("bins", 10)) if not isinstance(
            kw.get("bins"), str) else 10
        mode = kw.get("bins") if isinstance(kw.get("bins"), str) else "uniform"
        if isinstance(kw.get("n_bins"), int):
            n_bins = kw["n_bins"]
        col = F.col(c)
        if mode == "uniform":
            row = df.agg(F.min(col).alias("lo"), F.max(col).alias("hi")).head()
            if row.lo is None:
                return None
            lo, hi = float(row.lo), float(row.hi)
            # np.linspace semantics (reference column_partition.py:69-74):
            # a constant column yields n_bins+1 identical edges
            step = (hi - lo) / n_bins
            return [lo + i * step for i in range(n_bins)] + [hi]
        if mode == "quantile":
            qs = [i / n_bins for i in range(n_bins + 1)]
            vals = get_metrics(df, {"q": (
                "column.quantile_values", {"column": c, "quantiles": qs})},
                o)["q"]
            return [float(v) for v in vals] if vals is not None else None
        raise KeyError(f"unsupported column.partition bins mode {mode!r}")
    if name == "column.most_common_value":
        counts = _eager(df, "column.value_counts", kw, o)
        if not counts:
            return []
        top = max(n for _, n in counts)
        return [v for v, n in counts if n == top]
    if name == "table.head":
        # reference table_metrics/table_head.py:196-224 (spark branch),
        # via sources.readers.table_head (n_rows < 0 = drop last |n|);
        # shaped into a pandas DataFrame like the reference metric value.
        import pandas as pd

        from great_expectations_spark.sources.readers import table_head

        n_rows = kw.get("n_rows")
        rows = table_head(df, 5 if n_rows is None else int(n_rows),
                          fetch_all=bool(kw.get("fetch_all", False)))
        out = pd.DataFrame(rows)
        if out.empty:
            out = pd.DataFrame(columns=list(df.columns))
        return out
    raise KeyError(
        f"unsupported metric {name!r}; supported: "
        f"{', '.join(sorted([*_REGISTRY, *_EAGER_METRICS]))}")


_EAGER_METRICS = ("table.columns", "table.column_types", "table.head",
                  "column.value_counts", "column.distinct_values",
                  "column.partition", "column.most_common_value")


def get_metrics(
    df: DataFrame,
    requests: dict[str, tuple[str, dict[str, Any]]],
    options: Options | None = None,
) -> dict[str, Any]:
    """Resolve raw metrics by reference metric name, no expectation needed.

    ``requests`` maps caller keys to ``(metric_name, domain_kwargs)``.
    Every agg-expressible metric across ALL requests lands in ONE fused
    ``df.agg`` (the reference resolves each as its own job); schema metrics
    never scan; eager metrics (value_counts/distinct_values/most_common)
    run bounded by ``Options.distinct_set_cap``.
    """
    o = options or Options()
    aggs, finish, eager = plan_metrics(requests, o)
    out = {key: _eager(df, *requests[key], o) for key in eager}
    if aggs:
        out.update(finish(df.agg(*aggs).head()))
    return out


def get_metric(df: DataFrame, metric_name: str,
               options: Options | None = None, **domain_kwargs: Any) -> Any:
    """One raw metric: ``get_metric(df, "column.mean", column="value")``."""
    return get_metrics(df, {"m": (metric_name, domain_kwargs)}, options)["m"]


# ------------------------------------------------------------ interactive


def _domain_key(etype: str, kwargs: dict) -> tuple:
    """Upsert identity: expectation type + its domain columns — re-running
    the same expectation on the same column(s) replaces the prior config
    (reference add_expectation match_type='domain' semantics,
    core/expectation_configuration.py:1295-1350)."""
    return (
        etype,
        kwargs.get("column"),
        kwargs.get("column_A"),
        kwargs.get("column_B"),
        tuple(kwargs.get("column_list") or ()),
    )


class InteractiveValidator:
    """Entry point A: one expectation at a time, suite accumulated.

    >>> v = InteractiveValidator(df)
    >>> v.expect_column_values_to_not_be_null(column="text").success
    >>> v.expect_column_mean_to_be_between(column="n", min_value=0).success
    >>> suite = v.get_expectation_suite()   # failed ones discarded
    """

    def __init__(
        self,
        df: DataFrame,
        name: str = "interactive",
        result_format: Any = "BASIC",
        tables: dict[str, DataFrame] | None = None,
        options: Options | None = None,
        evaluation_parameters: dict[str, Any] | None = None,
    ) -> None:
        self.df = df
        self.name = name
        self.result_format = result_format
        self.tables = tables
        self.options = options or Options()
        self.evaluation_parameters = evaluation_parameters or {}
        # insertion-ordered: (domain key) -> (config, last EVR)
        self._entries: dict[tuple, tuple[ExpectationConfiguration,
                                         ExpectationValidationResult]] = {}

    def __getattr__(self, attr: str):
        if not attr.startswith("expect_"):
            raise AttributeError(attr)
        if attr not in supported_expectations():
            raise AttributeError(
                f"{attr} is not a supported expectation; see "
                "plans.compiler.supported_expectations()")

        def run(**kwargs: Any) -> ExpectationValidationResult:
            rf = kwargs.pop("result_format", self.result_format)
            meta = kwargs.pop("meta", None)
            suite = ExpectationSuite(name=self.name)
            suite.add(attr, **kwargs)
            if meta:
                suite.expectations[0].meta.update(meta)
            result = validate(
                self.df, suite, result_format=rf, tables=self.tables,
                options=self.options,
                evaluation_parameters=self.evaluation_parameters)
            evr = result.results[0]
            key = _domain_key(attr, kwargs)
            self._entries.pop(key, None)  # re-insert at the end
            self._entries[key] = (suite.expectations[0], evr)
            return evr

        return run

    def get_metric(self, metric_name: str, **domain_kwargs: Any) -> Any:
        return get_metric(self.df, metric_name, self.options, **domain_kwargs)

    def head(self, n_rows: int = 5, fetch_all: bool = False):
        """First ``n_rows`` of the batch as a pandas DataFrame — the
        reference's ``validator.head()`` backed by the ``table.head``
        metric (table_metrics/table_head.py:196-224 spark semantics,
        including negative ``n_rows`` = drop the last ``|n|``)."""
        return self.get_metric("table.head", n_rows=n_rows,
                               fetch_all=fetch_all)

    def get_metrics(
        self, requests: dict[str, tuple[str, dict[str, Any]]]
    ) -> dict[str, Any]:
        return get_metrics(self.df, requests, self.options)

    def get_expectation_suite(
        self, discard_failed_expectations: bool = True
    ) -> ExpectationSuite:
        """Accumulated suite; failed expectations dropped by default like
        the reference (validator.py:1280-1320)."""
        suite = ExpectationSuite(name=self.name)
        for config, evr in self._entries.values():
            if discard_failed_expectations and not evr.success:
                continue
            suite.expectations.append(config)
        return suite

    def validation_result(self) -> SuiteValidationResult:
        """All EVRs recorded so far as one suite-shaped result."""
        evrs = [evr for _, evr in self._entries.values()]
        return SuiteValidationResult(
            suite_name=self.name,
            success=all(e.success for e in evrs) if evrs else True,
            results=evrs,
            meta={"engine": "great_expectations_spark",
                  "entry_point": "interactive"},
        )
