"""SparkValidator — executes a compiled suite in a fixed number of passes.

Execution shape (vs the reference's per-metric resolution waves,
validator/validation_graph.py:209-347):

  pass 0  schema-only expectations + column-existence pruning (no scan;
          mirrors fail-fast exception capture, validator/validator.py:1229-1263)
  pass 1  ONE fused scan aggregate (``sources.session.scan_aggregate``:
          observed metrics, one job, no exchange) containing every
          counted/aggregated metric of every expectation (exact quantiles
          included), deduped by metric key (generalizes the reference's
          per-domain bundling, sparkdf_execution_engine.py:727-805, to the
          whole suite; row_conditions are folded into conditional
          aggregates so differing domains still share the scan). It holds
          no DISTINCT aggregate
  pass 1b optional second fused scan aggregate for value-dependent
          expressions (z-scores)
  eager   one shaped job per uniqueness / referential / distribution
          expectation (groupBy or anti-join); the uniqueness query also
          returns its violation samples. One value-count query per
          (column, row_condition) domain a categorical KL / chi-square
          declares, or that holds an exact distinct count and a violated
          single-column map expectation: it also answers the exact
          distinct counts of that domain and the violation samples of the
          violated single-column map expectations over it. A count-only
          query per other exact distinct count
  pass 2  violation extraction: ONE query for every violated map
          expectation whose samples are not already in hand, the eager
          violation frames (referential, monotonic, uniqueness with source
          rows) included. A ``row_number`` window keeps each expectation's
          k smallest unexpected values (``compiler.unexpected_lists``), in
          the JVM on typed values. No query when the counts are clean,
          when an eager query took the samples, for not-null checks (every
          unexpected value is NULL, so the count is the sample) unless
          index columns or unexpected rows are asked for, or when
          result_format is BOOLEAN_ONLY. If the query fails, it runs once
          per expectation; each failure left is reported under
          ``meta["degradations"]``
"""

from __future__ import annotations

import functools
import time
import traceback
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from great_expectations_spark.core.result import (
    ExpectationValidationResult as EVR,
    SuiteValidationResult,
)
from great_expectations_spark.core.result_format import ResultFormat
from great_expectations_spark.core.suite import ExpectationConfiguration, ExpectationSuite
from great_expectations_spark.plans.compiler import (
    Compiled,
    CompileError,
    GroupOverflow,
    Options,
    ValueDomain,
    _ascending_nulls_first,
    compile_expectation,
    exact_distinct_count,
    shared_value_counts,
    unexpected_lists,
    _py,
)
from great_expectations_spark.sources.session import local_frame, scan_aggregate


def _required_columns(config: ExpectationConfiguration) -> list[str]:
    k = config.kwargs
    cols: list[str] = []
    if "column" in k:
        cols.append(k["column"])
    for key in ("column_A", "column_B"):
        if key in k:
            cols.append(k[key])
    if "column_list" in k:
        cols.extend(k["column_list"])
    return cols


# ---------------------------------------------------------- pass-2 helpers

def _types_in(dt: T.DataType):
    """``dt`` and every type nested inside it."""
    yield dt
    if isinstance(dt, T.ArrayType):
        yield from _types_in(dt.elementType)
    elif isinstance(dt, T.MapType):
        yield from _types_in(dt.keyType)
        yield from _types_in(dt.valueType)
    elif isinstance(dt, T.StructType):
        for f in dt.fields:
            yield from _types_in(f.dataType)


def _orderable(dt: T.DataType) -> bool:
    """Spark can sort a value of ``dt``: it holds no map."""
    return not any(isinstance(t, T.MapType) for t in _types_in(dt))


def _zero_signed(col: Column, dt: T.DataType) -> Column:
    """``col`` with every -0.0 read as 0.0. A sort ranks the two equal, so
    a cut among them would keep either, and grouping (the SUMMARY counts,
    the value-count query) already reports 0.0."""
    if not any(isinstance(t, (T.FloatType, T.DoubleType)) for t in _types_in(dt)):
        return col
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return F.when(col == 0, F.lit(0).cast(dt)).otherwise(col)
    if isinstance(dt, T.ArrayType):
        return F.transform(col, lambda x: _zero_signed(x, dt.elementType))
    if isinstance(dt, T.StructType):
        # a NULL struct must stay NULL, not become a struct of NULLs
        return F.when(col.isNotNull(), F.struct(*[
            _zero_signed(col[f.name], f.dataType).alias(f.name) for f in dt.fields]))
    return col


def _pass2_degradation(config: ExpectationConfiguration, e: Exception) -> dict[str, Any]:
    """A ``meta["degradations"]`` entry: the expectation lost its lists."""
    lines = str(e).strip().splitlines()
    return {"expectation_id": config.id, "fallback": "pass2",
            "exception": type(e).__name__, "message": lines[0] if lines else ""}


def _render_index_query(unexpected: Any) -> str:
    """COMPLETE-tier display string (reference
    _spark_map_condition_index_query, map_metric_provider.py:2936-2977).
    Same caveat as the reference: str(Column) prints string literals
    unquoted, so this is a human-readable description, not always
    directly executable."""
    cond = str(unexpected)
    if cond.startswith("Column<'") and cond.endswith("'>"):
        cond = cond[len("Column<'"):-len("'>")]
    if cond.startswith("(") and cond.endswith(")"):
        cond = cond[1:-1]
    return f"df.filter(F.expr({cond}))"


_SCHEMA_TYPES_WITH_OWN_CHECK = {
    "expect_column_to_exist",
    "expect_column_values_to_be_of_type",
    "expect_column_values_to_be_in_type_list",
    # table-level column-list comparisons: the kwargs name EXPECTED columns,
    # which may legitimately be absent (that's the failure being tested)
    "expect_table_columns_to_match_set",
    "expect_table_columns_to_match_ordered_list",
}


class SparkValidator:
    def __init__(
        self,
        df: DataFrame,
        suite: ExpectationSuite,
        result_format: Any = "BASIC",
        tables: dict[str, DataFrame] | None = None,
        options: Options | None = None,
        evaluation_parameters: dict[str, Any] | None = None,
        validation_results: dict[str, Any] | None = None,
    ) -> None:
        self.df = df
        self.suite = suite
        self.rf = ResultFormat.parse(result_format)
        self.tables = tables or {}
        self.options = options or Options()
        # runtime parameters override suite-level ones (reference priority,
        # validator/validator.py:1682-1706: provided > suite > context store)
        self.evaluation_parameters = {
            **(suite.evaluation_parameters or {}),
            **(evaluation_parameters or {}),
        }
        self.validation_results = validation_results or {}

    def _bind_parameters(self, config: ExpectationConfiguration) -> ExpectationConfiguration:
        """$PARAMETER substitution + URN chaining (reference
        core/evaluation_parameters.py:226-267; validations URNs resolve
        against prior SuiteValidationResults passed as validation_results)."""
        import json as _json

        if "$PARAMETER" not in _json.dumps(config.kwargs, default=str):
            return config
        from great_expectations_spark.core.evaluation_parameters import (
            build_evaluation_parameters,
            make_validations_resolver,
        )

        resolver = (
            make_validations_resolver(self.validation_results)
            if self.validation_results
            else None
        )
        new_kwargs, substituted = build_evaluation_parameters(
            config.kwargs, self.evaluation_parameters, resolver)
        meta = dict(config.meta)
        if substituted:
            meta["substituted_parameters"] = {k: str(v) for k, v in substituted.items()}
        return ExpectationConfiguration(
            expectation_type=config.expectation_type, kwargs=new_kwargs, meta=meta)

    # ------------------------------------------------------------------ run

    def validate(self) -> SuiteValidationResult:
        t0 = time.time()
        schema = self.df.schema
        metrics: dict[str, Any] = {
            "__schema__": schema, "__tables__": self.tables, "__rf__": self.rf,
        }

        from great_expectations_spark.plans.compiler import supported_expectations

        known = set(supported_expectations())
        compiled: list[tuple[ExpectationConfiguration, Compiled | None, EVR | None]] = []
        for config in self.suite.expectations:
            try:
                config = self._bind_parameters(config)
            except Exception as e:
                compiled.append((config, None, EVR.exception(config, str(e))))
                continue
            if config.expectation_type not in known:
                compiled.append(
                    (config, None,
                     EVR.exception(config, f"unknown expectation_type: {config.expectation_type}"))
                )
                continue
            # column-existence pruning: a non-schema expectation over a
            # missing column fails fast with exception_info instead of
            # poisoning the fused agg
            if config.expectation_type not in _SCHEMA_TYPES_WITH_OWN_CHECK:
                missing = [c for c in _required_columns(config) if c not in schema.fieldNames()]
                if missing:
                    compiled.append(
                        (config, None, EVR.exception(config, f"column(s) not found: {missing}"))
                    )
                    continue
            try:
                compiled.append((config, compile_expectation(config, self.options), None))
            except Exception as e:  # CompileError or kernel construction error
                compiled.append((config, None, EVR.exception(config, str(e))))

        # ---- pass 1: fused agg ------------------------------------------
        agg_requests: dict[str, Any] = {}
        for _, comp, _err in compiled:
            if comp is not None:
                agg_requests.update(comp.pass1_aggs(schema))
        self._run_agg(agg_requests, metrics, compiled, wave=1)

        # ---- pass 1b: wave-2 agg (value-dependent expressions) ----------
        agg2_requests: dict[str, Any] = {}
        for _, comp, _err in compiled:
            if comp is not None and comp.aggs2 is not None:
                try:
                    agg2_requests.update(comp.aggs2(metrics))
                except Exception as e:
                    self._mark_failed(compiled, comp, e)
        self._run_agg(agg2_requests, metrics, compiled, wave=2)

        # ---- eager jobs ---------------------------------------------------
        # Each eager job is an independent Spark action over disjoint metric
        # keys: the per-expectation callbacks (uniqueness groupBy,
        # referential anti-join, monotonic lag pass, ...) and one shared
        # value-count query per declared (column, row_condition) domain.
        # They only READ metrics the agg waves already wrote, so they can be
        # submitted concurrently — the scheduler overlaps their stages and
        # the suite pays max() instead of sum() of the job walls. Metric
        # updates (and exception marking of a job's owners) happen here on
        # the driver thread in submission order, keeping results
        # deterministic.
        jobs = [
            (comp.eager, [i])
            for i, (config, comp, err) in enumerate(compiled)
            if comp is not None and err is None and comp.eager is not None
        ]
        jobs += self._value_count_jobs(compiled, metrics)

        def attempt(fn, snapshot):
            try:
                return fn(self.df, snapshot), None
            except Exception as e:
                return None, (e, traceback.format_exc())

        if len(jobs) > 1 and self.options.parallel_eager:
            from concurrent.futures import ThreadPoolExecutor

            frozen = dict(metrics)  # consistent read snapshot per thread
            with ThreadPoolExecutor(
                max_workers=min(self.options.parallel_eager_max_threads,
                                len(jobs))) as pool:
                futs = [pool.submit(attempt, fn, frozen) for fn, _owners in jobs]
            outcomes = (fut.result() for fut in futs)
        else:
            outcomes = (attempt(fn, metrics) for fn, _owners in jobs)
        for (_fn, owners), (out, failure) in zip(jobs, outcomes):
            if failure is None:
                metrics.update(out)
                continue
            for i in owners:
                config, comp, err = compiled[i]
                if err is None:
                    compiled[i] = (config, comp, EVR.exception(
                        config, str(failure[0]), failure[1]))

        # ---- pass 2: bounded violation extraction ------------------------
        degradations: list[dict[str, Any]] = []
        if self.rf.at_least("BASIC"):
            sources: list[tuple[ExpectationConfiguration, Any]] = []
            for config, comp, err in compiled:
                if comp is None or err is not None:
                    continue
                k_unexp = f"unexpected_count|{config.id}"
                if (k_unexp not in metrics  # not a map-style expectation
                        or f"partial_unexpected_list|{config.id}" in metrics):
                    continue  # or an eager job already took the samples
                n = int(metrics.get(k_unexp) or 0)
                if not n:
                    # clean result: the reference still emits EMPTY lists at
                    # each tier (expectation.py:3411-3555) — no Spark job
                    metrics.update(self._lists_from_count(config, 0))
                    continue
                vdf = metrics.get(f"__violations_df__|{config.id}")
                if vdf is not None:
                    sources.append((config, vdf))
                    continue
                try:
                    kernel = comp.kernel or (comp.kernel2 and comp.kernel2(metrics))
                except Exception as e:
                    degradations.append(_pass2_degradation(config, e))
                    continue
                if kernel is None:
                    continue
                if self.rf.at_least("COMPLETE") and self.rf.return_unexpected_index_query:
                    metrics[f"unexpected_index_query|{config.id}"] = _render_index_query(
                        kernel.include & F.coalesce(~kernel.ok, F.lit(False)))
                if kernel.null_unexpected and not self.rf.needs_source_rows:
                    # every unexpected value is NULL: the count is the sample
                    metrics.update(self._lists_from_count(config, n))
                    continue
                sources.append((config, kernel))
            if sources:
                try:
                    metrics.update(self._collect_violations(sources))
                except Exception:
                    # the same query per expectation: one bad kernel drops
                    # only its own lists, and says so
                    for source in sources:
                        try:
                            metrics.update(self._collect_violations([source]))
                        except Exception as e:
                            degradations.append(_pass2_degradation(source[0], e))

        # release any frames eager ops persisted for pass-2 consistency
        for key, v in list(metrics.items()):
            if key.startswith("__persist__|"):
                try:
                    v.unpersist()
                except Exception:
                    pass

        # ---- finalize ------------------------------------------------------
        results: list[EVR] = []
        for config, comp, err in compiled:
            if err is not None:
                results.append(err)
                continue
            try:
                results.append(comp.finalize(metrics))
            except Exception as e:
                results.append(EVR.exception(config, str(e), traceback.format_exc()))

        meta = {
            "engine": "great_expectations_spark",
            "validation_time_s": round(time.time() - t0, 4),
            "result_format": self.rf.tier,
        }
        if degradations:
            meta["degradations"] = degradations
        return SuiteValidationResult.from_results(results, suite_name=self.suite.name, meta=meta)

    # ------------------------------------------------------------- helpers

    def _mark_failed(self, compiled, comp: Compiled, e: Exception) -> None:
        for i, (config, c, err) in enumerate(compiled):
            if c is comp and err is None:
                compiled[i] = (config, c, EVR.exception(config, str(e), traceback.format_exc()))

    def _run_agg(self, requests: dict[str, Any], metrics: dict[str, Any], compiled, wave: int) -> None:
        if not requests:
            return
        keys = sorted(requests)
        aliased = [requests[k].alias(f"m{i}") for i, k in enumerate(keys)]
        try:
            row = scan_aggregate(self.df, aliased)
            for i, k in enumerate(keys):
                metrics[k] = row[f"m{i}"]
        except Exception:
            # isolation fallback: one agg per expectation so a single bad
            # expression (type mismatch under exotic schemas) can't poison
            # the suite — the failing expectation gets exception_info
            for idx, (config, comp, err) in enumerate(compiled):
                if comp is None or err is not None:
                    continue
                own = (comp.pass1_aggs(self.df.schema) if wave == 1
                       else (comp.aggs2(metrics) if comp.aggs2 else {}))
                own = {k: v for k, v in own.items() if k in requests and k not in metrics}
                if not own:
                    continue
                ks = sorted(own)
                try:
                    row = scan_aggregate(
                        self.df, [own[k].alias(f"m{i}") for i, k in enumerate(ks)])
                    for i, k in enumerate(ks):
                        metrics[k] = row[f"m{i}"]
                except Exception as e:
                    compiled[idx] = (
                        config, comp, EVR.exception(config, str(e), traceback.format_exc())
                    )

    def _value_count_jobs(self, compiled, metrics: dict[str, Any]) -> list:
        """The eager wave's shared jobs, ``[(fn(df, metrics) -> metrics,
        owner indices)]``: ONE value-count query per domain that a
        categorical KL / chi-square expectation declares, or whose exact
        distinct count a violated map expectation over it can share the
        query with; it answers the domain's exact distinct counts and the
        violation samples of the violated map expectations over it. A
        count-only query serves every other distinct-count domain: with no
        samples to take, the groups need not reach the driver."""
        readers: dict[ValueDomain, list[int]] = {}
        counted: dict[ValueDomain, list[int]] = {}
        for i, (_config, comp, err) in enumerate(compiled):
            if comp is None or err is not None:
                continue
            if comp.value_counts is not None:
                readers.setdefault(comp.value_counts, []).append(i)
            if comp.distinct_count is not None:
                counted.setdefault(comp.distinct_count, []).append(i)
        samplers: dict[ValueDomain, list] = {}
        if self.rf.at_least("BASIC") and not self.rf.needs_source_rows:
            for config, comp, err in compiled:
                if comp is None or err is not None or comp.group_kernel is None:
                    continue
                domain, kernel = comp.group_kernel
                n = int(metrics.get(f"unexpected_count|{config.id}") or 0)
                if n and (domain in readers or domain in counted):
                    samplers.setdefault(domain, []).append((config, comp, kernel, n))
        cap = self.options.distinct_set_cap

        def count_only(domain: ValueDomain):
            return lambda df, _m: {domain.distinct_key: exact_distinct_count(df, domain)}

        def shared(domain: ValueDomain, wanted: list):
            def run(df: DataFrame, _m) -> dict[str, Any]:
                try:
                    rows, flagged = shared_value_counts(
                        df, domain, cap, [kernel for _c, _comp, kernel, _n in wanted])
                except GroupOverflow as e:
                    # over the cap: the readers raise this error, the
                    # distinct counts take the count-only query and the
                    # samples pass 2
                    out: dict[str, Any] = {domain.counts_key: e}
                    if domain in counted:
                        out[domain.distinct_key] = exact_distinct_count(df, domain)
                    return out
                out = {domain.counts_key: {r[0]: int(r["__n"]) for r in rows},
                       domain.distinct_key: len(rows)}
                if flagged:
                    for i, (config, comp, _kernel, n) in enumerate(wanted):
                        out.update(self._lists_from_groups(config, comp, rows, i, n))
                return out

            return run

        grouped = dict.fromkeys([*readers, *samplers])
        jobs = [(shared(d, samplers.get(d, [])), readers.get(d, []) + counted.get(d, []))
                for d in grouped]
        jobs += [(count_only(d), owners) for d, owners in counted.items()
                 if d not in grouped]
        return jobs

    def _lists_from_groups(self, config: ExpectationConfiguration, comp: Compiled,
                           rows: list, i: int, n: int) -> dict[str, Any]:
        """The violation lists of a map expectation from the groups of its
        domain's value-count query, whose flag ``__u<i>`` marks a group as
        ``__n`` violating rows of value ``__v<i>``, shaped by
        ``compiler.unexpected_lists`` as the uniqueness query's samples
        are. Empty when the groups do not hold all ``n`` violating rows
        (violations on NULL rows, which the query does not group) or the
        values do not order: pass 2 reads rows then."""
        rf, cid = self.rf, config.id
        hits = [(r[f"__v{i}"], int(r["__n"])) for r in rows if r[f"__u{i}"]]
        if sum(c for _v, c in hits) != n:
            return {}
        try:
            hits.sort(key=lambda t: _ascending_nulls_first(t[0]))
        except TypeError:
            return {}
        merged: list[list] = []  # groups whose reported values are equal
        for v, c in hits:
            if merged and merged[-1][0] == v:
                merged[-1][1] += c
            else:
                merged.append([v, c])
        need = self.options.complete_list_cap if rf.at_least("COMPLETE") else rf.partial_unexpected_count
        out = unexpected_lists(cid, rf, need, merged)
        if rf.at_least("COMPLETE") and rf.return_unexpected_index_query:
            kernel = comp.kernel
            out[f"unexpected_index_query|{cid}"] = _render_index_query(
                kernel.include & F.coalesce(~kernel.ok, F.lit(False)))
        return out

    def _lists_from_count(self, config: ExpectationConfiguration, n: int) -> dict[str, Any]:
        """The violation lists of ``n`` unexpected rows whose values are all
        NULL (``n`` = 0: a clean result's empty lists), at each tier."""
        rf, cid = self.rf, config.id
        out: dict[str, Any] = {
            f"partial_unexpected_list|{cid}": [None] * min(n, rf.partial_unexpected_count)}
        if rf.at_least("SUMMARY"):
            out[f"partial_unexpected_counts|{cid}"] = (
                [{"value": None, "count": n}] if n else [])
        if rf.at_least("COMPLETE"):
            out[f"unexpected_list|{cid}"] = [None] * min(n, self.options.complete_list_cap)
            if rf.unexpected_index_column_names:  # n > 0 reads the rows instead
                out[f"unexpected_index_list|{cid}"] = []
        return out

    def _collect_violations(self, sources: list[tuple[ExpectationConfiguration, Any]]
                            ) -> dict[str, Any]:
        """The violation lists of violated map expectations from ONE query.
        Each source is an expectation with its kernel, or with the
        violation frame its eager query built (``__value``, plus the source
        columns for uniqueness). Every unexpected row becomes ``(eid, v,
        i, r)``: ``v`` holds the value in the struct field of its type,
        ``i`` the index columns and ``r`` the source row when the tier asks
        for them. A ``row_number`` window keeps each expectation's ``need``
        smallest rows by (value, index columns, row) — Spark plans it as a
        partial top-k before the exchange and a final one after — and, at
        SUMMARY, a second one its ``k`` most frequent values. The lists are
        ``compiler.unexpected_lists``' definition on any partition layout."""
        rf, df = self.rf, self.df
        k = rf.partial_unexpected_count
        need = self.options.complete_list_cap if rf.at_least("COMPLETE") else k
        idx = list(rf.unexpected_index_column_names) if rf.at_least("COMPLETE") else []
        row_cols = df.columns if rf.include_unexpected_rows else []
        kernels = [s for _c, s in sources if not isinstance(s, DataFrame)]
        kernel_types = iter([f.dataType for f in df.select(
            *[kn.value.alias(f"x{j}") for j, kn in enumerate(kernels)]).schema]
            if kernels else [])
        dtypes = [s.schema["__value"].dataType if isinstance(s, DataFrame)
                  else next(kernel_types) for _c, s in sources]
        # an eager frame of values only (referential, monotonic) has no
        # index columns or rows to report
        has_source = [not isinstance(s, DataFrame) or set(df.columns) <= set(s.columns)
                      for _c, s in sources]
        fields = {dt.simpleString(): dt for dt in dtypes}  # one field per type
        slot = {name: f"t{j}" for j, name in enumerate(fields)}

        def typed(value: Column, dt: T.DataType) -> Column:
            mine = slot[dt.simpleString()]
            return F.struct(*[
                (_zero_signed(value, dt) if slot[name] == mine
                 else F.lit(None).cast(t)).alias(slot[name])
                for name, t in fields.items()]).alias("v")

        extra_types = {}
        if idx:
            extra_types["i"] = T.StructType([df.schema[c] for c in idx])
        if row_cols:
            extra_types["r"] = T.StructType(list(df.schema.fields))

        def extras(eid: int) -> list[Column]:
            names = {"i": idx, "r": row_cols}
            return [(F.struct(*[F.col(c) for c in names[x]]) if has_source[eid]
                     else F.lit(None).cast(t)).alias(x) for x, t in extra_types.items()]

        streams, entries = [], []
        for eid, ((_config, s), dt) in enumerate(zip(sources, dtypes)):
            if isinstance(s, DataFrame):
                streams.append(s.select(F.lit(eid).alias("eid"),
                                        typed(F.col("__value"), dt), *extras(eid)))
            else:
                unexpected = s.include & F.coalesce(~s.ok, F.lit(False))
                entries.append(F.when(unexpected, F.struct(
                    F.lit(eid).alias("eid"), typed(s.value, dt), *extras(eid))))
        if entries:
            streams.append(df.select(F.explode(F.array_compact(F.array(*entries)))
                                     .alias("e")).select("e.*"))
        stream = functools.reduce(DataFrame.unionByName, streams)

        by_value = [F.col("v")[slot[name]] for name, t in fields.items() if _orderable(t)]
        by_row = [F.col(x) for x, t in extra_types.items() if _orderable(t)]
        q = (stream.withColumn("__rn", F.row_number().over(
                Window.partitionBy("eid").orderBy(*by_value, *by_row)))
             .where(F.col("__rn") <= need)
             .withColumn("__n", F.lit(None).cast("long")))
        if rf.at_least("SUMMARY"):
            q = q.unionByName(
                stream.groupBy("eid", "v").agg(F.count(F.lit(1)).alias("__n"))
                .withColumn("__rn", F.row_number().over(
                    Window.partitionBy("eid").orderBy(F.desc("__n"), *by_value)))
                .where(F.col("__rn") <= k),
                allowMissingColumns=True)
        got: dict[tuple[bool, int], list] = {}
        for r in q.collect():
            got.setdefault((r["__n"] is not None, r["eid"]), []).append(r)

        out: dict[str, Any] = {}
        for eid, ((config, s), dt) in enumerate(zip(sources, dtypes)):
            field = slot[dt.simpleString()]
            # reference value shapes (fixture corpus contract): column-pair
            # domains emit each unexpected value as a LIST [a, b];
            # multicolumn domains a dict {col: value}; columns a scalar
            pair = (s.columns if not isinstance(s, DataFrame) and s.value_format == "pair"
                    else None)

            def value(r: Any) -> Any:
                v = _py(r["v"][field])
                return [v.get(c) for c in pair] if pair and isinstance(v, dict) else v

            listed, counted = (sorted(got.get((b, eid), []), key=lambda r: r["__rn"])
                               for b in (False, True))
            out.update(unexpected_lists(
                config.id, rf, need, [(value(r), 1) for r in listed],
                [(value(r), int(r["__n"])) for r in counted]))
            if not has_source[eid]:
                continue
            if idx:
                out[f"unexpected_index_list|{config.id}"] = [
                    {c: _py(r["i"][c]) for c in idx} for r in listed]
            if row_cols:
                out[f"unexpected_rows|{config.id}"] = [
                    {c: _py(r["r"][c]) for c in row_cols} for r in listed]
        return out


def validate(
    df: DataFrame,
    suite: ExpectationSuite,
    result_format: Any = "BASIC",
    tables: dict[str, DataFrame] | None = None,
    options: Options | None = None,
    evaluation_parameters: dict[str, Any] | None = None,
    validation_results: dict[str, Any] | None = None,
) -> SuiteValidationResult:
    return SparkValidator(
        df, suite, result_format, tables, options,
        evaluation_parameters, validation_results,
    ).validate()


def suite_result_to_df(spark: SparkSession, result: SuiteValidationResult) -> DataFrame:
    """Flatten a suite result into a DataFrame (the engine's results-table
    row shape — one row per expectation, mirroring the reference EVR fields)."""
    import json

    rows = []
    for r in result.results:
        res = r.result
        rows.append(
            {
                "suite_name": result.suite_name,
                "expectation_type": r.expectation_config.expectation_type,
                "kwargs_json": json.dumps(r.expectation_config.kwargs, sort_keys=True, default=str),
                "success": bool(r.success),
                "element_count": res.get("element_count"),
                "unexpected_count": res.get("unexpected_count"),
                "unexpected_percent": res.get("unexpected_percent"),
                "missing_count": res.get("missing_count"),
                "observed_value_json": json.dumps(res.get("observed_value"), default=str)
                if "observed_value" in res
                else None,
                "raised_exception": bool(r.exception_info.get("raised_exception")),
            }
        )
    schema = (
        "suite_name string, expectation_type string, kwargs_json string, success boolean, "
        "element_count long, unexpected_count long, unexpected_percent double, "
        "missing_count long, observed_value_json string, raised_exception boolean"
    )
    return local_frame(spark, rows, schema)
