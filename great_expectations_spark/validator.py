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
  pass 2  violation extraction: one BOUNDED job per violated map
          expectation whose samples are not already in hand (limit k).
          No job when the counts are clean, when an eager query took the
          samples, for not-null checks (every unexpected value is NULL, so
          the count is the sample) unless index columns or unexpected rows
          are asked for, or when result_format is BOOLEAN_ONLY
"""

from __future__ import annotations

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


# ---------------------------------------------------- fused pass-2 helpers

# value types whose to_json rendering round-trips losslessly back to the
# exact Python values the per-expectation path produces after _py().
# Timestamps, float32, binary, and decimal are NOT json-safe as-is
# (to_json truncates timestamps to milliseconds; float32's shortest repr
# decodes to a different double than the float32-widened collect();
# json.loads turns a bare decimal number into a lossy float; bytes have
# no JSON form) but become fused-eligible through the typed encodings
# below: timestamp → unix_micros int64, timestamp_ntz → wall-clock string
# cast (session-timezone-independent, full microseconds), float32 →
# exact cast("double") widening, binary → base64 string, decimal → exact
# string cast (decoded back to decimal.Decimal). The atom matrix is
# complete: no type falls back to per-expectation violation jobs.
_JSON_SAFE_ATOMS = (
    T.StringType, T.BooleanType, T.DateType,
    T.ByteType, T.ShortType, T.IntegerType,
    T.LongType, T.DoubleType, T.NullType,
)

# atoms that need a typed re-encoding before to_json to round-trip exactly
_ENCODED_ATOMS = (T.TimestampType, T.TimestampNTZType, T.FloatType,
                  T.BinaryType, T.DecimalType)


def _json_safe(dt: T.DataType) -> bool:
    """Fused-eligible: every atom either to_json-round-trips natively or
    has a lossless typed encoding (``_fuse_encode``)."""
    if isinstance(dt, T.ArrayType):
        return _json_safe(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_json_safe(f.dataType) for f in dt.fields)
    if isinstance(dt, T.MapType):
        return isinstance(dt.keyType, T.StringType) and _json_safe(dt.valueType)
    return isinstance(dt, _JSON_SAFE_ATOMS + _ENCODED_ATOMS)


def _needs_encode(dt: T.DataType) -> bool:
    if isinstance(dt, T.ArrayType):
        return _needs_encode(dt.elementType)
    if isinstance(dt, T.StructType):
        return any(_needs_encode(f.dataType) for f in dt.fields)
    if isinstance(dt, T.MapType):
        return _needs_encode(dt.valueType)
    return isinstance(dt, _ENCODED_ATOMS)


def _fuse_encode(col: Column, dt: T.DataType) -> Column:
    """Typed lossless pre-encoding so to_json round-trips exactly:
    timestamp → epoch-micros int64 (full sub-ms precision — decoded with
    TimestampType.fromInternal, the same conversion collect() applies),
    float32 → cast(double) (the identical exact widening the JVM performs
    on collect, after which to_json's double repr is round-trip — the
    already-proven DoubleType path), binary → base64 (byte-exact), and
    decimal → string cast (BigDecimal.toString: every digit at the
    declared scale, decoded back with decimal.Decimal — numerically
    identical to the java→python Decimal conversion collect() applies).
    Containers encode recursively; anything else passes through
    untouched."""
    if not _needs_encode(dt):
        return col
    if isinstance(dt, T.TimestampNTZType):
        # wall-clock string cast: renders the NTZ's own micros digits with
        # NO session-timezone conversion — the same wall clock
        # TimestampNTZType.fromInternal reconstructs on collect()
        return col.cast("string")
    if isinstance(dt, T.TimestampType):
        return F.unix_micros(col)
    if isinstance(dt, T.FloatType):
        return col.cast("double")
    if isinstance(dt, T.BinaryType):
        return F.base64(col)
    if isinstance(dt, T.DecimalType):
        return col.cast("string")
    if isinstance(dt, T.ArrayType):
        return F.transform(col, lambda x: _fuse_encode(x, dt.elementType))
    if isinstance(dt, T.StructType):
        rebuilt = F.struct(*[
            _fuse_encode(col[f.name], f.dataType).alias(f.name)
            for f in dt.fields
        ])
        # a NULL struct must stay NULL, not become a struct of NULLs
        return F.when(col.isNotNull(), rebuilt)
    if isinstance(dt, T.MapType):
        return F.transform_values(
            col, lambda _, v: _fuse_encode(v, dt.valueType))
    return col


def _from_json_value(v: Any, dt: T.DataType) -> Any:
    """Decode one to_json-encoded value back to the plain-Python shape the
    per-expectation path emits (post-``_py``: dates and timestamps as ISO
    strings, Rows as dicts). Timestamps arrive as the epoch-micros int64
    ``_fuse_encode`` produced."""
    if v is None:
        return None
    if isinstance(dt, T.TimestampNTZType):
        # parse the wall-clock string back to the naive datetime collect()
        # yields (fromInternal), then _py's isoformat rendering
        import datetime as _dt

        return _dt.datetime.fromisoformat(v.replace(" ", "T")).isoformat()
    if isinstance(dt, T.TimestampType):
        # identical to collect()'s conversion (fromInternal: local-tz
        # naive datetime with exact microseconds) followed by _py's
        # isoformat rendering
        return T.TimestampType().fromInternal(int(v)).isoformat()
    if isinstance(dt, T.BinaryType):
        # collect() yields bytes (PySpark 4); _py passes them through
        import base64 as _b64

        return _b64.b64decode(v)
    if isinstance(dt, T.DecimalType):
        import decimal as _dec

        return _dec.Decimal(v)
    if isinstance(dt, T.DateType):
        return str(v)
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return int(v)
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return float(v)  # handles the "NaN"/"Infinity" strings to_json emits
    if isinstance(dt, T.BooleanType):
        return bool(v)
    if isinstance(dt, T.ArrayType):
        return [_from_json_value(x, dt.elementType) for x in v]
    if isinstance(dt, T.StructType):
        return {f.name: _from_json_value(v.get(f.name), f.dataType) for f in dt.fields}
    if isinstance(dt, T.MapType):
        return {k: _from_json_value(x, dt.valueType) for k, x in v.items()}
    return v


def _partition_capper(need: int, n_eids: int):
    """mapInPandas kernel: per task, keep at most ``need`` violation rows
    per expectation id and STOP CONSUMING the input iterator once every
    expectation is full — Spark then stops the underlying scan for the
    partition (the fused equivalent of the per-expectation LocalLimit
    early exit). Per-task output is bounded by ``n_eids * need`` rows."""

    def fn(batches):
        counts: dict[int, int] = {}
        full = 0
        for pdf in batches:
            if full >= n_eids:
                break
            keep: list[int] = []
            for pos, eid in enumerate(pdf["eid"].tolist()):
                c = counts.get(eid, 0)
                if c < need:
                    c += 1
                    counts[eid] = c
                    if c == need:
                        full += 1
                    keep.append(pos)
            if keep:
                yield pdf.iloc[keep]

    return fn


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
        if self.rf.at_least("BASIC"):
            fusable: list[tuple[ExpectationConfiguration, Compiled, Any, Any]] = []
            singles: list[tuple[ExpectationConfiguration, Compiled]] = []
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
                kernel = comp.kernel
                if kernel is None and comp.kernel2 is not None:
                    try:
                        kernel = comp.kernel2(metrics)
                    except Exception:
                        kernel = None
                if (kernel is not None and kernel.null_unexpected
                        and not self.rf.needs_source_rows):
                    # every unexpected value is NULL: the count is the sample
                    metrics.update(self._lists_from_count(config, n))
                    if self.rf.at_least("COMPLETE") and self.rf.return_unexpected_index_query:
                        metrics[f"unexpected_index_query|{config.id}"] = _render_index_query(
                            kernel.include & F.coalesce(~kernel.ok, F.lit(False)))
                    continue
                vtype = (
                    self._fused_value_type(kernel)
                    if (
                        self.options.fuse_violations is not False
                        and f"__violations_df__|{config.id}" not in metrics
                        and kernel is not None
                    )
                    else None
                )
                if vtype is not None:
                    fusable.append((config, comp, kernel, vtype))
                else:
                    singles.append((config, comp))
            if not self._should_fuse(fusable, metrics):
                singles.extend((c, comp) for c, comp, _k, _t in fusable)
                fusable = []
            if fusable:
                try:
                    metrics.update(self._collect_violations_fused(fusable, metrics))
                except Exception:
                    # best-effort detail: fall back to the per-expectation
                    # bounded jobs so a fused-plan failure can't drop lists
                    singles.extend((c, comp) for c, comp, _k, _t in fusable)
            for config, comp in singles:
                try:
                    metrics.update(self._collect_violations(config, comp, metrics))
                except Exception:
                    pass  # lists are best-effort detail; counts already exact

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

    def _should_fuse(self, fusable: list, metrics: dict[str, Any]) -> bool:
        """Adaptive plan choice (AQE-style, from pass-1 statistics already
        in hand): the fused plan saves (E-1) re-scans but pays a fixed cost
        (Python workers + a window), so it wins when scans are expensive —
        large scanned row counts — or when E alone makes per-expectation
        jobs add up. ``Options.fuse_violations`` True/False overrides."""
        if self.options.fuse_violations is True:
            return bool(fusable)  # explicit opt-in wins, even for one kernel
        if len(fusable) < 2:
            return False
        rows = 0
        for key, v in metrics.items():
            if key.startswith("table.row_count|") and isinstance(v, int):
                rows = max(rows, v)
        return (
            rows >= self.options.fuse_rows_threshold
            or len(fusable) >= self.options.fuse_count_threshold
        )

    def _fused_value_type(self, kernel):
        """The kernel's value dtype if it — and every column the detail
        tiers serialize alongside it — survives the JSON round trip
        losslessly; None otherwise (one Catalyst analysis per kernel,
        reused by _collect_violations_fused)."""
        try:
            vt = self.df.select(kernel.value.alias("x")).schema[0].dataType
        except Exception:
            return None
        if not _json_safe(vt):
            return None
        schema = self.df.schema
        names = schema.fieldNames()
        check_cols = list(self.rf.unexpected_index_column_names)
        if self.rf.include_unexpected_rows:
            check_cols.extend(names)
        for c in check_cols:
            if c not in names or not _json_safe(schema[c].dataType):
                return None
        return vt

    def _collect_violations_fused(
        self,
        fusable: list[tuple[ExpectationConfiguration, Compiled, Any, Any]],
        metrics: dict[str, Any],
    ) -> dict[str, Any]:
        """ONE early-stopping scan extracts bounded violation detail for
        every violated kernel expectation at once (vs one-to-three jobs per
        expectation): each row emits an array entry per expectation it
        violates, the exploded (eid, value) stream is capped per partition
        with an early-exit mapInPandas, and a row_number window trims to
        the per-expectation budget. SUMMARY value counts add one fused
        groupBy((eid, value)) shuffle — map-side combined, skew-free —
        replacing a full re-scan per expectation."""
        import json as _json

        rf = self.rf
        k = rf.partial_unexpected_count
        cap = self.options.complete_list_cap
        need = cap if rf.at_least("COMPLETE") else k
        idx_cols = [c for c in rf.unexpected_index_column_names]
        want_rows = bool(rf.include_unexpected_rows)
        schema = self.df.schema
        jopts = {"ignoreNullFields": "false"}

        ij = (
            F.to_json(F.struct(*[
                _fuse_encode(F.col(c), schema[c].dataType).alias(c)
                for c in idx_cols
            ]), jopts)
            if idx_cols
            else F.lit(None).cast("string")
        )
        rj = (
            F.to_json(F.struct(*[
                _fuse_encode(F.col(c), schema[c].dataType).alias(c)
                for c in self.df.columns
            ]), jopts)
            if want_rows
            else F.lit(None).cast("string")
        )

        entries: list[Any] = []
        vtypes: list[T.DataType] = []
        out: dict[str, Any] = {}
        for eid, (config, comp, kernel, _vt) in enumerate(fusable):
            unexpected = kernel.include & F.coalesce(~kernel.ok, F.lit(False))
            vj = F.to_json(
                F.struct(_fuse_encode(kernel.value, _vt).alias("v")), jopts)
            entries.append(
                F.when(
                    unexpected,
                    F.struct(
                        F.lit(eid).alias("eid"),
                        vj.alias("vj"),
                        ij.alias("ij"),
                        rj.alias("rj"),
                    ),
                )
            )
            vtypes.append(_vt)  # resolved once in _fused_value_type
            if rf.at_least("COMPLETE") and rf.return_unexpected_index_query:
                out[f"unexpected_index_query|{config.id}"] = _render_index_query(unexpected)

        ex = (
            self.df.select(F.explode(F.array_compact(F.array(*entries))).alias("e"))
            .select("e.eid", "e.vj", "e.ij", "e.rj")
        )

        def fmt(v: Any, eid: int) -> Any:
            kernel = fusable[eid][2]
            if kernel.value_format == "pair" and isinstance(v, dict):
                return [v.get(c) for c in kernel.columns]
            return v

        capped = ex.mapInPandas(
            _partition_capper(need, len(fusable)),
            schema="eid int, vj string, ij string, rj string",
        )
        w = Window.partitionBy("eid").orderBy("vj")
        rows = (
            capped.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= need)
            .drop("__rn")
            .collect()
        )
        by_eid: dict[int, list] = {}
        for r in rows:
            by_eid.setdefault(r["eid"], []).append(r)

        for eid, (config, comp, kernel, _vt) in enumerate(fusable):
            rs = by_eid.get(eid, [])
            vals = [
                fmt(_from_json_value(_json.loads(r["vj"])["v"], vtypes[eid]), eid)
                for r in rs
            ]
            out[f"partial_unexpected_list|{config.id}"] = vals[:k]
            if want_rows:
                limit = cap if rf.at_least("COMPLETE") else k
                out[f"unexpected_rows|{config.id}"] = [
                    {
                        c: _from_json_value(_json.loads(r["rj"]).get(c), schema[c].dataType)
                        for c in self.df.columns
                    }
                    for r in rs[:limit]
                ]
            if rf.at_least("COMPLETE"):
                out[f"unexpected_list|{config.id}"] = vals[:cap]
                if idx_cols:
                    out[f"unexpected_index_list|{config.id}"] = [
                        {
                            c: _from_json_value(_json.loads(r["ij"]).get(c), schema[c].dataType)
                            for c in idx_cols
                        }
                        for r in rs[:cap]
                    ]

        if rf.at_least("SUMMARY"):
            # tie-break surrogate so count-tied NUMERIC values rank in typed
            # order (the per-expectation path orders by the native column):
            # strip the {"v":...} wrapper and try_cast — numbers sort
            # numerically, everything else falls back to the JSON string
            num = F.expr(
                "try_cast(regexp_replace(vj, '^\\\\{\"v\":|\\\\}$', '') as double)")
            # string ties order by the UNESCAPED value (get_json_object),
            # not the raw JSON — escaping ('"' -> '\\"') would otherwise
            # rank strings differently from the native column order the
            # per-expectation path uses, evicting the wrong values at the
            # window cut; raw vj stays only as the final stable key
            unesc = F.get_json_object(F.col("vj"), "$.v")
            cw = Window.partitionBy("eid").orderBy(
                F.desc("__n"), F.asc_nulls_last(num),
                F.asc_nulls_last(unesc), F.asc("vj"))
            crows = (
                ex.groupBy("eid", "vj")
                .agg(F.count(F.lit(1)).alias("__n"))
                .withColumn("__rn", F.row_number().over(cw))
                # +200 margin absorbs count-tied boundary groups before the
                # typed re-sort below; residual: >200-way ties of ARRAY/
                # STRUCT values (JSON order != native order) could still
                # surface different tied entries than the per-expectation
                # path — atomic types (the realistic case) are exact
                .where(F.col("__rn") <= k + 200)
                .collect()
            )
            counts_by_eid: dict[int, list] = {}
            for r in crows:
                counts_by_eid.setdefault(r["eid"], []).append(r)
            for eid, (config, comp, kernel, _vt) in enumerate(fusable):
                items = [
                    (
                        fmt(_from_json_value(_json.loads(r["vj"])["v"], vtypes[eid]), eid),
                        int(r["__n"]),
                    )
                    for r in counts_by_eid.get(eid, [])
                ]
                # re-sort ties by TYPED value (the per-expectation path
                # orders by the native column); fall back to the stable
                # JSON-string order for unorderable values
                try:
                    items.sort(key=lambda t: (-t[1], t[0]))
                except TypeError:
                    items.sort(key=lambda t: (-t[1], _json.dumps(t[0], default=str)))
                out[f"partial_unexpected_counts|{config.id}"] = [
                    {"value": v, "count": n} for v, n in items[:k]
                ]
        return out

    def _collect_violations(
        self, config: ExpectationConfiguration, comp: Compiled, metrics: dict[str, Any]
    ) -> dict[str, Any]:
        out: dict[str, Any] = {}
        k = self.rf.partial_unexpected_count
        cap = self.options.complete_list_cap

        vdf_key = f"__violations_df__|{config.id}"
        kernel = comp.kernel
        if kernel is None and comp.kernel2 is not None:
            kernel = comp.kernel2(metrics)

        if vdf_key in metrics:  # eager op (uniqueness/referential/monotonic)
            # already built the violation frame; when it carries the source
            # columns (uniqueness does), index columns and unexpected_rows
            # resolve from it directly
            vdf = metrics[vdf_key].withColumnRenamed("__value", "__v")
            src_cols = [c for c in vdf.columns
                        if c != "__v" and not c.startswith("__")]
            if self.rf.include_unexpected_rows and src_cols:
                limit = cap if self.rf.at_least("COMPLETE") else k
                full_rows = vdf.select(*src_cols).limit(limit).collect()
                out[f"unexpected_rows|{config.id}"] = [
                    {c: _py(v) for c, v in r.asDict().items()} for r in full_rows
                ]
            keep = ["__v"] + [c for c in self.rf.unexpected_index_column_names
                              if c in src_cols]
            vdf = vdf.select(*keep)
        elif kernel is not None:
            unexpected = kernel.include & F.coalesce(~kernel.ok, F.lit(False))
            index_cols = [c for c in self.rf.unexpected_index_column_names]
            sel = [kernel.value.alias("__v"), unexpected.alias("__u")] + [
                F.col(c) for c in index_cols
            ]
            vdf = self.df.select(*sel).where(F.col("__u")).drop("__u")
            if self.rf.include_unexpected_rows:
                # reference result_format.include_unexpected_rows: the FULL
                # source rows for unexpected values, bounded like the lists
                limit = cap if self.rf.at_least("COMPLETE") else k
                full_rows = (
                    self.df.withColumn("__u", unexpected)
                    .where(F.col("__u")).drop("__u").limit(limit).collect()
                )
                out[f"unexpected_rows|{config.id}"] = [
                    {c: _py(v) for c, v in r.asDict().items()} for r in full_rows
                ]
            if self.rf.at_least("COMPLETE") and self.rf.return_unexpected_index_query:
                out[f"unexpected_index_query|{config.id}"] = _render_index_query(unexpected)
        else:
            return out

        # reference value shapes (fixture corpus contract): column-pair
        # domains emit each unexpected value as a LIST [a, b]; multicolumn
        # domains emit a dict {col: value}; columns stay scalars
        def fmt(v):
            v = _py(v)
            if kernel is not None and kernel.value_format == "pair" and isinstance(v, dict):
                return [v.get(c) for c in kernel.columns]
            return v

        rows = vdf.limit(k).collect()
        out[f"partial_unexpected_list|{config.id}"] = [fmt(r["__v"]) for r in rows]

        if self.rf.at_least("SUMMARY"):
            counts = (
                vdf.groupBy("__v")
                .agg(F.count(F.lit(1)).alias("__n"))
                .orderBy(F.desc("__n"), F.col("__v"))
                .limit(k)
                .collect()
            )
            out[f"partial_unexpected_counts|{config.id}"] = [
                {"value": fmt(r["__v"]), "count": int(r["__n"])} for r in counts
            ]

        if self.rf.at_least("COMPLETE"):
            full = vdf.limit(cap).collect()
            out[f"unexpected_list|{config.id}"] = [fmt(r["__v"]) for r in full]
            index_cols = [c for c in self.rf.unexpected_index_column_names
                          if c in vdf.columns]
            if index_cols:
                out[f"unexpected_index_list|{config.id}"] = [
                    {c: _py(r[c]) for c in index_cols} for r in full
                ]
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
