"""Streaming validation: per-micro-batch suites and windowed condition rates."""

from __future__ import annotations

import json
import time
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.utils import AnalysisException

from great_expectations_spark.checkpoint import (
    append_results, missing_table, read_results, results_rows,
)
from great_expectations_spark.core.suite import ExpectationSuite
from great_expectations_spark.validator import validate


class _SeenChunks:
    """Idempotence gate mirroring ``checkpoint.run_checkpoint`` resume:
    a replayed micro-batch (foreachBatch is at-least-once — a crash after
    the results append but before the offset commit re-runs the batch id)
    must not append duplicate (run_id, chunk_id) rows.

    The results table is read ONCE, lazily at the first batch after
    (re)start, to seed a driver-side set of this run's chunk_ids; every
    later trigger is an in-memory lookup. The earlier per-trigger
    full-table filter+count cost O(accumulated history) per batch —
    unbounded for a long-lived stream. A crash loses only the in-memory
    set; the restarted stream re-seeds from the table, so replayed batch
    ids are still skipped. (The gate guards replays of THIS stream; two
    concurrent writers sharing a (results_path, run_id) were never
    supported — same contract as ``run_checkpoint`` resume.)

    Only a MISSING results table means first write; any other read
    failure propagates — treating a transient error as first-run would
    re-append rows that ``rollup`` then double-counts."""

    def __init__(self, spark, results_path: str, run_id: str) -> None:
        self._spark = spark
        self._path = results_path
        self._run_id = run_id
        self._seen: set[str] | None = None

    def _seed(self) -> set[str]:
        # a directory holding no committed file (a write died before its
        # commit) reads as an empty table under the pinned schema
        try:
            existing = read_results(self._spark, self._path)
        except AnalysisException as e:
            if missing_table(e):
                return set()
            raise
        rows = (existing.where(F.col("run_id") == self._run_id)
                .select("chunk_id").distinct().collect())
        return {r["chunk_id"] for r in rows}

    def already_written(self, chunk_id: str) -> bool:
        if self._seen is None:
            self._seen = self._seed()
        return chunk_id in self._seen

    def mark(self, chunk_id: str) -> None:
        assert self._seen is not None
        self._seen.add(chunk_id)


def validate_stream(
    stream_df: DataFrame,
    suite: ExpectationSuite,
    results_path: str,
    checkpoint_location: str,
    run_id: str = "stream",
    result_format: Any = "BOOLEAN_ONLY",
    trigger_seconds: int | None = None,
    options: Any = None,
) -> StreamingQuery:
    """Validate each micro-batch with the fused validator and append one
    results row per expectation, keyed (run_id, chunk_id=batch-<id>).

    ``options`` defaults to ``Options(chunk_monoids=True)``: micro-batches
    are chunks, so aggregate expectations record mergeable partials and
    ``CheckpointResult.rollup`` over the stream's results table yields
    whole-stream aggregate verdicts. Pass explicit ``Options`` to disable
    the per-batch sketch cost or tune any other engine knob.

    Exactly-once notes: Spark's streaming checkpoint (``checkpoint_location``)
    guarantees each batch id is processed at least once; a batch REPLAYED
    after a failure (or by a restarted stream whose batch ids start over)
    is skipped when its (run_id, chunk_id) rows are already in the results
    table — the same skip-if-present gate as ``run_checkpoint`` resume, so
    ``rollup`` over the stream's results never double-counts a batch.
    """
    spark = stream_df.sparkSession
    if options is None:
        from great_expectations_spark.plans.compiler import Options

        options = Options(chunk_monoids=True)

    seen = _SeenChunks(spark, results_path, run_id)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        chunk_id = f"batch-{batch_id}"
        if seen.already_written(chunk_id):
            return
        t0 = time.time()
        result = validate(batch_df, suite, result_format=result_format,
                          options=options)
        rows = results_rows(result, run_id, chunk_id,
                            "streaming-micro-batch", time.time() - t0)
        append_results(spark, rows, results_path)
        seen.mark(chunk_id)

    writer = (
        stream_df.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_location)
        .foreachBatch(process)
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def validate_stream_by(
    stream_df: DataFrame,
    suite: ExpectationSuite,
    group_by: list[str] | str,
    results_path: str,
    checkpoint_location: str,
    run_id: str = "stream",
    trigger_seconds: int | None = None,
    options: Any = None,
    on_unsupported: str = "raise",
) -> StreamingQuery:
    """Per-GROUP suite verdicts per micro-batch (``grouped.validate_by``
    inside foreachBatch), appended long-format to ``results_path`` with
    (run_id, chunk_id=batch-<id>) lineage — a continuously-updating
    per-key quality monitor (per-lang / per-domain verdict rows every
    trigger). One groupBy-agg per batch regardless of group count; the
    results table stays a plain DataFrame for downstream joins/alerts.
    Same replayed-batch skip-if-present contract as ``validate_stream``."""
    from great_expectations_spark.grouped import validate_by

    keys = [group_by] if isinstance(group_by, str) else list(group_by)
    spark = stream_df.sparkSession

    seen = _SeenChunks(spark, results_path, run_id)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        chunk_id = f"batch-{batch_id}"
        if seen.already_written(chunk_id):
            return
        out = validate_by(batch_df, suite, keys, options=options,
                          on_unsupported=on_unsupported)
        (out.withColumn("run_id", F.lit(run_id))
            .withColumn("chunk_id", F.lit(chunk_id))
            .withColumn("finished_at", F.lit(float(time.time())))
            .coalesce(1).write.mode("append").parquet(results_path))
        seen.mark(chunk_id)

    writer = (
        stream_df.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_location)
        .foreachBatch(process)
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def windowed_condition_rates(
    stream_df: DataFrame,
    ts_col: str,
    conditions: dict[str, Column],
    window_seconds: int = 60,
    watermark_seconds: int = 120,
) -> DataFrame:
    """Incremental per-window pass rates for named boolean conditions.

    Pure streaming aggregation — conditional counts are commutative, state
    is one row per window, late data handled by the watermark. Feed any
    sink; join with thresholds downstream for alerting.

        rates = windowed_condition_rates(
            stream, "warc_ts",
            {"text_nonnull": F.col("text").isNotNull(),
             "lang_known": F.col("lang").isin("en", "de", "fr")})
    """
    aggs = [F.count(F.lit(1)).alias("element_count")]
    for name, cond in conditions.items():
        aggs.append(F.sum(F.when(cond, 1).otherwise(0)).alias(f"{name}__pass"))
    out = (
        stream_df.withWatermark(ts_col, f"{watermark_seconds} seconds")
        .groupBy(F.window(F.col(ts_col), f"{window_seconds} seconds").alias("w"))
        .agg(*aggs)
    )
    rate_cols = [
        (F.col(f"{name}__pass") / F.col("element_count")).alias(f"{name}__rate")
        for name in conditions
    ]
    return out.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "element_count",
        *[F.col(f"{n}__pass") for n in conditions],
        *rate_cols,
    )


def windowed_kl_drift(
    stream_df: DataFrame,
    ts_col: str,
    column: str,
    partition_object: dict[str, Any],
    threshold: float | None = None,
    window_seconds: int = 300,
    watermark_seconds: int = 600,
    tail_weight_holdout: float = 0.0,
) -> DataFrame:
    """Always-on categorical distribution-drift monitor: per tumbling
    window, KL(observed || expected) of ``column`` against a categorical
    ``partition_object`` ({"values": [...], "weights": [...]}) — the
    streaming twin of ``expect_column_kl_divergence_to_be_less_than``
    (reference expect_column_kl_divergence_to_be_less_than.py:359-516).

    Fully incremental: state is ONE row per window (conditional counts per
    expected category + one "other" bucket); KL is a pure Column expression
    over those counts, so nothing runs outside whole-stage codegen and no
    foreachBatch is needed. Valid on batch frames too (used by tests to
    check the arithmetic against the batch kernel).

    Semantics vs the batch kernel: unseen categories are LUMPED into one
    "other" bucket (a stream can't enumerate unbounded unseen values).
    With ``tail_weight_holdout == 0`` any other-mass ⇒ KL = +inf, exactly
    like batch; with a holdout the lumped term ``p_other·ln(p_other/h)``
    is a LOWER bound on the batch KL (which splits the holdout across the
    distinct unseen values) — drift it flags is real drift.

    Output per window: element_count (nonnull), other_count,
    observed_weights (expected-category order), kl_divergence, and
    ``drifted`` when ``threshold`` is given.
    """
    values = list(partition_object["values"])
    weights = [float(w) for w in partition_object["weights"]]
    if len(values) != len(weights) or not values:
        raise ValueError("partition_object needs equal-length non-empty values/weights")
    if abs(sum(weights) - 1.0) > 1e-6:
        raise ValueError("partition_object weights must sum to 1")
    if any(w <= 0 for w in weights):
        raise ValueError("partition_object weights must be positive")
    h = float(tail_weight_holdout)
    if not 0.0 <= h < 1.0:
        raise ValueError("tail_weight_holdout must be in [0, 1)")

    c = F.col(column)
    aggs = [F.count(c).alias("element_count")]
    for i, v in enumerate(values):
        aggs.append(F.sum(F.when(c == F.lit(v), 1).otherwise(0)).alias(f"__c{i}"))
    aggs.append(
        F.sum(F.when(c.isNotNull() & ~c.isin(*values), 1).otherwise(0)).alias("other_count")
    )
    out = (
        stream_df.withWatermark(ts_col, f"{watermark_seconds} seconds")
        .groupBy(F.window(F.col(ts_col), f"{window_seconds} seconds").alias("w"))
        .agg(*aggs)
    )

    nn = F.col("element_count").cast("double")
    extras = F.col("other_count") > 0
    terms = []
    for i, q in enumerate(weights):
        # batch kernel scales expected weights by (1 - holdout) only when
        # unseen values actually occur (pd.concat alignment path)
        q_eff = F.when(extras, F.lit(q * (1.0 - h))).otherwise(F.lit(q)) if h else F.lit(q)
        p = F.col(f"__c{i}") / nn
        terms.append(F.when(F.col(f"__c{i}") > 0, p * F.log(p / q_eff)).otherwise(F.lit(0.0)))
    finite_kl = terms[0]
    for t in terms[1:]:
        finite_kl = finite_kl + t
    p_other = F.col("other_count") / nn
    if h > 0:
        finite_kl = finite_kl + F.when(
            extras, p_other * F.log(p_other / F.lit(h))
        ).otherwise(F.lit(0.0))
        kl = finite_kl
    else:
        kl = F.when(extras, F.lit(float("inf"))).otherwise(finite_kl)
    kl = F.when(F.col("element_count") == 0, F.lit(None).cast("double")).otherwise(kl)

    cols = [
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "element_count",
        "other_count",
        F.array(*[F.col(f"__c{i}") / nn for i in range(len(values))]).alias(
            "observed_weights"
        ),
        kl.alias("kl_divergence"),
    ]
    if threshold is not None:
        cols.append((F.isnan(kl) | (kl > F.lit(float(threshold)))).alias("drifted"))
    return out.select(*cols)
