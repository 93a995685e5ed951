"""Physical-plan property tests: the scale-critical plan shapes
(pushdown, pruning, map-side partial aggregation, broadcast) must
survive refactors — these are the properties that make the operators
work at 100 TB, independent of small-data correctness."""

from __future__ import annotations

import contextlib
import io
import re
import shutil

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def fresh_docs(spark, tmp_path):
    """documents parquet at a UNIQUE path: other test modules cache the
    canonical sf0.001 path, and Spark's cache lookup matches by logical
    plan — a cached InMemoryRelation would hide the parquet scan these
    tests assert on."""
    dst = str(tmp_path / "docs.parquet")
    shutil.copy(f"{SF}/documents.parquet", dst)
    return spark.read.parquet(dst)


@pytest.fixture()
def fresh_emb(spark, tmp_path):
    dst = str(tmp_path / "emb.parquet")
    shutil.copy(f"{SF}/embeddings.parquet", dst)
    return spark.read.parquet(dst)


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _partial_agg_before_exchange(plan: str) -> bool:
    """In a formatted plan, node numbers increase bottom-up: the partial
    HashAggregate must have a LOWER id than the Exchange above it."""
    partial = re.search(r"\((\d+)\) HashAggregate\n(?:.*\n)*?.*partial_", plan)
    exchange = re.search(r"\((\d+)\) Exchange", plan)
    return bool(partial and exchange) and int(partial.group(1)) < int(exchange.group(1))


def test_cms_plan_prunes_and_partially_aggregates(spark, fresh_docs):
    """Count-min table: 1-column ReadSchema, IsNotNull pushed to parquet,
    partial_count BEFORE the exchange (per-partition sketch build)."""
    from great_expectations_spark.pipeline.heavyhitters import count_min_table

    plan = _plan(count_min_table(fresh_docs, "lang", depth=3, width=64))
    assert "ReadSchema: struct<lang:string>" in plan
    assert "IsNotNull(lang)" in plan
    assert _partial_agg_before_exchange(plan)


def test_exact_dedup_shuffles_digests_not_bodies(spark, fresh_docs):
    """Exact dedup stats: the text column is hashed to a 16-byte md5 in
    the map stage; partial aggregation runs before the exchange so the
    shuffle carries (digest, partial count) rows only."""
    from great_expectations_spark.pipeline.dedup import exact_dedup_stats

    df = fresh_docs
    # grab the lazy frame the operator is built from (stats itself collects)
    g = (
        df.where(F.col("text").isNotNull())
        .groupBy(F.md5(F.encode(F.col("text"), "UTF-8")).alias("h"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    plan = _plan(g)
    assert _partial_agg_before_exchange(plan)
    assert "md5" in plan
    # sanity: the real operator produces the documented stats row
    row = exact_dedup_stats(df, "text").first()
    assert row.n_rows >= row.n_distinct


def test_cosine_topk_broadcasts_queries(spark, fresh_emb):
    """Exact top-k: the small query side must broadcast (nested-loop with
    BuildRight/BuildLeft), never shuffle the corpus."""
    from great_expectations_spark.pipeline.similarity import cosine_topk

    emb = fresh_emb
    q = emb.limit(4).select(F.col("vec_id").alias("q_id"),
                            F.col("embedding").alias("q_vec"))
    plan = _plan(cosine_topk(emb, q, k=3))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_heavy_hitters_summaries_single_column_input(spark, fresh_docs):
    """The Misra-Gries mapInPandas stage reads ONE column — the Arrow
    channel must not carry the full row payload."""
    from great_expectations_spark.pipeline.heavyhitters import _mg_summaries

    summaries = fresh_docs.select("lang").mapInPandas(
        _mg_summaries("lang", 16), schema="value string, cnt long")
    plan = _plan(summaries)
    assert "ReadSchema: struct<lang:string>" in plan


def test_resolve_revisits_single_exchange_no_window(spark, fresh_docs):
    """Revisit resolution is ONE hash shuffle of pre-aggregated max_by
    partials — no Window (a per-url window would hotspot hot urls) and
    map-side partial aggregation before the exchange."""
    from great_expectations_spark.pipeline.webtext import resolve_revisits

    pages = fresh_docs.select(
        F.concat(F.lit("https://"), F.col("source"), F.lit(".example/p/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.col("doc_id").alias("rev"))
    plan = _plan(resolve_revisits(pages, "url", "rev", tiebreak=["rev"]))
    assert "Window" not in plan
    assert plan.count(") Exchange") == 1
    assert re.search(r"partial_max_by|ObjectHashAggregate", plan)


def test_domain_cap_two_phase_windows(spark, fresh_docs):
    """The salted top-k runs exactly two Window nodes; phase 1 partitions
    by (domain, salt) so no single task ever sees a whole hot domain."""
    from great_expectations_spark.pipeline.webtext import domain_cap

    pages = fresh_docs.select(
        F.concat(F.lit("https://"), F.col("source"), F.lit(".example/p/"),
                 F.col("doc_id").cast("string")).alias("url"),
        "doc_id", "n_chars")
    plan = _plan(domain_cap(pages, "url", k=5,
                            order_by=[F.col("n_chars").desc(),
                                      F.col("doc_id").asc()]))
    assert len(re.findall(r"\(\d+\) Window\n", plan)) == 2
    # Spark's rank-limit pushdown kicks in: per-partition WindowGroupLimit
    # truncates each group to k rows BEFORE the shuffle
    assert "WindowGroupLimit" in plan
    assert "pmod" in plan  # the salt reaches the phase-1 partition spec


def test_incremental_exact_dedup_anti_join_on_digests(spark, fresh_docs, tmp_path):
    """The new batch anti-joins 16-byte digests: LeftAnti join present,
    digest groupBy partially aggregated, and the SEEN side reads only the
    signature table's digest column (column pruning)."""
    from great_expectations_spark.pipeline.dedup import (
        exact_digest_table,
        incremental_exact_dedup,
    )

    sig_path = str(tmp_path / "sig.parquet")
    exact_digest_table(fresh_docs, "doc_id", "text").write.parquet(sig_path)
    seen = spark.read.parquet(sig_path)
    plan = _plan(incremental_exact_dedup(fresh_docs, seen, "doc_id", "text"))
    assert "LeftAnti" in plan
    assert "ReadSchema: struct<digest:string>" in plan
    # keep-one runs as a rank-limited window on the digest: per-partition
    # WindowGroupLimit truncates every duplicate group to 1 row BEFORE the
    # shuffle, so a 10^8-copy boilerplate digest ships one row per map task
    assert "WindowGroupLimit" in plan


def test_incremental_lsh_no_cartesian(spark, fresh_docs, tmp_path):
    """History bucket join stays an equi-join on (band, bucket) — never a
    cartesian/nested-loop product."""
    from great_expectations_spark.pipeline.dedup import (
        incremental_lsh_candidates,
        lsh_bucket_table,
    )

    b_path = str(tmp_path / "buckets.parquet")
    lsh_bucket_table(fresh_docs, "doc_id", "text").write.parquet(b_path)
    buckets = spark.read.parquet(b_path)
    plan = _plan(incremental_lsh_candidates(fresh_docs, buckets,
                                            "doc_id", "text"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_substring_stats_prunes_and_partially_aggregates(spark, fresh_docs):
    """Duplicated-window inventory: only (doc_id, text) read from
    parquet; the corpus-wide window count is partial-aggregated per map
    partition BEFORE the (wkey) exchange — boilerplate skew never ships
    raw occurrence rows for the count."""
    from great_expectations_spark.pipeline.substring import (
        duplicate_window_stats)

    plan = _plan(duplicate_window_stats(fresh_docs, "doc_id", "text",
                                        window=8))
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan
    assert _partial_agg_before_exchange(plan)


def test_substring_dedup_no_cartesian(spark, fresh_docs):
    """Span removal joins occurrences to duplicated keys and flags to
    docs by equi-keys only."""
    from great_expectations_spark.pipeline.substring import dedup_substrings

    plan = _plan(dedup_substrings(fresh_docs.select("doc_id", "text"),
                                  "doc_id", "text", window=8))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_kmeans_mstep_partial_aggregation(spark, fresh_emb):
    """The Lloyd M-step (per-dim avgs grouped by assignment) must
    partial-aggregate before its exchange: at 10^12 rows each map
    partition ships k rows of per-dim sums, never raw vectors; the scan
    reads only the embedding/id columns."""
    from great_expectations_spark.pipeline.embcluster import (
        _assign_col, kmeans_fit)
    from great_expectations_spark.pipeline.similarity import ivf_centroids

    pts = fresh_emb.where(
        F.col("embedding").isNotNull() & F.col("vec_id").isNotNull())
    cents = ivf_centroids(pts, 64, 4)
    means = [F.avg(F.element_at(F.col("embedding"), d + 1).cast("double"))
             .alias(f"d{d}") for d in range(64)]
    plan = _plan(pts.groupBy(
        _assign_col(F.col("embedding"), cents, "gemm").alias("__c"))
        .agg(*means))
    assert _partial_agg_before_exchange(plan)
    assert "ArrowEvalPython" in plan  # the GEMM E-step is Arrow-batched


def test_semantic_pairs_equi_join_on_cluster(spark, fresh_emb):
    """Within-cluster pairing is an equi-join on the cluster id — the
    quadratic term is confined to clusters, never a corpus cross
    product."""
    from great_expectations_spark.pipeline.embcluster import (
        kmeans_fit, semantic_pairs)

    cents = kmeans_fit(fresh_emb, 64, 4, iters=1)
    plan = _plan(semantic_pairs(fresh_emb, cents, 0.9))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_dsir_ratio_join_broadcasts(spark, fresh_docs):
    """The bucket-domain ratio table (10^4 rows by construction) must
    broadcast onto the doc feature stream — never a shuffle of the
    corpus side — and the feature groupBy partial-aggregates map-side."""
    from great_expectations_spark.pipeline.dsir import dsir_log_weights

    plan = _plan(dsir_log_weights(
        fresh_docs, fresh_docs.limit(50), "doc_id", "text", buckets=256))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # feature counts and the per-doc weight sum both partial-aggregate
    # (the _partial_agg_before_exchange helper keys on the FIRST exchange,
    # which in this multi-join plan is a sort — check the aggregates
    # directly instead)
    assert "partial_count" in plan and "partial_sum" in plan


def test_classifier_scoring_broadcasts_weights(spark, fresh_docs):
    """Fixed-model scoring: the buckets-row weight table must broadcast
    onto the feature stream (never shuffle the corpus side against it),
    and the doc margin sum partial-aggregates map-side."""
    from pyspark.sql import functions as F

    from great_expectations_spark.pipeline.classifier import classify_docs

    w = spark.range(256).select(
        F.col("id").cast("int").alias("bucket"),
        (F.col("id") % 7 / 7.0).alias("weight"))
    plan = _plan(classify_docs(fresh_docs, w, 0.0, "doc_id", "text",
                               buckets=256))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan


def test_wet_read_stays_in_codegen_no_exchange(spark, tmp_path):
    """WET parse: one text scan, header/payload extraction entirely in
    WholeStageCodegen built-ins — no Python eval node, no Exchange (a
    format reader that shuffled or dropped to Arrow would not survive a
    100-TB crawl ingest)."""
    from great_expectations_spark.sources.wet import read_wet, write_wet

    df = spark.createDataFrame(
        [(f"http://p.example/{i}", f"doc {i}") for i in range(10)],
        "url string, text string")
    out = str(tmp_path / "wet")
    write_wet(df, out)
    plan = _plan(read_wet(spark, out))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "codegen id" in plan  # parse runs inside whole-stage codegen


def test_shard_shuffle_single_exchange(spark, fresh_docs):
    """Shard shuffle: exactly ONE Exchange (the window's hash-partition
    on shard) + in-partition Sort — the same shuffle a shard writer pays;
    anything more would double the corpus movement."""
    from great_expectations_spark.pipeline.sampling import shard_shuffle

    plan = _plan(shard_shuffle(
        fresh_docs.select("doc_id"), "doc_id", shards=8))
    assert plan.count(") Exchange") == 1
    assert "hashpartitioning(shard" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_bpe_encode_row_local_arrow_no_exchange(spark, fresh_docs):
    """BPE encoding: pre-tokenization stays in codegen and the merge
    application is ONE ArrowEvalPython node — row-local, zero Exchange
    (the corpus text never moves; only train_bpe's separate piece-dict
    scan shuffles, and that is bounded by the dict)."""
    from great_expectations_spark.pipeline.bpe import bpe_encode, train_bpe

    merges = train_bpe(fresh_docs, "doc_id", "text", num_merges=8)
    plan = _plan(bpe_encode(fresh_docs, merges, "doc_id", "text"))
    assert "Exchange" not in plan
    assert plan.count(") ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan  # never the row-at-a-time path


def test_compression_ratio_row_local_arrow_no_exchange(spark, fresh_docs):
    """Compression-ratio signal: one ArrowEvalPython projection over the
    scan, nothing else — no Exchange, no row-at-a-time Python."""
    from great_expectations_spark.pipeline.quality import compression_ratio

    plan = _plan(compression_ratio(fresh_docs))
    assert "Exchange" not in plan
    assert plan.count(") ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan


def test_rule_profiler_real_batches_single_exchange(spark, tmp_path):
    """Real-batch MultiBatch resolution (rule_profiler.batch_metrics'
    chunk_aggregate_frame over batch_key_expr, fed registry metric
    requests) is ONE groupBy: exactly one aggregate Exchange with map-side
    partial aggregation, and the exchange count does NOT grow with the
    batch count (30 day-batches vs 5 mod-batches — same plan shape). This
    is what keeps a 10^12-row date-partitioned profile run at one shuffle
    instead of N per-batch jobs."""
    from great_expectations_spark.rule_profiler import (
        batch_key_expr,
        chunk_aggregate_frame,
    )

    dst = str(tmp_path / "events.parquet")
    shutil.copy(f"{SF}/events.parquet", dst)
    events = spark.read.parquet(dst)

    for spec in ({"splitter": "date_part", "column": "ts", "part": "day"},
                 {"splitter": "mod_integer", "column": "event_id", "mod": 5}):
        key, _ = batch_key_expr(events, spec)
        frame, _ = chunk_aggregate_frame(
            events, key, {"c0": ("column.mean", {"column": "value"}),
                          "c1": ("table.row_count", {})})
        plan = _plan(frame)
        # one aggregate exchange, never one per batch (the rows are sorted
        # on the driver, so no range exchange either)
        n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
        assert n_exchanges == 1, plan
        assert plan.count("hashpartitioning") == 1, plan
        assert _partial_agg_before_exchange(plan), plan


def test_profile_details_top_values_single_scan(spark, fresh_docs):
    """profile_details' top-values frame reads the source ONCE however
    many columns qualify (melted columns, one groupBy, a row_number cut),
    not once per column through a union of per-column branches."""
    from great_expectations_spark.profiler import _top_values

    frame = _top_values(fresh_docs, ["lang", "source", "n_chars"], 3)
    leaves = frame._jdf.queryExecution().optimizedPlan().collectLeaves()
    assert leaves.size() == 1, leaves.toString()
    plan = _plan(frame)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert len(frame.collect()) <= 3 * 3


def _captured_collects(monkeypatch):
    """Frames collected while the returned list is live."""
    import pyspark.sql.classic.dataframe as cdf

    frames = []
    orig = cdf.DataFrame.collect

    def spy(self):
        frames.append(self)
        return orig(self)

    monkeypatch.setattr(cdf.DataFrame, "collect", spy)
    return frames


def test_uniqueness_samples_share_the_counts_exchange(spark, fresh_docs, monkeypatch):
    """The uniqueness eager query (duplicate sums, smallest keys, top keys)
    scans once and shuffles once: the sample branches reuse the counts'
    hash exchange."""
    from great_expectations_spark import ExpectationSuite, validate

    frames = _captured_collects(monkeypatch)
    suite = ExpectationSuite("u").add(
        "expect_column_values_to_be_unique", column="lang")
    res = validate(fresh_docs, suite, result_format="SUMMARY").results[0]
    assert res.result["partial_unexpected_counts"]
    eager = [f for f in frames if "Union" in f._jdf.queryExecution().optimizedPlan().toString()]
    assert len(eager) == 1
    plan = eager[0]._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FileScan parquet") == 1, plan
    # a ReusedExchange line names the exchange it reuses
    reused = final.count("ReusedExchange")
    assert reused == 2, plan
    assert final.count("Exchange hashpartitioning") - reused == 1, plan
    assert final.count("TakeOrderedAndProject") == 2, plan


def test_basic_validate_job_count_pinned(spark, tmp_path, new_job_ids):
    """A BASIC validate of one checkpoint-chunk-sized frame under a
    crawl-style suite (violated uniqueness, not-null and in-set; exact
    quantiles; KL) runs a pinned number of Spark jobs: pass 1 as one scan
    job, and the KL value-count and uniqueness eager queries; the in-set
    samples come from the KL groups. The plan with an exchanged pass 1
    and a bounded in-set sample query ran 8 jobs here."""
    import random

    from great_expectations_spark import ExpectationSuite, validate

    rng = random.Random(3)
    langs = ["en", "de", "fr", "xx"]
    rows = [(f"https://d{rng.randint(0, 7000)}.example/p", rng.choice(langs),
             None if i % 60 == 0 else "w" * rng.randint(1, 90))
            for i in range(8000)]
    path = str(tmp_path / "chunk.parquet")
    spark.createDataFrame(rows, "url string, lang string, text string") \
        .withColumn("text_len", F.length("text")).write.parquet(path)
    chunk = spark.read.parquet(path)
    suite = (
        ExpectationSuite("crawl")
        .add("expect_column_values_to_not_be_null", column="url")
        .add("expect_column_values_to_be_in_set", column="lang",
             value_set=["en", "de", "fr"], mostly=0.5)
        .add("expect_column_values_to_not_be_null", column="text", mostly=0.95)
        .add("expect_column_quantile_values_to_be_between", column="text_len",
             quantile_ranges={"quantiles": [0.25, 0.5, 0.75],
                              "value_ranges": [[0, 1000]] * 3})
        .add("expect_column_values_to_be_unique", column="url", mostly=0.5)
        .add("expect_column_kl_divergence_to_be_less_than", column="lang",
             partition_object={"values": ["en", "de", "fr", "xx"],
                               "weights": [0.25, 0.25, 0.25, 0.25]},
             threshold=0.1)
    )
    res, jobs = new_job_ids(lambda: validate(chunk, suite, result_format="BASIC"))
    counts = [r.result.get("unexpected_count") for r in res.results]
    assert counts[1] > 0 and counts[2] > 0 and counts[4] > 0  # violated
    assert len(jobs) == 6


def test_onboarding_assistant_job_count_pinned(spark, tmp_path, new_job_ids):
    """``run_onboarding_assistant`` over one month of a crawl-style parquet
    table runs a pinned number of Spark jobs: the domain pass's aggregate,
    ONE whole-table scan aggregate (one job) for every single-batch
    metric, both value sets and the format counts, and the pseudo-chunk
    groupBy, whose rows are sorted on the driver. The plan with a query per
    value set, its own format scan and a sorted groupBy ran 15 jobs here;
    with an exchanged whole-table aggregate, 7."""
    from great_expectations_spark import run_onboarding_assistant
    from great_expectations_spark.sources.webpages import webpages

    path = str(tmp_path / "pages.parquet")
    webpages(spark, 6000, seed=3, partitions=4, max_tokens=60) \
        .withColumn("warc_month", F.month("warc_ts")) \
        .write.parquet(path)
    month = spark.read.parquet(path).where(F.col("warc_month") == 1)
    res, jobs = new_job_ids(lambda: run_onboarding_assistant(month))
    assert len(res.suite.expectations) >= 10
    assert len(jobs) == 6


def test_pass1_with_a_distinct_count_is_one_ungrouped_scan(spark, tmp_path, monkeypatch):
    """An exact distinct count next to exact-quantile, KLL and HLL
    aggregates (``chunk_monoids``) leaves pass 1 a single scan job: its
    executed plan has no Exchange, no Expand and no aggregate grouped by a
    validated column. With the count inside, Spark grouped the whole fused
    aggregate by the counted column."""
    from pyspark.sql import Observation

    import great_expectations_spark.validator as vmod
    from great_expectations_spark import ExpectationSuite, validate
    from great_expectations_spark.plans.compiler import Options

    path = str(tmp_path / "t.parquet")
    spark.range(3000).select(
        F.concat(F.lit("https://d"), (F.col("id") % 997).cast("string")).alias("url"),
        (F.col("id") % 5).cast("string").alias("lang"),
        (F.col("id") % 311).alias("text_len")).write.parquet(path)
    df = spark.read.parquet(path)
    passes = []
    real = vmod.scan_aggregate

    def spy(frame, columns):
        passes.append(columns)
        return real(frame, columns)

    monkeypatch.setattr(vmod, "scan_aggregate", spy)
    suite = (
        ExpectationSuite("p1")
        .add("expect_column_unique_value_count_to_be_between", column="lang",
             min_value=1, max_value=20)
        .add("expect_column_proportion_of_unique_values_to_be_between",
             column="url", min_value=0.0)
        .add("expect_column_quantile_values_to_be_between", column="text_len",
             quantile_ranges={"quantiles": [0.25, 0.5], "value_ranges": [[0, 999]] * 2})
        .add("expect_column_median_to_be_between", column="text_len", min_value=0)
    )
    res = validate(df, suite, options=Options(chunk_monoids=True))
    assert res.success
    assert res.results[0].result["observed_value"] == 5
    assert res.results[1].result["observed_value"] == 997 / 3000
    assert len(passes) == 1
    plan = (df.observe(Observation(), *passes[0]).select()
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan and "Expand" not in plan, plan
    assert "Aggregate" not in plan, plan
    assert "kll_sketch_agg" in plan and "hll_sketch_agg" in plan, plan
