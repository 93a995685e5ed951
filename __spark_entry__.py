"""Driver contract for the spark-graft builder (PySpark target).

Every query routes through the great_expectations_spark ENGINE (suite →
fused passes → EVR) and exposes the resulting metrics as a DataFrame that a
DuckDB oracle can reproduce — so the driver's sf0.01 comparison checks the
engine's actual semantics (element/missing/unexpected counts, mostly-success,
observed aggregates), not raw Spark SQL.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from great_expectations_spark import ExpectationSuite, validate
from great_expectations_spark.validator import suite_result_to_df

MAP_SCHEMA = "element_count long, missing_count long, unexpected_count long, success boolean"


def _tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _one(df: DataFrame, etype: str, tables: dict[str, DataFrame] | None = None, **kwargs: Any):
    suite = ExpectationSuite(name="q").add(etype, **kwargs)
    return validate(df, suite, result_format="BOOLEAN_ONLY", tables=tables).results[0]


def _map_result(spark: SparkSession, r) -> DataFrame:
    row = [(
        int(r.result["element_count"]),
        int(r.result["missing_count"]),
        int(r.result["unexpected_count"]),
        bool(r.success),
    )]
    return spark.createDataFrame(row, MAP_SCHEMA)


def _map_oracle(table: str, include: str, ok: str, mostly: float = 1.0,
                derive: str | None = None) -> str:
    src = f"(SELECT *, {derive} FROM {table})" if derive else table
    return f"""
WITH s AS (
  SELECT count(*) AS ec,
         coalesce(sum(CASE WHEN NOT ({include}) THEN 1 ELSE 0 END), 0) AS mc,
         coalesce(sum(CASE WHEN ({include}) AND NOT coalesce(({ok}), FALSE) THEN 1 ELSE 0 END), 0) AS uc
  FROM {src}
)
SELECT CAST(ec AS BIGINT) AS element_count,
       CAST(mc AS BIGINT) AS missing_count,
       CAST(uc AS BIGINT) AS unexpected_count,
       CASE WHEN ec - mc <= 0 THEN TRUE
            ELSE (CAST(ec - mc - uc AS DOUBLE) / (ec - mc)) >= {mostly} END AS success
FROM s
"""


def _obs_result(spark: SparkSession, r, round_to: int | None = None) -> DataFrame:
    df = spark.createDataFrame(
        [(float(r.result["observed_value"]), bool(r.success))], "observed double, success boolean"
    )
    if round_to is not None:
        df = df.select(F.round(F.col("observed"), round_to).alias("observed"), "success")
    return df


# --------------------------------------------------------------------------
# query registry: name -> (spark callable, oracle SQL | None)
# --------------------------------------------------------------------------

_REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}


def _q(name: str, oracle: str | None):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        _REGISTRY[name] = (fn, oracle)
        return fn

    return deco


# ---- column-map expectations ------------------------------------------------

_DOC_LANGS = ["en", "de", "fr", "es", "zh"]


@_q("map_not_null_text", _map_oracle("documents", "TRUE", "text IS NOT NULL"))
def _q1(spark, sf):
    r = _one(_tbl(spark, sf, "documents"), "expect_column_values_to_not_be_null", column="text")
    return _map_result(spark, r)


@_q("map_in_set_lang",
    _map_oracle("documents", "lang IS NOT NULL", "lang IN ('en','de','fr')", mostly=0.5))
def _q2(spark, sf):
    r = _one(_tbl(spark, sf, "documents"), "expect_column_values_to_be_in_set",
             column="lang", value_set=["en", "de", "fr"], mostly=0.5)
    return _map_result(spark, r)


@_q("map_between_value",
    _map_oracle("events", "value IS NOT NULL", "value >= 0 AND value <= 200", mostly=0.5))
def _q3(spark, sf):
    r = _one(_tbl(spark, sf, "events"), "expect_column_values_to_be_between",
             column="value", min_value=0, max_value=200, mostly=0.5)
    return _map_result(spark, r)


@_q("map_regex_text",
    _map_oracle("documents", "text IS NOT NULL", "regexp_matches(text, 'table')", mostly=0.1))
def _q4(spark, sf):
    r = _one(_tbl(spark, sf, "documents"), "expect_column_values_to_match_regex",
             column="text", regex="table", mostly=0.1)
    return _map_result(spark, r)


@_q("map_not_regex_text",
    _map_oracle("documents", "text IS NOT NULL", "NOT regexp_matches(text, 'spark')", mostly=0.1))
def _q5(spark, sf):
    r = _one(_tbl(spark, sf, "documents"), "expect_column_values_to_not_match_regex",
             column="text", regex="spark", mostly=0.1)
    return _map_result(spark, r)


@_q("map_like_source",
    _map_oracle("documents", "source IS NOT NULL", "source LIKE 'src1%'", mostly=0.1))
def _q6(spark, sf):
    r = _one(_tbl(spark, sf, "documents"), "expect_column_values_to_match_like_pattern",
             column="source", like_pattern="src1%", mostly=0.1)
    return _map_result(spark, r)


@_q("map_regex_list_any",
    _map_oracle("documents", "source IS NOT NULL",
                "(regexp_matches(source, '^src1') OR regexp_matches(source, '^src2'))",
                mostly=0.1))
def _q6b(spark, sf):
    r = _one(_tbl(spark, sf, "documents"), "expect_column_values_to_match_regex_list",
             column="source", regex_list=["^src1", "^src2"], match_on="any", mostly=0.1)
    return _map_result(spark, r)


@_q("map_lengths_between",
    _map_oracle("documents", "text IS NOT NULL", "length(text) BETWEEN 48 AND 300", mostly=0.5))
def _q7(spark, sf):
    r = _one(_tbl(spark, sf, "documents"), "expect_column_value_lengths_to_be_between",
             column="text", min_value=48, max_value=300, mostly=0.5)
    return _map_result(spark, r)


@_q("map_json_parseable", _map_oracle("events", "props IS NOT NULL", "json_valid(props)"))
def _q8(spark, sf):
    r = _one(_tbl(spark, sf, "events"), "expect_column_values_to_be_json_parseable",
             column="props")
    return _map_result(spark, r)


@_q("map_strftime",
    _map_oracle("events", "ds IS NOT NULL", r"regexp_matches(ds, '^\d{4}-\d{2}-\d{2}$')",
                derive="strftime(ts, '%Y-%m-%d') AS ds"))
def _q9(spark, sf):
    df = _tbl(spark, sf, "events").withColumn("ds", F.date_format("ts", "yyyy-MM-dd"))
    r = _one(df, "expect_column_values_to_match_strftime_format",
             column="ds", strftime_format="%Y-%m-%d")
    return _map_result(spark, r)


@_q("webtext_extract_roundtrip", r"""
WITH pages AS (
  SELECT doc_id,
         '<html><head><title>T' || doc_id || '</title><style>p{color:red}</style></head>'
         || '<body><p>A &amp; B &lt;ok&gt;</p><p>' || text
         || '</p><script>var x=1;</script></body></html>' AS html,
         text
  FROM documents WHERE doc_id < 200 AND text IS NOT NULL
),
ex AS (
  SELECT doc_id, text,
         trim(regexp_replace(
           replace(replace(replace(replace(replace(replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(html, '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g'),
                 '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g'),
               '(?s)<[^>]*>', ' ', 'g'),
             '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
             '&nbsp;', ' '), '&amp;', '&'),
           '\s+', ' ', 'g')) AS extracted
  FROM pages
)
SELECT doc_id, length(extracted) AS n_chars,
       extracted = ('T' || doc_id || ' A & B <ok> ' || text) AS ok
FROM ex
""")
def _q9c(spark, sf):
    """North-rule per-row invariant: the deterministic HTML→text extraction
    (pipeline/webtext.py, Arrow-batched pandas UDF) produces byte-identical
    output on any engine — the oracle recomputes the SAME extraction
    (script/style drop, tag strip, ENTITY DECODE, whitespace collapse) in
    DuckDB SQL and both must agree on every byte (ok flags + lengths).
    The planted '&amp; &lt; &gt;' segment exercises the decode on every
    row — fixture text alone contains no entities."""
    from great_expectations_spark.pipeline.webtext import extract_text

    docs = _tbl(spark, sf, "documents").where(
        (F.col("doc_id") < 200) & F.col("text").isNotNull())
    html = F.encode(
        F.concat(
            F.lit("<html><head><title>T"), F.col("doc_id").cast("string"),
            F.lit("</title><style>p{color:red}</style></head><body>"),
            F.lit("<p>A &amp; B &lt;ok&gt;</p><p>"),
            F.col("text"),
            F.lit("</p><script>var x=1;</script></body></html>"),
        ),
        "utf-8",
    )
    ex = extract_text(html)
    return docs.select(
        "doc_id",
        F.length(ex).alias("n_chars"),
        (ex == F.concat(F.lit("T"), F.col("doc_id").cast("string"),
                        F.lit(" A & B <ok> "), F.col("text"))).alias("ok"),
    )


@_q("webtext_domain_stats", """
SELECT source || '.example' AS domain,
       count(*) AS pages,
       count(DISTINCT doc_id) AS distinct_urls
FROM documents WHERE source IS NOT NULL GROUP BY source
""")
def _q9d(spark, sf):
    """Salted per-domain stats (pipeline/webtext.py domain_stats): the
    two-stage salted count must equal a plain GROUP BY exactly."""
    from great_expectations_spark.pipeline.webtext import domain_stats

    docs = _tbl(spark, sf, "documents").where(F.col("source").isNotNull())
    urls = docs.select(
        F.concat(F.lit("https://"), F.col("source"), F.lit(".example/p/"),
                 F.col("doc_id").cast("string")).alias("url"))
    return domain_stats(urls).select(
        "domain", "pages", F.col("distinct_urls").cast("long").alias("distinct_urls"))


_MESSY_URL_SQL = """'HtTpS://WWW.' || source || '.Example:443/p/' || doc_id ||
CASE doc_id % 4
  WHEN 0 THEN '?utm_source=feed&b=2&a=1#top'
  WHEN 1 THEN '#sec'
  WHEN 2 THEN '?z=9&fbclid=abc&y=8'
  ELSE '' END"""

_CANON_SQL_TAIL = r"""
parts AS (
  SELECT doc_id, url,
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?', 1)) AS scheme,
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?', 2)) AS auth0,
    regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?', 3) AS path0,
    regexp_replace(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?', 4), '^\?', '') AS rawq
  FROM u),
canon AS (
  SELECT doc_id, url, scheme,
    CASE WHEN scheme = 'http' THEN regexp_replace(auth0, ':80$', '')
         WHEN scheme = 'https' THEN regexp_replace(auth0, ':443$', '')
         ELSE auth0 END AS auth,
    CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
    list_sort(list_filter(string_split(rawq, '&'),
      p -> p != '' AND NOT regexp_matches(p,
        '^(utm_[^=&]*|fbclid|gclid|msclkid|yclid|igshid|spm|ref|mc_cid|mc_eid)(=.*)?$')))
      AS params
  FROM parts),
canonized AS (
  SELECT doc_id,
    CASE WHEN scheme = '' THEN url
         ELSE scheme || '://' || auth || path ||
              CASE WHEN len(params) > 0 THEN '?' || array_to_string(params, '&')
                   ELSE '' END
    END AS canonical_url
  FROM canon)
"""


def _messy_urls(spark, sf):
    docs = _tbl(spark, sf, "documents").where(F.col("source").isNotNull())
    suffix = (
        F.when(F.col("doc_id") % 4 == 0, F.lit("?utm_source=feed&b=2&a=1#top"))
        .when(F.col("doc_id") % 4 == 1, F.lit("#sec"))
        .when(F.col("doc_id") % 4 == 2, F.lit("?z=9&fbclid=abc&y=8"))
        .otherwise(F.lit(""))
    )
    return docs.withColumn(
        "url",
        F.concat(F.lit("HtTpS://WWW."), F.col("source"), F.lit(".Example:443/p/"),
                 F.col("doc_id").cast("string"), suffix),
    )


@_q("webtext_canonical_url", f"""
WITH u AS (SELECT doc_id, {_MESSY_URL_SQL} AS url
           FROM documents WHERE source IS NOT NULL),
{_CANON_SQL_TAIL}
SELECT doc_id, canonical_url FROM canonized
""")
def _q9e(spark, sf):
    """URL canonicalization parity on planted messy URLs (mixed case, :443,
    fragments, tracking params, unsorted query): pipeline/webtext.py
    canonical_url (pure Column regexp + array ops) vs a full DuckDB replica
    — byte equality per doc."""
    from great_expectations_spark.pipeline.webtext import canonical_url

    return _messy_urls(spark, sf).select(
        "doc_id", canonical_url(F.col("url")).alias("canonical_url"))


@_q("webtext_revisits_latest", f"""
WITH snaps AS (
  SELECT doc_id, 'https://' || source || '.example/p/' || doc_id AS raw_url,
         0 AS rev FROM documents WHERE source IS NOT NULL
  UNION ALL
  SELECT doc_id, 'https://' || source || '.example/p/' || doc_id || '?utm_source=x',
         1 FROM documents WHERE source IS NOT NULL AND doc_id % 2 = 0
  UNION ALL
  SELECT doc_id, 'HTTPS://' || source || '.example/p/' || doc_id || '#frag',
         2 FROM documents WHERE source IS NOT NULL AND doc_id % 3 = 0
),
u AS (SELECT doc_id, raw_url AS url, rev FROM snaps),
{_CANON_SQL_TAIL.replace("SELECT doc_id,", "SELECT doc_id, rev,")}
SELECT canonical_url, doc_id, CAST(rev AS BIGINT) AS rev
FROM (SELECT *, row_number() OVER (PARTITION BY canonical_url
                                   ORDER BY rev DESC, doc_id) AS rk
      FROM canonized)
WHERE rk = 1
""")
def _q9f(spark, sf):
    """Crawl revisit resolution: three planted snapshot generations of the
    same page (tracking-param and case/fragment variants of the url) must
    collapse to ONE row per canonical url with the newest snapshot winning —
    resolve_revisits' monoid max_by vs the oracle's window."""
    from great_expectations_spark.pipeline.webtext import resolve_revisits

    docs = _tbl(spark, sf, "documents").where(F.col("source").isNotNull())
    base = F.concat(F.lit("https://"), F.col("source"), F.lit(".example/p/"),
                    F.col("doc_id").cast("string"))
    s0 = docs.select("doc_id", base.alias("url"), F.lit(0).alias("rev"))
    s1 = docs.where(F.col("doc_id") % 2 == 0).select(
        "doc_id", F.concat(base, F.lit("?utm_source=x")).alias("url"),
        F.lit(1).alias("rev"))
    s2 = docs.where(F.col("doc_id") % 3 == 0).select(
        "doc_id", F.concat(F.lit("HTTPS://"), F.col("source"),
                           F.lit(".example/p/"), F.col("doc_id").cast("string"),
                           F.lit("#frag")).alias("url"),
        F.lit(2).alias("rev"))
    snaps = s0.unionByName(s1).unionByName(s2)
    return resolve_revisits(snaps, "url", "rev", tiebreak=["doc_id"]).select(
        "canonical_url", "doc_id", F.col("rev").cast("long").alias("rev"))


@_q("webtext_blocklist", """
WITH u AS (SELECT doc_id,
  'https://' || (CASE WHEN doc_id % 3 = 0 THEN 'ads.' ELSE '' END)
             || source || '.example/p/' || CAST(doc_id AS VARCHAR) AS url
  FROM documents WHERE source IS NOT NULL),
bl AS (SELECT * FROM (VALUES ('src1.example'), ('ads.src2.example')) t(domain)),
hosts AS (SELECT doc_id,
                 lower(regexp_extract(url, '^[a-z]+://([^/:?#]+)', 1)) AS host
          FROM u),
sfx AS (SELECT doc_id,
               unnest(list_transform(
                   range(1, len(string_split(host, '.')) + 1),
                   i -> array_to_string(string_split(host, '.')[i:], '.')))
               AS s
        FROM hosts)
SELECT DISTINCT sfx.doc_id AS id FROM sfx JOIN bl ON sfx.s = bl.domain
""")
def _q9h(spark, sf):
    """UT1-style domain blocklist (pipeline/webtext.py blocklist_losers):
    host suffix explode + semi join against the blocked-domain table —
    an entry blocks itself and every subdomain. Ids matched on planted
    ads.-subdomain URLs, exact parity vs the DuckDB suffix replica."""
    from great_expectations_spark.pipeline.webtext import blocklist_losers

    docs = _tbl(spark, sf, "documents").where(F.col("source").isNotNull())
    urls = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("ads.")).otherwise(F.lit("")),
            F.col("source"), F.lit(".example/p/"),
            F.col("doc_id").cast("string")).alias("url"))
    bl = spark.createDataFrame(
        [("src1.example",), ("ads.src2.example",)], "domain string")
    return blocklist_losers(urls, bl, "doc_id", "url")


@_q("webtext_domain_cap", """
SELECT doc_id FROM (
  SELECT doc_id, row_number() OVER (
    PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk
  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL
) WHERE rk <= 7
""")
def _q9g(spark, sf):
    """Per-domain quota (anti-spam cap): keep the 7 largest pages per
    registered domain under a deterministic total order. The two-phase
    salted top-k must equal the oracle's plain per-domain window exactly."""
    from great_expectations_spark.pipeline.webtext import domain_cap

    docs = _tbl(spark, sf, "documents").where(
        F.col("source").isNotNull() & F.col("n_chars").isNotNull())
    urls = docs.select(
        "doc_id", "n_chars",
        F.concat(F.lit("https://"), F.col("source"), F.lit(".example/p/"),
                 F.col("doc_id").cast("string")).alias("url"))
    return domain_cap(
        urls, "url", k=7,
        order_by=[F.col("n_chars").desc(), F.col("doc_id").asc()],
    ).select("doc_id")


@_q("fused_violation_counts", """
SELECT 'lang_in_set' AS expectation, lang AS value, count(*) AS cnt
FROM documents WHERE lang IS NOT NULL AND lang NOT IN ('en') GROUP BY lang
UNION ALL
SELECT 'source_not_regex' AS expectation, source AS value, count(*) AS cnt
FROM documents WHERE source IS NOT NULL AND regexp_matches(source, '^src1')
GROUP BY source
""")
def _q9b(spark, sf):
    """Pass 2: BOTH violated expectations' SUMMARY value counts come from
    the ONE violation query (validator.py ``_collect_violations``): its
    groupBy((eid, typed value)) branch with a (count desc, value) window
    cut. Violated value cardinality (4 + 11) < partial cap, so the
    reported counts are the complete per-value violation histogram."""
    suite = (
        ExpectationSuite(name="fused")
        .add("expect_column_values_to_be_in_set",
             column="lang", value_set=["en"], mostly=0.99)
        .add("expect_column_values_to_not_match_regex",
             column="source", regex="^src1", mostly=0.01)
    )
    res = validate(
        _tbl(spark, sf, "documents"), suite,
        result_format={"result_format": "SUMMARY", "partial_unexpected_count": 30},
    )
    names = ["lang_in_set", "source_not_regex"]
    rows = []
    for name, evr in zip(names, res.results):
        for d in evr.result["partial_unexpected_counts"]:
            rows.append((name, d["value"], d["count"]))
    return spark.createDataFrame(rows, "expectation string, value string, cnt long")


@_q("fused_ntz_violations", """
WITH v AS (SELECT ts FROM events WHERE ts > TIMESTAMP '2024-01-30 20:00:00')
SELECT CASE WHEN strftime(ts, '%f') = '000000'
            THEN strftime(ts, '%Y-%m-%dT%H:%M:%S')
            ELSE strftime(ts, '%Y-%m-%dT%H:%M:%S.%f') END AS value
FROM v
UNION ALL
SELECT '__count__=' || CAST(count(*) AS VARCHAR) FROM v
""")
def _q9c(spark, sf):
    """timestamp_ntz through the ONE violation query (validator.py
    ``_collect_violations``), which carries each value in a typed struct
    field, no text encoding: events.ts cast to ntz, a between expectation
    violated by the final hours of the crawl, its COMPLETE list — every
    wall-clock value byte-compared against DuckDB's naive-timestamp
    rendering at full microsecond precision."""
    df = _tbl(spark, sf, "events").withColumn(
        "ts", F.col("ts").cast("timestamp_ntz"))
    suite = (
        ExpectationSuite(name="ntz")
        .add("expect_column_values_to_be_between",
             column="ts", max_value="2024-01-30T20:00:00", mostly=0.01)
        .add("expect_column_values_to_be_between",
             column="value", max_value=-1.0, mostly=0.001)
    )
    res = validate(df, suite, result_format="COMPLETE")
    vals = res.results[0].result["unexpected_list"]
    rows = [(v,) for v in vals] + [(f"__count__={len(vals)}",)]
    return spark.createDataFrame(rows, "value string")


@_q("profile_details_documents", """
WITH stats AS (
  SELECT CAST(min(n_chars) AS DOUBLE) AS lo, CAST(max(n_chars) AS DOUBLE) AS hi
  FROM documents
),
bins AS (
  SELECT CAST(t.range AS INT) AS i,
         lo + (hi - lo) * t.range / 4 AS e0,
         lo + (hi - lo) * (t.range + 1) / 4 AS e1
  FROM stats, range(4) t
)
SELECT 'n_chars_bin' AS kind, CAST(i AS VARCHAR) AS label,
       (SELECT CAST(count(*) AS BIGINT) FROM documents d
        WHERE d.n_chars >= e0
          AND (CASE WHEN i = 3 THEN d.n_chars <= e1
                    ELSE d.n_chars < e1 END)) AS cnt
FROM bins
UNION ALL
SELECT 'lang_top', v, n FROM (
  SELECT lang AS v, CAST(count(*) AS BIGINT) AS n
  FROM documents WHERE lang IS NOT NULL
  GROUP BY lang ORDER BY n DESC, v ASC LIMIT 3)
""")
def _q9d(spark, sf):
    """profile_details drill-down (round 5; reference
    column_section_renderer.py:33 common-value bars + histograms): the
    bounded top-k value counts for lang (ties broken count-desc then
    value-asc, exactly the union-branch ordering) and the 4-bin
    equal-width n_chars histogram (same float edge arithmetic both
    sides) replayed in DuckDB."""
    from great_expectations_spark.profiler import profile, profile_details

    docs = _tbl(spark, sf, "documents")
    prof = profile(docs).collect()
    d = profile_details(docs, profile_rows=prof, top_k=3, bins=4)
    rows = []
    for i, n in enumerate(d["n_chars"]["histogram"]["counts"]):
        rows.append(("n_chars_bin", str(i), n))
    for v, n in d["lang"]["top_values"]:
        rows.append(("lang_top", v, n))
    return spark.createDataFrame(rows, "kind string, label string, cnt long")


# ---- uniqueness -------------------------------------------------------------

_UNIQ_ORACLE = """
WITH dup AS (
  SELECT coalesce(sum(n), 0) AS dup_rows
  FROM (SELECT count(*) AS n FROM {table} WHERE {col} IS NOT NULL
        GROUP BY {col} HAVING count(*) > 1)
), base AS (
  SELECT count(*) AS ec,
         coalesce(sum(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END), 0) AS mc
  FROM {table}
)
SELECT CAST(ec AS BIGINT) AS element_count, CAST(mc AS BIGINT) AS missing_count,
       CAST(dup_rows AS BIGINT) AS unexpected_count,
       CASE WHEN ec - mc <= 0 THEN TRUE
            ELSE (CAST(ec - mc - dup_rows AS DOUBLE) / (ec - mc)) >= 1.0 END AS success
FROM base, dup
"""


@_q("unique_doc_id", _UNIQ_ORACLE.format(table="documents", col="doc_id"))
def _q10(spark, sf):
    r = _one(_tbl(spark, sf, "documents"), "expect_column_values_to_be_unique", column="doc_id")
    return _map_result(spark, r)


@_q("compound_unique_lineitem", """
WITH dup AS (
  SELECT coalesce(sum(n), 0) AS dup_rows
  FROM (SELECT count(*) AS n FROM lineitem GROUP BY l_orderkey, l_linenumber
        HAVING count(*) > 1)
), base AS (SELECT count(*) AS ec FROM lineitem)
SELECT CAST(ec AS BIGINT) AS element_count, CAST(0 AS BIGINT) AS missing_count,
       CAST(dup_rows AS BIGINT) AS unexpected_count,
       (dup_rows = 0) AS success
FROM base, dup
""")
def _q11(spark, sf):
    r = _one(_tbl(spark, sf, "lineitem"), "expect_compound_columns_to_be_unique",
             column_list=["l_orderkey", "l_linenumber"])
    return _map_result(spark, r)


# ---- pairs / multicolumn ----------------------------------------------------


@_q("pair_greater_tax_discount",
    _map_oracle("lineitem", "l_tax IS NOT NULL AND l_discount IS NOT NULL",
                "l_tax > l_discount", mostly=0.2))
def _q12(spark, sf):
    r = _one(_tbl(spark, sf, "lineitem"), "expect_column_pair_values_a_to_be_greater_than_b",
             column_A="l_tax", column_B="l_discount",
             ignore_row_if="either_value_is_missing", mostly=0.2)
    return _map_result(spark, r)


@_q("multicolumn_sum_taxes",
    _map_oracle("lineitem", "TRUE",
                "coalesce(l_tax, 0) + coalesce(l_discount, 0) = 0.1", mostly=0.01))
def _q13(spark, sf):
    r = _one(_tbl(spark, sf, "lineitem"), "expect_multicolumn_sum_to_equal",
             column_list=["l_tax", "l_discount"], sum_total=0.1,
             ignore_row_if="never", mostly=0.01)
    return _map_result(spark, r)


@_q("unique_within_record",
    _map_oracle("lineitem", "TRUE",
                "l_orderkey <> l_partkey AND l_orderkey <> l_suppkey AND l_partkey <> l_suppkey",
                mostly=0.5))
def _q14(spark, sf):
    r = _one(_tbl(spark, sf, "lineitem"), "expect_select_column_values_to_be_unique_within_record",
             column_list=["l_orderkey", "l_partkey", "l_suppkey"],
             ignore_row_if="never", mostly=0.5)
    return _map_result(spark, r)


# ---- aggregates -------------------------------------------------------------


@_q("agg_row_count", """
SELECT CAST(count(*) AS BIGINT) AS observed,
       (count(*) BETWEEN 1 AND 100000000) AS success FROM lineitem
""")
def _q15(spark, sf):
    r = _one(_tbl(spark, sf, "lineitem"), "expect_table_row_count_to_be_between",
             min_value=1, max_value=100_000_000)
    return spark.createDataFrame([(int(r.result["observed_value"]), bool(r.success))],
                                 "observed long, success boolean")


@_q("agg_mean_quantity", """
SELECT round(avg(l_quantity), 6) AS observed,
       (avg(l_quantity) >= 1 AND avg(l_quantity) <= 100) AS success FROM lineitem
""")
def _q16(spark, sf):
    r = _one(_tbl(spark, sf, "lineitem"), "expect_column_mean_to_be_between",
             column="l_quantity", min_value=1, max_value=100)
    return _obs_result(spark, r, round_to=6)


@_q("agg_sum_price", """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2))) AS DOUBLE) AS observed,
       TRUE AS success FROM lineitem
""")
def _q17(spark, sf):
    # exact decimal sum (no float accumulation), checked against a huge range
    df = _tbl(spark, sf, "lineitem").withColumn(
        "p_dec", F.col("l_extendedprice").cast("decimal(15,2)")
    )
    r = _one(df, "expect_column_sum_to_be_between", column="p_dec", min_value=0)
    return spark.createDataFrame([(float(r.result["observed_value"]), bool(r.success))],
                                 "observed double, success boolean")


@_q("agg_min_max_price", """
SELECT min(o_totalprice) AS observed_min, max(o_totalprice) AS observed_max,
       TRUE AS success FROM orders
""")
def _q18(spark, sf):
    df = _tbl(spark, sf, "orders")
    r1 = _one(df, "expect_column_min_to_be_between", column="o_totalprice", min_value=0)
    r2 = _one(df, "expect_column_max_to_be_between", column="o_totalprice", min_value=0)
    return spark.createDataFrame(
        [(float(r1.result["observed_value"]), float(r2.result["observed_value"]),
          bool(r1.success and r2.success))],
        "observed_min double, observed_max double, success boolean")


@_q("agg_stddev_discount", """
SELECT round(stddev_samp(l_discount), 6) AS observed,
       (stddev_samp(l_discount) > 0) AS success FROM lineitem
""")
def _q19(spark, sf):
    r = _one(_tbl(spark, sf, "lineitem"), "expect_column_stdev_to_be_between",
             column="l_discount", min_value=1e-12)
    return _obs_result(spark, r, round_to=6)


@_q("agg_distinct_count_returnflag", """
SELECT CAST(count(DISTINCT l_returnflag) AS BIGINT) AS observed,
       (count(DISTINCT l_returnflag) BETWEEN 1 AND 10) AS success FROM lineitem
""")
def _q20(spark, sf):
    r = _one(_tbl(spark, sf, "lineitem"), "expect_column_unique_value_count_to_be_between",
             column="l_returnflag", min_value=1, max_value=10)
    return spark.createDataFrame([(int(r.result["observed_value"]), bool(r.success))],
                                 "observed long, success boolean")


@_q("agg_unique_proportion", """
SELECT round(CAST(count(DISTINCT event_type) AS DOUBLE) / count(event_type), 6) AS observed,
       TRUE AS success FROM events
""")
def _q21(spark, sf):
    r = _one(_tbl(spark, sf, "events"),
             "expect_column_proportion_of_unique_values_to_be_between",
             column="event_type", min_value=0, max_value=1)
    return _obs_result(spark, r, round_to=6)


@_q("agg_quantiles_quantity_success", """
SELECT TRUE AS success FROM lineitem LIMIT 1
""")
def _q22(spark, sf):
    # approx quantiles vs exact oracle can differ at element granularity; the
    # contract checked here is the success verdict under generous ranges
    r = _one(_tbl(spark, sf, "lineitem"), "expect_column_quantile_values_to_be_between",
             column="l_quantity",
             quantile_ranges={"quantiles": [0.25, 0.5, 0.75],
                              "value_ranges": [[0, 60], [0, 60], [0, 60]]})
    return spark.createDataFrame([(bool(r.success),)], "success boolean")


# ---- z-score (two-wave) -----------------------------------------------------


@_q("zscore_events_value", """
WITH m AS (SELECT avg(value) AS mu, stddev_samp(value) AS sd FROM events)
SELECT CAST(count(*) AS BIGINT) AS element_count,
       CAST(coalesce(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS missing_count,
       CAST(coalesce(sum(CASE WHEN value IS NOT NULL
                     AND NOT (abs((value - m.mu) / m.sd) < 2.0) THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS unexpected_count
FROM events, m
""")
def _q23(spark, sf):
    r = _one(_tbl(spark, sf, "events"), "expect_column_value_z_scores_to_be_less_than",
             column="value", threshold=2.0, double_sided=True)
    return spark.createDataFrame(
        [(int(r.result["element_count"]), int(r.result["missing_count"]),
          int(r.result["unexpected_count"]))],
        "element_count long, missing_count long, unexpected_count long")


# ---- referential / cross-table ---------------------------------------------


@_q("referential_orders_customer", """
WITH missing_refs AS (
  SELECT count(*) AS uc FROM orders o
  WHERE o.o_custkey IS NOT NULL
    AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
), base AS (
  SELECT count(*) AS ec,
         coalesce(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END), 0) AS mc
  FROM orders)
SELECT CAST(ec AS BIGINT) AS element_count, CAST(mc AS BIGINT) AS missing_count,
       CAST(uc AS BIGINT) AS unexpected_count, (uc = 0) AS success
FROM base, missing_refs
""")
def _q24(spark, sf):
    orders = _tbl(spark, sf, "orders")
    customer = _tbl(spark, sf, "customer")
    r = _one(orders, "expect_column_values_to_be_in_other_table",
             tables={"customer": customer},
             column="o_custkey", other_table_name="customer", other_column="c_custkey")
    return _map_result(spark, r)


@_q("rowcount_vs_other_table", """
SELECT CAST((SELECT count(*) FROM orders) AS BIGINT) AS self_count,
       CAST((SELECT count(*) FROM customer) AS BIGINT) AS other_count,
       ((SELECT count(*) FROM orders) = (SELECT count(*) FROM customer)) AS success
""")
def _q25(spark, sf):
    orders = _tbl(spark, sf, "orders")
    customer = _tbl(spark, sf, "customer")
    r = _one(orders, "expect_table_row_count_to_equal_other_table",
             tables={"customer": customer}, other_table_name="customer")
    obs = r.result["observed_value"]
    return spark.createDataFrame(
        [(int(obs["self"]), int(obs["other"]), bool(r.success))],
        "self_count long, other_count long, success boolean")


# ---- distinct values / modes as row sets -------------------------------------


@_q("distinct_values_lang", "SELECT DISTINCT lang AS value FROM documents")
def _q26(spark, sf):
    r = _one(_tbl(spark, sf, "documents"), "expect_column_distinct_values_to_be_in_set",
             column="lang", value_set=_DOC_LANGS + ["pt", "ru"])
    vals = [(str(v),) for v in r.result["observed_value"]]
    return spark.createDataFrame(vals, "value string")


@_q("most_common_lang", """
SELECT lang AS value FROM documents WHERE lang IS NOT NULL
GROUP BY lang
HAVING count(*) = (SELECT max(n) FROM (SELECT count(*) AS n FROM documents
                                       WHERE lang IS NOT NULL GROUP BY lang))
""")
def _q27(spark, sf):
    r = _one(_tbl(spark, sf, "documents"), "expect_column_most_common_value_to_be_in_set",
             column="lang", value_set=_DOC_LANGS)
    return spark.createDataFrame([(str(v),) for v in r.result["observed_value"]], "value string")


# ---- distribution drift -------------------------------------------------------

_KL_WEIGHTS = {"en": 0.4, "zh": 0.15, "es": 0.15, "de": 0.15, "fr": 0.15}


@_q("kl_divergence_lang", f"""
WITH w(lang, q) AS (VALUES {", ".join(f"('{k}', {v})" for k, v in _KL_WEIGHTS.items())}),
obs AS (SELECT lang, count(*) AS n FROM documents WHERE lang IS NOT NULL GROUP BY lang),
tot AS (SELECT sum(n) AS t FROM obs)
SELECT round(sum((obs.n / tot.t) * ln((obs.n / tot.t) / w.q)), 4) AS observed
FROM obs JOIN w USING (lang), tot
""")
def _q28(spark, sf):
    r = _one(_tbl(spark, sf, "documents"), "expect_column_kl_divergence_to_be_less_than",
             column="lang",
             partition_object={"values": list(_KL_WEIGHTS), "weights": list(_KL_WEIGHTS.values())},
             threshold=10.0)
    return _obs_result(spark, r, round_to=4).select("observed")


# ---- ordering ----------------------------------------------------------------


@_q("increasing_value_by_event_id", """
WITH lagged AS (
  SELECT value, lag(value) OVER (ORDER BY event_id) AS prev
  FROM events WHERE value IS NOT NULL
)
SELECT CAST(coalesce(sum(CASE WHEN prev IS NOT NULL AND value < prev THEN 1 ELSE 0 END), 0)
       AS BIGINT) AS unexpected_count
FROM lagged
""")
def _q29(spark, sf):
    r = _one(_tbl(spark, sf, "events"), "expect_column_values_to_be_increasing",
             column="value", order_by="event_id")
    return spark.createDataFrame([(int(r.result["unexpected_count"]),)],
                                 "unexpected_count long")


# ---- schema expectations -------------------------------------------------------


@_q("schema_of_type", "SELECT TRUE AS success, 'bigint' AS observed")
def _q30(spark, sf):
    r = _one(_tbl(spark, sf, "orders"), "expect_column_values_to_be_of_type",
             column="o_orderkey", type_="bigint")
    return spark.createDataFrame([(bool(r.success), str(r.result["observed_value"]))],
                                 "success boolean, observed string")


# --------------------------------------------------------------------------
# training-data pipeline operators (dedup / similarity / text / multimodal)
# --------------------------------------------------------------------------

_FILLER_SQL = "('table','row','value','scan','hash','key','part')"


@_q("pipeline_exact_dedup", """
WITH d AS (SELECT * FROM documents UNION ALL SELECT * FROM documents WHERE doc_id % 10 = 0),
g AS (SELECT md5(text) AS h, count(*) AS n FROM d WHERE text IS NOT NULL GROUP BY 1),
s AS (SELECT count(*) AS nd, sum(n - 1) AS dup_rows,
             sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS dup_groups FROM g),
b AS (SELECT count(*) AS total,
             coalesce(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END), 0) AS n_null FROM d)
SELECT CAST(total AS BIGINT) AS n_rows, CAST(n_null AS BIGINT) AS n_null,
       CAST(nd AS BIGINT) AS n_distinct, CAST(dup_rows AS BIGINT) AS dup_rows,
       CAST(dup_groups AS BIGINT) AS dup_groups
FROM b, s
""")
def _p1(spark, sf):
    from great_expectations_spark.pipeline.dedup import exact_dedup_stats

    docs = _tbl(spark, sf, "documents")
    planted = docs.union(docs.where(F.col("doc_id") % 10 == 0))
    return exact_dedup_stats(planted, "text")


@_q("pipeline_paragraph_dedup", """
WITH p AS (
  SELECT doc_id, unnest(lst) AS para, generate_subscripts(lst, 1) - 1 AS idx
  FROM (SELECT doc_id, string_split(text, ' ') AS lst
        FROM documents WHERE text IS NOT NULL)
), k AS (
  SELECT doc_id, idx, para,
         (length(para) < 4) OR
         (row_number() OVER (PARTITION BY para ORDER BY doc_id, idx) = 1) AS keep
  FROM p
)
SELECT doc_id,
       coalesce(string_agg(para, ' ' ORDER BY idx) FILTER (WHERE keep), '') AS text
FROM k GROUP BY doc_id
UNION ALL
SELECT doc_id, text FROM documents WHERE text IS NULL
""")
def _p1b(spark, sf):
    # corpus-wide paragraph (here: word-segment) dedup — keep-first by
    # (doc_id, position), short segments exempt, docs reassembled in order
    from great_expectations_spark.pipeline.paragraph import paragraph_dedup

    docs = _tbl(spark, sf, "documents").select("doc_id", "text")
    return paragraph_dedup(docs, sep=" ", min_chars=4)


@_q("pipeline_paragraph_dedup_within", """
WITH p AS (
  SELECT doc_id, unnest(lst) AS para, generate_subscripts(lst, 1) - 1 AS idx
  FROM (SELECT doc_id, string_split(text, ' ') AS lst
        FROM documents WHERE text IS NOT NULL)
), k AS (
  SELECT doc_id, idx, para,
         (length(para) < 4) OR
         (row_number() OVER (PARTITION BY doc_id, para ORDER BY idx) = 1) AS keep
  FROM p
)
SELECT doc_id,
       coalesce(string_agg(para, ' ' ORDER BY idx) FILTER (WHERE keep), '') AS text
FROM k GROUP BY doc_id
UNION ALL
SELECT doc_id, text FROM documents WHERE text IS NULL
""")
def _p1d(spark, sf):
    # intra-document repetition removal — cross-doc duplicates untouched
    from great_expectations_spark.pipeline.paragraph import paragraph_dedup_within_doc

    docs = _tbl(spark, sf, "documents").select("doc_id", "text")
    return paragraph_dedup_within_doc(docs, sep=" ", min_chars=4)


@_q("pipeline_paragraph_stats", """
WITH p AS (
  SELECT doc_id, unnest(lst) AS para
  FROM (SELECT doc_id, string_split(text, ' ') AS lst
        FROM documents WHERE text IS NOT NULL)
), t AS (
  SELECT count(DISTINCT doc_id) AS n_docs, count(*) AS n_paragraphs,
         coalesce(sum(CASE WHEN length(para) < 4 THEN 1 ELSE 0 END), 0)
           AS n_exempt_short
  FROM p
), g AS (
  SELECT para, count(*) AS n FROM p WHERE length(para) >= 4 GROUP BY 1
), s AS (
  SELECT coalesce(count(*), 0) AS n_distinct,
         coalesce(sum(n - 1), 0) AS dup_paragraphs
  FROM g
)
SELECT CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_paragraphs AS BIGINT) AS n_paragraphs,
       CAST(n_exempt_short AS BIGINT) AS n_exempt_short,
       CAST(n_distinct AS BIGINT) AS n_distinct,
       CAST(dup_paragraphs AS BIGINT) AS dup_paragraphs
FROM t, s
""")
def _p1c(spark, sf):
    from great_expectations_spark.pipeline.paragraph import paragraph_dedup_stats

    docs = _tbl(spark, sf, "documents").select("doc_id", "text")
    return paragraph_dedup_stats(docs, sep=" ", min_chars=4)


def _hashed_shingle_sql(n: int = 3) -> str:
    """DuckDB replica of dedup.hashed_shingles over column ``th``."""
    from great_expectations_spark.pipeline.dedup import MINHASH_P, SHINGLE_C

    s = "th[i]"
    for j in range(1, n):
        s = f"(({s}) * {SHINGLE_C} + th[i+{j}]) % {MINHASH_P}"
    return f"list_distinct(list_transform(range(1, len(th) - {n} + 2), i -> {s}))"


_TOKEN_HASH_SQL = (
    "list_transform(string_split(text, ' '), "
    "x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % 2147483647)"
)


def _bands_subquery(src_sql: str = "documents",
                    k: int = 12, bands: int = 4, n: int = 3) -> str:
    """DuckDB replica of dedup._band_buckets as a derived-table subquery
    ``(doc_id, band, bucket)`` over any source providing (doc_id, text)."""
    from great_expectations_spark.pipeline.dedup import MINHASH_P, minhash_params

    r = k // bands
    params = minhash_params(k)
    sig_cols = ", ".join(
        f"list_min(list_transform(hs, x -> (x * {a} + {b}) % {MINHASH_P})) AS m{i}"
        for i, (a, b) in enumerate(params)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5(concat_ws('|', {ms})) AS bucket FROM sig".format(
            b=b, ms=", ".join(f"m{b * r + j}" for j in range(r))
        )
        for b in range(bands)
    )
    return f"""(
WITH toks AS (
  SELECT doc_id, {_TOKEN_HASH_SQL} AS th
  FROM {src_sql} WHERE text IS NOT NULL
),
hashed AS (
  SELECT doc_id, {_hashed_shingle_sql(n)} AS hs
  FROM toks WHERE len(th) >= {n}
),
sig AS (SELECT doc_id, {sig_cols} FROM hashed)
{band_selects}
)"""


def _minhash_oracle(k: int = 12, bands: int = 4, n: int = 3) -> str:
    bq = _bands_subquery("documents", k, bands, n)
    return f"""
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM {bq} a JOIN {bq} b ON a.band = b.band AND a.bucket = b.bucket
WHERE a.doc_id < b.doc_id
"""


@_q("pipeline_minhash_lsh", _minhash_oracle())
def _p2(spark, sf):
    from great_expectations_spark.pipeline.dedup import minhash_lsh_candidates

    return minhash_lsh_candidates(_tbl(spark, sf, "documents"), "doc_id", "text")


def _cc_oracle() -> str:
    """DuckDB replica of connected components over the LSH candidate pairs:
    min-label transitive closure via a recursive CTE (set-semantics UNION
    terminates it) — the exact label definition the alternating
    Large-Star/Small-Star contraction converges to."""
    return f"""
WITH RECURSIVE pairs AS ({_minhash_oracle()}),
sym AS (SELECT id_a AS u, id_b AS v FROM pairs UNION SELECT id_b, id_a FROM pairs),
nodes AS (SELECT DISTINCT u AS n FROM sym),
reach(n, lbl) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT e.v, r.lbl FROM reach r JOIN sym e ON e.u = r.n
)
SELECT n AS node, CAST(min(lbl) AS BIGINT) AS component FROM reach GROUP BY n
"""


@_q("pipeline_dedup_clusters", _cc_oracle())
def _p2b(spark, sf):
    """Near-dup clusters: alternating Large-Star/Small-Star connected
    components (Kiveris et al. 2014) over the MinHash-LSH candidate pairs —
    the transitive stage between pairwise candidates and keep-one-per-cluster
    dedup. Oracle: recursive-CTE min-label closure on the same pairs."""
    from great_expectations_spark.pipeline.cluster import connected_components
    from great_expectations_spark.pipeline.dedup import minhash_lsh_candidates

    pairs = minhash_lsh_candidates(_tbl(spark, sf, "documents"), "doc_id", "text")
    return connected_components(pairs, "id_a", "id_b")


def _canonical_oracle() -> str:
    return f"""
WITH RECURSIVE pairs AS ({_minhash_oracle()}),
exact AS (
  SELECT d.doc_id AS id_a, h.hub AS id_b
  FROM (SELECT doc_id, md5(text) AS eh FROM documents WHERE text IS NOT NULL) d
  JOIN (SELECT md5(text) AS eh, min(doc_id) AS hub FROM documents
        WHERE text IS NOT NULL GROUP BY 1 HAVING count(*) > 1) h USING (eh)
  WHERE d.doc_id != h.hub
),
alledges AS (SELECT id_a, id_b FROM pairs UNION SELECT id_a, id_b FROM exact),
sym AS (SELECT id_a AS u, id_b AS v FROM alledges UNION SELECT id_b, id_a FROM alledges),
nodes AS (SELECT DISTINCT u AS n FROM sym),
reach(n, lbl) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT e.v, r.lbl FROM reach r JOIN sym e ON e.u = r.n
),
comp AS (SELECT n, min(lbl) AS component FROM reach GROUP BY n)
SELECT d.doc_id AS id,
       CAST(coalesce(c.component, d.doc_id) AS BIGINT) AS cluster,
       (coalesce(c.component, d.doc_id) = d.doc_id) AS is_canonical
FROM documents d LEFT JOIN comp c ON c.n = d.doc_id
"""


@_q("pipeline_dedup_canonical", _canonical_oracle())
def _p2c(spark, sf):
    """End-to-end dedup clustering over the corpus: LSH candidates ∪
    exact-duplicate edges → components → per-doc (id, cluster,
    is_canonical); docs outside every edge are singleton canonicals."""
    from great_expectations_spark.pipeline.cluster import dedup_cluster_assignments

    return dedup_cluster_assignments(
        _tbl(spark, sf, "documents"), "doc_id", "text", include_exact=True)


_NEW_BATCH_SQL = """(SELECT doc_id, text FROM documents WHERE doc_id >= 250
 UNION ALL SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id < 100)"""


def _new_batch(spark, sf):
    docs = _tbl(spark, sf, "documents")
    return docs.where(F.col("doc_id") >= 250).select("doc_id", "text").unionByName(
        docs.where(F.col("doc_id") < 100).select(
            (F.col("doc_id") + 10000).alias("doc_id"), "text"))


@_q("pipeline_incremental_exact", f"""
WITH seen AS (SELECT DISTINCT md5(text) AS h FROM documents
              WHERE doc_id < 250 AND text IS NOT NULL),
newb AS (SELECT * FROM {_NEW_BATCH_SQL} t),
d AS (SELECT doc_id, md5(text) AS h FROM newb WHERE text IS NOT NULL),
firsts AS (SELECT h, min(doc_id) AS keep FROM d GROUP BY h)
SELECT d.doc_id FROM d
JOIN firsts ON d.h = firsts.h AND d.doc_id = firsts.keep
WHERE d.h NOT IN (SELECT h FROM seen)
UNION ALL SELECT doc_id FROM newb WHERE text IS NULL
""")
def _p2d(spark, sf):
    """Cross-batch exact dedup: a new ingest batch (docs ≥ 250 plus planted
    re-crawls of docs < 100 under new ids) anti-joined against the ALREADY-
    INGESTED corpus's persistable (id, digest) signature table — plus
    in-batch keep-first. Only digests shuffle; the history's text is never
    read."""
    from great_expectations_spark.pipeline.dedup import (
        exact_digest_table,
        incremental_exact_dedup,
    )

    docs = _tbl(spark, sf, "documents")
    sig = exact_digest_table(docs.where(F.col("doc_id") < 250), "doc_id", "text")
    return incremental_exact_dedup(_new_batch(spark, sf), sig,
                                   "doc_id", "text").select("doc_id")


@_q("pipeline_incremental_lsh", f"""
SELECT DISTINCT n.doc_id AS id_new, s.doc_id AS id_seen
FROM {_bands_subquery(_NEW_BATCH_SQL + " t")} n
JOIN {_bands_subquery("(SELECT doc_id, text FROM documents WHERE doc_id < 250) s0")} s
  ON n.band = s.band AND n.bucket = s.bucket
""")
def _p2e(spark, sf):
    """Cross-batch near-dup candidates: the new batch is shingled/banded,
    the history contributes only its stored (id, band, bucket) LSH table —
    (id_new, id_seen) pairs from the (band, bucket) equi-join."""
    from great_expectations_spark.pipeline.dedup import (
        incremental_lsh_candidates,
        lsh_bucket_table,
    )

    docs = _tbl(spark, sf, "documents")
    buckets = lsh_bucket_table(docs.where(F.col("doc_id") < 250), "doc_id", "text")
    return incremental_lsh_candidates(_new_batch(spark, sf), buckets,
                                      "doc_id", "text")


_COMPACT_NEW_BATCH_SQL = """(
 SELECT doc_id, text FROM documents WHERE doc_id >= 250
 UNION ALL SELECT doc_id + 20000 AS doc_id, text FROM documents WHERE doc_id < 50
 UNION ALL SELECT doc_id + 21000 AS doc_id, text FROM documents WHERE doc_id BETWEEN 100 AND 149
 UNION ALL SELECT doc_id + 22000 AS doc_id, text FROM documents WHERE doc_id BETWEEN 200 AND 249)"""


@_q("pipeline_state_compaction", f"""
WITH state AS (
  SELECT doc_id AS id, 1 AS batch_ts, md5(text) AS digest
  FROM documents WHERE doc_id < 250 AND text IS NOT NULL
  UNION ALL
  SELECT doc_id, 2, md5(text || ' [recrawl]')
  FROM documents WHERE doc_id < 100 AND text IS NOT NULL
),
mx AS (SELECT id, max(batch_ts) AS m FROM state GROUP BY id),
compacted AS (
  SELECT DISTINCT s.id, s.digest
  FROM state s JOIN mx ON s.id = mx.id AND s.batch_ts = mx.m
  WHERE s.id NOT BETWEEN 200 AND 249
),
newb AS (SELECT * FROM {_COMPACT_NEW_BATCH_SQL} t),
d AS (SELECT doc_id, md5(text) AS h FROM newb WHERE text IS NOT NULL),
firsts AS (SELECT h, min(doc_id) AS keep FROM d GROUP BY h)
SELECT d.doc_id FROM d
JOIN firsts ON d.h = firsts.h AND d.doc_id = firsts.keep
WHERE d.h NOT IN (SELECT digest FROM compacted)
UNION ALL SELECT doc_id FROM newb WHERE text IS NULL
""")
def _p2f(spark, sf):
    """Incremental-dedup state lifecycle: the digest state table after TWO
    ingests (batch 1 = docs < 250; batch 2 = a re-crawl of docs < 100 with
    CHANGED content) plus tombstones for docs 200-249 is COMPACTED
    (supersede by latest batch_ts, distinct, tombstone anti-join), then a
    new batch deduplicates against the compacted state:

    * planted copies of the ORIGINAL docs<50 content (ids 20000+) survive —
      their batch-1 digests were superseded by the re-crawl (stale rows a
      forever-growing state would have kept, falsely rejecting them);
    * planted copies of docs 100-149 (ids 21000+) are rejected — that
      content is still current in the corpus;
    * planted copies of tombstoned docs 200-249 (ids 22000+) survive —
      deletion removed their state rows, so the content may re-enter."""
    from great_expectations_spark.pipeline.dedup import (
        compact_state_table,
        exact_digest_table,
        incremental_exact_dedup,
    )

    docs = _tbl(spark, sf, "documents")
    b1 = exact_digest_table(
        docs.where(F.col("doc_id") < 250), "doc_id", "text"
    ).withColumn("batch_ts", F.lit(1))
    recrawl = docs.where(F.col("doc_id") < 100).select(
        "doc_id", F.concat(F.col("text"), F.lit(" [recrawl]")).alias("text"))
    b2 = exact_digest_table(recrawl, "doc_id", "text").withColumn(
        "batch_ts", F.lit(2))
    tomb = docs.where(F.col("doc_id").between(200, 249)).select("doc_id")
    compacted = compact_state_table(
        b1.unionByName(b2), order_col="batch_ts", tombstones=tomb)
    newb = (
        docs.where(F.col("doc_id") >= 250).select("doc_id", "text")
        .unionByName(docs.where(F.col("doc_id") < 50).select(
            (F.col("doc_id") + 20000).alias("doc_id"), "text"))
        .unionByName(docs.where(F.col("doc_id").between(100, 149)).select(
            (F.col("doc_id") + 21000).alias("doc_id"), "text"))
        .unionByName(docs.where(F.col("doc_id").between(200, 249)).select(
            (F.col("doc_id") + 22000).alias("doc_id"), "text"))
    )
    return incremental_exact_dedup(newb, compacted,
                                   "doc_id", "text").select("doc_id")


@_q("rule_profiler_events", """
WITH chunks AS (
  SELECT ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT % 4 AS c,
         avg(value) AS m
  FROM events GROUP BY 1
),
arr AS (SELECT list(m ORDER BY m) AS a FROM chunks)
SELECT 'ranges' AS rule, 'value' AS "column", 'mean_range' AS parameter,
       round(a[1], 6) AS lo, round(a[4], 6) AS hi,
       NULL::VARCHAR AS value_set
FROM arr
UNION ALL
SELECT 'ranges', 'value', 'q_range',
       round(a[1] + 0.3 * (a[2] - a[1]), 6),
       round(a[3] + 0.7 * (a[4] - a[3]), 6),
       NULL::VARCHAR
FROM arr
UNION ALL
SELECT 'cats', 'lang', 'vs', NULL::DOUBLE, NULL::DOUBLE,
       array_to_string(list(DISTINCT lang ORDER BY lang), '|')
FROM documents WHERE lang IS NOT NULL
UNION ALL
SELECT 'cats', 'source', 'vs', NULL::DOUBLE, NULL::DOUBLE,
       array_to_string(list(DISTINCT source ORDER BY source), '|')
FROM documents WHERE source IS NOT NULL
""")
def _rbp1(spark, sf):
    """Declarative RuleBasedProfiler runner (reference
    rule_based_profiler/rule_based_profiler.py:93): two reference-shaped
    configs — a NumericMetricRangeMultiBatch rule (exact + quantiles
    estimators over engine-portable md5 pseudo-chunks) on events, and a
    CategoricalColumnDomainBuilder + ValueSetMultiBatch rule on documents
    — with the resolved parameter values replayed digit-exactly in
    DuckDB (type-7 quantile interpolation written out over the 4 sorted
    chunk means)."""
    from great_expectations_spark.pipeline.similarity import round_half_up
    from great_expectations_spark.rule_profiler import run_rule_based_profiler

    r1 = run_rule_based_profiler(_tbl(spark, sf, "events"), {
        "name": "ranges", "config_version": 1.0,
        "variables": {"fpr": 0.2},
        "rules": {"ranges": {
            "domain_builder": {"class_name": "ColumnDomainBuilder",
                               "include_column_names": ["value"]},
            "parameter_builders": [
                {"name": "mean_range",
                 "class_name": "NumericMetricRangeMultiBatchParameterBuilder",
                 "metric_name": "column.mean",
                 "metric_domain_kwargs": "$domain.domain_kwargs",
                 "estimator": "exact", "n_chunks": 4, "chunk_by": "event_id"},
                {"name": "q_range",
                 "class_name": "NumericMetricRangeMultiBatchParameterBuilder",
                 "metric_name": "column.mean",
                 "metric_domain_kwargs": "$domain.domain_kwargs",
                 "estimator": "quantiles",
                 "false_positive_rate": "$variables.fpr",
                 "n_chunks": 4, "chunk_by": "event_id"}],
            "expectation_configuration_builders": [
                {"expectation_type": "expect_column_mean_to_be_between",
                 "column": "$domain.domain_kwargs.column",
                 "min_value": "$parameter.mean_range.value[0]",
                 "max_value": "$parameter.mean_range.value[1]"}]}}})
    r2 = run_rule_based_profiler(_tbl(spark, sf, "documents"), {
        "name": "cats", "config_version": 1.0,
        "rules": {"cats": {
            "domain_builder": {
                "class_name": "CategoricalColumnDomainBuilder",
                "cardinality_limit_mode": "FEW",
                "exclude_column_names": ["doc_id", "text", "n_chars"]},
            "parameter_builders": [
                {"name": "vs",
                 "class_name": "ValueSetMultiBatchParameterBuilder",
                 "metric_domain_kwargs": "$domain.domain_kwargs"}],
            "expectation_configuration_builders": [
                {"expectation_type": "expect_column_values_to_be_in_set",
                 "column": "$domain.domain_kwargs.column",
                 "value_set": "$parameter.vs.value"}]}}})

    def r6(x):
        return float(round_half_up(float(x), 6))

    rows = []
    for pname in ("mean_range", "q_range"):
        lo, hi = r1.parameters["ranges"]["value"][pname]["value"]
        rows.append(("ranges", "value", pname, r6(lo), r6(hi), None))
    for col in ("lang", "source"):
        vs = r2.parameters["cats"][col]["vs"]["value"]
        rows.append(("cats", col, "vs", None, None,
                     "|".join(str(v) for v in vs)))
    return spark.createDataFrame(
        rows, "rule string, column string, parameter string, "
              "lo double, hi double, value_set string")


@_q("rule_profiler_real_batches", """
WITH days AS (
  SELECT day(ts) AS d, avg(value) AS m,
         CAST(count(*) AS DOUBLE) AS n
  FROM events GROUP BY 1
)
SELECT 'mean_range_exact' AS parameter,
       round(min(m), 6) AS lo, round(max(m), 6) AS hi,
       CAST(count(*) AS BIGINT) AS n_batches
FROM days
UNION ALL
SELECT 'mean_range_quantiles',
       round(quantile_cont(m, 0.1), 6), round(quantile_cont(m, 0.9), 6),
       CAST(count(*) AS BIGINT)
FROM days
UNION ALL
SELECT 'daily_row_count',
       round(min(n), 6), round(max(n), 6), CAST(count(*) AS BIGINT)
FROM days
""")
def _rbp2(spark, sf):
    """Real-batch MultiBatch profiler semantics (VERDICT r4 task 2;
    reference rule_based_profiler/rule_based_profiler.py:244 run() over a
    genuine batch list, numeric_metric_range_multi_batch_parameter_builder
    .py:159 "for every Batch"): a date_part(day) batch_spec carves events
    into ~30 REAL per-day batches resolved by ONE groupBy(day(ts));
    DuckDB replays the per-day means exactly (exact = min/max envelope,
    quantiles = type-7 interpolated 10th/90th percentile across batch
    means, MetricMultiBatch daily row counts = per-day COUNT(*))."""
    from great_expectations_spark.pipeline.similarity import round_half_up
    from great_expectations_spark.rule_profiler import run_rule_based_profiler

    res = run_rule_based_profiler(_tbl(spark, sf, "events"), {
        "name": "real-batches", "config_version": 1.0,
        "batch_spec": {"splitter": "date_part", "column": "ts",
                       "part": "day"},
        "rules": {"r": {
            "domain_builder": {"class_name": "ColumnDomainBuilder",
                               "include_column_names": ["value"]},
            "parameter_builders": [
                {"name": "exact_rng",
                 "class_name": "NumericMetricRangeMultiBatchParameterBuilder",
                 "metric_name": "column.mean",
                 "metric_domain_kwargs": "$domain.domain_kwargs",
                 "estimator": "exact"},
                {"name": "q_rng",
                 "class_name": "NumericMetricRangeMultiBatchParameterBuilder",
                 "metric_name": "column.mean",
                 "metric_domain_kwargs": "$domain.domain_kwargs",
                 "estimator": "quantiles", "false_positive_rate": 0.2},
                {"name": "daily_n",
                 "class_name": "MetricMultiBatchParameterBuilder",
                 "metric_name": "table.row_count",
                 "metric_domain_kwargs": "$domain.domain_kwargs"}],
            "expectation_configuration_builders": []}}})
    p = res.parameters["r"]["value"]

    def r6(x):
        return float(round_half_up(float(x), 6))

    rows = []
    for pname, out_name in (("exact_rng", "mean_range_exact"),
                            ("q_rng", "mean_range_quantiles")):
        lo, hi = p[pname]["value"]
        rows.append((out_name, r6(lo), r6(hi),
                     p[pname]["details"]["num_batches"]))
    counts = p["daily_n"]["value"]
    rows.append(("daily_row_count", r6(min(counts)), r6(max(counts)),
                 len(counts)))
    return spark.createDataFrame(
        rows, "parameter string, lo double, hi double, n_batches bigint")


def _onboarding_oracle() -> str:
    """DuckDB replay of every SQL-replayable expectation the
    OnboardingDataAssistant emits for documents — emission decisions
    derived from the DATA (scalar-subquery predicates), resolved values
    recomputed: exact numeric envelopes over md5(col)%8 pseudo-chunks,
    uniqueness/nullity/nonnullity map-metric domains, FEW categorical
    value sets, text length bounds. Format-inference rows (regex /
    strftime) are covered by tests + the profiler_format_inference
    oracle, not replayed here."""
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    numeric = ["doc_id", "n_chars"]
    text = ["text", "lang", "source"]
    parts = [
        # table rule
        """SELECT 'expect_table_row_count_to_be_between' AS etype, '' AS col,
              CAST(count(*) AS DOUBLE) AS lo, CAST(count(*) AS DOUBLE) AS hi,
              NULL::VARCHAR AS vs FROM documents""",
        """SELECT 'expect_table_columns_to_match_set', '', NULL, NULL,
              'doc_id|lang|n_chars|source|text'""",
    ]
    for c in cols:
        parts.append(f"""
SELECT 'expect_column_values_to_be_unique', '{c}', NULL, NULL, NULL
FROM documents
HAVING count(DISTINCT {c}) = count({c}) AND count({c}) > 0""")
        parts.append(f"""
SELECT 'expect_column_values_to_not_be_null', '{c}',
       CASE WHEN count(*) = count({c}) THEN NULL ELSE 0.95 END, NULL, NULL
FROM documents
HAVING CAST(count(*) - count({c}) AS DOUBLE) / count(*) <= 0.05""")
        parts.append(f"""
SELECT 'expect_column_values_to_be_null', '{c}', 0.95, NULL, NULL
FROM documents
HAVING CAST(count({c}) AS DOUBLE) / count(*) <= 0.05""")
        parts.append(f"""
SELECT 'expect_column_values_to_be_in_set', '{c}', NULL, NULL,
       array_to_string(list(DISTINCT {c} ORDER BY {c}), '|')
FROM documents WHERE {c} IS NOT NULL
HAVING count(DISTINCT {c}) BETWEEN 1 AND 100""")
    for c in text:
        parts.append(f"""
SELECT 'expect_column_value_lengths_to_be_between', '{c}',
       CAST(min(length({c})) AS DOUBLE), CAST(max(length({c})) AS DOUBLE),
       NULL
FROM documents""")
    for c in numeric:
        # every numeric builder shares ONE pseudo-chunk key — md5 of the
        # first profiled column (doc_id) — so the whole numeric rule is a
        # single groupBy (data_assistant.py scale note)
        chunks = (
            f"(SELECT min({c}) AS m0, max({c}) AS m1, avg({c}) AS m2, "
            f"quantile_cont({c}, 0.5) AS m3, "
            f"quantile_cont({c}, 0.25) AS m4, "
            f"quantile_cont({c}, 0.75) AS m5 FROM documents "
            f"GROUP BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))"
            f"::BIGINT % 8)")
        for etype, m in (
                ("expect_column_min_to_be_between", "m0"),
                ("expect_column_max_to_be_between", "m1"),
                ("expect_column_mean_to_be_between", "m2"),
                ("expect_column_median_to_be_between", "m3"),
                ("expect_column_quantile_values_to_be_between__0.25", "m4"),
                ("expect_column_quantile_values_to_be_between__0.5", "m3"),
                ("expect_column_quantile_values_to_be_between__0.75", "m5")):
            parts.append(f"""
SELECT '{etype}', '{c}', round(min({m}), 6), round(max({m}), 6), NULL
FROM {chunks} WHERE {m} IS NOT NULL""")
        parts.append(f"""
SELECT 'expect_column_values_to_be_between', '{c}',
       round(min(m0), 6), round(max(m1), 6), NULL
FROM {chunks} WHERE m0 IS NOT NULL""")
    return "\nUNION ALL\n".join(parts)


@_q("onboarding_assistant_documents", _onboarding_oracle())
def _rbp3(spark, sf):
    """OnboardingDataAssistant preset (VERDICT r4 task 3; reference
    rule_based_profiler/data_assistant/onboarding_data_assistant.py:46):
    one call emits table / uniqueness / nullity / nonnullity / numeric /
    text / categorical rules as a declarative RBP config; every
    SQL-replayable emitted expectation's type, domain column, and
    resolved bounds/value-set are pinned against a DuckDB replay whose
    emission predicates are themselves derived from the data."""
    from great_expectations_spark.data_assistant import (
        run_onboarding_assistant,
    )
    from great_expectations_spark.pipeline.similarity import round_half_up

    res = run_onboarding_assistant(_tbl(spark, sf, "documents"))

    def r6(x):
        return None if x is None else float(round_half_up(float(x), 6))

    _RANGES = {"expect_column_min_to_be_between",
               "expect_column_max_to_be_between",
               "expect_column_mean_to_be_between",
               "expect_column_median_to_be_between",
               "expect_column_values_to_be_between"}
    rows = []
    for e in res.suite.expectations:
        t, k = e.expectation_type, e.kwargs
        if t in ("expect_column_values_to_match_regex",
                 "expect_column_values_to_match_strftime_format"):
            continue
        if t == "expect_table_row_count_to_be_between":
            rows.append((t, "", float(k["min_value"]),
                         float(k["max_value"]), None))
        elif t == "expect_table_columns_to_match_set":
            rows.append((t, "", None, None,
                         "|".join(sorted(k["column_set"]))))
        elif t == "expect_column_values_to_be_unique":
            rows.append((t, k["column"], None, None, None))
        elif t in ("expect_column_values_to_not_be_null",
                   "expect_column_values_to_be_null"):
            rows.append((t, k["column"],
                         float(k["mostly"]) if "mostly" in k else None,
                         None, None))
        elif t == "expect_column_value_lengths_to_be_between":
            rows.append((t, k["column"], float(k["min_value"]),
                         float(k["max_value"]), None))
        elif t in _RANGES:
            rows.append((t, k["column"], r6(k["min_value"]),
                         r6(k["max_value"]), None))
        elif t == "expect_column_quantile_values_to_be_between":
            qr = k["quantile_ranges"]
            for q, (lo, hi) in zip(qr["quantiles"], qr["value_ranges"]):
                rows.append((f"{t}__{q}", k["column"], r6(lo), r6(hi), None))
        elif t == "expect_column_values_to_be_in_set":
            rows.append((t, k["column"], None, None,
                         "|".join(str(v) for v in k["value_set"])))
        else:
            raise AssertionError(f"unexpected assistant emission {t}")
    return spark.createDataFrame(
        rows, "etype string, col string, lo double, hi double, vs string")


def _simhash_oracle(bits: int = 16) -> str:
    def vote(j: int) -> str:
        return (
            f"list_sum(list_transform(hs, x -> CASE WHEN (x >> {j}) & 1 = 1 "
            "THEN 1 ELSE -1 END))"
        )

    expr = " + ".join(f"(CASE WHEN {vote(j)} > 0 THEN {2 ** j} ELSE 0 END)" for j in range(bits))
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_transform(list_distinct(string_split(text, ' ')),
                        t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS hs
  FROM documents WHERE text IS NOT NULL
),
sh AS (SELECT doc_id, CAST({expr} AS BIGINT) AS simhash FROM toks)
SELECT simhash, CAST(count(*) AS BIGINT) AS n_docs
FROM sh GROUP BY simhash HAVING count(*) > 1
"""


@_q("pipeline_simhash_collisions", _simhash_oracle())
def _p3(spark, sf):
    from great_expectations_spark.pipeline.dedup import simhash_dedup_stats

    return simhash_dedup_stats(_tbl(spark, sf, "documents"), "doc_id", "text")


def _jaccard_oracle() -> str:
    return f"""
WITH d AS (SELECT doc_id, {_TOKEN_HASH_SQL} AS th
           FROM documents WHERE text IS NOT NULL),
sh AS (SELECT doc_id, unnest({_hashed_shingle_sql(3)}) AS s
       FROM d WHERE len(th) >= 3),
sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n
          FROM sh a JOIN sh b ON a.s = b.s WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT id_a, id_b, jaccard FROM (
  SELECT id_a, id_b, round(n / (sa.sz + sb.sz - n), 6) AS jaccard
  FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
) WHERE jaccard >= 0.5
"""


def _lsh_audit_oracle() -> str:
    p_at_t = round(1.0 - (1.0 - 0.5 ** 3) ** 4, 6)
    return f"""
WITH cand AS ({_minhash_oracle()}),
d AS (SELECT doc_id, {_TOKEN_HASH_SQL} AS th
      FROM documents WHERE text IS NOT NULL),
sh AS (SELECT doc_id, unnest({_hashed_shingle_sql(3)}) AS s
       FROM d WHERE len(th) >= 3),
sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n
          FROM sh a JOIN sh b ON a.s = b.s
          WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
jac AS (SELECT id_a, id_b, round(n / (sa.sz + sb.sz - n), 6) AS jaccard
        FROM inter JOIN sz sa ON sa.doc_id = id_a
                   JOIN sz sb ON sb.doc_id = id_b),
j AS (SELECT coalesce(jac.jaccard, 0.0) AS jaccard
      FROM cand LEFT JOIN jac USING (id_a, id_b))
SELECT CAST(count(*) AS BIGINT) AS n_candidates,
       CAST(coalesce(sum(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_true_pairs,
       round(avg(CASE WHEN jaccard >= 0.5 THEN 1.0 ELSE 0.0 END), 6)
         AS precision,
       round(avg(jaccard), 6) AS mean_candidate_jaccard,
       round(avg(CASE WHEN jaccard >= 0.5
                 THEN round(1 - pow(1 - pow(jaccard, 3), 4), 8) END), 6)
         AS mean_detect_prob_true_pairs,
       CAST({p_at_t} AS DOUBLE) AS p_at_threshold
FROM j
"""


@_q("pipeline_lsh_audit", _lsh_audit_oracle())
def _p4b(spark, sf):
    """LSH banding audit (pipeline/dedup.py lsh_audit): measured candidate
    precision against exact shingle Jaccard plus the banding's analytic
    S-curve detection probabilities, in one row — the tuning loop a dedup
    operator runs before committing a (k, bands) choice at corpus scale."""
    from great_expectations_spark.pipeline.dedup import lsh_audit

    return lsh_audit(_tbl(spark, sf, "documents"), "doc_id", "text")


@_q("pipeline_ngram_jaccard", _jaccard_oracle())
def _p4(spark, sf):
    # exact Jaccard over the full corpus at >=0.5: the ground truth the
    # MinHash-LSH candidates are judged against (their sets coincide on
    # this corpus — see tests/test_pipeline.py)
    from great_expectations_spark.pipeline.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_tbl(spark, sf, "documents"), "doc_id", "text",
                               n=3, threshold=0.5)


def _doc_stats_oracle() -> str:
    from great_expectations_spark.pipeline.textstats import LANG_MARKERS

    score = {
        l: f"len(list_filter(t, x -> x IN ({', '.join(repr(m) for m in ms)})))"
        for l, ms in LANG_MARKERS.items()
    }
    langs = sorted(LANG_MARKERS)
    best = f"greatest({', '.join(score[l] for l in langs)})"
    lang_case = (
        "CASE "
        + " ".join(f"WHEN {best} > 0 AND {score[l]} = {best} THEN '{l}'" for l in langs)
        + " ELSE 'und' END"
    )
    fr = f"round(len(list_filter(t, x -> x IN {_FILLER_SQL})) / len(t), 6)"
    return f"""
WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS t
           FROM documents WHERE text IS NOT NULL)
SELECT doc_id,
  CAST(len(t) AS BIGINT) AS n_tokens,
  CAST(length(text) AS BIGINT) AS n_chars,
  {fr} AS filler_ratio,
  round(greatest(least(len(t) / 100.0, 1.0) * (1.0 - {fr}), 0.0), 6) AS quality,
  {lang_case} AS lang_guess,
  md5(array_to_string(list_sort(list_distinct(t)), ' ')) AS fp
FROM d
"""


@_q("pipeline_doc_stats", _doc_stats_oracle())
def _p5(spark, sf):
    from great_expectations_spark.pipeline.textstats import doc_stats

    return doc_stats(_tbl(spark, sf, "documents"), "doc_id", "text")


@_q("pipeline_corpus_stats", f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
           FROM documents WHERE text IS NOT NULL),
per AS (SELECT doc_id, len(t) AS n_tokens,
  round(greatest(least(len(t) / 100.0, 1.0) *
        (1.0 - round(len(list_filter(t, x -> x IN {_FILLER_SQL})) / len(t), 6)), 0.0), 6) AS quality,
  md5(array_to_string(list_sort(list_distinct(t)), ' ')) AS fp
  FROM d)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(avg(n_tokens), 6) AS avg_tokens,
       round(avg(quality), 6) AS avg_quality,
       CAST(count(DISTINCT fp) AS BIGINT) AS distinct_fingerprints
FROM per
""")
def _p6(spark, sf):
    from great_expectations_spark.pipeline.textstats import corpus_stats

    return corpus_stats(_tbl(spark, sf, "documents"), "doc_id", "text")


@_q("pipeline_fingerprint_dups", """
WITH d AS (SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
           FROM documents WHERE text IS NOT NULL)
SELECT fp, CAST(count(*) AS BIGINT) AS n_docs
FROM d GROUP BY fp HAVING count(*) > 1
""")
def _p7(spark, sf):
    from great_expectations_spark.pipeline.textstats import fingerprint

    docs = _tbl(spark, sf, "documents").where(F.col("text").isNotNull())
    return (
        docs.select(fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .where(F.col("n_docs") > 1)
    )


@_q("pipeline_recipe_clean", """
WITH s1 AS (
  SELECT doc_id,
         CASE WHEN text IS NULL THEN 'nonnull'
              WHEN length(text) < 100 THEN 'min_len'
              WHEN lang IS NULL OR lang NOT IN ('en','de','fr','es')
                   THEN 'lang' END AS rej,
         text
  FROM documents),
surv AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
  FROM s1 WHERE rej IS NULL),
keep AS (SELECT fp, min(doc_id) AS keeper FROM surv GROUP BY fp)
SELECT s1.doc_id,
       coalesce(s1.rej,
                CASE WHEN surv.doc_id IS NOT NULL AND surv.doc_id <> keep.keeper
                     THEN 'fp_dup' END) AS rejected_by
FROM s1 LEFT JOIN surv ON s1.doc_id = surv.doc_id
        LEFT JOIN keep ON surv.fp = keep.fp
""")
def _p7r(spark, sf):
    """End-to-end cleaning recipe (pipeline/recipes.py) with
    first-rejecting-stage attribution: nonnull -> min length -> lang
    allowlist (three predicates fused into ONE label expression, zero
    extra jobs) -> fingerprint dedup on the survivors (losers stage,
    id-keyed join). Per-doc rejected_by parity over the whole table."""
    from great_expectations_spark.pipeline.recipes import (
        losers_stage, predicate_stage, run_recipe)
    from great_expectations_spark.pipeline.textstats import fingerprint

    def fp_losers(surv):
        d = surv.select(F.col("doc_id").alias("id"),
                        fingerprint(F.col("text")).alias("fp"))
        k = d.groupBy("fp").agg(F.min("id").alias("keep"))
        return (d.join(k, "fp").where(F.col("id") != F.col("keep"))
                .select("id"))

    docs = _tbl(spark, sf, "documents")
    recipe = [
        predicate_stage("nonnull", lambda d: F.col("text").isNotNull()),
        predicate_stage("min_len", lambda d: F.length("text") >= 100),
        predicate_stage("lang",
                        lambda d: F.col("lang").isin("en", "de", "fr", "es")),
        losers_stage("fp_dup", fp_losers),
    ]
    return run_recipe(docs, recipe, "doc_id").annotated.select(
        "doc_id", "rejected_by")


_COS_SQL = ("list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) / "
            "(sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) * "
            "sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))")


@_q("pipeline_cosine_topk", f"""
WITH s AS (
  SELECT b.vec_id AS q_id, a.vec_id AS vec_id, round({_COS_SQL}, 4) AS sim
  FROM embeddings a, embeddings b
  WHERE b.vec_id < 8 AND a.vec_id <> b.vec_id
),
r AS (SELECT q_id, vec_id, sim,
             row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
      FROM s)
SELECT q_id, vec_id, sim, CAST(rank AS INT) AS rank FROM r WHERE rank <= 10
""")
def _p8(spark, sf):
    from great_expectations_spark.pipeline.similarity import cosine_topk

    emb = _tbl(spark, sf, "embeddings")
    q = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    return cosine_topk(emb, q, k=10)


@_q("pipeline_cosine_topk_gemm", f"""
WITH s AS (
  SELECT b.vec_id AS q_id, a.vec_id AS vec_id, round({_COS_SQL}, 4) AS sim
  FROM embeddings a, embeddings b
  WHERE b.vec_id < 8 AND a.vec_id <> b.vec_id
),
r AS (SELECT q_id, vec_id, sim,
             row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
      FROM s)
SELECT q_id, vec_id, sim, CAST(rank AS INT) AS rank FROM r WHERE rank <= 10
""")
def _p8b(spark, sf):
    # Arrow/BLAS edition of the exact top-k — same total order, same oracle
    from great_expectations_spark.pipeline.similarity import cosine_topk_gemm

    emb = _tbl(spark, sf, "embeddings")
    q = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    return cosine_topk_gemm(emb, q, k=10)


def _ann_oracle(dims: int = 64, planes: int = 6, tables: int = 4, k: int = 10) -> str:
    from great_expectations_spark.pipeline.similarity import hyperplane_weights

    def bucket(alias: str, t: int) -> str:
        terms = []
        for p in range(planes):
            w = hyperplane_weights(t * planes + p, dims)
            arr = "[" + ", ".join(f"{x!r}" for x in w) + "]::DOUBLE[]"
            terms.append(
                f"(CASE WHEN list_dot_product(CAST({alias}.embedding AS DOUBLE[]), {arr}) > 0 "
                f"THEN {2 ** p} ELSE 0 END)"
            )
        return " + ".join(terms)

    b_cols = ", ".join(f"{bucket('embeddings', t)} AS b{t}" for t in range(tables))
    or_cond = " OR ".join(f"a.b{t} = b.b{t}" for t in range(tables))
    return f"""
WITH c AS (SELECT vec_id, embedding, {b_cols} FROM embeddings),
q AS (SELECT * FROM c WHERE vec_id < 8),
s AS (
  SELECT b.vec_id AS q_id, a.vec_id AS vec_id, round({_COS_SQL}, 4) AS sim
  FROM c a JOIN q b ON ({or_cond})
  WHERE a.vec_id <> b.vec_id
),
r AS (SELECT q_id, vec_id, sim,
             row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
      FROM s)
SELECT q_id, vec_id, sim, CAST(rank AS INT) AS rank FROM r WHERE rank <= {k}
"""


@_q("pipeline_ann_lsh", _ann_oracle())
def _p9(spark, sf):
    from great_expectations_spark.pipeline.similarity import ann_topk_lsh

    emb = _tbl(spark, sf, "embeddings")
    q = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    return ann_topk_lsh(emb, q, dims=64, k=10, planes=6, tables=4)


def _ann_ivf_oracle(n_centroids: int = 8, n_probe: int = 3, k: int = 10) -> str:
    """IVF is fully deterministic (seed bucket = md5_int(vec_id) % n,
    centroid = per-dim mean, round-6 assignment), so DuckDB can recompute
    the whole codebook + probe + rerank path itself."""
    cos_ec = ("list_dot_product(CAST(e.embedding AS DOUBLE[]), c.c) / "
              "(sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) * "
              "sqrt(list_dot_product(c.c, c.c)))")
    cos_ap = ("list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(p.qv AS DOUBLE[])) / "
              "(sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) * "
              "sqrt(list_dot_product(CAST(p.qv AS DOUBLE[]), CAST(p.qv AS DOUBLE[]))))")
    return f"""
WITH exp AS (
  SELECT (('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT % {n_centroids}) AS cid,
         generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS d,
         unnest(CAST(embedding AS DOUBLE[])) AS x
  FROM embeddings
),
cent AS (
  SELECT cid, list(m ORDER BY d) AS c
  FROM (SELECT cid, d, avg(x) AS m FROM exp GROUP BY cid, d) GROUP BY cid
),
sims AS (
  SELECT e.vec_id, e.embedding, c.cid, round({cos_ec}, 6) AS s
  FROM embeddings e CROSS JOIN cent c
),
asgn AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT vec_id, embedding, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
    FROM sims) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS q_id, embedding AS qv, cid FROM (
    SELECT vec_id, embedding, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
    FROM sims WHERE vec_id < 8) WHERE rn <= {n_probe}
),
cand AS (
  SELECT p.q_id, a.vec_id, round({cos_ap}, 4) AS sim
  FROM asgn a JOIN probes p ON a.cid = p.cid
  WHERE a.vec_id <> p.q_id
),
r AS (SELECT q_id, vec_id, sim,
             row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
      FROM cand)
SELECT q_id, vec_id, sim, CAST(rank AS INT) AS rank FROM r WHERE rank <= {k}
"""


@_q("pipeline_ann_ivf", _ann_ivf_oracle())
def _p9b(spark, sf):
    from great_expectations_spark.pipeline.similarity import ann_topk_ivf

    emb = _tbl(spark, sf, "embeddings")
    q = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    return ann_topk_ivf(emb, q, dims=64, k=10, n_centroids=8, n_probe=3)


def _kmeans_cent_chain(k: int = 8, iters: int = 2) -> tuple[str, str]:
    """CTE chain replaying ``kmeans_fit`` exactly: md5 seed buckets →
    ``iters`` × (round-6 nearest-centroid assignment, min-cid tiebreak →
    per-dim avg recenter, empty cluster keeps previous centroid).
    Returns (cte_sql_fragment, final_centroid_cte_name)."""
    cos = ("round(list_dot_product(e.v, c.c) / "
           "(sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.c, c.c))), 6)")
    parts = [f"""
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE embedding IS NOT NULL AND vec_id IS NOT NULL),
x0 AS (SELECT (('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT % {k}) AS cid,
              generate_subscripts(v, 1) AS d, unnest(v) AS x
       FROM e),
c0 AS (SELECT cid, list(m ORDER BY d) AS c
       FROM (SELECT cid, d, avg(x) AS m FROM x0 GROUP BY cid, d) GROUP BY cid)"""]
    prev = "c0"
    for i in range(1, iters + 1):
        parts.append(f"""
s{i} AS (SELECT e.vec_id, e.v, c.cid, {cos} AS s FROM e CROSS JOIN {prev} c),
a{i} AS (SELECT vec_id, v, cid FROM (
    SELECT vec_id, v, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
    FROM s{i}) WHERE rn = 1),
m{i} AS (SELECT cid, list(m ORDER BY d) AS c FROM (
    SELECT cid, d, avg(x) AS m
    FROM (SELECT cid, generate_subscripts(v, 1) AS d, unnest(v) AS x FROM a{i})
    GROUP BY cid, d) GROUP BY cid),
c{i} AS (SELECT p.cid, coalesce(m{i}.c, p.c) AS c
         FROM {prev} p LEFT JOIN m{i} ON p.cid = m{i}.cid)""")
        prev = f"c{i}"
    return ",".join(parts), prev


def _kmeans_stats_oracle(k: int = 8, iters: int = 2) -> str:
    chain, cfin = _kmeans_cent_chain(k, iters)
    cos = ("round(list_dot_product(e.v, c.c) / "
           "(sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.c, c.c))), 6)")
    return f"""
WITH {chain},
sf AS (SELECT e.vec_id, c.cid, {cos} AS s FROM e CROSS JOIN {cfin} c),
af AS (SELECT vec_id, cid, s FROM (
    SELECT vec_id, cid, s,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
    FROM sf) WHERE rn = 1)
SELECT CAST(cid AS INT) AS cluster, CAST(count(*) AS BIGINT) AS n,
       round(avg(s), 4) AS mean_sim
FROM af GROUP BY cid
"""


@_q("pipeline_kmeans_stats", _kmeans_stats_oracle())
def _p9c(spark, sf):
    """Distributed Lloyd's k-means (2 iterations, k=8) over the embedding
    corpus: E-step is literal-centroid codegen, M-step ONE map-combinable
    groupBy of per-dim avgs; the oracle unrolls the identical trajectory
    as DuckDB CTEs."""
    from great_expectations_spark.pipeline.embcluster import (
        kmeans_cluster_stats, kmeans_fit)

    emb = _tbl(spark, sf, "embeddings")
    cents = kmeans_fit(emb, dims=64, k=8, iters=2)
    return kmeans_cluster_stats(emb, cents)


def _semantic_dedup_oracle(k: int = 8, iters: int = 2,
                           threshold: float = 0.38) -> str:
    chain, cfin = _kmeans_cent_chain(k, iters)
    cos = ("round(list_dot_product(e.v, c.c) / "
           "(sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.c, c.c))), 6)")
    pcos = ("round(list_dot_product(a.v, b.v) / "
            "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4)")
    return f"""
WITH RECURSIVE {chain},
sf AS (SELECT e.vec_id, e.v, c.cid, {cos} AS s FROM e CROSS JOIN {cfin} c),
af AS (SELECT vec_id, v, cid FROM (
    SELECT vec_id, v, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
    FROM sf) WHERE rn = 1),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM af a JOIN af b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE {pcos} >= {threshold}
),
sym AS (SELECT id_a AS u, id_b AS v FROM pairs UNION SELECT id_b, id_a FROM pairs),
nodes AS (SELECT DISTINCT u AS n FROM sym),
reach(n, lbl) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT s.v, r.lbl FROM reach r JOIN sym s ON s.u = r.n
),
comp AS (SELECT n, min(lbl) AS component FROM reach GROUP BY n)
SELECT emb.vec_id AS id,
       CAST(coalesce(c.component, emb.vec_id) AS BIGINT) AS "group",
       (coalesce(c.component, emb.vec_id) = emb.vec_id) AS is_kept
FROM embeddings emb LEFT JOIN comp c ON c.n = emb.vec_id
"""


@_q("pipeline_semantic_dedup", _semantic_dedup_oracle())
def _p9d(spark, sf):
    """SemDeDup (Abbas et al. 2023): k-means the embedding space, pair
    only WITHIN clusters (quadratic term bounded by cluster size), keep
    one exemplar per transitively-connected near-dup group via the
    Large-Star/Small-Star components operator."""
    from great_expectations_spark.pipeline.embcluster import (
        semantic_dedup_assignments)

    emb = _tbl(spark, sf, "embeddings")
    return semantic_dedup_assignments(emb, dims=64, k=8, threshold=0.38,
                                      iters=2)


def _substr_win_cte(window: int = 8) -> str:
    """DuckDB replica of substring._window_occurrences: stride-1 token
    windows, 0-based offsets, md5 of the space-joined window."""
    return f"""
lst AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents
        WHERE text IS NOT NULL AND doc_id IS NOT NULL),
win AS (
  SELECT doc_id, i - 1 AS idx, md5(array_to_string(l[i:i+{window - 1}], ' ')) AS wkey
  FROM (SELECT doc_id, l, unnest(range(1, len(l) - {window} + 2)) AS i
        FROM lst WHERE len(l) >= {window})
)"""


@_q("pipeline_substring_stats", f"""
WITH {_substr_win_cte(8)}
SELECT wkey, CAST(count(*) AS BIGINT) AS n_occ,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM win GROUP BY wkey HAVING count(*) >= 2
""")
def _p9e(spark, sf):
    """ExactSubstr dedup (Lee et al. 2022) detection half: corpus-wide
    duplicated 8-token windows — ONE linear shuffle of (16-byte md5, id,
    offset) triples, map-combinable counting."""
    from great_expectations_spark.pipeline.substring import (
        duplicate_window_stats)

    return duplicate_window_stats(
        _tbl(spark, sf, "documents"), "doc_id", "text", window=8)


@_q("pipeline_substring_dedup", f"""
WITH {_substr_win_cte(8)},
flagged AS (
  SELECT doc_id, idx FROM (
    SELECT doc_id, idx, count(*) OVER (PARTITION BY wkey) AS c,
           row_number() OVER (PARTITION BY wkey ORDER BY doc_id, idx) AS rn
    FROM win) WHERE c >= 2 AND rn > 1),
toks AS (SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) - 1 AS p
         FROM lst),
kept AS (
  SELECT t.doc_id, t.p, t.tok FROM toks t
  WHERE NOT EXISTS (SELECT 1 FROM flagged f
                    WHERE f.doc_id = t.doc_id
                      AND f.idx <= t.p AND t.p < f.idx + 8)),
reb AS (SELECT k.doc_id,
               coalesce(string_agg(k.tok, ' ' ORDER BY k.p), '') AS txt,
               count(*) AS n_kept
        FROM kept k GROUP BY k.doc_id),
tot AS (SELECT doc_id, len(l) AS n_toks,
               (SELECT count(*) FROM flagged f WHERE f.doc_id = lst.doc_id) > 0
               AS has_flags
        FROM lst)
SELECT d.doc_id,
       md5(CASE WHEN d.text IS NULL THEN NULL
                WHEN coalesce(t.has_flags, FALSE) THEN coalesce(r.txt, '')
                ELSE d.text END) AS text_md5,
       CAST(CASE WHEN d.text IS NULL OR NOT coalesce(t.has_flags, FALSE) THEN 0
                 ELSE t.n_toks - coalesce(r.n_kept, 0) END AS BIGINT)
           AS n_removed
FROM documents d
LEFT JOIN tot t ON t.doc_id = d.doc_id
LEFT JOIN reb r ON r.doc_id = d.doc_id
""")
def _p9f(spark, sf):
    """ExactSubstr dedup removal half: every non-keeper duplicated span
    cut, per-doc rewritten-text digest + tokens-removed count (full-corpus
    byte parity via md5)."""
    from great_expectations_spark.pipeline.substring import dedup_substrings

    out = dedup_substrings(
        _tbl(spark, sf, "documents"), "doc_id", "text", window=8)
    return out.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.col("n_removed_tokens").alias("n_removed"),
    )


def _lm_scores_cte(vocab: int = 20, alpha: float = 0.5) -> str:
    """DuckDB replica of unigram_lm + doc_logprob: same tokenization,
    same top-V (count desc, token) vocabulary cut, same add-alpha
    smoothing with a single OOV probability."""
    return f"""
toks AS (
  SELECT id, token FROM (
    SELECT doc_id AS id, unnest(string_split(text, ' ')) AS token
    FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL)
  WHERE token != ''),
counts AS (SELECT token, count(*) AS c FROM toks GROUP BY token),
meta AS (SELECT (SELECT sum(c) FROM counts) AS n,
                (SELECT count(*) FROM
                 (SELECT 1 FROM counts ORDER BY c DESC, token LIMIT {vocab}))
                AS v),
model AS (
  SELECT token, ln((c + {alpha}) / (n + {alpha} * (v + 1))) AS logp
  FROM (SELECT token, c FROM counts ORDER BY c DESC, token LIMIT {vocab}),
       meta),
scored AS (
  SELECT t.id,
         coalesce(m.logp,
                  (SELECT ln({alpha} / (n + {alpha} * (v + 1))) FROM meta))
         AS lp
  FROM toks t LEFT JOIN model m USING (token)),
per AS (SELECT id, CAST(count(*) AS BIGINT) AS n_tokens,
               round(-avg(lp), 6) AS avg_neg_logp
        FROM scored GROUP BY id),
lm_scores AS (
  SELECT d.doc_id, coalesce(p.n_tokens, 0) AS n_tokens, p.avg_neg_logp
  FROM documents d LEFT JOIN per p ON p.id = d.doc_id)"""


_BOILER_BASE_SQL = """
base AS (
  SELECT doc_id, source || '.example' AS domain,
         CASE WHEN doc_id % 3 <> 0
              THEN 'NAV ' || source || chr(10) ELSE '' END
         || text
         || CASE WHEN doc_id % 5 = 0
                 THEN chr(10) || 'PROMO ' || source ELSE '' END
         || chr(10) || 'FOOT ' || source AS text
  FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL AND source IS NOT NULL),
lines AS (
  SELECT doc_id, domain, i, l[i] AS p
  FROM (SELECT doc_id, domain, l, unnest(generate_series(1, len(l))) AS i
        FROM (SELECT doc_id, domain, string_split(text, chr(10)) AS l
              FROM base))),
cnts AS (SELECT domain, p, count(DISTINCT doc_id) AS n
         FROM lines WHERE len(p) >= 1 GROUP BY domain, p),
tot AS (SELECT domain, count(*) AS t FROM base GROUP BY domain),
bp AS (SELECT c.domain, c.p, c.n, tot.t
       FROM cnts c JOIN tot USING (domain)
       WHERE c.n >= 2 AND c.n >= 0.5 * tot.t)
"""


def _boiler_pages(spark, sf):
    """Planted per-domain boilerplate over documents: NAV in ~2/3 of each
    domain's docs (removed), PROMO in 1/5 (kept), FOOT in all (removed) —
    byte-identical to _BOILER_BASE_SQL's construction."""
    docs = _tbl(spark, sf, "documents").where(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
        & F.col("source").isNotNull())
    did, src = F.col("doc_id"), F.col("source")
    return docs.select(
        "doc_id",
        F.concat(src, F.lit(".example")).alias("domain"),
        F.concat(
            F.when(did % 3 != 0,
                   F.concat(F.lit("NAV "), src, F.lit("\n")))
            .otherwise(F.lit("")),
            F.col("text"),
            F.when(did % 5 == 0, F.concat(F.lit("\nPROMO "), src))
            .otherwise(F.lit("")),
            F.lit("\nFOOT "), src,
        ).alias("text"),
    )


@_q("pipeline_boilerplate_lines", "WITH " + _BOILER_BASE_SQL.strip() + """
SELECT domain, p AS line, CAST(n AS BIGINT) AS n_docs,
       CAST(t AS BIGINT) AS domain_docs
FROM bp
""")
def _p9r(spark, sf):
    """Boilerplate audit table (pipeline/boilerplate.py): per-domain
    frequent lines under the (min_docs=2, min_doc_frac=0.5) rule — the
    two-stage exact distinct count vs DuckDB's count(DISTINCT)."""
    from great_expectations_spark.pipeline.boilerplate import (
        domain_boilerplate_lines)

    return domain_boilerplate_lines(_boiler_pages(spark, sf))


@_q("pipeline_boilerplate_clean", "WITH " + _BOILER_BASE_SQL.strip() + """,
marked AS (
  SELECT l.doc_id, l.i, l.p,
         (len(l.p) = 0 OR bp.p IS NULL) AS keep
  FROM lines l
  LEFT JOIN bp ON bp.domain = l.domain AND bp.p = l.p)
SELECT b.doc_id,
       coalesce(m.text, '') AS text,
       m.n_rm
FROM base b
JOIN (SELECT doc_id,
             string_agg(CASE WHEN keep THEN p END, chr(10) ORDER BY i)
             AS text,
             CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_rm
      FROM marked GROUP BY doc_id) m USING (doc_id)
""")
def _p9s(spark, sf):
    """Boilerplate removal (pipeline/boilerplate.py): every occurrence of
    a domain's frequent lines removed, byte-lossless reassembly of the
    rest — full-table text parity vs the DuckDB replica."""
    from great_expectations_spark.pipeline.boilerplate import (
        domain_boilerplate_removal)

    return domain_boilerplate_removal(
        _boiler_pages(spark, sf), removed_count_col="n_rm",
    ).select("doc_id", "text", "n_rm")


@_q("pipeline_lm_bigram", """
WITH d AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
dd AS (SELECT doc_id, toks, len(toks) AS n FROM d WHERE len(toks) >= 1),
uni AS (SELECT token, count(*) AS c
        FROM (SELECT unnest(toks) AS token FROM dd) GROUP BY token),
meta AS (SELECT (SELECT sum(c) FROM uni) AS n,
                (SELECT count(*) FROM
                 (SELECT 1 FROM uni ORDER BY c DESC, token LIMIT 20)) AS v),
pu AS (SELECT token,
              (CAST(c AS DOUBLE) + 0.5)
              / (CAST(n AS DOUBLE) + 0.5 * (v + 1)) AS pu
       FROM (SELECT token, c FROM uni ORDER BY c DESC, token LIMIT 20),
            meta),
oov AS (SELECT 0.5 / (CAST(n AS DOUBLE) + 0.5 * (v + 1)) AS po FROM meta),
pairs AS (SELECT doc_id,
                 CASE WHEN i = 1 THEN NULL ELSE toks[i - 1] END AS prev,
                 toks[i] AS cur
          FROM (SELECT doc_id, toks,
                       unnest(generate_series(1, n)) AS i FROM dd)),
bigc AS (SELECT prev AS w1, cur AS w2, count(*) AS c12 FROM pairs
         WHERE prev IS NOT NULL GROUP BY prev, cur),
big AS (SELECT b.w1, b.w2, CAST(b.c12 AS DOUBLE) / u.c AS pc
        FROM (SELECT w1, w2, c12 FROM bigc
              ORDER BY c12 DESC, w1, w2 LIMIT 100) b
        JOIN uni u ON u.token = b.w1),
lp AS (SELECT p.doc_id,
              CASE WHEN p.prev IS NULL THEN ln(coalesce(pu.pu, o.po))
                   ELSE ln(0.75 * coalesce(big.pc, 0.0)
                           + 0.25 * coalesce(pu.pu, o.po)) END AS lp
       FROM pairs p CROSS JOIN oov o
       LEFT JOIN pu ON pu.token = p.cur
       LEFT JOIN big ON big.w1 = p.prev AND big.w2 = p.cur),
per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
               round(-avg(lp), 6) AS avg_neg_logp
        FROM lp GROUP BY doc_id)
SELECT d0.doc_id, coalesce(per.n_tokens, 0) AS n_tokens, per.avg_neg_logp
FROM documents d0 LEFT JOIN per ON per.doc_id = d0.doc_id
""")
def _p9q(spark, sf):
    """Interpolated bigram LM (pipeline/lm.py bigram_lm +
    doc_logprob_bigram): vocab 20 of 31 synthetic tokens (OOV exercised),
    bigram table pruned to top 100 (fallback-to-unigram exercised),
    Jelinek-Mercer lam=0.75 — per-doc scores digit-exact vs DuckDB's
    unrolled replica including the first-token unigram rule."""
    from great_expectations_spark.pipeline.lm import (
        bigram_lm, doc_logprob_bigram)

    docs = _tbl(spark, sf, "documents")
    model = bigram_lm(docs, "doc_id", "text", vocab_size=20,
                      bigram_size=100, alpha=0.5)
    return doc_logprob_bigram(docs, model, "doc_id", "text", lam=0.75)


@_q("pipeline_lm_scores", f"""
WITH {_lm_scores_cte()}
SELECT * FROM lm_scores
""")
def _p9g(spark, sf):
    """CCNet-style corpus-trained unigram LM scoring: one token-count
    scan trains the model, one broadcast join + doc-keyed groupBy scores
    every doc. vocab=20 of the 31 synthetic tokens so the OOV path is
    exercised on real rows."""
    from great_expectations_spark.pipeline.lm import doc_logprob, unigram_lm

    docs = _tbl(spark, sf, "documents")
    model = unigram_lm(docs, "doc_id", "text", vocab_size=20, alpha=0.5)
    return doc_logprob(docs, model, "doc_id", "text")


@_q("pipeline_lm_buckets", f"""
WITH {_lm_scores_cte()},
cuts AS (SELECT round(quantile_cont(avg_neg_logp, 1.0/3), 6) AS lo,
                round(quantile_cont(avg_neg_logp, 2.0/3), 6) AS hi
         FROM lm_scores)
SELECT s.doc_id, s.n_tokens, s.avg_neg_logp,
       CASE WHEN s.avg_neg_logp IS NULL THEN NULL
            WHEN s.avg_neg_logp <= c.lo THEN 'head'
            WHEN s.avg_neg_logp <= c.hi THEN 'middle'
            ELSE 'tail' END AS bucket
FROM lm_scores s, cuts c
""")
def _p9h(spark, sf):
    """CCNet head/middle/tail perplexity stratification: exact tercile
    thresholds from ONE bounded agg, CASE assignment — no global-order
    ntile window."""
    from great_expectations_spark.pipeline.lm import (
        doc_logprob, perplexity_buckets, unigram_lm)

    docs = _tbl(spark, sf, "documents")
    model = unigram_lm(docs, "doc_id", "text", vocab_size=20, alpha=0.5)
    return perplexity_buckets(doc_logprob(docs, model, "doc_id", "text"))


def _lm_fused_cte(vocab: int = 20, alpha: float = 0.5) -> str:
    """DuckDB replica of lm_train_and_score: the per-doc (id, token, cnt)
    features drive BOTH the model's token totals and the scoring sums —
    score = -(Σ cnt·logp)/(Σ cnt), the fused path's arithmetic."""
    return f"""
toks AS (
  SELECT id, token FROM (
    SELECT doc_id AS id, unnest(string_split(text, ' ')) AS token
    FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL)
  WHERE token != ''),
feats AS (SELECT id, token, count(*) AS cnt FROM toks GROUP BY id, token),
counts AS (SELECT token, sum(cnt) AS c FROM feats GROUP BY token),
meta AS (SELECT (SELECT sum(c) FROM counts) AS n,
                (SELECT count(*) FROM
                 (SELECT 1 FROM counts ORDER BY c DESC, token LIMIT {vocab}))
                AS v),
model AS (
  SELECT token, ln((c + {alpha}) / (n + {alpha} * (v + 1))) AS logp
  FROM (SELECT token, c FROM counts ORDER BY c DESC, token LIMIT {vocab}),
       meta),
scored AS (
  SELECT f.id, f.cnt,
         coalesce(m.logp,
                  (SELECT ln({alpha} / (n + {alpha} * (v + 1))) FROM meta))
         AS lp
  FROM feats f LEFT JOIN model m USING (token)),
per AS (SELECT id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
               round(-(sum(cnt * lp) / sum(cnt)), 6) AS avg_neg_logp
        FROM scored GROUP BY id),
lm_scores AS (
  SELECT d.doc_id, coalesce(p.n_tokens, 0) AS n_tokens, p.avg_neg_logp
  FROM documents d LEFT JOIN per p ON p.id = d.doc_id)"""


@_q("pipeline_lm_fused", f"""
WITH {_lm_fused_cte()}
SELECT * FROM lm_scores
""")
def _p9i(spark, sf):
    """Fused CCNet train+score: ONE tokenize pass — the checkpointed
    (id, token, cnt) features feed the model's token totals, the
    vocabulary cut, AND the per-doc scoring join (pipeline/lm.py
    lm_train_and_score); the separate unigram_lm + doc_logprob path reads
    the corpus text twice."""
    from great_expectations_spark.pipeline.lm import lm_train_and_score

    docs = _tbl(spark, sf, "documents")
    _model, scores = lm_train_and_score(
        docs, "doc_id", "text", vocab_size=20, alpha=0.5)
    return scores


def _dsir_cte(buckets: int = 512, alpha: float = 1.0,
              target_where: str = "lang = 'en'") -> str:
    """DuckDB replica of pipeline/dsir.py: same unigram+bigram hashed
    features (60-bit md5 bucket), same add-alpha smoothing over the full
    bucket domain, same 6-decimal weight rounding."""
    return f"""
tf AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
       FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL),
grams AS (
  SELECT doc_id, unnest(l) AS g FROM tf
  UNION ALL
  SELECT doc_id,
         unnest(list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1]))
         AS g
  FROM tf),
feats AS (SELECT doc_id,
                 ('0x' || substr(md5(g), 1, 15))::BIGINT % {buckets} AS bucket,
                 count(*) AS cnt
          FROM grams GROUP BY 1, 2),
dom AS (SELECT unnest(range({buckets})) AS bucket),
tc AS (SELECT bucket, sum(cnt) AS c FROM feats
       WHERE doc_id IN (SELECT doc_id FROM documents WHERE {target_where})
       GROUP BY bucket),
qc AS (SELECT bucket, sum(cnt) AS c FROM feats GROUP BY bucket),
tn AS (SELECT coalesce(sum(c), 0) AS n FROM tc),
qn AS (SELECT coalesce(sum(c), 0) AS n FROM qc),
ratio AS (
  SELECT dom.bucket,
         ln((coalesce(tc.c, 0) + {alpha}) / (tn.n + {alpha} * {buckets}))
         - ln((coalesce(qc.c, 0) + {alpha}) / (qn.n + {alpha} * {buckets}))
         AS lr
  FROM dom LEFT JOIN tc ON dom.bucket = tc.bucket
           LEFT JOIN qc ON dom.bucket = qc.bucket, tn, qn),
dsir_w AS (
  SELECT d.doc_id,
         round((SELECT sum(f.cnt * r.lr) FROM feats f
                JOIN ratio r ON f.bucket = r.bucket
                WHERE f.doc_id = d.doc_id), 6) AS logw
  FROM documents d)"""


@_q("pipeline_dsir_weights", f"""
WITH {_dsir_cte()}
SELECT doc_id, logw FROM dsir_w
""")
def _p9i(spark, sf):
    """DSIR (Xie et al. 2023) importance log-weights of every corpus doc
    against an English-subset target: two bucket-distribution scans +
    one broadcast ratio join + one doc-keyed sum."""
    from great_expectations_spark.pipeline.dsir import dsir_log_weights

    docs = _tbl(spark, sf, "documents")
    return dsir_log_weights(
        docs, docs.where(F.col("lang") == "en"), "doc_id", "text",
        buckets=512)


@_q("pipeline_dsir_select", f"""
WITH {_dsir_cte()},
keyed AS (
  SELECT doc_id,
         round(logw + round(-ln(-ln(
             ((('0x' || substr(md5('0' || '|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               % 1000000) / 1000000.0) + 5e-7)), 6), 6) AS k
  FROM dsir_w WHERE logw IS NOT NULL)
SELECT doc_id FROM keyed ORDER BY k DESC, doc_id LIMIT 40
""")
def _p9j(spark, sf):
    """DSIR Gumbel-top-k selection: deterministic per-doc Gumbel noise on
    the importance weight, TakeOrdered top-40 — sampling without
    replacement that replays bit-for-bit on any engine."""
    from great_expectations_spark.pipeline.dsir import dsir_select

    docs = _tbl(spark, sf, "documents")
    return dsir_select(
        docs, docs.where(F.col("lang") == "en"), "doc_id", "text",
        n=40, buckets=512).select("doc_id")


@_q("pipeline_bm25_topk", """
WITH docs AS (SELECT doc_id, text FROM documents
              WHERE doc_id IS NOT NULL AND text IS NOT NULL),
tok AS (SELECT doc_id AS id, token FROM
          (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM docs)
        WHERE token != ''),
post AS (SELECT id, token, count(*) AS tf FROM tok GROUP BY id, token),
dl AS (SELECT id, count(*) AS dl FROM tok GROUP BY id),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
q AS (SELECT doc_id AS query_id,
             array_to_string(list_slice(string_split(text, ' '), 1, 4), ' ')
             AS qtext
      FROM docs WHERE doc_id % 97 = 3),
qt AS (SELECT DISTINCT query_id, token FROM
         (SELECT query_id, unnest(string_split(qtext, ' ')) AS token FROM q)
       WHERE token != ''),
dfreq AS (SELECT token, count(*) AS df FROM post
          WHERE token IN (SELECT token FROM qt) GROUP BY token),
scored AS (
  SELECT qt.query_id, p.id,
         round(sum( ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                    * p.tf * 2.2
                    / (p.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl)) ), 6)
         AS score
  FROM post p
  JOIN qt ON qt.token = p.token
  JOIN dfreq d ON d.token = p.token
  JOIN dl l ON l.id = p.id
  CROSS JOIN stats s
  GROUP BY qt.query_id, p.id),
ranked AS (SELECT query_id, id AS doc_id, score,
                  CAST(row_number() OVER
                       (PARTITION BY query_id ORDER BY score DESC, id)
                       AS INTEGER) AS rank
           FROM scored)
SELECT query_id, doc_id, score, rank FROM ranked WHERE rank <= 5
""")
def _p9t(spark, sf):
    """BM25 top-5 lexical retrieval (pipeline/retrieval.py): ONE postings
    scan semi-joined to the broadcast query vocabulary, df from the hit
    rows, map-combinable per-(query, doc) score sum, two-phase salted
    top-k. Queries are 6 documents' own 4-token prefixes (doc_id % 97 = 3)
    so every query hits; scores round to 6 decimals BEFORE ranking — the
    cross-engine total order."""
    from great_expectations_spark.pipeline.retrieval import bm25_search

    docs = _tbl(spark, sf, "documents")
    queries = (
        docs.where((F.col("doc_id") % 97 == 3) & F.col("text").isNotNull())
        .select(
            F.col("doc_id").alias("query_id"),
            F.array_join(F.slice(F.split(F.col("text"), " "), 1, 4), " ")
            .alias("text"),
        )
    )
    return bm25_search(docs, queries, top_k=5)


_HOST_EDGES_SQL = """
raw AS (
  SELECT 'h' || CAST(doc_id % 37 AS VARCHAR) AS src,
         CASE WHEN doc_id % 11 = 0
              THEN 'sink' || CAST(doc_id % 3 AS VARCHAR)
              ELSE 'h' || CAST((doc_id * doc_id) % 37 AS VARCHAR) END AS dst
  FROM documents WHERE doc_id IS NOT NULL),
e AS (SELECT DISTINCT src, dst FROM raw WHERE src != dst),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)
"""


def _host_edges(spark, sf):
    """Deterministic host-link graph derived from documents: every doc
    links its host h(doc_id % 37) to h(doc_id^2 % 37) (quadratic residues
    => skewed in-degree), and every 11th doc links to one of 3 pure-sink
    hosts that never appear as src => dangling mass. Same arithmetic as
    _HOST_EDGES_SQL."""
    docs = _tbl(spark, sf, "documents").where(F.col("doc_id").isNotNull())
    did = F.col("doc_id")
    return docs.select(
        F.concat(F.lit("h"), (did % 37).cast("string")).alias("src"),
        F.when(
            did % 11 == 0,
            F.concat(F.lit("sink"), (did % 3).cast("string")),
        ).otherwise(
            F.concat(F.lit("h"), ((did * did) % 37).cast("string"))
        ).alias("dst"),
    )


_PR_ITER_SQL = """
c{k} AS (SELECT e.dst AS node, sum(r{p}.r / deg.outdeg) AS c
         FROM e JOIN r{p} ON r{p}.node = e.src JOIN deg ON deg.src = e.src
         GROUP BY e.dst),
m{k} AS (SELECT 1.0 - coalesce(sum(c), 0.0) AS dang FROM c{k}),
r{k} AS (SELECT nodes.node,
                (1.0 - 0.85) / nn.n
                + 0.85 * (coalesce(c{k}.c, 0.0) + m{k}.dang / nn.n) AS r
         FROM nodes CROSS JOIN nn CROSS JOIN m{k}
         LEFT JOIN c{k} ON c{k}.node = nodes.node)"""


@_q("graph_pagerank", "WITH " + _HOST_EDGES_SQL.strip().rstrip() + """,
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS outdeg FROM e GROUP BY src),
r0 AS (SELECT node, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn),"""
    + ",".join(_PR_ITER_SQL.format(k=k, p=k - 1) for k in (1, 2, 3)) + """
SELECT node, round(r, 6) AS rank FROM r3
""")
def _p9m(spark, sf):
    """PageRank (pipeline/graph.py): 3 iterations, damping 0.85, dangling
    mass redistributed as 1 - sum(contributions), ranks rounded to 6
    decimals at the END only — DuckDB unrolls the identical recurrence,
    so the parity check covers degree annotation, the per-iteration
    contribution join/agg, and the dangling scalar."""
    from great_expectations_spark.pipeline.graph import pagerank

    return pagerank(_host_edges(spark, sf), iterations=3, round_to=6)


@_q("graph_degree_stats", "WITH " + _HOST_EDGES_SQL.strip() + """,
od AS (SELECT src AS node, count(*) AS c FROM e GROUP BY src),
ind AS (SELECT dst AS node, count(*) AS c FROM e GROUP BY dst)
SELECT nodes.node,
       CAST(coalesce(od.c, 0) AS BIGINT) AS out_degree,
       CAST(coalesce(ind.c, 0) AS BIGINT) AS in_degree
FROM nodes
LEFT JOIN od ON od.node = nodes.node
LEFT JOIN ind ON ind.node = nodes.node
""")
def _p9n(spark, sf):
    """Single-exchange degree report (pipeline/graph.py degree_stats):
    unioned (node, out, in) increments summed in one map-side-combinable
    groupBy must equal DuckDB's two-agg + join formulation exactly."""
    from great_expectations_spark.pipeline.graph import degree_stats

    return degree_stats(_host_edges(spark, sf))


@_q("pipeline_chunk_windows", """
WITH d AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
dd AS (SELECT doc_id, toks, len(toks) AS n FROM d WHERE len(toks) >= 1),
nc AS (SELECT doc_id, toks, n,
              CASE WHEN n <= 32 THEN 1
                   ELSE 1 + CAST(floor((n - 32 + 23) / 24.0) AS BIGINT)
              END AS num
       FROM dd),
k AS (SELECT doc_id, toks, n,
             unnest(generate_series(0, num - 1)) AS k
      FROM nc)
SELECT doc_id,
       CAST(k AS INTEGER) AS chunk_idx,
       CAST(k * 24 AS BIGINT) AS start_token,
       CAST(least(32, n - k * 24) AS BIGINT) AS n_tokens,
       array_to_string(list_slice(toks, k * 24 + 1, least(k * 24 + 32, n)),
                       ' ') AS chunk_text
FROM k
""")
def _p9o(spark, sf):
    """RAG chunking (pipeline/chunking.py): window 32, overlap 8 over every
    document — chunk boundaries, ragged tails, and the no-pure-suffix-chunk
    count rule all replayed by DuckDB's list arithmetic."""
    from great_expectations_spark.pipeline.chunking import chunk_documents

    docs = _tbl(spark, sf, "documents")
    return chunk_documents(docs, "doc_id", "text", window=32, overlap=8)


@_q("pipeline_chunk_roundtrip", """
SELECT doc_id,
       array_to_string(list_filter(string_split(text, ' '), x -> x <> ''),
                       ' ') AS text
FROM documents
WHERE doc_id IS NOT NULL AND text IS NOT NULL
  AND len(list_filter(string_split(text, ' '), x -> x <> '')) >= 1
""")
def _p9p(spark, sf):
    """Chunk → reassemble must restore every document's token stream
    (token-lossless contract): overlap trimming + the map-side
    sort_array(collect_list(struct)) ordering vs the plain normalized
    text."""
    from great_expectations_spark.pipeline.chunking import (
        chunk_documents, reassemble_chunks)

    docs = _tbl(spark, sf, "documents")
    chunks = chunk_documents(docs, "doc_id", "text", window=32, overlap=8)
    return reassemble_chunks(chunks, "doc_id", overlap=8)


@_q("pipeline_classifier_scores", """
WITH tf AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
            FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL),
grams AS (
  SELECT doc_id, unnest(l) AS g FROM tf
  UNION ALL
  SELECT doc_id,
         unnest(list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])) AS g
  FROM tf),
feats AS (SELECT doc_id,
                 ('0x' || substr(md5(g), 1, 15))::BIGINT % 512 AS bucket,
                 count(*) AS cnt
          FROM grams GROUP BY 1, 2),
tot AS (SELECT doc_id, sum(cnt) AS t FROM feats GROUP BY doc_id),
w AS (SELECT b AS bucket, ((b * 37) % 21 - 10) / 10.0 AS wt
      FROM (SELECT unnest(range(512)) AS b)),
m AS (SELECT f.doc_id, sum((f.cnt / tot.t) * w.wt) AS mgn
      FROM feats f JOIN tot ON f.doc_id = tot.doc_id
                   JOIN w ON f.bucket = w.bucket
      GROUP BY f.doc_id)
SELECT d.doc_id, round(1.0 / (1.0 + exp(-(m.mgn + (-0.1)))), 6) AS score
FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
""")
def _p9k(spark, sf):
    """Quality-classifier scoring (pipeline/classifier.py) against a FIXED
    deterministic weight table — proves the scoring path (hashed features
    -> length normalization -> broadcast weight join -> doc margin ->
    sigmoid) digit-exact in another engine. Training itself is validated
    behaviorally in tests/test_classifier.py (float gradient sums are
    partition-order-dependent, so retrained weights agree to ~1e-12, not
    bitwise)."""
    from great_expectations_spark.pipeline.classifier import classify_docs

    docs = _tbl(spark, sf, "documents")
    weights = spark.range(512).select(
        F.col("id").cast("int").alias("bucket"),
        (((F.col("id") * 37) % 21 - 10) / 10.0).alias("weight"))
    return classify_docs(docs, weights, -0.1, "doc_id", "text", buckets=512)


@_q("pipeline_embedding_neardup", f"""
SELECT id_a, id_b, cosine FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, round({_COS_SQL}, 6) AS cosine
  FROM embeddings a JOIN embeddings b ON a.label = b.label
  WHERE a.vec_id < b.vec_id
) WHERE cosine >= 0.8
""")
def _p10(spark, sf):
    from great_expectations_spark.pipeline.dedup import embedding_neardup_pairs

    emb = _tbl(spark, sf, "embeddings")
    return embedding_neardup_pairs(emb, "vec_id", "embedding", "label", threshold=0.8)


@_q("pipeline_multimodal_features", """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5,
       CASE WHEN octet_length(encode(text)) = 0 THEN NULL
            ELSE CAST(octet_length(encode(text)) % 640 + 1 AS INT) END AS width,
       CASE WHEN octet_length(encode(text)) = 0 THEN NULL
            ELSE CAST((octet_length(encode(text)) * 7) % 480 + 1 AS INT) END AS height,
       CASE WHEN octet_length(encode(text)) = 0 THEN NULL ELSE 3 END AS channels,
       CASE WHEN octet_length(encode(text)) = 0 THEN NULL ELSE 'fake' END AS format
FROM documents WHERE text IS NOT NULL
""")
def _p11(spark, sf):
    from great_expectations_spark.pipeline.multimodal import extract_features, with_fake_payload

    pay = with_fake_payload(_tbl(spark, sf, "documents"), "doc_id", "text")
    return extract_features(pay, "doc_id", "payload")


@_q("pipeline_frame_sample", """
WITH d AS (SELECT doc_id, text, octet_length(encode(text)) AS n
           FROM documents WHERE text IS NOT NULL AND octet_length(encode(text)) > 0),
idx AS (SELECT doc_id, text, n, unnest(range(0, 4)) AS frame_idx FROM d)
SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
       CAST((frame_idx * n) // 4 AS BIGINT) AS frame_offset,
       md5(substr(text, CAST((frame_idx * n) // 4 AS INT) + 1, 16)) AS frame_md5
FROM idx
""")
def _p12(spark, sf):
    from great_expectations_spark.pipeline.multimodal import frame_sample, with_fake_payload

    pay = with_fake_payload(_tbl(spark, sf, "documents"), "doc_id", "text")
    return frame_sample(pay, "doc_id", "payload", k=4)


# ---- profiler ---------------------------------------------------------------


@_q("profile_documents", """
SELECT 'doc_id' AS column, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(coalesce(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END),0) AS BIGINT) AS n_null,
       CAST(min(doc_id) AS DOUBLE) AS min, CAST(max(doc_id) AS DOUBLE) AS max,
       round(avg(doc_id), 6) AS mean
FROM documents
UNION ALL
SELECT 'n_chars', CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END),0) AS BIGINT),
       CAST(min(n_chars) AS DOUBLE), CAST(max(n_chars) AS DOUBLE),
       round(avg(n_chars), 6)
FROM documents
""")
def _prof1(spark, sf):
    from great_expectations_spark.profiler import profile

    docs = _tbl(spark, sf, "documents")
    prof = profile(docs, columns=["doc_id", "n_chars"])
    return prof.select(
        "column", "n_rows", "n_null", "min", "max",
        F.round(F.col("mean"), 6).alias("mean"))


@_q("profiler_format_inference", """
WITH e AS (SELECT strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
                  strftime(ts, '%Y-%m-%d') AS d_s
           FROM events)
SELECT 'text' AS col_name, 'digits' AS candidate,
       CAST(count(text) AS BIGINT) AS nonnull,
       CAST(coalesce(sum(CASE WHEN regexp_matches(text, '\\d+') THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_match
FROM documents
UNION ALL
SELECT 'text', 'decimal', CAST(count(text) AS BIGINT),
       CAST(coalesce(sum(CASE WHEN regexp_matches(text, '-?\\d+(?:\\.\\d*)?') THEN 1 ELSE 0 END), 0) AS BIGINT)
FROM documents
UNION ALL
SELECT 'text', 'general_text', CAST(count(text) AS BIGINT),
       CAST(coalesce(sum(CASE WHEN regexp_matches(text, '[A-Za-z0-9\\.,;:!?()"''%\\-]+') THEN 1 ELSE 0 END), 0) AS BIGINT)
FROM documents
UNION ALL
SELECT 'text', 'leading_space', CAST(count(text) AS BIGINT),
       CAST(coalesce(sum(CASE WHEN regexp_matches(text, '^\\s+') THEN 1 ELSE 0 END), 0) AS BIGINT)
FROM documents
UNION ALL
SELECT 'source', 'digits', CAST(count(source) AS BIGINT),
       CAST(coalesce(sum(CASE WHEN regexp_matches(source, '\\d+') THEN 1 ELSE 0 END), 0) AS BIGINT)
FROM documents
UNION ALL
SELECT 'lang', 'digits', CAST(count(lang) AS BIGINT),
       CAST(coalesce(sum(CASE WHEN regexp_matches(lang, '\\d+') THEN 1 ELSE 0 END), 0) AS BIGINT)
FROM documents
UNION ALL
SELECT 'lang', 'general_text', CAST(count(lang) AS BIGINT),
       CAST(coalesce(sum(CASE WHEN regexp_matches(lang, '[A-Za-z0-9\\.,;:!?()"''%\\-]+') THEN 1 ELSE 0 END), 0) AS BIGINT)
FROM documents
UNION ALL
SELECT 'ts_s', '%Y-%m-%d %H:%M:%S', CAST(count(ts_s) AS BIGINT),
       CAST(coalesce(sum(CASE WHEN try_strptime(ts_s, '%Y-%m-%d %H:%M:%S') IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
FROM e
UNION ALL
SELECT 'ts_s', '%Y-%m-%d', CAST(count(ts_s) AS BIGINT),
       CAST(coalesce(sum(CASE WHEN try_strptime(ts_s, '%Y-%m-%d') IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
FROM e
UNION ALL
SELECT 'd_s', '%Y-%m-%d', CAST(count(d_s) AS BIGINT),
       CAST(coalesce(sum(CASE WHEN try_strptime(d_s, '%Y-%m-%d') IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
FROM e
UNION ALL
SELECT 'd_s', '%H:%M:%S', CAST(count(d_s) AS BIGINT),
       CAST(coalesce(sum(CASE WHEN try_strptime(d_s, '%H:%M:%S') IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
FROM e
""")
def _profinfer(spark, sf):
    # the reference's regex/date-format parameter builders evaluate every
    # candidate's match count (regex_pattern_string_parameter_builder.py:42,
    # simple_date_format_string_parameter_builder.py:104); the oracle
    # recomputes the same hit counts with DuckDB regexp_matches /
    # try_strptime. Candidates restricted to the dialect-stable subset
    # (Java regex and RE2 agree; strptime strict-full-match in both).
    from great_expectations_spark.profiler import infer_formats

    REGEX_LABELS = [
        (r"\d+", "digits"),
        (r"-?\d+(?:\.\d*)?", "decimal"),
        (r"[A-Za-z0-9\.,;:!?()\"'%\-]+", "general_text"),
        (r"^\s+", "leading_space"),
    ]
    docs = _tbl(spark, sf, "documents")
    inf_d = infer_formats(
        docs, ["text", "lang", "source"],
        candidate_regexes=[r for r, _ in REGEX_LABELS], candidate_strings=[])
    ev = (
        _tbl(spark, sf, "events")
        .withColumn("ts_s", F.date_format("ts", "yyyy-MM-dd HH:mm:ss"))
        .withColumn("d_s", F.date_format("ts", "yyyy-MM-dd"))
    )
    STRFS = ["%Y-%m-%d %H:%M:%S", "%Y-%m-%d", "%H:%M:%S"]
    inf_e = infer_formats(
        ev, ["ts_s", "d_s"], candidate_regexes=[], candidate_strings=STRFS)
    rows = []
    for col, cand_label in (
        ("text", "digits"), ("text", "decimal"), ("text", "general_text"),
        ("text", "leading_space"), ("source", "digits"), ("lang", "digits"),
        ("lang", "general_text"),
    ):
        regex = next(r for r, lbl in REGEX_LABELS if lbl == cand_label)
        f = inf_d[col]
        rows.append((col, cand_label, f["nonnull"], f["regex"]["counts"][regex]))
    for col, fmt in (
        ("ts_s", "%Y-%m-%d %H:%M:%S"), ("ts_s", "%Y-%m-%d"),
        ("d_s", "%Y-%m-%d"), ("d_s", "%H:%M:%S"),
    ):
        f = inf_e[col]
        rows.append((col, fmt, f["nonnull"], f["strftime"]["counts"][fmt]))
    return spark.createDataFrame(
        rows, "col_name string, candidate string, nonnull long, n_match long")


@_q("assistant_chunk_metrics", """
SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 4 AS chunk,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(coalesce(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS n_chars__nulls,
       round(avg(n_chars), 6) AS n_chars__mean,
       CAST(min(n_chars) AS BIGINT) AS n_chars__min,
       CAST(max(n_chars) AS BIGINT) AS n_chars__max,
       round(stddev_samp(n_chars), 6) AS n_chars__std,
       CAST(coalesce(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS lang__nulls,
       CAST(min(length(lang)) AS INT) AS lang__len_min,
       CAST(max(length(lang)) AS INT) AS lang__len_max
FROM documents GROUP BY 1
""")
def _assist1(spark, sf):
    # per-batch registry metrics on the profiler's engine-portable md5
    # pseudo-batch key (sketch columns excluded: HLL estimates are
    # engine-specific by design)
    from great_expectations_spark.rule_profiler import (
        _portable_chunk_key, batch_metrics)

    docs = _tbl(spark, sf, "documents")
    names = {
        "n_rows": ("table.row_count", None),
        "n_chars__nulls": ("column_values.null.count", "n_chars"),
        "n_chars__mean": ("column.mean", "n_chars"),
        "n_chars__min": ("column.min", "n_chars"),
        "n_chars__max": ("column.max", "n_chars"),
        "n_chars__std": ("column.standard_deviation", "n_chars"),
        "lang__nulls": ("column_values.null.count", "lang"),
        "lang__len_min": ("column_values.length_min", "lang"),
        "lang__len_max": ("column_values.length_max", "lang"),
    }
    requests = {k: (m, {"column": c} if c else {})
                for k, (m, c) in names.items()}
    rows = batch_metrics(docs, requests, _portable_chunk_key("doc_id", 4))
    m = spark.createDataFrame(
        [(chunk, *(vals[k] for k in names)) for chunk, vals in rows],
        "chunk long, n_rows long, n_chars__nulls long, n_chars__mean double, "
        "n_chars__min long, n_chars__max long, n_chars__std double, "
        "lang__nulls long, lang__len_min int, lang__len_max int")
    return m.select(
        "chunk", "n_rows", "n_chars__nulls",
        F.round("n_chars__mean", 6).alias("n_chars__mean"),
        "n_chars__min", "n_chars__max",
        F.round("n_chars__std", 6).alias("n_chars__std"),
        "lang__nulls", "lang__len_min", "lang__len_max")


@_q("assistant_bootstrap_ranges", """
WITH chunks AS (
  SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 4 AS chunk,
         avg(n_chars) AS m
  FROM documents GROUP BY 1
),
arr AS (SELECT list(m ORDER BY chunk) AS a FROM chunks),
draws AS (
  SELECT t.i // 4 AS r,
         list_extract(arr.a,
           CAST(((69621 * ((48271 * ((t.i + 7) % 2147483647) + 12345)
                  % 2147483647) + 12345) % 2147483647) % 4 AS INT) + 1) AS v
  FROM arr, range(2000) t(i)
),
per_r AS (SELECT r, list_sort(list(v)) AS s FROM draws GROUP BY r),
qs AS (
  SELECT r,
    list_extract(s,1) + (0.1/2.0*3 - floor(0.1/2.0*3))
      * (list_extract(s,2) - list_extract(s,1)) AS qlo,
    list_extract(s,3) + ((1.0-0.1/2.0)*3 - floor((1.0-0.1/2.0)*3))
      * (list_extract(s,4) - list_extract(s,3)) AS qhi
  FROM per_r
),
samp AS (
  SELECT list_extract(s,1) + (0.1/2.0*3 - floor(0.1/2.0*3))
           * (list_extract(s,2) - list_extract(s,1)) AS sq_lo,
         list_extract(s,3) + ((1.0-0.1/2.0)*3 - floor((1.0-0.1/2.0)*3))
           * (list_extract(s,4) - list_extract(s,3)) AS sq_hi,
         list_extract(s,1) AS mn, list_extract(s,4) AS mx
  FROM (SELECT list_sort(a) AS s FROM arr)
),
agg AS (SELECT avg(qlo) AS mlo, stddev_pop(qlo) AS slo,
               avg(qhi) AS mhi, stddev_pop(qhi) AS shi FROM qs)
SELECT 'bootstrap' AS estimator,
  round(CASE WHEN slo > 0 AND (mlo - sq_lo)/slo <= 0.25 THEN mlo ELSE sq_lo END, 6) AS lo,
  round(CASE WHEN shi > 0 AND (mhi - sq_hi)/shi <= 0.25 THEN mhi ELSE sq_hi END, 6) AS hi
FROM agg, samp
UNION ALL
SELECT 'quantiles', round(sq_lo, 6), round(sq_hi, 6) FROM samp
UNION ALL
SELECT 'exact', round(mn, 6), round(mx, 6) FROM samp
""")
def _assist2(spark, sf):
    # the reference parameter-builder's numeric-range estimators
    # (numeric_metric_range_multi_batch_parameter_builder.py:86) over the
    # per-chunk mean of documents.n_chars. The bootstrap's deterministic
    # LCG resampler (assistant._resample_index) is what makes the SQL
    # reproduction possible — the oracle replays the full resample-
    # quantile-bias pipeline and must agree digit-for-digit at round-6.
    from great_expectations_spark.assistant import estimate_range
    from great_expectations_spark.rule_profiler import (
        _portable_chunk_key, batch_metrics)

    docs = _tbl(spark, sf, "documents")
    rows = batch_metrics(docs, {"m": ("column.mean", {"column": "n_chars"})},
                         _portable_chunk_key("doc_id", 4))
    vals = [v["m"] for _, v in rows]  # batch-id order
    out = []
    for est in ("bootstrap", "quantiles", "exact"):
        lo, hi = estimate_range(
            vals, estimator=est, false_positive_rate=0.1,
            n_resamples=500, seed=7)
        out.append((est, round(lo, 6), round(hi, 6)))
    return spark.createDataFrame(out, "estimator string, lo double, hi double")


# ---- query-metric escape hatch ----------------------------------------------


@_q("query_metric_lang_counts", """
SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents
WHERE lang IS NOT NULL GROUP BY lang
""")
def _qm1(spark, sf):
    from great_expectations_spark.functions.querymetrics import run_query

    docs = _tbl(spark, sf, "documents")
    return run_query(
        docs,
        "SELECT {column} AS lang, CAST(count(*) AS BIGINT) AS n FROM {active_batch} "
        "WHERE {column} IS NOT NULL GROUP BY {column}",
        column="lang",
    )


# ---- skew-safe aggregation ---------------------------------------------------


@_q("salted_value_counts_lang", """
SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents
WHERE lang IS NOT NULL GROUP BY lang
""")
def _sk1(spark, sf):
    from great_expectations_spark.functions.skew import skew_safe_value_counts

    docs = _tbl(spark, sf, "documents")
    return skew_safe_value_counts(docs, "lang").select(
        "lang", F.col("n").cast("long").alias("n"))


# ---- checkpointed (per-partition lineage) validation ------------------------


@_q("checkpoint_per_lang", """
WITH base AS (
  SELECT CASE WHEN lang IS NULL THEN 'lang=__null__' ELSE 'lang=' || lang END AS chunk_id,
         count(*) AS ec,
         coalesce(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END), 0) AS nulls,
         coalesce(sum(CASE WHEN text IS NOT NULL
                       AND NOT (length(text) BETWEEN 48 AND 300) THEN 1 ELSE 0 END), 0) AS badlen
  FROM documents GROUP BY lang
)
SELECT chunk_id, 0 AS expectation_index,
       CAST(ec AS BIGINT) AS element_count, CAST(0 AS BIGINT) AS missing_count,
       CAST(nulls AS BIGINT) AS unexpected_count,
       CASE WHEN ec <= 0 THEN TRUE
            ELSE (CAST(ec - nulls AS DOUBLE) / ec) >= 0.9 END AS success
FROM base
UNION ALL
SELECT chunk_id, 1 AS expectation_index,
       CAST(ec AS BIGINT) AS element_count, CAST(nulls AS BIGINT) AS missing_count,
       CAST(badlen AS BIGINT) AS unexpected_count,
       CASE WHEN ec - nulls <= 0 THEN TRUE
            ELSE (CAST(ec - nulls - badlen AS DOUBLE) / (ec - nulls)) >= 0.5 END AS success
FROM base
""")
def _cp1(spark, sf):
    import tempfile

    from great_expectations_spark.checkpoint import Splitter, run_checkpoint

    docs = _tbl(spark, sf, "documents")
    suite = (
        ExpectationSuite(name="cp_lang")
        .add("expect_column_values_to_not_be_null", column="text", mostly=0.9)
        .add("expect_column_value_lengths_to_be_between",
             column="text", min_value=48, max_value=300, mostly=0.5)
    )
    path = tempfile.mkdtemp(prefix="ges_cp_") + "/results"
    res = run_checkpoint(docs, suite, Splitter.column_value(docs, "lang"), path, run_id="q")
    return res.results_df.select(
        "chunk_id", "expectation_index", "element_count", "missing_count",
        "unexpected_count", "success")


# ---- round-2 additions: caps, URN chaining, splitters, table.head ----------


@_q("distinct_values_overflow", """
SELECT (count(DISTINCT doc_id) > 100) AS overflowed,
       CAST(least(count(DISTINCT doc_id), 200) > 100 AS BOOLEAN) AS guard_consistent
FROM documents
""")
def _r2a(spark, sf):
    # cap guard: >cap distinct values must fail with exception_info, never
    # ship the set to the driver (Options.distinct_set_cap applied via
    # F.slice + HLL++ guard in the fused agg)
    from great_expectations_spark.plans.compiler import Options

    docs = _tbl(spark, sf, "documents")
    suite = ExpectationSuite("ov").add(
        "expect_column_distinct_values_to_be_in_set", column="doc_id", value_set=[1])
    res = validate(docs, suite, options=Options(distinct_set_cap=100))
    evr = res.results[0]
    overflowed = bool(evr.exception_info["raised_exception"])
    return spark.createDataFrame(
        [(overflowed, overflowed)], "overflowed boolean, guard_consistent boolean")


@_q("eval_param_chain", """
WITH c AS (SELECT count(*) AS n FROM customer),
     o AS (SELECT count(*) AS n FROM orders)
SELECT CAST(o.n AS BIGINT) AS observed,
       (o.n >= c.n * 0.1 AND o.n <= c.n * 100) AS success
FROM c, o
""")
def _r2b(spark, sf):
    # cross-suite URN chaining: orders row count judged against bounds
    # computed from the customer suite's observed row count
    customer = _tbl(spark, sf, "customer")
    orders = _tbl(spark, sf, "orders")
    up = validate(customer, ExpectationSuite("customer_suite").add(
        "expect_table_row_count_to_be_between", min_value=0))
    urn = ("urn:great_expectations:validations:customer_suite:"
           "expect_table_row_count_to_be_between.result.observed_value")
    down_suite = ExpectationSuite("orders_suite").add(
        "expect_table_row_count_to_be_between",
        min_value={"$PARAMETER": f"{urn} * 0.1"},
        max_value={"$PARAMETER": f"{urn} * 100"})
    down = validate(orders, down_suite, validation_results={"customer_suite": up})
    r = down.results[0]
    return spark.createDataFrame(
        [(int(r.result["observed_value"]), bool(r.success))],
        "observed long, success boolean")


@_q("checkpoint_mod_chunks", """
WITH base AS (
  SELECT CAST(doc_id % 4 AS INT) AS bucket, count(*) AS ec,
         coalesce(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END), 0) AS nulls
  FROM documents WHERE doc_id IS NOT NULL GROUP BY 1
)
SELECT 'doc_id%4=' || bucket AS chunk_id,
       CAST(ec AS BIGINT) AS element_count,
       CAST(nulls AS BIGINT) AS unexpected_count,
       CASE WHEN ec <= 0 THEN TRUE
            ELSE (CAST(ec - nulls AS DOUBLE) / ec) >= 0.9 END AS success
FROM base
UNION ALL
SELECT 'doc_id%4=__null__',
       CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT),
       TRUE
FROM documents WHERE doc_id IS NULL
""")
def _r2c(spark, sf):
    import tempfile

    from great_expectations_spark.checkpoint import Splitter, run_checkpoint

    docs = _tbl(spark, sf, "documents")
    suite = ExpectationSuite("cp_mod").add(
        "expect_column_values_to_not_be_null", column="text", mostly=0.9)
    path = tempfile.mkdtemp(prefix="ges_cpm_") + "/results"
    res = run_checkpoint(docs, suite, Splitter.mod_integer("doc_id", 4), path, run_id="q")
    return res.results_df.select(
        "chunk_id", "element_count", "unexpected_count", "success")


@_q("rollup_whole_table", """
WITH s AS (
  SELECT count(*) AS ec,
         coalesce(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END), 0) AS mc,
         coalesce(sum(CASE WHEN text IS NOT NULL
                       AND NOT (length(text) BETWEEN 48 AND 300) THEN 1 ELSE 0 END), 0) AS uc
  FROM documents)
SELECT CAST(ec AS BIGINT) AS element_count, CAST(mc AS BIGINT) AS missing_count,
       CAST(uc AS BIGINT) AS unexpected_count,
       CASE WHEN ec - mc <= 0 THEN TRUE
            ELSE (CAST(ec - mc - uc AS DOUBLE) / (ec - mc)) >= 0.5 END AS success
FROM s
""")
def _r2d(spark, sf):
    # rollup re-derives the map-expectation verdict from SUMMED per-chunk
    # counts (whole-table semantics), matching an unchunked oracle exactly
    import tempfile

    from great_expectations_spark.checkpoint import Splitter, run_checkpoint

    docs = _tbl(spark, sf, "documents")
    suite = ExpectationSuite("cp_roll").add(
        "expect_column_value_lengths_to_be_between",
        column="text", min_value=48, max_value=300, mostly=0.5)
    path = tempfile.mkdtemp(prefix="ges_cpr_") + "/results"
    res = run_checkpoint(docs, suite, Splitter.column_value(docs, "lang"), path, run_id="q")
    return res.rollup().select(
        "element_count", "missing_count", "unexpected_count", "success")


@_q("rollup_merged_aggregates", """
WITH s AS (
  SELECT avg(l_quantity) AS mq, sum(l_quantity) AS sq,
         min(l_discount) AS mind, max(l_tax) AS maxt,
         stddev_samp(l_quantity) AS sdq, count(*) AS n
  FROM lineitem)
SELECT 0 AS expectation_index, round(mq, 6) AS obs,
       (mq >= 1 AND mq <= 50) AS success FROM s
UNION ALL SELECT 1, round(sq, 6), sq >= 1 FROM s
UNION ALL SELECT 2, round(mind, 6), mind >= 0 AND mind <= 1 FROM s
UNION ALL SELECT 3, round(maxt, 6), maxt <= 1 FROM s
UNION ALL SELECT 4, round(sdq, 6), sdq >= 0.1 AND sdq <= 50 FROM s
UNION ALL SELECT 5, round(CAST(n AS DOUBLE), 6), n >= 1 FROM s
""")
def _r2h(spark, sf):
    # aggregate expectations validated chunk-by-chunk (split on
    # l_returnflag), then merged back to EXACT whole-table observed values
    # + verdicts via the per-chunk monoid state — l_quantity is
    # integer-valued so the summed partials are exact in double and match
    # DuckDB's whole-table aggregates digit-for-digit
    import tempfile

    from great_expectations_spark.checkpoint import Splitter, run_checkpoint

    li = _tbl(spark, sf, "lineitem")
    suite = (
        ExpectationSuite("roll_agg")
        .add("expect_column_mean_to_be_between", column="l_quantity",
             min_value=1, max_value=50)
        .add("expect_column_sum_to_be_between", column="l_quantity", min_value=1)
        .add("expect_column_min_to_be_between", column="l_discount",
             min_value=0, max_value=1)
        .add("expect_column_max_to_be_between", column="l_tax", max_value=1)
        .add("expect_column_stdev_to_be_between", column="l_quantity",
             min_value=0.1, max_value=50)
        .add("expect_table_row_count_to_be_between", min_value=1)
    )
    path = tempfile.mkdtemp(prefix="ges_cpa_") + "/results"
    res = run_checkpoint(li, suite, Splitter.column_value(li, "l_returnflag"),
                         path, run_id="q")
    return res.rollup().select(
        "expectation_index",
        F.round(F.col("merged_observed_json").cast("double"), 6).alias("obs"),
        "success")


@_q("rollup_merged_quantiles", """
WITH s AS (
  SELECT quantile_cont(l_quantity, 0.5) AS med,
         quantile_cont(l_extendedprice, 0.25) AS q1,
         quantile_cont(l_extendedprice, 0.5) AS q2,
         quantile_cont(l_extendedprice, 0.75) AS q3
  FROM lineitem)
SELECT 0 AS expectation_index,
       (med >= 20 AND med <= 30) AS success, FALSE AS chunk_scoped FROM s
UNION ALL SELECT 1,
       (q1 >= 15000 AND q1 <= 40000 AND q2 >= 40000 AND q2 <= 65000
        AND q3 >= 65000 AND q3 <= 95000), FALSE FROM s
UNION ALL SELECT 2, (med >= 1 AND med <= 5), FALSE FROM s
""")
def _r2q(spark, sf):
    # median/quantile expectations validated chunk-by-chunk, merged via the
    # KLL sketch monoid (kll_merge_agg_double across chunks). Merged VALUES
    # are sketch-approximate, so the oracle compares VERDICTS only, with
    # bounds whose margins (>=5 on l_quantity, >=10k on l_extendedprice)
    # dwarf the k=800 sketch's ~0.4% rank error — verdict parity is robust.
    # Index 2 is a deliberately failing bound: fidelity both ways.
    import tempfile

    from great_expectations_spark.checkpoint import Splitter, run_checkpoint

    li = _tbl(spark, sf, "lineitem")
    suite = (
        ExpectationSuite("roll_q")
        .add("expect_column_median_to_be_between", column="l_quantity",
             min_value=20, max_value=30)
        .add("expect_column_quantile_values_to_be_between",
             column="l_extendedprice",
             quantile_ranges={"quantiles": [0.25, 0.5, 0.75],
                              "value_ranges": [[15000, 40000],
                                               [40000, 65000],
                                               [65000, 95000]]})
        .add("expect_column_median_to_be_between", column="l_quantity",
             min_value=1, max_value=5)
    )
    path = tempfile.mkdtemp(prefix="ges_cpq_") + "/results"
    res = run_checkpoint(li, suite, Splitter.column_value(li, "l_returnflag"),
                         path, run_id="q")
    return res.rollup().select("expectation_index", "success", "chunk_scoped")


@_q("history_metric_series", """
WITH per AS (
  SELECT CAST(event_id % 3 AS INT) AS k, count(*) AS ec,
         sum(CASE WHEN NOT (value BETWEEN 0 AND 50) THEN 1 ELSE 0 END) AS uc,
         avg(value) AS m
  FROM events GROUP BY 1
)
SELECT 'run' || k AS run_id, 0 AS expectation_index,
       'unexpected_percent' AS metric_name,
       round(uc * 100.0 / ec, 6) AS value,
       (CAST(ec - uc AS DOUBLE) / ec) >= 0.3 AS success
FROM per
UNION ALL
SELECT 'run' || k, 1, 'observed_value', round(m, 6),
       (m >= 0 AND m <= 1000000) FROM per
UNION ALL
SELECT 'run' || k, 2, 'observed_value', round(CAST(ec AS DOUBLE), 6),
       ec >= 1 FROM per
""")
def _hist1(spark, sf):
    # three checkpointed runs over disjoint slices of events; the cross-run
    # metric series re-derives each run's whole-run metrics from the results
    # table alone (summed map counts; monoid-merged aggregates)
    import tempfile

    from great_expectations_spark.checkpoint import Splitter, run_checkpoint
    from great_expectations_spark.history import metric_series

    ev = _tbl(spark, sf, "events")
    suite = (
        ExpectationSuite("hist")
        .add("expect_column_values_to_be_between", column="value",
             min_value=0, max_value=50, mostly=0.3)
        .add("expect_column_mean_to_be_between", column="value",
             min_value=0, max_value=1_000_000)
        .add("expect_table_row_count_to_be_between", min_value=1)
    )
    path = tempfile.mkdtemp(prefix="ges_hist_") + "/results"
    res = None
    for k in range(3):
        res = run_checkpoint(
            ev.where(F.pmod(F.col("event_id"), F.lit(3)) == k), suite,
            Splitter.mod_integer("user_id", 2), path, run_id=f"run{k}")
    return metric_series(res.results_df).select(
        "run_id", "expectation_index", "metric_name",
        F.round("value", 6).alias("value"), "success")


@_q("history_drift_flags", """
WITH per AS (
  SELECT CAST(event_id % 4 AS INT) AS k,
         avg(value + CASE WHEN event_id % 4 = 3 THEN 1000 ELSE 0 END) AS m
  FROM events GROUP BY 1
), win AS (
  SELECT 'run' || k AS run_id, m,
         count(m) OVER w AS n_prior,
         avg(m) OVER w AS tm,
         stddev_samp(m) OVER w AS ts
  FROM per
  WINDOW w AS (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT run_id, round(m, 6) AS value, CAST(n_prior AS BIGINT) AS n_prior,
       round((m - tm) / nullif(ts, 0), 4) AS zscore,
       coalesce(n_prior >= 2 AND abs((m - tm) / nullif(ts, 0)) > 3, FALSE)
         AS drifted
FROM win
""")
def _hist2(spark, sf):
    # four runs, the last over a value-shifted slice: flag_drift scores each
    # run against its trailing history per expectation (windowed BY
    # expectation, never a global sort) and flags only the planted shift
    import tempfile

    from great_expectations_spark.checkpoint import Splitter, run_checkpoint
    from great_expectations_spark.history import flag_drift, metric_series

    ev = _tbl(spark, sf, "events")
    suite = ExpectationSuite("drift").add(
        "expect_column_mean_to_be_between", column="value",
        min_value=0, max_value=1_000_000)
    path = tempfile.mkdtemp(prefix="ges_drift_") + "/results"
    res = None
    for k in range(4):
        chunk = ev.where(F.pmod(F.col("event_id"), F.lit(4)) == k)
        if k == 3:
            chunk = chunk.withColumn("value", F.col("value") + 1000)
        res = run_checkpoint(chunk, suite, Splitter.mod_integer("user_id", 2),
                             path, run_id=f"run{k}")
    d = flag_drift(metric_series(res.results_df), z_threshold=3.0,
                   min_history=2, order_by=["run_id"])
    return d.select(
        "run_id", F.round("value", 6).alias("value"), "n_prior",
        F.round("zscore", 4).alias("zscore"), "drifted")


@_q("grouped_validate_lang", """
WITH g AS (
  SELECT lang, count(*) AS ec,
    sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS null_text,
    sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS miss_nc,
    sum(CASE WHEN n_chars IS NOT NULL
         AND NOT (n_chars BETWEEN 50 AND 400) THEN 1 ELSE 0 END) AS uc_nc,
    avg(n_chars) AS mean_nc
  FROM documents GROUP BY lang
)
SELECT lang, 0 AS expectation_index, CAST(ec AS BIGINT) AS element_count,
       CAST(0 AS BIGINT) AS missing_count,
       CAST(null_text AS BIGINT) AS unexpected_count,
       CAST(NULL AS DOUBLE) AS observed_value,
       CASE WHEN ec <= 0 THEN TRUE
            ELSE (CAST(ec - null_text AS DOUBLE) / ec) >= 0.9 END AS success
FROM g
UNION ALL
SELECT lang, 1, CAST(ec AS BIGINT), CAST(miss_nc AS BIGINT),
       CAST(uc_nc AS BIGINT), CAST(NULL AS DOUBLE),
       CASE WHEN ec - miss_nc <= 0 THEN TRUE
            ELSE (CAST(ec - miss_nc - uc_nc AS DOUBLE) / (ec - miss_nc)) >= 0.5
       END
FROM g
UNION ALL
SELECT lang, 2, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       CAST(NULL AS BIGINT), round(mean_nc, 6),
       coalesce(mean_nc >= 0 AND mean_nc <= 10000, FALSE)
FROM g
UNION ALL
SELECT lang, 3, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       CAST(NULL AS BIGINT), round(CAST(ec AS DOUBLE), 6), ec >= 1
FROM g
""")
def _grp1(spark, sf):
    # per-group suite verdicts in ONE groupBy-agg scan (the reference carves
    # k batches = k scans); result stays a DataFrame — group cardinality
    # unbounded
    from great_expectations_spark.grouped import validate_by

    docs = _tbl(spark, sf, "documents")
    suite = (
        ExpectationSuite("grp")
        .add("expect_column_values_to_not_be_null", column="text", mostly=0.9)
        .add("expect_column_values_to_be_between", column="n_chars",
             min_value=50, max_value=400, mostly=0.5)
        .add("expect_column_mean_to_be_between", column="n_chars",
             min_value=0, max_value=10000)
        .add("expect_table_row_count_to_be_between", min_value=1)
    )
    out = validate_by(docs, suite, ["lang"])
    return out.select(
        "lang", "expectation_index", "element_count", "missing_count",
        "unexpected_count", F.round("observed_value", 6).alias("observed_value"),
        "success")


@_q("grouped_unique_lang", """
WITH c AS (
  SELECT lang, source, count(*) AS n FROM documents
  WHERE source IS NOT NULL GROUP BY lang, source
), dup AS (
  SELECT lang, sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS uc FROM c GROUP BY lang
), base AS (
  SELECT lang, count(*) AS ec,
         sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS mc
  FROM documents GROUP BY lang
)
SELECT b.lang, CAST(b.ec AS BIGINT) AS element_count,
       CAST(b.mc AS BIGINT) AS missing_count,
       CAST(coalesce(d.uc, 0) AS BIGINT) AS unexpected_count,
       CASE WHEN b.ec - b.mc <= 0 THEN TRUE
            ELSE (CAST(b.ec - b.mc - coalesce(d.uc, 0) AS DOUBLE)
                  / (b.ec - b.mc)) >= 0.001 END AS success
FROM base b LEFT JOIN dup d ON b.lang IS NOT DISTINCT FROM d.lang
""")
def _grpu(spark, sf):
    # uniqueness WITHIN group (source unique per lang): its own two-stage
    # (keys, value) shuffle joined back null-safely
    from great_expectations_spark.grouped import validate_by

    docs = _tbl(spark, sf, "documents")
    suite = ExpectationSuite("gu").add(
        "expect_column_values_to_be_unique", column="source", mostly=0.001)
    return validate_by(docs, suite, ["lang"]).select(
        "lang", "element_count", "missing_count", "unexpected_count", "success")


@_q("grouped_violation_rows", """
SELECT lang, CAST(doc_id AS BIGINT) AS doc_id
FROM documents WHERE doc_id < 10
""")
def _grpv(spark, sf):
    # per-(group, expectation) violation rows in one extra scan: only
    # violating rows shuffle, two-phase top-k caps each group without a
    # single-task hotspot
    from great_expectations_spark.grouped import violations_by

    docs = _tbl(spark, sf, "documents")
    suite = ExpectationSuite("gv").add(
        "expect_column_values_to_be_between", column="doc_id", min_value=10)
    out = violations_by(docs, suite, ["lang"], k=20)
    return out.select(
        "lang", F.col("unexpected_value").cast("long").alias("doc_id"))


@_q("raw_metrics_fused", """
SELECT CAST(count(*) AS BIGINT) AS n,
       round(avg(l_quantity), 6) AS mean_qty,
       round(min(l_extendedprice), 6) AS min_price,
       round(max(l_extendedprice), 6) AS max_price,
       CAST(count(DISTINCT l_returnflag) AS BIGINT) AS rf_distinct,
       CAST(sum(CASE WHEN l_discount >= 0.05 AND l_discount <= 0.07
                THEN 1 ELSE 0 END) AS BIGINT) AS disc_between
FROM lineitem
""")
def _raw1(spark, sf):
    # entry point D (raw metrics, no expectation): every metric below rides
    # ONE fused df.agg scan — the reference resolves each as its own
    # validation-graph wave (validator/metrics_calculator.py:57-106)
    from great_expectations_spark.interactive import get_metrics

    li = _tbl(spark, sf, "lineitem")
    out = get_metrics(li, {
        "n": ("table.row_count", {}),
        "mean_qty": ("column.mean", {"column": "l_quantity"}),
        "min_price": ("column.min", {"column": "l_extendedprice"}),
        "max_price": ("column.max", {"column": "l_extendedprice"}),
        "rf_distinct": ("column.distinct_values.count", {"column": "l_returnflag"}),
        "disc_between": ("column.values_between.count",
                         {"column": "l_discount",
                          "min_value": 0.05, "max_value": 0.07}),
    })
    return spark.createDataFrame(
        [(out["n"], round(float(out["mean_qty"]), 6),
          round(float(out["min_price"]), 6), round(float(out["max_price"]), 6),
          out["rf_distinct"], out["disc_between"])],
        "n long, mean_qty double, min_price double, max_price double, "
        "rf_distinct long, disc_between long")


@_q("agg_median_price", """
SELECT round(quantile_cont(l_extendedprice, 0.5), 6) AS observed,
       (quantile_cont(l_extendedprice, 0.5) >= 40000
        AND quantile_cont(l_extendedprice, 0.5) <= 65000) AS success
FROM lineitem
""")
def _med1(spark, sf):
    # exact interpolated median (F.percentile averages the two middle
    # elements on even counts, same as quantile_cont) — digit-level oracle
    # for the path VERDICT r1 flagged as fixtures-only
    r = _one(_tbl(spark, sf, "lineitem"), "expect_column_median_to_be_between",
             column="l_extendedprice", min_value=40000, max_value=65000)
    return _obs_result(spark, r, round_to=6)


@_q("kl_continuous_value", """
WITH b AS (
  SELECT count(value) AS n,
    sum(CASE WHEN value >= 0 AND value < 50 THEN 1 ELSE 0 END) AS c0,
    sum(CASE WHEN value >= 50 AND value < 100 THEN 1 ELSE 0 END) AS c1,
    sum(CASE WHEN value >= 100 AND value < 200 THEN 1 ELSE 0 END) AS c2,
    sum(CASE WHEN value >= 200 AND value <= 500 THEN 1 ELSE 0 END) AS c3
  FROM events WHERE value IS NOT NULL
), p AS (
  SELECT c0 / CAST(n AS DOUBLE) AS p0, c1 / CAST(n AS DOUBLE) AS p1,
         c2 / CAST(n AS DOUBLE) AS p2, c3 / CAST(n AS DOUBLE) AS p3
  FROM b
), kl AS (
  SELECT CASE WHEN p0 > 0 THEN p0 * ln(p0 / 0.4) ELSE 0 END
       + CASE WHEN p1 > 0 THEN p1 * ln(p1 / 0.3) ELSE 0 END
       + CASE WHEN p2 > 0 THEN p2 * ln(p2 / 0.2) ELSE 0 END
       + CASE WHEN p3 > 0 THEN p3 * ln(p3 / 0.1) ELSE 0 END AS v
  FROM p
)
SELECT round(v, 6) AS observed, (v <= 0.5) AS success FROM kl
""")
def _klc1(spark, sf):
    # continuous-KL against an explicit partition object: histogram bucket
    # sums fused into the single agg pass ([lo,hi) bins, last bin closed),
    # KL(observed || expected) on the driver — digit-level oracle for the
    # continuous path (the categorical path has oracle:kl_divergence_lang)
    r = _one(_tbl(spark, sf, "events"),
             "expect_column_kl_divergence_to_be_less_than", column="value",
             partition_object={"bins": [0, 50, 100, 200, 500],
                               "weights": [0.4, 0.3, 0.2, 0.1]},
             threshold=0.5)
    return _obs_result(spark, r, round_to=6)


@_q("checkpoint_violation_rows", """
SELECT doc_id FROM documents WHERE doc_id < 10
""")
def _cpv(spark, sf):
    # violation ROWS persisted per chunk (north rule: per-partition pass/fail
    # plus unexpected-value rows in the results table), exploded back out by
    # violation_samples across all lang chunks
    import tempfile

    from great_expectations_spark.checkpoint import Splitter, run_checkpoint

    docs = _tbl(spark, sf, "documents")
    suite = ExpectationSuite("viol").add(
        "expect_column_values_to_be_between", column="doc_id", min_value=10)
    path = tempfile.mkdtemp(prefix="ges_viol_") + "/results"
    res = run_checkpoint(docs, suite, Splitter.column_value(docs, "lang"),
                         path, run_id="q", result_format="SUMMARY")
    return res.violation_samples().select(
        F.col("unexpected_value").cast("long").alias("doc_id"))


@_q("table_head_docs", """
SELECT doc_id, lang FROM documents ORDER BY doc_id LIMIT 5
""")
def _r2e(spark, sf):
    from great_expectations_spark.sources.readers import table_head

    docs = _tbl(spark, sf, "documents")
    rows = table_head(docs.orderBy("doc_id").select("doc_id", "lang"), n_rows=5)
    return spark.createDataFrame(
        [(r["doc_id"], r["lang"]) for r in rows], "doc_id long, lang string")


@_q("pipeline_token_counts", r"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text,
            '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+'))
            AS INT) AS n_bpe_tokens
FROM documents WHERE text IS NOT NULL
""")
def _r2g(spark, sf):
    from great_expectations_spark.pipeline.textstats import token_count, token_count_bpe

    docs = _tbl(spark, sf, "documents").where(F.col("text").isNotNull())
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_ws_tokens"),
        token_count_bpe(F.col("text")).alias("n_bpe_tokens"))


def _lsh_bucket_stats_oracle() -> str:
    # same signature pipeline as the minhash oracle, aggregated per bucket
    bq = _bands_subquery("documents")
    return f"""
SELECT band, bucket, CAST(count(*) AS BIGINT) AS n_docs
FROM {bq} t GROUP BY band, bucket HAVING count(*) >= 2
"""


@_q("pipeline_lsh_bucket_stats", _lsh_bucket_stats_oracle())
def _r2f(spark, sf):
    from great_expectations_spark.pipeline.dedup import lsh_hot_buckets

    return lsh_hot_buckets(_tbl(spark, sf, "documents"), "doc_id", "text",
                           min_bucket_size=2)


@_q("pipeline_heavy_hitters", """
WITH n AS (SELECT count(*) AS total FROM documents)
SELECT lang AS value, count(*) AS cnt,
       ROUND(CAST(count(*) AS DOUBLE) / (SELECT total FROM n), 6) AS fraction
FROM documents WHERE lang IS NOT NULL
GROUP BY lang
HAVING count(*) >= CEIL(0.05 * (SELECT total FROM n))
""")
def _hh1(spark, sf):
    from great_expectations_spark.pipeline.heavyhitters import heavy_hitters

    return heavy_hitters(_tbl(spark, sf, "documents"), "lang", 0.05)


def _cms_oracle(depth: int = 3, width: int = 64) -> str:
    arms = " UNION ALL ".join(
        f"SELECT CAST({j} AS INT) AS j, "
        f"(('0x' || substr(md5('{j}:' || lang), 1, 15))::BIGINT % {width}) AS bucket "
        "FROM documents WHERE lang IS NOT NULL"
        for j in range(depth)
    )
    return f"SELECT j, bucket, count(*) AS cnt FROM ({arms}) GROUP BY j, bucket"


@_q("pipeline_cms_table", _cms_oracle())
def _hh2(spark, sf):
    from great_expectations_spark.pipeline.heavyhitters import count_min_table

    return count_min_table(_tbl(spark, sf, "documents"), "lang",
                           depth=3, width=64, hash_mode="md5")


@_q("drift_kl_windows", """
WITH w AS (
  SELECT CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS ws_epoch,
         count(event_type) AS element_count,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c0,
         sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS c1,
         sum(CASE WHEN event_type IS NOT NULL
                   AND event_type NOT IN ('click', 'view')
                  THEN 1 ELSE 0 END) AS other_count
  FROM events WHERE ts IS NOT NULL GROUP BY 1
),
kl AS (
  SELECT ws_epoch, element_count, other_count,
    (CASE WHEN c0 > 0 THEN (CAST(c0 AS DOUBLE) / element_count)
          * LN((CAST(c0 AS DOUBLE) / element_count)
               / (CASE WHEN other_count > 0 THEN 0.4 ELSE 0.5 END)) ELSE 0 END)
    + (CASE WHEN c1 > 0 THEN (CAST(c1 AS DOUBLE) / element_count)
          * LN((CAST(c1 AS DOUBLE) / element_count)
               / (CASE WHEN other_count > 0 THEN 0.4 ELSE 0.5 END)) ELSE 0 END)
    + (CASE WHEN other_count > 0 THEN (CAST(other_count AS DOUBLE) / element_count)
          * LN((CAST(other_count AS DOUBLE) / element_count) / 0.2) ELSE 0 END)
    AS kl_raw
  FROM w
)
SELECT ws_epoch, element_count, other_count,
       ROUND(kl_raw, 6) AS kl_divergence,
       kl_raw > 0.5 AS drifted
FROM kl
""")
def _drift1(spark, sf):
    """The streaming KL-drift monitor's arithmetic (windowed_kl_drift is
    valid on batch frames): tumbling 1-day windows of event_type vs an
    expected {click, view} distribution with a 0.2 tail holdout — DuckDB
    recomputes the exact windowed lumped-other KL."""
    from great_expectations_spark.streaming import windowed_kl_drift

    ev = _tbl(spark, sf, "events").where(F.col("ts").isNotNull())
    out = windowed_kl_drift(
        ev, "ts", "event_type",
        {"values": ["click", "view"], "weights": [0.5, 0.5]},
        threshold=0.5, window_seconds=86400, watermark_seconds=86400,
        tail_weight_holdout=0.2,
    )
    return out.select(
        F.unix_timestamp("window_start").alias("ws_epoch"),
        "element_count", "other_count",
        F.round("kl_divergence", 6).alias("kl_divergence"),
        "drifted",
    )


@_q("pipeline_suite_filter", """
WITH f AS (
  SELECT
    CASE WHEN text IS NULL THEN 1 ELSE 0 END AS f0,
    CASE WHEN text IS NOT NULL
         AND NOT (length(text) >= 5 AND length(text) <= 2000) THEN 1 ELSE 0 END AS f1,
    CASE WHEN lang IS NOT NULL
         AND NOT (lang IN ('en','de','fr')) THEN 1 ELSE 0 END AS f2,
    CASE WHEN source IS NOT NULL
         AND NOT regexp_matches(source, '^src[0-4]') THEN 1 ELSE 0 END AS f3
  FROM documents
), s AS (
  SELECT count(*) AS n, sum(f0) AS c0, sum(f1) AS c1, sum(f2) AS c2, sum(f3) AS c3,
         sum(CASE WHEN f0 + f1 + f2 + f3 > 0 THEN 1 ELSE 0 END) AS cany
  FROM f
)
SELECT 'expect_column_values_to_not_be_null(text)' AS reason,
       CAST(c0 AS BIGINT) AS failed_count, round(100.0 * c0 / n, 6) AS failed_percent FROM s
UNION ALL SELECT 'expect_column_value_lengths_to_be_between(text)',
       CAST(c1 AS BIGINT), round(100.0 * c1 / n, 6) FROM s
UNION ALL SELECT 'expect_column_values_to_be_in_set(lang)',
       CAST(c2 AS BIGINT), round(100.0 * c2 / n, 6) FROM s
UNION ALL SELECT 'expect_column_values_to_match_regex(source)',
       CAST(c3 AS BIGINT), round(100.0 * c3 / n, 6) FROM s
UNION ALL SELECT '__any__', CAST(cany AS BIGINT), round(100.0 * cany / n, 6) FROM s
UNION ALL SELECT '__total__', CAST(n AS BIGINT), round(100.0, 6) FROM s
""")
def _pf1(spark, sf):
    """Suite-as-filter (pipeline/filtering.py): per-reason rejection counts
    in ONE fused agg; the kernels are the validator's own, so the DuckDB
    oracle re-derives each reason's unexpected condition independently."""
    from great_expectations_spark.pipeline.filtering import rejection_stats

    suite = (
        ExpectationSuite(name="corpus_clean")
        .add("expect_column_values_to_not_be_null", column="text")
        .add("expect_column_value_lengths_to_be_between",
             column="text", min_value=5, max_value=2000)
        .add("expect_column_values_to_be_in_set",
             column="lang", value_set=["en", "de", "fr"])
        .add("expect_column_values_to_match_regex", column="source", regex="^src[0-4]")
    )
    return rejection_stats(_tbl(spark, sf, "documents"), suite)


# Corpus-tuned stop list for the Gopher stop-word rule (the synthetic
# documents vocabulary has no English stop words).
_QUALITY_STOPS = ["table", "row", "value", "key"]
_QUALITY_STOPS_SQL = "[" + ", ".join(f"'{w}'" for w in _QUALITY_STOPS) + "]"

# Shared DuckDB fragments for the quality oracles: words / lines per doc
# under the module's determinism contract (ASCII-\s+ split, non-empty;
# space-trimmed non-empty lines).
# explicit ASCII-whitespace class: RE2's \s lacks \x0b, Java's has it —
# the explicit class is identical in both (see quality._WS_CLASS)
_WORDS_SQL = (
    "list_filter(regexp_split_to_array({t}, '[ \\t\\n\\x0b\\f\\r]+'), w -> w <> '')"
)
_LINES_SQL = (
    "list_filter(list_transform(string_split({t}, chr(10)), l -> trim(l, ' ')),"
    " l -> l <> '')"
)


@_q("pipeline_quality_signals", f"""
WITH d AS (
  SELECT regexp_replace(text, ' (merge|batch) ', chr(10), 'g') AS t
  FROM documents WHERE text IS NOT NULL
), s AS (
  SELECT {_WORDS_SQL.format(t='t')} AS ws, {_LINES_SQL.format(t='t')} AS ls FROM d
), m AS (
  SELECT len(ws) AS wc,
         length(array_to_string(ws, '')) AS wchars,
         len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS alpha,
         len(list_filter(ws, w -> list_contains({_QUALITY_STOPS_SQL}, lower(w)))) AS stops,
         len(ls) AS lc,
         len(ls) - len(list_distinct(ls)) AS dup_lines
  FROM s
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(wc) AS BIGINT) AS total_words,
       round(avg(wchars / nullif(wc, 0)), 6) AS avg_word_len,
       round(avg(alpha / nullif(wc, 0)), 6) AS avg_alpha_frac,
       CAST(sum(stops) AS BIGINT) AS total_stop_words,
       round(avg(dup_lines / nullif(lc, 0)), 6) AS avg_dup_line_frac,
       round(avg(lc), 6) AS avg_lines
FROM m
""")
def _ql1(spark, sf):
    """Gopher word/line quality signals (pipeline/quality.py), corpus-level
    aggregates. Line structure is injected deterministically (the corpus is
    single-line) by turning ' merge '/' batch ' separators into newlines in
    BOTH engines, so the line-based signals are exercised for real."""
    from great_expectations_spark.pipeline.quality import quality_signals

    docs = _tbl(spark, sf, "documents").where(F.col("text").isNotNull())
    docs = docs.withColumn("text", F.regexp_replace("text", " (merge|batch) ", "\n"))
    q = quality_signals(docs, include_repetition=False, stop_words=_QUALITY_STOPS)
    return q.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("word_count").cast("long").alias("total_words"),
        F.round(F.avg("mean_word_length"), 6).alias("avg_word_len"),
        F.round(F.avg("alpha_word_fraction"), 6).alias("avg_alpha_frac"),
        F.sum("stop_word_count").cast("long").alias("total_stop_words"),
        F.round(F.avg("duplicate_line_fraction"), 6).alias("avg_dup_line_frac"),
        F.round(F.avg("line_count"), 6).alias("avg_lines"),
    )


@_q("pipeline_repetition_ngrams", f"""
WITH d AS (
  SELECT doc_id, {_WORDS_SQL.format(t='text')} AS ws
  FROM documents WHERE text IS NOT NULL
), base AS (
  SELECT doc_id, ws, length(array_to_string(ws, '')) AS chars
  FROM d WHERE length(array_to_string(ws, '')) > 0
), g2 AS (
  SELECT doc_id, g, count(*) AS c, min(gc) AS gc FROM (
    SELECT b.doc_id, array_to_string(b.ws[u.i:u.i+1], ' ') AS g,
           length(array_to_string(b.ws[u.i:u.i+1], '')) AS gc
    FROM base b, unnest(range(1, len(b.ws))) AS u(i)
  ) GROUP BY doc_id, g
), t2 AS (
  SELECT doc_id, max(CASE WHEN c >= 2 THEN c * gc ELSE 0 END) AS best
  FROM g2 GROUP BY doc_id
), g3 AS (
  SELECT doc_id, g, count(*) AS c, min(gc) AS gc FROM (
    SELECT b.doc_id, array_to_string(b.ws[u.i:u.i+2], ' ') AS g,
           length(array_to_string(b.ws[u.i:u.i+2], '')) AS gc
    FROM base b, unnest(range(1, len(b.ws) - 1)) AS u(i)
  ) GROUP BY doc_id, g
), t3 AS (
  SELECT doc_id, max(CASE WHEN c >= 2 THEN c * gc ELSE 0 END) AS best
  FROM g3 GROUP BY doc_id
), g5 AS (
  SELECT b.doc_id, u.i AS p, array_to_string(b.ws[u.i:u.i+4], ' ') AS g
  FROM base b, unnest(range(1, len(b.ws) - 3)) AS u(i)
), c5 AS (SELECT doc_id, g, count(*) AS c FROM g5 GROUP BY doc_id, g),
cov AS (
  SELECT DISTINCT dg.doc_id, v.idx
  FROM (SELECT g5.doc_id, g5.p FROM g5
        JOIN c5 ON g5.doc_id = c5.doc_id AND g5.g = c5.g WHERE c5.c >= 2) dg,
       unnest(range(dg.p, dg.p + 5)) AS v(idx)
), covc AS (
  SELECT cov.doc_id, sum(length(b.ws[CAST(cov.idx AS INT)])) AS covchars
  FROM cov JOIN base b ON b.doc_id = cov.doc_id GROUP BY cov.doc_id
), per AS (
  SELECT b.doc_id,
         coalesce(t2.best, 0) / b.chars AS top2,
         coalesce(t3.best, 0) / b.chars AS top3,
         coalesce(covc.covchars, 0) / b.chars AS dup5
  FROM base b LEFT JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id)
       LEFT JOIN covc USING (doc_id)
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(top2), 6) AS avg_top2,
       round(avg(top3), 6) AS avg_top3,
       round(avg(dup5), 6) AS avg_dup5,
       CAST(sum(CASE WHEN top2 > 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS high_rep_docs
FROM per
""")
def _ql2(spark, sf):
    """N-gram repetition signals (Arrow-batched pandas UDF): the DuckDB
    oracle recomputes top-2/3-gram and duplicated-5-gram char fractions
    RELATIONALLY (unnest n-gram positions → frequency join → covered-index
    dedup) — exact-match evidence that the per-doc Python computation
    implements the documented contract."""
    from great_expectations_spark.pipeline.quality import quality_signals

    docs = _tbl(spark, sf, "documents").where(F.col("text").isNotNull())
    q = quality_signals(docs, include_repetition=True).where(F.col("word_chars") > 0)
    return q.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.avg("top_2gram_char_fraction"), 6).alias("avg_top2"),
        F.round(F.avg("top_3gram_char_fraction"), 6).alias("avg_top3"),
        F.round(F.avg("dup_5gram_char_fraction"), 6).alias("avg_dup5"),
        F.sum((F.col("top_2gram_char_fraction") > 0.2).cast("int"))
        .cast("long").alias("high_rep_docs"),
    )


@_q("pipeline_gopher_filter", f"""
WITH d AS (SELECT doc_id, text FROM documents),
s AS (
  SELECT doc_id,
         CASE WHEN text IS NULL THEN NULL ELSE {_WORDS_SQL.format(t='text')} END AS ws,
         text
  FROM d
), m AS (
  SELECT doc_id, text,
         len(ws) AS wc,
         length(array_to_string(ws, '')) AS wchars,
         len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS alpha,
         len(list_filter(ws, w -> list_contains({_QUALITY_STOPS_SQL}, lower(w)))) AS stops,
         len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\\.\\.\\.'))
           + len(regexp_extract_all(text, '…')) AS syms
  FROM s
), base AS (
  SELECT doc_id, ws, length(array_to_string(ws, '')) AS chars
  FROM s WHERE text IS NOT NULL AND length(array_to_string(ws, '')) > 0
), g2 AS (
  SELECT doc_id, g, count(*) AS c, min(gc) AS gc FROM (
    SELECT b.doc_id, array_to_string(b.ws[u.i:u.i+1], ' ') AS g,
           length(array_to_string(b.ws[u.i:u.i+1], '')) AS gc
    FROM base b, unnest(range(1, len(b.ws))) AS u(i)
  ) GROUP BY doc_id, g
), t2 AS (
  SELECT b.doc_id, coalesce(max(CASE WHEN c >= 2 THEN c * gc ELSE 0 END), 0) / b.chars AS top2
  FROM base b LEFT JOIN g2 ON b.doc_id = g2.doc_id GROUP BY b.doc_id, b.chars
), f AS (
  SELECT
    CASE WHEN m.text IS NULL THEN 1 ELSE 0 END AS f0,
    CASE WHEN m.wc IS NOT NULL AND NOT (m.wc >= 40 AND m.wc <= 100000) THEN 1 ELSE 0 END AS f1,
    CASE WHEN m.wc IS NOT NULL AND m.wc > 0
         AND NOT (m.wchars / m.wc >= 3.0 AND m.wchars / m.wc <= 10.0) THEN 1 ELSE 0 END AS f2,
    CASE WHEN m.wc IS NOT NULL AND m.wc > 0
         AND NOT (m.syms / m.wc <= 0.1) THEN 1 ELSE 0 END AS f3,
    CASE WHEN m.wc IS NOT NULL AND m.wc > 0
         AND NOT (m.alpha / m.wc >= 0.8) THEN 1 ELSE 0 END AS f4,
    CASE WHEN m.stops IS NOT NULL AND NOT (m.stops >= 2) THEN 1 ELSE 0 END AS f5,
    CASE WHEN t2.top2 IS NOT NULL AND NOT (t2.top2 <= 0.2) THEN 1 ELSE 0 END AS f6
  FROM m LEFT JOIN t2 USING (doc_id)
), agg AS (
  SELECT count(*) AS n, sum(f0) AS c0, sum(f1) AS c1, sum(f2) AS c2, sum(f3) AS c3,
         sum(f4) AS c4, sum(f5) AS c5, sum(f6) AS c6,
         sum(CASE WHEN f0+f1+f2+f3+f4+f5+f6 > 0 THEN 1 ELSE 0 END) AS cany
  FROM f
)
SELECT 'expect_column_values_to_not_be_null(text)' AS reason,
       CAST(c0 AS BIGINT) AS failed_count, round(100.0 * c0 / n, 6) AS failed_percent FROM agg
UNION ALL SELECT 'expect_column_values_to_be_between(word_count)', CAST(c1 AS BIGINT), round(100.0 * c1 / n, 6) FROM agg
UNION ALL SELECT 'expect_column_values_to_be_between(mean_word_length)', CAST(c2 AS BIGINT), round(100.0 * c2 / n, 6) FROM agg
UNION ALL SELECT 'expect_column_values_to_be_between(symbol_to_word_ratio)', CAST(c3 AS BIGINT), round(100.0 * c3 / n, 6) FROM agg
UNION ALL SELECT 'expect_column_values_to_be_between(alpha_word_fraction)', CAST(c4 AS BIGINT), round(100.0 * c4 / n, 6) FROM agg
UNION ALL SELECT 'expect_column_values_to_be_between(stop_word_count)', CAST(c5 AS BIGINT), round(100.0 * c5 / n, 6) FROM agg
UNION ALL SELECT 'expect_column_values_to_be_between(top_2gram_char_fraction)', CAST(c6 AS BIGINT), round(100.0 * c6 / n, 6) FROM agg
UNION ALL SELECT '__any__', CAST(cany AS BIGINT), round(100.0 * cany / n, 6) FROM agg
UNION ALL SELECT '__total__', CAST(n AS BIGINT), round(100.0, 6) FROM agg
""")
def _ql3(spark, sf):
    """Gopher rules as suite-as-filter: quality_signals → gopher_suite →
    rejection_stats, ONE fused agg. Word-count bound tuned to the corpus
    (min 40); line rules dropped (single-line corpus); the top-2-gram rule
    rides the same scan via the repetition struct."""
    from great_expectations_spark.pipeline.filtering import rejection_stats
    from great_expectations_spark.pipeline.quality import gopher_suite, quality_signals

    docs = _tbl(spark, sf, "documents")
    ann = quality_signals(docs, include_repetition=True, stop_words=_QUALITY_STOPS)
    suite = gopher_suite(
        include_repetition=False,
        min_word_count=40,
        max_bullet_line_fraction=None,
        max_ellipsis_line_fraction=None,
        max_duplicate_line_fraction=None,
        max_duplicate_paragraph_fraction=None,
    )
    suite.add("expect_column_values_to_be_between",
              column="top_2gram_char_fraction", max_value=0.2)
    return rejection_stats(ann, suite)


def _decontam_oracle(n: int = 5) -> str:
    """DuckDB replica of pipeline/decontam.py contamination_stats: the eval
    set is a deterministic token slice (tokens 3..10) of every 37th corpus
    doc, so planted n-gram leakage is guaranteed and both engines derive it
    from the same parquet table."""
    return f"""
WITH corpus AS (
  SELECT doc_id, {_TOKEN_HASH_SQL} AS th
  FROM documents WHERE text IS NOT NULL
),
chs AS (
  SELECT doc_id, {_hashed_shingle_sql(n)} AS hs
  FROM corpus WHERE len(th) >= {n}
),
eval_txt AS (
  SELECT doc_id AS eval_id,
         array_to_string(string_split(text, ' ')[3:10], ' ') AS text
  FROM documents WHERE text IS NOT NULL AND doc_id % 37 = 0
),
etoks AS (
  SELECT eval_id, {_TOKEN_HASH_SQL} AS th FROM eval_txt
),
ehs AS (
  SELECT eval_id, {_hashed_shingle_sql(n)} AS hs
  FROM etoks WHERE len(th) >= {n}
),
eset AS (
  SELECT DISTINCT u.s AS shingle, eval_id FROM ehs, unnest(hs) AS u(s)
),
cset AS (
  SELECT doc_id, len(hs) AS n_shingles, u.s AS shingle
  FROM chs, unnest(hs) AS u(s)
)
SELECT c.doc_id,
       CAST(min(c.n_shingles) AS BIGINT) AS n_shingles,
       CAST(count(DISTINCT c.shingle) AS BIGINT) AS hit_shingles,
       CAST(count(DISTINCT e.eval_id) AS BIGINT) AS matched_eval_docs,
       round(count(DISTINCT c.shingle) / min(c.n_shingles), 6) AS contamination_fraction
FROM cset c JOIN eset e ON c.shingle = e.shingle
GROUP BY c.doc_id
"""


@_q("pipeline_decontam_stats", _decontam_oracle())
def _dc1(spark, sf):
    """Benchmark decontamination: broadcast eval-set shingles, one corpus
    scan, hits-only shuffle (pipeline/decontam.py). Eval set = token slice
    of every 37th doc, derived in-query from the same table."""
    from great_expectations_spark.pipeline.decontam import contamination_stats

    docs = _tbl(spark, sf, "documents")
    ev = docs.where(F.col("text").isNotNull() & (F.col("doc_id") % 37 == 0)).select(
        F.col("doc_id").alias("eval_doc"),
        F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 3, 8)).alias("text"),
    )
    s = contamination_stats(docs, ev, n=5, eval_id_col="eval_doc")
    return s.select(
        "doc_id", "n_shingles", "hit_shingles", "matched_eval_docs",
        F.round("contamination_fraction", 6).alias("contamination_fraction"),
    )


@_q("pipeline_mixture_sample", """
WITH avail AS (
  SELECT lang, CAST(count(*) AS DOUBLE) AS n
  FROM documents WHERE lang IN ('en', 'de', 'fr') GROUP BY lang
),
fr AS (
  SELECT lang, least(1.0,
           (400.0 * CASE lang WHEN 'en' THEN 2.0 WHEN 'de' THEN 1.0 ELSE 1.0 END / 4.0) / n
         ) AS f
  FROM avail
),
kept AS (
  SELECT d.lang, d.n_chars
  FROM documents d JOIN fr ON d.lang = fr.lang
  WHERE ('0x' || substr(md5('7|' || d.doc_id), 1, 15))::BIGINT % 1000000
        / 1000000.0 < fr.f
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM kept GROUP BY lang
""")
def _mx1(spark, sf):
    """Training-mixture construction (pipeline/sampling.py): one bounded
    availability agg → per-stratum keep fractions (en is fractional, de/fr
    cap at 1 = undersupplied) → one deterministic md5-predicate scan. The
    DuckDB oracle recomputes fractions and membership from the same
    contract, so sampled membership matches doc-for-doc."""
    from great_expectations_spark.pipeline.sampling import build_mixture

    docs = _tbl(spark, sf, "documents")
    out = build_mixture(docs, "lang", {"en": 2, "de": 1, "fr": 1},
                        target=400, key_col="doc_id", seed=7)
    return out.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


@_q("pipeline_pack_sequences", """
WITH d AS (
  SELECT doc_id, n_chars,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8 AS bucket
  FROM documents WHERE text IS NOT NULL AND n_chars > 0
),
packed AS (
  SELECT bucket, n_chars,
         coalesce(sum(n_chars) OVER (PARTITION BY bucket ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
  FROM d
)
SELECT CAST(bucket * 1099511627776 + before // 4000 AS BIGINT) AS pack_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_tokens
FROM packed GROUP BY 1
""")
def _pk1(spark, sf):
    """Sequence packing (pipeline/packing.py): md5-bucketed greedy packing
    via one hash shuffle + one per-bucket window; the oracle replays the
    same exclusive-prefix-sum arithmetic (stride 2^40 = 1099511627776)."""
    from great_expectations_spark.pipeline.packing import pack_sequences, pack_stats

    docs = _tbl(spark, sf, "documents").where(
        F.col("text").isNotNull() & (F.col("n_chars") > 0)
    )
    packed = pack_sequences(docs, "n_chars", budget=4000, key_col="doc_id", buckets=8)
    return pack_stats(packed, "n_chars", budget=4000).select(
        "pack_id", "n_docs", "total_tokens"
    )


@_q("pipeline_pii_redaction", r"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 0
              THEN text || ' contact user' || doc_id || '@example.com from 10.2.'
                   || CAST(doc_id % 200 AS VARCHAR) || '.9 or 555-123-4567'
              ELSE text END AS text
  FROM documents WHERE text IS NOT NULL
),
r AS (
  SELECT doc_id, text,
         regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\b\d{1,3}(\.\d{1,3}){3}\b', '<IP>', 'g'),
           '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g'),
           '\b\d{3}-\d{2}-\d{4}\b', '<ID>', 'g') AS red
  FROM d
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))) AS BIGINT) AS email_matches,
       CAST(sum(CASE WHEN regexp_matches(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}') THEN 1 ELSE 0 END) AS BIGINT) AS email_docs,
       CAST(sum(len(regexp_extract_all(text, '\b\d{1,3}(\.\d{1,3}){3}\b'))) AS BIGINT) AS ipv4_matches,
       CAST(sum(len(regexp_extract_all(text, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b'))) AS BIGINT) AS phone_matches,
       CAST(sum(length(red)) AS BIGINT) AS redacted_chars,
       md5(string_agg(red, '' ORDER BY doc_id)) AS redacted_digest
FROM r
""")
def _rd1(spark, sf):
    """PII redaction (pipeline/redact.py): emails/IPs/phones planted into
    every 11th doc identically in both engines; the oracle checks match
    counts AND an order-stable md5 digest of the fully redacted corpus —
    byte-for-byte replacement parity. (The digest collect_list is the
    oracle harness only, sized for sf0.01 — the operator itself is a pure
    one-scan Column rewrite.)"""
    from great_expectations_spark.pipeline.redact import pii_counts, redact_pii

    docs = _tbl(spark, sf, "documents").where(F.col("text").isNotNull())
    planted = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.col("text"), F.lit(" contact user"), F.col("doc_id").cast("string"),
                F.lit("@example.com from 10.2."),
                (F.col("doc_id") % 200).cast("string"), F.lit(".9 or 555-123-4567"),
            ),
        ).otherwise(F.col("text")),
    )
    t = F.col("text")
    c = pii_counts(t)
    red = planted.select("doc_id", t.alias("text"), redact_pii(t).alias("red"),
                         *[v.alias(k) for k, v in c.items()])
    return red.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("email").cast("long").alias("email_matches"),
        F.sum((F.col("email") > 0).cast("int")).cast("long").alias("email_docs"),
        F.sum("ipv4").cast("long").alias("ipv4_matches"),
        F.sum("phone").cast("long").alias("phone_matches"),
        F.sum(F.length("red")).cast("long").alias("redacted_chars"),
        F.md5(F.encode(
            F.concat_ws("", F.array_sort(F.collect_list(F.struct("doc_id", "red"))
                                         ).getField("red")), "UTF-8"
        )).alias("redacted_digest"),
    )


@_q("context_validate_store", """
WITH m AS (SELECT count(*) AS rc, avg(n_chars) AS mean_chars FROM documents)
SELECT 'expect_column_mean_to_be_between' AS expectation_type,
       ROUND(mean_chars, 6) AS observed,
       (mean_chars >= 0) AS success FROM m
UNION ALL
SELECT 'expect_table_row_count_to_be_between' AS expectation_type,
       CAST(rc AS DOUBLE) AS observed,
       (rc >= 1) AS success FROM m
""")
def _ctx1(spark, sf):
    # validate THROUGH the DataContext facade, then read the result back out
    # of the pluggable validations store (round 3 store layer) — the emitted
    # rows come from the deserialized stored copy, so the oracle match also
    # certifies the store round-trip
    from great_expectations_spark import get_context

    ctx = get_context()
    ctx.add_suite(
        ExpectationSuite("docs_ctx")
        .add("expect_table_row_count_to_be_between", min_value=1)
        .add("expect_column_mean_to_be_between", column="n_chars",
             min_value=0, max_value=10**9))
    ctx.validate(_tbl(spark, sf, "documents"), "docs_ctx", run_id="r1")
    stored = ctx.validations.get(("docs_ctx", "r1"))
    rows = sorted(
        (r.expectation_config.expectation_type,
         float(r.result["observed_value"]), bool(r.success))
        for r in stored.results)
    df = spark.createDataFrame(
        rows, "expectation_type string, observed double, success boolean")
    # F.round (HALF_UP) matches DuckDB ROUND; python round() is half-even
    return df.select(
        "expectation_type", F.round("observed", 6).alias("observed"), "success")


@_q("wet_roundtrip", """
SELECT doc_id, text, CAST(strlen(text) AS BIGINT) AS n_bytes
FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
""")
def _wet1(spark, sf):
    """WARC/WET ingestion (sources/wet.py): serialize the documents table
    as real WET conversion records (multi-part, deterministic headers),
    re-read through the custom-delimiter text scan + codegen header
    parse, and emit (doc_id, text, n_bytes). A hash match against the
    parquet originals certifies the round trip is byte-lossless AND that
    every record's Content-Length audit agrees (n_bytes comes from the
    re-read payload; rows with length_ok false are excluded, so a single
    mis-framed record would surface as a row-count mismatch)."""
    import hashlib
    import tempfile

    from great_expectations_spark.sources.wet import read_wet, write_wet

    docs = (
        _tbl(spark, sf, "documents")
        .where(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
    )
    tag = hashlib.md5(sf.encode()).hexdigest()[:12]
    out = f"{tempfile.gettempdir()}/ges_wet_{tag}"
    write_wet(
        docs.select(
            F.concat(F.lit("http://docs.example/"), "doc_id").alias("url"),
            "text"),
        out, mode="overwrite", partitions=4)
    got = read_wet(spark, out).where(F.col("length_ok"))
    return got.select(
        F.replace(F.col("url"), F.lit("http://docs.example/"), F.lit(""))
        .cast("long").alias("doc_id"),
        "text",
        F.col("content_length").alias("n_bytes"),
    )


@_q("pipeline_shard_shuffle", """
WITH k AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5('0|' || CAST(doc_id AS VARCHAR)), 1, 15))
              ::BIGINT % 16 AS INTEGER) AS shard,
         ('0x' || substr(md5('1|' || CAST(doc_id AS VARCHAR)), 1, 15))
         ::BIGINT AS ord
  FROM documents WHERE doc_id IS NOT NULL)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id) - 1
            AS BIGINT) AS pos
FROM k
""")
def _shuf1(spark, sf):
    """Deterministic shard shuffle (pipeline/sampling.py shard_shuffle):
    the Dolma/FineWeb-style final 'shuffle and shard' — shard membership
    and within-shard position from two independent portable md5
    namespaces, ONE exchange (window hash-partition + per-shard sort).
    Digit-exact (shard, pos) parity for every document proves the
    permutation is engine-replayable, not partition-order luck."""
    from great_expectations_spark.pipeline.sampling import shard_shuffle

    docs = (_tbl(spark, sf, "documents")
            .where(F.col("doc_id").isNotNull()).select("doc_id"))
    return shard_shuffle(docs, "doc_id", shards=16)


# ---- corpus-trained BPE tokenizer (pipeline/bpe.py) -----------------------
#
# The oracle replays BPE TRAINING in DuckDB: merge steps are unrolled as
# CTE stages (the kmeans-oracle pattern), each stage a recursive
# leftmost-merge loop; because the engine encodes by rank-order
# application (Sennrich apply_bpe), the final word-state IS the encoding
# of every corpus piece, so per-doc token counts fall out of one join.
# DuckDB v1.0 note: a MATERIALIZED CTE referenced from a recursive term
# silently reads empty after the first iteration, so best{k} stays
# plain (inlined) while the words{k} chain is MATERIALIZED to stop the
# exponential CTE re-expansion.

_BPE_MERGES = 16
_BPE_MAX_PIECES = 5_000_000


def _bpe_chain(num_merges: int) -> str:
    from great_expectations_spark.pipeline.textstats import BPE_SPLIT_PATTERN

    pat_sql = "'" + BPE_SPLIT_PATTERN.replace("'", "''") + "'"
    first_pos = ("list_position([toks[i] = b.l AND toks[i+1] = b.r "
                 "FOR i IN generate_series(1, len(toks)-1)], true)")
    # words0 mirrors the engine's max_pieces TakeOrdered cut (cnt desc,
    # piece asc) so the two trainers see the SAME dict even if the corpus
    # ever exceeds the cap — without this, parity would break silently at
    # larger scale factors.
    parts = [f"""
WITH RECURSIVE rawp AS MATERIALIZED (
  SELECT doc_id, unnest(regexp_extract_all(text, {pat_sql})) AS piece
  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
words0 AS MATERIALIZED (
  SELECT piece, regexp_extract_all(piece, '(?s).') AS toks, cnt FROM (
    SELECT piece, CAST(count(*) AS BIGINT) AS cnt
    FROM rawp GROUP BY piece
    ORDER BY cnt DESC, piece LIMIT {_BPE_MAX_PIECES}))"""]
    for k in range(num_merges):
        parts.append(f""",
best{k} AS (
  SELECT l, r FROM (
    SELECT toks[i] AS l, toks[i+1] AS r, sum(cnt) AS c
    FROM words{k}, unnest(generate_series(1, len(toks)-1)) AS u(i)
    GROUP BY 1, 2)
  WHERE c >= 2 ORDER BY c DESC, l, r LIMIT 1),
rec{k} AS (
  SELECT piece, toks, cnt FROM words{k}
  UNION ALL
  SELECT piece,
         list_slice(toks, 1, bi-1) || [toks[bi] || toks[bi+1]]
           || list_slice(toks, bi+2, len(toks)) AS toks,
         cnt
  FROM (SELECT piece, toks, cnt,
               (SELECT {first_pos} FROM best{k} b) AS bi
        FROM rec{k}) x
  WHERE bi > 0),
words{k+1} AS MATERIALIZED (
  SELECT piece, toks, cnt FROM rec{k}
  WHERE coalesce((SELECT {first_pos} FROM best{k} b), 0) = 0)""")
    return "".join(parts)


def _bpe_train(spark, sf):
    from great_expectations_spark.pipeline.bpe import train_bpe

    docs = (_tbl(spark, sf, "documents")
            .where(F.col("doc_id").isNotNull() & F.col("text").isNotNull()))
    return docs, train_bpe(docs, "doc_id", "text", num_merges=_BPE_MERGES,
                           max_pieces=_BPE_MAX_PIECES)


@_q("pipeline_bpe_merges", _bpe_chain(_BPE_MERGES) + "\n"
    + " UNION ALL ".join(
        f'SELECT {k} AS rank, l AS "left", r AS "right" FROM best{k}'
        for k in range(_BPE_MERGES)))
def _bpe1(spark, sf):
    """BPE merge-table parity (pipeline/bpe.py train_bpe): the full
    learned merge sequence — pair counts, count-desc/lexicographic
    tiebreaks, and the min_pair_count=2 early stop — replayed
    digit-exact by the unrolled DuckDB training stages."""
    _docs, merges = _bpe_train(spark, sf)
    return merges


@_q("pipeline_bpe_encode", _bpe_chain(_BPE_MERGES) + f"""
SELECT d.doc_id, CAST(coalesce(t.s, 0) AS INT) AS n_bpe
FROM (SELECT doc_id FROM documents
      WHERE doc_id IS NOT NULL AND text IS NOT NULL) d
LEFT JOIN (SELECT r.doc_id, sum(len(w.toks)) AS s
           FROM rawp r JOIN words{_BPE_MERGES} w USING (piece)
           GROUP BY r.doc_id) t USING (doc_id)""")
def _bpe2(spark, sf):
    """Trained-BPE token counts per document (pipeline/bpe.py
    bpe_encode): pre-tokenize in codegen, apply the learned merges in
    ONE Arrow-batched pandas UDF with a per-worker piece memo.  The
    oracle re-trains the same 16 merges in SQL and reads the final
    training word-state as each piece's encoding (legal because the
    engine applies merges in rank order — encoding replays training),
    so every document's token count is digit-exact end-to-end."""
    docs, merges = _bpe_train(spark, sf)
    from great_expectations_spark.pipeline.bpe import bpe_encode

    return bpe_encode(docs, merges, "doc_id", "text").select("doc_id", "n_bpe")


# --------------------------------------------------------------------------
# driver contract
# --------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full expectation suite over sf0.001 documents, one row per
    expectation (the engine's results-table shape)."""
    sf = "/root/testdata/sf0.001"
    docs = _tbl(spark, sf, "documents")
    suite = (
        ExpectationSuite(name="documents_flagship")
        .add("expect_table_row_count_to_be_between", min_value=1)
        .add("expect_column_values_to_not_be_null", column="text", mostly=0.9)
        .add("expect_column_values_to_be_unique", column="doc_id")
        .add("expect_column_values_to_be_in_set", column="lang",
             value_set=_DOC_LANGS + ["pt", "ru", "ja"], mostly=0.95)
        .add("expect_column_values_to_match_regex", column="source", regex="^src")
        .add("expect_column_mean_to_be_between", column="n_chars", min_value=1,
             max_value=1_000_000)
        .add("expect_column_unique_value_count_to_be_between", column="lang",
             min_value=1, max_value=50)
        .add("expect_column_kl_divergence_to_be_less_than", column="lang",
             partition_object={"values": list(_KL_WEIGHTS),
                               "weights": list(_KL_WEIGHTS.values())},
             threshold=1.0)
    )
    res = validate(docs, suite, result_format="SUMMARY")
    return suite_result_to_df(spark, res)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _oracle) in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: oracle for name, (_fn, oracle) in _REGISTRY.items() if oracle is not None}
