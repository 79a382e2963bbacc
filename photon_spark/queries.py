"""Driver-contract query registry.

One entry per implemented operator family (SURVEY.md §2 mapping in
FIXTURES.md §5) plus the training-data-pipeline operators. Each entry
is (spark_fn, oracle_sql-or-None): the Spark DataFrame build and the
ANSI-SQL equivalent DuckDB runs on the same parquet tables. Column
names/aliases match exactly on both sides (the driver compares by
sorted column name).

Float policy: every aggregated/derived double is round()-ed on BOTH
sides so summation-order noise can't flip the value hash.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from photon_spark.operators import dedupe, multimodal, similarity, textstats
from photon_spark.operators.extract import files_pred, luhn_valid

Q: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}


# Dimension tables stay unsplit: they broadcast, and an exchange on a
# 25-row table is pure overhead.
_DIM_TABLES = frozenset({"nation", "region", "supplier", "part", "customer"})


# Below this size the round-robin exchange costs more than the
# single-core map work it parallelizes (measured r2: j1 0.39→0.54s,
# dedup_exact 0.38→0.62s on ~1-4MB inputs) — skip the spread.
_SPREAD_MIN_BYTES = 8 * 1024 * 1024


def _table_bytes(sf_dir: str, name: str) -> int:
    import os

    path = f"{sf_dir}/{name}.parquet"
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _t(
    spark: SparkSession, sf_dir: str, name: str, spread: bool | None = None
) -> DataFrame:
    """Load one testdata table.

    The driver's testdata is one single-row-group parquet file per
    table, so byte-range splitting cannot parallelize the scan and
    EVERY map-side computation (partial aggregation, projection
    arithmetic, filters' residual work) lands on one core. `spread`
    controls the round-robin repartition that fixes this:

    - None (default): auto — spread fact tables at/above 8MB, where the
      exchange pays for itself even on cheap map work; below that the
      exchange costs more than the single-core map it parallelizes
      (measured r2: j1 0.39→0.54s, dedup_exact 0.38→0.62s).
    - True: force the spread — for compute-heavy per-row operators
      (shingling, hashing, numpy batches) where even a sub-MB table is
      minutes of single-core CPU (measured r2: minhash 2.1× faster on
      the 0.6MB documents table).
    - False: never (dimension-style access).

    Real multi-file datasets arrive already split and skip all of this
    (the partition-count check); Catalyst pushes filters through the
    repartition, so scans stay pruned either way.
    """
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if spread is None:
        spread = (
            name not in _DIM_TABLES
            and _table_bytes(sf_dir, name) >= _SPREAD_MIN_BYTES
        )
    if spread:
        parallelism = spark.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < parallelism:
            df = df.repartition(parallelism)
    return df


def q(name: str, sql: str | None):
    def deco(fn):
        Q[name] = (fn, sql)
        return fn

    return deco


# ---------------------------------------------------------------------------
# A1 — dataset counts (reference photon.py:388-391)


@q("a1_event_counts", "SELECT event_type, count(*) AS n FROM events GROUP BY event_type")
def a1(spark, sf):
    return _t(spark, sf, "events").groupBy("event_type").agg(F.count("*").alias("n"))


# A2 — run metrics aggregation (reference core/utils.py:89-98).
# floor(x·10^k + 0.5)/10^k instead of round(): sums/averages of
# 2-decimal values can land exactly on rounding half-boundaries where
# engine round() implementations disagree by 1 ulp (see
# textstats.quality_score).
@q(
    "a2_metrics_agg",
    "SELECT event_type, count(*) AS n,"
    " floor(sum(value) * 100 + 0.5) / 100 AS total,"
    " floor(avg(value) * 10000 + 0.5) / 10000 AS mean"
    " FROM events GROUP BY event_type",
)
def a2(spark, sf):
    return (
        _t(spark, sf, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            (F.floor(F.sum("value") * 100 + 0.5) / 100).alias("total"),
            (F.floor(F.avg("value") * 10000 + 0.5) / 10000).alias("mean"),
        )
    )


# F3 — per-host politeness window (reference semantics: SURVEY.md §2.3)
@q(
    "f3_politeness_window",
    # CAST ... AS INTEGER: DuckDB row_number() is BIGINT, Spark's is
    # INT — keep the oracle's Arrow output type byte-equal to the
    # Spark schema (registry-wide contract, tests/test_registry.py).
    "SELECT user_id, event_id, CAST(rn AS INTEGER) AS rn"
    " FROM (SELECT user_id, event_id,"
    " row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn"
    " FROM events) t WHERE rn <= 3",
)
def f3(spark, sf):
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        _t(spark, sf, "events")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", "rn")
    )


# J1 — seen-set anti-join (reference photon.py:317)
@q(
    "j1_seen_antijoin",
    "SELECT o_orderkey FROM orders WHERE o_orderkey NOT IN"
    " (SELECT o_orderkey FROM orders WHERE o_orderkey % 10 < 3)",
)
def j1(spark, sf):
    orders = _t(spark, sf, "orders")
    seen = orders.filter(F.col("o_orderkey") % 10 < 3).select("o_orderkey")
    return orders.join(seen, "o_orderkey", "left_anti").select("o_orderkey")


# J2/J3 — union + insert-dedup (reference photon.py:253-275 set adds)
@q(
    "j2_union_dedup",
    "SELECT DISTINCT name FROM (SELECT c_name AS name FROM customer"
    " UNION ALL SELECT s_name AS name FROM supplier) t",
)
def j2(spark, sf):
    c = _t(spark, sf, "customer").select(F.col("c_name").alias("name"))
    s = _t(spark, sf, "supplier").select(F.col("s_name").alias("name"))
    return c.unionByName(s).distinct()


# T13-shaped broadcast semi-join gate (INTELS domains → nation dim)
@q(
    "t13_semi_gate",
    "SELECT c_custkey FROM customer WHERE c_nationkey IN"
    " (SELECT n_nationkey FROM nation WHERE n_name IN"
    " ('NATION_1','NATION_5','NATION_9','NATION_13'))",
)
def t13(spark, sf):
    nat = _t(spark, sf, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_5", "NATION_9", "NATION_13")
    )
    return (
        _t(spark, sf, "customer")
        .join(
            F.broadcast(nat),
            F.col("c_nationkey") == F.col("n_nationkey"),
            "left_semi",
        )
        .select("c_custkey")
    )


# ---------------------------------------------------------------------------
# Synthesized URL universe over events/documents (FIXTURES.md §5 mapping)

_EXTS = [".html", ".css", ".png", "js", ".pdf", "", ".xml"]
_EXT_SQL = (
    "CASE doc_id % 7 WHEN 0 THEN '.html' WHEN 1 THEN '.css' WHEN 2 THEN '.png'"
    " WHEN 3 THEN 'js' WHEN 4 THEN '.pdf' WHEN 5 THEN '' ELSE '.xml' END"
)
_BAD_SUFFIX = "(?:bmp|css|csv|docx|ico|jpeg|jpg|js|json|pdf|png|svg|xls|xml)$"


def _doc_urls(spark, sf):
    docs = _t(spark, sf, "documents")
    ext = F.element_at(
        F.array(*[F.lit(e) for e in _EXTS]), (F.col("doc_id") % 7 + 1).cast("int")
    )
    return docs.select(
        F.concat(
            F.lit("http://"), F.col("source"), F.lit(".test/doc/"),
            F.col("doc_id").cast("string"), ext,
        ).alias("url")
    )


_DOC_URL_SQL = (
    "SELECT 'http://' || source || '.test/doc/' || CAST(doc_id AS VARCHAR) || "
    + _EXT_SQL
    + " AS url FROM documents"
)


# T2 — crawlability/file predicate (Q4 suffix without dot)
@q(
    "t2_file_filter",
    f"SELECT url FROM ({_DOC_URL_SQL}) t WHERE NOT regexp_matches(url, '{_BAD_SUFFIX}')",
)
def t2(spark, sf):
    return _doc_urls(spark, sf).filter(~files_pred(F.col("url")))


# T3 — scope classification
@q(
    "t3_scope_classify",
    f"SELECT url, CASE WHEN starts_with(url, 'http://src0.test') THEN 'internal'"
    f" ELSE 'external' END AS scope FROM ({_DOC_URL_SQL}) t",
)
def t3(spark, sf):
    return _doc_urls(spark, sf).select(
        "url",
        F.when(F.col("url").startswith("http://src0.test"), F.lit("internal"))
        .otherwise(F.lit("external"))
        .alias("scope"),
    )


# Extended URL canonicalization (production frontier-dedup knob:
# tracking-param strip + query sort on top of the Q1 contract).
# Messy-URL universe: uppercase scheme/host, scheme-matched default
# port, utm_/fbclid trackers, unsorted params, empty tokens, fragments
# — every normalization path exercised and oracled.
_MESSY_URL_SQL = (
    "SELECT doc_id, (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END)"
    " || '://' || upper(source) || '.Test'"
    " || (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END)"
    " || '/doc/' || CAST(doc_id AS VARCHAR)"
    " || '?utm_source=feed&b=' || CAST(doc_id % 5 AS VARCHAR) || '&a=1'"
    " || (CASE WHEN doc_id % 3 = 0 THEN '&fbclid=x' ELSE '' END)"
    " || (CASE WHEN doc_id % 7 = 0 THEN '&' ELSE '' END)"
    " || (CASE WHEN doc_id % 4 = 0 THEN '#sec' ELSE '' END) AS url"
    " FROM documents"
)

from photon_spark.plans.frontier import (  # noqa: E402
    _TRACKING_PARAM as _TRACKING_PARAM_RE,
    _URL_PARTS as _URL_PARTS_SQL,
)

_CANON_EXT_SQL = f"""
WITH m AS ({_MESSY_URL_SQL}),
p AS (
  SELECT doc_id,
    lower(regexp_extract(url, '{_URL_PARTS_SQL}', 1)) AS scheme,
    lower(regexp_extract(url, '{_URL_PARTS_SQL}', 2)) AS host,
    regexp_extract(url, '{_URL_PARTS_SQL}', 3) AS rest
  FROM m),
d AS (
  SELECT doc_id, scheme,
    CASE WHEN scheme = 'http' AND host LIKE '%:80'
           THEN regexp_replace(host, ':80$', '')
         WHEN scheme = 'https' AND host LIKE '%:443'
           THEN regexp_replace(host, ':443$', '')
         ELSE host END AS host,
    CASE WHEN instr(rest, '?') > 0
           THEN substr(rest, 1, instr(rest, '?') - 1) ELSE rest END AS path,
    CASE WHEN instr(rest, '?') > 0
           THEN substr(rest, instr(rest, '?') + 1) ELSE NULL END AS query
  FROM p),
q AS (
  SELECT doc_id, scheme, host, path,
    array_to_string(list_sort(list_filter(string_split(query, '&'),
      x -> x <> '' AND NOT regexp_matches(x, '{_TRACKING_PARAM_RE}'))),
      '&') AS qs
  FROM d)
SELECT doc_id, scheme || '://' || host || path ||
  CASE WHEN qs IS NOT NULL AND qs <> '' THEN '?' || qs ELSE '' END AS url
FROM q
"""


@q("url_canonicalize_ext", _CANON_EXT_SQL)
def url_canonicalize_ext(spark, sf):
    from photon_spark.plans.frontier import canonicalize_urls_ext

    docs = _t(spark, sf, "documents")
    messy = docs.select(
        "doc_id",
        F.concat(
            F.when(F.col("doc_id") % 2 == 0, F.lit("HTTP")).otherwise(
                F.lit("https")
            ),
            F.lit("://"),
            F.upper(F.col("source")),
            F.lit(".Test"),
            F.when(F.col("doc_id") % 2 == 0, F.lit(":80")).otherwise(
                F.lit(":443")
            ),
            F.lit("/doc/"),
            F.col("doc_id").cast("string"),
            F.lit("?utm_source=feed&b="),
            (F.col("doc_id") % 5).cast("string"),
            F.lit("&a=1"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("&fbclid=x")).otherwise(
                F.lit("")
            ),
            F.when(F.col("doc_id") % 7 == 0, F.lit("&")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 4 == 0, F.lit("#sec")).otherwise(
                F.lit("")
            ),
        ).alias("url"),
    )
    return canonicalize_urls_ext(messy)


# Interleaved span-document reassembly through the ENGINE's body_expr
# (operators/extract.py — the kernel every crawl extraction reads
# through). Spans are constructed deterministically from documents
# OUT of offset order with a media span interleaved; correct
# reassembly (filter kind='text', sort by offset, concat) inverts the
# construction, so the oracle is simply the original text — any
# ordering/filter/schema mistake in the span plumbing breaks equality.
# This puts the input-hint invariant (span-sequence (kind, text,
# media_ref, offset) semantics) through the driver's hash gate; the
# golden crawl tests pin the same invariant end-to-end.
@q(
    "spans_reassemble",
    "SELECT doc_id, text AS body,"
    " 'img://' || CAST(doc_id AS VARCHAR) AS media_refs FROM documents",
)
def spans_reassemble(spark, sf):
    from photon_spark.operators.extract import body_expr

    docs = _t(spark, sf, "documents")
    toks = F.split(F.col("text"), " ")
    t1 = F.array_join(F.slice(toks, 1, 5), " ")
    t2 = F.when(
        F.size(toks) > 5,
        F.concat(F.lit(" "), F.array_join(F.slice(toks, 6, 1 << 30), " ")),
    ).otherwise(F.lit(""))
    mref = F.concat(F.lit("img://"), F.col("doc_id").cast("string"))

    def span(kind, text, media, off):
        return F.struct(
            F.lit(kind).alias("kind"),
            text.alias("text"),
            media.alias("media_ref"),
            F.lit(off).cast("int").alias("offset"),
        )

    spans = F.array(
        span("text", t2, F.lit(""), 2),
        span("media", F.lit(""), mref, 1),
        span("text", t1, F.lit(""), 0),
    )
    with_spans = docs.select("doc_id", spans.alias("spans"))
    media_refs = F.array_join(
        F.transform(
            F.filter(F.col("spans"), lambda s: s["kind"] == F.lit("media")),
            lambda s: s["media_ref"],
        ),
        ",",
    )
    return with_spans.select(
        "doc_id", body_expr().alias("body"), media_refs.alias("media_refs")
    )


# T10 — exclusion regex filter
@q(
    "t10_exclude_filter",
    "SELECT doc_id FROM documents WHERE NOT regexp_matches(text, 'spark|window')",
)
def t10(spark, sf):
    return (
        _t(spark, sf, "documents")
        .filter(~F.col("text").rlike("spark|window"))
        .select("doc_id")
    )


# T11 — fuzzable (query-string URLs)
@q(
    "t11_fuzzable",
    "SELECT url FROM (SELECT 'http://h' || CAST(user_id % 8 AS VARCHAR) ||"
    " '.test/p' || CASE WHEN event_id % 2 = 0 THEN '?id=' || CAST(event_id AS VARCHAR)"
    " ELSE '/' || CAST(event_id AS VARCHAR) END AS url FROM events) t"
    " WHERE url LIKE '%=%'",
)
def t11(spark, sf):
    ev = _t(spark, sf, "events")
    url = F.concat(
        F.lit("http://h"), (F.col("user_id") % 8).cast("string"), F.lit(".test/p"),
        F.when(
            F.col("event_id") % 2 == 0,
            F.concat(F.lit("?id="), F.col("event_id").cast("string")),
        ).otherwise(F.concat(F.lit("/"), F.col("event_id").cast("string"))),
    )
    return ev.select(url.alias("url")).filter(F.col("url").contains("="))


# T1 — regex token flat-map (RE2-safe subset; full Photon patterns are
# golden-tested against the oracle crawler, SURVEY.md §5.2)
@q(
    "t1_token_extract",
    "SELECT doc_id, unnest(regexp_extract_all(text, '[a-z]{6,}')) AS token FROM documents",
)
def t1(spark, sf):
    return _t(spark, sf, "documents").select(
        "doc_id",
        F.explode(F.regexp_extract_all("text", F.lit("[a-z]{6,}"), F.lit(0))).alias("token"),
    )


# T4-shaped structured extract from a raw payload column
@q(
    "t4_props_extract",
    "SELECT event_id, CAST(regexp_extract(props, '\"k\": (\\d+)', 1) AS BIGINT) AS k FROM events",
)
def t4(spark, sf):
    return _t(spark, sf, "events").select(
        "event_id",
        F.regexp_extract("props", '"k": (\\d+)', 1).cast("bigint").alias("k"),
    )


# T12 — Luhn gate (pandas UDF on the Spark side, arithmetic SQL oracle)
_LUHN_SQL = (
    "SELECT pan FROM (SELECT lpad(CAST(o_orderkey AS VARCHAR), 16, '4') AS pan"
    " FROM orders WHERE o_orderkey % 97 < 20) t WHERE"
    " list_sum(list_transform(range(0, 16), i -> CASE WHEN i % 2 = 0"
    " THEN CAST(pan[16-i] AS INT)"
    " ELSE [0,2,4,6,8,1,3,5,7,9][CAST(pan[16-i] AS INT) + 1] END)) % 10 = 0"
)


@q("t12_luhn_gate", _LUHN_SQL)
def t12(spark, sf):
    pans = (
        _t(spark, sf, "orders")
        .filter(F.col("o_orderkey") % 97 < 20)
        .select(F.lpad(F.col("o_orderkey").cast("string"), 16, "4").alias("pan"))
    )
    return pans.filter(luhn_valid(F.col("pan")))


# ---------------------------------------------------------------------------
# Classic OLAP — the engine's aggregation/join/window core


@q(
    "q1_pricing_summary",
    "SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,"
    " round(sum(l_extendedprice), 2) AS sum_base_price,"
    " round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,"
    " round(avg(l_quantity), 4) AS avg_qty, count(*) AS count_order"
    " FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'"
    " GROUP BY l_returnflag, l_linestatus",
)
def q1(spark, sf):
    li = _t(spark, sf, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "sum_disc_price"
        ),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.count("*").alias("count_order"),
    )


@q(
    "q3_top_revenue_orders",
    "SELECT o_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue"
    " FROM customer JOIN orders ON c_custkey = o_custkey"
    " JOIN lineitem ON l_orderkey = o_orderkey"
    " WHERE c_mktsegment = 'BUILDING'"
    " GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey LIMIT 10",
)
def q3(spark, sf):
    cust = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@q(
    "q5_nation_revenue",
    "SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue"
    " FROM customer JOIN orders ON c_custkey = o_custkey"
    " JOIN lineitem ON l_orderkey = o_orderkey"
    " JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey"
    " JOIN nation ON s_nationkey = n_nationkey"
    " JOIN region ON n_regionkey = r_regionkey"
    " WHERE r_name = 'ASIA' GROUP BY n_name",
)
def q5(spark, sf):
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    sup = _t(spark, sf, "supplier")
    nat = _t(spark, sf, "nation")
    reg = _t(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            sup,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@q(
    "topk_per_group",
    "SELECT o_custkey, o_orderkey, CAST(rn AS INTEGER) AS rn"
    " FROM (SELECT o_custkey, o_orderkey,"
    " row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC,"
    " o_orderkey) AS rn FROM orders) t WHERE rn <= 2",
)
def topk(spark, sf):
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        _t(spark, sf, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("o_custkey", "o_orderkey", "rn")
    )


# Tumbling-window aggregation (batch form of the streaming operator;
# the true readStream path is tested in tests/test_streaming.py)
@q(
    "window_tumbling_counts",
    "SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS w_start,"
    " event_type, count(*) AS n FROM events GROUP BY 1, 2",
)
def tumbling(spark, sf):
    return (
        _t(spark, sf, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("w_start"),
            "event_type",
            "n",
        )
    )


# ---------------------------------------------------------------------------
# Training-data-pipeline operators


@q(
    "dedup_exact",
    "SELECT md5(text) AS fp, min(doc_id) AS keeper, count(*) AS n_docs"
    " FROM documents GROUP BY md5(text)",
)
def dd_exact(spark, sf):
    return dedupe.exact_dedup(_t(spark, sf, "documents"))


_MINHASH_SQL = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), sh AS (
  SELECT doc_id, list_distinct(list_transform(range(0, greatest(len(w) - 3, 0) + 1),
      i -> array_to_string(w[i+1:i+3], ' '))) AS shingles FROM toks
), sig AS (
  SELECT doc_id, list_transform(range(0, 8),
      h -> list_min(list_transform(shingles, s -> md5(CAST(h AS VARCHAR) || '|' || s)))) AS sig
  FROM sh
), banded AS (
  SELECT doc_id, b, sig[2*b+1] || '|' || sig[2*b+2] AS key
  FROM sig, unnest(range(0, 4)) AS t(b)
), buckets AS (
  SELECT b, key, list(doc_id) AS ids FROM banded GROUP BY b, key
  HAVING count(*) BETWEEN 2 AND 50
)
SELECT DISTINCT a AS doc_a, b2 AS doc_b
FROM buckets, unnest(ids) AS ta(a), unnest(ids) AS tb(b2) WHERE a < b2
"""


@q("dedup_minhash_pairs", _MINHASH_SQL)
def dd_minhash(spark, sf):
    return dedupe.minhash_lsh_pairs(_t(spark, sf, "documents", spread=True))


_JACCARD_SQL = f"""
WITH pairs AS ({_MINHASH_SQL}),
toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (SELECT doc_id, list_distinct(list_transform(range(0, greatest(len(w) - 3, 0) + 1),
    i -> array_to_string(w[i+1:i+3], ' '))) AS shingles FROM toks)
SELECT p.doc_a, p.doc_b,
  floor((CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
        CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS DOUBLE))
        * 1000000 + 0.5) / 1000000 AS jaccard
FROM pairs p JOIN sh sa ON sa.doc_id = p.doc_a JOIN sh sb ON sb.doc_id = p.doc_b
"""


@q("dedup_jaccard_verify", _JACCARD_SQL)
def dd_jacc(spark, sf):
    docs = _t(spark, sf, "documents", spread=True)
    return dedupe.ngram_jaccard_verify(docs, dedupe.minhash_lsh_pairs(docs))


# SimHash: no clean SQL equivalent (bit-majority voting) → rows-only check.
@q("dedup_simhash", None)
def dd_simhash(spark, sf):
    return dedupe.simhash64(_t(spark, sf, "documents", spread=True))


_ANN_SQL = """
WITH unit AS (
  SELECT vec_id, list_transform(embedding,
      x -> CAST(x AS DOUBLE) / sqrt(list_sum(list_transform(embedding,
          y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS u
  FROM embeddings
), qs AS (
  SELECT vec_id AS query_id, u AS qu FROM unit WHERE vec_id < 5
), scored AS (
  SELECT query_id, vec_id AS neighbor_id,
    round(list_sum(list_transform(range(1, len(u) + 1), i -> u[i] * qu[i])), 6) AS cosine
  FROM unit, qs WHERE vec_id <> query_id
)
SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cosine FROM (
  SELECT query_id, neighbor_id, cosine,
    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored) t WHERE rank <= 5
"""


@q("ann_cosine_topk", _ANN_SQL)
def ann_bf(spark, sf):
    emb = _t(spark, sf, "embeddings", spread=True)
    return similarity.brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=5)


# LSH-bucketed ANN: hyperplane hashing has no portable SQL twin →
# rows-only check here; recall vs brute force asserted in pytest.
@q("ann_lsh_topk", None)
def ann_lsh(spark, sf):
    emb = _t(spark, sf, "embeddings", spread=True)
    return similarity.lsh_bucket_topk(emb, emb.filter(F.col("vec_id") < 5), k=5)


@q(
    "embed_centroids",
    "SELECT label, CAST(i - 1 AS INTEGER) AS pos,"
    " round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS c"
    " FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)"
    " GROUP BY label, i",
)
def centroids(spark, sf):
    return similarity.label_centroids(_t(spark, sf, "embeddings", spread=True))


_STOP_SQL_LIST = "[" + ", ".join(f"'{s}'" for s in textstats.STOPWORDS) + "]"


@q(
    "lang_id_stopword",
    f"SELECT doc_id, round(CAST(len(list_filter(string_split(text, ' '),"
    f" t -> list_contains({_STOP_SQL_LIST}, t))) AS DOUBLE) /"
    f" CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS stopword_ratio,"
    f" CASE WHEN CAST(len(list_filter(string_split(text, ' '),"
    f" t -> list_contains({_STOP_SQL_LIST}, t))) AS DOUBLE) /"
    f" CAST(len(string_split(text, ' ')) AS DOUBLE) >= 0.12 THEN 'en'"
    f" ELSE 'other' END AS pred_lang FROM documents",
)
def langid(spark, sf):
    return textstats.lang_id(_t(spark, sf, "documents"))


@q(
    "quality_score",
    # floor(x*1e6+0.5)/1e6 mirrors the Spark side exactly — see
    # textstats.quality_score on the half-boundary rounding hazard.
    f"SELECT doc_id, n_chars,"
    f" CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,"
    f" floor((least(length(text) / 500.0, 1.0) * 0.4"
    f" + least(((length(text) - (len(string_split(text, ' ')) - 1))"
    f"   / CAST(len(string_split(text, ' ')) AS DOUBLE)) / 8.0, 1.0) * 0.3"
    f" + least((CAST(len(list_filter(string_split(text, ' '),"
    f"     t -> list_contains({_STOP_SQL_LIST}, t))) AS DOUBLE)"
    f"   / CAST(len(string_split(text, ' ')) AS DOUBLE)) / 0.3, 1.0) * 0.3)"
    f" * 1000000 + 0.5) / 1000000"
    f" AS quality FROM documents",
)
def quality(spark, sf):
    return textstats.quality_score(_t(spark, sf, "documents"))


@q(
    "token_count",
    "SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens"
    " FROM documents",
)
def tokcount(spark, sf):
    return textstats.token_count(_t(spark, sf, "documents"))


@q("fingerprint_md5", "SELECT doc_id, md5(text) AS fp FROM documents")
def fp(spark, sf):
    return textstats.fingerprint(_t(spark, sf, "documents"))


@q(
    "multimodal_binary_stats",
    "SELECT doc_id, octet_length(encode(text)) AS n_bytes, md5(text) AS payload_md5"
    " FROM documents",
)
def mm(spark, sf):
    return multimodal.binary_stats(_t(spark, sf, "documents"))


# ---------------------------------------------------------------------------
# Frontier pipeline over a synthesized URL universe — the crawl engine's
# dedup + politeness stages as one SQL-checkable query.


@q(
    "frontier_dedup_schedule",
    "WITH urls AS (SELECT 'http://h' || CAST(user_id % 50 AS VARCHAR) || '.test/p/'"
    " || CAST(event_id AS VARCHAR) AS url, 'h' || CAST(user_id % 50 AS VARCHAR)"
    " || '.test' AS host, event_id FROM events),"
    " fresh AS (SELECT * FROM urls WHERE event_id % 5 <> 0)"
    " SELECT url FROM (SELECT url, row_number() OVER (PARTITION BY host"
    " ORDER BY url) AS rn FROM fresh) t WHERE rn <= 20",
)
def frontier_q(spark, sf):
    from photon_spark.plans.frontier import dedup_candidates
    from photon_spark.plans.schedule import schedule_wave

    ev = _t(spark, sf, "events")
    urls = ev.select(
        F.concat(
            F.lit("http://h"), (F.col("user_id") % 50).cast("string"),
            F.lit(".test/p/"), F.col("event_id").cast("string"),
        ).alias("url"),
        F.col("event_id"),
    )
    seen = urls.filter(F.col("event_id") % 5 == 0).select("url")
    fresh = dedup_candidates(urls.select("url"), seen)
    return schedule_wave(fresh, budget=20, partitions=8).select("url")


# Part 2 of the registry (registers into this module's Q on import).
from photon_spark import queries_ext  # noqa: E402,F401
