"""Query registry — the driver-facing inventory (SURVEY.md §2 + M4).

Each entry is one implemented operator/query: a ``(spark, sf_dir) →
DataFrame`` callable plus (where SQL-expressible) an ANSI-SQL oracle
string DuckDB runs on the same parquet files. Column aliases match
exactly on both sides (the driver's compare hashes values under sorted
column names).

Float-valued aggregates are rounded IN THE QUERY on both sides so
results are reproducible bit-for-bit regardless of summation order.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s3_elasticsearch_data_pipeline_spark.operators import (
    analytics, dedup, diff, multimodal, similarity, text, windows)
from s3_elasticsearch_data_pipeline_spark.streaming import windowed as stream_windowed
from s3_elasticsearch_data_pipeline_spark.operators.projection import (
    typed_projection, validate_and_clean)
from s3_elasticsearch_data_pipeline_spark.tables import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

#: Dimensionality of the test-data embeddings table (TESTDATA.md).
#: Spark ArrayType carries no length, so ANN entry points that need it
#: at plan-build time take it as an argument instead of probing.
EMBEDDING_DIMS = 64

# name → (query_fn, oracle_sql | None). Filled via @register below.
_REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}


def register(name: str, oracle: str | None):
    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:  # a duplicate would silently shadow its twin
            raise ValueError(f"duplicate registry entry: {name}")
        _REGISTRY[name] = (fn, oracle)
        return fn
    return deco


def queries() -> dict[str, QueryFn]:
    return {name: fn for name, (fn, _) in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _REGISTRY.items() if sql is not None}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Reference-parity: scans / projections / filters (SURVEY.md §2.1–2.2)
# ---------------------------------------------------------------------------

@register("p1_p2_filter_project", """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
FROM lineitem
WHERE l_shipdate < TIMESTAMP '1996-01-01'
""")
def q_filter_project(spark, sf_dir):
    """P1+P2 — equality/range filter + column projection; both pushed
    into the parquet scan (cf. ``Partition-script.py:22,30``)."""
    return (_t(spark, sf_dir, "lineitem")
            .where(F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
            .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"))


@register("p3_typed_projection", """
SELECT CAST(event_id AS VARCHAR) AS event_id,
       COALESCE(event_type, '') AS event_type,
       COALESCE(value, 0.0) AS value,
       '' AS city
FROM events
""")
def q_typed_projection(spark, sf_dir):
    """P3/P4/P6 — schema-tolerant typed projection with defaults; the
    ``city`` column is absent from the input and materializes as its
    default (cf. ``data-s3-elastic-transfer.py:154-186``)."""
    return typed_projection(
        _t(spark, sf_dir, "events"),
        {"event_id": ("string", ""), "event_type": ("string", ""),
         "value": ("double", 0.0), "city": ("string", "")})


@register("p5_validate_clean", """
SELECT event_id,
       CASE WHEN TRIM(COALESCE(CAST(event_type AS VARCHAR), '')) = ''
            THEN 'unknown'
            ELSE TRIM(COALESCE(CAST(event_type AS VARCHAR), '')) END AS event_type,
       COALESCE(CAST(value AS DOUBLE), 0.0) AS value
FROM events
""")
def q_validate_clean(spark, sf_dir):
    """P5 — required-key defaulting + float re-coercion
    (cf. ``data-s3-elastic-transfer.py:126-152``)."""
    df = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return validate_and_clean(df, required_nonempty=("event_type",),
                              float_fields=("value",), empty_string_fields=())


# ---------------------------------------------------------------------------
# Reference-parity: aggregations (SURVEY.md §2.3)
# ---------------------------------------------------------------------------

@register("a1_group_count_month", """
SELECT strftime(o_orderdate, '%Y-%m') AS order_month, count(*) AS cnt
FROM orders GROUP BY 1
""")
def q_group_count_month(spark, sf_dir):
    """A1/A2/A3 — per-partition-value counts, uncapped (the reference's
    ES terms agg silently truncates at 20 buckets)."""
    orders = _t(spark, sf_dir, "orders")
    return analytics.group_count(
        orders.select(F.date_format("o_orderdate", "yyyy-MM").alias("order_month")),
        "order_month")


@register("a4_distinct_months", """
SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS order_month FROM orders
""")
def q_distinct_months(spark, sf_dir):
    """A4 — distinct partition values (``Partition-script.py:45``)."""
    orders = _t(spark, sf_dir, "orders")
    return analytics.distinct_values(
        orders.select(F.date_format("o_orderdate", "yyyy-MM").alias("order_month")),
        "order_month")


@register("a5_global_count", "SELECT count(*) AS cnt FROM lineitem")
def q_global_count(spark, sf_dir):
    """A5 — global count as a 1-row result."""
    return analytics.global_count(_t(spark, sf_dir, "lineitem"))


# ---------------------------------------------------------------------------
# Reference-parity: the diff joins (SURVEY.md §2.4, J1–J4)
# ---------------------------------------------------------------------------

@register("j1_missing_partitions", """
WITH src AS (SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS order_month
             FROM orders),
     snk AS (SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS order_month
             FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01')
SELECT order_month FROM src
WHERE order_month NOT IN (SELECT order_month FROM snk)
""")
def q_missing_partitions(spark, sf_dir):
    """J1 — partition-level anti-join: the month-diff at the heart of
    the incremental load (``data-s3-elastic-transfer.py:281-291``).
    Sink state is simulated as the pre-1997 subset."""
    orders = _t(spark, sf_dir, "orders")
    month = F.date_format("o_orderdate", "yyyy-MM").alias("order_month")
    src = orders.select(month)
    snk = orders.where(
        F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")).select(month)
    return diff.missing_partitions(src, snk, "order_month")


@register("j2_missing_ids", """
SELECT DISTINCT c_custkey FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
""")
def q_missing_ids(spark, sf_dir):
    """J2 — id-level anti-join (``ID-based-transfer.py:241``): customers
    with no orders. The shuffle-heavy core at 100 TB; sort-merge +
    runtime bloom filter."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return diff.missing_ids(
        customer, orders.select(F.col("o_custkey").alias("c_custkey")),
        "c_custkey")


@register("j3_fetch_rows", """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer
                    WHERE c_mktsegment = 'BUILDING')
""")
def q_fetch_rows(spark, sf_dir):
    """J3 — semi-join fetch of full rows for a key set, no IN-list
    chunking (``ID-based-transfer.py:170-196``)."""
    orders = _t(spark, sf_dir, "orders")
    ids = (_t(spark, sf_dir, "customer")
           .where(F.col("c_mktsegment") == "BUILDING")
           .select(F.col("c_custkey").alias("o_custkey")))
    return (diff.fetch_rows_for_ids(orders, ids, "o_custkey")
            .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"))


@register("j4_count_mismatches", """
WITH a AS (SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
                  count(*) AS source_cnt FROM orders GROUP BY 1),
     b AS (SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
                  count(*) AS sink_cnt FROM orders
           WHERE o_orderstatus = 'F' GROUP BY 1)
SELECT COALESCE(a.order_month, b.order_month) AS order_month,
       COALESCE(source_cnt, 0) AS source_cnt,
       COALESCE(sink_cnt, 0) AS sink_cnt
FROM a FULL OUTER JOIN b USING (order_month)
WHERE COALESCE(source_cnt, 0) <> COALESCE(sink_cnt, 0)
""")
def q_count_mismatches(spark, sf_dir):
    """J4 — full-outer per-partition count compare
    (``ID-based-transfer.py:90-109``); sink simulated as status-F rows."""
    orders = _t(spark, sf_dir, "orders")
    month = F.date_format("o_orderdate", "yyyy-MM").alias("order_month")
    src = orders.select(month)
    snk = orders.where(F.col("o_orderstatus") == "F").select(month)
    return diff.count_mismatches(src, snk, "order_month")


# ---------------------------------------------------------------------------
# Sorts / limits (SURVEY.md §2.5)
# ---------------------------------------------------------------------------

@register("o3_top_orders", """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
""")
def q_top_orders(spark, sf_dir):
    """O1/O3 — deterministic top-k (order + limit with key tiebreak).
    Spark executes this as TakeOrderedAndProject: per-partition top-k,
    no global sort."""
    return analytics.top_orders(_t(spark, sf_dir, "orders"), 10)


# ---------------------------------------------------------------------------
# Extension surface: headline analytics (SURVEY.md §7 M4)
# ---------------------------------------------------------------------------

@register("q1_pricing_summary", """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE)
         AS sum_base_price,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS sum_disc_price,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))
                      * (1 + CAST(l_tax AS DECIMAL(4,2)))), 2) AS DOUBLE)
         AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
             / count(*), 4) AS avg_price,
       round(CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE)
             / count(*), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""")
def q_pricing_summary(spark, sf_dir):
    """Flagship (TPC-H Q1 shape) — see analytics.pricing_summary."""
    return analytics.pricing_summary(_t(spark, sf_dir, "lineitem"))


@register("q3_revenue_by_segment", """
SELECT c_mktsegment,
       strftime(o_orderdate, '%Y-%m') AS order_month,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY 1, 2
""")
def q_revenue_by_segment(spark, sf_dir):
    return analytics.revenue_by_segment(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"))


@register("q5_local_supplier_volume", """
SELECT r_name AS region_name, n_name AS nation_name,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY 1, 2
""")
def q_local_supplier_volume(spark, sf_dir):
    return analytics.local_supplier_volume(
        _t(spark, sf_dir, "region"), _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem"))


@register("q6_forecast_revenue", """
SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                      * CAST(l_discount AS DECIMAL(4,2))), 2) AS DOUBLE)
         AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01'
  AND l_shipdate <  TIMESTAMP '1996-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""")
def q_forecast_revenue(spark, sf_dir):
    return analytics.forecast_revenue(_t(spark, sf_dir, "lineitem"))


@register("date_function_pack", """
SELECT o_orderkey,
       EXTRACT(year FROM o_orderdate) AS order_year,
       EXTRACT(month FROM o_orderdate) AS order_month_num,
       EXTRACT(day FROM o_orderdate) AS order_day,
       EXTRACT(quarter FROM o_orderdate) AS order_quarter,
       strftime(o_orderdate, '%Y-%m') AS order_ym,
       date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS days_to_eoy
FROM orders
""")
def q_date_function_pack(spark, sf_dir):
    return analytics.date_function_pack(_t(spark, sf_dir, "orders"))


@register("json_extraction", """
SELECT event_id, event_type,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
FROM events
""")
def q_json_extraction(spark, sf_dir):
    return analytics.json_extraction(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Extension surface: window functions (SURVEY.md §2.6, M4)
# ---------------------------------------------------------------------------

@register("w_running_totals", """
SELECT event_id, user_id, ts, value,
       row_number() OVER w AS seq,
       round(sum(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW), 2) AS running_value
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""")
def q_running_totals(spark, sf_dir):
    return windows.running_totals(_t(spark, sf_dir, "events"))


@register("w_top_k_per_group", """
SELECT * FROM (
  SELECT event_id, user_id, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY value DESC, event_id) AS rnk
  FROM events) WHERE rnk <= 3
""")
def q_top_k_per_group(spark, sf_dir):
    return windows.top_k_per_group(_t(spark, sf_dir, "events"), 3)


@register("w_sessionize", """
WITH gapped AS (
  SELECT event_id, user_id, ts, value,
         lag(ts) OVER w AS prev_ts,
         CASE WHEN lag(ts) OVER w IS NULL THEN 1
              WHEN date_diff('second', lag(ts) OVER w, ts) > 1800 THEN 1
              ELSE 0 END AS is_new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sessioned AS (
  SELECT *, CAST(sum(is_new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM gapped)
SELECT user_id, session_id,
       min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS session_value
FROM sessioned GROUP BY user_id, session_id
""")
def q_sessionize(spark, sf_dir):
    return windows.sessionize(_t(spark, sf_dir, "events"), 30)


@register("w_tumbling_agg", """
SELECT time_bucket(INTERVAL '60 minutes', ts) AS window_start,
       time_bucket(INTERVAL '60 minutes', ts) + INTERVAL '60 minutes' AS window_end,
       event_type, count(*) AS n,
       CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS total_value
FROM events GROUP BY 1, 2, 3
""")
def q_tumbling_agg(spark, sf_dir):
    return windows.tumbling_window_agg(_t(spark, sf_dir, "events"), 60)


# ---------------------------------------------------------------------------
# Extension surface: deduplication (M4 north star)
# ---------------------------------------------------------------------------

@register("dedup_exact", """
SELECT md5(text) AS text_hash, min(doc_id) AS keep_doc_id,
       count(*) AS n_dups
FROM documents GROUP BY 1
""")
def q_dedup_exact(spark, sf_dir):
    return dedup.exact_dedup(_t(spark, sf_dir, "documents"))


@register("dedup_ngram_jaccard", """
WITH shingled AS (
  SELECT doc_id, lang AS block,
         list_distinct(list_transform(
           range(1, greatest(len(toks) - 1, 1)),
           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
  FROM (SELECT doc_id, lang,
               list_filter(string_split_regex(text, '\\s+'),
                           t -> t <> '') AS toks
        FROM documents)
  WHERE len(toks) >= 3)
SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / len(list_distinct(list_concat(a.shingles, b.shingles))),
             6) AS jaccard
FROM shingled a JOIN shingled b
  ON a.block = b.block AND a.doc_id < b.doc_id
WHERE round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
            / len(list_distinct(list_concat(a.shingles, b.shingles))),
            6) >= 0.5
""")
def q_dedup_ngram_jaccard(spark, sf_dir):
    """Exact word-3-gram Jaccard near-dup pairs, language-blocked —
    the oracle-checked exact twin of the MinHash-LSH path."""
    return dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.5)


# MinHash-LSH in PORTABLE hash mode: md5-low-60 base shingle hash,
# (a·(x mod P)+b) mod P (P = 2^31−1, products exact in int64) affine
# permutations with md5-derived constants
# interpolated below as SQL literals, md5-low-60 LONG band buckets
# (8-byte join keys) — every hash
# recomputable verbatim in DuckDB, so the "approximate" operator is
# deterministically oracle-checked (approximate only vs ground-truth
# Jaccard, not vs a twin engine). xxhash64 stays the scale default in
# dedup._lsh_banded for persisted indexes.
_MINHASH_SIG_SQL = ",\n    ".join(
    f"list_min(list_transform(hs, x -> ({a} * (x % {dedup.PORTABLE_MOD}) "
    f"+ {b}) % {dedup.PORTABLE_MOD}))"
    for a, b in dedup.minhash_affine_constants(16))

#: Shared CTE chain: documents → shingles → md5-low-60 hashes →
#: portable MinHash signatures → band buckets (reused by the pair
#: query and the fuzzy-clusters composition below).
_MINHASH_BANDED_CTES = f"""tk AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
  FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks) - 1),
           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
  FROM tk WHERE len(toks) >= 3),
hs AS (
  SELECT doc_id, list_transform(shingles,
           s -> CAST(('0x' || substr(md5(s), 18, 15)) AS UBIGINT)::BIGINT)
         AS hs
  FROM sh),
sig AS (
  SELECT doc_id, [{_MINHASH_SIG_SQL}] AS sig FROM hs),
banded AS (
  SELECT doc_id, sig, b.band,
         CAST(('0x' || substr(md5(concat_ws(',',
                sig[b.band*4+1], sig[b.band*4+2],
                sig[b.band*4+3], sig[b.band*4+4])), 18, 15))
              AS UBIGINT)::BIGINT AS bucket
  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b)"""

_MINHASH_PAIR_SELECT = """SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       round(len(list_filter(range(1, 17), i -> a.sig[i] = b.sig[i]))
             / 16.0, 6) AS est_jaccard
FROM banded a JOIN banded b
  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
WHERE round(len(list_filter(range(1, 17), i -> a.sig[i] = b.sig[i]))
            / 16.0, 6) >= 0.5"""


@register("dedup_minhash_lsh", f"""
WITH {_MINHASH_BANDED_CTES}
{_MINHASH_PAIR_SELECT}
""")
def q_dedup_minhash_lsh(spark, sf_dir):
    return dedup.minhash_lsh_pairs(_t(spark, sf_dir, "documents"),
                                   hash_mode="portable",
                                   max_bucket_docs=None)


@register("dedup_fuzzy_clusters", f"""
WITH RECURSIVE {_MINHASH_BANDED_CTES},
near_pairs AS (
  SELECT doc_id_a AS a, doc_id_b AS b FROM ({_MINHASH_PAIR_SELECT})),
edges AS (SELECT a AS src, b AS dst FROM near_pairs
          UNION ALL SELECT b, a FROM near_pairs),
reach(doc_id, member) AS (
  SELECT src, src FROM edges
  UNION
  SELECT r.doc_id, e.dst FROM reach r JOIN edges e ON e.src = r.member)
SELECT doc_id, min(member) AS cluster_id FROM reach GROUP BY doc_id
""")
def q_dedup_fuzzy_clusters(spark, sf_dir):
    """The END-TO-END sub-quadratic fuzzy-dedup pipeline, fully
    oracle-checked: portable-hash MinHash-LSH candidate pairs (never
    docs² — bands×docs rows joined on compact buckets) feed connected
    components (star-contraction fixpoint / driver union-find under
    the pair cap) into cluster assignments — the production shape for
    near-dup removal at 100 TB, where ngram-Jaccard's exact pair join
    is the audit tool and THIS is the corpus pass. The DuckDB twin
    re-derives the same signatures/buckets/pairs in SQL and closes the
    clusters with a recursive CTE."""
    pairs = dedup.minhash_lsh_pairs(_t(spark, sf_dir, "documents"),
                                    hash_mode="portable",
                                    max_bucket_docs=None)
    return dedup.connected_components(
        pairs.select("doc_id_a", "doc_id_b"))


@register("dedup_fuzzy_apply", f"""
WITH RECURSIVE {_MINHASH_BANDED_CTES},
near_pairs AS (
  SELECT doc_id_a AS a, doc_id_b AS b FROM ({_MINHASH_PAIR_SELECT})),
edges AS (SELECT a AS src, b AS dst FROM near_pairs
          UNION ALL SELECT b, a FROM near_pairs),
reach(doc_id, member) AS (
  SELECT src, src FROM edges
  UNION
  SELECT r.doc_id, e.dst FROM reach r JOIN edges e ON e.src = r.member),
clusters AS (
  SELECT doc_id, min(member) AS cluster_id FROM reach GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(c.cluster_id, d.doc_id) AS cluster_id,
       (c.cluster_id IS NULL OR c.cluster_id = d.doc_id) AS kept
FROM documents d LEFT JOIN clusters c USING (doc_id)
""")
def q_dedup_fuzzy_apply(spark, sf_dir):
    """The REMOVAL step that completes the fuzzy-dedup pipeline
    (detect → cluster → apply): every document labeled with its cluster
    and a ``kept`` verdict — the cluster's minimum doc_id survives,
    near-duplicates are dropped, singletons (never in any candidate
    pair) keep themselves. One left join of the corpus against the
    (small — only docs that ever collided) cluster table; a real
    pipeline would anti-join the corpus on ``kept = false`` ids. Fully
    oracle-checked end-to-end like ``dedup_fuzzy_clusters``."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, hash_mode="portable",
                                    max_bucket_docs=None)
    clusters = dedup.connected_components(
        pairs.select("doc_id_a", "doc_id_b"))
    return (docs.select("doc_id")
            .join(clusters, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("cluster_id", F.col("doc_id"))
                    .alias("cluster_id"),
                    (F.col("cluster_id").isNull()
                     | (F.col("cluster_id") == F.col("doc_id")))
                    .alias("kept")))


_SIMHASH_BIT_SUMS = ",\n  ".join(
    f"sum((h >> {b}) & 1) AS s{b}" for b in range(60))
_SIMHASH_FP_TERMS = "\n       + ".join(
    f"(CASE WHEN 2*s{b} - n > 0 THEN 1::BIGINT << {b} ELSE 0 END)"
    for b in range(60))

@register("dedup_simhash", f"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(text, '\\s+'),
                            t -> t <> '')) AS t
  FROM documents),
h AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(t), 18, 15)) AS UBIGINT)::BIGINT AS h
  FROM tok),
agg AS (
  SELECT doc_id, count(*) AS n,
  {_SIMHASH_BIT_SUMS}
  FROM h GROUP BY doc_id),
fp0 AS (
  SELECT doc_id,
       {_SIMHASH_FP_TERMS} AS simhash
  FROM agg),
fp AS (
  SELECT d.doc_id, coalesce(f.simhash, 0)::BIGINT AS simhash
  FROM (SELECT doc_id FROM documents) d LEFT JOIN fp0 f USING (doc_id)),
banded AS (
  SELECT doc_id, simhash, b.band,
         (simhash >> (b.band * 16)) & 65535 AS block
  FROM fp CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b)
SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM banded a JOIN banded b
  ON a.band = b.band AND a.block = b.block AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
""")
def q_dedup_simhash(spark, sf_dir):
    """Portable-hash SimHash pairs (md5-low-60 token hash → 60
    effective fingerprint bits): the DuckDB twin recomputes identical
    fingerprints, band blocks, and Hamming distances in SQL."""
    return dedup.simhash_pairs(_t(spark, sf_dir, "documents"),
                               hash_mode="portable")


@register("dedup_embedding_cosine", """
SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
       round(list_inner_product(a.emb, b.emb)
             / (sqrt(list_inner_product(a.emb, a.emb))
                * sqrt(list_inner_product(b.emb, b.emb))), 6) AS cosine_sim
FROM (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings) a
JOIN (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings) b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(list_inner_product(a.emb, b.emb)
            / (sqrt(list_inner_product(a.emb, a.emb))
               * sqrt(list_inner_product(b.emb, b.emb))), 6) >= 0.3
""")
def q_dedup_embedding_cosine(spark, sf_dir):
    return dedup.embedding_near_dup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.3)


_KMEANS_ASSIGN_CTE = """
  SELECT vec_id, emb, cell FROM (
    SELECT v.vec_id, v.emb, c.cell,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY
             list_inner_product(v.emb, c.cen)
             / (sqrt(list_inner_product(v.emb, v.emb))
                * sqrt(list_inner_product(c.cen, c.cen))) DESC,
             c.cell) AS rn
    FROM {vecs} v CROSS JOIN {cents} c{qfilter})
  WHERE rn {take}"""


def _kmeans_cte_sql(n_cells: int, train_pred: str = "TRUE") -> str:
    """The UNROLLED deterministic k-means trainer as a chained-CTE
    prefix (same trick as the BPE trainer oracle): init = the
    ``n_cells`` lowest vec_ids of the TRAINING set, 2 Lloyd rounds,
    cosine assignment with ties to the lowest cell, centroid update =
    round(avg, 6) per dim, memberless cells keep their previous
    centroid — exactly ``quantizer._kmeans_centroids``. Yields CTEs
    ``vecs`` (all vectors), ``tvecs`` (training set) and ``c2`` (final
    centroids) for the caller to compose assignment/probing over."""
    assign = _KMEANS_ASSIGN_CTE
    return f"""
WITH vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
tvecs AS (SELECT * FROM vecs WHERE {train_pred}),
c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, emb AS cen
  FROM tvecs ORDER BY vec_id LIMIT {n_cells}),
a1 AS ({assign.format(vecs='tvecs', cents='c0', qfilter='', take='= 1')}),
u1 AS (
  SELECT cell, dd.d AS dim, round(avg(emb[dd.d]), 6) AS c
  FROM a1, (SELECT unnest(range(1, {EMBEDDING_DIMS + 1})) AS d) dd
  GROUP BY cell, dd.d),
u1l AS (SELECT cell, list(c ORDER BY dim) AS cen FROM u1 GROUP BY cell),
c1 AS (SELECT c0.cell, coalesce(u1l.cen, c0.cen) AS cen
       FROM c0 LEFT JOIN u1l USING (cell)),
a2 AS ({assign.format(vecs='tvecs', cents='c1', qfilter='', take='= 1')}),
u2 AS (
  SELECT cell, dd.d AS dim, round(avg(emb[dd.d]), 6) AS c
  FROM a2, (SELECT unnest(range(1, {EMBEDDING_DIMS + 1})) AS d) dd
  GROUP BY cell, dd.d),
u2l AS (SELECT cell, list(c ORDER BY dim) AS cen FROM u2 GROUP BY cell),
c2 AS (SELECT c1.cell, coalesce(u2l.cen, c1.cen) AS cen
       FROM c1 LEFT JOIN u2l USING (cell))"""


def _ivf_oracle_sql(train_pred: str = "TRUE") -> str:
    """DuckDB twin of the IVF family: the unrolled k-means prefix
    (:func:`_kmeans_cte_sql`), then corpus assignment / query probing /
    exact rerank in SQL. ``train_pred`` restricts the TRAINING corpus
    (the incremental/streaming paths train on the even half and append
    the rest against the persisted centroids — FAISS add-after-train —
    so assignment still covers all vectors). The cosine expression is
    the hash-matched _BRUTE_TOPK_ORACLE form."""
    assign = _KMEANS_ASSIGN_CTE
    return f"""{_kmeans_cte_sql(16, train_pred)},
corpus AS ({assign.format(vecs='vecs', cents='c2', qfilter='', take='= 1')}),
qprobe AS ({assign.format(vecs='vecs', cents='c2',
                          qfilter=' WHERE v.vec_id < 10', take='<= 4')}),
scored AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         list_inner_product(q.emb, n.emb)
         / (sqrt(list_inner_product(q.emb, q.emb))
            * sqrt(list_inner_product(n.emb, n.emb))) AS raw_sim
  FROM qprobe q JOIN corpus n USING (cell)
  WHERE n.vec_id <> q.vec_id),
ranked AS (
  SELECT query_id, neighbor_id, raw_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY raw_sim DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, round(raw_sim, 6) AS sim, rank
FROM ranked WHERE rank <= 10
"""


#: DuckDB twin of embedding_blocked_near_dup (threshold 0.3, n_assign
#: 2, iters 2; the auto-sized cell count resolves to 8 at every oracle
#: SF — 500 vectors): the same unrolled k-means prefix at 8 cells,
#: every vector multi-assigned to its 2 nearest cells, within-cell
#: pairs scored with round-6 cosine — the learned-blocking dedup stops
#: being "approximate vs a twin engine" and becomes deterministically
#: oracle-checked, like the LSH family in r5.
_EMB_BLOCKED_ORACLE = f"""{_kmeans_cte_sql(8)},
assigned AS ({_KMEANS_ASSIGN_CTE.format(vecs='vecs', cents='c2',
                                        qfilter='', take='<= 2')})
SELECT DISTINCT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
       round(list_inner_product(a.emb, b.emb)
             / (sqrt(list_inner_product(a.emb, a.emb))
                * sqrt(list_inner_product(b.emb, b.emb))), 6)
       AS cosine_sim
FROM assigned a JOIN assigned b
  ON a.cell = b.cell AND a.vec_id < b.vec_id
WHERE round(list_inner_product(a.emb, b.emb)
            / (sqrt(list_inner_product(a.emb, a.emb))
               * sqrt(list_inner_product(b.emb, b.emb))), 6) >= 0.3
"""


_IVF_TOPK_ORACLE = _ivf_oracle_sql()
_IVF_EVEN_TRAIN_ORACLE = _ivf_oracle_sql("vec_id % 2 = 0")


def _pq_d2(a: str, b: str, sub: int) -> str:
    """Explicit per-dim squared-L2 between two DOUBLE[sub] columns —
    spelled out term by term so no aggregate reordering can touch it."""
    return " + ".join(f"({a}[{d}]-{b}[{d}])*({a}[{d}]-{b}[{d}])"
                      for d in range(1, sub + 1))


def _pq_cte_parts(src: str, tsrc: str, m: int = 8, k_codes: int = 16,
                  iters: int = 8, train_sample: int = 256) -> str:
    """The UNROLLED deterministic PQ trainer + encoder as chained CTEs
    — the :func:`_kmeans_cte_sql` trick applied to product
    quantization, which makes the whole PQ family oracle-checkable:
    training sample = the ``train_sample`` lowest vec_ids of ``tsrc``,
    per-subspace init = evenly spaced sample rows (numpy's
    ``linspace(0, n-1, k).astype(int)`` truncation replayed as SQL
    float arithmetic), ``iters`` Lloyd rounds with squared-L2
    assignment (ties to the lowest code) and round-6 mean updates,
    memberless codes keeping their previous centroid — exactly
    ``similarity._pq_train``. ``src``/``tsrc`` are caller CTEs with
    (vec_id, base) where base is a DOUBLE[dims] list (raw vectors, or
    x − centroid[cell] residuals in the IVF-PQ residual mode). Yields
    ``pqjs`` (subspace ids), ``pqb{iters}`` (j, code, svec) final
    codebooks, and ``pqcodes`` (vec_id, j, code, d2) encodings of
    every ``src`` row."""
    sub = EMBEDDING_DIMS // m
    d2_tb = _pq_d2("s.svec", "b.svec", sub)
    d2_vb = _pq_d2("v.svec", "b.svec", sub)
    its = []
    for it in range(1, iters + 1):
        its.append(f"""
pqa{it} AS MATERIALIZED (
  SELECT j, rn, svec, code FROM (
    SELECT s.j, s.rn, s.svec, b.code,
           row_number() OVER (PARTITION BY s.rn, s.j
                              ORDER BY {d2_tb}, b.code) AS o
    FROM pqtsub s JOIN pqb{it - 1} b USING (j)) WHERE o = 1),
pqu{it} AS (
  SELECT j, code, dd.d AS dim, round(avg(svec[dd.d]), 6) AS c
  FROM pqa{it}, (SELECT unnest(range(1, {sub + 1})) AS d) dd
  GROUP BY j, code, dd.d),
pqu{it}l AS (SELECT j, code, list(c ORDER BY dim) AS svec
             FROM pqu{it} GROUP BY j, code),
pqb{it} AS MATERIALIZED (
  SELECT b.j, b.code, coalesce(u.svec, b.svec) AS svec
  FROM pqb{it - 1} b LEFT JOIN pqu{it}l u USING (j, code))""")
    return f"""
pqjs AS (SELECT unnest(range(0, {m})) AS j),
pqallsub AS (
  SELECT vec_id, j, base[(j*{sub}+1):(j*{sub}+{sub})] AS svec
  FROM {src}, pqjs),
pqsamp AS (
  SELECT vec_id, base, row_number() OVER (ORDER BY vec_id) - 1 AS rn
  FROM {tsrc} ORDER BY vec_id LIMIT {train_sample}),
pqtsub AS (
  SELECT rn, j, base[(j*{sub}+1):(j*{sub}+{sub})] AS svec
  FROM pqsamp, pqjs),
pqn AS (SELECT count(*) AS n FROM pqsamp),
pqidx AS (
  SELECT code,
         CASE WHEN {k_codes} = 1 OR code = {k_codes - 1} THEN n - 1
              ELSE CAST(floor(code * ((n - 1)
                        / CAST({k_codes - 1} AS DOUBLE))) AS BIGINT)
         END AS rn
  FROM (SELECT unnest(range(0, {k_codes})) AS code), pqn),
pqb0 AS (SELECT s.j, i.code, s.svec
         FROM pqidx i JOIN pqtsub s USING (rn)),{",".join(its)},
pqcodes AS MATERIALIZED (
  SELECT vec_id, j, code, d2 FROM (
    SELECT v.vec_id, v.j, b.code, {d2_vb} AS d2,
           row_number() OVER (PARTITION BY v.vec_id, v.j
                              ORDER BY {d2_vb}, b.code) AS o
    FROM pqallsub v JOIN pqb{iters} b USING (j)) WHERE o = 1)"""


def _sql_cosine(a: str, b: str) -> str:
    """The hash-matched round-trippable cosine form every similarity
    oracle uses (same expression as _BRUTE_TOPK_ORACLE)."""
    return (f"list_inner_product({a}, {b}) "
            f"/ (sqrt(list_inner_product({a}, {a})) "
            f"* sqrt(list_inner_product({b}, {b})))")


#: TOLERANCE ASSUMPTION (shared by the ADC/PQ round-8 and GD round-9
#: oracles below): these oracles assert round-N equality between sums
#: the two engines accumulate in DIFFERENT orders (numpy BLAS/pairwise
#: vs DuckDB's join/scan-order group-sums). Rounding makes that
#: deterministic only when no value lands within the summation-order
#: noise (~1e-13 relative) of a decimal rounding midpoint — a
#: probabilistic, not bit-exact, equivalence. At round-8 over O(10^5)
#: compared values the expected midpoint-collision count is ≪1 per
#: run (noise window / rounding quantum ≈ 1e-5 per value only for
#: values near magnitude 1e3; observed flake count across r5–r7 runs:
#: zero), and any flake is a benign hash mismatch, never a wrong
#: ranking: the shortlist order keys on (dist, neighbor_id) where ties
#: resolve by id before rounding matters. If one ever surfaces, the
#: documented remedy is widening that column's rounding margin (or an
#: epsilon compare), not chasing accumulation order.

#: DuckDB twin of product_quantize(m=8, k_codes=16, iters=8,
#: train_sample=256): the unrolled PQ trainer + per-vector encoding,
#: reconstruction MSE = Σ_j d2_j / dims rounded to 8 (identical to the
#: kernel's np.round(((x - recon)**2).mean(axis=1), 8)).
_PQ_CODES_ORACLE = f"""
WITH vecs AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS base FROM embeddings),
{_pq_cte_parts("vecs", "vecs")}
SELECT e.vec_id, e.label, c.codes, c.recon_mse
FROM (SELECT vec_id, list(code ORDER BY j) AS codes,
             round(sum(d2) / {EMBEDDING_DIMS}, 8) AS recon_mse
      FROM pqcodes GROUP BY vec_id) c
JOIN vecs e USING (vec_id)
"""

_PQ_SUB = EMBEDDING_DIMS // 8

#: DuckDB twin of pq_topk(k=10, rerank=50): ADC distances = per-query
#: (j, code) lookup tables summed over the encoded corpus (round-8,
#: matching _adc_partial_topk), shortlist = top-50 under the total
#: (adc_dist, neighbor_id) order, then EXACT cosine rerank — self-
#: matches included, exactly like the kernel.
_PQ_TOPK_ORACLE = f"""
WITH vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS base FROM embeddings),
{_pq_cte_parts("vecs", "vecs")},
qset AS (SELECT vec_id AS query_id, base FROM vecs
         ORDER BY vec_id LIMIT 10),
qsub AS (SELECT query_id, j,
                base[(j*{_PQ_SUB}+1):(j*{_PQ_SUB}+{_PQ_SUB})] AS svec
         FROM qset, pqjs),
pqtbl AS (SELECT q.query_id, b.j, b.code,
                 {_pq_d2('q.svec', 'b.svec', _PQ_SUB)} AS td
          FROM qsub q JOIN pqb8 b USING (j)),
padc AS (SELECT t.query_id, c.vec_id AS neighbor_id,
                round(sum(t.td), 8) AS adc
         FROM pqcodes c JOIN pqtbl t ON t.j = c.j AND t.code = c.code
         GROUP BY t.query_id, c.vec_id),
pshort AS (SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc, neighbor_id) AS rk
    FROM padc) WHERE rk <= 50),
prer AS (
  SELECT s.query_id, s.neighbor_id,
         {_sql_cosine('q.base', 'n.base')} AS raw_sim
  FROM pshort s JOIN qset q USING (query_id)
  JOIN vecs n ON n.vec_id = s.neighbor_id),
pranked AS (
  SELECT query_id, neighbor_id, raw_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY raw_sim DESC, neighbor_id) AS rank
  FROM prer)
SELECT query_id, neighbor_id, round(raw_sim, 6) AS sim, rank
FROM pranked WHERE rank <= 10
"""


def _ivfpq_oracle_sql(residual: bool = False,
                      train_pred: str = "TRUE") -> str:
    """DuckDB twin of build_ivfpq_index + ivfpq_probe_topk (defaults:
    n_cells=16, iters=2, m=8, k_codes=16, train_sample=256, pq_iters=8,
    n_probe=4, rerank=50, k=10, queries = vec_id < 10): the coarse
    unrolled k-means prefix, the unrolled PQ trainer over raw vectors
    or x − centroid[cell] residuals, cell-restricted ADC (each query's
    candidates are the vectors in ITS probed cells — the per-cell
    cogroup + global shortlist of the probe is equivalent to this flat
    form), round-8 ADC distances, exact cosine rerank with self-matches
    included. ``train_pred`` restricts the TRAINING corpus for the
    incremental / streaming add-after-train paths (build on the even
    half, append the rest — appended vectors land exactly where the
    bulk build puts them, so assignment covers all vectors)."""
    dims1 = EMBEDDING_DIMS + 1
    if residual:
        src_all = (f"SELECT n.vec_id, list_transform(range(1, {dims1}), "
                   "d -> n.emb[d] - c.cen[d]) AS base "
                   "FROM corpus n JOIN c2 c USING (cell)")
        src_train = ("SELECT s.vec_id, s.base FROM pqsrcall s "
                     "JOIN tvecs t USING (vec_id)")
        q_base = (f"SELECT q.vec_id AS query_id, q.cell, "
                  f"list_transform(range(1, {dims1}), "
                  "d -> q.emb[d] - c.cen[d]) AS base "
                  "FROM qprobe q JOIN c2 c USING (cell)")
    else:
        src_all = "SELECT vec_id, emb AS base FROM vecs"
        src_train = "SELECT vec_id, emb AS base FROM tvecs"
        q_base = ("SELECT q.vec_id AS query_id, q.cell, q.emb AS base "
                  "FROM qprobe q")
    assign = _KMEANS_ASSIGN_CTE
    return f"""{_kmeans_cte_sql(16, train_pred)},
corpus AS ({assign.format(vecs='vecs', cents='c2', qfilter='', take='= 1')}),
qprobe AS ({assign.format(vecs='vecs', cents='c2',
                          qfilter=' WHERE v.vec_id < 10', take='<= 4')}),
pqsrcall AS ({src_all}),
pqsrctrain AS ({src_train}),
{_pq_cte_parts("pqsrcall", "pqsrctrain")},
qrbase AS ({q_base}),
qrsub AS (SELECT query_id, cell, j,
                 base[(j*{_PQ_SUB}+1):(j*{_PQ_SUB}+{_PQ_SUB})] AS svec
          FROM qrbase, pqjs),
pqtbl AS (SELECT q.query_id, q.cell, b.j, b.code,
                 {_pq_d2('q.svec', 'b.svec', _PQ_SUB)} AS td
          FROM qrsub q JOIN pqb8 b USING (j)),
padc AS (SELECT t.query_id, n.vec_id AS neighbor_id,
                round(sum(t.td), 8) AS adc
         FROM corpus n
         JOIN pqcodes c ON c.vec_id = n.vec_id
         JOIN pqtbl t ON t.cell = n.cell AND t.j = c.j
                     AND t.code = c.code
         GROUP BY t.query_id, n.vec_id),
pshort AS (SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc, neighbor_id) AS rk
    FROM padc) WHERE rk <= 50),
prer AS (
  SELECT s.query_id, s.neighbor_id,
         {_sql_cosine('q.emb', 'n.emb')} AS raw_sim
  FROM pshort s
  JOIN vecs q ON q.vec_id = s.query_id
  JOIN vecs n ON n.vec_id = s.neighbor_id),
pranked AS (
  SELECT query_id, neighbor_id, raw_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY raw_sim DESC, neighbor_id) AS rank
  FROM prer)
SELECT query_id, neighbor_id, round(raw_sim, 6) AS sim, rank
FROM pranked WHERE rank <= 10
"""


_IVFPQ_TOPK_ORACLE = _ivfpq_oracle_sql()
_IVFPQ_EVEN_TRAIN_ORACLE = _ivfpq_oracle_sql(train_pred="vec_id % 2 = 0")
_IVFPQ_RESIDUAL_ORACLE = _ivfpq_oracle_sql(residual=True)


def _gd_oracle_sql(iters: int = 15, lr: float = 0.5) -> str:
    """DuckDB twin of ml.train_quality_classifier: the full-batch
    logistic-regression GD loop UNROLLED as chained 1-row CTEs (the
    BPE/k-means/PQ trick applied to an iterative trainer). Each
    iteration is one aggregate over the materialized feature frame +
    one scalar weight update; weights round to 9 decimals per step —
    the same discipline the trainer itself now applies, which is what
    lets a BLAS-summed numpy path, a decimal-summed distributed path,
    and this SQL replay walk the identical trajectory. Features mirror
    ml.quality_features expression by expression (the log1p/ln(1+n)
    and exp() 1-ulp libm divergences are absorbed by the round-9).

    Tolerance assumption: per-step round-9 equality between a
    BLAS-summed gradient and DuckDB's scan-order group-sum is the
    probabilistic equivalence documented above _PQ_CODES_ORACLE —
    deterministic unless a gradient component lands within summation-
    order noise of a 1e-9 midpoint (never observed; remedy = widen
    that step's rounding margin, not chase accumulation order)."""
    n_f = 5
    zf = " + ".join(f"x{i}*w.w{i}" for i in range(n_f))
    its = []
    for t in range(1, iters + 1):
        sig = f"1.0/(1.0 + exp(-({zf})))"
        gs = ", ".join(f"sum(({sig} - y) * x{i}) AS g{i}"
                       for i in range(n_f))
        ws = ", ".join(f"round(w.w{i} - {lr} * g.g{i} / g.n, 9) AS w{i}"
                       for i in range(n_f))
        # MATERIALIZED: w{t} references w{t-1} twice (gradient + update)
        # — inlined CTEs would expand to a 2^iters plan tree, the same
        # blow-up the PQ trainer CTE hit (measured ~100 GiB at depth 8)
        its.append(f"""
g{t} AS MATERIALIZED (SELECT count(*) AS n, {gs} FROM feats, w{t - 1} w),
w{t} AS MATERIALIZED (SELECT {ws} FROM w{t - 1} w, g{t} g)""")
    w0 = ", ".join(f"0.0 AS w{i}" for i in range(n_f))
    names = ["intercept", "log_tokens", "punct_ratio", "digit_ratio",
             "mean_word_len"]
    outs = "\nUNION ALL ".join(
        f"SELECT '{name}' AS feature, w{i} AS weight FROM w{iters}"
        for i, name in enumerate(names))
    return f"""
WITH tok AS (
  SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
         len(list_filter(string_split_regex(text, '\\s+'),
             t -> t <> '')) AS n_tok,
         greatest(length(text), 1) AS n_chars,
         length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g'))
           AS n_punct,
         length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit
  FROM documents),
feats AS MATERIALIZED (
  SELECT y, 1.0 AS x0,
         ln(1.0 + n_tok) AS x1,
         CAST(n_punct AS DOUBLE) / n_chars AS x2,
         CAST(n_digit AS DOUBLE) / n_chars AS x3,
         CAST(n_chars - n_tok + 1 AS DOUBLE) / greatest(n_tok, 1) AS x4
  FROM tok),
w0 AS (SELECT {w0}),{",".join(its)},
scored AS (SELECT y, 1.0/(1.0 + exp(-({zf}))) AS p
           FROM feats, w{iters} w),
loss AS (SELECT round(sum(-(y * ln(p + 1e-12)
                            + (1.0 - y) * ln(1.0 - p + 1e-12)))
                      / count(*), 8) AS weight FROM scored)
{outs}
UNION ALL SELECT '__loss__' AS feature, weight FROM loss
"""


_GD_CLASSIFIER_ORACLE = _gd_oracle_sql()


#: SemDeDup-shaped END of the semantic pipeline: the same blocked
#: pairs, closed into clusters with a recursive CTE and applied with
#: the cluster-min survivor policy — the embedding twin of
#: dedup_fuzzy_apply, fully oracle-checked.
_SEMANTIC_APPLY_ORACLE = f"""
WITH RECURSIVE {_kmeans_cte_sql(8).replace(chr(10) + "WITH ", "", 1)},
assigned AS ({_KMEANS_ASSIGN_CTE.format(vecs='vecs', cents='c2',
                                        qfilter='', take='<= 2')}),
near_pairs AS (
  SELECT DISTINCT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
  FROM assigned a JOIN assigned b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round({_sql_cosine('a.emb', 'b.emb')}, 6) >= 0.3),
edges AS (SELECT vec_id_a AS src, vec_id_b AS dst FROM near_pairs
          UNION ALL SELECT vec_id_b, vec_id_a FROM near_pairs),
reach(vec_id, member) AS (
  SELECT src, src FROM edges
  UNION
  SELECT r.vec_id, e.dst FROM reach r JOIN edges e ON e.src = r.member),
clusters AS (
  SELECT vec_id, min(member) AS cluster_id FROM reach GROUP BY vec_id)
SELECT v.vec_id,
       coalesce(c.cluster_id, v.vec_id) AS cluster_id,
       (c.cluster_id IS NULL OR c.cluster_id = v.vec_id) AS kept
FROM embeddings v LEFT JOIN clusters c USING (vec_id)
"""


@register("dedup_semantic_apply", _SEMANTIC_APPLY_ORACLE)
def q_dedup_semantic_apply(spark, sf_dir):
    """SemDeDup-style semantic dedup applied END-TO-END (Abbas et al.
    2023, "SemDeDup: Data-efficient learning at web-scale through
    semantic deduplication" — cluster embeddings, drop all but one of
    each semantically-identical group): the k-means-cell-blocked cosine
    pairs (same sub-quadratic blocking as dedup_embedding_blocked) feed
    connected components, and every vector gets its cluster plus a
    ``kept`` verdict under the cluster-min survivor policy — the
    embedding twin of dedup_fuzzy_apply, and like it fully
    oracle-checked (blocking replayed via the unrolled k-means CTE,
    clusters via a recursive CTE)."""
    embs = _t(spark, sf_dir, "embeddings")
    pairs = dedup.embedding_blocked_near_dup(embs)
    clusters = (dedup.connected_components(
        pairs.select(F.col("vec_id_a").alias("doc_id_a"),
                     F.col("vec_id_b").alias("doc_id_b")))
        .withColumnRenamed("doc_id", "vec_id"))
    return (embs.select("vec_id")
            .join(clusters, "vec_id", "left")
            .select("vec_id",
                    F.coalesce("cluster_id", F.col("vec_id"))
                    .alias("cluster_id"),
                    (F.col("cluster_id").isNull()
                     | (F.col("cluster_id") == F.col("vec_id")))
                    .alias("kept")))


@register("dedup_embedding_blocked", _EMB_BLOCKED_ORACLE)
def q_dedup_embedding_blocked(spark, sf_dir):
    """Semantic near-dup with k-means-cell blocking — the sub-quadratic
    100 TB path; r6: the learned blocking itself is oracle-checked via
    the unrolled k-means CTE (recall vs exact pairs stays pytest)."""
    return dedup.embedding_blocked_near_dup(_t(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# Extension surface: similarity search (M4 north star)
# ---------------------------------------------------------------------------

_BRUTE_TOPK_ORACLE = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 10),
     c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
           FROM embeddings),
     scored AS (
       SELECT query_id, neighbor_id,
              list_inner_product(qv, cv)
              / (sqrt(list_inner_product(qv, qv))
                 * sqrt(list_inner_product(cv, cv))) AS raw_sim
       FROM c CROSS JOIN q WHERE neighbor_id <> query_id),
     ranked AS (
       SELECT query_id, neighbor_id, raw_sim,
              row_number() OVER (PARTITION BY query_id
                                 ORDER BY raw_sim DESC, neighbor_id) AS rank
       FROM scored)
SELECT query_id, neighbor_id, round(raw_sim, 6) AS sim, rank
FROM ranked WHERE rank <= 10
"""


def _margin_bitext_oracle(cand_pred: str) -> str:
    """DuckDB twin of margin_bitext_pairs(k=4, threshold=1.0): A x B
    cross cosine (round-6 BEFORE the neighborhood averages), exact
    DECIMAL(16,6) top-k sums per side (order-free), one double
    division, margin filter BEFORE the per-source rank window.
    ``cand_pred`` selects the scored candidate set (the ``direction``
    parameter: forward ``r.ra <= 4``, intersection
    ``r.ra <= 4 AND r.rb <= 4``, ...)."""
    return f"""
WITH av AS (SELECT vec_id AS src_id, embedding::DOUBLE[] AS sv
            FROM embeddings WHERE label % 2 = 0),
bv AS (SELECT vec_id AS tgt_id, embedding::DOUBLE[] AS tv
       FROM embeddings WHERE label % 2 = 1),
scored AS (
  SELECT src_id, tgt_id,
         round(list_inner_product(sv, tv)
               / (sqrt(list_inner_product(sv, sv))
                  * sqrt(list_inner_product(tv, tv))), 6) AS sim
  FROM av, bv),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY src_id
                            ORDER BY sim DESC, tgt_id) AS ra,
         row_number() OVER (PARTITION BY tgt_id
                            ORDER BY sim DESC, src_id) AS rb
  FROM scored),
da AS (SELECT src_id, sum(CAST(sim AS DECIMAL(16,6))) AS sa,
              count(*) AS ca
       FROM ranked WHERE ra <= 4 GROUP BY src_id),
db AS (SELECT tgt_id, sum(CAST(sim AS DECIMAL(16,6))) AS sb,
              count(*) AS cb
       FROM ranked WHERE rb <= 4 GROUP BY tgt_id),
mined AS (
  SELECT r.src_id, r.tgt_id, r.sim,
         round(r.sim / ((CAST(sa AS DOUBLE) / ca
                         + CAST(sb AS DOUBLE) / cb) / 2), 6) AS margin
  FROM ranked r JOIN da USING (src_id) JOIN db USING (tgt_id)
  WHERE {cand_pred})
SELECT src_id, tgt_id, sim, margin,
       row_number() OVER (PARTITION BY src_id
                          ORDER BY margin DESC, tgt_id) AS rank
FROM mined WHERE margin >= 1.0
"""


_MARGIN_BITEXT_ORACLE = _margin_bitext_oracle("r.ra <= 4")


def _side_kmeans_ctes(p: str, parity: int, n_cells: int = 16) -> str:
    """The unrolled deterministic k-means trainer over ONE parity side
    of the embeddings table, every CTE name prefixed with ``p`` so two
    trainings compose in one query (the ANN margin oracle trains each
    side's coarse cells independently, exactly like the two inline
    ``ivf_topk`` calls it replays). Same trainer semantics as
    :func:`_kmeans_cte_sql`: init = the ``n_cells`` lowest vec_ids of
    the side, 2 Lloyd rounds, cosine argmax with ties to the lowest
    cell, round-6 centroid means, memberless cells keep their previous
    centroid. Yields ``{p}vecs`` and final centroids ``{p}c2``."""
    assign = _KMEANS_ASSIGN_CTE
    return f"""
{p}vecs AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
            WHERE label % 2 = {parity}),
{p}c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, emb AS cen
  FROM {p}vecs ORDER BY vec_id LIMIT {n_cells}),
{p}a1 AS ({assign.format(vecs=p + 'vecs', cents=p + 'c0',
                         qfilter='', take='= 1')}),
{p}u1 AS (
  SELECT cell, dd.d AS dim, round(avg(emb[dd.d]), 6) AS c
  FROM {p}a1, (SELECT unnest(range(1, {EMBEDDING_DIMS + 1})) AS d) dd
  GROUP BY cell, dd.d),
{p}u1l AS (SELECT cell, list(c ORDER BY dim) AS cen
           FROM {p}u1 GROUP BY cell),
{p}c1 AS (SELECT c.cell, coalesce(u.cen, c.cen) AS cen
          FROM {p}c0 c LEFT JOIN {p}u1l u USING (cell)),
{p}a2 AS ({assign.format(vecs=p + 'vecs', cents=p + 'c1',
                         qfilter='', take='= 1')}),
{p}u2 AS (
  SELECT cell, dd.d AS dim, round(avg(emb[dd.d]), 6) AS c
  FROM {p}a2, (SELECT unnest(range(1, {EMBEDDING_DIMS + 1})) AS d) dd
  GROUP BY cell, dd.d),
{p}u2l AS (SELECT cell, list(c ORDER BY dim) AS cen
           FROM {p}u2 GROUP BY cell),
{p}c2 AS (SELECT c.cell, coalesce(u.cen, c.cen) AS cen
          FROM {p}c1 c LEFT JOIN {p}u2l u USING (cell))"""


#: DuckDB twin of margin_bitext_pairs_ann(k=4, threshold=1.0,
#: n_cells=16, n_probe=4): BOTH sides' k-means trainings unrolled
#: (forward trains on the odd/target side, backward on the even/source
#: side), shortlists via cell probing + rank-on-raw-sim exactly like
#: the _IVF_TOPK_ORACLE, then the same DECIMAL margin over round-6
#: shortlist sims. Fully deterministic — the ANN approximation is in
#: the candidate set, not in any float.
_MARGIN_BITEXT_ANN_ORACLE = f"""
WITH {_side_kmeans_ctes('f', 1)},
{_side_kmeans_ctes('g', 0)},
fcorpus AS ({_KMEANS_ASSIGN_CTE.format(vecs='fvecs', cents='fc2',
                                       qfilter='', take='= 1')}),
fprobe AS ({_KMEANS_ASSIGN_CTE.format(vecs='gvecs', cents='fc2',
                                      qfilter='', take='<= 4')}),
fsc AS (
  SELECT q.vec_id AS src_id, n.vec_id AS tgt_id,
         list_inner_product(q.emb, n.emb)
         / (sqrt(list_inner_product(q.emb, q.emb))
            * sqrt(list_inner_product(n.emb, n.emb))) AS raw_sim
  FROM fprobe q JOIN fcorpus n USING (cell)
  WHERE n.vec_id <> q.vec_id),
frk AS (
  SELECT src_id, tgt_id, raw_sim,
         row_number() OVER (PARTITION BY src_id
                            ORDER BY raw_sim DESC, tgt_id) AS rk
  FROM fsc),
fwd AS (SELECT src_id, tgt_id, round(raw_sim, 6) AS sim
        FROM frk WHERE rk <= 4),
gcorpus AS ({_KMEANS_ASSIGN_CTE.format(vecs='gvecs', cents='gc2',
                                       qfilter='', take='= 1')}),
gprobe AS ({_KMEANS_ASSIGN_CTE.format(vecs='fvecs', cents='gc2',
                                      qfilter='', take='<= 4')}),
gsc AS (
  SELECT q.vec_id AS tgt_id, n.vec_id AS src_id,
         list_inner_product(q.emb, n.emb)
         / (sqrt(list_inner_product(q.emb, q.emb))
            * sqrt(list_inner_product(n.emb, n.emb))) AS raw_sim
  FROM gprobe q JOIN gcorpus n USING (cell)
  WHERE n.vec_id <> q.vec_id),
grk AS (
  SELECT src_id, tgt_id, raw_sim,
         row_number() OVER (PARTITION BY tgt_id
                            ORDER BY raw_sim DESC, src_id) AS rk
  FROM gsc),
bwd AS (SELECT src_id, tgt_id, round(raw_sim, 6) AS sim
        FROM grk WHERE rk <= 4),
da AS (SELECT src_id, sum(CAST(sim AS DECIMAL(16,6))) AS sa,
              count(*) AS ca
       FROM fwd GROUP BY src_id),
db AS (SELECT tgt_id, sum(CAST(sim AS DECIMAL(16,6))) AS sb,
              count(*) AS cb
       FROM bwd GROUP BY tgt_id),
mined AS (
  SELECT f.src_id, f.tgt_id, f.sim,
         round(f.sim / ((CAST(sa AS DOUBLE) / ca
                         + CAST(sb AS DOUBLE) / cb) / 2), 6) AS margin
  FROM fwd f JOIN da USING (src_id) JOIN db USING (tgt_id))
SELECT src_id, tgt_id, sim, margin,
       row_number() OVER (PARTITION BY src_id
                          ORDER BY margin DESC, tgt_id) AS rank
FROM mined WHERE margin >= 1.0
"""


#: DuckDB twin of ml.domain_mixture(n_cells=8): the unrolled k-means
#: prefix, single assignment, and per-cell exact aggregates (integer
#: length sums, one double division each — no summation-order noise).
_DOMAIN_MIXTURE_ORACLE = f"""{_kmeans_cte_sql(8)},
assigned AS ({_KMEANS_ASSIGN_CTE.format(vecs='vecs', cents='c2',
                                        qfilter='', take='= 1')}),
tot AS (SELECT count(*) AS n FROM vecs)
SELECT a.cell, count(*) AS n_docs,
       round(count(*) / CAST(tot.n AS DOUBLE), 6) AS mixture_weight,
       round(CAST(sum(CAST(length(d.text) AS DECIMAL(20,0))) AS DOUBLE)
             / count(*), 2) AS avg_chars,
       count(DISTINCT d.lang) AS n_langs
FROM assigned a JOIN documents d ON d.doc_id = a.vec_id, tot
GROUP BY a.cell, tot.n
ORDER BY a.cell
"""


#: DuckDB twin of ml.domain_reweight(uniform target over 8 cells):
#: the unrolled k-means prefix, per-cell counts, the fixed-order rate
#: derivation (t/n per cell, max, one normalizing division), and the
#: dataset_mixture LCG hash admission keyed on doc_id.
_DOMAIN_REWEIGHT_ORACLE = f"""{_kmeans_cte_sql(8)},
assigned AS ({_KMEANS_ASSIGN_CTE.format(vecs='vecs', cents='c2',
                                        qfilter='', take='= 1')}),
tw(cell, t) AS (VALUES {', '.join(f'({c}, 0.125)' for c in range(8))}),
cnt AS (SELECT cell, count(*) AS nc FROM assigned GROUP BY cell),
ratio AS (SELECT cnt.cell, t / nc AS r
          FROM cnt JOIN tw USING (cell)),
mx AS (SELECT max(r) AS m FROM ratio),
rates AS (SELECT cell, r / m AS rate FROM ratio, mx)
SELECT d.doc_id, a.cell, round(rate, 6) AS sample_rate
FROM assigned a
JOIN documents d ON d.doc_id = a.vec_id
JOIN rates USING (cell)
WHERE ((((d.doc_id % 2147483647) * 48271 + 7 + 524287) % 2147483647)
       % 1000) / 1000.0 < rate
"""


@register("corpus_domain_reweight", _DOMAIN_REWEIGHT_ORACLE)
def q_corpus_domain_reweight(spark, sf_dir):
    """The APPLY side of corpus_domain_mixture (r8): resample the
    corpus to a UNIFORM learned-domain mixture — per-cell admission
    rates derived from the cell counts (downsample-only, the most
    up-weighted domain keeps every row), deterministic LCG hash
    admission per doc (the dataset_mixture mechanism keyed on the
    learned cell). Closes the DoReMi-style loop the report opens
    (operators/ml.py:domain_reweight)."""
    from s3_elasticsearch_data_pipeline_spark.operators import ml
    return ml.domain_reweight(_t(spark, sf_dir, "documents"),
                              _t(spark, sf_dir, "embeddings"),
                              {c: 0.125 for c in range(8)})


#: DuckDB twin of ml.domain_reweight(mode="resample"): the unrolled
#: k-means prefix, per-cell repeat factors f = (t/Σt)·N/n in the same
#: fixed IEEE order, floor/frac split, replica fan-out via a bounded
#: range join, and the (doc_id, replica)-keyed LCG fractional gate.
_DOMAIN_REWEIGHT_UP_ORACLE = f"""{_kmeans_cte_sql(8)},
assigned AS ({_KMEANS_ASSIGN_CTE.format(vecs='vecs', cents='c2',
                                        qfilter='', take='= 1')}),
tw(cell, t) AS (VALUES (0, 0.3),
                {', '.join(f'({c}, 0.1)' for c in range(1, 8))}),
cnt AS (SELECT cell, count(*) AS nc FROM assigned GROUP BY cell),
-- tsum: exact DECIMAL sum (order-independent), mirroring the
-- operator's exact nanoweight-integer normalizer; every other op in
-- f is the same fixed-order DOUBLE chain the operator runs
tot AS (SELECT sum(nc) AS n,
               sum(CAST(t AS DECIMAL(18,9))) AS tsum
        FROM cnt JOIN tw USING (cell)),
fac AS (SELECT cell,
               CAST(t AS DOUBLE) / CAST(tsum AS DOUBLE) * n / nc AS f
        FROM cnt JOIN tw USING (cell), tot),
rep AS (SELECT cell, f, CAST(floor(f) AS INT) AS k,
               f - floor(f) AS frac FROM fac)
SELECT d.doc_id, a.cell, CAST(r.replica AS INT) AS replica,
       round(f, 6) AS sample_rate
FROM assigned a
JOIN documents d ON d.doc_id = a.vec_id
JOIN rep USING (cell)
-- 4096 = the operator's hard replication cap (it ERRORS above it,
-- so this fan-out bound can never silently truncate)
JOIN (SELECT unnest(range(0, 4096)) AS replica) r ON r.replica <= k
WHERE r.replica < k
   OR ((((d.doc_id % 2147483647) * 48271 + 7 + 524287
          + r.replica * 131071)
        % 2147483647) % 1000) / 1000.0 < frac
"""


@register("corpus_domain_reweight_up", _DOMAIN_REWEIGHT_UP_ORACLE)
def q_corpus_domain_reweight_up(spark, sf_dir):
    """UP-weighting domain resample (r9): the rarest learned domain
    at the oracle scale (cell 0 — pinned by a pytest fixture check)
    is targeted at 3× the others' share, so its repeat factor
    exceeds 1 and docs are physically replicated — floor(f) full
    copies + a deterministic (doc_id, replica)-hashed fractional
    wave — while over-represented cells downsample, total size ≈ N
    (operators/ml.py:domain_reweight mode="resample")."""
    from s3_elasticsearch_data_pipeline_spark.operators import ml
    targets = {c: (0.3 if c == 0 else 0.1) for c in range(8)}
    return ml.domain_reweight(_t(spark, sf_dir, "documents"),
                              _t(spark, sf_dir, "embeddings"),
                              targets, mode="resample")


@register("corpus_domain_mixture", _DOMAIN_MIXTURE_ORACLE)
def q_corpus_domain_mixture(spark, sf_dir):
    """Corpus composition by LEARNED domain (r7): k-means cells over
    the embedding space as domain proxies, each reported with its
    mixture weight and text-shape stats — the starting report of a
    DoReMi-style mixture reweighting (operators/ml.py:domain_mixture).
    Fully oracle-checked through the unrolled k-means CTE."""
    from s3_elasticsearch_data_pipeline_spark.operators import ml
    return ml.domain_mixture(_t(spark, sf_dir, "documents"),
                             _t(spark, sf_dir, "embeddings"))


@register("sim_margin_bitext", _MARGIN_BITEXT_ORACLE)
def q_sim_margin_bitext(spark, sf_dir):
    """Margin-based parallel-pair mining (Artetxe & Schwenk 2019, the
    CCMatrix/LASER recipe): cross-side pairs whose cosine stands out
    against both sides' local kNN density — margin = cos / mean of the
    two neighborhoods' top-k averages (operators/similarity.py:
    margin_bitext_pairs; exact decimal neighborhood sums make the
    score bit-identical across engines). Sides = label parity."""
    return similarity.margin_bitext_pairs(
        _t(spark, sf_dir, "embeddings"))


@register("sim_margin_bitext_intersection",
          _margin_bitext_oracle("r.ra <= 4 AND r.rb <= 4"))
def q_sim_margin_bitext_intersection(spark, sf_dir):
    """Bidirectional margin mining (r8): the INTERSECTION candidate
    strategy of Artetxe & Schwenk §3.2 — a pair is scored only when x
    is in y's top-k AND y is in x's top-k, the paper's
    highest-precision setting. Same margin expression and DECIMAL
    discipline as sim_margin_bitext; only the candidate set differs
    (operators/similarity.py:margin_bitext_pairs, direction=)."""
    return similarity.margin_bitext_pairs(
        _t(spark, sf_dir, "embeddings"), direction="intersection")


@register("sim_margin_bitext_indexed", _MARGIN_BITEXT_ANN_ORACLE)
def q_sim_margin_bitext_indexed(spark, sf_dir):
    """Margin mining against PERSISTED per-side IVF indexes (r8) —
    the build-once / mine-many production loop: each side's corpus is
    an index on disk (build_ivf_index; batches append via
    ivf_index_append / the streaming ingest) and a mining run is two
    ivf_probe_topk passes + the shared margin stage. The persistence
    roundtrip and probe kernels are exact, so the result is
    bit-identical to the inline ANN miner (tested) and this query
    carries the SAME unrolled-k-means oracle
    (operators/similarity.py:margin_bitext_pairs_indexed)."""
    import atexit
    import shutil
    import tempfile

    from pyspark.sql import functions as _F
    emb = _t(spark, sf_dir, "embeddings")
    # The returned DataFrame reads the index parquet lazily, so the
    # scratch dir must outlive this call — reap it at process exit
    # instead of leaking two built indexes per bench/verdict run.
    d = tempfile.mkdtemp(prefix="margin-idx-")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    similarity.build_ivf_index(
        emb.where(_F.col("label") % 2 == 0).select("vec_id", "embedding"),
        d + "/src", n_cells=16)
    similarity.build_ivf_index(
        emb.where(_F.col("label") % 2 == 1).select("vec_id", "embedding"),
        d + "/tgt", n_cells=16)
    return similarity.margin_bitext_pairs_indexed(spark, d + "/src",
                                                  d + "/tgt")


#: per-sf cache of built per-side IVF indexes for the mine-only query:
#: the build-once/mine-many serving shape — the build happens once per
#: process per sf (outside any timed window after the first/warm call)
#: and every subsequent call is purely the two probe passes + margin.
_MARGIN_IDX_CACHE: dict[str, str] = {}


def _built_margin_indexes(spark, sf_dir: str) -> str:
    import atexit
    import os as _os
    import shutil
    import tempfile

    from pyspark.sql import functions as _F
    key = _os.path.realpath(sf_dir)
    d = _MARGIN_IDX_CACHE.get(key)
    if d is not None:
        return d
    d = tempfile.mkdtemp(prefix="margin-idx-cache-")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    emb = _t(spark, sf_dir, "embeddings")
    a = emb.where(_F.col("label") % 2 == 0).select("vec_id", "embedding")
    b = emb.where(_F.col("label") % 2 == 1).select("vec_id", "embedding")
    # the ONE shared constant-occupancy sizing rule (flat below the
    # 64-cell gate, two-level above) — bit-identity with the inline
    # ANN miner depends on sizing identically
    similarity.build_ivf_index(a, d + "/src",
                               n_cells=similarity.auto_n_cells(a.count()))
    similarity.build_ivf_index(b, d + "/tgt",
                               n_cells=similarity.auto_n_cells(b.count()))
    _MARGIN_IDX_CACHE[key] = d
    return d


@register("sim_margin_bitext_mine", _MARGIN_BITEXT_ANN_ORACLE)
def q_sim_margin_bitext_mine(spark, sf_dir):
    """The MINE side of the build-once/mine-many loop in isolation
    (r9): per-side IVF indexes are built once per process per sf
    (auto-sized like the inline ANN miner) and cached; every call is
    then two ivf_probe_topk passes + the shared DECIMAL margin stage —
    the steady-state serving cost a 100 TB mining deployment pays per
    run, with the index build amortized away exactly as in
    production. Bit-identical to the inline miner at the same
    parameters, so it carries the same unrolled-k-means oracle; at
    sf0.01 the auto-size lands on the oracle's 16 cells
    (operators/similarity.py:margin_bitext_pairs_indexed)."""
    d = _built_margin_indexes(spark, sf_dir)
    return similarity.margin_bitext_pairs_indexed(spark, d + "/src",
                                                  d + "/tgt")


@register("sim_margin_bitext_ann", _MARGIN_BITEXT_ANN_ORACLE)
def q_sim_margin_bitext_ann(spark, sf_dir):
    """Margin mining over ANN shortlists (r8) — the 100 TB shape of
    sim_margin_bitext as CODE: per-side IVF shortlists (coarse k-means
    cells, cell-probed exact rerank — the LASER/CCMatrix FAISS
    pipeline), kNN neighborhood averages over the shortlists, the same
    DECIMAL margin. No cross join anywhere in the plan (asserted in
    tests); the full A×B product never materializes
    (operators/similarity.py:margin_bitext_pairs_ann). The oracle
    unrolls BOTH sides' k-means trainings — deterministic end-to-end,
    so even the ANN form is hash-checked, not rows-only."""
    return similarity.margin_bitext_pairs_ann(
        _t(spark, sf_dir, "embeddings"))


@register("sim_topk_bruteforce", _BRUTE_TOPK_ORACLE)
def q_sim_topk_bruteforce(spark, sf_dir):
    """Exact cosine top-10 for query vectors vec_id<10 — broadcast
    nested-loop + windowed rank."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk(
        emb, emb.where(F.col("vec_id") < 10), k=10)


@register("sim_topk_ann_lsh", """
WITH planes AS (
  SELECT pp.p AS p,
         list_transform(range(0, 64), d ->
           CASE WHEN (CAST(('0x' || substr(md5('plane:' || pp.p || ':0'),
                                           2 * (d // 8) + 1, 2)) AS INT)
                      >> (d % 8)) & 1 = 1
                THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END) AS pl
  FROM (SELECT unnest(range(0, 32)) AS p) pp),
vecs AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
bits AS (
  SELECT v.vec_id, pl.p // 4 AS tbl,
         CASE WHEN list_inner_product(v.emb, pl.pl) > 0
              THEN 1 << (pl.p % 4) ELSE 0 END AS term
  FROM vecs v CROSS JOIN planes pl),
buck AS (
  SELECT vec_id, tbl, sum(term)::BIGINT AS bucket
  FROM bits GROUP BY vec_id, tbl),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM (SELECT * FROM buck WHERE vec_id < 10) q
  JOIN buck c ON q.tbl = c.tbl AND q.bucket = c.bucket
  WHERE c.vec_id <> q.vec_id),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         list_inner_product(qv.emb, cv.emb)
         / (sqrt(list_inner_product(qv.emb, qv.emb))
            * sqrt(list_inner_product(cv.emb, cv.emb))) AS s
  FROM cand JOIN vecs qv ON qv.vec_id = cand.query_id
            JOIN vecs cv ON cv.vec_id = cand.neighbor_id),
ranked AS (
  SELECT query_id, neighbor_id, s,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY s DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, round(s, 6) AS sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 10
""")
def q_sim_topk_ann_lsh(spark, sf_dir):
    """Sign-sketch LSH ANN top-10 — the planes are md5-derived ±1 rows
    (already engine-portable), so the DuckDB twin re-derives the SAME
    32 hyperplanes from md5 hex in SQL, recomputes every bucket, and
    replays the collide→exact-cosine-rerank pipeline. "Approximate"
    therefore means approximate vs ground truth (recall<1 by design),
    NOT vs a twin engine — deterministically oracle-checked. Oracle
    precondition (pytest-asserted at both oracle SFs): no |emb·plane|
    sits within float64 summation error of 0, so the numpy-matmul and
    sequential-SQL sign tests agree."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ann_lsh_topk(
        emb, emb.where(F.col("vec_id") < 10), k=10, dims=EMBEDDING_DIMS)


@register("sim_topk_bruteforce_arrow", _BRUTE_TOPK_ORACLE)
def q_sim_topk_bruteforce_arrow(spark, sf_dir):
    """Arrow/numpy-vectorized exact top-10 — same answer as the HOF
    path, so it shares ``sim_topk_bruteforce``'s oracle: the top-k SET
    and 6-decimal sims are BLAS-order-independent on this corpus (the
    raw-score gaps dwell far above float64 summation error; the
    equivalence pytest pins both paths to each other as well)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk_arrow(
        emb, emb.where(F.col("vec_id") < 10), k=10)


# ---------------------------------------------------------------------------
# Extension surface: text analysis (M4 north star)
# ---------------------------------------------------------------------------

@register("text_token_counts", """
SELECT doc_id,
       len(list_filter(string_split_regex(text, '\\s+'), t -> t <> ''))
         AS n_tokens,
       len(list_distinct(list_filter(string_split_regex(text, '\\s+'),
                                     t -> t <> ''))) AS n_distinct_tokens
FROM documents
""")
def q_text_token_counts(spark, sf_dir):
    return text.token_counts(_t(spark, sf_dir, "documents"))


@register("text_quality_scores", """
WITH base AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
  FROM documents),
  m AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         len(list_distinct(toks)) AS n_distinct,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS n_alpha,
         len(list_intersect(list_distinct(toks),
             ['the','a','and','of','to','in','is','that','for','it']))
           AS n_stop
  FROM base)
SELECT doc_id, n_tokens,
       floor((CASE WHEN n_tokens > 0
                  THEN CAST(n_distinct AS DOUBLE) / n_tokens
                  ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS lexical_diversity,
       floor((CASE WHEN n_chars > 0
                  THEN CAST(n_alpha AS DOUBLE) / n_chars
                  ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS alpha_ratio,
       n_stop AS n_stopword_hits,
       floor((0.3 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
             + 0.3 * (CASE WHEN n_tokens > 0
                           THEN CAST(n_distinct AS DOUBLE) / n_tokens
                           ELSE 0.0 END)
             + 0.2 * (CASE WHEN n_chars > 0
                           THEN CAST(n_alpha AS DOUBLE) / n_chars
                           ELSE 0.0 END)
             + 0.2 * least(CAST(n_stop AS DOUBLE) / 5.0, 1.0)) * 1000000.0 + 0.5) / 1000000.0 AS quality_score
FROM m
""")
def q_text_quality_scores(spark, sf_dir):
    return text.quality_scores(_t(spark, sf_dir, "documents"))


@register("text_language_id", """
WITH toks AS (
  SELECT doc_id,
         list_distinct(list_filter(string_split_regex(lower(text), '\\s+'),
                                   t -> t <> '')) AS dt
  FROM documents),
 scored AS (
  SELECT doc_id,
    len(list_intersect(dt, ['der','die','das','und','ist','von','mit','für','auf','ein'])) AS score_de,
    len(list_intersect(dt, ['the','a','and','of','to','in','is','that','for','it'])) AS score_en,
    len(list_intersect(dt, ['el','la','los','las','y','de','un','una','es','para'])) AS score_es,
    len(list_intersect(dt, ['le','la','les','et','de','un','une','est','pour','dans'])) AS score_fr,
    len(list_intersect(dt, ['的','了','是','在','我','有','和','就','不','人'])) AS score_zh
  FROM toks)
SELECT doc_id, score_de, score_en, score_es, score_fr, score_zh,
       CASE WHEN greatest(score_de, score_en, score_es, score_fr, score_zh) = 0
            THEN 'und'
            WHEN score_de = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'de'
            WHEN score_en = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'en'
            WHEN score_es = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'es'
            WHEN score_fr = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'fr'
            ELSE 'zh' END AS predicted_lang
FROM scored
""")
def q_text_language_id(spark, sf_dir):
    return text.language_id(_t(spark, sf_dir, "documents"))


@register("text_fingerprints", """
SELECT doc_id,
       md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                               ' +', ' ', 'g'))) AS fp
FROM documents
""")
def q_text_fingerprints(spark, sf_dir):
    return text.fingerprints(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Extension surface: multimodal plumbing (M4 north star)
# ---------------------------------------------------------------------------

@register("multimodal_features", """
SELECT doc_id, 'image/fake' AS media_type,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS payload_md5
FROM documents
""")
def q_multimodal_features(spark, sf_dir):
    """Binary payload + Arrow-batched mapInPandas feature extraction
    (fake-feature path; see image_decode_features for the real
    decoder)."""
    return multimodal.multimodal_features(_t(spark, sf_dir, "documents"))


#: Symbolic pixel-statistics twin shared by the PPM and PNG decode
#: queries — both payload generators emit the SAME generative raster,
#: so one oracle independently predicts the decoded features of both.
_IMAGE_FEATURES_ORACLE = """
WITH dims AS (
  SELECT doc_id, 8 + doc_id % 9 AS w, 6 + doc_id % 7 AS h
  FROM documents),
px AS (
  -- max image is (8+8)x(6+6)x3 = 576 bytes; uncorrelated series + filter
  SELECT d.doc_id, d.w, d.h, i.i
  FROM dims d CROSS JOIN generate_series(0, 16 * 12 * 3 - 1) AS i(i)
  WHERE i.i < d.w * d.h * 3)
SELECT doc_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       3 AS channels,
       CAST(w * h AS BIGINT) AS n_pixels,
       floor(avg(CAST((((i // 3) % w) * 7 + (i // (3 * w)) * 13
                       + (i % 3) * 31 + doc_id) % 256 AS DOUBLE))
             * 1000000.0 + 0.5) / 1000000.0 AS mean_intensity
FROM px GROUP BY doc_id, w, h
"""


def _image_feature_query(spark, sf_dir, attach_fn):
    """Shared body of the PPM/PNG decode-feature queries: attach the
    generative payloads, decode for TRUE features, project + round the
    columns the shared oracle predicts (one definition, so the two
    queries cannot drift off the oracle independently)."""
    feats = multimodal.image_features(
        attach_fn(_t(spark, sf_dir, "documents")))
    return (feats.where(F.col("decode_ok"))
            .select("doc_id", "width", "height", "channels", "n_pixels",
                    (F.floor(F.col("mean_intensity") * 1000000.0 + 0.5)
                     / 1000000.0).alias("mean_intensity")))


@register("image_decode_features", _IMAGE_FEATURES_ORACLE)
def q_image_decode_features(spark, sf_dir):
    """REAL image decode end-to-end: generate one deterministic binary
    P6 PPM per document executor-side, decode the actual bytes back
    (``operators/multimodal.py:decode_image`` — header parse + raster),
    and emit true width/height/channels/mean-intensity. The oracle
    recomputes the expected values symbolically from the generative
    formula — a genuine independent check that the decoder reads the
    raster correctly, not an md5 tautology."""
    return _image_feature_query(spark, sf_dir,
                                multimodal.attach_image_payload)


#: Symbolic twin of the baseline-JPEG decode: the fixture images are
#: constant per 8x8 block, so every block carries ONLY a DC
#: coefficient and the full lossy chain — forward color transform,
#: DC quantization from the block mean, dequant+IDCT, rounded inverse
#: color transform — is replayed in closed form per pixel. Constants
#: and op ORDER mirror multimodal._rgb_to_ycbcr_planes / encode_jpeg /
#: _decode_jpeg exactly (same IEEE doubles in both engines).
_JPEG_FEATURES_ORACLE = """
WITH dims AS (
  SELECT doc_id, 8 + doc_id % 9 AS w, 6 + doc_id % 7 AS h
  FROM documents),
px AS (
  SELECT d.doc_id, d.w, d.h, i.i,
         ((i.i // 3) % d.w) // 8 AS bx,
         (i.i // (3 * d.w)) // 8 AS by,
         i.i % 3 AS ch
  FROM dims d CROSS JOIN generate_series(0, 16 * 12 * 3 - 1) AS i(i)
  WHERE i.i < d.w * d.h * 3),
blockrgb AS (
  SELECT doc_id, w, h, i, ch,
         CAST((doc_id * 3 + bx * 7 + by * 11) % 256 AS DOUBLE) AS r,
         CAST((doc_id * 5 + bx * 13 + by * 3) % 256 AS DOUBLE) AS g,
         CAST((doc_id * 7 + bx * 5 + by * 17) % 256 AS DOUBLE) AS b
  FROM px),
planes AS (
  SELECT doc_id, w, h, i, ch,
         LEAST(255.0, GREATEST(0.0,
           2 * floor(8.0 * ((0.299 * r + 0.587 * g + 0.114 * b)
                            - 128.0) / 16.0 + 0.5) + 128)) AS yp,
         LEAST(255.0, GREATEST(0.0,
           2 * floor(8.0 * ((128.0 - 0.168736 * r - 0.331264 * g
                             + 0.5 * b) - 128.0) / 16.0 + 0.5)
           + 128)) AS cbp,
         LEAST(255.0, GREATEST(0.0,
           2 * floor(8.0 * ((128.0 + 0.5 * r - 0.418688 * g
                             - 0.081312 * b) - 128.0) / 16.0 + 0.5)
           + 128)) AS crp
  FROM blockrgb),
vals AS (
  SELECT doc_id, w, h,
         CASE ch
           WHEN 0 THEN LEAST(255.0, GREATEST(0.0,
             floor(yp + 1.402 * (crp - 128.0) + 0.5)))
           WHEN 1 THEN LEAST(255.0, GREATEST(0.0,
             floor(yp - 0.344136 * (cbp - 128.0)
                   - 0.714136 * (crp - 128.0) + 0.5)))
           ELSE LEAST(255.0, GREATEST(0.0,
             floor(yp + 1.772 * (cbp - 128.0) + 0.5)))
         END AS v
  FROM planes)
SELECT doc_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       3 AS channels,
       CAST(w * h AS BIGINT) AS n_pixels,
       floor(avg(v) * 1000000.0 + 0.5) / 1000000.0 AS mean_intensity
FROM vals GROUP BY doc_id, w, h
"""


@register("image_decode_jpeg", _JPEG_FEATURES_ORACLE)
def q_image_decode_jpeg(spark, sf_dir):
    """REAL baseline-JPEG decode end-to-end (r9): deterministic
    constant-block color images are compressed executor-side through
    the real encoder (forward DCT + quantization + huffman), then the
    feature query drives the FULL T.81 decode — marker walk, huffman
    entropy decode, dequant, IDCT, YCbCr→RGB — and the oracle replays
    the lossy roundtrip in closed form (DC-only blocks quantize
    noiselessly from the block mean), so the hash check covers the
    decoder's arithmetic, not an md5 tautology
    (operators/multimodal.py:_decode_jpeg)."""
    return _image_feature_query(spark, sf_dir,
                                multimodal.attach_jpeg_payload)


#: Symbolic twin of the 4:2:0 decode: ONE color per doc, so the whole
#: chain collapses to the per-doc DC closed form; the mean divides the
#: SAME two integers Spark divides (w·h·(r'+g'+b') over w·h·3) so the
#: doubles are bit-identical.
_JPEG420_FEATURES_ORACLE = """
WITH dims AS (
  SELECT doc_id, 8 + doc_id % 9 AS w, 6 + doc_id % 7 AS h,
         CAST((doc_id * 3) % 256 AS DOUBLE) AS r,
         CAST((doc_id * 5) % 256 AS DOUBLE) AS g,
         CAST((doc_id * 7) % 256 AS DOUBLE) AS b
  FROM documents),
planes AS (
  SELECT doc_id, w, h,
         LEAST(255.0, GREATEST(0.0,
           2 * floor(8.0 * ((0.299 * r + 0.587 * g + 0.114 * b)
                            - 128.0) / 16.0 + 0.5) + 128)) AS yp,
         LEAST(255.0, GREATEST(0.0,
           2 * floor(8.0 * ((128.0 - 0.168736 * r - 0.331264 * g
                             + 0.5 * b) - 128.0) / 16.0 + 0.5)
           + 128)) AS cbp,
         LEAST(255.0, GREATEST(0.0,
           2 * floor(8.0 * ((128.0 + 0.5 * r - 0.418688 * g
                             - 0.081312 * b) - 128.0) / 16.0 + 0.5)
           + 128)) AS crp
  FROM dims),
rgb AS (
  SELECT doc_id, w, h,
         LEAST(255.0, GREATEST(0.0,
           floor(yp + 1.402 * (crp - 128.0) + 0.5))) AS rr,
         LEAST(255.0, GREATEST(0.0,
           floor(yp - 0.344136 * (cbp - 128.0)
                 - 0.714136 * (crp - 128.0) + 0.5))) AS gg,
         LEAST(255.0, GREATEST(0.0,
           floor(yp + 1.772 * (cbp - 128.0) + 0.5))) AS bb
  FROM planes)
SELECT doc_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       3 AS channels,
       CAST(w * h AS BIGINT) AS n_pixels,
       floor(CAST(w * h * CAST(rr + gg + bb AS BIGINT) AS DOUBLE)
             / (w * h * 3) * 1000000.0 + 0.5) / 1000000.0
         AS mean_intensity
FROM rgb
"""


@register("image_decode_jpeg420", _JPEG420_FEATURES_ORACLE)
def q_image_decode_jpeg420(spark, sf_dir):
    """4:2:0-subsampled JPEG decode end-to-end (r9): whole-image-
    constant fixtures keep even the box-downsampled chroma blocks
    constant, so the interleaved-MCU + chroma-upsample decode path —
    the layout virtually every camera/web encoder emits — is
    hash-checked against the same DC closed form as the 4:4:4 query
    (operators/multimodal.py:_decode_jpeg, attach_jpeg420_payload)."""
    return _image_feature_query(spark, sf_dir,
                                multimodal.attach_jpeg420_payload)


@register("image_decode_png", _IMAGE_FEATURES_ORACLE)
def q_image_decode_png(spark, sf_dir):
    """REAL compressed-image decode end-to-end: the same generative
    raster as ``image_decode_features``, but encoded as PNG (stdlib
    zlib IDAT, per-row filter cycling through None/Sub/Up/Average/
    Paeth) and decoded back through the chunk-walk + CRC + inflate +
    full-unfilter path (``operators/multimodal.py:_decode_png``). The
    shared symbolic oracle predicts the pixel statistics independently,
    so a hash match proves the decompressor and all five unfilter
    branches reproduce the raster byte-for-byte."""
    return _image_feature_query(spark, sf_dir,
                                multimodal.attach_png_payload)


@register("audio_decode_features", """
WITH d AS (
  SELECT doc_id, 8000 * (1 + doc_id % 3) AS rate,
         200 + (doc_id % 37) * 10 AS n
  FROM documents),
s AS (
  -- max tone is 200 + 36*10 = 560 samples; uncorrelated series+filter
  SELECT d.doc_id, d.rate, d.n, i.i
  FROM d CROSS JOIN generate_series(0, 559) AS i(i)
  WHERE i.i < d.n)
SELECT doc_id,
       CAST(rate AS INT) AS sample_rate,
       1 AS n_channels, 16 AS bits_per_sample,
       CAST(n AS BIGINT) AS n_samples,
       floor(CAST(n AS DOUBLE) / rate * 1000000.0 + 0.5) / 1000000.0
         AS duration_s,
       floor(sqrt(avg(CAST((i * 17 + doc_id * 31) % 4096 - 2048 AS DOUBLE)
                      * CAST((i * 17 + doc_id * 31) % 4096 - 2048
                             AS DOUBLE)))
             * 1000000.0 + 0.5) / 1000000.0 AS rms
FROM s GROUP BY doc_id, rate, n
""")
def q_audio_decode_features(spark, sf_dir):
    """REAL audio decode end-to-end: generate one deterministic 16-bit
    PCM mono WAV per document executor-side, parse the actual RIFF
    bytes back (``operators/multimodal.py:decode_audio`` — chunk walk +
    PCM unpack), and emit true sample-rate/duration/RMS. The oracle
    recomputes the expected values symbolically from the generative
    tone formula — an independent check that the decoder reads the PCM
    raster correctly, not an md5 tautology (the audio twin of
    ``image_decode_features``)."""
    payloads = multimodal.attach_audio_payload(_t(spark, sf_dir, "documents"))
    feats = multimodal.audio_features(payloads)
    return (feats.where(F.col("decode_ok"))
            .select("doc_id", "sample_rate", "n_channels",
                    "bits_per_sample", "n_samples",
                    (F.floor(F.col("duration_s") * 1000000.0 + 0.5)
                     / 1000000.0).alias("duration_s"),
                    (F.floor(F.col("rms") * 1000000.0 + 0.5)
                     / 1000000.0).alias("rms")))


@register("multimodal_curation", """
WITH base AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
  FROM documents),
m AS (
  SELECT doc_id, len(toks) AS n_tokens,
         len(list_distinct(toks)) AS n_distinct,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS n_alpha,
         len(list_intersect(list_distinct(toks),
             ['the','a','and','of','to','in','is','that','for','it']))
           AS n_stop
  FROM base),
q AS (
  SELECT doc_id,
         floor((0.3 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
               + 0.3 * (CASE WHEN n_tokens > 0
                             THEN CAST(n_distinct AS DOUBLE) / n_tokens
                             ELSE 0.0 END)
               + 0.2 * (CASE WHEN n_chars > 0
                             THEN CAST(n_alpha AS DOUBLE) / n_chars
                             ELSE 0.0 END)
               + 0.2 * least(CAST(n_stop AS DOUBLE) / 5.0, 1.0))
               * 1000000.0 + 0.5) / 1000000.0 AS quality_score
  FROM m),
dims AS (
  SELECT doc_id, 8 + doc_id % 9 AS w, 6 + doc_id % 7 AS h
  FROM documents),
px AS (
  SELECT d.doc_id, d.w, d.h, i.i
  FROM dims d CROSS JOIN generate_series(0, 16 * 12 * 3 - 1) AS i(i)
  WHERE i.i < d.w * d.h * 3),
img AS (
  SELECT doc_id,
         floor(avg(CAST((((i // 3) % w) * 7 + (i // (3 * w)) * 13
                         + (i % 3) * 31 + doc_id) % 256 AS DOUBLE))
               * 1000000.0 + 0.5) / 1000000.0 AS mean_intensity
  FROM px GROUP BY doc_id, w, h),
au AS (
  SELECT doc_id,
         floor(CAST(200 + (doc_id % 37) * 10 AS DOUBLE)
               / (8000 * (1 + doc_id % 3)) * 1000000.0 + 0.5)
           / 1000000.0 AS duration_s
  FROM documents)
SELECT q.doc_id, q.quality_score, img.mean_intensity, au.duration_s
FROM q JOIN img ON q.doc_id = img.doc_id
       JOIN au ON q.doc_id = au.doc_id
WHERE q.quality_score >= 0.5
""")
def q_multimodal_curation(spark, sf_dir):
    """Cross-modal curation join — the shape a multimodal training-set
    builder runs: per-doc TEXT quality (columnar heuristics), IMAGE
    features (real PPM decode), and AUDIO duration (real WAV decode)
    computed by three independent pipelines, equi-joined on doc_id,
    and filtered on the text-quality gate. All three branches are
    oracle-reproducible, so the COMPOSITION is oracle-checked too —
    at scale each branch scans its own modality store once and the
    joins shuffle only per-doc feature rows.

    The text gate is pushed BELOW the decoders by hand: the final
    inner join discards gated-out docs anyway, so image/audio bytes
    are decoded only for survivors (~4× less Python decode here;
    at 100 TB the cheap columnar modality always gates the expensive
    one). Catalyst can't do this — the gate sits above a mapInPandas
    it won't reorder across. The gated (doc_id, score) frame is
    materialized once (lazy checkpoint): three consumers would
    otherwise each re-run the tokenize scan, costing more than the
    decode saved — it is the survivors manifest a production curation
    pipeline persists anyway. (The lazy checkpoint pins one small
    per-doc-id RDD per invocation, released by session GC — callers
    that loop this query should unpersist between calls as bench.py
    does; the iterative-operator deterministic-release pattern cannot
    apply to a lazily returned plan.)"""
    docs = _t(spark, sf_dir, "documents")
    q = (text.quality_scores(docs)
         .select("doc_id", "quality_score")
         .where(F.col("quality_score") >= 0.5)
         .localCheckpoint(eager=False))
    kept = docs.join(q.select("doc_id"), "doc_id", "left_semi")
    img = (multimodal.image_features(
        multimodal.attach_image_payload(kept))
        .where(F.col("decode_ok"))
        .select("doc_id",
                (F.floor(F.col("mean_intensity") * 1000000.0 + 0.5)
                 / 1000000.0).alias("mean_intensity")))
    au = (multimodal.audio_features(
        multimodal.attach_audio_payload(kept))
        .where(F.col("decode_ok"))
        .select("doc_id",
                (F.floor(F.col("duration_s") * 1000000.0 + 0.5)
                 / 1000000.0).alias("duration_s")))
    return q.join(img, "doc_id").join(au, "doc_id")


@register("audio_chunk_rms", """
WITH d AS (
  SELECT doc_id, 8000 * (1 + doc_id % 3) AS rate,
         200 + (doc_id % 37) * 10 AS n
  FROM documents),
ch AS (
  -- max tone is 560 samples, hop 64 -> at most 9 chunks
  SELECT d.doc_id, d.rate, d.n, c.c
  FROM d CROSS JOIN generate_series(0, 8) AS c(c)
  WHERE c.c * 64 < d.n),
s AS (
  SELECT ch.doc_id, ch.rate, ch.n, ch.c, i.i
  FROM ch CROSS JOIN generate_series(0, 127) AS i(i)
  WHERE ch.c * 64 + i.i < ch.n)
SELECT doc_id, CAST(c AS INT) AS chunk_index,
       floor(CAST(c * 64 AS DOUBLE) / rate * 1000000.0 + 0.5)
         / 1000000.0 AS start_s,
       CAST(count(*) AS INT) AS n_chunk_samples,
       floor(sqrt(avg(CAST(((c * 64 + i) * 17 + doc_id * 31) % 4096
                           - 2048 AS DOUBLE)
                      * CAST(((c * 64 + i) * 17 + doc_id * 31) % 4096
                             - 2048 AS DOUBLE)))
             * 1000000.0 + 0.5) / 1000000.0 AS rms
FROM s GROUP BY doc_id, rate, n, c
""")
def q_audio_chunk_rms(spark, sf_dir):
    """Sliding-window RMS over REAL decoded WAV audio (the STFT-style
    front end over actual PCM, window 128 / hop 64 samples): decode the
    executor-generated tones, fan out chunks, compute each chunk's RMS
    from the samples. The oracle recomputes every chunk symbolically
    from the generative tone formula."""
    payloads = multimodal.attach_audio_payload(_t(spark, sf_dir, "documents"))
    feats = multimodal.audio_chunk_rms(payloads, 128, 64)
    return (feats.where(F.col("decode_ok"))
            .select("doc_id", "chunk_index",
                    (F.floor(F.col("start_s") * 1000000.0 + 0.5)
                     / 1000000.0).alias("start_s"),
                    "n_chunk_samples",
                    (F.floor(F.col("rms") * 1000000.0 + 0.5)
                     / 1000000.0).alias("rms")))


@register("video_decode_features", """
WITH d AS (
  SELECT doc_id, 4 + 2 * (doc_id % 3) AS w, 4 + 2 * (doc_id % 2) AS h,
         2 + doc_id % 3 AS n
  FROM documents),
fr AS (
  SELECT d.doc_id, d.w, d.h, d.n, f.f
  FROM d CROSS JOIN generate_series(0, 3) AS f(f)
  WHERE f.f < d.n),
px AS (
  -- max frame is 8x6 = 48 luma bytes; uncorrelated series + filter
  SELECT fr.doc_id, fr.w, fr.h, fr.n, fr.f, i.i
  FROM fr CROSS JOIN generate_series(0, 47) AS i(i)
  WHERE i.i < fr.w * fr.h)
SELECT doc_id,
       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(n AS INT) AS n_frames, CAST(25.0 AS DOUBLE) AS fps,
       CAST(f AS INT) AS frame_index,
       floor(avg(CAST(((i % w) * 5 + (i // w) * 11 + f * 23 + doc_id)
                      % 256 AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0
         AS mean_luma
FROM px GROUP BY doc_id, w, h, n, f
""")
def q_video_decode_features(spark, sf_dir):
    """REAL video decode end-to-end: generate one deterministic
    YUV4MPEG2 clip per document executor-side, parse the actual y4m
    bytes back (``operators/multimodal.py:decode_video`` — stream
    header + FRAME markers + planar YUV rasters), and emit one row per
    decoded frame with its true mean luma. The oracle recomputes the
    expected values symbolically from the generative formula —
    completing the REAL image/audio/video decode triple (cf.
    ``image_decode_features`` / ``audio_decode_features``)."""
    payloads = multimodal.attach_video_payload(_t(spark, sf_dir, "documents"))
    feats = multimodal.video_frame_features(payloads)
    return (feats.where(F.col("decode_ok"))
            .select("doc_id", "width", "height", "n_frames", "fps",
                    "frame_index",
                    (F.floor(F.col("mean_luma") * 1000000.0 + 0.5)
                     / 1000000.0).alias("mean_luma")))


# ---------------------------------------------------------------------------
# Extension surface: structured streaming (M3)
# ---------------------------------------------------------------------------

@register("stream_tumbling_agg", """
SELECT time_bucket(INTERVAL '60 minutes', ts) AS window_start,
       time_bucket(INTERVAL '60 minutes', ts) + INTERVAL '60 minutes' AS window_end,
       event_type, count(*) AS n,
       CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS total_value
FROM events GROUP BY 1, 2, 3
""")
def q_stream_tumbling_agg(spark, sf_dir):
    """Streaming tumbling-window aggregate driven to completion over
    the bounded events table — must equal the batch twin (and the
    same SQL oracle)."""
    import os
    return stream_windowed.stream_tumbling_agg(
        spark, os.path.join(sf_dir, "events.parquet"), minutes=60)


# ---------------------------------------------------------------------------
# Extension surface: richer aggregates, grouping sets, pivot (M4)
# ---------------------------------------------------------------------------

@register("agg_stats_pack", """
SELECT l_returnflag,
       round(sum(l_quantity), 2) AS sum_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
             / count(*), 4) AS avg_price,
       round(min(l_extendedprice), 2) AS min_price,
       round(max(l_extendedprice), 2) AS max_price,
       count(*) AS n_rows,
       count(DISTINCT l_partkey) AS n_parts,
       round(stddev_samp(l_quantity), 6) AS std_qty,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price
FROM lineitem GROUP BY l_returnflag
""")
def q_agg_stats_pack(spark, sf_dir):
    return analytics.agg_stats_pack(_t(spark, sf_dir, "lineitem"))


@register("agg_rollup", """
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
         AS revenue
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""")
def q_agg_rollup(spark, sf_dir):
    return analytics.rollup_revenue(_t(spark, sf_dir, "orders"))


@register("agg_cube", """
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
         AS revenue
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
""")
def q_agg_cube(spark, sf_dir):
    return analytics.cube_revenue(_t(spark, sf_dir, "orders"))


@register("agg_pivot", """
SELECT o_orderpriority,
       count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
       count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
       count(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
FROM orders GROUP BY o_orderpriority
""")
def q_agg_pivot(spark, sf_dir):
    return analytics.pivot_status_by_priority(_t(spark, sf_dir, "orders"))


@register("agg_approx_distinct", None)  # engine-specific sketches → rows-only
def q_agg_approx_distinct(spark, sf_dir):
    return analytics.approx_distinct_pack(_t(spark, sf_dir, "lineitem"))


@register("q4_order_priority", """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
""")
def q_q4_order_priority(spark, sf_dir):
    return analytics.order_priority_check(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem"))


@register("q10_top_returned_customers", """
SELECT c_custkey, c_name,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name
ORDER BY revenue DESC, c_custkey LIMIT 20
""")
def q_q10_top_returned(spark, sf_dir):
    return analytics.top_returned_customers(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"))


# ---------------------------------------------------------------------------
# Extension surface: set operations (U1 generalized)
# ---------------------------------------------------------------------------

@register("setop_intersect", """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O'
""")
def q_setop_intersect(spark, sf_dir):
    """INTERSECT (distinct semantics) between two key sets."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (customer.where(F.col("c_mktsegment") == "BUILDING")
            .select("c_custkey")
            .intersect(orders.where(F.col("o_orderstatus") == "O")
                       .select(F.col("o_custkey").alias("c_custkey"))))


@register("setop_except", """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
EXCEPT
SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O'
""")
def q_setop_except(spark, sf_dir):
    """EXCEPT (distinct semantics) — the SQL twin of the anti-join."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (customer.where(F.col("c_mktsegment") == "BUILDING")
            .select("c_custkey")
            .exceptAll(orders.where(F.col("o_orderstatus") == "O")
                       .select(F.col("o_custkey").alias("c_custkey"))
                       .distinct()).distinct())


@register("sql_over_files", """
SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS athena_count
FROM orders GROUP BY 1 ORDER BY 1
""")
def q_sql_over_files(spark, sf_dir):
    """S5 — SQL-text-over-files: the reference's Athena count query
    (``ID-based-transfer.py:55-60``) run as spark.sql over registered
    views; no submit/poll/CSV round-trip."""
    from s3_elasticsearch_data_pipeline_spark.tables import register_views
    register_views(spark, sf_dir, ("orders",))
    return spark.sql("""
        SELECT date_format(o_orderdate, 'yyyy-MM') AS month,
               count(*) AS athena_count
        FROM orders GROUP BY 1 ORDER BY 1""")


# ---------------------------------------------------------------------------
# Extension surface: temporal joins (as-of / range — M4)
# ---------------------------------------------------------------------------

@register("asof_join_events", """
WITH v AS (SELECT user_id, ts, event_id, value FROM events
           WHERE event_type = 'view'),
     p AS (SELECT event_id, user_id, ts FROM events
           WHERE event_type = 'purchase')
SELECT p.event_id, p.user_id, p.ts,
       (SELECT v.event_id FROM v
        WHERE v.user_id = p.user_id AND v.ts <= p.ts
        ORDER BY v.ts DESC, v.event_id DESC LIMIT 1) AS asof_event_id,
       (SELECT v.value FROM v
        WHERE v.user_id = p.user_id AND v.ts <= p.ts
        ORDER BY v.ts DESC, v.event_id DESC LIMIT 1) AS asof_value
FROM p
""")
def q_asof_join_events(spark, sf_dir):
    """As-of join: each purchase matched to the user's latest view at
    or before it (union-and-carry pattern — one shuffle, no range
    cross-join)."""
    from s3_elasticsearch_data_pipeline_spark.operators.temporal import asof_join
    events = _t(spark, sf_dir, "events")
    purchases = (events.where(F.col("event_type") == "purchase")
                 .select("event_id", "user_id", "ts"))
    views = events.where(F.col("event_type") == "view")
    return asof_join(purchases, views, key="user_id",
                     right_cols=("event_id", "value"))


@register("range_join_tiers", """
SELECT event_id, user_id, value, tier
FROM events
JOIN (VALUES ('low', 0.0, 100.0), ('mid', 100.0, 250.0),
             ('high', 250.0, 1000.0)) AS tiers(tier, lo, hi)
  ON value >= lo AND value < hi
""")
def q_range_join_tiers(spark, sf_dir):
    """Range join of events against a broadcast tier dimension."""
    from s3_elasticsearch_data_pipeline_spark.operators.temporal import range_join
    events = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    tiers = spark.createDataFrame(
        [("low", 0.0, 100.0), ("mid", 100.0, 250.0), ("high", 250.0, 1000.0)],
        "tier string, lo double, hi double")
    return (range_join(events, tiers, "value")
            .select("event_id", "user_id", "value", "tier"))


@register("agg_winsorized_stats", """
WITH bounds AS (
  SELECT l_returnflag,
         round(quantile_cont(l_extendedprice, 0.05), 6) AS p_lo,
         round(quantile_cont(l_extendedprice, 0.95), 6) AS p_hi
  FROM lineitem GROUP BY l_returnflag)
SELECT l.l_returnflag,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN l_extendedprice < p_lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
       CAST(sum(CASE WHEN l_extendedprice > p_hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
             / count(*), 4) AS raw_mean,
       round(CAST(sum(CAST(CASE WHEN l_extendedprice < p_lo THEN p_lo
                                WHEN l_extendedprice > p_hi THEN p_hi
                                ELSE l_extendedprice END
                           AS DECIMAL(18,6))) AS DOUBLE)
             / count(*), 4) AS winsor_mean
FROM lineitem l JOIN bounds b ON l.l_returnflag = b.l_returnflag
GROUP BY l.l_returnflag
""")
def q_agg_winsorized_stats(spark, sf_dir):
    """Winsorized robust stats per group — exact-percentile clipping
    with decimal-exact clipped means."""
    return analytics.winsorized_stats(_t(spark, sf_dir, "lineitem"))


@register("retention_cohorts", """
WITH c AS (
  SELECT user_id, ts,
         min(CAST(ts AS DATE)) OVER (PARTITION BY user_id) AS cohort_day
  FROM events),
d AS (
  SELECT DISTINCT user_id, cohort_day,
         date_diff('day', cohort_day, CAST(ts AS DATE)) AS day_offset
  FROM c)
SELECT cohort_day, day_offset, count(*) AS n_users
FROM d GROUP BY cohort_day, day_offset
""")
def q_retention_cohorts(spark, sf_dir):
    """First-seen-day cohort retention triangle — one shuffle to pin
    cohorts, output size independent of input size."""
    return analytics.retention_cohorts(_t(spark, sf_dir, "events"))


@register("cdc_snapshot_diff", """
WITH o AS (SELECT o_orderkey AS k, o_totalprice, o_orderstatus FROM orders),
n AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1000.0
              ELSE o_totalprice END AS o_totalprice,
         CASE WHEN o_orderkey % 3 = 0 THEN 'X'
              ELSE o_orderstatus END AS o_orderstatus
  FROM orders WHERE o_orderkey % 7 <> 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_totalprice, o_orderstatus
  FROM orders WHERE o_orderkey % 11 = 0),
j AS (
  SELECT coalesce(o.k, n.k) AS o_orderkey,
         o.k IS NOT NULL AS in_old, n.k IS NOT NULL AS in_new,
         list_sort(list_filter([
           CASE WHEN NOT (o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus)
                THEN 'o_orderstatus' END,
           CASE WHEN NOT (o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice)
                THEN 'o_totalprice' END],
           x -> x IS NOT NULL)) AS cols
  FROM o FULL OUTER JOIN n ON o.k = n.k)
SELECT o_orderkey,
       CASE WHEN NOT in_old THEN 'added'
            WHEN NOT in_new THEN 'removed'
            ELSE 'changed' END AS change_type,
       CASE WHEN NOT in_old OR NOT in_new THEN []
            ELSE cols END AS changed_cols
FROM j
WHERE NOT in_old OR NOT in_new OR len(cols) > 0
""")
def q_cdc_snapshot_diff(spark, sf_dir):
    """Snapshot CDC: diff the orders table against a deterministically
    perturbed copy (deletes %7, price bumps %5, status flips %3, adds
    %11 under shifted keys) — one full-outer join, delta-sized output."""
    from s3_elasticsearch_data_pipeline_spark.operators.diff import (
        snapshot_diff)
    orders = _t(spark, sf_dir, "orders")
    base = orders.select("o_orderkey", "o_totalprice", "o_orderstatus")
    modified = (base.where(F.col("o_orderkey") % 7 != 0)
                .select("o_orderkey",
                        F.when(F.col("o_orderkey") % 5 == 0,
                               F.col("o_totalprice") + 1000.0)
                         .otherwise(F.col("o_totalprice"))
                         .alias("o_totalprice"),
                        F.when(F.col("o_orderkey") % 3 == 0, F.lit("X"))
                         .otherwise(F.col("o_orderstatus"))
                         .alias("o_orderstatus")))
    added = (base.where(F.col("o_orderkey") % 11 == 0)
             .select((F.col("o_orderkey") + 10000000).alias("o_orderkey"),
                     "o_totalprice", "o_orderstatus"))
    new = modified.unionByName(added)
    return snapshot_diff(base, new, "o_orderkey",
                         ("o_orderstatus", "o_totalprice"))


@register("agg_geomean_udaf", """
SELECT event_type,
       round(exp(sum(ln(value)) / count(*)), 6) AS geomean_value,
       count(*) AS n_rows
FROM events WHERE value > 0
GROUP BY event_type
""")
def q_agg_geomean_udaf(spark, sf_dir):
    """Geometric mean per group via a GROUPED_AGG pandas UDF (the UDAF
    escape hatch), order-stabilized inside the UDF."""
    return analytics.geomean_udaf(
        _t(spark, sf_dir, "events").where(F.col("value") > 0))


@register("scd2_user_history", """
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(event_type) OVER w IS NULL
                   OR lag(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
runs AS (
  SELECT user_id, event_type, ts, event_id,
         sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS run
  FROM ordered),
versions AS (
  SELECT user_id, run, min(event_type) AS event_type,
         min(ts) AS effective_from, count(*) AS n_events
  FROM runs GROUP BY user_id, run)
SELECT user_id, event_type, effective_from,
       lead(effective_from) OVER wv AS effective_to,
       n_events,
       CASE WHEN lead(effective_from) OVER wv IS NULL
            THEN 1 ELSE 0 END AS is_current
FROM versions
WINDOW wv AS (PARTITION BY user_id ORDER BY effective_from, run)
""")
def q_scd2_user_history(spark, sf_dir):
    """SCD type-2 dimension build: each user's event_type timeline
    collapsed to effective-dated versions (gaps-and-islands; one
    shuffle on user_id reused by both window passes and the group-by)."""
    from s3_elasticsearch_data_pipeline_spark.operators.temporal import scd2_history
    return scd2_history(_t(spark, sf_dir, "events"))


@register("outlier_zscore", """
WITH m AS (
  SELECT event_type,
         sum(CAST(value AS DECIMAL(18,6))) AS s,
         sum(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS q,
         count(*) AS n
  FROM events GROUP BY event_type),
scored AS (
  SELECT event_id, e.event_type, value,
         round((value - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
               / sqrt((CAST(q AS DOUBLE)
                       - (CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                         / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)),
               4) AS z
  FROM events e JOIN m USING (event_type))
SELECT event_id, event_type, value, z
FROM scored WHERE abs(z) >= 2.0
""")
def q_outlier_zscore(spark, sf_dir):
    """Per-event-type z-score outliers with decimal-exact moments, so
    the threshold compare is independent of summation order."""
    return analytics.zscore_outliers(_t(spark, sf_dir, "events"))


@register("funnel_conversion", """
WITH s1 AS (
  SELECT user_id, ts, event_type,
         min(CASE WHEN event_type = 'view' THEN ts END)
           OVER (PARTITION BY user_id) AS t1
  FROM events),
s2 AS (
  SELECT user_id, ts, event_type, t1,
         min(CASE WHEN event_type = 'click' AND ts >= t1 THEN ts END)
           OVER (PARTITION BY user_id) AS t2
  FROM s1),
s3 AS (
  SELECT user_id, t1, t2,
         min(CASE WHEN event_type = 'purchase' AND ts >= t2 THEN ts END)
           OVER (PARTITION BY user_id) AS t3
  FROM s2),
pu AS (
  SELECT user_id,
         max(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS r1,
         max(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS r2,
         max(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS r3
  FROM s3 GROUP BY user_id)
SELECT CAST(sum(r1) AS BIGINT) AS n_step1,
       CAST(sum(r2) AS BIGINT) AS n_step2,
       CAST(sum(r3) AS BIGINT) AS n_step3,
       round(sum(r2) / sum(r1), 6) AS rate_step2,
       round(sum(r3) / sum(r2), 6) AS rate_step3
FROM pu
""")
def q_funnel_conversion(spark, sf_dir):
    """view -> click -> purchase funnel with ordered-step semantics —
    chained min-over-window passes on one shuffle, no self-joins."""
    return windows.funnel_conversion(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Extension surface: more windows + scalar packs (M4)
# ---------------------------------------------------------------------------

@register("w_lag_lead_deltas", """
SELECT event_id, user_id, ts, value,
       lag(value) OVER w AS prev_value,
       lead(value) OVER w AS next_value,
       date_diff('second', lag(ts) OVER w, ts) AS gap_sec,
       round(value - lag(value) OVER w, 2) AS value_delta
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""")
def q_lag_lead_deltas(spark, sf_dir):
    return windows.lag_lead_deltas(_t(spark, sf_dir, "events"))


@register("w_moving_average", """
SELECT event_id, user_id, ts, value,
       round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4) AS moving_avg
FROM events
""")
def q_moving_average(spark, sf_dir):
    return windows.moving_average(_t(spark, sf_dir, "events"), 5)


@register("w_rank_dense_ntile", """
SELECT event_id, user_id, value,
       rank() OVER w AS rnk,
       dense_rank() OVER w AS dense_rnk,
       ntile(4) OVER w AS quartile
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY value DESC, event_id)
""")
def q_rank_dense_ntile(spark, sf_dir):
    return windows.rank_dense_ntile(_t(spark, sf_dir, "events"))


@register("string_function_pack", """
SELECT c_custkey,
       upper(c_name) AS name_upper,
       lower(c_mktsegment) AS segment_lower,
       length(c_name) AS name_len,
       substring(c_name, 1, 8) AS name_prefix,
       concat_ws('|', c_mktsegment, c_name) AS seg_name,
       coalesce(regexp_extract(c_name, '(\\d+)$', 1), '') AS name_num,
       lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS key_padded,
       replace(c_name, '#', '-') AS name_dashed
FROM customer
""")
def q_string_function_pack(spark, sf_dir):
    return analytics.string_function_pack(_t(spark, sf_dir, "customer"))


@register("math_function_pack", """
SELECT l_orderkey, l_linenumber,
       round(l_extendedprice, 1) AS r1,
       CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_v,
       CAST(floor(l_extendedprice) AS BIGINT) AS floor_v,
       round(abs(l_discount - 0.05), 6) AS abs_d,
       round(sqrt(l_extendedprice), 6) AS sqrt_v,
       round(ln(l_extendedprice), 6) AS ln_v,
       round(pow(l_quantity, 2.0), 2) AS qty_sq,
       CAST(sign(l_discount - 0.05) AS DOUBLE) AS disc_sign
FROM lineitem
""")
def q_math_function_pack(spark, sf_dir):
    return analytics.math_function_pack(_t(spark, sf_dir, "lineitem"))


@register("conditional_pack", """
SELECT o_orderkey,
       CASE WHEN o_totalprice > 300000 THEN 'large'
            WHEN o_totalprice > 100000 THEN 'medium'
            ELSE 'small' END AS size_class,
       nullif(o_orderstatus, 'P') AS status_or_null,
       coalesce(nullif(o_orderstatus, 'P'), 'PENDING') AS status_filled,
       least(o_totalprice, 200000.0) AS capped_price,
       greatest(o_totalprice, 1000.0) AS floored_price
FROM orders
""")
def q_conditional_pack(spark, sf_dir):
    return analytics.conditional_pack(_t(spark, sf_dir, "orders"))


@register("stream_stateful_user_totals", """
SELECT user_id, count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS total_value,
       max(ts) AS last_ts
FROM events GROUP BY user_id
""")
def q_stream_stateful_user_totals(spark, sf_dir):
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user cumulative counters; on a bounded input the final state
    equals the batch groupBy — which is the oracle."""
    import os
    from s3_elasticsearch_data_pipeline_spark.streaming.stateful import (
        running_user_totals)
    return running_user_totals(
        spark, os.path.join(sf_dir, "events.parquet"))


# ---------------------------------------------------------------------------
# Extension surface: scalar subqueries, arrays, sampling, profiling, skew
# ---------------------------------------------------------------------------

@register("q17_small_quantity_revenue", """
WITH part_avg AS (
  SELECT l_partkey, avg(l_quantity) AS avg_qty
  FROM lineitem GROUP BY l_partkey)
SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
             / 7.0, 2) AS avg_yearly
FROM lineitem JOIN part_avg USING (l_partkey)
WHERE l_quantity < 0.2 * avg_qty
""")
def q_q17_small_quantity(spark, sf_dir):
    """TPC-H Q17 shape: scalar subquery per group → planned as an
    aggregate + self-join (Catalyst de-correlates); the per-part
    average is a partial-aggregated broadcastable table."""
    lineitem = _t(spark, sf_dir, "lineitem")
    part_avg = (lineitem.groupBy("l_partkey")
                .agg(F.avg("l_quantity").alias("avg_qty")))
    return (lineitem
            .join(part_avg, "l_partkey")
            .where(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
            .agg(F.round(F.sum(F.col("l_extendedprice").cast("decimal(12,2)"))
                          .cast("double") / 7.0, 2).alias("avg_yearly")))


@register("q18_large_orders", """
WITH big AS (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date
FROM orders JOIN big ON o_orderkey = l_orderkey
""")
def q_q18_large_orders(spark, sf_dir):
    """TPC-H Q18 shape: HAVING on a grouped sum → semi-join of orders
    against the qualifying key set."""
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    big = (lineitem.groupBy("l_orderkey")
           .agg(F.sum("l_quantity").alias("sum_qty"))
           .where(F.col("sum_qty") > 250)
           .select(F.col("l_orderkey").alias("o_orderkey")))
    return (orders.join(big, "o_orderkey", "left_semi")
            .select("o_orderkey", "o_custkey",
                    F.round("o_totalprice", 2).alias("total"),
                    F.date_format("o_orderdate", "yyyy-MM-dd")
                     .alias("order_date")))


@register("array_function_pack", """
SELECT user_id,
       list_sort(list(event_type)) AS event_types,
       len(list(event_type)) AS n_events,
       len(list_distinct(list(event_type))) AS n_distinct_types,
       list_contains(list(event_type), 'purchase') AS has_purchase
FROM events GROUP BY user_id
""")
def q_array_function_pack(spark, sf_dir):
    """Array surface: collect/sort/distinct/contains. collect_list is
    order-nondeterministic across tasks → sort_array pins the result."""
    return (_t(spark, sf_dir, "events")
            .groupBy("user_id")
            .agg(F.sort_array(F.collect_list("event_type")).alias("event_types"),
                 F.count(F.lit(1)).alias("n_events"),
                 F.size(F.array_distinct(F.collect_list("event_type")))
                  .alias("n_distinct_types"),
                 F.array_contains(F.collect_list("event_type"), "purchase")
                  .alias("has_purchase")))


@register("map_function_pack", """
WITH per AS (
  SELECT user_id, event_type, count(*) AS cnt
  FROM events GROUP BY user_id, event_type)
SELECT user_id,
       count(*) AS n_types,
       CAST(sum(CASE WHEN event_type = 'view' THEN cnt ELSE 0 END)
            AS BIGINT) AS n_views,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN cnt ELSE 0 END)
            AS BIGINT) AS n_purchases,
       CAST(sum(cnt) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN cnt >= 5 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_frequent_types
FROM per GROUP BY user_id
""")
def q_map_function_pack(spark, sf_dir):
    """Map-type scalar surface: build a per-user event_type -> count
    map (map_from_entries over a sorted entry list, so construction is
    deterministic), then read it back via map_keys/map_values/
    element_at/map_filter/aggregate. The oracle states the same facts
    relationally — the map is the Spark-side representation under test."""
    per = (_t(spark, sf_dir, "events")
           .groupBy("user_id", "event_type")
           .agg(F.count(F.lit(1)).alias("cnt")))
    mp = (per.groupBy("user_id")
          .agg(F.map_from_entries(
              F.sort_array(F.collect_list(F.struct("event_type", "cnt"))))
              .alias("m")))
    m = F.col("m")
    return mp.select(
        "user_id",
        F.size(F.map_keys(m)).alias("n_types"),
        F.coalesce(F.element_at(m, F.lit("view")), F.lit(0))
         .alias("n_views"),
        F.coalesce(F.element_at(m, F.lit("purchase")), F.lit(0))
         .alias("n_purchases"),
        F.aggregate(F.map_values(m), F.lit(0).cast("bigint"),
                    lambda acc, x: acc + x).alias("n_events"),
        F.size(F.map_filter(m, lambda _k, v: v >= 5))
         .alias("n_frequent_types"))


@register("setop_union_all", """
SELECT o_orderkey, 'recent' AS bucket FROM orders
WHERE o_orderdate >= TIMESTAMP '1998-01-01'
UNION ALL
SELECT o_orderkey, 'urgent' AS bucket FROM orders
WHERE o_orderpriority = '1-URGENT'
""")
def q_setop_union_all(spark, sf_dir):
    """U1 — UNION ALL (bag semantics; a key in both branches appears
    twice)."""
    orders = _t(spark, sf_dir, "orders")
    recent = (orders.where(F.col("o_orderdate") >= F.lit("1998-01-01")
                           .cast("timestamp"))
              .select("o_orderkey", F.lit("recent").alias("bucket")))
    urgent = (orders.where(F.col("o_orderpriority") == "1-URGENT")
              .select("o_orderkey", F.lit("urgent").alias("bucket")))
    return recent.unionByName(urgent)


@register("deterministic_sample", """
SELECT o_orderkey, o_totalprice
FROM orders
WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '1a'
""")
def q_deterministic_sample(spark, sf_dir):
    """Hash-based deterministic ~10% sample — reproducible across
    engines/runs/partitionings, unlike RNG sampling; the idiom for
    consistent 100 TB profiling subsets (md5 prefix < '1a' ≈ 26/256)."""
    return (_t(spark, sf_dir, "orders")
            .where(F.substring(F.md5(F.col("o_orderkey").cast("string")),
                               1, 2) < "1a")
            .select("o_orderkey", "o_totalprice"))


@register("profile_orders", """
SELECT count(*) AS n_rows,
       count(DISTINCT o_custkey) AS n_customers,
       CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS null_prices,
       round(min(o_totalprice), 2) AS min_price,
       round(max(o_totalprice), 2) AS max_price,
       strftime(min(o_orderdate), '%Y-%m-%d') AS first_order,
       strftime(max(o_orderdate), '%Y-%m-%d') AS last_order
FROM orders
""")
def q_profile_orders(spark, sf_dir):
    """One-pass data-profiling aggregate (null counts, ranges,
    cardinalities) — the first query a pipeline runs on a new 100 TB
    table."""
    orders = _t(spark, sf_dir, "orders")
    return orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.sum(F.when(F.col("o_totalprice").isNull(), 1).otherwise(0))
         .alias("null_prices"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("first_order"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("last_order"))


@register("salted_group_count", """
SELECT strftime(o_orderdate, '%Y-%m') AS order_month, count(*) AS cnt
FROM orders GROUP BY 1
""")
def q_salted_group_count(spark, sf_dir):
    """Skew-safe two-phase aggregate: pre-aggregate on (key, salt) —
    splitting any hot key across 16 reducers — then merge per key.
    Results are identical to the plain groupBy (same oracle as a1);
    the pattern is the manual fallback when AQE skew handling isn't
    available (e.g. pre-3.0 clusters or custom partitioners)."""
    from s3_elasticsearch_data_pipeline_spark.operators.skew import (
        salted_group_count)
    orders = _t(spark, sf_dir, "orders")
    keyed = orders.select(
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month"))
    return salted_group_count(keyed, "order_month", salts=16)


@register("w_sliding_agg", """
WITH starts AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS ws, event_type, value
  FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes',
         event_type, value
  FROM events)
SELECT ws AS window_start, ws + INTERVAL '60 minutes' AS window_end,
       event_type, count(*) AS n,
       CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS total_value
FROM starts GROUP BY 1, 2, 3
""")
def q_sliding_agg(spark, sf_dir):
    """Sliding 60/30 window aggregate — every event covered by exactly
    two windows (oracle: union of the two shifted tumbling passes)."""
    return windows.sliding_window_agg(_t(spark, sf_dir, "events"), 60, 30)


@register("embedding_normalize", """
SELECT vec_id, label,
       list_transform(embedding::DOUBLE[],
                      x -> round(x / sqrt(list_inner_product(
                           embedding::DOUBLE[], embedding::DOUBLE[])), 8))
         AS unit_embedding
FROM embeddings
WHERE sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) > 0
""")
def q_embedding_normalize(spark, sf_dir):
    return similarity.normalize_embeddings(_t(spark, sf_dir, "embeddings"))


@register("embedding_centroids", """
SELECT label, dim, round(avg(component), 8) AS centroid
FROM (SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS component
      FROM embeddings)
GROUP BY 1, 2
""")
def q_embedding_centroids(spark, sf_dir):
    return similarity.embedding_centroids(_t(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# Extension surface: more TPC-H join shapes (M4)
# ---------------------------------------------------------------------------

@register("q7_nation_volume", """
SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
       EXTRACT(year FROM l_shipdate) AS ship_year,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS volume
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE n1.n_nationkey <> n2.n_nationkey
GROUP BY 1, 2, 3
""")
def q_q7_nation_volume(spark, sf_dir):
    """TPC-H Q7 shape: cross-nation trade volume — the same dimension
    table joined twice under different roles (alias discipline), all
    dims broadcast."""
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    n1 = nation.select(F.col("n_nationkey").alias("c_nk"),
                       F.col("n_name").alias("cust_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("s_nk"),
                       F.col("n_name").alias("supp_nation"))
    revenue = (F.col("l_extendedprice").cast("decimal(12,2)")
               * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)")))
    return (lineitem
            .join(orders, lineitem.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
            .join(F.broadcast(supplier), lineitem.l_suppkey == supplier.s_suppkey)
            .join(F.broadcast(n1), customer.c_nationkey == F.col("c_nk"))
            .join(F.broadcast(n2), supplier.s_nationkey == F.col("s_nk"))
            .where(F.col("c_nk") != F.col("s_nk"))
            .groupBy("cust_nation", "supp_nation",
                     F.year("l_shipdate").alias("ship_year"))
            # decimal arithmetic end-to-end: 4188 small groups make a
            # double sum land on a cent boundary somewhere; decimal
            # products+sums are exact, hence order/engine-independent
            .agg(F.round(F.sum(revenue), 2)
                 .cast("double").alias("volume")))


@register("q14_promo_revenue", """
SELECT round(100.0 * CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
                              THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))
                              ELSE 0 END) AS DOUBLE)
             / CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE), 4) AS promo_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1995-01-01'
  AND l_shipdate <  TIMESTAMP '1995-04-01'
""")
def q_q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape: conditional aggregation over a broadcast
    part join."""
    lineitem = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice").cast("decimal(12,2)")
           * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)")))
    promo = F.when(F.col("p_type").startswith("PROMO"), rev) \
             .otherwise(F.lit(0).cast("decimal(17,4)"))
    return (lineitem
            .where((F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
                   & (F.col("l_shipdate") < F.lit("1995-04-01").cast("timestamp")))
            .join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
            .agg(F.round(100.0 * F.sum(promo).cast("double")
                         / F.sum(rev).cast("double"), 4)
                 .alias("promo_pct")))


@register("q19_disjunctive_predicates", """
SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 5)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity >= 15)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity >= 25)
""")
def q_q19_disjunctive(spark, sf_dir):
    """TPC-H Q19 shape: OR-of-ANDs across both join sides — Catalyst
    still pushes the single-side conjuncts below the join."""
    lineitem = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    joined = lineitem.join(F.broadcast(part),
                           lineitem.l_partkey == part.p_partkey)
    c1 = ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
          & (F.col("l_quantity") >= 5))
    c2 = ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30)
          & (F.col("l_quantity") >= 15))
    c3 = ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 50)
          & (F.col("l_quantity") >= 25))
    rev = (F.col("l_extendedprice").cast("decimal(12,2)")
           * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)")))
    return (joined.where(c1 | c2 | c3)
            .agg(F.round(F.sum(rev), 2)
                 .cast("double").alias("revenue")))


# ---------------------------------------------------------------------------
# Sink lifecycles through the correctness gate (S8/S10/S12)
# ---------------------------------------------------------------------------

@register("s8_partitioned_write_roundtrip", """
SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS cnt
FROM orders WHERE o_orderstatus = 'F' GROUP BY 1
""")
def q_s8_partitioned_roundtrip(spark, sf_dir):
    """S8 — hive-partitioned append + read-back (the reference's
    backfill write, Partition-script.py:34-49): write status-F orders
    partitioned by month to a scratch dir, re-read with partition
    discovery, count per recovered partition column."""
    import tempfile
    from s3_elasticsearch_data_pipeline_spark.sinks.partitioned import (
        read_partitioned, write_partitioned)
    orders = _t(spark, sf_dir, "orders")
    subset = (orders.where(F.col("o_orderstatus") == "F")
              .select("o_orderkey",
                      F.date_format("o_orderdate", "yyyy-MM").alias("month")))
    out = tempfile.mkdtemp(prefix="s8_roundtrip_")
    write_partitioned(subset, out, "month", mode="overwrite")
    back = read_partitioned(spark, out)
    return back.groupBy("month").agg(F.count(F.lit(1)).alias("cnt"))


@register("s10_keyed_upsert_roundtrip", """
SELECT count(*) AS n_rows, count(DISTINCT o_orderkey) AS n_keys,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))) * 2, 2) AS DOUBLE)
         AS doubled_total
FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
""")
def q_s10_keyed_upsert_roundtrip(spark, sf_dir):
    """S10 — keyed idempotent upsert (the ES ``_id=doc['id']`` twin):
    load recent orders, then upsert the SAME keys with doubled price;
    last write wins, so the serving table holds n_keys rows with the
    doubled totals — any duplicate or stale row breaks the oracle."""
    import tempfile
    from s3_elasticsearch_data_pipeline_spark.sinks.keyed import upsert_by_key
    orders = _t(spark, sf_dir, "orders")
    recent = (orders
              .where(F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
              .select(F.col("o_orderkey").cast("string").alias("id"),
                      F.date_format("o_orderdate", "yyyy-MM").alias("month"),
                      F.col("o_totalprice").alias("value")))
    path = tempfile.mkdtemp(prefix="s10_upsert_") + "/serving"
    upsert_by_key(spark, recent, path)
    updated = recent.withColumn("value", F.col("value") * 2)
    upsert_by_key(spark, updated, path)
    back = spark.read.parquet(path)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("id").alias("n_keys"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
         .cast("double").alias("doubled_total"))


@register("s12_show_partitions", """
SELECT DISTINCT strftime(o_orderdate, '%Y') AS part
FROM orders
""")
def q_s12_show_partitions(spark, sf_dir):
    """S12 — catalog DDL surface: register an external partitioned
    table (Glue-crawler equivalent), MSCK REPAIR, SHOW PARTITIONS
    (README.md:77,83)."""
    import tempfile
    from s3_elasticsearch_data_pipeline_spark.sinks.partitioned import (
        write_partitioned)
    from s3_elasticsearch_data_pipeline_spark.sources.parquet import (
        register_catalog_table, show_partitions)
    orders = _t(spark, sf_dir, "orders")
    subset = orders.select(
        "o_orderkey", F.date_format("o_orderdate", "yyyy").alias("part"))
    out = tempfile.mkdtemp(prefix="s12_parts_")
    write_partitioned(subset, out, "part", mode="overwrite")
    register_catalog_table(spark, "s12_scratch", out, "part")
    # SHOW PARTITIONS emits 'part=1995'; strip to the value
    return (show_partitions(spark, "s12_scratch")
            .select(F.regexp_replace("partition", "^part=", "").alias("part")))


@register("stream_session_window", """
WITH gapped AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL THEN 1
              WHEN date_diff('second', lag(ts) OVER w, ts) > 1800 THEN 1
              ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sessioned AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM gapped)
SELECT user_id, min(ts) AS session_start,
       count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS session_value
FROM sessioned GROUP BY user_id, sid
""")
def q_stream_session_window(spark, sf_dir):
    """session_window streaming aggregate over the bounded events
    table — final sessions equal the batch lag-gap sessionization."""
    import os
    from s3_elasticsearch_data_pipeline_spark.streaming.windowed import (
        stream_session_agg)
    return stream_session_agg(
        spark, os.path.join(sf_dir, "events.parquet"), gap_minutes=30)


@register("sim_topk_ivf", _IVF_TOPK_ORACLE)  # unrolled k-means CTE twin
def q_sim_topk_ivf(spark, sf_dir):
    """IVF cell-probing ANN — the partition-pruning scale path."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(emb, emb.where(F.col("vec_id") < 10), k=10)


#: One scratch index dir per (sf_dir, flavor), reused across
#: invocations: the cell store is a full copy of the embeddings table,
#: so mkdtemp-per-call would leak one corpus copy per bench/driver
#: sample until the disk fills. build_ivf_index's overwrite mode
#: resets the reused dir (including previously appended batches).
_IVF_SCRATCH: dict = {}


def _ivf_scratch(sf_dir: str, flavor: str) -> str:
    import tempfile
    key = (sf_dir, flavor)
    if key not in _IVF_SCRATCH:
        _IVF_SCRATCH[key] = tempfile.mkdtemp(prefix=f"ivf_{flavor}_")
    return _IVF_SCRATCH[key]


@register("sim_ivf_persisted", _IVF_TOPK_ORACLE)  # build+probe ≡ inline (tested)
def q_sim_ivf_persisted(spark, sf_dir):
    """Build-once/probe-many IVF: persist the cell-partitioned index +
    centroid table into a scratch dir, then answer top-k purely from
    the PERSISTED index — the serving loop, where the probe's
    cell-IN-set filter prunes index partitions at the directory level.
    Deterministic training makes build+probe agree exactly with the
    inline ``sim_topk_ivf`` (equivalence-tested in tests/test_similarity
    invariants)."""
    emb = _t(spark, sf_dir, "embeddings")
    path = _ivf_scratch(sf_dir, "persisted")
    similarity.build_ivf_index(emb, path)
    return similarity.ivf_probe_topk(
        spark, path, emb.where(F.col("vec_id") < 10), k=10)


@register("sim_ivfpq_persisted", _IVFPQ_TOPK_ORACLE)  # r6: unrolled-PQ CTE
def q_sim_ivfpq_persisted(spark, sf_dir):
    """IVF-PQ build-once/probe-many — the composed 100 TB serving
    layout (FAISS IVFPQ): coarse cells prune index DIRECTORIES, the
    in-cell ADC scan reads 8-byte PQ codes (column pruning skips the
    raw vectors), exact cosine rerank touches raw vectors for
    shortlist rows only. Per-query exact equivalence with ``pq_topk``
    over the probed cells is pytest-pinned. These ten queries are
    serving-sized, so the probe reads its cells on the driver and
    returns a local relation; the plan test forces the Spark-scan
    strategy (a zeroed probed-cell byte cap) to assert both the partition
    filter and the codes-only ReadSchema."""
    emb = _t(spark, sf_dir, "embeddings")
    path = _ivf_scratch(sf_dir, "ivfpq")
    similarity.build_ivfpq_index(emb, path)
    return similarity.ivfpq_probe_topk(
        spark, path, emb.where(F.col("vec_id") < 10), k=10)


@register("sim_ivfpq_incremental", _IVFPQ_EVEN_TRAIN_ORACLE)  # r6: even-train twin
def q_sim_ivfpq_incremental(spark, sf_dir):
    """IVF-PQ ingest loop: build on the even half, APPEND the odd half
    against the persisted centroids+codebooks (FAISS add-after-train —
    no retrain, cost ~ batch), then serve from the combined index.
    Appended vectors land exactly where the bulk build would put them
    (shared assign+encode kernel; equivalence-tested)."""
    emb = _t(spark, sf_dir, "embeddings")
    path = _ivf_scratch(sf_dir, "ivfpq_inc")
    similarity.build_ivfpq_index(emb.where(F.col("vec_id") % 2 == 0), path)
    similarity.ivfpq_index_append(spark, path,
                                  emb.where(F.col("vec_id") % 2 == 1))
    return similarity.ivfpq_probe_topk(
        spark, path, emb.where(F.col("vec_id") < 10), k=10)


@register("sim_ivfpq_residual", _IVFPQ_RESIDUAL_ORACLE)  # r6: residual-trained twin
def q_sim_ivfpq_residual(spark, sf_dir):
    """Residual-encoded IVF-PQ (the full FAISS IVFPQ): codes quantize
    x − centroid[cell] with residual-trained codebooks — finer
    quantization from the same 8 bytes; the probe computes one ADC
    table per (query, probed cell). Recall pytest-checked vs brute
    force alongside the raw-code variant."""
    emb = _t(spark, sf_dir, "embeddings")
    path = _ivf_scratch(sf_dir, "ivfpq_res")
    similarity.build_ivfpq_index(emb, path, residual=True)
    return similarity.ivfpq_probe_topk(
        spark, path, emb.where(F.col("vec_id") < 10), k=10)


@register("sim_ivf_incremental", _IVF_EVEN_TRAIN_ORACLE)  # even-half-trained twin
def q_sim_ivf_incremental(spark, sf_dir):
    """The IVF ingest loop: train+build on the existing half of the
    corpus, APPEND the new half against the persisted centroids (no
    retrain, cost ~ batch not corpus — FAISS's add-after-train
    contract), then serve top-k from the combined persisted index."""
    emb = _t(spark, sf_dir, "embeddings")
    path = _ivf_scratch(sf_dir, "incremental")
    similarity.build_ivf_index(emb.where(F.col("vec_id") % 2 == 0), path)
    similarity.ivf_index_append(spark, path,
                                emb.where(F.col("vec_id") % 2 == 1))
    return similarity.ivf_probe_topk(
        spark, path, emb.where(F.col("vec_id") < 10), k=10)


@register("agg_grouping_sets", """
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
""")
def q_agg_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (beyond rollup/cube): two disjoint
    grouping columns in one Expand pass."""
    orders = _t(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))""")


@register("describe_table", """
SELECT column_name AS col_name,
       CASE column_type
         WHEN 'BIGINT' THEN 'bigint' WHEN 'INTEGER' THEN 'int'
         WHEN 'DOUBLE' THEN 'double' WHEN 'VARCHAR' THEN 'string'
         WHEN 'DATE' THEN 'date' WHEN 'TIMESTAMP' THEN 'timestamp_ntz'
         WHEN 'BOOLEAN' THEN 'boolean' ELSE lower(column_type)
       END AS data_type,
       "null" = 'YES' AS nullable
FROM (DESCRIBE orders)
""")
def q_describe_table(spark, sf_dir):
    """Debug.py equivalent as a queryable surface: column name/type/
    nullability of a table (the engine's printSchema, as data). The
    oracle maps DuckDB's DESCRIBE type names onto Spark simpleStrings
    (parquet µs/isAdjustedToUTC=false timestamps surface as
    ``timestamp_ntz`` under Spark 4's default NTZ inference)."""
    orders = _t(spark, sf_dir, "orders")
    rows = [(f.name, f.dataType.simpleString(), f.nullable)
            for f in orders.schema.fields]
    return spark.createDataFrame(
        rows, "col_name string, data_type string, nullable boolean")


@register("agg_min_max_by", """
SELECT strftime(o_orderdate, '%Y') AS order_year,
       max_by(o_orderkey, o_totalprice) AS biggest_order,
       min_by(o_orderkey, o_totalprice) AS smallest_order,
       round(max(o_totalprice), 2) AS max_price
FROM orders GROUP BY 1
""")
def q_agg_min_max_by(spark, sf_dir):
    """Argmin/argmax aggregates (min_by/max_by) per year. o_totalprice
    values are distinct in practice; orderkey output is integral."""
    orders = _t(spark, sf_dir, "orders")
    return (orders
            .groupBy(F.date_format("o_orderdate", "yyyy").alias("order_year"))
            .agg(F.expr("max_by(o_orderkey, o_totalprice)").alias("biggest_order"),
                 F.expr("min_by(o_orderkey, o_totalprice)").alias("smallest_order"),
                 F.round(F.max("o_totalprice"), 2).alias("max_price")))


@register("agg_histogram", """
SELECT CAST(floor(value / 50.0) AS BIGINT) AS bin,
       count(*) AS n,
       round(min(value), 2) AS bin_min,
       round(max(value), 2) AS bin_max
FROM events GROUP BY 1
""")
def q_agg_histogram(spark, sf_dir):
    """Fixed-width histogram binning — floor-based bins are the
    engine-portable form of width_bucket."""
    events = _t(spark, sf_dir, "events")
    return (events
            .groupBy(F.floor(F.col("value") / 50.0).alias("bin"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.min("value"), 2).alias("bin_min"),
                 F.round(F.max("value"), 2).alias("bin_max")))


@register("agg_correlation", """
SELECT l_returnflag,
       round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
       round(covar_samp(l_quantity, l_discount), 6) AS qty_disc_covar
FROM lineitem GROUP BY l_returnflag
""")
def q_agg_correlation(spark, sf_dir):
    """Statistical co-aggregates (corr / covar_samp) per group."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.round(F.corr("l_quantity", "l_extendedprice"), 6)
                  .alias("qty_price_corr"),
                 F.round(F.covar_samp("l_quantity", "l_discount"), 6)
                  .alias("qty_disc_covar")))


@register("dedup_surviving_documents", """
WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text))
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d JOIN keep USING (doc_id)
""")
def q_dedup_surviving_documents(spark, sf_dir):
    """The operational form of exact dedup: the surviving document rows
    (min doc_id per content hash) — what a training-data pipeline
    actually writes downstream."""
    docs = _t(spark, sf_dir, "documents")
    keep = (docs.select(F.md5("text").alias("h"), "doc_id")
            .groupBy("h").agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id"))
    return (docs.join(keep, "doc_id", "left_semi")
            .select("doc_id", "lang", "source", "n_chars"))


# ---------------------------------------------------------------------------
# TPC-H archetype completion — the remaining query SHAPES, adapted to
# the driver schema (no partsupp / l_shipmode / l_commitdate / c_phone
# columns).  Each keeps the original's structural signature: the join
# graph, the subquery kind (scalar / correlated / EXISTS / NOT IN), and
# the aggregation shape.  Broadcast discipline: nation/region are
# explicitly broadcast (bounded dims at any scale); supplier/part are
# left to AQE — they grow linearly with SF, so a hard-coded broadcast
# would be wrong on a 100 TB cluster.
# ---------------------------------------------------------------------------

@register("q2_min_cost_supplier", """
WITH offers AS (
  SELECT l_partkey, l_suppkey, min(CAST(l_extendedprice AS DECIMAL(12,2))) AS min_price
  FROM lineitem GROUP BY 1, 2
)
SELECT p_partkey, p_brand, s_name, CAST(o.min_price AS DOUBLE) AS best_price
FROM part
JOIN offers o ON p_partkey = o.l_partkey
JOIN supplier ON o.l_suppkey = s_suppkey
WHERE p_size <= 5 AND p_type LIKE 'SMALL%'
  AND o.min_price = (SELECT min(o2.min_price) FROM offers o2
                     WHERE o2.l_partkey = p_partkey)
""")
def q_q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape (min-cost supplier per part): the correlated-min
    subquery is expressed as a window min over the part key — one extra
    shuffle-free pass over the already-partitioned aggregate instead of
    a rejoin of the offers table against itself."""
    from pyspark.sql.window import Window
    lineitem = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supplier = _t(spark, sf_dir, "supplier")
    offers = (lineitem
              .groupBy("l_partkey", "l_suppkey")
              .agg(F.min(F.col("l_extendedprice").cast("decimal(12,2)"))
                   .alias("min_price")))
    best = (offers
            .withColumn("best", F.min("min_price")
                        .over(Window.partitionBy("l_partkey")))
            .where(F.col("min_price") == F.col("best")))
    pj = part.where((F.col("p_size") <= 5) & F.col("p_type").like("SMALL%"))
    return (best.join(pj, best.l_partkey == pj.p_partkey)
            .join(supplier, best.l_suppkey == supplier.s_suppkey)
            .select("p_partkey", "p_brand", "s_name",
                    F.col("min_price").cast("double").alias("best_price")))


@register("q8_market_share", """
WITH vol AS (
  SELECT EXTRACT(year FROM o_orderdate) AS order_year,
         n2.n_name AS supp_nation,
         CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) AS volume
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  JOIN part     ON l_partkey = p_partkey
  WHERE r_name = 'EUROPE' AND p_type LIKE 'PROMO%'
)
SELECT order_year,
       round(CAST(sum(CASE WHEN supp_nation = 'NATION_7' THEN volume ELSE 0 END) AS DOUBLE)
             / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
FROM vol GROUP BY order_year
""")
def q_q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape (national market share): 7-table join with the
    nation dim in two roles, conditional-share aggregation. Decimal
    sums are exact, so the final double division is order-independent."""
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    part = _t(spark, sf_dir, "part")
    n1 = nation.select(F.col("n_nationkey").alias("c_nk"),
                       F.col("n_regionkey").alias("c_rk"))
    n2 = nation.select(F.col("n_nationkey").alias("s_nk"),
                       F.col("n_name").alias("supp_nation"))
    volume = (F.col("l_extendedprice").cast("decimal(12,2)")
              * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)")))
    vol = (lineitem
           .join(orders, lineitem.l_orderkey == orders.o_orderkey)
           .join(customer, orders.o_custkey == customer.c_custkey)
           .join(F.broadcast(n1), customer.c_nationkey == F.col("c_nk"))
           .join(F.broadcast(region.where(F.col("r_name") == "EUROPE")),
                 F.col("c_rk") == F.col("r_regionkey"))
           .join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
           .join(F.broadcast(n2), supplier.s_nationkey == F.col("s_nk"))
           .join(part.where(F.col("p_type").like("PROMO%")),
                 lineitem.l_partkey == F.col("p_partkey"))
           .select(F.year("o_orderdate").alias("order_year"),
                   "supp_nation", volume.alias("volume")))
    target = F.when(F.col("supp_nation") == "NATION_7",
                    F.col("volume")).otherwise(F.lit(0))
    return (vol.groupBy("order_year")
            .agg(F.round(F.sum(target).cast("double")
                         / F.sum("volume").cast("double"), 6)
                 .alias("mkt_share")))


@register("q9_product_profit", """
SELECT n_name AS supp_nation, EXTRACT(year FROM o_orderdate) AS order_year,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))
                      - CAST(p_retailprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS profit
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN part     ON l_partkey = p_partkey
WHERE p_name LIKE '%gear%'
GROUP BY 1, 2
""")
def q_q9_product_profit(spark, sf_dir):
    """TPC-H Q9 shape (product-line profit by nation and year); with no
    partsupp table, p_retailprice*quantity stands in for the
    supplycost*quantity term — the join graph and agg shape are Q9's."""
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    part = _t(spark, sf_dir, "part")
    profit = (F.col("l_extendedprice").cast("decimal(12,2)")
              * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
              - F.col("p_retailprice").cast("decimal(12,2)")
              * F.col("l_quantity").cast("decimal(12,2)"))
    return (lineitem
            .join(orders, lineitem.l_orderkey == orders.o_orderkey)
            .join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
            .join(F.broadcast(nation),
                  supplier.s_nationkey == nation.n_nationkey)
            .join(part.where(F.col("p_name").like("%gear%")),
                  lineitem.l_partkey == F.col("p_partkey"))
            .groupBy(F.col("n_name").alias("supp_nation"),
                     F.year("o_orderdate").alias("order_year"))
            .agg(F.round(F.sum(profit), 2).cast("double").alias("profit")))


@register("q12_priority_lines", """
SELECT l_returnflag AS returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY 1
""")
def q_q12_priority_lines(spark, sf_dir):
    """TPC-H Q12 shape (priority split per class): fact-fact equi-join
    + conditional counts; return flag stands in for ship mode."""
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (lineitem
            .where((F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
                   & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp")))
            .join(orders, lineitem.l_orderkey == orders.o_orderkey)
            .groupBy(F.col("l_returnflag").alias("returnflag"))
            .agg(F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
                 F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count")))


@register("q13_order_count_distribution", """
WITH c_orders AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
)
SELECT c_count, count(*) AS custdist FROM c_orders GROUP BY c_count
""")
def q_q13_order_count_distribution(spark, sf_dir):
    """TPC-H Q13 shape (customer order-count distribution): outer join
    with an extra join-side predicate, then a second aggregation over
    the first's result. count(col) keeps the null-means-zero outer-join
    semantics."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (customer
                .join(orders,
                      (customer.c_custkey == orders.o_custkey)
                      & (F.col("o_orderpriority") != "5-LOW"), "left")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("c_count")))
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register("q15_top_supplier", """
WITH revenue AS (
  SELECT l_suppkey, CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                                   * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = l_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
""")
def q_q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape (top supplier by quarter revenue): scalar-max
    subquery over a derived aggregate, realized as a broadcast of the
    1-row max. Revenue is an exact decimal sum rounded once, so the
    double equality is engine-safe."""
    lineitem = _t(spark, sf_dir, "lineitem")
    supplier = _t(spark, sf_dir, "supplier")
    rev = (lineitem
           .where((F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
                  & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp")))
           .groupBy("l_suppkey")
           .agg(F.round(F.sum(F.col("l_extendedprice").cast("decimal(12,2)")
                              * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))), 2)
                .cast("double").alias("total_revenue")))
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (supplier
            .join(rev, supplier.s_suppkey == rev.l_suppkey)
            .crossJoin(F.broadcast(mx))
            .where(F.col("total_revenue") == F.col("mx"))
            .select("s_suppkey", "s_name", "total_revenue"))


@register("q16_supplier_part_counts", """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM part JOIN lineitem ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type NOT LIKE 'MEDIUM%'
  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
""")
def q_q16_supplier_part_counts(spark, sf_dir):
    """TPC-H Q16 shape (supplier count per part attribute with a NOT IN
    exclusion): the NOT IN becomes a broadcast anti-join (s_suppkey is
    non-null, so anti-join == NOT IN); distinct-count aggregates over
    the surviving fact rows."""
    part = _t(spark, sf_dir, "part")
    lineitem = _t(spark, sf_dir, "lineitem")
    supplier = _t(spark, sf_dir, "supplier")
    excl = supplier.where(F.col("s_acctbal") < 0).select("s_suppkey")
    li = lineitem.join(F.broadcast(excl),
                       lineitem.l_suppkey == excl.s_suppkey, "left_anti")
    pj = part.where((F.col("p_brand") != "Brand#1")
                    & (~F.col("p_type").like("MEDIUM%"))
                    & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
    return (li.join(pj, li.l_partkey == pj.p_partkey)
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt")))


@register("q20_promo_part_suppliers", """
SELECT s_suppkey, s_name, round(s_acctbal, 2) AS s_acctbal
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_type LIKE 'PROMO%'
    AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY l_suppkey HAVING sum(l_quantity) > 300
)
""")
def q_q20_promo_part_suppliers(spark, sf_dir):
    """TPC-H Q20 shape (suppliers with excess shipped quantity of
    targeted parts): IN over a grouped HAVING subquery → semi-join
    against the aggregate. Quantities are small integers, so the double
    sum is exact and the HAVING threshold is engine-safe."""
    supplier = _t(spark, sf_dir, "supplier")
    lineitem = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    qualifying = (lineitem
                  .where((F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
                         & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp")))
                  .join(part.where(F.col("p_type").like("PROMO%")),
                        lineitem.l_partkey == F.col("p_partkey"), "left_semi")
                  .groupBy("l_suppkey")
                  .agg(F.sum("l_quantity").alias("qty"))
                  .where(F.col("qty") > 300)
                  .select("l_suppkey"))
    return (supplier
            .join(qualifying, supplier.s_suppkey == qualifying.l_suppkey,
                  "left_semi")
            .select("s_suppkey", "s_name",
                    F.round("s_acctbal", 2).alias("s_acctbal")))


@register("q21_waiting_suppliers", """
SELECT s_name, count(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s_name
""")
def q_q21_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 shape (sole-blame supplier per failed order): EXISTS →
    left-semi and NOT EXISTS → left-anti self-joins on the fact table,
    each an equi-join on the order key with the supplier inequality as
    residual condition. l_returnflag='R' stands in for the
    receipt-after-commit lateness predicate."""
    supplier = _t(spark, sf_dir, "supplier")
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    l1 = lineitem.select("l_orderkey", "l_suppkey", "l_returnflag")
    others = lineitem.select(F.col("l_orderkey").alias("o2_orderkey"),
                             F.col("l_suppkey").alias("o2_suppkey"),
                             F.col("l_returnflag").alias("o2_flag"))
    base = (l1.where(F.col("l_returnflag") == "R")
            .join(orders.where(F.col("o_orderstatus") == "F")
                  .select("o_orderkey"),
                  l1.l_orderkey == F.col("o_orderkey"), "left_semi"))
    multi = base.join(others,
                      (base.l_orderkey == others.o2_orderkey)
                      & (base.l_suppkey != others.o2_suppkey), "left_semi")
    sole_blame = multi.join(others.where(F.col("o2_flag") == "R"),
                            (multi.l_orderkey == F.col("o2_orderkey"))
                            & (multi.l_suppkey != F.col("o2_suppkey")),
                            "left_anti")
    return (sole_blame
            .join(supplier, sole_blame.l_suppkey == supplier.s_suppkey)
            .groupBy("s_name")
            .agg(F.count(F.lit(1)).alias("numwait")))


@register("q22_idle_customers", """
WITH pos AS (SELECT sum(CAST(c_acctbal AS DECIMAL(12,2))) AS tot, count(*) AS cnt
             FROM customer WHERE c_acctbal > 0)
SELECT c_nationkey AS nationkey, count(*) AS numcust,
       CAST(round(sum(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) AS totacctbal
FROM customer, pos
WHERE CAST(c_acctbal AS DECIMAL(12,2)) * cnt > tot
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_nationkey
""")
def q_q22_idle_customers(spark, sf_dir):
    """TPC-H Q22 shape (well-funded customers gone idle): the
    above-average test is algebraized to ``bal*cnt > tot`` so both
    engines compare exact decimals (no double-average boundary flakes);
    NOT EXISTS (no recent order) is a left-anti join on the filtered
    order table."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    bal = F.col("c_acctbal").cast("decimal(12,2)")
    pos = (customer.where(F.col("c_acctbal") > 0)
           .agg(F.sum(bal).alias("tot"), F.count(F.lit(1)).alias("cnt")))
    return (customer
            .crossJoin(F.broadcast(pos))
            .where(bal * F.col("cnt") > F.col("tot"))
            .join(orders
                  .where(F.col("o_orderdate")
                         >= F.lit("2000-01-01").cast("timestamp"))
                  .select("o_custkey"),
                  customer.c_custkey == F.col("o_custkey"), "left_anti")
            .groupBy(F.col("c_nationkey").alias("nationkey"))
            .agg(F.count(F.lit(1)).alias("numcust"),
                 F.round(F.sum(bal), 2).cast("double").alias("totacctbal")))


@register("q11_important_parts", """
WITH value_by_part AS (
  SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS val
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name IN ('NATION_3', 'NATION_4', 'NATION_5')
  GROUP BY l_partkey
)
SELECT l_partkey AS partkey, CAST(round(val, 2) AS DOUBLE) AS part_value
FROM value_by_part
WHERE val * 1000 > (SELECT sum(val) FROM value_by_part)
""")
def q_q11_important_parts(spark, sf_dir):
    """TPC-H Q11 shape (parts above a fraction of total value): scalar
    subquery over the same derived aggregate; ``val*1000 > tot`` keeps
    the comparison in exact integer-scaled decimals on both engines."""
    lineitem = _t(spark, sf_dir, "lineitem")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    nk = (nation.where(F.col("n_name").isin("NATION_3", "NATION_4", "NATION_5"))
          .select("n_nationkey"))
    vbp = (lineitem
           .join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
           .join(F.broadcast(nk), supplier.s_nationkey == nk.n_nationkey,
                 "left_semi")
           .groupBy("l_partkey")
           .agg(F.sum(F.col("l_extendedprice").cast("decimal(12,2)"))
                .alias("val")))
    tot = vbp.agg(F.sum("val").alias("tot"))
    return (vbp.crossJoin(F.broadcast(tot))
            .where(F.col("val") * 1000 > F.col("tot"))
            .select(F.col("l_partkey").alias("partkey"),
                    F.round("val", 2).cast("double").alias("part_value")))


# ---------------------------------------------------------------------------
# Corpus-curation extension: near-dup clustering, PII scrubbing,
# vocabulary/IDF, and the composed quality filter chain.
# ---------------------------------------------------------------------------

@register("dedup_connected_components", """
WITH RECURSIVE shingled AS (
  SELECT doc_id, lang AS block,
         list_distinct(list_transform(
           range(1, greatest(len(toks) - 1, 1)),
           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
  FROM (SELECT doc_id, lang,
               list_filter(string_split_regex(text, '\\s+'),
                           t -> t <> '') AS toks
        FROM documents)
  WHERE len(toks) >= 3),
near_pairs AS (
  SELECT a.doc_id AS a, b.doc_id AS b
  FROM shingled a JOIN shingled b
    ON a.block = b.block AND a.doc_id < b.doc_id
  WHERE round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
              / len(list_distinct(list_concat(a.shingles, b.shingles))),
              6) >= 0.5),
edges AS (SELECT a AS src, b AS dst FROM near_pairs
          UNION ALL SELECT b, a FROM near_pairs),
reach(doc_id, member) AS (
  SELECT src, src FROM edges
  UNION
  SELECT r.doc_id, e.dst FROM reach r JOIN edges e ON e.src = r.member)
SELECT doc_id, min(member) AS cluster_id FROM reach GROUP BY doc_id
""")
def q_dedup_connected_components(spark, sf_dir):
    """Near-dup cluster assignment: connected components over the exact
    ngram-Jaccard pairs (iterative min-label propagation; the oracle is
    a recursive-CTE transitive closure — same fixpoint)."""
    pairs = dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.5)
    return dedup.connected_components(pairs)


@register("dedup_connected_components_star", """
WITH RECURSIVE shingled AS (
  SELECT doc_id, lang AS block,
         list_distinct(list_transform(
           range(1, greatest(len(toks) - 1, 1)),
           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
  FROM (SELECT doc_id, lang,
               list_filter(string_split_regex(text, '\\s+'),
                           t -> t <> '') AS toks
        FROM documents)
  WHERE len(toks) >= 3),
near_pairs AS (
  SELECT a.doc_id AS a, b.doc_id AS b
  FROM shingled a JOIN shingled b
    ON a.block = b.block AND a.doc_id < b.doc_id
  WHERE round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
              / len(list_distinct(list_concat(a.shingles, b.shingles))),
              6) >= 0.5),
edges AS (SELECT a AS src, b AS dst FROM near_pairs
          UNION ALL SELECT b, a FROM near_pairs),
reach(doc_id, member) AS (
  SELECT src, src FROM edges
  UNION
  SELECT r.doc_id, e.dst FROM reach r JOIN edges e ON e.src = r.member)
SELECT doc_id, min(member) AS cluster_id FROM reach GROUP BY doc_id
""")
def q_dedup_connected_components_star(spark, sf_dir):
    """Same fixpoint as dedup_connected_components, computed by the
    O(log^2)-round large-star/small-star contraction (Kiveris et al.,
    SoCC 2014) — the diameter-robust 100 TB path; shares the
    recursive-CTE oracle."""
    pairs = dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.5)
    return dedup.connected_components_star(pairs)


def _bpe_oracle_sql(n_merges: int = 8, head_symbols: int = 12,
                    emit: str = "encode") -> str:
    """DuckDB twin of the FULL tokenizer round trip (bpe_train +
    bpe_encode): the ``n_merges`` training rounds unroll as chained
    CTEs — per round, one weighted pair-count aggregate, one
    deterministic argmax (count desc, pair asc — the trainer's exact
    tie-break), and one greedy left-to-right non-overlapping merge
    application. Words render as control-char-wrapped symbol strings
    (``\\x02 sym \\x03`` per symbol — both chars verified absent from
    the corpus), so ``replace()``'s left-to-right non-overlapping scan
    IS the Sennrich apply rule, with no shared-boundary or mid-symbol
    false matches. Data-independent SQL: the oracle re-derives the
    merges itself at whatever SF it runs.

    ``emit="merges"`` returns the trained merge TABLE itself (the
    text_bpe_train oracle: rank/left/right/count/new-symbol rows
    unioned from the per-round argmax CTEs) instead of the per-doc
    encode aggregation."""
    return _bpe_oracle(n_merges, head_symbols, emit)


def _bpe_oracle(n_merges: int, head_symbols: int, emit: str) -> str:
    o, c = "chr(2)", "chr(3)"          # symbol open / close markers
    sep = f"{c} || {o}"                # between-symbol boundary
    wrap = f"{o} || array_to_string(string_split(word, ''), {sep}) || {c}"
    unwrap = f"string_split(substr(s, 2, length(s) - 2), {sep})"
    apply = (f"replace(t.s, {o} || m.l || {c} || {o} || m.r || {c}, "
             f"{o} || m.l || m.r || {c})")
    parts = [f"""tok0 AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
  FROM documents),
r0 AS (
  SELECT {wrap} AS s, count(*) AS n
  FROM (SELECT unnest(toks) AS word FROM tok0)
  WHERE length(word) >= 2 GROUP BY word)"""]
    for k in range(1, n_merges + 1):
        parts.append(f"""m{k} AS (
  SELECT string_split(pr, {c})[1] AS l, string_split(pr, {c})[2] AS r,
         CAST(cnt AS BIGINT) AS cnt
  FROM (
    SELECT pr, sum(n) AS cnt
    FROM (SELECT n, unnest(list_transform(range(1, len(syms)),
                     i -> syms[i] || {c} || syms[i+1])) AS pr
          FROM (SELECT {unwrap} AS syms, n FROM r{k - 1}))
    GROUP BY pr)
  ORDER BY cnt DESC, l, r LIMIT 1)""")
        if k < n_merges:
            parts.append(
                f"r{k} AS (SELECT {apply} AS s, t.n FROM r{k - 1} t, m{k} m)")
    if emit == "merges":
        rows = "\nUNION ALL ".join(
            f"SELECT {k} AS merge_rank, l AS left_tok, r AS right_tok, "
            f"cnt AS pair_count, l || r AS new_symbol FROM m{k}"
            for k in range(1, n_merges + 1))
        return "WITH " + ",\n".join(parts) + "\n" + rows
    parts.append(f"""e0 AS (
  SELECT word, {wrap} AS s
  FROM (SELECT DISTINCT unnest(toks) AS word FROM tok0))""")
    for k in range(1, n_merges + 1):
        parts.append(
            f"e{k} AS (SELECT word, {apply} AS s FROM e{k - 1} t, m{k} m)")
    parts.append(f"""enc AS (
  SELECT word, {unwrap} AS syms FROM e{n_merges}),
pos AS (
  SELECT doc_id, unnest(toks) AS word, generate_subscripts(toks, 1) AS pos
  FROM tok0),
agg AS (
  SELECT doc_id, count(*) AS n_words,
         CAST(sum(length(word)) AS INT) AS n_chars,
         CAST(sum(len(syms)) AS INT) AS n_symbols,
         array_to_string(flatten(list(syms ORDER BY pos))[1:{head_symbols}],
                         '|') AS head
  FROM pos JOIN enc USING (word) GROUP BY doc_id)""")
    return ("WITH " + ",\n".join(parts) + """
SELECT d.doc_id,
       coalesce(a.n_words, 0) AS n_words,
       coalesce(a.n_chars, 0) AS n_chars,
       coalesce(a.n_symbols, 0) AS n_symbols,
       coalesce(a.head, '') AS head
FROM documents d LEFT JOIN agg a USING (doc_id)""")


@register("dedup_duplicate_spans", f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
  FROM documents),
th AS (
  SELECT doc_id, len(toks) AS n_tokens,
         list_transform(toks, tk ->
           CAST(('0x' || substr(md5(tk), 18, 15)) AS UBIGINT)::BIGINT
           % {dedup.SPAN_HASH_MOD}) AS th
  FROM t),
sp AS (
  SELECT doc_id, i AS start,
         list_reduce(list_slice(th, i, i + 9),
           (acc, x) -> (acc * {dedup.SPAN_HASH_B1} + x)
                       % {dedup.SPAN_HASH_MOD}) * {1 << 31}
       + list_reduce(list_slice(th, i, i + 9),
           (acc, x) -> (acc * {dedup.SPAN_HASH_B2} + x)
                       % {dedup.SPAN_HASH_MOD}) AS h
  FROM (SELECT doc_id, th,
               unnest(range(1, greatest(n_tokens - 10 + 1, 0) + 1)) AS i
        FROM th)),
dup AS (SELECT h FROM sp GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
ds AS (SELECT sp.doc_id, sp.start FROM sp JOIN dup USING (h)),
stats AS (
  SELECT doc_id, CAST(count(DISTINCT start) AS INT) AS n_dup_spans,
         CAST(count(DISTINCT p) AS INT) AS n_dup_tokens
  FROM (SELECT doc_id, start, unnest(range(start, start + 10)) AS p
        FROM ds)
  GROUP BY doc_id)
SELECT th.doc_id,
       CAST(th.n_tokens AS INT) AS n_tokens,
       CAST(greatest(th.n_tokens - 10 + 1, 0) AS INT) AS n_spans,
       coalesce(stats.n_dup_spans, 0) AS n_dup_spans,
       coalesce(stats.n_dup_tokens, 0) AS n_dup_tokens,
       CASE WHEN th.n_tokens > 0
            THEN floor(CAST(coalesce(stats.n_dup_tokens, 0) AS DOUBLE)
                       / th.n_tokens * 1000000.0 + 0.5) / 1000000.0
            ELSE 0.0 END AS dup_token_ratio
FROM th LEFT JOIN stats USING (doc_id)
""")
def q_dedup_duplicate_spans(spark, sf_dir):
    """ExactSubstr-style duplicated-span statistics (Lee et al., ACL
    2022): per document, how many of its sliding 10-token spans occur
    in ≥2 distinct documents and what fraction of its tokens at least
    one duplicated span covers — the mass an ExactSubstr trimmer cuts
    (operators/dedup.py:duplicate_spans; tokens md5-hashed once, span
    digests are Rabin-Karp polynomials over the token-hash stream —
    the DuckDB twin re-derives the identical 62-bit digests with
    list_reduce, since modular arithmetic is engine-portable)."""
    return dedup.duplicate_spans(_t(spark, sf_dir, "documents"), k=10)


@register("text_bpe_encode", _bpe_oracle_sql())
def q_text_bpe_encode(spark, sf_dir):
    """Tokenizer round trip: train the BPE merge table on the corpus
    (text_bpe_train's loop), then ENCODE every document with it —
    word-type encode + join-back, so the interpreted merge fold runs
    over vocab-sized data only. Exact-match tested against a textbook
    Python encoder (tests/test_tokenizer_train.py); the DuckDB oracle
    re-runs train AND encode itself (``_bpe_oracle_sql``)."""
    return text.bpe_encode(_t(spark, sf_dir, "documents"))


@register("text_pii_scrub", """
WITH seeded AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com ref 123456789' AS text
  FROM documents)
SELECT doc_id,
       regexp_replace(regexp_replace(text,
         '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
         '[0-9]{6,}', '<NUM>', 'g') AS clean_text,
       len(regexp_extract_all(text,
         '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}'))
       + len(regexp_extract_all(text, '[0-9]{6,}')) AS n_redactions
FROM seeded
""")
def q_text_pii_scrub(spark, sf_dir):
    """PII scrubbing (emails + long digit runs). The synthetic corpus
    contains no PII, so the query seeds one deterministic email and one
    account number per document first — the redaction path is then
    genuinely exercised and oracle-checked end to end."""
    docs = (_t(spark, sf_dir, "documents")
            .select("doc_id",
                    F.concat(F.col("text"), F.lit(" contact user"),
                             F.col("doc_id").cast("string"),
                             F.lit("@example.com ref 123456789"))
                    .alias("text")))
    return text.pii_scrub(docs)


@register("text_vocab_top_terms", """
SELECT term, count(*) AS n_occurrences,
       count(DISTINCT doc_id) AS doc_freq
FROM (SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'),
                                        t -> t <> '')) AS term
      FROM documents)
GROUP BY term
ORDER BY n_occurrences DESC, term
LIMIT 25
""")
def q_text_vocab_top_terms(spark, sf_dir):
    """Vocabulary head: top-25 terms by occurrences with doc frequency
    (term tie-break makes the cut deterministic)."""
    return text.vocab_top_terms(_t(spark, sf_dir, "documents"), k=25)


@register("text_idf", """
WITH df AS (
  SELECT term, count(*) AS doc_freq
  FROM (SELECT DISTINCT doc_id, unnest(list_distinct(
              list_filter(string_split_regex(text, '\\s+'), t -> t <> '')))
            AS term
        FROM documents)
  GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT term, doc_freq,
       round(ln((n_docs + 1) / (doc_freq + 1)), 6) AS idf
FROM df, n
""")
def q_text_idf(spark, sf_dir):
    """Smoothed IDF table per term — the TF-IDF weighting join input."""
    return text.idf_table(_t(spark, sf_dir, "documents"))


@register("corpus_quality_filter", """
WITH base AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
  FROM documents),
m AS (
  SELECT doc_id, len(toks) AS n_tokens,
         len(list_distinct(toks)) AS n_distinct,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS n_alpha,
         len(list_intersect(list_distinct(toks),
             ['the','a','and','of','to','in','is','that','for','it']))
           AS n_stop
  FROM base),
q AS (
  SELECT doc_id, n_tokens,
         floor((0.3 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
               + 0.3 * (CASE WHEN n_tokens > 0
                             THEN CAST(n_distinct AS DOUBLE) / n_tokens
                             ELSE 0.0 END)
               + 0.2 * (CASE WHEN n_chars > 0
                             THEN CAST(n_alpha AS DOUBLE) / n_chars
                             ELSE 0.0 END)
               + 0.2 * least(CAST(n_stop AS DOUBLE) / 5.0, 1.0)) * 1000000.0 + 0.5) / 1000000.0 AS quality_score
  FROM m)
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d JOIN q ON d.doc_id = q.doc_id
WHERE q.quality_score >= 0.55
  AND q.n_tokens BETWEEN 20 AND 1000
  AND d.lang IN ('en', 'de', 'fr', 'es')
""")
def q_corpus_quality_filter(spark, sf_dir):
    """The composed corpus-curation filter chain (quality threshold +
    token window + language allowlist) → surviving document rows."""
    return text.quality_filter(_t(spark, sf_dir, "documents"))


@register("stratified_sample", """
SELECT doc_id, lang, n_chars
FROM documents
WHERE CASE WHEN lang = 'en'
           THEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
           ELSE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '80' END
""")
def q_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling: per-stratum hash-threshold
    rates (~10% of the overrepresented 'en' stratum, ~50% elsewhere) —
    reproducible across engines/runs/partitionings, unlike RNG
    ``sampleBy``, and exactly re-derivable for audit at 100 TB."""
    docs = _t(spark, sf_dir, "documents")
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    return (docs.where(F.when(F.col("lang") == "en", h < "1a")
                       .otherwise(h < "80"))
            .select("doc_id", "lang", "n_chars"))


@register("text_rolling_fingerprints", """
SELECT doc_id,
       list_reduce(list_prepend(CAST(0 AS BIGINT),
         list_transform(string_split_regex(norm, ''),
                        c -> CAST(ascii(c) AS BIGINT))),
         (acc, c) -> (acc * 131 + c) % 1000000007) AS rk_hash
FROM (SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(text),
                  '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm
      FROM documents)
""")
def q_text_rolling_fingerprints(spark, sf_dir):
    """Rabin–Karp polynomial rolling-hash document fingerprints —
    order-sensitive, incrementally maintainable, engine-portable
    (exact 64-bit modular fold on both sides)."""
    return text.rolling_fingerprints(_t(spark, sf_dir, "documents"))


@register("text_search_bm25", """
WITH toks AS (
  SELECT doc_id, len(t) AS dl, unnest(t) AS term
  FROM (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'),
                                   x -> x <> '') AS t
        FROM documents)),
tf AS (
  SELECT doc_id, term, count(*) AS tf, first(dl) AS dl
  FROM toks WHERE term IN ('spark', 'table', 'query')
  GROUP BY doc_id, term),
stats AS (
  SELECT count(*) AS n_docs, avg(dl) AS avgdl
  FROM (SELECT len(list_filter(string_split_regex(text, '\\s+'),
                               x -> x <> '')) AS dl FROM documents)),
df AS (
  SELECT term, count(DISTINCT doc_id) AS df
  FROM toks WHERE term IN ('spark', 'table', 'query') GROUP BY term)
SELECT doc_id,
       round(sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                 * (tf * (1.2 + 1)
                    / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)))), 6)
         AS bm25
FROM tf JOIN df USING (term), stats
GROUP BY doc_id
ORDER BY bm25 DESC, doc_id
LIMIT 10
""")
def q_text_search_bm25(spark, sf_dir):
    """BM25 top-10 for the query ('spark', 'table', 'query') — the
    Elasticsearch match-query capability of the reference's serving
    store, as pure relational algebra."""
    return text.bm25_search(_t(spark, sf_dir, "documents"),
                            ("spark", "table", "query"))


@register("text_fuzzy_match", """
WITH occ AS (
  SELECT DISTINCT doc_id, unnest(list_distinct(
           list_filter(string_split_regex(text, '\\s+'), x -> x <> '')))
         AS term
  FROM documents)
SELECT doc_id, term AS matched_term
FROM occ
WHERE levenshtein(term, 'tble') <= 1
""")
def q_text_fuzzy_match(spark, sf_dir):
    """Fuzzy term search for the misspelling 'tble' (edit distance
    ≤ 1) — the Elasticsearch fuzzy-query capability; the edit distance
    runs over the distinct vocabulary, not per token occurrence."""
    return text.fuzzy_term_match(_t(spark, sf_dir, "documents"),
                                 "tble", max_distance=1)


@register("stream_dedup", """
SELECT event_id, event_type, round(value, 2) AS value FROM events
""")
def q_stream_dedup(spark, sf_dir):
    """Streaming dedup of a doubled event stream by key within a
    watermark — must reproduce exactly the distinct source rows
    (event_id is unique in the fixture), so it is oracle-checkable
    even though it runs through the state store."""
    from s3_elasticsearch_data_pipeline_spark.streaming import windowed
    import os
    return windowed.stream_dedup_events(
        spark, os.path.join(sf_dir, "events.parquet"))


#: DuckDB twin of the two-drop streaming LSH ingest (portable hash
#: mode): epoch 1 = even doc_ids deduped in-batch (lower id wins),
#: epoch 2 = odds plus +1,000,000-shifted copies of the full even half
#: probing the admitted-epoch-1 band index then themselves. The
#: exact-text fallback channel (band -1, md5-low-60 bucket, constant
#: signature) is replayed too — short docs dedup exactly, like the
#: operator. Shifted copies share text, hence identical band rows.
_STREAM_LSH_ORACLE = f"""
WITH {_MINHASH_BANDED_CTES},
short AS (
  SELECT d.doc_id,
         list_transform(range(1, 17),
           i -> CAST(('0x' || substr(md5(d.text), 18, 15))
                     AS UBIGINT)::BIGINT) AS sig,
         -1 AS band,
         CAST(('0x' || substr(md5(d.text), 18, 15)) AS UBIGINT)::BIGINT
           AS bucket
  FROM documents d
  WHERE d.doc_id NOT IN (SELECT doc_id FROM banded)),
allb AS (SELECT doc_id, sig, band, bucket FROM banded
         UNION ALL SELECT doc_id, sig, band, bucket FROM short),
b1 AS (SELECT * FROM allb WHERE doc_id % 2 = 0),
drop1 AS (
  SELECT DISTINCT p.doc_id FROM b1 p JOIN b1 i
    ON p.band = i.band AND p.bucket = i.bucket AND p.doc_id > i.doc_id
  WHERE round(len(list_filter(range(1, 17),
                    k -> p.sig[k] = i.sig[k])) / 16.0, 6) >= 0.5),
idx1 AS (SELECT * FROM b1
         WHERE doc_id NOT IN (SELECT doc_id FROM drop1)),
b2 AS (SELECT doc_id, sig, band, bucket FROM allb WHERE doc_id % 2 = 1
       UNION ALL
       SELECT doc_id + 1000000 AS doc_id, sig, band, bucket FROM allb
       WHERE doc_id % 2 = 0),
drop2 AS (SELECT DISTINCT doc_id FROM (
  SELECT p.doc_id FROM b2 p JOIN idx1 i
    ON p.band = i.band AND p.bucket = i.bucket
  WHERE round(len(list_filter(range(1, 17),
                    k -> p.sig[k] = i.sig[k])) / 16.0, 6) >= 0.5
  UNION ALL
  SELECT p.doc_id FROM b2 p JOIN b2 i
    ON p.band = i.band AND p.bucket = i.bucket AND p.doc_id > i.doc_id
  WHERE round(len(list_filter(range(1, 17),
                    k -> p.sig[k] = i.sig[k])) / 16.0, 6) >= 0.5))
SELECT doc_id FROM documents WHERE doc_id % 2 = 0
  AND doc_id NOT IN (SELECT doc_id FROM drop1)
UNION ALL
SELECT doc_id FROM (
  SELECT doc_id FROM documents WHERE doc_id % 2 = 1
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id FROM documents WHERE doc_id % 2 = 0)
WHERE doc_id NOT IN (SELECT doc_id FROM drop2)
ORDER BY doc_id
"""


#: DuckDB twin of semantic_ingest_stream over two drops: k-means
#: bootstrapped on the FIRST drop (evens), both drops multi-assigned
#: (take <= 2) against those centroids, epoch-0 in-batch greedy drop,
#: epoch-1 probe vs the surviving epoch-0 cell rows plus its own
#: in-batch greedy — the whole admission decision replayed in SQL
#: (epochs identified as evens < 1M vs odds + shifted evens).
_STREAM_SEMANTIC_ORACLE = f"""{_kmeans_cte_sql(8, "vec_id % 2 = 0")},
sa0 AS ({_KMEANS_ASSIGN_CTE.format(vecs='tvecs', cents='c2',
                                   qfilter='', take='<= 2')}),
sdrop1 AS (
  SELECT DISTINCT b.vec_id FROM sa0 a JOIN sa0 b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round(list_inner_product(a.emb, b.emb) / (sqrt(list_inner_product(a.emb, a.emb)) * sqrt(list_inner_product(b.emb, b.emb))), 6) >= 0.4),
sidx1 AS (SELECT * FROM sa0
         WHERE vec_id NOT IN (SELECT vec_id FROM sdrop1)),
b2vecs AS (SELECT vec_id, emb FROM vecs WHERE vec_id % 2 = 1
           UNION ALL
           SELECT vec_id + 1000000 AS vec_id, emb FROM vecs
           WHERE vec_id % 2 = 0),
sa2 AS ({_KMEANS_ASSIGN_CTE.format(vecs='b2vecs', cents='c2',
                                   qfilter='', take='<= 2')}),
sdrop2 AS (SELECT DISTINCT vec_id FROM (
  SELECT b.vec_id FROM sa2 b JOIN sidx1 c ON b.cell = c.cell
  WHERE round(list_inner_product(b.emb, c.emb) / (sqrt(list_inner_product(b.emb, b.emb)) * sqrt(list_inner_product(c.emb, c.emb))), 6) >= 0.4
  UNION ALL
  SELECT b.vec_id FROM sa2 a JOIN sa2 b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round(list_inner_product(a.emb, b.emb) / (sqrt(list_inner_product(a.emb, a.emb)) * sqrt(list_inner_product(b.emb, b.emb))), 6) >= 0.4))
SELECT vec_id FROM tvecs
  WHERE vec_id NOT IN (SELECT vec_id FROM sdrop1)
UNION ALL
SELECT vec_id FROM b2vecs
  WHERE vec_id NOT IN (SELECT vec_id FROM sdrop2)
ORDER BY vec_id
"""


@register("stream_semantic_ingest", _STREAM_SEMANTIC_ORACLE)
def q_stream_semantic_ingest(spark, sf_dir):
    """Streaming semantic dedup-at-ingest (r7 — the embedding twin of
    stream_lsh_ingest, completing batch/streaming symmetry with
    dedup_incremental_semantic): two embedding drops flow through the
    checkpointed loop (streaming/semantic_ingest.py); the second drop
    repeats every first-drop vector under shifted ids and all of
    those must be rejected by the persisted cell-store probe
    (cosine 1.0). Fully oracle-checked — the DuckDB twin replays the
    bootstrap k-means and both epochs' admission decisions."""
    import os
    import tempfile

    from s3_elasticsearch_data_pipeline_spark.streaming.semantic_ingest import (
        read_corpus, semantic_ingest_stream)
    embs = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    work = tempfile.mkdtemp(prefix="sem_ingest_")
    src = os.path.join(work, "src")
    first = embs.where(F.col("vec_id") % 2 == 0)
    first.write.parquet(src)
    args = (spark, src, os.path.join(work, "corpus"),
            os.path.join(work, "index"), os.path.join(work, "ckpt"))
    semantic_ingest_stream(*args)
    second = embs.where(F.col("vec_id") % 2 == 1).unionByName(
        first.withColumn("vec_id", F.col("vec_id") + 1_000_000))
    second.write.mode("append").parquet(src)
    semantic_ingest_stream(*args)
    corpus = read_corpus(spark, os.path.join(work, "corpus"))
    if corpus is None:
        return spark.createDataFrame([], "vec_id long")
    return corpus.select("vec_id").orderBy("vec_id")


@register("stream_lsh_ingest", _STREAM_LSH_ORACLE)  # r6: portable replay
def q_stream_lsh_ingest(spark, sf_dir):
    """Streaming near-dup dedup-at-ingest: two document drops flow
    through the checkpointed ingest loop (streaming/lsh_ingest.py) —
    the second drop repeats every first-drop document under shifted
    ids, and all of those must be rejected by the persisted band
    index probe. Returns the admitted corpus ids (deterministic:
    in-batch admission is lower-id-wins)."""
    import os
    import tempfile

    from s3_elasticsearch_data_pipeline_spark.streaming.lsh_ingest import (
        lsh_ingest_stream, read_corpus)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    work = tempfile.mkdtemp(prefix="lsh_ingest_")
    src = os.path.join(work, "src")
    first = docs.where(F.col("doc_id") % 2 == 0)
    first.write.parquet(src)
    args = (spark, src, os.path.join(work, "corpus"),
            os.path.join(work, "index"), os.path.join(work, "ckpt"))
    lsh_ingest_stream(*args, hash_mode="portable", max_bucket_docs=None)
    second = docs.where(F.col("doc_id") % 2 == 1).unionByName(
        first.withColumn("doc_id", F.col("doc_id") + 1_000_000))
    second.write.mode("append").parquet(src)
    lsh_ingest_stream(*args, hash_mode="portable", max_bucket_docs=None)
    corpus = read_corpus(spark, os.path.join(work, "corpus"))
    if corpus is None:  # empty source → empty corpus, not a crash
        return spark.createDataFrame([], "doc_id long")
    return corpus.select("doc_id").orderBy("doc_id")


@register("stream_ivfpq_ingest", _IVFPQ_EVEN_TRAIN_ORACLE)  # ≡ build(even)+append(odd), tested
def q_stream_ivfpq_ingest(spark, sf_dir):
    """Streaming IVF-PQ ingest (streaming/ivfpq_ingest.py): the first
    drop bootstraps centroids AND PQ codebooks, the second is
    assigned+encoded against the persisted parameters through the same
    kernel the batch builder uses (add-after-train, per-epoch
    effectively-once, crash-recovery tested) — then top-k is served
    from the persisted codes with exact rerank."""
    import os

    from s3_elasticsearch_data_pipeline_spark.streaming.ivfpq_ingest import (
        ivfpq_ingest_stream)
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    work = _ivf_scratch(sf_dir, "ivfpq_stream")
    src, index = os.path.join(work, "src"), os.path.join(work, "index")
    ckpt = os.path.join(work, "ckpt")
    if not os.path.exists(src):  # scratch is reused across invocations
        emb.where(F.col("vec_id") % 2 == 0).write.parquet(src)
        ivfpq_ingest_stream(spark, src, index, ckpt)
        emb.where(F.col("vec_id") % 2 == 1) \
           .write.mode("append").parquet(src)
    ivfpq_ingest_stream(spark, src, index, ckpt)  # drains anything new
    return similarity.ivfpq_probe_topk(
        spark, index, emb.where(F.col("vec_id") < 10), k=10)


@register("stream_ivf_ingest", _IVF_EVEN_TRAIN_ORACLE)  # ≡ build(even)+append(odd), tested
def q_stream_ivf_ingest(spark, sf_dir):
    """Streaming vector-index ingest: two embedding drops flow through
    the checkpointed IVF ingest loop (streaming/ivf_ingest.py) — the
    first drop bootstraps the centroids, the second is assigned against
    them (add-after-train, streamed, per-epoch effectively-once) — then
    top-k is served from the persisted index. Probe-equivalent to the
    batch build(half)+append(rest) path by construction (tested)."""
    import os

    from s3_elasticsearch_data_pipeline_spark.streaming.ivf_ingest import (
        ivf_ingest_stream)
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    work = _ivf_scratch(sf_dir, "stream")
    src, index = os.path.join(work, "src"), os.path.join(work, "index")
    ckpt = os.path.join(work, "ckpt")
    if not os.path.exists(src):  # scratch is reused across invocations
        emb.where(F.col("vec_id") % 2 == 0).write.parquet(src)
        ivf_ingest_stream(spark, src, index, ckpt)
        emb.where(F.col("vec_id") % 2 == 1) \
           .write.mode("append").parquet(src)
    ivf_ingest_stream(spark, src, index, ckpt)  # drains anything new
    return similarity.ivf_probe_topk(
        spark, index, emb.where(F.col("vec_id") < 10), k=10)


@register("stream_purchase_attribution", """
SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
       c.event_id AS click_id, c.ts AS click_ts
FROM (SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'purchase') p
JOIN (SELECT event_id, user_id AS click_user, ts FROM events
      WHERE event_type = 'click') c
  ON p.user_id = c.click_user
 AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 60 MINUTES
""")
def q_stream_purchase_attribution(spark, sf_dir):
    """Watermarked stream-stream interval join (purchase→click funnel
    attribution); batch-equivalent, so the oracle is the plain interval
    join."""
    from s3_elasticsearch_data_pipeline_spark.streaming import windowed
    import os
    return windowed.stream_stream_purchase_attribution(
        spark, os.path.join(sf_dir, "events.parquet"))


@register("text_tfidf_top_terms", """
WITH tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'),
                                          x -> x <> '')) AS term
        FROM documents)
  GROUP BY doc_id, term),
df AS (
  SELECT term, count(*) AS doc_freq
  FROM (SELECT DISTINCT doc_id, unnest(list_distinct(
              list_filter(string_split_regex(text, '\\s+'), x -> x <> '')))
            AS term
        FROM documents)
  GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
idf AS (SELECT term, round(ln((n_docs + 1) / (doc_freq + 1)), 6) AS idf
        FROM df, n),
scored AS (
  SELECT doc_id, term, round(tf * idf, 6) AS tfidf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY round(tf * idf, 6) DESC, term) AS rank
  FROM tf JOIN idf USING (term))
SELECT doc_id, term, tfidf, rank FROM scored WHERE rank <= 3
""")
def q_text_tfidf_top_terms(spark, sf_dir):
    """Top-3 TF-IDF terms per document — sparse document vectors with a
    deterministic (score, term) ranking on both engines."""
    return text.tfidf_top_terms(_t(spark, sf_dir, "documents"), k=3)


@register("embedding_quantize", """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
s AS (
  SELECT vec_id, emb,
         list_max(list_transform(emb, x -> abs(x))) / 127.0 AS scale
  FROM e)
SELECT vec_id,
       round(scale, 9) AS scale,
       list_reduce(list_prepend(CAST(0 AS BIGINT),
         list_transform(emb, x -> CAST(floor(x / scale + 0.5) AS BIGINT))),
         (a, b) -> a + b) AS q_sum,
       round(list_reduce(list_prepend(0.0,
         list_transform(emb, x -> (x - floor(x / scale + 0.5) * scale)
                                  * (x - floor(x / scale + 0.5) * scale))),
         (a, b) -> a + b) / len(emb), 9) AS mse
FROM s WHERE scale > 0
""")
def q_embedding_quantize(spark, sf_dir):
    """Int8 scalar quantization of embeddings with reconstruction MSE —
    per-row sequential folds, reproducible bit-for-bit in both engines."""
    from s3_elasticsearch_data_pipeline_spark.operators.similarity import (
        quantize_embeddings)
    return quantize_embeddings(_t(spark, sf_dir, "embeddings"))


@register("layout_zorder_code", """
WITH base AS (
  SELECT o_orderkey,
         CAST(o_custkey % 65536 AS BIGINT) AS a,
         CAST(date_diff('day', DATE '1970-01-01',
                        CAST(o_orderdate AS DATE)) % 65536 AS BIGINT) AS b
  FROM orders),
s1 AS (SELECT o_orderkey, (a | (a << 8)) & 16711935 AS a,
                          (b | (b << 8)) & 16711935 AS b FROM base),
s2 AS (SELECT o_orderkey, (a | (a << 4)) & 252645135 AS a,
                          (b | (b << 4)) & 252645135 AS b FROM s1),
s3 AS (SELECT o_orderkey, (a | (a << 2)) & 858993459 AS a,
                          (b | (b << 2)) & 858993459 AS b FROM s2),
s4 AS (SELECT o_orderkey, (a | (a << 1)) & 1431655765 AS a,
                          (b | (b << 1)) & 1431655765 AS b FROM s3)
SELECT o_orderkey, (a << 1) | b AS zcode FROM s4
""")
def q_layout_zorder_code(spark, sf_dir):
    """Morton (Z-order) clustering code over (custkey, order day) —
    the sort key for multi-dimensional data-skipping file layouts."""
    from s3_elasticsearch_data_pipeline_spark.operators.layout import morton_code
    orders = _t(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate").cast("date"),
                     F.lit("1970-01-01").cast("date"))
    return orders.select(
        "o_orderkey",
        morton_code(F.col("o_custkey") % 65536, day % 65536).alias("zcode"))


@register("graph_pagerank_trade", """
WITH pairs AS (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                  's' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
edges AS (SELECT src, dst FROM pairs
          UNION ALL SELECT dst AS src, src AS dst FROM pairs),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
nodes AS (SELECT DISTINCT src AS node FROM edges),
nn AS (SELECT count(*) AS n FROM nodes),
r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / n AS rank FROM nodes, nn),
c1 AS (SELECT e.dst AS node,
              sum(CAST(r.rank / d.deg AS DECIMAL(28,14))) AS s
       FROM edges e JOIN r0 r ON e.src = r.node
                    JOIN deg d ON e.src = d.src
       GROUP BY e.dst),
r1 AS (SELECT n.node,
              (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
              + CAST(0.85 AS DOUBLE) * coalesce(CAST(c1.s AS DOUBLE), 0.0)
                AS rank
       FROM nodes n LEFT JOIN c1 ON n.node = c1.node, nn),
c2 AS (SELECT e.dst AS node,
              sum(CAST(r.rank / d.deg AS DECIMAL(28,14))) AS s
       FROM edges e JOIN r1 r ON e.src = r.node
                    JOIN deg d ON e.src = d.src
       GROUP BY e.dst),
r2 AS (SELECT n.node,
              (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
              + CAST(0.85 AS DOUBLE) * coalesce(CAST(c2.s AS DOUBLE), 0.0)
                AS rank
       FROM nodes n LEFT JOIN c2 ON n.node = c2.node, nn),
c3 AS (SELECT e.dst AS node,
              sum(CAST(r.rank / d.deg AS DECIMAL(28,14))) AS s
       FROM edges e JOIN r2 r ON e.src = r.node
                    JOIN deg d ON e.src = d.src
       GROUP BY e.dst),
r3 AS (SELECT n.node,
              (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
              + CAST(0.85 AS DOUBLE) * coalesce(CAST(c3.s AS DOUBLE), 0.0)
                AS rank
       FROM nodes n LEFT JOIN c3 ON n.node = c3.node, nn)
SELECT node, round(rank, 12) AS rank FROM r3
""")
def q_graph_pagerank_trade(spark, sf_dir):
    """3-iteration PageRank over the undirected customer-supplier trade
    graph — broadcast rank vector, decimal-exact contribution sums,
    edges materialized once (cf. operators/graph.py)."""
    from s3_elasticsearch_data_pipeline_spark.operators.graph import pagerank
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    # Numeric node encoding (customers even, suppliers odd): the
    # distinct/shuffle/broadcast all move 8-byte longs instead of
    # strings; pairs are materialized once so the mirrored union does
    # not re-run the join+distinct per branch.
    # r11, measured rejection (VERDICT item 5): fanning the lineitem
    # side to cluster width before the join (narrow 16-byte rows, a
    # `parallelize_for_compute` round-robin on the projected scan) ran
    # 2.3x SLOWER same-window (bench 2.79 -> 6.39 s, profiler min
    # 3.20 -> 6.18 s): the extra exchange pays sortBeforeRepartition
    # and every downstream consumer of the 32-partition checkpoint
    # (deg, union, 3 iterations) schedules wider, while the join's
    # 0.54 s CPU was already parallel across the scan's 3 splits.
    # Even the narrow-row case loses — the q-family wide-row rejection
    # generalizes.
    pairs = (orders.join(lineitem,
                         orders["o_orderkey"] == lineitem["l_orderkey"])
             .select((F.col("o_custkey") * 2).alias("src"),
                     (F.col("l_suppkey") * 2 + 1).alias("dst"))
             .distinct().localCheckpoint(eager=False))
    edges = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    node = F.col("node")
    label = F.when(node % 2 == 0,
                   F.concat(F.lit("c"), (node / 2).cast("long").cast("string"))
                   ).otherwise(
        F.concat(F.lit("s"), ((node - 1) / 2).cast("long").cast("string")))
    return (pagerank(edges, iters=3, damping=0.85)
            .select(label.alias("node"), "rank"))


@register("text_unigram_logprob", """
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(text, '\\s+'),
                            t -> t <> '')) AS term
  FROM documents),
freq AS (SELECT term, count(*) AS term_count FROM tok GROUP BY term),
tot AS (SELECT sum(term_count) AS total FROM freq),
lp AS (SELECT term,
              CAST(round(ln(term_count / total), 9) AS DECIMAL(18,9)) AS logp
       FROM freq, tot)
SELECT doc_id, count(*) AS n_tokens,
       round(CAST(-sum(logp) AS DOUBLE) / count(*), 6) AS avg_neg_logprob
FROM tok JOIN lp USING (term)
GROUP BY doc_id
""")
def q_text_unigram_logprob(spark, sf_dir):
    """Unigram-LM quality scores (avg negative log-prob per doc) — the
    perplexity-proxy filter, decimal-exact per-doc accumulation."""
    return text.unigram_logprob_scores(_t(spark, sf_dir, "documents"))


@register("pack_sequences", """
WITH t AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(text, '\\s+'),
                         x -> x <> '')) AS n_tokens
  FROM documents),
c AS (
  SELECT doc_id, n_tokens,
         CAST(sum(n_tokens) OVER (ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM t)
SELECT doc_id, n_tokens,
       cum - n_tokens AS stream_start,
       (cum - n_tokens) // 4096 AS block_id,
       (cum - n_tokens) % 4096 AS block_offset,
       ((cum - 1) // 4096) - ((cum - n_tokens) // 4096) + 1 AS n_blocks
FROM c
""")
def q_pack_sequences(spark, sf_dir):
    """Sequence packing via distributed prefix sum: each document's
    (block, offset) in the concatenated fixed-length training stream —
    two-phase parallel scan, no single-task global window."""
    from s3_elasticsearch_data_pipeline_spark.operators.packing import (
        sequence_pack)
    return sequence_pack(_t(spark, sf_dir, "documents"), seq_len=4096)


@register("text_inverted_index", """
SELECT term,
       list_sort(list(DISTINCT doc_id)) AS postings,
       count(DISTINCT doc_id) AS doc_freq
FROM (SELECT doc_id,
             unnest(list_distinct(list_filter(
               string_split_regex(text, '\\s+'), t -> t <> ''))) AS term
      FROM documents)
GROUP BY term
""")
def q_text_inverted_index(spark, sf_dir):
    """Term -> sorted posting list + doc frequency — the ES-side index
    structure as relational algebra."""
    return text.inverted_index(_t(spark, sf_dir, "documents"))


@register("text_token_counts_bpe", """
WITH p AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(text, '\\s+'),
                         t -> t <> '')) AS n_ws_tokens,
         len(list_filter(
           regexp_extract_all(text,
             '''(?:[sdmt]|ll|ve|re)| ?[a-zA-Z]+| ?[0-9]+| ?[^\\sa-zA-Z0-9]+|\\s+',
             0),
           x -> regexp_matches(x, '\\S'))) AS n_bpe_pieces
  FROM documents)
SELECT doc_id, n_ws_tokens, n_bpe_pieces,
       CASE WHEN n_ws_tokens > 0
            THEN round(CAST(n_bpe_pieces AS DOUBLE) / n_ws_tokens, 6)
            ELSE 0.0 END AS fertility
FROM p
""")
def q_text_token_counts_bpe(spark, sf_dir):
    """BPE-ish regex piece counts + fertility vs whitespace tokens."""
    return text.bpe_token_counts(_t(spark, sf_dir, "documents"))


@register("dataset_stratified_sample", """
WITH h AS (
  SELECT doc_id, lang,
         ((doc_id % 2147483647) * 48271 + 7) % 2147483647 AS u
  FROM documents),
rk AS (
  SELECT doc_id, lang AS stratum,
         row_number() OVER (PARTITION BY lang ORDER BY u, doc_id)
         AS sample_rank
  FROM h)
SELECT doc_id, stratum, sample_rank FROM rk WHERE sample_rank <= 50
""")
def q_dataset_stratified_sample(spark, sf_dir):
    """Exact-count per-stratum sampling (r8): exactly N docs per
    language — deterministic LCG-hash order within each stratum,
    row_number <= N (operators/text.py:stratified_sample). The
    eval-set construction primitive rate-based admission can't give;
    WindowGroupLimit keeps the per-task state at top-N per stratum
    (plan-asserted)."""
    return text.stratified_sample(_t(spark, sf_dir, "documents"))


@register("corpus_curriculum_buckets", """
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(text, '\\s+'),
                            t -> t <> '')) AS term
  FROM documents),
freq AS (SELECT term, count(*) AS term_count FROM tok GROUP BY term),
tot AS (SELECT sum(term_count) AS total FROM freq),
lp AS (SELECT term,
              CAST(round(ln(term_count / total), 9) AS DECIMAL(18,9)) AS logp
       FROM freq, tot),
scored AS (
  SELECT doc_id,
         round(CAST(-sum(logp) AS DOUBLE) / count(*), 6)
         AS avg_neg_logprob
  FROM tok JOIN lp USING (term)
  GROUP BY doc_id),
cuts AS (
  SELECT round(quantile_cont(avg_neg_logprob, 0.25), 6) AS c1,
         round(quantile_cont(avg_neg_logprob, 0.50), 6) AS c2,
         round(quantile_cont(avg_neg_logprob, 0.75), 6) AS c3
  FROM scored)
SELECT doc_id, avg_neg_logprob,
       1 + CAST(avg_neg_logprob > c1 AS INT)
         + CAST(avg_neg_logprob > c2 AS INT)
         + CAST(avg_neg_logprob > c3 AS INT) AS bucket
FROM scored, cuts
ORDER BY doc_id
""")
def q_corpus_curriculum_buckets(spark, sf_dir):
    """Curriculum staging (r8): difficulty buckets over the
    unigram-LM quality score via exact percentile cut-points + a pure
    projection — NO global sort (ntile's single-partition total order
    is the 100 TB anti-pattern; one narrow percentile aggregate gives
    the same staging). Spark percentile == DuckDB quantile_cont, so
    the twin recomputes identical buckets
    (operators/text.py:curriculum_buckets)."""
    return text.curriculum_buckets(_t(spark, sf_dir, "documents"))


@register("dataset_split", """
SELECT doc_id,
       substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket_hex,
       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
            THEN 'train'
            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
            THEN 'val'
            ELSE 'test' END AS split
FROM documents
""")
def q_dataset_split(spark, sf_dir):
    """Deterministic hash-threshold train/val/test split assignment —
    stable across engines, partitionings and re-crawls."""
    return text.dataset_split(_t(spark, sf_dir, "documents"))


@register("text_chunks_udtf", """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
  FROM documents)
SELECT doc_id,
       CAST(i AS INTEGER) AS chunk_idx,
       array_to_string(list_slice(toks, i * 20 + 1, i * 20 + 20), ' ')
         AS chunk
FROM t, unnest(range(0, CAST(ceil(len(toks) / 20.0) AS BIGINT))) AS u(i)
""")
def q_text_chunks_udtf(spark, sf_dir):
    """RAG-style 20-token chunking via a Python UDTF (lateral table
    function) — the row-to-many extension point, oracle-checked."""
    return text.chunk_documents_udtf(_t(spark, sf_dir, "documents"))


@register("corpus_curation_pipeline", """
WITH base AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
  FROM documents),
m AS (
  SELECT doc_id, len(toks) AS n_tokens,
         len(list_distinct(toks)) AS n_distinct,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS n_alpha,
         len(list_intersect(list_distinct(toks),
             ['the','a','and','of','to','in','is','that','for','it']))
           AS n_stop
  FROM base),
q AS (
  SELECT doc_id, n_tokens,
         floor((0.3 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
               + 0.3 * (CASE WHEN n_tokens > 0
                             THEN CAST(n_distinct AS DOUBLE) / n_tokens
                             ELSE 0.0 END)
               + 0.2 * (CASE WHEN n_chars > 0
                             THEN CAST(n_alpha AS DOUBLE) / n_chars
                             ELSE 0.0 END)
               + 0.2 * least(CAST(n_stop AS DOUBLE) / 5.0, 1.0)) * 1000000.0 + 0.5) / 1000000.0 AS quality_score
  FROM m),
kept AS (
  SELECT d.doc_id, d.lang, d.source, d.text
  FROM documents d JOIN q ON d.doc_id = q.doc_id
  WHERE q.quality_score >= 0.55 AND q.n_tokens BETWEEN 20 AND 1000
    AND d.lang IN ('en', 'de', 'fr', 'es')),
surv AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text)),
sh AS (
  SELECT b.doc_id, d.source,
         list_distinct(list_transform(range(1, len(b.toks) - 2),
           i -> b.toks[i] || ' ' || b.toks[i+1] || ' ' || b.toks[i+2]
                || ' ' || b.toks[i+3])) AS grams
  FROM base b JOIN documents d ON b.doc_id = d.doc_id
  WHERE len(b.toks) >= 4),
bench AS (SELECT DISTINCT unnest(grams) AS gram FROM sh
          WHERE source = 'src0'),
contaminated AS (
  SELECT DISTINCT doc_id
  FROM (SELECT doc_id, unnest(grams) AS gram FROM sh
        WHERE source <> 'src0') t JOIN bench USING (gram)),
clean AS (
  SELECT k.doc_id, k.lang, k.source
  FROM kept k JOIN surv s ON k.doc_id = s.doc_id
  WHERE k.source <> 'src0'
    AND k.doc_id NOT IN (SELECT doc_id FROM contaminated))
SELECT doc_id, lang, source,
       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
            THEN 'train'
            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
            THEN 'val'
            ELSE 'test' END AS split
FROM clean
""")
def q_corpus_curation_pipeline(spark, sf_dir):
    """The end-to-end curation pipeline in ONE plan: quality filter ->
    exact dedup (min id per content hash) -> eval-set decontamination
    (drop anything sharing a 4-gram with the src0 benchmark slice) ->
    deterministic train/val/test split. Every stage is the registered
    operator (or its shared expression builder) composed unchanged; the
    oracle composes their SQL twins."""
    docs = _t(spark, sf_dir, "documents")
    # the filter chain as ONE filtered scan of the document rows (text
    # included, for the dedup hash) — no semi-join back onto docs
    kept = text.quality_kept_rows(docs)
    surv = (kept.select(F.md5("text").alias("h"), "doc_id")
            .groupBy("h").agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id"))
    contaminated = text.contamination_overlap(docs).select("doc_id")
    clean = (kept.select("doc_id", "lang", "source")
             .where(F.col("source") != "src0")
             .join(surv, "doc_id", "left_semi")
             .join(contaminated, "doc_id", "left_anti"))
    # split attached INLINE (the shared expression dataset_split uses):
    # joining dataset_split(clean) back on doc_id would be a self-join
    # whose right side re-runs the quality filter, the dedup aggregate
    # and the contamination screen; doc_id is unique, so same rows
    _, split_col = text.split_assignment_cols()
    return clean.select("doc_id", "lang", "source",
                        split_col.alias("split"))


@register("text_repetition_scores", """
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
  FROM documents),
g AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 2
              THEN list_transform(range(1, len(toks)),
                                  i -> toks[i] || ' ' || toks[i+1])
              ELSE [] END AS grams
  FROM tok)
SELECT doc_id,
       len(grams) AS n_bigrams,
       len(list_distinct(grams)) AS n_distinct_bigrams,
       CASE WHEN len(grams) > 0
            THEN round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                             / len(grams), 6)
            ELSE 0.0 END AS dup_bigram_fraction,
       coalesce(list_max(list_transform(
           list_distinct(grams),
           d -> len(list_filter(grams, x -> x = d)))), 0) AS top_bigram_count
FROM g
""")
def q_text_repetition_scores(spark, sf_dir):
    """Within-document repetition signals (duplicate-bigram fraction,
    most-repeated-bigram count) — per-row array algebra, no shuffle."""
    return text.repetition_scores(_t(spark, sf_dir, "documents"))


@register("contamination_ngram_overlap", """
WITH tok AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
  FROM documents),
sh AS (
  SELECT doc_id, source,
         list_distinct(list_transform(
           range(1, len(toks) - 2),
           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                || ' ' || toks[i+3])) AS grams
  FROM tok WHERE len(toks) >= 4),
bench AS (SELECT DISTINCT unnest(grams) AS gram FROM sh
          WHERE source = 'src0'),
train AS (SELECT doc_id, source, unnest(grams) AS gram FROM sh
          WHERE source <> 'src0')
SELECT doc_id, source, count(*) AS n_shared_ngrams
FROM train JOIN bench USING (gram)
GROUP BY doc_id, source
""")
def q_contamination_ngram_overlap(spark, sf_dir):
    """Eval-set decontamination: per training doc, how many of its
    distinct 4-grams appear anywhere in the held-out src0 slice. The
    benchmark gram set broadcasts; the corpus never shuffles."""
    return text.contamination_overlap(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Extension surface: row-format sources, bucketed layout, regression /
# percentile aggregates, timeseries gap-fill, co-purchase triangles
# ---------------------------------------------------------------------------

@register("source_csv_roundtrip", """
SELECT o_orderstatus, count(*) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
         AS total
FROM orders GROUP BY o_orderstatus
""")
def q_source_csv_roundtrip(spark, sf_dir):
    """CSV sink+source roundtrip (the reference's Athena-result wire
    format, ID-based-transfer.py:42-48): executor-parallel CSV write,
    re-read with an EXPLICIT schema (no inference pass), aggregate.
    Values must survive the text roundtrip bit-for-bit."""
    import tempfile
    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType)
    from s3_elasticsearch_data_pipeline_spark.sources import formats
    subset = (_t(spark, sf_dir, "orders")
              .select("o_orderkey", "o_custkey", "o_orderstatus",
                      "o_totalprice"))
    out = tempfile.mkdtemp(prefix="src_csv_")
    formats.write_csv(subset, out)
    schema = StructType([
        StructField("o_orderkey", LongType()),
        StructField("o_custkey", LongType()),
        StructField("o_orderstatus", StringType()),
        StructField("o_totalprice", DoubleType())])
    back = formats.read_csv(spark, out, schema)
    return (back.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2)
                  .cast("double").alias("total")))


@register("source_json_roundtrip", """
SELECT event_type, count(*) AS n_events,
       count(DISTINCT CAST(ts AS DATE)) AS n_days,
       CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
FROM events GROUP BY event_type
""")
def q_source_json_roundtrip(spark, sf_dir):
    """JSON-lines sink+source roundtrip (the reference's NDJSON doc
    shape, data-s3-elastic-transfer.py:192-196): parallel write, re-read
    with explicit schema incl. timestamp, aggregate. The distinct-day
    count proves timestamps survive the text roundtrip."""
    import tempfile
    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType, TimestampType)
    from s3_elasticsearch_data_pipeline_spark.sources import formats
    subset = (_t(spark, sf_dir, "events")
              .select("event_id", "user_id", "event_type", "value", "ts"))
    out = tempfile.mkdtemp(prefix="src_json_")
    formats.write_json(subset, out)
    schema = StructType([
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("ts", TimestampType())])
    back = formats.read_json(spark, out, schema)
    return (back.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.count_distinct(F.to_date("ts")).alias("n_days"),
                 F.round(F.sum(F.col("value").cast("decimal(12,2)")), 2)
                  .cast("double").alias("total")))


@register("bucketed_join_colocated", """
SELECT o_orderpriority, count(*) AS n_lines,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                      * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2)
            AS DOUBLE) AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
""")
def q_bucketed_join_colocated(spark, sf_dir):
    """Shuffle-free co-located join via bucketed layout: both tables
    written bucketBy(orderkey) once, then the orderkey join plans with
    ZERO Exchange (plan asserted in tests/test_plan_shape.py). The
    100 TB answer to the reference's per-key join core — pay the
    bucket shuffle once at ingest, never again per query."""
    from s3_elasticsearch_data_pipeline_spark.sinks.bucketed import (
        cojoin_bucketed, write_bucketed)
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority")
    lineitem = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_extendedprice", "l_discount")
    write_bucketed(orders, "orders_bucketed", "o_orderkey",
                   sort_by="o_orderkey")
    write_bucketed(lineitem, "lineitem_bucketed", "o_orderkey",
                   sort_by="o_orderkey")
    revenue = (F.col("l_extendedprice").cast("decimal(12,2)")
               * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)")))
    return (cojoin_bucketed(spark, "orders_bucketed", "lineitem_bucketed",
                            "o_orderkey")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_lines"),
                 F.round(F.sum(revenue), 2).cast("double").alias("revenue")))


@register("agg_regression", """
WITH m AS (
  SELECT l_returnflag,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
         CAST(sum(CAST(l_quantity AS DECIMAL(12,2))
                  * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sxy,
         CAST(sum(CAST(l_quantity AS DECIMAL(12,2))
                  * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                  * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS syy
  FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
       round((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS slope,
       round((sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n, 6)
         AS intercept,
       round(((n*sxy - sx*sy) * (n*sxy - sx*sy))
             / ((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) AS r2
FROM m
""")
def q_agg_regression(spark, sf_dir):
    """Linear-regression aggregates from exact decimal moment sums —
    partition-order-independent where the built-in regr_* double
    accumulators are not (cf. operators/analytics.py:regression_pack)."""
    return analytics.regression_pack(_t(spark, sf_dir, "lineitem"))


@register("agg_percentiles", """
SELECT event_type, count(*) AS n_rows,
       round(quantile_cont(value, 0.25), 4) AS p25,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.75), 4) AS p75,
       round(quantile_cont(value, 0.95), 4) AS p95
FROM events GROUP BY event_type
""")
def q_agg_percentiles(spark, sf_dir):
    """Exact interpolated percentiles (Spark ``percentile`` ==
    ANSI ``quantile_cont``); the mergeable-sketch alternative for
    unbounded groups is approx_percentile (agg_approx_distinct pack)."""
    return analytics.percentile_pack(_t(spark, sf_dir, "events"))


@register("timeseries_gapfill", """
WITH daily AS (
  SELECT user_id AS key, CAST(ts AS DATE) AS day, count(*) AS n_events,
         floor((CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                / count(*)) * 10000.0 + 0.5) / 10000.0 AS day_avg
  FROM events GROUP BY 1, 2),
span AS (SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
         FROM events),
spine AS (
  SELECT k.key, CAST(d.day AS DATE) AS day
  FROM (SELECT DISTINCT user_id AS key FROM events) k,
       (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
        FROM span) d)
SELECT s.key, s.day, coalesce(dy.n_events, 0) AS n_events,
       last_value(dy.day_avg IGNORE NULLS) OVER (
         PARTITION BY s.key ORDER BY s.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_avg
FROM spine s LEFT JOIN daily dy ON s.key = dy.key AND s.day = dy.day
""")
def q_timeseries_gapfill(spark, sf_dir):
    """Dense daily grid per user with zero-filled gaps and
    last-observation-carried-forward daily means (hypertable
    ``time_bucket_gapfill``/``locf`` semantics as DataFrame algebra;
    cf. operators/temporal.py:gapfill_daily)."""
    from s3_elasticsearch_data_pipeline_spark.operators.temporal import (
        gapfill_daily)
    return gapfill_daily(_t(spark, sf_dir, "events"))


@register("graph_triangle_count", """
WITH e AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey)
SELECT count(*) AS n_triangles, count(DISTINCT e1.src) AS n_apex_nodes
FROM e e1 JOIN e e2 ON e1.dst = e2.src
          JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
""")
def q_graph_triangle_count(spark, sf_dir):
    """Triangle count over the part co-purchase graph (canonical
    src<dst edges, two-join wedge closure — cf. operators/graph.py).
    The customer-supplier trade graph is bipartite (triangle-free), so
    the co-purchase projection is the meaningful triangle surface."""
    from s3_elasticsearch_data_pipeline_spark.operators.graph import (
        copurchase_edges, triangle_count)
    return triangle_count(copurchase_edges(_t(spark, sf_dir, "lineitem")))


@register("multimodal_frame_sample", """
WITH p AS (
  SELECT doc_id, text, length(text) AS n,
         greatest(length(text) // 4, 1) AS step
  FROM documents),
f AS (
  SELECT doc_id, i.i AS frame_index,
         least(i.i * step, greatest(n - 1, 0)) AS off, step, n, text
  FROM p CROSS JOIN generate_series(0, 3) AS i(i))
SELECT doc_id, CAST(frame_index AS INT) AS frame_index,
       CASE WHEN n = 0 THEN '93b885adfe0da089cdf634904fd59f71'
            ELSE md5(substr(text, off + 1, step)) END AS frame_md5,
       CAST(off AS BIGINT) AS frame_offset_bytes
FROM f
""")
def q_multimodal_frame_sample(spark, sf_dir):
    """Video-style frame sampling over opaque binary payloads via
    Arrow-batched mapInPandas (decode stubbed — no media libs here;
    the schema/batching/partitioning plumbing is real). Payloads are
    the ASCII text bytes, so every frame window is a substring and
    the frame digests oracle exactly — INCLUDING the empty-payload
    case: the operator substitutes a b'\\x00' window, and the oracle
    encodes that semantics as the literal md5(b'\\x00') constant
    (VARCHAR SQL can't digest a NUL byte), so an empty document in a
    future corpus reads as covered, not as an engine mismatch."""
    docs = _t(spark, sf_dir, "documents")
    return multimodal.sample_frames(multimodal.attach_payload(docs))


@register("reshape_unpivot", """
WITH m AS (
  SELECT 'l_quantity' AS measure, l_quantity AS val FROM lineitem
  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
  UNION ALL SELECT 'l_tax', l_tax FROM lineitem)
SELECT measure, count(*) AS n_rows,
       CAST(round(sum(CAST(val AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
FROM m GROUP BY measure
""")
def q_reshape_unpivot(spark, sf_dir):
    """Wide→long melt via built-in ``unpivot`` (zero-shuffle generator)
    + per-measure aggregate — the inverse of agg_pivot."""
    return analytics.unpivot_measures(_t(spark, sf_dir, "lineitem"))


@register("feature_scaling", """
WITH s AS (
  SELECT event_type, CAST(count(value) AS DOUBLE) AS n,
         CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sx,
         CAST(sum(CAST(value AS DECIMAL(12,2))
                  * CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sxx
  FROM events GROUP BY event_type)
SELECT event_id, e.event_type,
       round((value - sx / n)
             / sqrt((n * sxx - sx * sx) / (n * (n - 1.0))), 4) AS z
FROM events e JOIN s ON e.event_type = s.event_type
""")
def q_feature_scaling(spark, sf_dir):
    """Per-group z-score standardization from exact decimal moments —
    broadcast stats join, fact stream never shuffles (ML feature-prep
    pass; cf. operators/analytics.py:feature_scaling)."""
    return analytics.feature_scaling(_t(spark, sf_dir, "events"))


@register("impute_group_mean", """
WITH mk AS (
  SELECT event_id, event_type,
         CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS mv
  FROM events),
s AS (
  SELECT event_type, CAST(count(mv) AS DOUBLE) AS n,
         CAST(sum(CAST(mv AS DECIMAL(12,2))) AS DOUBLE) AS sx
  FROM mk GROUP BY event_type)
SELECT event_id, mk.event_type, (event_id % 7 = 0) AS was_imputed,
       round(coalesce(mv, sx / n), 4) AS value_filled
FROM mk JOIN s ON mk.event_type = s.event_type
""")
def q_impute_group_mean(spark, sf_dir):
    """Grouped-mean null imputation (deterministically synthesized
    nulls — fixtures are dense); the grouped fillna Spark lacks
    natively, composed as broadcast join + coalesce."""
    return analytics.impute_group_mean(_t(spark, sf_dir, "events"))


@register("dq_expectations", """
SELECT expectation, n_violations, n_violations = 0 AS passed FROM (
  SELECT 'orders_orderkey_unique' AS expectation,
         (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders)
           AS n_violations
  UNION ALL SELECT 'orders_custkey_not_null',
         (SELECT count(*) - count(o_custkey) FROM orders)
  UNION ALL SELECT 'orders_totalprice_positive',
         (SELECT count(*) FILTER (WHERE o_totalprice <= 0) FROM orders)
  UNION ALL SELECT 'orders_orderdate_in_range',
         (SELECT count(*) FILTER (WHERE o_orderdate NOT BETWEEN
            TIMESTAMP '1995-01-01' AND TIMESTAMP '2001-12-31') FROM orders)
  UNION ALL SELECT 'lineitem_quantity_positive',
         (SELECT count(*) FILTER (WHERE l_quantity <= 0) FROM lineitem)
  UNION ALL SELECT 'lineitem_discount_in_unit_interval',
         (SELECT count(*) FILTER (WHERE l_discount NOT BETWEEN 0.0 AND 1.0)
          FROM lineitem)
  UNION ALL SELECT 'events_value_not_null',
         (SELECT count(*) - count(value) FROM events)
  UNION ALL SELECT 'orders_custkey_fk_customer',
         (SELECT count(*) FROM orders o LEFT JOIN customer c
          ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL)
  UNION ALL SELECT 'lineitem_orderkey_fk_orders',
         (SELECT count(*) FROM lineitem l LEFT JOIN orders o
          ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL))
""")
def q_dq_expectations(spark, sf_dir):
    """Declarative data-quality suite: all of a table's constraints
    fused into ONE aggregate pass, FK checks as anti-joins; 9 result
    rows total (cf. operators/expectations.py)."""
    from s3_elasticsearch_data_pipeline_spark.operators.expectations import (
        dq_expectations)
    return dq_expectations(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "events"))


@register("cdc_apply_changes", """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1000.0
            ELSE o_totalprice END AS o_totalprice,
       CASE WHEN o_orderkey % 3 = 0 THEN 'X' ELSE o_orderstatus END
         AS o_orderstatus
FROM orders WHERE o_orderkey % 7 <> 0
UNION ALL
SELECT o_orderkey + 10000000, o_totalprice, o_orderstatus
FROM orders WHERE o_orderkey % 11 = 0
""")
def q_cdc_apply_changes(spark, sf_dir):
    """MERGE INTO semantics: apply a delta-sized keyed change feed
    (deletes %7, updates %5/%3, inserts %11 under shifted keys — the
    same perturbation cdc_snapshot_diff detects) to the snapshot via
    one broadcast anti-join + union; the oracle is the target
    snapshot itself, so the check proves diff→apply round-trips."""
    from s3_elasticsearch_data_pipeline_spark.operators.diff import (
        apply_changes)
    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus")
    k = F.col("o_orderkey")
    deletes = (base.where(k % 7 == 0)
               .select("o_orderkey", F.lit("delete").alias("op"),
                       F.lit(None).cast("double").alias("o_totalprice"),
                       F.lit(None).cast("string").alias("o_orderstatus")))
    updates = (base.where((k % 7 != 0) & ((k % 5 == 0) | (k % 3 == 0)))
               .select("o_orderkey", F.lit("upsert").alias("op"),
                       F.when(k % 5 == 0, F.col("o_totalprice") + 1000.0)
                        .otherwise(F.col("o_totalprice"))
                        .alias("o_totalprice"),
                       F.when(k % 3 == 0, F.lit("X"))
                        .otherwise(F.col("o_orderstatus"))
                        .alias("o_orderstatus")))
    inserts = (base.where(k % 11 == 0)
               .select((k + 10000000).alias("o_orderkey"),
                       F.lit("upsert").alias("op"),
                       "o_totalprice", "o_orderstatus"))
    feed = deletes.unionByName(updates).unionByName(inserts)
    return apply_changes(base, feed, "o_orderkey",
                         ("o_totalprice", "o_orderstatus"))


#: Portable-HLL twin (b=9 → m=512): identical md5-low-60 hashes,
#: register index = low 9 bits, ρ from length(bin(high 51 bits)) —
#: exact integer math; the harmonic denominator is the BIGINT sum
#: Σ 2^(52−ρ) (bit-identical cross-engine); the numerator literal and
#: the 2.5m small-range threshold are the same Python floats embedded
#: in both engines. See analytics.hll_portable_rollup.
_HLL_EST_SQL = """round(CASE
      WHEN 8.497699123215257e+20
           / CAST(sp + (512 - used) * 4503599627370496 AS DOUBLE)
           <= 1280.0 AND (512 - used) > 0
      THEN 512 * ln(512.0 / CAST(512 - used AS DOUBLE))
      ELSE 8.497699123215257e+20
           / CAST(sp + (512 - used) * 4503599627370496 AS DOUBLE)
    END, 2)"""

_HLL_ROLLUP_ORACLE = f"""
WITH hashed AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
         CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 18, 15))
              AS UBIGINT)::BIGINT AS h
  FROM orders),
rr AS (SELECT month, h & 511 AS reg,
              CASE WHEN (h >> 9) = 0 THEN 52
                   ELSE 52 - length(bin(h >> 9)) END AS rho
       FROM hashed),
mst AS (SELECT month, sum(1::BIGINT << (52 - r)) AS sp,
               count(*) AS used
        FROM (SELECT month, reg, max(rho) AS r FROM rr
              GROUP BY month, reg) GROUP BY month),
mest AS (SELECT month, {_HLL_EST_SQL} AS approx_customers FROM mst),
gst AS (SELECT sum(1::BIGINT << (52 - r)) AS sp, count(*) AS used
        FROM (SELECT reg, max(rho) AS r FROM rr GROUP BY reg)),
gest AS (SELECT {_HLL_EST_SQL} AS merged_total_customers FROM gst),
no AS (SELECT strftime(o_orderdate, '%Y-%m') AS month,
              count(*) AS n_orders FROM orders GROUP BY 1)
SELECT no.month, no.n_orders, mest.approx_customers,
       gest.merged_total_customers
FROM no JOIN mest USING (month) CROSS JOIN gest
"""


@register("agg_hll_mergeable_rollup", _HLL_ROLLUP_ORACLE)
def q_agg_hll_mergeable_rollup(spark, sf_dir):
    """Per-month HLL distinct-customer sketches merged into the grand
    total without rescanning history. r7: runs the PORTABLE-hash HLL
    (analytics.hll_portable_rollup — md5-derived registers, the
    MinHash/SimHash oracle trick applied to the last sketch family) so
    the estimate is replayed exactly by the DuckDB twin; Datasketches
    hll_rollup stays the scale default (accuracy-equivalence pytest in
    tests/test_approx_ops.py)."""
    return analytics.hll_portable_rollup(_t(spark, sf_dir, "orders"))


@register("udf_grouped_map_interarrival", """
WITH us AS (
  -- truncate to microseconds: the engine reads this TIMESTAMP(NANOS)
  -- column as micros (nanosAsLong div 1000), DuckDB keeps nanos
  SELECT user_id, epoch_ns(ts) // 1000 AS t_us FROM events),
g AS (
  SELECT user_id,
         t_us - lag(t_us) OVER (PARTITION BY user_id ORDER BY t_us)
           AS gap_us
  FROM us)
SELECT user_id, count(*) AS n_events,
       quantile_cont(gap_us, 0.5) AS median_gap_us,
       max(gap_us) AS max_gap_us
FROM g GROUP BY user_id
""")
def q_udf_grouped_map_interarrival(spark, sf_dir):
    """Grouped-MAP applyInPandas (one pandas frame per user in/out) —
    the 4th and last pandas-UDF extension point, oracle-checked
    against the relational lag+quantile formulation."""
    return analytics.interarrival_grouped_map(_t(spark, sf_dir, "events"))


@register("text_encode_ids", """
WITH tok0 AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), t -> t <> '')
           AS toks
  FROM documents),
vocab AS (
  SELECT term,
         CAST(row_number() OVER (ORDER BY count(*) DESC, term)
              AS INTEGER) AS tid
  FROM (SELECT unnest(toks) AS term FROM tok0) GROUP BY term),
pos AS (
  SELECT doc_id, len(toks) AS n_tokens, unnest(toks) AS term,
         generate_subscripts(toks, 1) AS pos
  FROM tok0)
SELECT doc_id, n_tokens, list(tid ORDER BY pos) AS token_ids
FROM pos JOIN vocab USING (term)
GROUP BY doc_id, n_tokens
""")
def q_text_encode_ids(spark, sf_dir):
    """Vocabulary-id encoding of every document (frequency-ranked
    vocab broadcast into the posexploded token stream — cf.
    operators/text.py:encode_token_ids)."""
    return text.encode_token_ids(_t(spark, sf_dir, "documents"))


@register("multimodal_resize", """
SELECT doc_id, 'image/fake' AS media_type,
       64 AS width, 64 AS height,
       md5(text || ':64x64') AS resized_md5
FROM documents
""")
def q_multimodal_resize(spark, sf_dir):
    """Image-resize plumbing over binary payloads via Arrow-batched
    mapInPandas (decode/resample stubbed deterministically — no media
    libs in this container; batch shape and schema are real). The
    fake digest md5(payload + ':WxH') over ASCII-text payloads is
    byte-equal to a VARCHAR md5, so the oracle pins it exactly."""
    docs = _t(spark, sf_dir, "documents")
    return multimodal.resize_images(multimodal.attach_payload(docs))


@register("image_resize_real", """
WITH dims AS (
  SELECT doc_id, 8 + doc_id % 9 AS sw, 6 + doc_id % 7 AS sh
  FROM documents),
b AS (
  -- resized raster byte i (16x16x3, row-major RGB): nearest-neighbor
  -- source coords, pixel value from the generative formula
  SELECT d.doc_id, i.i,
         (least(((i.i // 3) % 16) * d.sw // 16, d.sw - 1) * 7
          + least((i.i // 48) * d.sh // 16, d.sh - 1) * 13
          + (i.i % 3) * 31 + d.doc_id) % 256 AS v
  FROM dims d CROSS JOIN generate_series(0, 767) AS i(i))
SELECT doc_id, TRUE AS decode_ok, 16 AS width, 16 AS height,
       md5(string_agg(printf('%02x', v), '' ORDER BY i)) AS resized_md5
FROM b GROUP BY doc_id
""")
def q_image_resize_real(spark, sf_dir):
    """REAL nearest-neighbor resize: decode the generated PPMs and
    resample actual pixels (multimodal.py:resize_images_real); digests
    are pinned exactly in tests/test_multimodal_decode.py. The oracle
    recomputes every resized pixel symbolically (nearest-sampled
    generative formula) and digests the same lowercase-hex rendering —
    an independent end-to-end check of decode + resample."""
    docs = _t(spark, sf_dir, "documents")
    return multimodal.resize_images_real(
        multimodal.attach_image_payload(docs))


@register("w_value_functions", """
SELECT event_id, user_id, value,
       first_value(value) OVER w_all AS first_value,
       last_value(value) OVER w_all AS last_value,
       nth_value(value, 3) OVER w_all AS third_value,
       round(percent_rank() OVER w_ord, 6) AS pct_rank,
       round(cume_dist() OVER w_ord, 6) AS cume
FROM events
WINDOW
  w_ord AS (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000, event_id),
  w_all AS (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""")
def q_w_value_functions(spark, sf_dir):
    """Window value-function family (first/last/nth value,
    percent_rank, cume_dist) in ONE window spec — single shuffle+sort
    (cf. operators/windows.py:value_functions)."""
    return windows.value_functions(_t(spark, sf_dir, "events"))


@register("setop_except_all", """
SELECT o_custkey FROM orders WHERE o_orderstatus <> 'F'
EXCEPT ALL
SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
""")
def q_setop_except_all(spark, sf_dir):
    """EXCEPT ALL (bag semantics — per-key multiplicity subtraction),
    completing the set-op family next to the distinct variants."""
    orders = _t(spark, sf_dir, "orders")
    return (orders.where(F.col("o_orderstatus") != "F")
            .select("o_custkey")
            .exceptAll(orders.where(F.col("o_orderpriority") == "1-URGENT")
                       .select("o_custkey")))


@register("setop_intersect_all", """
SELECT o_custkey FROM orders WHERE o_orderstatus <> 'F'
INTERSECT ALL
SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
""")
def q_setop_intersect_all(spark, sf_dir):
    """INTERSECT ALL (bag semantics — min of per-key multiplicities)."""
    orders = _t(spark, sf_dir, "orders")
    return (orders.where(F.col("o_orderstatus") != "F")
            .select("o_custkey")
            .intersectAll(orders.where(F.col("o_orderpriority") == "1-URGENT")
                          .select("o_custkey")))


@register("udf_cogroup_asof", """
WITH us AS (
  SELECT event_id, user_id, event_type, value,
         epoch_ns(ts) // 1000 AS t_us
  FROM events),
v AS (SELECT user_id, t_us, event_id, value FROM us
      WHERE event_type = 'view'),
p AS (SELECT event_id, user_id, t_us FROM us
      WHERE event_type = 'purchase')
SELECT p.event_id, p.user_id, p.t_us AS purchase_us,
       (SELECT v.event_id FROM v
        WHERE v.user_id = p.user_id AND v.t_us <= p.t_us
        ORDER BY v.t_us DESC, v.event_id DESC LIMIT 1) AS view_event_id,
       (SELECT v.value FROM v
        WHERE v.user_id = p.user_id AND v.t_us <= p.t_us
        ORDER BY v.t_us DESC, v.event_id DESC LIMIT 1) AS view_value
FROM p
""")
def q_udf_cogroup_asof(spark, sf_dir):
    """Cogrouped applyInPandas as-of attribution (pd.merge_asof per
    user) — the cogroup pandas extension point, oracle-checked against
    the relational as-of semantics (cf. temporal.cogroup_asof_pandas;
    the hot-path variant is asof_join_events)."""
    from s3_elasticsearch_data_pipeline_spark.operators.temporal import (
        cogroup_asof_pandas)
    events = _t(spark, sf_dir, "events")
    purchases = (events.where(F.col("event_type") == "purchase")
                 .select("event_id", "user_id", "ts"))
    views = (events.where(F.col("event_type") == "view")
             .select("user_id", "ts", "event_id", "value"))
    return cogroup_asof_pandas(purchases, views)


@register("stream_sliding_agg", """
WITH starts AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS ws, event_type, value
  FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes',
         event_type, value
  FROM events)
SELECT ws AS window_start, ws + INTERVAL '60 minutes' AS window_end,
       event_type, count(*) AS n,
       CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS total_value
FROM starts GROUP BY 1, 2, 3
""")
def q_stream_sliding_agg(spark, sf_dir):
    """Streaming sliding-window (60/30) aggregate driven to completion
    over the bounded events table — same oracle as the batch sliding
    twin (w_sliding_agg)."""
    import os
    return stream_windowed.stream_sliding_agg(
        spark, os.path.join(sf_dir, "events.parquet"), 60, 30)


@register("vocab_top_p_coverage", """
WITH v AS (
  SELECT term, count(*) AS n_occ
  FROM (SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
                                  t -> t <> '')) AS term
        FROM documents)
  GROUP BY term),
t AS (SELECT sum(n_occ) AS total FROM v),
c AS (SELECT term, n_occ,
             sum(n_occ) OVER (ORDER BY n_occ DESC, term
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             row_number() OVER (ORDER BY n_occ DESC, term) AS rank
      FROM v)
SELECT rank, term, n_occ,
       round(CAST(cum AS DOUBLE) / total, 6) AS cum_share
FROM c, t WHERE CAST(cum - n_occ AS DOUBLE) < 0.9 * total
""")
def q_vocab_top_p_coverage(spark, sf_dir):
    """Top-p (nucleus) vocabulary truncation: frequency-ranked prefix
    covering 90% of token mass (cf. operators/text.py:vocab_top_p)."""
    return text.vocab_top_p(_t(spark, sf_dir, "documents"))


@register("sql_recursive_cte", """
WITH RECURSIVE walk(node, anc, depth) AS (
  SELECT c_custkey, c_custkey, 0 FROM customer
  WHERE c_custkey BETWEEN 1 AND 127
  UNION ALL
  SELECT node, anc // 2, depth + 1 FROM walk WHERE anc > 1)
SELECT node, max(depth) AS depth_to_root, count(*) AS n_ancestors
FROM walk GROUP BY node
""")
def q_sql_recursive_cte(spark, sf_dir):
    """Recursive CTE (Spark 4): ancestor walk up the implicit binary
    hierarchy parent(n)=n div 2 — iterative transitive closure the
    engine runs natively in SQL (the same shape the connected-
    components oracle unrolls by hand)."""
    from s3_elasticsearch_data_pipeline_spark.tables import register_views
    register_views(spark, sf_dir, ("customer",))
    return spark.sql("""
        WITH RECURSIVE walk(node, anc, depth) AS (
          SELECT c_custkey, c_custkey, 0 FROM customer
          WHERE c_custkey BETWEEN 1 AND 127
          UNION ALL
          SELECT node, anc DIV 2, depth + 1 FROM walk WHERE anc > 1)
        SELECT node, max(depth) AS depth_to_root, count(*) AS n_ancestors
        FROM walk GROUP BY node""")


@register("json_variant_pack", """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT))
            AS BIGINT) AS sum_k,
       count(*) FILTER (WHERE CAST(json_extract(props, '$.k') AS BIGINT)
                        > 50) AS n_high
FROM events GROUP BY event_type
""")
def q_json_variant_pack(spark, sf_dir):
    """Semi-structured VARIANT path (Spark 4): parse_json once, typed
    variant_get extraction — the engine-native JSON column story
    (vs get_json_object string re-parsing in json_extraction)."""
    ev = _t(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'long')")
    return (ev.select("event_type", k.alias("__k"))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("__k").alias("sum_k"),
                 F.count_if(F.col("__k") > 50).alias("n_high")))


@register("sql_parameterized", """
SELECT o_orderstatus, count(*) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY o_orderstatus
""")
def q_sql_parameterized(spark, sf_dir):
    """Named-parameter SQL — the injection-safe replacement for the
    reference's f-string WHERE clauses (ID-based-transfer.py:161,
    184-187): values bind as literals through the parser, never by
    string concatenation; the IN-list binds as an array parameter."""
    from s3_elasticsearch_data_pipeline_spark.tables import register_views
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """SELECT o_orderstatus, count(*) AS n_orders
           FROM orders
           WHERE o_orderdate >= CAST(:lo AS TIMESTAMP)
             AND o_orderdate < CAST(:hi AS TIMESTAMP)
             AND array_contains(:prios, o_orderpriority)
           GROUP BY o_orderstatus""",
        args={"lo": "1996-01-01", "hi": "1997-01-01",
              "prios": ["1-URGENT", "2-HIGH"]})


@register("text_sentence_split", """
WITH s AS (
  SELECT doc_id,
         list_filter(list_transform(
           string_split_regex(text, '[.!?]+\\s+|[.!?]+$'),
           x -> trim(x)), x -> x <> '') AS sents
  FROM documents),
x AS (
  SELECT doc_id, unnest(sents) AS sentence,
         generate_subscripts(sents, 1) - 1 AS sent_idx
  FROM s)
SELECT doc_id, sent_idx, sentence,
       len(list_filter(string_split_regex(sentence, '\\s+'), t -> t <> ''))
         AS n_tokens
FROM x
""")
def q_text_sentence_split(spark, sf_dir):
    """Regex sentence segmentation with position + token count — the
    chunking granularity between whole-doc and fixed-token windows
    (cf. operators/text.py:sentence_split)."""
    return text.sentence_split(_t(spark, sf_dir, "documents"))


@register("rfm_segmentation", """
WITH pc AS (
  SELECT o_custkey, max(o_orderdate) AS last_order, count(*) AS n_orders,
         sum(CAST(o_totalprice AS DECIMAL(18,4))) AS spend
  FROM orders GROUP BY o_custkey),
sc AS (
  SELECT o_custkey,
         ntile(5) OVER (ORDER BY last_order DESC, o_custkey) AS r_score,
         ntile(5) OVER (ORDER BY n_orders DESC, o_custkey) AS f_score,
         ntile(5) OVER (ORDER BY spend DESC, o_custkey) AS m_score
  FROM pc)
SELECT o_custkey, r_score, f_score, m_score,
       CASE WHEN r_score <= 2 AND f_score <= 2 AND m_score <= 2
              THEN 'champion'
            WHEN f_score <= 2 AND m_score <= 3 THEN 'loyal'
            WHEN r_score >= 4 THEN 'at_risk'
            ELSE 'other' END AS segment
FROM sc
""")
def q_rfm_segmentation(spark, sf_dir):
    """RFM quintile segmentation of customers (recency / frequency /
    exact-decimal monetary), deterministic tie-breaks
    (cf. operators/analytics.py:rfm_segmentation)."""
    return analytics.rfm_segmentation(_t(spark, sf_dir, "orders"))


@register("agg_mom_growth", """
WITH m AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS n_orders,
         sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
  FROM orders GROUP BY 1)
SELECT month, n_orders,
       CAST(round(rev, 2) AS DOUBLE) AS revenue,
       round((CAST(rev AS DOUBLE) - CAST(lag(rev) OVER (ORDER BY month)
                                         AS DOUBLE))
             / CAST(lag(rev) OVER (ORDER BY month) AS DOUBLE) * 100.0, 4)
         AS mom_growth_pct
FROM m
""")
def q_agg_mom_growth(spark, sf_dir):
    """Month-over-month revenue growth: lag window over the monthly
    decimal-exact rollup (cf. operators/analytics.py:mom_growth)."""
    return analytics.mom_growth(_t(spark, sf_dir, "orders"))


@register("text_stemming", """
WITH tok AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                            t -> t <> '')) AS term
  FROM documents),
st AS (
  SELECT term,
         CASE WHEN regexp_matches(term, '^[a-z]{3,}ing$')
                THEN regexp_replace(term, 'ing$', '')
              WHEN regexp_matches(term, '^[a-z]{3,}ed$')
                THEN regexp_replace(term, 'ed$', '')
              WHEN regexp_matches(term, '^[a-z]{2,}es$')
                THEN regexp_replace(term, 'es$', '')
              WHEN regexp_matches(term, '^[a-z]{2,}s$')
                   AND NOT regexp_matches(term, 'ss$')
                THEN regexp_replace(term, 's$', '')
              ELSE term END AS stem
  FROM tok)
SELECT stem, count(*) AS n_occurrences,
       count(DISTINCT term) AS n_surface_forms
FROM st GROUP BY stem
""")
def q_text_stemming(spark, sf_dir):
    """Porter-lite suffix stripping with surface-form collapse counts
    (cf. operators/text.py:stem_terms)."""
    return text.stem_terms(_t(spark, sf_dir, "documents"))


@register("agg_mode", """
WITH c AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
  FROM events GROUP BY 1, 2),
r AS (
  SELECT event_type, day, n,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY n DESC, day) AS rk
  FROM c)
SELECT event_type, day AS modal_day, n AS n_on_modal_day
FROM r WHERE rk = 1
""")
def q_agg_mode(spark, sf_dir):
    """Deterministic mode (most frequent day per event type): count +
    rank with an explicit tie-break — the builtin ``mode()`` breaks
    ties arbitrarily, so the engine's canonical mode is this
    composable, reproducible form."""
    from pyspark.sql.window import Window
    ev = _t(spark, sf_dir, "events")
    c = (ev.groupBy("event_type", F.to_date("ts").alias("day"))
         .agg(F.count(F.lit(1)).alias("n")))
    w = Window.partitionBy("event_type").orderBy(F.col("n").desc(), "day")
    return (c.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1)
            .select("event_type", F.col("day").alias("modal_day"),
                    F.col("n").alias("n_on_modal_day")))


@register("outlier_mad", """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type),
dev AS (
  SELECT e.event_type, e.value, med, abs(e.value - med) AS ad
  FROM events e JOIN med USING (event_type)),
mad AS (
  SELECT event_type, any_value(med) AS med,
         quantile_cont(ad, 0.5) AS mad
  FROM dev GROUP BY event_type)
SELECT d.event_type,
       round(any_value(m.med), 4) AS median_value,
       round(any_value(m.mad), 4) AS mad,
       count(*) AS n_rows,
       count(*) FILTER (WHERE d.ad > 3.0 * 1.4826 * m.mad) AS n_outliers
FROM dev d JOIN mad m ON d.event_type = m.event_type
GROUP BY d.event_type
""")
def q_outlier_mad(spark, sf_dir):
    """Median-absolute-deviation robust outliers per event type — the
    resistant twin of outlier_zscore (cf. analytics.outlier_mad)."""
    return analytics.outlier_mad(_t(spark, sf_dir, "events"))


@register("events_heatmap", """
SELECT isodow(ts) AS dow, extract(hour FROM ts) AS hour,
       count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE)
         AS total_value
FROM events GROUP BY 1, 2
""")
def q_events_heatmap(spark, sf_dir):
    """Hour-of-day × ISO-weekday activity matrix (the ops dashboard
    heatmap) — one aggregate, 168-cell output regardless of scale.
    Spark weekday() is 0=Monday; +1 aligns with ISO dow."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy((F.weekday("ts") + 1).alias("dow"),
                       F.hour("ts").alias("hour"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum(F.col("value").cast("decimal(12,2)")), 2)
                  .cast("double").alias("total_value")))


@register("basket_top_pairs", """
WITH pairs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey)
SELECT p1, p2, count(*) AS n_orders_together
FROM pairs GROUP BY p1, p2
ORDER BY n_orders_together DESC, p1, p2 LIMIT 20
""")
def q_basket_top_pairs(spark, sf_dir):
    """Market-basket top pairs: parts most often bought in the same
    order — the co-purchase self-join counted per pair, top-k as
    TakeOrdered (per-partition heaps, no global sort). Basket sizes
    bound the pair blow-up (choose-2 per order, not table-squared)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").alias("p1"))
    b = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").alias("p2"))
    return (a.join(b, "ok").where(F.col("p1") < F.col("p2"))
            .groupBy("p1", "p2")
            .agg(F.count(F.lit(1)).alias("n_orders_together"))
            .orderBy(F.col("n_orders_together").desc(), "p1", "p2")
            .limit(20))


@register("event_transitions", """
WITH us AS (
  SELECT user_id, event_type, epoch_ns(ts) // 1000 AS t_us, event_id
  FROM events),
seq AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY t_us, event_id) AS to_type
  FROM us)
SELECT from_type, to_type, count(*) AS n_transitions
FROM seq WHERE to_type IS NOT NULL
GROUP BY from_type, to_type
""")
def q_event_transitions(spark, sf_dir):
    """First-order event-type transition matrix (Markov counts): lead
    window per user ordered by time — one shuffle on user, 25-cell
    output regardless of scale. The sequence-analytics primitive
    behind funnel and next-action models."""
    from pyspark.sql.window import Window
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (ev.select(F.col("event_type").alias("from_type"),
                      F.lead("event_type").over(w).alias("to_type"))
            .where(F.col("to_type").isNotNull())
            .groupBy("from_type", "to_type")
            .agg(F.count(F.lit(1)).alias("n_transitions")))


@register("fulfillment_latency", """
WITH lat AS (
  SELECT o_orderpriority,
         date_diff('day', o_orderdate, l_shipdate) AS days
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
SELECT o_orderpriority, count(*) AS n_lines,
       round(CAST(sum(days) AS DOUBLE) / count(*), 4) AS avg_days,
       quantile_cont(days, 0.5) AS p50_days,
       quantile_cont(days, 0.95) AS p95_days,
       max(days) AS max_days
FROM lat GROUP BY o_orderpriority
""")
def q_fulfillment_latency(spark, sf_dir):
    """Order→ship latency distribution per priority: integer day
    deltas (exact sums — no float accumulation), exact percentiles.
    The operational-SLA rollup shape."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    days = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .select("o_orderpriority", days.alias("days"))
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_lines"),
                 F.round(F.sum("days").cast("double")
                         / F.count(F.lit(1)), 4).alias("avg_days"),
                 F.percentile(F.col("days"), F.lit(0.5)).alias("p50_days"),
                 F.percentile(F.col("days"), F.lit(0.95)).alias("p95_days"),
                 F.max("days").alias("max_days")))


@register("text_term_pmi", """
WITH dt AS (
  SELECT DISTINCT doc_id, unnest(list_distinct(
           list_filter(string_split_regex(text, '\\s+'), t -> t <> '')))
         AS term
  FROM documents),
nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
tf AS (SELECT term, count(*) AS df FROM dt GROUP BY term),
pairs AS (
  SELECT a.term AS t1, b.term AS t2, count(*) AS co_df
  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term)
SELECT t1, t2, co_df,
       round(ln((CAST(co_df AS DOUBLE) * nd.n_docs)
                / (CAST(f1.df AS DOUBLE) * f2.df)), 6) AS pmi
FROM pairs JOIN tf f1 ON t1 = f1.term
           JOIN tf f2 ON t2 = f2.term, nd
WHERE co_df >= 50
""")
def q_text_term_pmi(spark, sf_dir):
    """Pointwise mutual information of term pairs co-occurring in the
    same document — the co-occurrence statistic under word-embedding /
    collocation mining. Distinct (doc, term) pairs self-join on doc
    (bounded: distinct-terms-per-doc choose 2); marginals broadcast;
    fixed-shape ln expression (engines' ln agree on identical
    doubles)."""
    from s3_elasticsearch_data_pipeline_spark.functions.textfns import tokens
    docs = _t(spark, sf_dir, "documents")
    dt = (docs.select("doc_id",
                      F.explode(F.array_distinct(tokens(F.col("text"))))
                      .alias("term"))
          .distinct().localCheckpoint(eager=False))
    nd = F.broadcast(docs.agg(F.count_distinct("doc_id").alias("n_docs")))
    tf = dt.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    a = dt.select(F.col("doc_id").alias("d"), F.col("term").alias("t1"))
    b = dt.select(F.col("doc_id").alias("d"), F.col("term").alias("t2"))
    pairs = (a.join(b, "d").where(F.col("t1") < F.col("t2"))
             .groupBy("t1", "t2").agg(F.count(F.lit(1)).alias("co_df"))
             .where(F.col("co_df") >= 50))
    f1 = tf.select(F.col("term").alias("t1"), F.col("df").alias("df1"))
    f2 = tf.select(F.col("term").alias("t2"), F.col("df").alias("df2"))
    return (pairs.join(F.broadcast(f1), "t1").join(F.broadcast(f2), "t2")
            .crossJoin(nd)
            .select("t1", "t2", "co_df",
                    F.round(F.log((F.col("co_df").cast("double")
                                   * F.col("n_docs"))
                                  / (F.col("df1").cast("double")
                                     * F.col("df2"))), 6).alias("pmi")))


@register("embedding_pca_project", None)  # eigensolver-specific → rows-only
def q_embedding_pca_project(spark, sf_dir):
    """Two-phase distributed PCA (per-partition moment matrices →
    driver eigh → broadcast literal components → JVM-side projection);
    variance ordering and sign determinism pytest-verified
    (cf. operators/similarity.py:pca_project)."""
    return similarity.pca_project(_t(spark, sf_dir, "embeddings"))


@register("stream_static_enrich", """
SELECT c_mktsegment AS segment, count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS total_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
""")
def q_stream_static_enrich(spark, sf_dir):
    """Stream-static broadcast enrichment join + per-segment aggregate —
    the query-time form of the reference's load-time denormalization
    (every ES doc carries its dim fields,
    ``data-s3-elastic-transfer.py:154-186``). Stateless join (static
    side rebroadcast per micro-batch), state bounded by segment
    cardinality (cf. streaming/windowed.py:stream_static_enrich)."""
    from s3_elasticsearch_data_pipeline_spark.tables import table_path
    return stream_windowed.stream_static_enrich(
        spark, table_path(sf_dir, "events"),
        _t(spark, sf_dir, "customer"))


@register("agg_approx_quantiles", None)  # sketch-specific → rows-only
def q_agg_approx_quantiles(spark, sf_dir):
    """Approximate percentiles per group via Spark's built-in
    Greenwald-Khanna sketch (``percentile_approx``): mergeable
    fixed-size per-partition state, one narrow shuffle of sketches —
    the scale path when the exact interpolated percentiles
    (``agg_percentiles``) would need a full sort. Accuracy vs the
    exact answer is pytest-bounded (tests/test_approx_ops.py)."""
    li = _t(spark, sf_dir, "lineitem")
    acc = 10_000
    return (li.groupBy("l_returnflag")
            .agg(*[F.round(F.percentile_approx("l_extendedprice",
                                               p, acc), 2)
                   .alias(f"p{int(p * 100)}")
                   for p in (0.5, 0.9, 0.99)],
                 F.count(F.lit(1)).alias("n")))


@register("multimodal_audio_chunks", """
WITH p AS (SELECT doc_id, text, length(text) AS n FROM documents),
c AS (
  -- window 32 B / hop 16 B at 16 kHz * 2 B: chunk count is
  -- ceil(max(n-32,0)/16)+1 (range() excludes its stop); a zero-length
  -- payload yields NO chunks (the operator breaks on the first empty
  -- window), not one empty chunk
  SELECT doc_id, text, n,
         unnest(range(0, (greatest(n - 32, 0) + 15) // 16 + 1))
           AS chunk_index
  FROM p WHERE n > 0),
o AS (SELECT doc_id, text, n, chunk_index, chunk_index * 16 AS off FROM c)
SELECT doc_id, CAST(chunk_index AS INT) AS chunk_index,
       off / 32.0 AS start_ms,
       (off + least(32, n - off)) / 32.0 AS end_ms,
       CAST(least(32, n - off) AS BIGINT) AS n_chunk_bytes,
       md5(substr(text, off + 1, 32)) AS chunk_md5
FROM o
""")
def q_multimodal_audio_chunks(spark, sf_dir):
    """Sliding-window audio chunking over opaque binary payloads
    (overlapping windows, window > hop) via Arrow-batched mapInPandas —
    completes the modality set next to image resize and video frame
    sampling; decode stubbed, plumbing real
    (cf. operators/multimodal.py:chunk_audio). ASCII-text payloads
    make every chunk a substring, so offsets, sizes, timestamps and
    digests all oracle exactly."""
    docs = _t(spark, sf_dir, "documents")
    return multimodal.chunk_audio(
        multimodal.attach_payload(docs, media_type="audio/fake"))


@register("agg_countmin_heavy_hitters", """
WITH r AS (SELECT CAST(user_id AS BIGINT) AS k FROM events),
grid AS (
  SELECT row, bucket, count(*) AS c FROM (
    SELECT 0 AS row, ((1*k+7)  % 2147483647) % 64 AS bucket FROM r
    UNION ALL SELECT 1, ((3*k+10) % 2147483647) % 64 FROM r
    UNION ALL SELECT 2, ((5*k+13) % 2147483647) % 64 FROM r
    UNION ALL SELECT 3, ((7*k+16) % 2147483647) % 64 FROM r) g
  GROUP BY row, bucket),
top AS (
  SELECT k, count(*) AS true_count FROM r GROUP BY k
  ORDER BY true_count DESC, k LIMIT 20),
probes AS (
  SELECT k, true_count, 0 AS row, ((1*k+7)  % 2147483647) % 64 AS bucket FROM top
  UNION ALL SELECT k, true_count, 1, ((3*k+10) % 2147483647) % 64 FROM top
  UNION ALL SELECT k, true_count, 2, ((5*k+13) % 2147483647) % 64 FROM top
  UNION ALL SELECT k, true_count, 3, ((7*k+16) % 2147483647) % 64 FROM top)
SELECT p.k AS user_id, p.true_count, min(g.c) AS cms_estimate
FROM probes p JOIN grid g ON p.row = g.row AND p.bucket = g.bucket
GROUP BY p.k, p.true_count
""")
def q_agg_countmin_heavy_hitters(spark, sf_dir):
    """Count-min-sketch heavy hitters as relational algebra: the d×w
    counter grid is ONE hash aggregate (posexplode fan-out, mergeable
    cell-wise at 100 TB), estimates are min-over-d probes. Arithmetic
    Carter-Wegman hashes keep it bit-for-bit oracle-checkable
    (cf. operators/analytics.py:countmin_heavy_hitters)."""
    return analytics.countmin_heavy_hitters(_t(spark, sf_dir, "events"))


@register("source_orc_roundtrip", """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE)
         AS sum_qty
FROM lineitem GROUP BY l_returnflag, l_linestatus
""")
def q_source_orc_roundtrip(spark, sf_dir):
    """ORC sink+source roundtrip — Spark's second native columnar
    format, same vectorized-scan/pushdown properties as parquet;
    proves the engine is storage-format agnostic at the source API
    (cf. sources/formats.py:write_orc)."""
    import tempfile
    from s3_elasticsearch_data_pipeline_spark.sources import formats
    subset = (_t(spark, sf_dir, "lineitem")
              .select("l_orderkey", "l_returnflag", "l_linestatus",
                      "l_quantity"))
    out = tempfile.mkdtemp(prefix="src_orc_")
    formats.write_orc(subset, out)
    back = formats.read_orc(spark, out)
    return (back.groupBy("l_returnflag", "l_linestatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum(F.col("l_quantity").cast("decimal(18,4)")), 2)
                  .cast("double").alias("sum_qty")))


@register("dataset_shuffle", """
WITH s AS (
  SELECT doc_id,
         CAST((((doc_id % 2147483647) * 506952114 + 11) % 2147483647) % 16 AS INTEGER)
           AS shard,
         md5(CAST(doc_id AS VARCHAR)) AS order_key
  FROM documents)
SELECT doc_id, shard,
       row_number() OVER (PARTITION BY shard ORDER BY order_key, doc_id) - 1
         AS pos
FROM s
""")
def q_dataset_shuffle(spark, sf_dir):
    """Deterministic global corpus shuffle: arithmetic-hash shard +
    md5-ordered position within shard — the randomization step before
    sequence packing; one shuffle, per-shard independent sort, no
    global total order (cf. operators/text.py:dataset_shuffle)."""
    return text.dataset_shuffle(_t(spark, sf_dir, "documents"))


@register("dataset_mixture", """
WITH m AS (
  SELECT doc_id, source,
         ((((doc_id % 2147483647) * 48271 + 7) % 2147483647) % 1000) / 1000.0 AS u,
         CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
                     WHEN 'src2' THEN 0.25 ELSE 0.1 END AS sample_rate
  FROM documents)
SELECT doc_id, source,
       CAST(round(sample_rate, 3) AS DOUBLE) AS sample_rate
FROM m WHERE u < sample_rate
""")
def q_dataset_mixture(spark, sf_dir):
    """Deterministic weighted source mixture (upsample wiki-ish, heavy
    downsample crawl-ish): membership decided per-row by an arithmetic
    id hash — reproducible on any engine/partitioning, unlike
    df.sample (cf. operators/text.py:dataset_mixture)."""
    return text.dataset_mixture(_t(spark, sf_dir, "documents"))


_CURATED_SQL = _REGISTRY["corpus_curation_pipeline"][1]

@register("corpus_training_set", f"""
WITH curated AS ({_CURATED_SQL}),
train AS (SELECT doc_id, source FROM curated WHERE split = 'train'),
mixed AS (
  SELECT doc_id, source,
         ((((doc_id % 2147483647) * 48271 + 7) % 2147483647) % 1000) / 1000.0 AS u,
         CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
                     WHEN 'src2' THEN 0.25 ELSE 0.1 END AS sample_rate
  FROM train),
kept AS (SELECT doc_id, source FROM mixed WHERE u < sample_rate),
sh AS (
  SELECT doc_id, source,
         CAST((((doc_id % 2147483647) * 506952114 + 11) % 2147483647) % 16 AS INTEGER)
           AS shard,
         md5(CAST(doc_id AS VARCHAR)) AS order_key
  FROM kept)
SELECT doc_id, source, shard,
       row_number() OVER (PARTITION BY shard ORDER BY order_key, doc_id) - 1
         AS pos
FROM sh
""")
def q_corpus_training_set(spark, sf_dir):
    """The COMPLETE corpus-to-training-set path in one lazy plan:
    curation (quality filter -> exact dedup -> decontamination ->
    split) -> train slice -> deterministic weighted source mixture ->
    deterministic global shuffle (shard + in-shard position). Each
    stage is the registered operator composed unchanged; the oracle
    splices their SQL twins. This is the layout a sharded training-set
    writer consumes directly."""
    curated = q_corpus_curation_pipeline(spark, sf_dir)
    train = curated.where(F.col("split") == "train")
    mixed = text.dataset_mixture(train.select("doc_id", "source"))
    # r11: shuffle assignment attached inline (see the v2 composer) —
    # the dataset_shuffle self-join on doc_id and its exchange leave
    # the plan; same rows (doc_id unique post-dedup, same shared
    # expressions, same window rank).
    from pyspark.sql.window import Window
    shard_col, order_key = text.shuffle_assignment_cols()
    w = Window.partitionBy("shard").orderBy("order_key", "doc_id")
    return (mixed.select("doc_id", "source",
                         shard_col.alias("shard"),
                         order_key.alias("order_key"))
            .withColumn("pos",
                        (F.row_number().over(w) - F.lit(1)).cast("long"))
            .select("doc_id", "source", "shard", "pos"))


#: v2 oracle: the v1 spliced chain with the LEARNED-DOMAIN resampling
#: stage (unrolled k-means + per-cell rates + LCG admission) inserted
#: between decontamination and the split/mixture tail.
_TRAINING_SET_V2_SQL = f"""{_kmeans_cte_sql(8)},
assigned AS ({_KMEANS_ASSIGN_CTE.format(vecs='vecs', cents='c2',
                                        qfilter='', take='= 1')}),
tw(cell, t) AS (VALUES {', '.join(f'({c}, 0.125)' for c in range(8))}),
cnt AS (SELECT cell, count(*) AS nc FROM assigned GROUP BY cell),
ratio AS (SELECT cnt.cell, t / nc AS r FROM cnt JOIN tw USING (cell)),
mx AS (SELECT max(r) AS m FROM ratio),
rates AS (SELECT cell, r / m AS rate FROM ratio, mx),
curated AS ({_CURATED_SQL}),
dom AS (
  SELECT c.doc_id, c.source, a.cell
  FROM curated c
  JOIN assigned a ON a.vec_id = c.doc_id
  JOIN rates USING (cell)
  WHERE ((((c.doc_id % 2147483647) * 48271 + 7 + 524287) % 2147483647)
         % 1000) / 1000.0 < rate
    AND c.split = 'train'),
mixed AS (
  SELECT doc_id, source, cell,
         ((((doc_id % 2147483647) * 48271 + 7) % 2147483647) % 1000)
           / 1000.0 AS u,
         CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
                     WHEN 'src2' THEN 0.25 ELSE 0.1 END AS sample_rate
  FROM dom),
kept AS (SELECT doc_id, source, cell FROM mixed WHERE u < sample_rate),
sh AS (
  SELECT doc_id, source, cell,
         CAST((((doc_id % 2147483647) * 506952114 + 11) % 2147483647)
              % 16 AS INTEGER) AS shard,
         md5(CAST(doc_id AS VARCHAR)) AS order_key
  FROM kept)
SELECT doc_id, source, cell, shard,
       row_number() OVER (PARTITION BY shard ORDER BY order_key, doc_id)
         - 1 AS pos
FROM sh
"""


@register("corpus_training_set_v2", _TRAINING_SET_V2_SQL)
def q_corpus_training_set_v2(spark, sf_dir):
    """corpus_training_set with the r8/r9 LEARNED-DOMAIN resampling
    stage spliced in — the full DoReMi-style loop inside the one lazy
    plan: curation (quality -> exact dedup -> decontamination) ->
    domain_reweight on k-means cells over the embedding space
    (uniform target, downsample-only) -> deterministic split -> train
    slice -> weighted source mixture -> global shuffle. Output keeps
    the learned ``cell`` so the training-set writer can audit the
    achieved composition. r10: the domain stage's admission LCG is
    SALTED (ml.DOMAIN_LCG_SALT), so the domain and mixture admissions
    are independent streams by default — joint pass rate is the
    product of the stage rates, not min(rates) as the r9 shared-LCG
    form gave; the spliced oracle adds the same salt literal."""
    from s3_elasticsearch_data_pipeline_spark.operators import ml
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    kept = text.quality_kept_rows(docs)
    surv = (kept.select(F.md5("text").alias("h"), "doc_id")
            .groupBy("h").agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id"))
    contaminated = text.contamination_overlap(docs).select("doc_id")
    # Materialize the curated slice ONCE (lazy local checkpoint, the
    # contamination_overlap discipline): the domain stage, the split,
    # and the final cell join all consume `clean`, and Catalyst does
    # not CSE subtrees across joins — without this each consumer
    # re-executes the whole quality/dedup/decontamination chain
    # (12 replications measured in the r9 flip audit; at 100 TB each
    # is a full corpus scan). The checkpoint is the narrow
    # (doc_id, lang, source) survivor set.
    clean = (kept.select("doc_id", "lang", "source")
             .where(F.col("source") != "src0")
             .join(surv, "doc_id", "left_semi")
             .join(contaminated, "doc_id", "left_anti")
             .localCheckpoint(eager=False))
    dom = ml.domain_reweight(clean, emb, {c: 0.125 for c in range(8)})
    domained = clean.join(dom.select("doc_id", "cell"), "doc_id")
    # r11 (VERDICT item 6, job-chain compression): the split and
    # shuffle stages are pure per-row expressions over doc_id — attach
    # them INLINE (shared expression factories, so this composition
    # and the standalone operators cannot drift) instead of joining
    # their 1:1 projections back on doc_id. Two joins (and their
    # exchange + AQE stage jobs) leave the plan; doc_id is unique
    # here, so inline-filter ≡ the former inner join row-for-row.
    from pyspark.sql.window import Window
    _, split_col = text.split_assignment_cols()
    train = (domained.where(split_col == "train")
             .localCheckpoint(eager=False))
    mixed = text.dataset_mixture(train.select("doc_id", "source"))
    shard_col, order_key = text.shuffle_assignment_cols()
    w = Window.partitionBy("shard").orderBy("order_key", "doc_id")
    return (mixed.select("doc_id", "source")
            .join(train.select("doc_id", "cell"), "doc_id")
            .select("doc_id", "source", "cell",
                    shard_col.alias("shard"),
                    order_key.alias("order_key"))
            .withColumn("pos",
                        (F.row_number().over(w) - F.lit(1)).cast("long"))
            .select("doc_id", "source", "cell", "shard", "pos"))


@register("w_time_range_average", """
SELECT event_id, user_id,
       count(*) OVER w AS n_1h,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w
                  / count(*) OVER w AS DOUBLE), 6) AS avg_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
""")
def q_w_time_range_average(spark, sf_dir):
    """Trailing 1-hour RANGE-frame window (count + decimal-stable avg
    per user) — the time-based frame a rowsBetween cannot express over
    irregular event spacing (cf. operators/windows.py:
    time_range_average)."""
    return windows.time_range_average(_t(spark, sf_dir, "events"))


@register("agg_welch_ttest", """
WITH stats AS (
  SELECT event_type, count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s,
         CAST(sum(CAST(value AS DECIMAL(18,2))
                  * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS q
  FROM events WHERE event_type IN ('purchase', 'click')
  GROUP BY event_type),
a AS (SELECT n AS n_a, s AS s_a, q AS q_a FROM stats
      WHERE event_type = 'purchase'),
b AS (SELECT n AS n_b, s AS s_b, q AS q_b FROM stats
      WHERE event_type = 'click'),
m AS (
  SELECT n_a, n_b,
         s_a / n_a AS m1, s_b / n_b AS m2,
         (q_a - s_a * s_a / n_a) / (n_a - 1) AS v1,
         (q_b - s_b * s_b / n_b) / (n_b - 1) AS v2
  FROM a, b),
f AS (
  SELECT n_a, n_b, m1, m2, v1, v2,
         v1 / n_a + v2 / n_b AS se2
  FROM m)
SELECT 'purchase' AS group_a, 'click' AS group_b, n_a, n_b,
       floor(m1 * 1000000.0 + 0.5) / 1000000.0 AS mean_a,
       floor(m2 * 1000000.0 + 0.5) / 1000000.0 AS mean_b,
       floor(((m1 - m2) / sqrt(se2)) * 1000000.0 + 0.5) / 1000000.0
         AS t_stat,
       floor(((se2 * se2) / ((v1 / n_a) * (v1 / n_a) / (n_a - 1)
                             + (v2 / n_b) * (v2 / n_b) / (n_b - 1)))
             * 1000000.0 + 0.5) / 1000000.0 AS welch_df
FROM f
""")
def q_agg_welch_ttest(spark, sf_dir):
    """Welch's unequal-variance t-test between the purchase and click
    value distributions — the A/B experimentation primitive as one
    moment aggregate + scalar projection; floor-stabilized rounding
    (cf. operators/analytics.py:welch_ttest)."""
    return analytics.welch_ttest(_t(spark, sf_dir, "events"))


@register("agg_chi2_independence", """
WITH cells AS (
  SELECT event_type AS r, isodow(ts) AS c, count(*) AS o
  FROM events GROUP BY 1, 2),
rt AS (SELECT r, sum(o) AS rn FROM cells GROUP BY r),
ct AS (SELECT c, sum(o) AS cn FROM cells GROUP BY c),
n AS (SELECT sum(o) AS nn FROM cells),
scored AS (
  SELECT CAST(floor(((o - CAST(rn * cn AS DOUBLE) / nn)
                     * (o - CAST(rn * cn AS DOUBLE) / nn))
                    / (CAST(rn * cn AS DOUBLE) / nn)
                    * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,6))
           AS contrib
  FROM cells JOIN rt USING (r) JOIN ct USING (c), n),
dof AS (SELECT (count(DISTINCT r) - 1) * (count(DISTINCT c) - 1) AS dof
        FROM cells)
SELECT CAST(sum(contrib) AS DOUBLE) AS chi2, dof.dof, count(*) AS n_cells
FROM scored, dof GROUP BY dof.dof
""")
def q_agg_chi2_independence(spark, sf_dir):
    """Chi-square independence test (event type × ISO weekday): the
    contingency table is one aggregate, marginals re-aggregate the
    cells, per-cell contributions are floor-rounded then summed in
    exact decimal so the statistic is order- and engine-independent
    (cf. operators/analytics.py:chi2_independence)."""
    return analytics.chi2_independence(_t(spark, sf_dir, "events"))


@register("gaps_islands", """
WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
isl AS (
  SELECT user_id, d,
         datediff('day', DATE '1970-01-01', d)
         - row_number() OVER (PARTITION BY user_id ORDER BY d) AS grp
  FROM days),
streaks AS (SELECT user_id, grp, count(*) AS len FROM isl GROUP BY 1, 2)
SELECT user_id, count(*) AS n_streaks, max(len) AS longest_streak,
       CAST(sum(len) AS BIGINT) AS active_days
FROM streaks GROUP BY user_id
""")
def q_gaps_islands(spark, sf_dir):
    """Gaps-and-islands: per-user consecutive-active-day streaks via
    the row_number-difference trick — no self-join, one partitioned
    window over the (user × day) pre-reduction
    (cf. operators/windows.py:activity_islands)."""
    return windows.activity_islands(_t(spark, sf_dir, "events"))


@register("session_paths", """
WITH gapped AS (
  SELECT event_id, user_id, ts, event_type,
         CASE WHEN lag(ts) OVER w IS NULL THEN 1
              WHEN date_diff('second', lag(ts) OVER w, ts) > 1800 THEN 1
              ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sessioned AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM gapped),
stepped AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, session_id
                               ORDER BY ts, event_id) AS step
  FROM sessioned),
paths AS (
  SELECT user_id, session_id,
         string_agg(event_type, '>' ORDER BY step) AS path
  FROM stepped WHERE step <= 5 GROUP BY 1, 2)
SELECT path, count(*) AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT 25
""")
def q_session_paths(spark, sf_dir):
    """Top session navigation paths: ordered event-type sequences
    (first 5 steps of each 30-min session), counted — the clickstream
    path-analysis staple; deterministic path assembly via sort_array
    over (step, type) structs (cf. operators/windows.py:
    session_paths)."""
    return windows.session_paths(_t(spark, sf_dir, "events"))


@register("abc_classification", """
WITH pp AS (
  SELECT l_partkey,
         sum(CAST(l_extendedprice AS DECIMAL(12,2))
             * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS rev
  FROM lineitem GROUP BY l_partkey),
tot AS (SELECT sum(rev) AS tot FROM pp),
c AS (
  SELECT l_partkey, rev,
         floor(CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey) AS DOUBLE)
               / CAST(tot AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS share
  FROM pp, tot)
SELECT l_partkey, CAST(rev AS DOUBLE) AS revenue, share AS cum_share,
       CASE WHEN share <= 0.80 THEN 'A'
            WHEN share <= 0.95 THEN 'B'
            ELSE 'C' END AS abc_class
FROM c
""")
def q_abc_classification(spark, sf_dir):
    """ABC (Pareto 80/95) inventory classification of parts by
    cumulative revenue share — heavy scan is one hash aggregate; the
    ordered window runs over dimension-sized data only
    (cf. operators/analytics.py:abc_classification)."""
    return analytics.abc_classification(_t(spark, sf_dir, "lineitem"))


@register("skyline_pareto", """
SELECT p.p_partkey, p.p_retailprice, p.p_size
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part o
  WHERE o.p_retailprice <= p.p_retailprice AND o.p_size >= p.p_size
    AND (o.p_retailprice < p.p_retailprice OR o.p_size > p.p_size))
""")
def q_skyline_pareto(spark, sf_dir):
    """Pareto-frontier (skyline) query — cheapest-vs-largest
    non-dominated parts. The oracle states dominance as the quadratic
    NOT EXISTS; the engine computes it with a groupBy pre-reduction +
    running-max window over distinct prices
    (cf. operators/analytics.py:skyline_pareto)."""
    return analytics.skyline_pareto(_t(spark, sf_dir, "part"))


@register("agg_higher_moments", """
WITH raw AS (
  SELECT event_type, CAST(value AS DECIMAL(14,2)) AS x FROM events),
pw AS (
  SELECT event_type, x, CAST(x * x AS DECIMAL(18,4)) AS x2 FROM raw),
pw2 AS (
  SELECT event_type, x, x2,
         CAST(CAST(x2 AS DECIMAL(19,4)) * x AS DECIMAL(22,6)) AS x3,
         CAST(CAST(x2 AS DECIMAL(19,4)) * x2 AS DECIMAL(26,8)) AS x4
  FROM pw),
agg AS (
  SELECT event_type, count(*) AS n,
         CAST(sum(x) AS DOUBLE) AS s1, CAST(sum(x2) AS DOUBLE) AS s2,
         CAST(sum(x3) AS DOUBLE) AS s3, CAST(sum(x4) AS DOUBLE) AS s4
  FROM pw2 GROUP BY event_type),
d AS (
  SELECT event_type, n, CAST(n AS DOUBLE) AS nd,
         s1 / CAST(n AS DOUBLE) AS m, s2, s3, s4
  FROM agg),
mm AS (
  SELECT event_type, n, m,
         s2 / nd - m * m AS m2,
         s3 / nd - 3 * m * s2 / nd + 2 * m * m * m AS m3,
         s4 / nd - 4 * m * s3 / nd + 6 * m * m * s2 / nd
           - 3 * m * m * m * m AS m4
  FROM d)
SELECT event_type, n,
       floor(m * 1000000.0 + 0.5) / 1000000.0 AS mean_value,
       floor(sqrt(m2) * 1000000.0 + 0.5) / 1000000.0 AS stddev_pop,
       floor(m3 / (m2 * sqrt(m2)) * 1000000.0 + 0.5) / 1000000.0 AS skewness,
       floor((m4 / (m2 * m2) - 3) * 1000000.0 + 0.5) / 1000000.0
         AS excess_kurtosis
FROM mm
""")
def q_agg_higher_moments(spark, sf_dir):
    """Skewness / excess kurtosis per event type from exact decimal
    power sums — one mergeable hash aggregate, identical scalar double
    math on both engines (cf. operators/analytics.py:higher_moments)."""
    return analytics.higher_moments(_t(spark, sf_dir, "events"))


@register("sketch_bloom_filter", """
WITH build AS (SELECT o_orderkey AS k FROM orders WHERE o_orderstatus = 'F'),
h(a, b) AS (VALUES (3, 11), (5, 16), (7, 21)),
bits AS (
  SELECT ((a * k + b) % 2147483647) % 65536 AS pos FROM build, h),
words AS (
  SELECT pos // 32 AS word,
         bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bitmap
  FROM bits GROUP BY 1),
probe AS (SELECT DISTINCT l_orderkey AS k FROM lineitem),
pb AS (
  SELECT k, ((a * k + b) % 2147483647) % 65536 AS pos FROM probe, h),
pj AS (
  SELECT pb.k,
         CASE WHEN w.bitmap IS NOT NULL
              AND (w.bitmap & (CAST(1 AS BIGINT)
                               << CAST(pos % 32 AS INT))) <> 0
              THEN 1 ELSE 0 END AS bit_ok
  FROM pb LEFT JOIN words w ON pos // 32 = w.word),
hit AS (SELECT k, min(bit_ok) AS bloom_pass FROM pj GROUP BY k),
truth AS (
  SELECT p.k, CASE WHEN EXISTS (SELECT 1 FROM build b WHERE b.k = p.k)
                   THEN 1 ELSE 0 END AS is_member
  FROM probe p)
SELECT bloom_pass, truth.is_member, count(*) AS n_keys
FROM hit JOIN truth ON hit.k = truth.k
GROUP BY 1, 2
""")
def q_sketch_bloom_filter(spark, sf_dir):
    """Bloom-filter runtime-join-filter semantics as relational
    algebra: build a 64Ki-bit / 3-hash filter (32-bit words) over 'F'-status order
    keys (one bit_or aggregate, KBs regardless of cardinality), probe
    every distinct lineitem key, and cross-tabulate bloom verdict vs
    the exact semi-join — false negatives provably zero
    (cf. operators/analytics.py:bloom_filter_probe)."""
    return analytics.bloom_filter_probe(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem"))


@register("timeseries_ohlc", """
WITH b AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket, ts, event_id, value
  FROM events),
r AS (
  SELECT *,
         row_number() OVER (PARTITION BY user_id, bucket
                            ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY user_id, bucket
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM b)
SELECT user_id, bucket,
       max(CASE WHEN rn_a = 1 THEN value END) AS open,
       max(value) AS high, min(value) AS low,
       max(CASE WHEN rn_d = 1 THEN value END) AS close,
       count(*) AS n_events
FROM r GROUP BY 1, 2
""")
def q_timeseries_ohlc(spark, sf_dir):
    """Per-user hourly OHLC resampling — open/close picked under a
    total (ts, event_id) order; both direction windows share one
    shuffle (cf. operators/temporal.py:ohlc_downsample)."""
    from s3_elasticsearch_data_pipeline_spark.operators.temporal import (
        ohlc_downsample)
    return ohlc_downsample(_t(spark, sf_dir, "events"))


@register("timeseries_twa", """
WITH l AS (
  SELECT user_id, ts, event_id, value,
         lag(epoch_us(ts)) OVER w AS prev_t,
         lag(value) OVER w AS prev_v,
         epoch_us(ts) AS t
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
seg AS (
  SELECT user_id, t - prev_t AS dt_us,
         CAST((value + prev_v) / 2 AS DECIMAL(18,6)) AS height
  FROM l WHERE prev_t IS NOT NULL),
agg AS (
  SELECT user_id,
         sum(CAST(CAST(dt_us AS DECIMAL(19,0)) * height AS DECIMAL(38,6)))
           AS area,
         CAST(sum(dt_us) AS BIGINT) AS span_us, count(*) AS n_segments
  FROM seg GROUP BY user_id)
SELECT user_id, n_segments, span_us,
       floor(CAST(area AS DOUBLE) / CAST(span_us AS DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS twa
FROM agg
""")
def q_timeseries_twa(spark, sf_dir):
    """Time-weighted average per user (trapezoidal integral over
    integer-microsecond segments, decimal-stabilized) — the
    irregular-sampling mean the plain avg() gets wrong
    (cf. operators/temporal.py:time_weighted_avg)."""
    from s3_elasticsearch_data_pipeline_spark.operators.temporal import (
        time_weighted_avg)
    return time_weighted_avg(_t(spark, sf_dir, "events"))


def _ewma_oracle(alpha: float = 0.25, n_lags: int = 8) -> str:
    """Mirror of temporal.ewma_smooth: identical left-to-right float
    summation tree with exact-binary weight literals (α=0.25)."""
    def lag(k):
        return ("value" if k == 0
                else f"lag(value, {k}) OVER w")
    terms, wts = [], []
    for k in range(n_lags):
        wt = repr(alpha * (1 - alpha) ** k)
        terms.append(f"CASE WHEN {lag(k)} IS NOT NULL "
                     f"THEN {wt} * {lag(k)} ELSE 0.0 END")
        wts.append(f"CASE WHEN {lag(k)} IS NOT NULL "
                   f"THEN {wt} ELSE 0.0 END")
    num = " + ".join(["0.0"] + terms)
    den = " + ".join(["0.0"] + wts)
    return f"""
SELECT event_id, user_id, value,
       floor(({num}) / ({den}) * 1000000.0 + 0.5) / 1000000.0 AS ewma
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


@register("timeseries_ewma", _ewma_oracle())
def q_timeseries_ewma(spark, sf_dir):
    """Truncated EWMA smoothing per user (8 taps, α=0.25): the
    sequential recurrence re-expressed as one shared window pass with
    an explicit summation tree — bit-identical across engines and
    partitionings (cf. operators/temporal.py:ewma_smooth)."""
    from s3_elasticsearch_data_pipeline_spark.operators.temporal import (
        ewma_smooth)
    return ewma_smooth(_t(spark, sf_dir, "events"))


@register("text_bpe_merge_step", """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS tk
  FROM documents),
pairs AS (
  SELECT unnest(list_slice(tk, 1, len(tk) - 1)) AS left_tok,
         unnest(list_slice(tk, 2, len(tk))) AS right_tok
  FROM toks WHERE len(tk) >= 2)
SELECT left_tok, right_tok, count(*) AS n_pairs
FROM pairs GROUP BY 1, 2
ORDER BY n_pairs DESC, left_tok, right_tok
LIMIT 30
""")
def q_text_bpe_merge_step(spark, sf_dir):
    """One BPE-training merge step: corpus-wide adjacent token-pair
    frequencies via arrays_zip of the token array against its own
    shifted slice — zero shuffles before the pair count
    (cf. operators/text.py:bpe_pair_counts)."""
    return text.bpe_pair_counts(_t(spark, sf_dir, "documents"))


@register("timeseries_cusum", """
WITH sums AS (
  SELECT user_id, sum(CAST(value AS DECIMAL(18,2))) AS s, count(*) AS n
  FROM events GROUP BY user_id),
m AS (
  SELECT user_id,
         floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) * 1000000.0 + 0.5)
           / 1000000.0 AS mean_u
  FROM sums),
path AS (
  SELECT e.user_id, e.ts, e.event_id,
         sum(CAST(e.value - m.mean_u AS DECIMAL(18,6)))
           OVER (PARTITION BY e.user_id ORDER BY e.ts, e.event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
  FROM events e JOIN m ON e.user_id = m.user_id),
dd AS (
  SELECT user_id, cusum,
         max(cusum) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS runmax
  FROM path)
SELECT user_id, count(*) AS n_events,
       CAST(max(cusum) AS DOUBLE) AS max_cusum,
       CAST(min(cusum) AS DOUBLE) AS min_cusum,
       CAST(max(runmax - cusum) AS DOUBLE) AS max_drawdown
FROM dd GROUP BY user_id
""")
def q_timeseries_cusum(spark, sf_dir):
    """Per-user CUSUM drift path + maximum drawdown — change-detection
    statistics with decimal-exact running sums, one user_id shuffle
    (cf. operators/temporal.py:cusum_drawdown)."""
    from s3_elasticsearch_data_pipeline_spark.operators.temporal import (
        cusum_drawdown)
    return cusum_drawdown(_t(spark, sf_dir, "events"))


@register("agg_equidepth_histogram", """
WITH q AS (
  SELECT quantile_cont(l_extendedprice, 0.25) AS q1,
         quantile_cont(l_extendedprice, 0.5) AS q2,
         quantile_cont(l_extendedprice, 0.75) AS q3
  FROM lineitem)
SELECT CASE WHEN l_extendedprice <= q1 THEN 1
            WHEN l_extendedprice <= q2 THEN 2
            WHEN l_extendedprice <= q3 THEN 3
            ELSE 4 END AS bucket,
       count(*) AS n_rows,
       min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
FROM lineitem, q
GROUP BY 1
""")
def q_agg_equidepth_histogram(spark, sf_dir):
    """Equi-depth quartile histogram: exact interpolated boundaries
    (Spark percentile == quantile_cont), broadcast back over the scan
    — no global sort / single-partition ntile
    (cf. operators/analytics.py:equidepth_histogram)."""
    return analytics.equidepth_histogram(_t(spark, sf_dir, "lineitem"))


@register("source_schema_evolution", """
SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END AS o_orderstatus,
       count(*) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
         AS total
FROM orders GROUP BY 1
""")
def q_source_schema_evolution(spark, sf_dir):
    """Schema-drift read: two parquet batches written with different
    column sets (the later batch adds o_orderstatus) unified by
    mergeSchema — missing columns surface as nulls, exactly how a
    100 TB lake absorbs schema evolution without rewriting history.
    The oracle states the same semantics directly over orders."""
    import tempfile
    orders = _t(spark, sf_dir, "orders")
    out = tempfile.mkdtemp(prefix="src_evo_")
    (orders.where(F.col("o_orderkey") % 2 == 0)
     .select("o_orderkey", "o_totalprice")
     .write.mode("overwrite").parquet(f"{out}/b1"))
    (orders.where(F.col("o_orderkey") % 2 == 1)
     .select("o_orderkey", "o_orderstatus", "o_totalprice")
     .write.mode("overwrite").parquet(f"{out}/b2"))
    back = (spark.read.option("mergeSchema", "true")
            .parquet(f"{out}/b1", f"{out}/b2"))
    return (back.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2)
                  .cast("double").alias("total")))


@register("json_malformed_handling", """
WITH lines AS (
  SELECT o_orderkey AS k0,
         '{"k": ' || CAST(o_orderkey AS VARCHAR) || ', "p": ' ||
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR) || '}' AS line0
  FROM orders),
c AS (
  SELECT CASE WHEN k0 % 97 = 0 THEN substring(line0, 1, length(line0) - 1)
              ELSE line0 END AS line
  FROM lines),
p AS (
  SELECT CASE WHEN json_valid(line)
              THEN CAST(json_extract(line, '$.k') AS BIGINT) END AS k,
         CASE WHEN json_valid(line)
              THEN CAST(json_extract(line, '$.p') AS DOUBLE) END AS p
  FROM c)
SELECT count(*) AS n_lines, count(k) AS n_parsed,
       count(*) - count(k) AS n_corrupt,
       CAST(round(sum(CAST(p AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_p
FROM p
""")
def q_json_malformed_handling(spark, sf_dir):
    """Malformed-record tolerance on an NDJSON wire format (the
    reference ships NDJSON to its sink, data-s3-elastic-transfer.py:
    192-196): deterministically corrupt every 97th line, parse with
    from_json (malformed → null), account both populations. The parse
    never aborts the job — the corrupt tail is quarantined, counted,
    and auditable."""
    orders = _t(spark, sf_dir, "orders")
    line0 = F.concat(
        F.lit('{"k": '), F.col("o_orderkey").cast("string"),
        F.lit(', "p": '),
        F.col("o_totalprice").cast("decimal(12,2)").cast("string"),
        F.lit("}"))
    line = F.when(F.col("k0") % 97 == 0,
                  F.expr("substring(line0, 1, length(line0) - 1)")
                  ).otherwise(F.col("line0"))
    parsed = (orders.select(F.col("o_orderkey").alias("k0"),
                            line0.alias("line0"))
              .select(line.alias("line"))
              .select(F.from_json("line", "k long, p double").alias("j"))
              .select(F.col("j.k").alias("k"), F.col("j.p").alias("p")))
    return parsed.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.count("k").alias("n_parsed"),
        (F.count(F.lit(1)) - F.count("k")).alias("n_corrupt"),
        F.round(F.sum(F.col("p").cast("decimal(18,2)")), 2)
         .cast("double").alias("total_p"))


@register("w_distribution_ranks", """
SELECT event_id, event_type, value,
       floor(percent_rank() OVER w * 1000000.0 + 0.5) / 1000000.0
         AS pct_rank,
       floor(cume_dist() OVER w * 1000000.0 + 0.5) / 1000000.0
         AS cume_dist
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
""")
def q_w_distribution_ranks(spark, sf_dir):
    """percent_rank / cume_dist distribution positions per event type
    under a total order (cf. operators/windows.py:
    distribution_ranks)."""
    return windows.distribution_ranks(_t(spark, sf_dir, "events"))


@register("agg_mann_whitney", """
WITH two AS (
  SELECT event_type, value FROM events
  WHERE event_type IN ('purchase', 'click')),
vals AS (
  SELECT value AS v, count(*) AS c,
         count(*) FILTER (WHERE event_type = 'purchase') AS ca
  FROM two GROUP BY value),
ranked AS (
  SELECT v, c, ca,
         sum(c) OVER (ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM vals),
ar AS (
  SELECT ca, c,
         CAST(cum - c + CAST(c + 1 AS DECIMAL(18,1)) / 2 AS DECIMAL(18,1))
           AS avg_rank
  FROM ranked),
agg AS (
  SELECT sum(CAST(ca AS DECIMAL(18,1)) * avg_rank) AS rank_sum_a,
         CAST(sum(ca) AS BIGINT) AS n_a,
         CAST(sum(c - ca) AS BIGINT) AS n_b,
         sum(CAST(c AS DECIMAL(12,0)) * CAST(c AS DECIMAL(12,0))
             * CAST(c AS DECIMAL(12,0)) - CAST(c AS DECIMAL(12,0))) AS ties
  FROM ar)
SELECT n_a, n_b,
       CAST(rank_sum_a AS DOUBLE) AS rank_sum_a,
       CAST(rank_sum_a AS DOUBLE)
         - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1) / 2 AS u_stat,
       floor((CAST(rank_sum_a AS DOUBLE)
              - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1) / 2
              - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2)
             / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12
                    * ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1)
                       - CAST(ties AS DOUBLE)
                         / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                            * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)
                               - 1))))
             * 1000000.0 + 0.5) / 1000000.0 AS z_score
FROM agg
""")
def q_agg_mann_whitney(spark, sf_dir):
    """Mann–Whitney U rank-sum test (tie-corrected normal approx)
    between purchase and click values — rank assignment reduced to
    per-distinct-value counts, exact decimal rank sums
    (cf. operators/analytics.py:mann_whitney_u)."""
    return analytics.mann_whitney_u(_t(spark, sf_dir, "events"))


@register("keyset_pagination", """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100 OFFSET 200
""")
def q_keyset_pagination(spark, sf_dir):
    """Keyset (cursor) pagination — the reference's ES search_after
    scan (ID-based-transfer.py:111-157) as a cursor PREDICATE on the
    total order instead of an OFFSET re-scan; the oracle states the
    OFFSET form, the engine computes the cursor relationally and
    prunes (cf. operators/analytics.py:keyset_page)."""
    return analytics.keyset_page(_t(spark, sf_dir, "orders"))


@register("anomaly_seasonal_baseline", """
WITH base AS (
  SELECT isodow(ts) AS dow, extract(hour FROM ts) AS hour,
         count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s,
         CAST(sum(CAST(CAST(value AS DECIMAL(18,2))
                       * CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,4)))
              AS DOUBLE) AS q
  FROM events GROUP BY 1, 2),
b AS (
  SELECT dow, hour,
         s / CAST(n AS DOUBLE) AS mean_v,
         q / CAST(n AS DOUBLE)
           - (s / CAST(n AS DOUBLE)) * (s / CAST(n AS DOUBLE)) AS var_v
  FROM base),
j AS (
  SELECT b.dow, b.hour, e.value, b.mean_v, b.var_v
  FROM events e
  JOIN b ON isodow(e.ts) = b.dow AND extract(hour FROM e.ts) = b.hour)
SELECT dow, hour, count(*) AS n_events,
       CAST(sum(CASE WHEN (value - mean_v) * (value - mean_v)
                     > 9.0 * var_v THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
       floor(max(mean_v) * 1000000.0 + 0.5) / 1000000.0 AS mean_v,
       floor(max(var_v) * 1000000.0 + 0.5) / 1000000.0 AS var_v
FROM j GROUP BY dow, hour
""")
def q_anomaly_seasonal_baseline(spark, sf_dir):
    """Seasonal-baseline anomaly detection: (weekday × hour) cells get
    decimal-exact mean/variance baselines (168 rows, broadcast back);
    events beyond 3σ of their cell are counted as anomalies
    (cf. operators/analytics.py:seasonal_anomalies)."""
    return analytics.seasonal_anomalies(_t(spark, sf_dir, "events"))


@register("interval_join_grid", """
WITH p AS (
  SELECT user_id, event_id AS purchase_id, epoch(ts) AS p_sec
  FROM events WHERE event_type = 'purchase'),
v AS (
  SELECT user_id, event_id AS view_id, epoch(ts) AS v_sec
  FROM events WHERE event_type = 'view'),
pairs AS (
  SELECT p.user_id, p.purchase_id, v.view_id
  FROM p JOIN v ON p.user_id = v.user_id
   AND v.v_sec >= p.p_sec - 3600 AND v.v_sec < p.p_sec)
SELECT user_id, count(DISTINCT purchase_id) AS n_purchases,
       count(*) AS n_pairs, min(view_id) AS first_view_id
FROM pairs GROUP BY user_id
""")
def q_interval_join_grid(spark, sf_dir):
    """Big-big interval join via time-grid bucketing (equi-join on
    (user, bucket) + exact predicate) — the scale path where neither
    side broadcasts; the oracle states the plain range join
    (cf. operators/temporal.py:interval_join_grid)."""
    from s3_elasticsearch_data_pipeline_spark.operators.temporal import (
        interval_join_grid)
    return interval_join_grid(_t(spark, sf_dir, "events"))


@register("text_bigram_logprob", """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS tk
  FROM documents),
pairs AS (
  SELECT doc_id,
         unnest(list_slice(tk, 1, len(tk) - 1)) AS l,
         unnest(list_slice(tk, 2, len(tk))) AS r
  FROM toks WHERE len(tk) >= 2),
big AS (SELECT l, r, count(*) AS c_pair FROM pairs GROUP BY 1, 2),
lft AS (SELECT l, count(*) AS c_left FROM pairs GROUP BY 1),
lp AS (
  SELECT l, r, CAST(round(ln(c_pair / c_left), 9) AS DECIMAL(18,9)) AS logp
  FROM big JOIN lft USING (l))
SELECT doc_id, count(*) AS n_bigrams,
       round(CAST(-sum(logp) AS DOUBLE) / count(*), 6) AS avg_neg_logprob
FROM pairs JOIN lp USING (l, r)
GROUP BY doc_id
""")
def q_text_bigram_logprob(spark, sf_dir):
    """Bigram-LM quality scores (avg negative conditional log-prob per
    doc) — the context-aware perplexity proxy over the unigram one
    (cf. operators/text.py:bigram_logprob_scores)."""
    return text.bigram_logprob_scores(_t(spark, sf_dir, "documents"))


@register("agg_ks_test", """
WITH two AS (
  SELECT event_type, value FROM events
  WHERE event_type IN ('purchase', 'click')),
vals AS (
  SELECT value AS v,
         count(*) FILTER (WHERE event_type = 'purchase') AS ca,
         count(*) FILTER (WHERE event_type = 'click') AS cb
  FROM two GROUP BY value),
tot AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
               CAST(sum(cb) AS BIGINT) AS n_b FROM vals),
ecdf AS (
  SELECT v,
         sum(ca) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_a,
         sum(cb) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_b
  FROM vals),
scored AS (
  SELECT v,
         abs(CAST(cum_a AS DOUBLE) / CAST(n_a AS DOUBLE)
             - CAST(cum_b AS DOUBLE) / CAST(n_b AS DOUBLE)) AS d,
         n_a, n_b
  FROM ecdf, tot),
peak AS (SELECT max(d) AS ks_raw, max(n_a) AS n_a, max(n_b) AS n_b
         FROM scored),
loc AS (SELECT min(v) AS ks_location FROM scored, peak
        WHERE scored.d = peak.ks_raw)
SELECT n_a, n_b,
       floor(ks_raw * 1000000.0 + 0.5) / 1000000.0 AS ks_stat,
       ks_location,
       CASE WHEN ks_raw > 1.3581015157406195
                 * sqrt((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                        / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))
            THEN 1 ELSE 0 END AS reject_05
FROM peak, loc
""")
def q_agg_ks_test(spark, sf_dir):
    """Two-sample Kolmogorov–Smirnov test (max ECDF gap + location +
    5% decision) between purchase and click values — ECDFs from
    per-distinct-value counts, no per-row ranking
    (cf. operators/analytics.py:ks_test)."""
    return analytics.ks_test(_t(spark, sf_dir, "events"))


@register("stream_ohlc", """
WITH b AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket, ts, event_id, value
  FROM events),
r AS (
  SELECT *,
         row_number() OVER (PARTITION BY user_id, bucket
                            ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY user_id, bucket
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM b)
SELECT user_id, bucket,
       max(CASE WHEN rn_a = 1 THEN value END) AS open,
       max(value) AS high, min(value) AS low,
       max(CASE WHEN rn_d = 1 THEN value END) AS close,
       count(*) AS n_events
FROM r GROUP BY 1, 2
""")
def q_stream_ohlc(spark, sf_dir):
    """Streaming hourly OHLC (tumbling window + min_by/max_by under a
    total order), drained to completion — oracle is the batch resample
    (cf. streaming/windowed.py:stream_ohlc)."""
    from s3_elasticsearch_data_pipeline_spark.tables import table_path
    return stream_windowed.stream_ohlc(
        spark, table_path(sf_dir, "events"))


@register("dataset_weighted_sample", """
WITH keyed AS (
  SELECT doc_id, n_chars,
         ln(CAST((1103515245 * (doc_id % 2147483647) + 12345)
                 % 2147483647 + 1 AS DOUBLE)
            / 2147483648.0) / n_chars AS key
  FROM documents)
SELECT doc_id, n_chars,
       floor(key * 1000000000.0 + 0.5) / 1000000000.0 AS es_key
FROM keyed
ORDER BY key DESC, doc_id
LIMIT 50
""")
def q_dataset_weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling without replacement
    (Efraimidis–Spirakis keys from an arithmetic hash, top-k): the
    reproducible form of probability-proportional-to-length corpus
    selection (cf. operators/text.py:weighted_sample)."""
    return text.weighted_sample(_t(spark, sf_dir, "documents"))


@register("join_null_safe", """
WITH a AS (
  SELECT CASE WHEN user_id % 13 = 0 THEN NULL ELSE user_id END AS k,
         event_id AS pid
  FROM events WHERE event_type = 'purchase'),
b AS (
  SELECT CASE WHEN user_id % 13 = 0 THEN NULL ELSE user_id END AS k,
         event_id AS sid
  FROM events WHERE event_type = 'signup')
SELECT 'equals' AS semantics, count(*) AS n
FROM a JOIN b ON a.k = b.k
UNION ALL
SELECT 'null_safe' AS semantics, count(*) AS n
FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
""")
def q_join_null_safe(spark, sf_dir):
    """Null-safe equality join (<=>) vs plain = on a deterministically
    nulled key — the one-row audit of rows a plain equi-join silently
    drops (cf. operators/diff.py:null_safe_join_counts)."""
    from s3_elasticsearch_data_pipeline_spark.operators.diff import (
        null_safe_join_counts)
    return null_safe_join_counts(_t(spark, sf_dir, "events"))


@register("feature_hashing", """
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(text, '\\s+'),
                            t -> t <> '')) AS term
  FROM documents),
hashed AS (
  SELECT doc_id,
         list_reduce(list_transform(string_split(term, ''),
                                    c -> CAST(ascii(c) AS BIGINT)),
                     (acc, c) -> (acc * 31 + c) % 2147483647) AS h
  FROM tok)
SELECT doc_id, h % 256 AS bucket,
       CAST(sum(CASE WHEN h % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT)
         AS weight
FROM hashed
GROUP BY doc_id, h % 256
HAVING sum(CASE WHEN h % 2 = 0 THEN 1 ELSE -1 END) <> 0
""")
def q_feature_hashing(spark, sf_dir):
    """The hashing trick: tokens → fixed 256-dim signed sparse vectors
    via portable polynomial char hashes; no fitted vocabulary, no
    global state (cf. operators/text.py:feature_hashing)."""
    return text.feature_hashing(_t(spark, sf_dir, "documents"))


@register("feature_onehot_behavior", """
SELECT user_id,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_click,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_purchase,
       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_signup,
       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_view,
       count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS total_value
FROM events GROUP BY user_id
""")
def q_feature_onehot_behavior(spark, sf_dir):
    """Per-user one-hot behavioral feature vector (fixed event-type
    columns + exact totals) — the wide ML-prep frame in one aggregate
    (cf. operators/text.py:onehot_behavior_vectors)."""
    return text.onehot_behavior_vectors(_t(spark, sf_dir, "events"))


@register("text_significant_terms", """
WITH toks AS (
  SELECT doc_id, source,
         unnest(list_distinct(list_filter(
             string_split_regex(lower(text), '\\s+'), t -> t <> '')))
           AS term
  FROM documents),
fg AS (
  SELECT term,
         count(*) FILTER (WHERE source = 'src1') AS df_fg,
         count(*) AS df_bg
  FROM toks GROUP BY term),
tot AS (
  SELECT count(*) FILTER (WHERE source = 'src1') AS n_fg,
         count(*) AS n_bg
  FROM documents)
SELECT term, CAST(df_fg AS BIGINT) AS df_fg, CAST(df_bg AS BIGINT) AS df_bg,
       floor((df_fg / CAST(n_fg AS DOUBLE) - df_bg / CAST(n_bg AS DOUBLE))
             * ((df_fg / CAST(n_fg AS DOUBLE))
                / (df_bg / CAST(n_bg AS DOUBLE)))
             * 1000000.0 + 0.5) / 1000000.0 AS jlh_score
FROM fg, tot
WHERE df_fg >= 3
ORDER BY jlh_score DESC, term
LIMIT 25
""")
def q_text_significant_terms(spark, sf_dir):
    """Significant-terms (JLH) scoring — Elasticsearch's signature
    discovery agg over a foreground slice vs the background corpus
    (cf. operators/text.py:significant_terms)."""
    return text.significant_terms(_t(spark, sf_dir, "documents"))


@register("text_autocomplete_prefix", """
WITH toks AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                            t -> t <> '')) AS term
  FROM documents)
SELECT term, count(*) AS n_occurrences
FROM toks WHERE term LIKE 's%'
GROUP BY term ORDER BY n_occurrences DESC, term
LIMIT 10
""")
def q_text_autocomplete_prefix(spark, sf_dir):
    """Prefix autocomplete suggester: top-k completions by frequency
    (cf. operators/text.py:autocomplete_prefix)."""
    return text.autocomplete_prefix(_t(spark, sf_dir, "documents"))


@register("text_search_highlight", """
SELECT doc_id,
       strpos(lower(text), 'spark') AS first_pos,
       CAST((length(lower(text))
             - length(replace(lower(text), 'spark', ''))) / 5 AS BIGINT)
         AS n_hits,
       substring(text,
                 CAST(greatest(1, strpos(lower(text), 'spark') - 20)
                      AS INT),
                 45) AS snippet
FROM documents
WHERE strpos(lower(text), 'spark') > 0
""")
def q_text_search_highlight(spark, sf_dir):
    """Search-hit highlighting: match position, hit count, context
    snippet per matching doc — the per-hit result decoration the
    reference's ES sink performs (cf. operators/text.py:
    search_highlight)."""
    return text.search_highlight(_t(spark, sf_dir, "documents"))


@register("dq_benford_digits", """
WITH per AS (
  SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT)
                             AS VARCHAR), 1, 1) AS INT) AS digit,
         count(*) AS n
  FROM orders WHERE o_totalprice >= 1
  GROUP BY 1),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM per)
SELECT digit, n,
       floor(CAST(n AS DOUBLE) / CAST(total AS DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS observed_share,
       floor(log10(1 + 1 / CAST(digit AS DOUBLE)) * 1000000.0 + 0.5)
         / 1000000.0 AS benford_share,
       floor(CAST(CAST((CAST(n AS DOUBLE) / CAST(total AS DOUBLE)
                        - log10(1 + 1 / CAST(digit AS DOUBLE)))
                       * (CAST(n AS DOUBLE) / CAST(total AS DOUBLE)
                          - log10(1 + 1 / CAST(digit AS DOUBLE)))
                       / log10(1 + 1 / CAST(digit AS DOUBLE))
                       AS DECIMAL(18,12)) AS DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS chi2_contrib
FROM per, tot
""")
def q_dq_benford_digits(spark, sf_dir):
    """Benford first-digit audit of order totals — the fraud /
    synthetic-data screen as one aggregate + fixed scalar math
    (cf. operators/expectations.py:benford_digit_audit)."""
    from s3_elasticsearch_data_pipeline_spark.operators.expectations import (
        benford_digit_audit)
    return benford_digit_audit(_t(spark, sf_dir, "orders"))


@register("timeseries_decompose", """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         floor(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               / count(*) * 1000000.0 + 0.5) / 1000000.0 AS daily_mean
  FROM events GROUP BY 1),
trend_tbl AS (
  SELECT d,
         floor(CAST(sum(CAST(daily_mean AS DECIMAL(18,6)))
                    OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING
                          AND 3 FOLLOWING) AS DOUBLE)
               / count(*) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING
                                AND 3 FOLLOWING)
               * 1000000.0 + 0.5) / 1000000.0 AS trend
  FROM daily),
base AS (
  SELECT e.event_id, e.value, isodow(e.ts) AS dow,
         extract(hour FROM e.ts) AS hour, t.trend
  FROM events e JOIN trend_tbl t ON CAST(e.ts AS DATE) = t.d),
seasonal_tbl AS (
  SELECT dow, hour,
         floor(CAST(sum(CAST(value - trend AS DECIMAL(18,6))) AS DOUBLE)
               / count(*) * 1000000.0 + 0.5) / 1000000.0 AS seasonal
  FROM base GROUP BY 1, 2)
SELECT b.event_id, b.value, b.trend, s.seasonal,
       floor((b.value - b.trend - s.seasonal) * 1000000.0 + 0.5)
         / 1000000.0 AS residual
FROM base b JOIN seasonal_tbl s ON b.dow = s.dow AND b.hour = s.hour
""")
def q_timeseries_decompose(spark, sf_dir):
    """Naive additive decomposition (trend = ±3-day MA of stabilized
    daily means over the dimension-sized day spine; seasonal =
    weekday×hour cell means of detrended values; residual the rest)
    (cf. operators/temporal.py:additive_decompose)."""
    from s3_elasticsearch_data_pipeline_spark.operators.temporal import (
        additive_decompose)
    return additive_decompose(_t(spark, sf_dir, "events"))


@register("agg_entropy", """
WITH per AS (
  SELECT user_id, event_type, count(*) AS c
  FROM events GROUP BY 1, 2),
tot AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n FROM per GROUP BY 1),
terms AS (
  SELECT per.user_id, n,
         CAST(floor(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
                    * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                    * 1000000000.0 + 0.5) / 1000000000.0
              AS DECIMAL(18,9)) AS term
  FROM per JOIN tot ON per.user_id = tot.user_id)
SELECT user_id, max(n) AS n_events, count(*) AS n_types,
       floor(CAST(-sum(term) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
         AS entropy
FROM terms GROUP BY user_id
""")
def q_agg_entropy(spark, sf_dir):
    """Per-user Shannon entropy of event-type mix (behavioral
    diversity), decimal-exact term accumulation
    (cf. operators/analytics.py:type_entropy)."""
    return analytics.type_entropy(_t(spark, sf_dir, "events"))


@register("safe_arithmetic_pack", """
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_quantity - l_quantity = 0 THEN NULL
            ELSE round(l_extendedprice / (l_quantity - l_quantity), 4)
            END AS div_by_zero,
       round(l_extendedprice / l_quantity, 4) AS unit_price,
       CASE WHEN l_orderkey = 0 THEN 9223372036854775807
            ELSE CAST(NULL AS BIGINT) END AS add_overflow,
       CASE WHEN l_orderkey = 0 THEN 0 ELSE NULL END AS mul_overflow,
       TRY_CAST(l_returnflag AS INTEGER) AS flag_as_int,
       TRY_CAST(CAST(l_linenumber AS VARCHAR) AS INTEGER) AS line_roundtrip
FROM lineitem
WHERE l_orderkey % 1000 = 0
""")
def q_safe_arithmetic_pack(spark, sf_dir):
    """ANSI-safe arithmetic surface: try_divide / try_add /
    try_multiply / try_cast return NULL instead of raising under ANSI
    mode — the arithmetic extension of the reference's cast-with-
    default discipline (P3/P5, data-s3-elastic-transfer.py:154-186).
    The oracle states each outcome as explicit CASE/NULL semantics
    (the add/multiply overflows are unconditional for every key ≥ 1).
    """
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 1000 == 0)
    long_max = 9223372036854775807
    return li.select(
        "l_orderkey", "l_linenumber",
        F.round(F.try_divide(F.col("l_extendedprice"),
                             F.col("l_quantity") - F.col("l_quantity")), 4)
         .alias("div_by_zero"),
        F.round(F.try_divide("l_extendedprice", "l_quantity"), 4)
         .alias("unit_price"),
        F.try_add(F.lit(long_max).cast("long"),
                  F.col("l_orderkey")).alias("add_overflow"),
        F.try_multiply(F.col("l_orderkey"),
                       F.lit(long_max).cast("long")).alias("mul_overflow"),
        F.try_to_number("l_returnflag", F.lit("9")).cast("int")
         .alias("flag_as_int"),
        F.col("l_linenumber").cast("string").cast("int")
         .alias("line_roundtrip"))


@register("agg_gini_concentration", """
WITH seg AS (
  SELECT c_mktsegment, CAST(o_totalprice AS DECIMAL(12,2)) AS x, o_orderkey
  FROM orders JOIN customer ON o_custkey = c_custkey),
ranked AS (
  SELECT c_mktsegment, x,
         CAST(2 * row_number() OVER (PARTITION BY c_mktsegment
                                     ORDER BY x, o_orderkey)
              AS DECIMAL(18,0)) AS two_i
  FROM seg),
agg AS (
  SELECT c_mktsegment, count(*) AS n, sum(x) AS sx,
         sum(CAST(CAST(two_i AS DECIMAL(19,0)) * x AS DECIMAL(38,2))) AS swx
  FROM ranked GROUP BY c_mktsegment)
SELECT c_mktsegment, n,
       CAST(round(sx, 2) AS DOUBLE) AS total,
       floor((CAST(swx AS DOUBLE)
              - (CAST(n AS DOUBLE) + 1) * CAST(sx AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE))
             * 1000000.0 + 0.5) / 1000000.0 AS gini
FROM agg
""")
def q_agg_gini_concentration(spark, sf_dir):
    """Gini coefficient of order-value concentration per market
    segment (rank-weighted form, segment-partitioned window, exact
    decimal sums) (cf. operators/analytics.py:gini_concentration)."""
    return analytics.gini_concentration(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "customer"))


@register("survival_kaplan_meier", """
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup' THEN ts END) AS signup_ts,
         max(ts) AS last_ts
  FROM events GROUP BY user_id),
fp AS (
  SELECT user_id, min(ts) AS purchase_ts
  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
base AS (
  SELECT p.user_id,
         CASE WHEN f.purchase_ts >= p.signup_ts
              THEN datediff('day', p.signup_ts, f.purchase_ts)
              END AS event_day,
         datediff('day', p.signup_ts, p.last_ts) AS censor_day
  FROM per_user p LEFT JOIN fp f ON p.user_id = f.user_id
  WHERE p.signup_ts IS NOT NULL),
obs AS (
  SELECT coalesce(event_day, censor_day) AS t,
         CASE WHEN event_day IS NOT NULL THEN 1 ELSE 0 END AS converted
  FROM base),
risk AS (
  SELECT t, CAST(sum(converted) AS BIGINT) AS d, count(*) AS leaving
  FROM obs WHERE t <= 60 GROUP BY t),
n0 AS (SELECT count(*) AS n0 FROM obs),
tbl AS (
  SELECT t, d,
         n0 - coalesce(sum(leaving) OVER (ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS at_risk
  FROM risk, n0),
ev AS (
  SELECT t, d, CAST(at_risk AS BIGINT) AS at_risk,
         CAST(floor(ln(1 - CAST(d AS DOUBLE) / CAST(at_risk AS DOUBLE))
                    * 1000000000.0 + 0.5) / 1000000000.0
              AS DECIMAL(18,9)) AS term
  FROM tbl WHERE d > 0 AND d < at_risk)
SELECT t, d, at_risk,
       floor(exp(CAST(sum(term) OVER (ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS survival
FROM ev
""")
def q_survival_kaplan_meier(spark, sf_dir):
    """Kaplan–Meier signup→purchase survival curve (right-censored at
    last observed activity), product via 9dp-rounded ln accumulation
    over the dimension-sized risk table
    (cf. operators/analytics.py:kaplan_meier)."""
    return analytics.kaplan_meier(_t(spark, sf_dir, "events"))


@register("attribution_touchpoints", """
WITH w AS (
  SELECT user_id, ts, event_id, event_type,
         first_value(CASE WHEN event_type <> 'purchase'
                          THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS first_touch,
         last_value(CASE WHEN event_type <> 'purchase'
                         THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last_touch
  FROM events)
SELECT coalesce(first_touch, 'none') AS first_touch,
       coalesce(last_touch, 'none') AS last_touch,
       count(*) AS n_purchases
FROM w WHERE event_type = 'purchase'
GROUP BY 1, 2
""")
def q_attribution_touchpoints(spark, sf_dir):
    """First-touch vs last-touch purchase attribution contrast table —
    one partitioned window pass with ignorenulls first/last over the
    strictly-preceding frame (cf. operators/windows.py:
    attribution_touchpoints)."""
    return windows.attribution_touchpoints(_t(spark, sf_dir, "events"))


@register("text_url_canonicalize", """
WITH raw AS (
  SELECT doc_id,
         'HTTPS://WWW.' || upper(source) || '.Example.COM'
         || CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END
         || '/Docs/' || CAST(doc_id AS VARCHAR)
         || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN '?utm_source=feed&utm_campaign=x' ELSE '' END
         || CASE WHEN doc_id % 7 = 0 THEN '#section-2' ELSE '' END
           AS raw_url
  FROM documents),
canon AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(lower(raw_url), '#.*$', ''),
                 '\\?utm_[^#]*$', ''),
               ':443/', '/'),
             ':443$', ''),
           '/$', '') AS canonical_url
  FROM raw)
SELECT canonical_url, count(*) AS n_variants, min(doc_id) AS first_doc
FROM canon GROUP BY canonical_url
""")
def q_text_url_canonicalize(spark, sf_dir):
    """URL canonicalization (lowercase, strip default port / fragment /
    tracking params / trailing slash) + collision counts — web-corpus
    dedup's first step (cf. operators/text.py:url_canonicalize)."""
    return text.url_canonicalize(_t(spark, sf_dir, "documents"))


@register("cohort_ltv_triangle", """
WITH su AS (
  SELECT user_id, strftime(min(ts), '%Y-%m') AS cohort,
         min(CAST(ts AS DATE)) AS signup_day
  FROM events WHERE event_type = 'signup' GROUP BY user_id),
rev AS (
  SELECT s.cohort,
         datediff('month', date_trunc('month', s.signup_day),
                  date_trunc('month', CAST(e.ts AS DATE))) AS months_since,
         sum(CAST(e.value AS DECIMAL(18,2))) AS revenue,
         count(*) AS n_purchases
  FROM events e JOIN su s ON e.user_id = s.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= (SELECT min(signup_day)
                                               FROM su s2
                                               WHERE s2.user_id = e.user_id)
  GROUP BY 1, 2)
SELECT cohort, months_since,
       CAST(round(revenue, 2) AS DOUBLE) AS revenue, n_purchases,
       CAST(round(sum(revenue) OVER (PARTITION BY cohort
                  ORDER BY months_since
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
            AS DOUBLE) AS cumulative_ltv
FROM rev
""")
def q_cohort_ltv_triangle(spark, sf_dir):
    """Cohort LTV triangle: purchase revenue by signup-month cohort ×
    months-since-signup with the cumulative LTV running decimal sum —
    the revenue-weighted sibling of retention_cohorts. Windows
    partition by cohort; all sums exact decimal."""
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events")
    su = (ev.where(F.col("event_type") == "signup")
          .groupBy("user_id")
          .agg(F.date_format(F.min("ts"), "yyyy-MM").alias("cohort"),
               F.min(F.to_date("ts")).alias("signup_day")))
    rev = (ev.where(F.col("event_type") == "purchase")
           .join(su, "user_id")
           .where(F.col("ts") >= F.col("signup_day"))
           .groupBy("cohort",
                    (F.months_between(
                        F.trunc(F.to_date("ts"), "month"),
                        F.trunc("signup_day", "month"))
                     .cast("int")).alias("months_since"))
           .agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("revenue"),
                F.count(F.lit(1)).alias("n_purchases")))
    w = (Window.partitionBy("cohort").orderBy("months_since")
         .rowsBetween(Window.unboundedPreceding, 0))
    return rev.select(
        "cohort", "months_since",
        F.round("revenue", 2).cast("double").alias("revenue"),
        "n_purchases",
        F.round(F.sum("revenue").over(w), 2).cast("double")
         .alias("cumulative_ltv"))


@register("text_readability", """
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'),
                     t -> t <> '') AS tk,
         len(list_filter(string_split_regex(text, '[.!?]+'),
                         s -> trim(s) <> '')) AS n_sentences
  FROM documents),
m AS (
  SELECT doc_id,
         len(tk) AS n_words,
         greatest(1, n_sentences) AS n_sent,
         list_sum(list_transform(tk,
             t -> greatest(1, len(string_split_regex(t, '[aeiouy]+')) - 1)))
           AS n_syllables
  FROM base WHERE len(tk) > 0)
SELECT doc_id, n_words, n_sent, CAST(n_syllables AS BIGINT) AS n_syllables,
       floor((206.835
              - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sent AS DOUBLE))
              - 84.6 * (CAST(n_syllables AS DOUBLE)
                        / CAST(n_words AS DOUBLE)))
             * 1000000.0 + 0.5) / 1000000.0 AS flesch_score
FROM m
""")
def q_text_readability(spark, sf_dir):
    """Flesch reading-ease scores from vowel-group syllable counts —
    the readability quality signal as pure array algebra (transform +
    aggregate over the token array; no UDF, no shuffle)."""
    d = (_t(spark, sf_dir, "documents")
         .withColumn("tk", F.filter(F.split(F.lower(F.col("text")),
                                            r"\s+"),
                                    lambda t: t != ""))
         .withColumn("n_sentences",
                     F.size(F.filter(F.split(F.col("text"), r"[.!?]+"),
                                     lambda s: F.trim(s) != "")))
         .where(F.size("tk") > 0))
    syl = F.aggregate(
        F.transform("tk", lambda t: F.greatest(
            F.lit(1), F.size(F.split(t, "[aeiouy]+")) - 1)),
        F.lit(0), lambda acc, x: acc + x)
    d = (d.withColumn("n_words", F.size("tk"))
         .withColumn("n_sent", F.greatest(F.lit(1), F.col("n_sentences")))
         .withColumn("n_syllables", syl.cast("long")))
    score = (F.lit(206.835)
             - 1.015 * (F.col("n_words").cast("double")
                        / F.col("n_sent").cast("double"))
             - 84.6 * (F.col("n_syllables").cast("double")
                       / F.col("n_words").cast("double")))
    return d.select(
        "doc_id", "n_words", "n_sent", "n_syllables",
        (F.floor(score * 1000000.0 + F.lit(0.5)) / 1000000.0)
        .alias("flesch_score"))


@register("timeseries_peaks", """
WITH w AS (
  SELECT user_id, value,
         lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_v,
         lead(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_v
  FROM events)
SELECT user_id,
       count(*) FILTER (WHERE prev_v IS NOT NULL AND next_v IS NOT NULL
                        AND value > prev_v AND value > next_v) AS n_peaks,
       count(*) FILTER (WHERE prev_v IS NOT NULL AND next_v IS NOT NULL
                        AND value < prev_v AND value < next_v)
         AS n_troughs,
       max(CASE WHEN prev_v IS NOT NULL AND next_v IS NOT NULL
                AND value > prev_v AND value > next_v
                THEN value END) AS max_peak
FROM w GROUP BY user_id
""")
def q_timeseries_peaks(spark, sf_dir):
    """Local peak/trough detection per user series (strict lag/lead
    comparison under a total order) — one partitioned window pass."""
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = (_t(spark, sf_dir, "events")
          .select("user_id", "value",
                  F.lag("value").over(w).alias("prev_v"),
                  F.lead("value").over(w).alias("next_v")))
    interior = F.col("prev_v").isNotNull() & F.col("next_v").isNotNull()
    is_peak = interior & (F.col("value") > F.col("prev_v")) \
        & (F.col("value") > F.col("next_v"))
    is_trough = interior & (F.col("value") < F.col("prev_v")) \
        & (F.col("value") < F.col("next_v"))
    return (ev.groupBy("user_id")
            .agg(F.count(F.when(is_peak, 1)).alias("n_peaks"),
                 F.count(F.when(is_trough, 1)).alias("n_troughs"),
                 F.max(F.when(is_peak, F.col("value"))).alias("max_peak")))


@register("feature_woe_encoding", """
WITH base AS (
  SELECT extract(hour FROM ts) AS bucket,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events),
per AS (
  SELECT bucket, CAST(sum(y) AS BIGINT) AS pos,
         CAST(count(*) - sum(y) AS BIGINT) AS neg
  FROM base GROUP BY bucket),
tot AS (
  SELECT CAST(sum(pos) AS BIGINT) AS tp, CAST(sum(neg) AS BIGINT) AS tn
  FROM per)
SELECT bucket, pos, neg,
       floor(ln((CAST(pos AS DOUBLE) / CAST(tp AS DOUBLE))
                / (CAST(neg AS DOUBLE) / CAST(tn AS DOUBLE)))
             * 1000000.0 + 0.5) / 1000000.0 AS woe
FROM per, tot
""")
def q_feature_woe_encoding(spark, sf_dir):
    """Weight-of-evidence encoding of hour-of-day against the purchase
    target — the risk-modeling categorical encoding as two aggregates
    + one ln (proven cross-engine), no fitted state beyond the tiny
    bucket table."""
    ev = _t(spark, sf_dir, "events")
    y = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    per = (ev.select(F.hour("ts").alias("bucket"), y.alias("y"))
           .groupBy("bucket")
           .agg(F.sum("y").alias("pos"),
                (F.count(F.lit(1)) - F.sum("y")).alias("neg")))
    tot = per.agg(F.sum("pos").alias("tp"), F.sum("neg").alias("tn"))
    woe = F.log((F.col("pos").cast("double") / F.col("tp").cast("double"))
                / (F.col("neg").cast("double") / F.col("tn").cast("double")))
    return (per.crossJoin(F.broadcast(tot))
            .select("bucket", "pos", "neg",
                    (F.floor(woe * 1000000.0 + F.lit(0.5)) / 1000000.0)
                    .alias("woe")))


@register("feature_target_encoding_loo", """
WITH g AS (
  SELECT event_type,
         sum(CAST(value AS DECIMAL(18,2))) AS s, count(*) AS n
  FROM events GROUP BY event_type)
SELECT e.event_id, e.event_type,
       CASE WHEN g.n > 1
            THEN floor((CAST(g.s AS DOUBLE) - e.value)
                       / (CAST(g.n AS DOUBLE) - 1)
                       * 1000000.0 + 0.5) / 1000000.0
            END AS loo_mean
FROM events e JOIN g ON e.event_type = g.event_type
""")
def q_feature_target_encoding_loo(spark, sf_dir):
    """Leave-one-out target (mean) encoding: each row's category mean
    EXCLUDING itself — (Σ − x)/(n − 1) from one exact-decimal group
    aggregate broadcast back, the leakage-safe form of mean encoding
    with no per-row re-aggregation."""
    ev = _t(spark, sf_dir, "events")
    g = (ev.groupBy("event_type")
         .agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("s"),
              F.count(F.lit(1)).alias("n")))
    loo = F.when(
        F.col("n") > 1,
        F.floor((F.col("s").cast("double") - F.col("value"))
                / (F.col("n").cast("double") - 1)
                * 1000000.0 + F.lit(0.5)) / 1000000.0)
    return (ev.select("event_id", "event_type", "value")
            .join(F.broadcast(g), "event_type")
            .select("event_id", "event_type", loo.alias("loo_mean")))


@register("timeseries_autocorrelation", """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, count(*) AS x
  FROM events GROUP BY 1),
m AS (
  SELECT floor(CAST(sum(x) AS DOUBLE) / count(*) * 1000000.0 + 0.5)
           / 1000000.0 AS mean_x,
         count(*) AS n_days
  FROM daily),
c AS (
  SELECT d, CAST(x AS DOUBLE) - mean_x AS c,
         lag(CAST(x AS DOUBLE) - mean_x, 1) OVER (ORDER BY d) AS c1,
         lag(CAST(x AS DOUBLE) - mean_x, 7) OVER (ORDER BY d) AS c7,
         n_days
  FROM daily, m),
s AS (
  SELECT max(n_days) AS n_days,
         CAST(sum(CAST(floor(c * c * 1000000.0 + 0.5) / 1000000.0
                       AS DECIMAL(24,6))) AS DOUBLE) AS den,
         CAST(sum(CASE WHEN c1 IS NOT NULL
                       THEN CAST(floor(c * c1 * 1000000.0 + 0.5) / 1000000.0
                                 AS DECIMAL(24,6)) END) AS DOUBLE)
           AS num1,
         CAST(sum(CASE WHEN c7 IS NOT NULL
                       THEN CAST(floor(c * c7 * 1000000.0 + 0.5) / 1000000.0
                                 AS DECIMAL(24,6)) END) AS DOUBLE)
           AS num7
  FROM c)
SELECT n_days,
       floor(num1 / den * 1000000.0 + 0.5) / 1000000.0 AS acf_lag1,
       floor(num7 / den * 1000000.0 + 0.5) / 1000000.0 AS acf_lag7
FROM s
""")
def q_timeseries_autocorrelation(spark, sf_dir):
    """Lag-1 / lag-7 autocorrelation of the global daily event count —
    the seasonality detector. The centered products are decimal-cast
    before summation (order-independent); the lags run over the
    dimension-sized distinct-day spine, observed days only (calendar
    gaps collapse — pair with timeseries_gapfill for a dense spine)."""
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")) \
        .agg(F.count(F.lit(1)).alias("x"))
    m = daily.agg(
        (F.floor(F.sum("x").cast("double") / F.count(F.lit(1))
                 * 1000000.0 + F.lit(0.5)) / 1000000.0).alias("mean_x"),
        F.count(F.lit(1)).alias("n_days"))
    w = Window.orderBy("d")
    cexp = F.col("x").cast("double") - F.col("mean_x")
    c = (daily.crossJoin(F.broadcast(m))
         .select("d", cexp.alias("c"),
                 F.lag(cexp, 1).over(w).alias("c1"),
                 F.lag(cexp, 7).over(w).alias("c7"),
                 "n_days"))
    s = c.agg(
        F.max("n_days").alias("n_days"),
        F.sum((F.floor(F.col("c") * F.col("c") * 1000000.0 + F.lit(0.5))
               / 1000000.0).cast("decimal(24,6)"))
         .cast("double").alias("den"),
        F.sum(F.when(F.col("c1").isNotNull(),
                     (F.floor(F.col("c") * F.col("c1") * 1000000.0
                              + F.lit(0.5)) / 1000000.0)
                     .cast("decimal(24,6)")))
         .cast("double").alias("num1"),
        F.sum(F.when(F.col("c7").isNotNull(),
                     (F.floor(F.col("c") * F.col("c7") * 1000000.0
                              + F.lit(0.5)) / 1000000.0)
                     .cast("decimal(24,6)")))
         .cast("double").alias("num7"))
    stab = lambda x: F.floor(x * 1000000.0 + F.lit(0.5)) / 1000000.0  # noqa: E731
    return s.select("n_days",
                    stab(F.col("num1") / F.col("den")).alias("acf_lag1"),
                    stab(F.col("num7") / F.col("den")).alias("acf_lag7"))


@register("stream_wordcount_topk", """
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(text, '\\s+'),
                            t -> t <> '')) AS term
  FROM documents)
SELECT term, count(*) AS n_occurrences,
       count(DISTINCT doc_id) AS doc_freq
FROM tok GROUP BY term
ORDER BY n_occurrences DESC, term
LIMIT 25
""")
def q_stream_wordcount_topk(spark, sf_dir):
    """Streaming wordcount top-k drained to completion (complete-mode
    counts + an exact doc-frequency join) — must equal the batch
    vocabulary head (cf. streaming/windowed.py:stream_wordcount_topk)."""
    from s3_elasticsearch_data_pipeline_spark.tables import table_path
    return stream_windowed.stream_wordcount_topk(
        spark, table_path(sf_dir, "documents"))


_LATERAL_SQL = """
SELECT o.o_orderkey, t.l_extendedprice, t.l_linenumber
FROM orders o, LATERAL (
  SELECT l_extendedprice, l_linenumber FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey
  ORDER BY l_extendedprice DESC, l_linenumber LIMIT 1) t
WHERE o.o_orderkey % 100 = 0
"""


@register("sql_lateral_topn", _LATERAL_SQL)
def q_sql_lateral_topn(spark, sf_dir):
    """Correlated LATERAL subquery with ORDER BY + LIMIT (top-1
    lineitem per order) — the SAME SQL text runs on both engines;
    Catalyst decorrelates it into a ranked join rather than a per-row
    re-execution."""
    for t in ("orders", "lineitem"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_LATERAL_SQL)


@register("sql_pivot_clause", """
SELECT o_orderpriority,
       count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
       count(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
       count(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending
FROM orders GROUP BY o_orderpriority
""")
def q_sql_pivot_clause(spark, sf_dir):
    """SQL PIVOT clause (wide conditional counts per priority) — the
    SQL-syntax twin of the DataFrame agg_pivot; absent cells coalesce
    to 0 to match conditional-count semantics."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql("""
      SELECT o_orderpriority,
             coalesce(n_open, 0) AS n_open,
             coalesce(n_filled, 0) AS n_filled,
             coalesce(n_pending, 0) AS n_pending
      FROM (SELECT o_orderpriority, o_orderstatus FROM orders)
      PIVOT (count(*) FOR o_orderstatus
             IN ('O' AS n_open, 'F' AS n_filled, 'P' AS n_pending))""")


@register("text_compression_ratio", None)  # zlib-specific → rows-only
def q_text_compression_ratio(spark, sf_dir):
    """Compression-ratio quality signal (zlib level 6, deterministic)
    — rows-only: no portable SQL twin; pytest asserts the
    repetition-compresses-better property
    (cf. operators/text.py:compression_ratio)."""
    return text.compression_ratio(_t(spark, sf_dir, "documents"))


@register("agg_cramers_v", """
WITH cells AS (
  SELECT event_type AS r, isodow(ts) AS c, count(*) AS o
  FROM events GROUP BY 1, 2),
rt AS (SELECT r, sum(o) AS rn FROM cells GROUP BY r),
ct AS (SELECT c, sum(o) AS cn FROM cells GROUP BY c),
n AS (SELECT CAST(sum(o) AS BIGINT) AS nn FROM cells),
scored AS (
  SELECT CAST(floor(((o - CAST(rn * cn AS DOUBLE) / nn)
                     * (o - CAST(rn * cn AS DOUBLE) / nn))
                    / (CAST(rn * cn AS DOUBLE) / nn)
                    * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,6))
           AS contrib
  FROM cells JOIN rt USING (r) JOIN ct USING (c), n),
dims AS (
  SELECT count(DISTINCT r) AS nr, count(DISTINCT c) AS nc FROM cells),
agg AS (SELECT CAST(sum(contrib) AS DOUBLE) AS chi2 FROM scored)
SELECT chi2, nr, nc, nn AS n_rows,
       floor(sqrt(chi2 / (CAST(nn AS DOUBLE)
                          * CAST(least(nr - 1, nc - 1) AS DOUBLE)))
             * 1000000.0 + 0.5) / 1000000.0 AS cramers_v
FROM agg, dims, n
""")
def q_agg_cramers_v(spark, sf_dir):
    """Cramér's V effect size for the event-type × weekday association
    — the chi-square statistic normalized to [0,1], same
    order-independent cell contributions as agg_chi2_independence."""
    ev = _t(spark, sf_dir, "events")
    cells = (ev.groupBy(F.col("event_type").alias("r"),
                        (F.weekday("ts") + 1).alias("c"))
             .agg(F.count(F.lit(1)).alias("o")))
    rt = cells.groupBy("r").agg(F.sum("o").alias("rn"))
    ct = cells.groupBy("c").agg(F.sum("o").alias("cn"))
    n = cells.agg(F.sum("o").alias("nn"))
    dims = cells.agg(F.countDistinct("r").alias("nr"),
                     F.countDistinct("c").alias("nc"))
    e = (F.col("rn") * F.col("cn")).cast("double") / F.col("nn")
    contrib = ((F.col("o") - e) * (F.col("o") - e)) / e
    contrib6 = (F.floor(contrib * F.lit(1000000.0) + F.lit(0.5))
                / F.lit(1000000.0)).cast("decimal(18,6)")
    scored = (cells.join(F.broadcast(rt), "r").join(F.broadcast(ct), "c")
              .crossJoin(F.broadcast(n))
              .select(contrib6.alias("contrib")))
    agg = scored.agg(F.sum("contrib").cast("double").alias("chi2"))
    v = F.sqrt(F.col("chi2")
               / (F.col("nn").cast("double")
                  * F.least(F.col("nr") - 1, F.col("nc") - 1)
                  .cast("double")))
    return (agg.crossJoin(F.broadcast(dims)).crossJoin(F.broadcast(n))
            .select("chi2", "nr", "nc", F.col("nn").alias("n_rows"),
                    (F.floor(v * 1000000.0 + F.lit(0.5)) / 1000000.0)
                    .alias("cramers_v")))


@register("dedup_incremental_batch", """
WITH fps AS (
  SELECT doc_id,
         md5(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp
  FROM documents),
seen AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 3 <> 0),
batch AS (SELECT doc_id, fp FROM fps WHERE doc_id % 3 = 0),
fresh AS (
  SELECT b.doc_id, b.fp FROM batch b
  WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.fp = b.fp))
SELECT min(doc_id) AS doc_id, fp, count(*) AS n_batch_copies
FROM fresh GROUP BY fp
""")
def q_dedup_incremental_batch(spark, sf_dir):
    """Cross-batch incremental dedup: the incoming batch anti-joins
    the prior corpus's distinct fingerprint set, then self-dedups by
    min doc_id — the J2 diff pattern on content identity
    (cf. operators/dedup.py:incremental_batch_dedup)."""
    return dedup.incremental_batch_dedup(_t(spark, sf_dir, "documents"))


@register("dedup_paragraphs", """
WITH frags AS (
  SELECT doc_id,
         md5(f.frag) AS fph
  FROM documents,
  LATERAL unnest(list_filter(
      list_transform(string_split_regex(text, '[.!?]+\\s+|[.!?]+$'),
                     s -> trim(s)),
      s -> s <> '')) AS f(frag)),
owner AS (SELECT fph, min(doc_id) AS owner_doc FROM frags GROUP BY fph)
SELECT f.doc_id,
       count(*) AS n_fragments,
       CAST(sum(CASE WHEN o.owner_doc = f.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN o.owner_doc <> f.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_deduped
FROM frags f JOIN owner o ON f.fph = o.fph
GROUP BY f.doc_id
""")
def q_dedup_paragraphs(spark, sf_dir):
    """Sub-document (fragment-level) dedup stats: each sentence
    fragment survives only in its first (min doc_id) document — the
    boilerplate-removal step of corpus curation
    (cf. operators/dedup.py:paragraph_dedup_stats)."""
    return dedup.paragraph_dedup_stats(_t(spark, sf_dir, "documents"))


@register("w_rolling_median", """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_orders
  FROM orders GROUP BY 1)
SELECT day, n_orders,
       quantile_cont(n_orders, 0.5) OVER (
         ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         AS med_7d
FROM daily
""")
def q_w_rolling_median(spark, sf_dir):
    """Exact 7-day rolling median of the daily order count — aggregate
    functions inside a ROWS window frame over a calendar-bounded
    pre-aggregate (cf. operators/windows.py:rolling_median)."""
    return windows.rolling_median(_t(spark, sf_dir, "orders"))


@register("market_basket_lift", """
WITH baskets AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
totals AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM baskets),
item_cnt AS (SELECT l_partkey, count(*) AS cnt FROM baskets GROUP BY 1),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         count(*) AS pair_cnt
  FROM baskets a JOIN baskets b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2)
SELECT part_a, part_b, pair_cnt,
       floor(pair_cnt * 1.0 / n_orders * 1000000.0 + 0.5) / 1000000.0
         AS support,
       floor(pair_cnt * 1.0 / ca.cnt * 1000000.0 + 0.5) / 1000000.0
         AS confidence,
       floor(pair_cnt * 1.0 * n_orders / (ca.cnt * cb.cnt)
             * 1000000.0 + 0.5) / 1000000.0 AS lift
FROM pairs
JOIN item_cnt ca ON ca.l_partkey = part_a
JOIN item_cnt cb ON cb.l_partkey = part_b
CROSS JOIN totals
ORDER BY pair_cnt DESC, part_a, part_b
LIMIT 100
""")
def q_market_basket_lift(spark, sf_dir):
    """Market-basket association rules: support / confidence / lift
    for part pairs co-occurring in an order, top-100 by pair count
    (cf. operators/analytics.py:market_basket)."""
    return analytics.market_basket(_t(spark, sf_dir, "lineitem"))


@register("markov_transitions", """
WITH seq AS (
  SELECT lag(event_type) OVER w AS prev_type,
         event_type AS cur_type,
         lead(event_type) OVER w AS next_type
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
trans AS (
  SELECT prev_type, cur_type, next_type, count(*) AS n
  FROM seq WHERE prev_type IS NOT NULL AND next_type IS NOT NULL
  GROUP BY 1, 2, 3)
SELECT prev_type, cur_type, next_type, n,
       floor(n * 1.0 / sum(n) OVER (PARTITION BY prev_type, cur_type)
             * 1000000.0 + 0.5) / 1000000.0 AS prob
FROM trans
""")
def q_markov_transitions(spark, sf_dir):
    """Second-order Markov transition model over per-user event
    sequences (bigram state → next-type distribution) — one window
    pass for lag+lead, hash aggregate, per-state normalizer
    (cf. operators/analytics.py:markov_transitions)."""
    return analytics.markov_transitions(_t(spark, sf_dir, "events"))


@register("stat_correlation_matrix", """
WITH m AS (
  SELECT count(*) AS n,
         sum(CAST(l_quantity AS DECIMAL(18,4))) AS s_q,
         sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS s_p,
         sum(CAST(l_discount AS DECIMAL(18,4))) AS s_d,
         sum(CAST(l_tax AS DECIMAL(18,4))) AS s_t,
         sum(CAST(CAST(l_quantity AS DECIMAL(19,4))
                  * CAST(l_quantity AS DECIMAL(19,4))
                  AS DECIMAL(38,8))) AS q_q,
         sum(CAST(CAST(l_extendedprice AS DECIMAL(19,4))
                  * CAST(l_extendedprice AS DECIMAL(19,4))
                  AS DECIMAL(38,8))) AS q_p,
         sum(CAST(CAST(l_discount AS DECIMAL(19,4))
                  * CAST(l_discount AS DECIMAL(19,4))
                  AS DECIMAL(38,8))) AS q_d,
         sum(CAST(CAST(l_tax AS DECIMAL(19,4))
                  * CAST(l_tax AS DECIMAL(19,4))
                  AS DECIMAL(38,8))) AS q_t,
         sum(CAST(CAST(l_quantity AS DECIMAL(19,4))
                  * CAST(l_extendedprice AS DECIMAL(19,4))
                  AS DECIMAL(38,8))) AS x_qp,
         sum(CAST(CAST(l_quantity AS DECIMAL(19,4))
                  * CAST(l_discount AS DECIMAL(19,4))
                  AS DECIMAL(38,8))) AS x_qd,
         sum(CAST(CAST(l_quantity AS DECIMAL(19,4))
                  * CAST(l_tax AS DECIMAL(19,4))
                  AS DECIMAL(38,8))) AS x_qt,
         sum(CAST(CAST(l_extendedprice AS DECIMAL(19,4))
                  * CAST(l_discount AS DECIMAL(19,4))
                  AS DECIMAL(38,8))) AS x_pd,
         sum(CAST(CAST(l_extendedprice AS DECIMAL(19,4))
                  * CAST(l_tax AS DECIMAL(19,4))
                  AS DECIMAL(38,8))) AS x_pt,
         sum(CAST(CAST(l_discount AS DECIMAL(19,4))
                  * CAST(l_tax AS DECIMAL(19,4))
                  AS DECIMAL(38,8))) AS x_dt
  FROM lineitem),
pairs(col_a, col_b, xy, sx, sy, qx, qy) AS (
  SELECT 'l_quantity', 'l_extendedprice', CAST(x_qp AS DOUBLE),
         CAST(s_q AS DOUBLE), CAST(s_p AS DOUBLE),
         CAST(q_q AS DOUBLE), CAST(q_p AS DOUBLE) FROM m
  UNION ALL SELECT 'l_quantity', 'l_discount', CAST(x_qd AS DOUBLE),
         CAST(s_q AS DOUBLE), CAST(s_d AS DOUBLE),
         CAST(q_q AS DOUBLE), CAST(q_d AS DOUBLE) FROM m
  UNION ALL SELECT 'l_quantity', 'l_tax', CAST(x_qt AS DOUBLE),
         CAST(s_q AS DOUBLE), CAST(s_t AS DOUBLE),
         CAST(q_q AS DOUBLE), CAST(q_t AS DOUBLE) FROM m
  UNION ALL SELECT 'l_extendedprice', 'l_discount', CAST(x_pd AS DOUBLE),
         CAST(s_p AS DOUBLE), CAST(s_d AS DOUBLE),
         CAST(q_p AS DOUBLE), CAST(q_d AS DOUBLE) FROM m
  UNION ALL SELECT 'l_extendedprice', 'l_tax', CAST(x_pt AS DOUBLE),
         CAST(s_p AS DOUBLE), CAST(s_t AS DOUBLE),
         CAST(q_p AS DOUBLE), CAST(q_t AS DOUBLE) FROM m
  UNION ALL SELECT 'l_discount', 'l_tax', CAST(x_dt AS DOUBLE),
         CAST(s_d AS DOUBLE), CAST(s_t AS DOUBLE),
         CAST(q_d AS DOUBLE), CAST(q_t AS DOUBLE) FROM m)
SELECT col_a, col_b,
       CASE WHEN (n * qx - sx * sx) * (n * qy - sy * sy) > 0
            THEN floor(((n * xy - sx * sy)
                        / sqrt((n * qx - sx * sx) * (n * qy - sy * sy)))
                       * 1000000.0 + 0.5) / 1000000.0
            ELSE NULL END AS corr
FROM pairs CROSS JOIN
     (SELECT CAST(n AS DOUBLE) AS n FROM m WHERE n >= 2) t
""")
def q_stat_correlation_matrix(spark, sf_dir):
    """Pairwise Pearson correlation matrix of the lineitem measures
    from one exact-decimal moment aggregate
    (cf. operators/analytics.py:correlation_matrix)."""
    return analytics.correlation_matrix(_t(spark, sf_dir, "lineitem"))


# ---------------------------------------------------------------------------
# Round 2 — tokenizer training + product quantization
# ---------------------------------------------------------------------------

@register("text_bpe_train", _bpe_oracle_sql(emit="merges"))
def q_text_bpe_train(spark, sf_dir):
    """Full distributed BPE training loop over the word-type table —
    8 merge rounds, each one hash aggregate + a 1-row argmax collect
    (operators/text.py:bpe_train); exact-match tested against a pure
    Python reference implementation in tests/test_tokenizer_train.py,
    AND against the unrolled-CTE DuckDB trainer (``_bpe_oracle_sql``
    merge-table mode) — rank, pair, count and new symbol all pinned."""
    return text.bpe_train(_t(spark, sf_dir, "documents"), n_merges=8)


@register("embedding_pq_codes", _PQ_CODES_ORACLE)  # r6: unrolled-PQ CTE
def q_embedding_pq_codes(spark, sf_dir):
    """Product-quantization encoding of the embeddings table: 8
    subspaces × 16 codes (64-dim → 8 bytes/vector), reconstruction MSE
    per vector (operators/similarity.py:product_quantize)."""
    return similarity.product_quantize(_t(spark, sf_dir, "embeddings"))


@register("sim_topk_pq", _PQ_TOPK_ORACLE)  # r6: unrolled-PQ CTE + ADC + rerank
def q_sim_topk_pq(spark, sf_dir):
    """Asymmetric-distance PQ top-k: per-query (m × k) lookup tables,
    m table lookups per database vector instead of a d-dim dot product
    (operators/similarity.py:pq_topk); recall vs exact brute force
    asserted in tests/test_approx_ops.py."""
    embs = _t(spark, sf_dir, "embeddings")
    queries = embs.orderBy("vec_id").limit(10)
    return similarity.pq_topk(embs, queries, k=10)


_INCR_LSH_ORACLE = f"""
WITH {_MINHASH_BANDED_CTES},
matched AS (
  SELECT DISTINCT p.doc_id
  FROM banded p JOIN banded i
    ON p.band = i.band AND p.bucket = i.bucket
   AND p.doc_id % 3 = 0 AND i.doc_id % 3 <> 0
  WHERE round(len(list_filter(range(1, 17), k -> p.sig[k] = i.sig[k]))
              / 16.0, 6) >= 0.5)
SELECT d.doc_id FROM documents d
WHERE d.doc_id % 3 = 0
  AND d.doc_id NOT IN (SELECT doc_id FROM matched)
"""


#: DuckDB twin of incremental_semantic_dedup (batch = vec_id % 3 = 0,
#: threshold 0.4, n_assign 2): the unrolled k-means prefix trained on
#: the PRIOR CORPUS only (add-after-train, train_pred), both sides
#: multi-assigned to their 2 nearest cells, batch ids dropped where a
#: same-cell corpus vector reaches round-6 cosine 0.4. Output = the
#: surviving batch vec_ids.
_SEM_INGEST_ORACLE = f"""{_kmeans_cte_sql(8, "vec_id % 3 != 0")},
bvecs AS (SELECT * FROM vecs WHERE vec_id % 3 = 0),
ac AS ({_KMEANS_ASSIGN_CTE.format(vecs='tvecs', cents='c2',
                                  qfilter='', take='<= 2')}),
ab AS ({_KMEANS_ASSIGN_CTE.format(vecs='bvecs', cents='c2',
                                  qfilter='', take='<= 2')}),
matched AS (
  SELECT DISTINCT b.vec_id
  FROM ab b JOIN ac c ON b.cell = c.cell
  WHERE round(list_inner_product(b.emb, c.emb)
              / (sqrt(list_inner_product(b.emb, b.emb))
                 * sqrt(list_inner_product(c.emb, c.emb))), 6) >= 0.4)
SELECT vec_id FROM bvecs
WHERE vec_id NOT IN (SELECT vec_id FROM matched)
"""


@register("dedup_incremental_semantic", _SEM_INGEST_ORACLE)
def q_dedup_incremental_semantic(spark, sf_dir):
    """Semantic dedup at ingest (r7 — completes the dedup-at-ingest
    family next to the exact and MinHash paths): the incoming batch
    (vec_id % 3 = 0) is multi-assigned to coarse cells trained on the
    prior corpus only and dropped where any same-cell corpus vector
    reaches cosine 0.4 (operators/dedup.py:incremental_semantic_dedup;
    threshold sized to the near-isotropic fixture — production runs
    ~0.95). Fully oracle-checked: the DuckDB twin replays the
    corpus-trained k-means, both assignments, and the thresholded
    cell join."""
    return dedup.incremental_semantic_dedup(
        _t(spark, sf_dir, "embeddings"))


@register("dedup_incremental_lsh", _INCR_LSH_ORACLE)  # r6: portable hashes
def q_dedup_incremental_lsh(spark, sf_dir):
    """Near-dup dedup at ingest: the incoming batch probes the prior
    corpus's persisted LSH band index; only docs with no est-Jaccard
    match >= 0.5 survive (operators/dedup.py:incremental_lsh_dedup).
    r6: runs hash_mode="portable" so the whole admission decision is
    replayed by the DuckDB twin (batch = doc_id %% 3 = 0 probing the
    rest); xxhash64 stays the scale default."""
    return dedup.incremental_lsh_dedup(_t(spark, sf_dir, "documents"),
                                       hash_mode="portable",
                                       max_bucket_docs=None)


@register("dedup_incremental_lsh_prod", None)  # r9: bench headline variant
def q_dedup_incremental_lsh_prod(spark, sf_dir):
    """The PRODUCTION entry point of dedup-at-ingest — what users get
    with defaults: xxhash64 MinHash family + the "auto" hot-bucket
    guard. Rows-only by construction (xxhash64 is Spark-internal, so
    no engine can replay the admission decision), but the decision
    PROCEDURE is pytest-proven equivalent to the portable-hash twin
    that carries the DuckDB oracle (tests/test_curation.py fixture
    cases run both modes; tests/test_approx_ops.py proves band-
    collision equivalence). Split from dedup_incremental_lsh in r9 so
    the bench headline measures the scale default rather than paying
    the portable mode's measured +0.36 s oracle surcharge
    (SCALING.md r9 note)."""
    return dedup.incremental_lsh_dedup(_t(spark, sf_dir, "documents"))


@register("decontamination_containment", """
WITH shingled AS (
  SELECT doc_id, lang AS block,
         list_distinct(list_transform(
           range(1, greatest(len(toks) - 1, 1)),
           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
  FROM (SELECT doc_id, lang,
               list_filter(string_split_regex(text, '\\s+'),
                           t -> t <> '') AS toks
        FROM documents)
  WHERE len(toks) >= 3)
SELECT a.doc_id AS eval_doc, b.doc_id AS train_doc,
       round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / len(a.shingles), 6) AS containment
FROM shingled a JOIN shingled b
  ON a.block = b.block AND a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
WHERE round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
            / len(a.shingles), 6) >= 0.5
""")
def q_decontamination_containment(spark, sf_dir):
    """Exact n-gram containment eval-vs-train (|A∩B|/|A| ≥ 0.5) with
    one-sided prefix-filtered candidates — the asymmetric
    decontamination check Jaccard under-scores when the eval item is
    embedded in a larger train doc
    (operators/dedup.py:containment_decontamination)."""
    return dedup.containment_decontamination(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.5)


@register("ml_quality_classifier", _GD_CLASSIFIER_ORACLE)  # r6: unrolled GD CTE
def q_ml_quality_classifier(spark, sf_dir):
    """Distributed full-batch logistic regression for a corpus quality
    filter: one scan + one 1-row decimal aggregate per iteration,
    driver holds only the weight vector
    (operators/ml.py:train_quality_classifier); weights verified
    against a numpy reference in tests/test_ml.py."""
    from s3_elasticsearch_data_pipeline_spark.operators import ml
    return ml.train_quality_classifier(_t(spark, sf_dir, "documents"))


def _unigram_oracle_sql(emit: str = "train", seed_size: int = 48,
                        iters: int = 2, max_piece: int = 4,
                        unit_len: int = 16,
                        head_pieces: int = 12) -> str:
    """DuckDB twin of the unigram-LM tokenizer round trip
    (operators/unigram.py): the fixed hard-EM training loop unrolls
    as chained CTEs — seed substring counts, then per EM round one
    Viterbi DP (itself unrolled per chunk position: each ``d{r}_{i}``
    CTE is the argmax over the ≤``max_piece`` candidate split points,
    ``row_number() OVER (ORDER BY score DESC, j)`` = the operator's
    ascending-j strict-> scan) plus a ≤``unit_len``-step backtrack
    walk, piece-count aggregate, single-char smoothing and the
    count-based prune. Every score is a fixed-order chain of IEEE
    multiplies on ``count/total`` doubles — no transcendentals — so
    the DP argmax is bit-identical to the Python kernel (module
    docstring has the full argument). ``emit="encode"`` runs one
    further Viterbi chain under the final probabilities and
    assembles per-document stats.

    Every CTE is MATERIALIZED: the DP chain references each prior
    position up to ``max_piece`` times, so DuckDB's default inlining
    would expand the plan EXPONENTIALLY (observed as a too-many-open-
    files parquet-scan blow-up before the first row)."""
    class _P(list):
        def append(self, part):  # first " AS (" is the CTE definition
            super().append(part.replace(" AS (", " AS MATERIALIZED (", 1))
    P = _P()

    def dp_chain(r: int, probs: str) -> None:
        """Viterbi DP + backtrack for round r under probs CTE."""
        P.append(f"""d{r}_0 AS (
  SELECT unit, n, L, CAST(1 AS DOUBLE) AS score, 0 AS j FROM u0)""")
        for i in range(1, unit_len + 1):
            branches = " UNION ALL ".join(f"""
      SELECT b.unit, b.n, b.L,
             b.score * coalesce(pp.p, CAST(0 AS DOUBLE)) AS score,
             {jj} AS j
      FROM d{r}_{jj} b LEFT JOIN {probs} pp
        ON pp.piece = substr(b.unit, {jj + 1}, {i - jj})
      WHERE b.L >= {i}""" for jj in range(max(0, i - max_piece), i))
            P.append(f"""d{r}_{i} AS (
  SELECT unit, n, L, score, j FROM (
    SELECT unit, n, L, score, j,
           row_number() OVER (PARTITION BY unit
                              ORDER BY score DESC, j) AS rn
    FROM ({branches}) cand)
  WHERE rn = 1)""")
        P.append("par%d AS (%s)" % (r, " UNION ALL ".join(
            f"SELECT unit, {i} AS i, j FROM d{r}_{i}"
            for i in range(1, unit_len + 1))))
        P.append(f"""wk{r}_0 AS (
  SELECT unit, n, L AS pos, 0 AS start, '' AS piece FROM u0)""")
        for k in range(1, unit_len + 1):
            P.append(f"""wk{r}_{k} AS (
  SELECT w.unit, w.n, p.j AS pos, p.j AS start,
         substr(w.unit, p.j + 1, w.pos - p.j) AS piece
  FROM wk{r}_{k - 1} w JOIN par{r} p
    ON p.unit = w.unit AND p.i = w.pos
  WHERE w.pos > 0)""")
        P.append("pieces%d AS (%s)" % (r, " UNION ALL ".join(
            f"SELECT unit, n, start, piece FROM wk{r}_{k}"
            for k in range(1, unit_len + 1))))

    P.append("""tok0 AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), t -> t <> '')
           AS toks
  FROM documents)""")
    P.append("""w0 AS (
  SELECT word, count(*) AS wn
  FROM (SELECT unnest(toks) AS word FROM tok0) GROUP BY word)""")
    P.append(f"""u0 AS (
  SELECT unit, CAST(sum(wn) AS BIGINT) AS n, length(unit) AS L FROM (
    SELECT substr(word, CAST(k * {unit_len} + 1 AS INT), {unit_len})
             AS unit, wn
    FROM (SELECT word, wn,
                 unnest(range(0, CAST(floor((length(word) - 1)
                                            / {unit_len}) AS BIGINT)
                                 + 1)) AS k
          FROM w0))
  GROUP BY unit)""")
    P.append(f"""sub0 AS (
  SELECT piece, CAST(sum(n) AS BIGINT) AS c FROM (
    SELECT unnest(flatten(list_transform(range(1, length(unit) + 1),
             s -> list_transform(range(1, least({max_piece},
                    length(unit) - s + 1) + 1),
               l -> substr(unit, CAST(s AS INT), CAST(l AS INT))))))
             AS piece, n
    FROM u0)
  GROUP BY piece)""")
    P.append("sing AS (SELECT piece, c FROM sub0 WHERE length(piece) = 1)")
    P.append(f"""seedtop AS (
  SELECT piece, c FROM sub0 WHERE length(piece) >= 2
  ORDER BY c DESC, piece LIMIT {seed_size})""")
    P.append("v0 AS (SELECT piece, c FROM sing"
             " UNION ALL SELECT piece, c FROM seedtop)")
    P.append("""p0 AS (
  SELECT piece, CAST(c AS DOUBLE)
                / (SELECT CAST(sum(c) AS DOUBLE) FROM v0) AS p
  FROM v0)""")
    for r in range(1, iters + 1):
        dp_chain(r, f"p{r - 1}")
        P.append(f"""c{r} AS (
  SELECT piece, CAST(sum(n) AS BIGINT) AS c
  FROM pieces{r} GROUP BY piece)""")
        P.append(f"""v{r} AS (
  SELECT s.piece, CAST(greatest(coalesce(c.c, 0), 1) AS BIGINT) AS c
  FROM sing s LEFT JOIN c{r} c USING (piece)
  UNION ALL
  SELECT piece, c FROM c{r} WHERE length(piece) >= 2)""")
        P.append(f"""p{r} AS (
  SELECT piece, CAST(c AS DOUBLE)
                / (SELECT CAST(sum(c) AS DOUBLE) FROM v{r}) AS p
  FROM v{r})""")
    if emit == "train":
        return "WITH " + ",\n".join(P) + f"""
SELECT CAST(row_number() OVER (ORDER BY c DESC, piece) AS INT) AS rank,
       piece, c AS freq,
       floor(CAST(c AS DOUBLE)
             / (SELECT CAST(sum(c) AS DOUBLE) FROM v{iters})
             * 1000000.0 + 0.5) / 1000000.0 AS prob
FROM v{iters}"""
    e = iters + 1
    dp_chain(e, f"p{iters}")
    P.append(f"""enc AS (
  SELECT unit, list(piece ORDER BY start) AS pieces
  FROM pieces{e} GROUP BY unit)""")
    P.append(f"""wu AS (
  SELECT word, k,
         substr(word, CAST(k * {unit_len} + 1 AS INT), {unit_len})
           AS unit
  FROM (SELECT word,
               unnest(range(0, CAST(floor((length(word) - 1)
                                          / {unit_len}) AS BIGINT)
                               + 1)) AS k
        FROM (SELECT DISTINCT unnest(toks) AS word FROM tok0)))""")
    P.append("""wenc AS (
  SELECT word, CAST(sum(len(pieces)) AS INT) AS np,
         flatten(list(pieces ORDER BY k)) AS wpieces
  FROM wu JOIN enc USING (unit) GROUP BY word)""")
    P.append("""posx AS (
  SELECT doc_id, unnest(toks) AS word,
         generate_subscripts(toks, 1) AS pos
  FROM tok0)""")
    P.append(f"""agg AS (
  SELECT doc_id, count(*) AS n_words,
         CAST(sum(length(word)) AS INT) AS n_chars,
         CAST(sum(np) AS INT) AS n_pieces,
         array_to_string(
           flatten(list(wpieces ORDER BY pos))[1:{head_pieces}], '|')
           AS head
  FROM posx JOIN wenc USING (word) GROUP BY doc_id)""")
    return "WITH " + ",\n".join(P) + """
SELECT d.doc_id,
       coalesce(a.n_words, 0) AS n_words,
       coalesce(a.n_chars, 0) AS n_chars,
       coalesce(a.n_pieces, 0) AS n_pieces,
       coalesce(a.head, '') AS head
FROM documents d LEFT JOIN agg a USING (doc_id)"""


@register("text_unigram_train", _unigram_oracle_sql())
def q_text_unigram_train(spark, sf_dir):
    """Unigram-LM (SentencePiece-style) tokenizer trainer: seed
    substring vocabulary, fixed hard-EM rounds of Viterbi
    segmentation + count re-estimation on the word-chunk TYPE table,
    count-based prune with smoothed single-char floor. Scores are
    probability PRODUCTS (fixed-order IEEE arithmetic, no logs), so
    the unrolled-CTE oracle replays the exact argmax
    (operators/unigram.py:unigram_train; exact-match tested against a
    pure-Python reference in tests/test_tokenizer_train.py)."""
    from s3_elasticsearch_data_pipeline_spark.operators import unigram
    return unigram.unigram_train(_t(spark, sf_dir, "documents"))


@register("text_unigram_encode", _unigram_oracle_sql(emit="encode"))
def q_text_unigram_encode(spark, sf_dir):
    """Viterbi encode under the trained unigram LM — the apply side
    of text_unigram_train (the tokenizer round trip): chunk-type
    segmentation once, join occurrences back, per-doc piece stats +
    head pieces (operators/unigram.py:unigram_encode)."""
    from s3_elasticsearch_data_pipeline_spark.operators import unigram
    return unigram.unigram_encode(_t(spark, sf_dir, "documents"))


def _maximal_spans_oracle_sql(min_len: int = 10, levels: int = 12,
                              emit: str = "spans") -> str:
    """DuckDB twin of dedup.duplicate_spans_maximal: the same
    prefix-doubling suffix ranking, unrolled to a FIXED ``levels``
    depth (2^12 = 4096 tokens covers any test-corpus document; the
    doubling recurrence is IDEMPOTENT once 2^k exceeds the longest
    document, so extra rounds reproduce the same rank partition the
    operator's measured ceil(log2(maxlen)) rounds reach). dense_rank
    here vs the operator's min-row-number ranks: different numbers,
    identical equality/order structure — ranks are internal. The LCP
    descent, tail clamp, and per-document interval merge mirror the
    operator expression-for-expression. All CTEs MATERIALIZED (the
    doubling chain references each level twice; default inlining
    would expand exponentially)."""
    P = [f"""toks AS MATERIALIZED (
  SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos,
         unnest(t) AS word
  FROM (SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'),
                           x -> x <> '') AS t
        FROM documents))""",
         """doclen AS MATERIALIZED (
  SELECT doc_id, count(*) AS n_toks FROM toks GROUP BY doc_id)""",
         """r0 AS MATERIALIZED (
  SELECT doc_id, pos, dense_rank() OVER (ORDER BY word) AS rank
  FROM toks)"""]
    for k in range(1, levels + 1):
        gap = 1 << (k - 1)
        P.append(f"""r{k} AS MATERIALIZED (
  SELECT a.doc_id, a.pos,
         dense_rank() OVER (ORDER BY a.rank, coalesce(b.rank, -1))
           AS rank
  FROM r{k - 1} a LEFT JOIN r{k - 1} b
    ON b.doc_id = a.doc_id AND b.pos = a.pos + {gap})""")
    P.append(f"""sa AS MATERIALIZED (
  SELECT doc_id, pos,
         row_number() OVER (ORDER BY rank, doc_id, pos) AS rn
  FROM r{levels})""")
    P.append("""pr0 AS MATERIALIZED (
  SELECT a.rn, a.doc_id AS d1, a.pos AS p1,
         b.doc_id AS d2, b.pos AS p2, CAST(0 AS BIGINT) AS l
  FROM sa a JOIN sa b ON b.rn = a.rn + 1)""")
    step = 0
    for k in range(levels, -1, -1):
        gap = 1 << k
        step += 1
        P.append(f"""pr{step} AS MATERIALIZED (
  SELECT p.rn, p.d1, p.p1, p.d2, p.p2,
         p.l + CASE WHEN a.rank IS NOT NULL AND b.rank IS NOT NULL
                     AND a.rank = b.rank
                    THEN {gap} ELSE 0 END AS l
  FROM pr{step - 1} p
  LEFT JOIN r{k} a ON a.doc_id = p.d1 AND a.pos = p.p1 + p.l
  LEFT JOIN r{k} b ON b.doc_id = p.d2 AND b.pos = p.p2 + p.l)""")
    P.append(f"""lcp AS MATERIALIZED (
  SELECT p.rn, least(p.l, la.n_toks - p.p1, lb.n_toks - p.p2) AS lcp
  FROM pr{step} p
  JOIN doclen la ON la.doc_id = p.d1
  JOIN doclen lb ON lb.doc_id = p.d2)""")
    P.append(f"""dupl AS MATERIALIZED (
  SELECT s.doc_id, s.pos,
         greatest(coalesce(n.lcp, 0), coalesce(pv.lcp, 0)) AS dup_len
  FROM sa s
  LEFT JOIN lcp n ON n.rn = s.rn
  LEFT JOIN lcp pv ON pv.rn = s.rn - 1)""")
    P.append(f"""iv AS MATERIALIZED (
  SELECT doc_id, pos, pos + dup_len AS e
  FROM dupl WHERE dup_len >= {min_len})""")
    P.append("""fl AS MATERIALIZED (
  SELECT doc_id, pos, e,
         CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                IS NULL
              OR pos > max(e) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS f
  FROM iv)""")
    P.append("""gr AS MATERIALIZED (
  SELECT doc_id, pos, e,
         sum(f) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS g
  FROM fl)""")
    if emit == "spans":
        return "WITH " + ",\n".join(P) + """
SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
       CAST(max(e) - min(pos) AS INT) AS span_len
FROM gr GROUP BY doc_id, g"""
    # emit == "trim": drop every covered token, re-assemble the text
    P.append("""spans AS MATERIALIZED (
  SELECT doc_id, min(pos) AS s, max(e) AS e
  FROM gr GROUP BY doc_id, g)""")
    P.append("""kept AS MATERIALIZED (
  SELECT t.doc_id, t.pos, t.word FROM toks t
  WHERE NOT EXISTS (SELECT 1 FROM spans sp
                    WHERE sp.doc_id = t.doc_id
                      AND t.pos >= sp.s AND t.pos < sp.e))""")
    P.append("""cl AS MATERIALIZED (
  SELECT doc_id, CAST(count(*) AS INT) AS k,
         array_to_string(list(word ORDER BY pos), ' ') AS clean_text
  FROM kept GROUP BY doc_id)""")
    return "WITH " + ",\n".join(P) + """
SELECT d.doc_id,
       CAST(coalesce(dl.n_toks, 0) AS INT) AS n_tokens,
       CAST(coalesce(dl.n_toks, 0) - coalesce(cl.k, 0) AS INT)
         AS n_removed,
       coalesce(cl.clean_text, '') AS clean_text
FROM documents d
LEFT JOIN doclen dl ON dl.doc_id = d.doc_id
LEFT JOIN cl ON cl.doc_id = d.doc_id"""


@register("dedup_duplicate_spans_maximal", _maximal_spans_oracle_sql())
def q_dedup_duplicate_spans_maximal(spark, sf_dir):
    """Variable-length ExactSubstr (Lee et al., ACL 2022): the merged
    MAXIMAL duplicated spans per document — distributed suffix
    ranking by prefix doubling (ceil(log2(max doc tokens)) sorted
    self-join rounds, two-phase global row numbers, never a
    single-task window), rank-level LCP descent between suffix-array
    neighbors, tail clamp, per-doc interval merge
    (operators/dedup.py:duplicate_spans_maximal; exact-match tested
    vs a pure-Python suffix-array reference)."""
    return dedup.duplicate_spans_maximal(
        _t(spark, sf_dir, "documents"))


@register("audio_decode_flac", """
WITH d AS (
  SELECT doc_id, 8000 * (1 + doc_id % 3) AS rate,
         200 + (doc_id % 37) * 10 AS n
  FROM documents),
s AS (
  SELECT d.doc_id, d.rate, d.n, i.i
  FROM d CROSS JOIN generate_series(0, 559) AS i(i)
  WHERE i.i < d.n)
SELECT doc_id,
       CAST(rate AS INT) AS sample_rate,
       1 AS n_channels, 16 AS bits_per_sample,
       CAST(n AS BIGINT) AS n_samples,
       floor(CAST(n AS DOUBLE) / rate * 1000000.0 + 0.5) / 1000000.0
         AS duration_s,
       floor(sqrt(avg(CAST((i * 17 + doc_id * 31) % 4096 - 2048 AS DOUBLE)
                      * CAST((i * 17 + doc_id * 31) % 4096 - 2048
                             AS DOUBLE)))
             * 1000000.0 + 0.5) / 1000000.0 AS rms
FROM s GROUP BY doc_id, rate, n
""")
def q_audio_decode_flac(spark, sf_dir):
    """REAL FLAC decode end-to-end (r10): the WAV fixture tone is
    compressed through the real FLAC encoder executor-side, then the
    feature query drives the full decode — metadata walk, frame
    headers with CRC-8, fixed-predictor subframes, partitioned-rice
    entropy decode, CRC-16 — and, FLAC being lossless and
    integer-exact, the SAME symbolic tone oracle as
    audio_decode_features predicts the decoded features of the
    compressed stream (operators/multimodal.py:_decode_flac /
    encode_flac; round-trip + fuzz in tests/test_multimodal_decode.py
    and test_decoder_fuzz.py)."""
    payloads = multimodal.attach_flac_payload(
        _t(spark, sf_dir, "documents"))
    feats = multimodal.audio_features(payloads)
    return (feats.where(F.col("decode_ok"))
            .select("doc_id", "sample_rate", "n_channels",
                    "bits_per_sample", "n_samples",
                    (F.floor(F.col("duration_s") * 1000000.0 + 0.5)
                     / 1000000.0).alias("duration_s"),
                    (F.floor(F.col("rms") * 1000000.0 + 0.5)
                     / 1000000.0).alias("rms")))


@register("dedup_exactsubstr_trim",
          _maximal_spans_oracle_sql(emit="trim"))
def q_dedup_exactsubstr_trim(spark, sf_dir):
    """The ExactSubstr TRIMMER (apply side of
    dedup_duplicate_spans_maximal): drop every token covered by a
    maximal duplicated span and re-assemble the cleaned text — the
    operation the Lee et al. pipeline actually ships
    (operators/dedup.py:exactsubstr_trim)."""
    return dedup.exactsubstr_trim(_t(spark, sf_dir, "documents"))
