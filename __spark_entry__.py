"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship ER pipeline over sf0.001 (repo_files shaped from
                 the documents table) -> cluster assignments.
queries()      — one entry per implemented operator family from SURVEY.md §2
                 (+ the training-data ops), each (spark, sf_dir) -> DataFrame.
oracle_sql()   — DuckDB-equivalent SQL for every SQL-expressible query.

Value-parity rules used throughout (Spark vs DuckDB must hash-match):
  * integer-valued sums/counts only, or the cents trick
    (sum of round(x*100) is exact in double; divide once at the end);
  * explicit sum/count instead of avg() so both engines do one division;
  * every float output rounded; every window given a total order;
  * DuckDB SUM(BIGINT) returns HUGEINT -> always CAST to BIGINT in oracles.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full ER pipeline (blocking -> salted pairs -> Arrow scoring
    -> large/small-star CC) over repo_files shaped from sf0.001 documents."""
    from entitylinking_spark.operators.blocking import ERConfig
    from entitylinking_spark.plans.pipeline import resolve
    from entitylinking_spark.synthdata import repo_files_from_documents

    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    repo_files = repo_files_from_documents(docs)
    res = resolve(repo_files, ERConfig(), id_col="row_id")
    return res.clusters


# ---------------------------------------------------------------------------
# oracle-checked queries (SQL-expressible operators)
# ---------------------------------------------------------------------------


def _duck_round(col, digits: int):
    """DuckDB-matching ROUND for DOUBLE columns: std::round(x*10^d)/10^d.

    Spark's F.round is BigDecimal HALF_UP over the double's EXACT binary
    expansion; DuckDB rounds the FP product x*10^d with std::round. The
    two disagree on ~20% of values whose true rational value IS a 10^-d
    half (e.g. a per-doc ratio c/n with n divisible by 5): the binary
    double sits a hair off the half, BigDecimal honors that side, while
    the FP product rounds back ONTO the half and std::round takes it away
    from zero. Two per-doc ratio queries went driver-red on exactly this
    class in round 5 (rows+schema green, hash red, bit-exact locally).

    Emulation measured 0/8111 disagreements vs DuckDB 1.0.0 ROUND on a
    dense near-half probe set (incl. the z+0.5-overflow edge where
    floor(z+0.5) differs from std::round): the half test uses z-floor(z),
    which is exact for |z| < 2^52. Values here are small ratios/scores,
    far below that bound. For values away from any half boundary this is
    bit-identical to F.round — every local oracle stays value-exact.
    """
    p = float(10 ** digits)
    x = col.cast("double")
    z = x * F.lit(p)
    zf = F.floor(z).cast("double")
    frac = z - zf
    up = F.when(z >= 0, frac >= 0.5).otherwise(frac > 0.5)
    rounded = F.when(up, zf + 1.0).otherwise(zf) / F.lit(p)
    # NaN/±Inf/huge pass through unchanged (F.round semantics); beyond
    # 2^52 the value is integral anyway, so rounding is the identity
    return F.when(F.isnan(z) | (F.abs(z) > F.lit(4.5e15)), x).otherwise(rounded)


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/A6-style grouped aggregation (TPC-H Q1 shape) with exact arithmetic."""
    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.round(F.sum(cents) / 100.0, 2).alias("sum_base_price"),
            F.count("*").alias("count_order"),
            F.round(
                F.sum(F.col("l_quantity").cast("long"))
                / F.count("*"), 6
            ).alias("avg_qty"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       ROUND(CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT)/100.0, 2) AS sum_base_price,
       COUNT(*) AS count_order,
       ROUND(CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)/COUNT(*), 6) AS avg_qty
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def j1_enrichment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 3-way enrichment join: lineitem |> orders |> customer (broadcast
    the small dimension side), aggregated per (mktsegment, orderpriority)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.col("l_quantity").cast("long")).alias("total_qty"),
        )
        .orderBy("c_mktsegment", "o_orderpriority")
    )


J1_SQL = """
SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n_lines,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment, o_orderpriority
ORDER BY c_mktsegment, o_orderpriority
"""


def j2_composite_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 multi-hop dimension join: orders -> customer -> nation -> region."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum(cents) / 100.0, 2).alias("revenue"),
        )
        .orderBy("r_name")
    )


J2_SQL = """
SELECT r_name, COUNT(*) AS n_orders,
       ROUND(CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT)/100.0, 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name
"""


def f4_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: parts appearing in any lineitem (left_semi), counted per brand."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    return (
        p.join(li, p["p_partkey"] == li["l_partkey"], "left_semi")
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_parts"))
        .orderBy("p_brand")
    )


F4_SQL = """
SELECT p_brand, COUNT(*) AS n_parts FROM part
WHERE p_partkey IN (SELECT l_partkey FROM lineitem)
GROUP BY p_brand ORDER BY p_brand
"""


def f5_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: customers with no orders (left_anti), re-tagged and unioned with
    a 'has_orders' count row per segment."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    no = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"))
        .withColumn("bucket", F.lit("no_orders"))
    )
    yes = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"))
        .withColumn("bucket", F.lit("has_orders"))
    )
    return no.unionByName(yes).select("c_mktsegment", "bucket", "n").orderBy(
        "c_mktsegment", "bucket"
    )


F5_SQL = """
SELECT c_mktsegment, 'no_orders' AS bucket, COUNT(*) AS n FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders) GROUP BY c_mktsegment
UNION ALL
SELECT c_mktsegment, 'has_orders' AS bucket, COUNT(*) AS n FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders) GROUP BY c_mktsegment
ORDER BY c_mktsegment, bucket
"""


def j5_explode_regroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 list2point/point2list: explode doc tokens, filter, regroup."""
    d = _t(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"[^\w]+"), lambda t: F.length(t) > 3
    )
    return d.select(
        "doc_id", F.size(F.array_distinct(toks)).alias("n_distinct_long_tokens")
    ).orderBy("doc_id")


J5_SQL = """
SELECT doc_id,
       CAST(len(list_distinct(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
                                          t -> len(t) > 3))) AS INT) AS n_distinct_long_tokens
FROM documents ORDER BY doc_id
"""


def t1_topk_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1-T3: deterministic top-3 orders per market segment."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = o.join(c, o["o_custkey"] == c["c_custkey"])
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("o_totalprice"), F.col("o_orderkey")
    )
    return (
        j.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("c_mktsegment", "o_orderkey", "rnk",
                F.round(F.col("o_totalprice"), 2).alias("price"))
        .orderBy("c_mktsegment", "rnk")
    )


T1_SQL = """
SELECT c_mktsegment, o_orderkey, rnk, price FROM (
  SELECT c_mktsegment, o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk,
         ROUND(o_totalprice, 2) AS price
  FROM orders JOIN customer ON o_custkey = c_custkey
) WHERE rnk <= 3 ORDER BY c_mktsegment, rnk
"""


def t4_tiebreak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 deterministic argmin: first order per customer by
    (orderdate, totalprice, orderkey) — the reference's tie-break order."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_totalprice", "o_orderkey"
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey")
        .orderBy("o_custkey")
    )


T4_SQL = """
SELECT o_custkey, o_orderkey FROM (
  SELECT o_custkey, o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_totalprice, o_orderkey) AS rn
  FROM orders
) WHERE rn = 1 ORDER BY o_custkey
"""


def t5_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 first-seen dedupe: first event per user by arrival (ts, event_id)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
        .orderBy("user_id")
    )


T5_SQL = """
SELECT user_id, event_id, event_type FROM (
  SELECT user_id, event_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn = 1 ORDER BY user_id
"""


def a3_share_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 per-group accuracy-style ratio with exact int sums."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("value") > 0.5).cast("long")).alias("n_high"),
            _duck_round(F.sum((F.col("value") > 0.5).cast("long")) / F.count("*"), 6).alias("high_share"),
        )
        .orderBy("event_type")
    )


A3_SQL = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CASE WHEN value > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
       ROUND(CAST(SUM(CASE WHEN value > 0.5 THEN 1 ELSE 0 END) AS BIGINT)/COUNT(*), 6) AS high_share
FROM events GROUP BY event_type ORDER BY event_type
"""


def a5_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 dataset statistics per language (exact aggregates only)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang")
    )


A5_SQL = """
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
FROM documents GROUP BY lang ORDER BY lang
"""


def a6_micro_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 micro P/R/F1 over a deterministic classification derived from
    events: pred = value>0.5, truth = event_type='click'."""
    e = _t(spark, sf_dir, "events")
    d = e.select(
        (F.col("value") > 0.5).alias("pred"), (F.col("event_type") == "click").alias("truth")
    )
    agg = d.agg(
        F.sum((F.col("pred") & F.col("truth")).cast("long")).alias("tp"),
        F.sum((F.col("pred") & ~F.col("truth")).cast("long")).alias("fp"),
        F.sum((~F.col("pred") & F.col("truth")).cast("long")).alias("fn"),
    )
    return agg.select(
        "tp", "fp", "fn",
        _duck_round(F.col("tp") / (F.col("tp") + F.col("fp")), 6).alias("precision"),
        _duck_round(F.col("tp") / (F.col("tp") + F.col("fn")), 6).alias("recall"),
    )


A6_SQL = """
WITH d AS (SELECT value > 0.5 AS pred, event_type = 'click' AS truth FROM events),
agg AS (
  SELECT CAST(SUM(CASE WHEN pred AND truth THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN pred AND NOT truth THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN NOT pred AND truth THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM d)
SELECT tp, fp, fn, ROUND(tp/(tp+fp), 6) AS precision, ROUND(tp/(tp+fn), 6) AS recall
FROM agg
"""


def u3_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3 set intersection: event users that are also customers."""
    e = _t(spark, sf_dir, "events")
    c = _t(spark, sf_dir, "customer")
    return (
        e.select(F.col("user_id").alias("id"))
        .intersect(c.select(F.col("c_custkey").alias("id")))
        .orderBy("id")
    )


U3_SQL = """
SELECT user_id AS id FROM events INTERSECT SELECT c_custkey AS id FROM customer
ORDER BY id
"""


def x2_normalize_ws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 whitespace normalization, first 60 chars."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.substring(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "), 1, 60).alias("norm_prefix"),
    ).orderBy("doc_id")


X2_SQL = """
SELECT doc_id, substr(regexp_replace(trim(text), '\\s+', ' ', 'g'), 1, 60) AS norm_prefix
FROM documents ORDER BY doc_id
"""


def x5_first_sentence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 first-sentence summary."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.concat(F.substring_index(F.col("text"), ".", 1), F.lit(".")).alias("summary"),
    ).orderBy("doc_id")


X5_SQL = """
SELECT doc_id, split_part(text, '.', 1) || '.' AS summary FROM documents ORDER BY doc_id
"""


def x6_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 lowercase tokenize + count (exact ints)."""
    d = _t(spark, sf_dir, "documents")
    toks = F.array_remove(F.split(F.lower(F.col("text")), r"[^\w]+"), "")
    return d.select("doc_id", F.size(toks).alias("n_tokens")).orderBy("doc_id")


X6_SQL = """
SELECT doc_id,
       CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
                            t -> t <> '')) AS INT) AS n_tokens
FROM documents ORDER BY doc_id
"""


def x7_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 bidirectional substring name score over supplier x nation."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    j = s.crossJoin(F.broadcast(n))
    a, b = F.lower(F.col("s_name")), F.lower(F.col("n_name"))
    score = (
        F.when(a == b, F.lit(1.0))
        .when(a.contains(b) | b.contains(a), F.lit(0.7))
        .otherwise(F.lit(0.0))
    )
    return j.select("s_suppkey", "n_nationkey", score.alias("name_score")).orderBy(
        "s_suppkey", "n_nationkey"
    )


X7_SQL = """
SELECT s_suppkey, n_nationkey,
       CASE WHEN lower(s_name) = lower(n_name) THEN 1.0
            WHEN position(lower(n_name) IN lower(s_name)) > 0
              OR position(lower(s_name) IN lower(n_name)) > 0 THEN 0.7
            ELSE 0.0 END AS name_score
FROM supplier CROSS JOIN nation ORDER BY s_suppkey, n_nationkey
"""


def x8_term_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X8 term-frequency: occurrences of 'data' per document."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        (F.size(F.split(F.lower(F.col("text")), "data", -1)) - 1).alias("tf_data"),
    ).orderBy("doc_id")


X8_SQL = """
SELECT doc_id, CAST(len(regexp_split_to_array(lower(text), 'data')) - 1 AS INT) AS tf_data
FROM documents ORDER BY doc_id
"""


def x15_minmax_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X15 per-group min-max normalization of order totalprice."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority")
    rng = F.max("o_totalprice").over(w) - F.min("o_totalprice").over(w)
    norm = F.when(rng == 0, F.lit(0.0)).otherwise(
        (F.col("o_totalprice") - F.min("o_totalprice").over(w)) / rng
    )
    return o.select(
        "o_orderkey", "o_orderpriority", _duck_round(norm, 6).alias("norm_price")
    ).orderBy("o_orderkey")


X15_SQL = """
SELECT o_orderkey, o_orderpriority,
       ROUND(CASE WHEN mx = mn THEN 0.0 ELSE (o_totalprice - mn) / (mx - mn) END, 6) AS norm_price
FROM (
  SELECT o_orderkey, o_orderpriority, o_totalprice,
         MIN(o_totalprice) OVER (PARTITION BY o_orderpriority) AS mn,
         MAX(o_totalprice) OVER (PARTITION BY o_orderpriority) AS mx
  FROM orders
) ORDER BY o_orderkey
"""


def x17_blend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X17 confidence blend: 0.7*normalized price + 0.3*normalized size."""
    p = _t(spark, sf_dir, "part")
    w = Window.partitionBy(F.lit(1))
    price_n = F.col("p_retailprice") / F.max("p_retailprice").over(w)
    size_n = F.col("p_size") / F.max("p_size").over(w)
    return p.select(
        "p_partkey", _duck_round(0.7 * price_n + 0.3 * size_n, 6).alias("blend")
    ).orderBy("p_partkey")


X17_SQL = """
SELECT p_partkey,
       ROUND(0.7 * p_retailprice / MAX(p_retailprice) OVER ()
           + 0.3 * p_size / MAX(p_size) OVER (), 6) AS blend
FROM part ORDER BY p_partkey
"""


def j6_label_in_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6/A13: candidate-set membership — did supplier 1 supply the part?"""
    li = _t(spark, sf_dir, "lineitem")
    cand = li.groupBy("l_partkey").agg(F.collect_set("l_suppkey").alias("supps"))
    return cand.select(
        F.col("l_partkey").alias("partkey"),
        F.array_contains("supps", F.lit(1)).alias("has_supp1"),
        F.size("supps").alias("n_suppliers"),
    ).orderBy("partkey")


J6_SQL = """
SELECT l_partkey AS partkey,
       list_contains(list(DISTINCT l_suppkey), 1) AS has_supp1,
       CAST(len(list(DISTINCT l_suppkey)) AS INT) AS n_suppliers
FROM lineitem GROUP BY l_partkey ORDER BY partkey
"""


def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over documents via md5 grouping (rep = min doc_id)."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5(F.col("text")))
    return d.select(
        "doc_id",
        F.min("doc_id").over(w).alias("rep_id"),
        (F.col("doc_id") != F.min("doc_id").over(w)).alias("is_duplicate"),
    ).orderBy("doc_id")


DEDUP_EXACT_SQL = """
SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS rep_id,
       doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_duplicate
FROM documents ORDER BY doc_id
"""


def g3_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3 transitive closure, oracle-checked: chain edges within each
    embedding label (consecutive vec_ids) -> REAL large/small-star CC; the
    oracle knows the answer is per-label min(vec_id)."""
    from entitylinking_spark.operators.cc import connected_components

    emb = _t(spark, sf_dir, "embeddings")
    w = Window.partitionBy("label").orderBy("vec_id")
    chain = emb.select("vec_id", "label", F.lag("vec_id").over(w).alias("prev"))
    # zero-pad ids so lexicographic string order == numeric order
    sid = lambda c: F.format_string("v%08d", F.col(c))  # noqa: E731
    edges = chain.filter(F.col("prev").isNotNull()).select(
        sid("prev").alias("src"), sid("vec_id").alias("dst")
    )
    all_ids = emb.select(sid("vec_id").alias("row_id"))
    return connected_components(edges, all_ids=all_ids).orderBy("row_id")


G3_SQL = """
SELECT printf('v%08d', vec_id) AS row_id,
       printf('v%08d', MIN(vec_id) OVER (PARTITION BY label)) AS cluster_id
FROM embeddings ORDER BY row_id
"""


def g5_overlapping_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5 overlapping tournament groups (size 3, overlap 2) over per-nation
    supplier rankings — the named operator for the reference's
    _create_overlapping_groups (graph_system.py:702-752). The coverage
    repair path (unreachable at stride 1) has its own oracle at stride 2
    (`g5_stride2_repair`) and is parity-tested in
    tests/test_overlapping_groups.py against a port of the reference loop.

    The member list is emitted as a comma-joined string (not array<string>):
    the driver's canonicalizer sorts output columns with pandas, which
    cannot hash list-typed cells (the a2_collect_sorted pattern)."""
    from entitylinking_spark.operators.ranking import overlapping_groups

    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("mention_id"),
        F.col("s_suppkey").alias("entity_id"),
        F.col("s_acctbal").alias("score"),
    )
    return (
        overlapping_groups(s, group_size=3, overlap=2)
        .select(
            "mention_id", "group_id",
            F.array_join(F.col("entity_ids").cast("array<string>"), ",")
            .alias("entity_ids"),
        )
        .orderBy("mention_id", "group_id")
    )


G5_SQL = """
WITH ranked AS (
  SELECT s_nationkey AS mention_id, s_suppkey AS entity_id,
         ROW_NUMBER() OVER (PARTITION BY s_nationkey
                            ORDER BY s_acctbal DESC, s_suppkey) - 1 AS pos,
         COUNT(*) OVER (PARTITION BY s_nationkey) AS n
  FROM supplier
),
meta AS (SELECT mention_id, MAX(n) AS n FROM ranked GROUP BY mention_id),
small AS (
  SELECT mention_id, 0 AS start, n AS win FROM meta WHERE n <= 3
),
big AS (
  SELECT mention_id, unnest(range(0, n - 2)) AS start, 3 AS win
  FROM meta WHERE n > 3
),
groups AS (
  SELECT mention_id, start, win,
         ROW_NUMBER() OVER (PARTITION BY mention_id ORDER BY start) - 1 AS group_id
  FROM (SELECT * FROM small UNION ALL SELECT * FROM big)
)
SELECT r.mention_id, g.group_id,
       array_to_string(list(CAST(r.entity_id AS VARCHAR) ORDER BY r.pos), ',')
         AS entity_ids
FROM ranked r JOIN groups g
  ON r.mention_id = g.mention_id
 AND r.pos >= g.start AND r.pos < g.start + g.win
GROUP BY r.mention_id, g.group_id
ORDER BY r.mention_id, g.group_id
"""


def g5_repair_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5 coverage-repair path under oracle: group_size=3, overlap=0 over
    the top-13 docs per lang (13 = 1 mod 3), so the tail window has one
    member, is skipped (reference graph_system.py:713-714 "at least 2
    candidates"), and the uncovered doc is repaired into the group with
    the best word-overlap similarity (graph_system.py:735-752). The
    DuckDB oracle recomputes the whole flow including the similarity
    argmax. Members emitted as a comma-joined string (driver canon)."""
    from entitylinking_spark.operators.ranking import overlapping_groups

    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), "doc_id")
    capped = (
        d.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= 13)
        .select(
            F.col("lang").alias("mention_id"),
            F.col("doc_id").alias("entity_id"),
            F.col("n_chars").alias("score"),
            "text",
        )
    )
    return (
        overlapping_groups(capped, group_size=3, overlap=0, text_col="text")
        .select(
            "mention_id", "group_id",
            F.array_join(F.col("entity_ids").cast("array<string>"), ",")
            .alias("entity_ids"),
        )
        .orderBy("mention_id", "group_id")
    )


G5_REPAIR_SQL = r"""
WITH ranked AS (
  SELECT * FROM (
    SELECT lang AS mention_id, doc_id AS entity_id, text,
           ROW_NUMBER() OVER (PARTITION BY lang
                              ORDER BY n_chars DESC, doc_id) - 1 AS pos
    FROM documents
  ) WHERE pos < 13
),
meta AS (SELECT mention_id, COUNT(*) AS n FROM ranked GROUP BY mention_id),
small AS (
  SELECT mention_id, 0 AS start, n AS win FROM meta WHERE n <= 3
),
big AS (
  SELECT mention_id, start, 3 AS win FROM (
    SELECT mention_id, n, unnest(range(0, n + 1, 3)) AS start
    FROM meta WHERE n > 3
  ) WHERE (start = 0 OR start - 3 + 3 < n) AND n - start >= 2
),
groups AS (
  SELECT mention_id, start, win,
         ROW_NUMBER() OVER (PARTITION BY mention_id ORDER BY start) - 1 AS group_id
  FROM (SELECT * FROM small UNION ALL SELECT * FROM big)
),
members AS (
  SELECT r.mention_id, r.entity_id, r.pos, r.text, g.group_id
  FROM ranked r JOIN groups g
    ON r.mention_id = g.mention_id
   AND r.pos >= g.start AND r.pos < g.start + g.win
),
gtext AS (
  SELECT mention_id, group_id,
         list_distinct(list_filter(
           string_split_regex(lower(string_agg(text, ' ')), '\s+'),
           x -> x <> '')) AS gw
  FROM members GROUP BY mention_id, group_id
),
missing AS (
  SELECT r.mention_id, r.entity_id, r.pos,
         list_distinct(list_filter(
           string_split_regex(lower(r.text), '\s+'), x -> x <> '')) AS cw
  FROM ranked r
  LEFT JOIN (SELECT DISTINCT mention_id, pos FROM members) m
    ON r.mention_id = m.mention_id AND r.pos = m.pos
  WHERE m.pos IS NULL
),
repair AS (
  SELECT mention_id, entity_id, group_id, pos FROM (
    SELECT mi.mention_id, mi.entity_id, g.group_id,
           mi.pos + 1000000 AS pos,
           CAST(len(list_intersect(mi.cw, g.gw)) AS DOUBLE)
             / greatest(len(mi.cw), len(g.gw), 1) AS sim,
           ROW_NUMBER() OVER (
             PARTITION BY mi.mention_id, mi.pos
             ORDER BY CAST(len(list_intersect(mi.cw, g.gw)) AS DOUBLE)
                        / greatest(len(mi.cw), len(g.gw), 1) DESC,
                      g.group_id) AS rk
    FROM missing mi JOIN gtext g ON mi.mention_id = g.mention_id
    WHERE CAST(len(list_intersect(mi.cw, g.gw)) AS DOUBLE)
            / greatest(len(mi.cw), len(g.gw), 1) > 0.1
  ) WHERE rk = 1
),
allm AS (
  SELECT mention_id, entity_id, group_id, pos FROM members
  UNION ALL
  SELECT mention_id, entity_id, group_id, pos FROM repair
)
SELECT mention_id, group_id,
       array_to_string(list(CAST(entity_id AS VARCHAR) ORDER BY pos), ',')
         AS entity_ids
FROM allm GROUP BY mention_id, group_id
ORDER BY mention_id, group_id
"""


def u1_union_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 union of id sources + dedupe."""
    e = _t(spark, sf_dir, "events")
    o = _t(spark, sf_dir, "orders")
    return (
        e.select(F.col("user_id").alias("id"))
        .unionByName(o.select(F.col("o_custkey").alias("id")))
        .distinct()
        .orderBy("id")
    )


U1_SQL = """
SELECT DISTINCT id FROM (
  SELECT user_id AS id FROM events UNION ALL SELECT o_custkey AS id FROM orders
) ORDER BY id
"""


def f2_filter_notin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 NIL-style sentinel filter: drop a source bucket, count remainder."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.filter(~F.col("source").isin("synthetic_a"))
        .groupBy("source")
        .agg(F.count("*").alias("n"))
        .orderBy("source")
    )


F2_SQL = """
SELECT source, COUNT(*) AS n FROM documents
WHERE source NOT IN ('synthetic_a') GROUP BY source ORDER BY source
"""


def a2_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 point2list-style regroup: deterministic sorted collect per group.

    The collected set is emitted as a joined string (not array<string>): the
    driver's canonicalizer sorts output columns with pandas, which cannot
    hash list-typed cells (round-1 red row)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.array_join(F.sort_array(F.collect_set("source")), ",").alias("sources"),
            F.count("*").alias("n_docs"),
        )
        .orderBy("lang")
    )


A2_SQL = """
SELECT lang, array_to_string(list_sort(list(DISTINCT source)), ',') AS sources,
       COUNT(*) AS n_docs
FROM documents GROUP BY lang ORDER BY lang
"""


def q_cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/A6 multi-granularity: per-type x overall in one pass (cube)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.cube("event_type")
        .agg(F.count("*").alias("n"),
             F.sum(F.col("user_id")).alias("sum_users"))
        .select(
            F.coalesce(F.col("event_type"), F.lit("(all)")).alias("bucket"),
            "n", "sum_users",
        )
        .orderBy("bucket")
    )


CUBE_SQL = """
SELECT COALESCE(event_type, '(all)') AS bucket, COUNT(*) AS n,
       CAST(SUM(user_id) AS BIGINT) AS sum_users
FROM events GROUP BY CUBE(event_type) ORDER BY bucket
"""


def j3_channel_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 merge-context-and-prior: two independently-derived per-user
    channels joined on the key, with an agreement flag."""
    e = _t(spark, sf_dir, "events")
    ctx = (
        e.groupBy("user_id")
        .agg(F.max_by("event_type", F.struct(F.col("value"), F.col("event_id"))).alias("ctx_pick"))
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prior = (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("prior_pick"))
    )
    return (
        ctx.join(prior, "user_id")
        .withColumn("agree", F.col("ctx_pick") == F.col("prior_pick"))
        .orderBy("user_id")
    )


J3_SQL = """
WITH ctx AS (
  SELECT user_id, event_type AS ctx_pick FROM (
    SELECT user_id, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY value DESC, event_id DESC) AS rn
    FROM events) WHERE rn = 1
), prior AS (
  SELECT user_id, event_type AS prior_pick FROM (
    SELECT user_id, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events) WHERE rn = 1
)
SELECT ctx.user_id, ctx_pick, prior_pick, ctx_pick = prior_pick AS agree
FROM ctx JOIN prior ON ctx.user_id = prior.user_id ORDER BY ctx.user_id
"""


def t2_boosted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 BM25-style top-k with boosts: base score + exact-match bonus."""
    d = _t(spark, sf_dir, "documents")
    score = (
        F.col("n_chars").cast("double")
        + F.when(F.col("source") == "web", F.lit(10000.0)).otherwise(F.lit(0.0))
        + F.when(F.col("source").contains("wiki"), F.lit(5000.0)).otherwise(F.lit(0.0))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("boosted"), F.col("doc_id"))
    return (
        d.withColumn("boosted", score)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("lang", "doc_id", "rnk", F.round("boosted", 2).alias("boosted_r"))
        .orderBy("lang", "rnk")
    )


T2_SQL = """
SELECT lang, doc_id, rnk, boosted_r FROM (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY boosted DESC, doc_id) AS rnk,
         ROUND(boosted, 2) AS boosted_r
  FROM (
    SELECT lang, doc_id,
           CAST(n_chars AS DOUBLE)
           + CASE WHEN source = 'web' THEN 10000.0 ELSE 0.0 END
           + CASE WHEN position('wiki' IN source) > 0 THEN 5000.0 ELSE 0.0 END AS boosted
    FROM documents)
) WHERE rnk <= 5 ORDER BY lang, rnk
"""


def x4_cut_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 sentence cut: tail after the last '.' + first sentence."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.element_at(F.split(F.col("text"), r"\.", -1), -1).alias("cut_left"),
        F.concat(F.substring_index(F.col("text"), ".", 1), F.lit(".")).alias("cut_right"),
    ).orderBy("doc_id")


X4_SQL = """
SELECT doc_id,
       regexp_split_to_array(text, '\\.')[-1] AS cut_left,
       split_part(text, '.', 1) || '.' AS cut_right
FROM documents ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# sketch / EM / pipeline queries with constructed-duplicate oracles
#
# The raw `documents` table has no near-duplicates, so the ER query
# runs over an AUGMENTED corpus both engines construct identically: each
# doc_id % 3 == 0 gets a near-copy (+3 tokens), % 6 == 0 a second-degree
# copy (+5 tokens, chained similarity), % 5 == 0 a copy whose DISTINCT
# token set is unchanged (first token repeated). Ids are zero-padded so
# string MIN == numeric MIN. The cluster oracle is exact-similarity edges +
# a recursive-CTE transitive closure in DuckDB.
# ---------------------------------------------------------------------------

_AUG_SQL = """
aug AS (
  SELECT printf('d%08d', doc_id) AS doc_id, text, lang, source FROM documents
  UNION ALL
  SELECT printf('d%08d', doc_id + 100000), text || ' quality metric signal', lang, source
  FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT printf('d%08d', doc_id + 200000), text || ' quality metric signal extra margin', lang, source
  FROM documents WHERE doc_id % 6 = 0
  UNION ALL
  SELECT printf('d%08d', doc_id + 300000), text || ' ' || split_part(text, ' ', 1), lang, source
  FROM documents WHERE doc_id % 5 = 0
)
"""

# token trigram list per augmented doc (matches functions/strings.ngram_set)
_GRAMS_SQL = """
grams AS (
  SELECT doc_id, lang,
         CASE WHEN len(toks) >= 3
              THEN list_distinct(list_transform(range(1, len(toks) - 1),
                                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
              ELSE list_distinct(toks) END AS g
  FROM (SELECT doc_id, lang,
               list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
                           t -> t <> '') AS toks
        FROM aug)
)
"""

# recursive min-label propagation over symmetric `edges(a,b)` + node set
_CC_SQL = """
sym AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
reach AS (
  SELECT doc_id AS id, doc_id AS comp FROM aug
  UNION
  SELECT s.b AS id, r.comp FROM reach r JOIN sym s ON s.a = r.id
)
SELECT id AS row_id, MIN(comp) AS cluster_id FROM reach GROUP BY id
ORDER BY row_id
"""

_JACCARD_SQL = (
    "CASE WHEN len(list_distinct(l.g || r.g)) = 0 THEN 1.0 "
    "ELSE CAST(len(list_intersect(l.g, r.g)) AS DOUBLE) "
    "/ len(list_distinct(l.g || r.g)) END"
)


def _augmented_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _AUG_SQL."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang", "source")
    pid = lambda shift: F.format_string("d%08d", F.col("doc_id") + F.lit(shift))  # noqa: E731
    base = d.select(pid(0).alias("doc_id"), "text", "lang", "source")
    c1 = d.filter(F.col("doc_id") % 3 == 0).select(
        pid(100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" quality metric signal")).alias("text"),
        "lang", "source",
    )
    c2 = d.filter(F.col("doc_id") % 6 == 0).select(
        pid(200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" quality metric signal extra margin")).alias("text"),
        "lang", "source",
    )
    c3 = d.filter(F.col("doc_id") % 5 == 0).select(
        pid(300000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" "), F.element_at(F.split(F.col("text"), " "), 1)).alias("text"),
        "lang", "source",
    )
    return base.unionByName(c1).unionByName(c2).unionByName(c3)


def er_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship ER pipeline (blocking -> salted pairs -> prescreen -> exact
    trigram-Jaccard verify -> CC) over repo_files shaped from the augmented
    documents. Config pins the decision to pure content similarity
    (w_name=0, verify_ngram=3), which the DuckDB oracle recomputes exactly.
    Candidate recall: all docs share the path stem, so every pair gets both
    the fine (16x4) and coarse (16x2) band channels; oracle edges sit at
    trigram J >= 0.6875 (measured; largest NON-edge pair is J=0.086), where
    the combined per-pair miss probability is ~6e-7."""
    from entitylinking_spark.operators.blocking import ERConfig
    from entitylinking_spark.plans.pipeline import resolve
    from entitylinking_spark.synthdata import repo_files_from_documents

    aug = _augmented_docs(spark, sf_dir).withColumn(
        "doc_id", F.regexp_replace("doc_id", "^d", "").cast("long")
    )
    repo_files = repo_files_from_documents(aug)
    cfg = ERConfig(w_name=0.0, w_content=1.0, verify_ngram=3)
    res = resolve(repo_files, cfg, id_col="row_id")
    return res.clusters.orderBy("row_id")


ER_CLUSTERS_SQL = (
    "WITH RECURSIVE "
    + _AUG_SQL.strip().rstrip()
    + ", "
    + _GRAMS_SQL.strip()
    + f""",
edges AS (
  SELECT l.doc_id AS a, r.doc_id AS b
  FROM grams l JOIN grams r ON l.lang = r.lang AND l.doc_id < r.doc_id
  WHERE {_JACCARD_SQL} >= 0.6
),
"""
    + _CC_SQL
)


def a7_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 recall@1/5 + avg candidate count through operators/evaluation.
    Candidate list per part = suppliers ordered by shipped quantity (desc,
    suppkey); label = min suppkey (a member whose rank varies)."""
    from entitylinking_spark.operators.evaluation import recall_at_k

    li = _t(spark, sf_dir, "lineitem")
    per = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("q")
    )
    cands = per.groupBy("l_partkey").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct((-F.col("q")).alias("nq"),
                                                 F.col("l_suppkey").alias("s")))),
            lambda x: x["s"].cast("string"),
        ).alias("candidates"),
        F.min("l_suppkey").cast("string").alias("label_id"),
    )
    out = recall_at_k(cands, ks=[1, 5])
    return out.select(
        _duck_round(F.col("recall_at_1"), 6).alias("recall_at_1"),
        _duck_round(F.col("recall_at_5"), 6).alias("recall_at_5"),
        _duck_round(F.col("avg_candidates"), 6).alias("avg_candidates"),
    )


A7_SQL = """
WITH per AS (
  SELECT l_partkey, l_suppkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
  FROM lineitem GROUP BY l_partkey, l_suppkey
),
c AS (
  SELECT l_partkey,
         list(CAST(l_suppkey AS VARCHAR) ORDER BY q DESC, l_suppkey) AS cands,
         CAST(MIN(l_suppkey) AS VARCHAR) AS label
  FROM per GROUP BY l_partkey
),
h AS (SELECT len(cands) AS n, COALESCE(list_position(cands, label), 0) AS fh FROM c)
SELECT ROUND(AVG(CASE WHEN fh BETWEEN 1 AND 1 THEN 1.0 ELSE 0.0 END), 6) AS recall_at_1,
       ROUND(AVG(CASE WHEN fh BETWEEN 1 AND 5 THEN 1.0 ELSE 0.0 END), 6) AS recall_at_5,
       ROUND(AVG(CAST(n AS DOUBLE)), 6) AS avg_candidates
FROM h
"""


def x9_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9 full BM25 (tf/df/avgdl Okapi scoring, operators/bm25.py) top-10
    for a fixed query over the documents corpus."""
    from entitylinking_spark.operators.bm25 import bm25_topk

    d = _t(spark, sf_dir, "documents")
    out = bm25_topk(d, ["spark", "table", "scan", "data"], top_k=10)
    return out.select(
        "doc_id", "rank", F.round("score", 6).alias("score_r")
    ).orderBy("rank")


X9_BM25_SQL = """
WITH t AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
                             x -> x <> '') AS toks
  FROM documents
),
dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM t),
stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE)/COUNT(*) AS avgdl FROM dl),
posts AS (
  SELECT doc_id, tok, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
  WHERE tok IN ('data', 'scan', 'spark', 'table')
  GROUP BY doc_id, tok
),
dfreq AS (SELECT tok, COUNT(*) AS df FROM posts GROUP BY tok),
scored AS (
  SELECT p.doc_id,
         SUM(ln(1.0 + (n_docs - df + 0.5)/(df + 0.5))
             * (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))) AS score
  FROM posts p JOIN dfreq USING (tok) JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN stats
  GROUP BY p.doc_id
)
SELECT doc_id, CAST(rank AS INT) AS rank, ROUND(score, 6) AS score_r FROM (
  SELECT doc_id, score, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
  FROM scored
) WHERE rank <= 10 ORDER BY rank
"""


def bt_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 Bradley-Terry EM, oracle-checked via a balanced design: per
    customer, DISTINCT order priorities form a strict dominance order (by
    max order price, tie-broken by priority name) and every ordered pair
    plays exactly once. For a balanced round-robin the BT maximum-likelihood
    ORDERING equals the win-count ordering, so the EM-fitted ranks must
    reproduce the dominance order — which DuckDB computes directly."""
    from entitylinking_spark.operators.ranking import rank_experiments

    o = _t(spark, sf_dir, "orders")
    pr = o.groupBy("o_custkey", "o_orderpriority").agg(F.max("o_totalprice").alias("mx"))
    w = Window.partitionBy("o_custkey").orderBy(F.desc("mx"), "o_orderpriority")
    ranked = pr.withColumn("pos", F.row_number().over(w))
    l = ranked.select(
        F.col("o_custkey").alias("cust"), F.col("o_orderpriority").alias("win_p"),
        F.col("pos").alias("pos_l"),
    )
    r = ranked.select(
        F.col("o_custkey").alias("cust"), F.col("o_orderpriority").alias("lose_p"),
        F.col("pos").alias("pos_r"),
    )
    exps = (
        l.join(r, "cust")
        .filter(F.col("pos_l") < F.col("pos_r"))
        .select(
            F.concat(F.lit("c"), F.col("cust")).alias("mention_id"),
            (F.col("pos_l") * 10 + F.col("pos_r")).cast("int").alias("exp_id"),
            F.array(F.col("win_p")).alias("winners"),
            F.array(F.col("lose_p")).alias("losers"),
        )
    )
    return (
        rank_experiments(exps, "bradley_terry")
        .select("mention_id", "entity_id", "rank")
        .orderBy("mention_id", "rank")
    )


BT_RANK_SQL = """
WITH pr AS (
  SELECT o_custkey, o_orderpriority, MAX(o_totalprice) AS mx
  FROM orders GROUP BY o_custkey, o_orderpriority
),
eligible AS (
  SELECT o_custkey FROM pr GROUP BY o_custkey HAVING COUNT(*) >= 2
),
rk AS (
  SELECT o_custkey, o_orderpriority,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY mx DESC, o_orderpriority) AS rank
  FROM pr JOIN eligible USING (o_custkey)
)
SELECT 'c' || CAST(o_custkey AS VARCHAR) AS mention_id,
       o_orderpriority AS entity_id, CAST(rank AS INT) AS rank
FROM rk ORDER BY mention_id, rank
"""


def _priority_dominance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared base for the three tournament-model oracles: per customer,
    DISTINCT order priorities in strict dominance order (max order price
    desc, priority name tie-break)."""
    o = _t(spark, sf_dir, "orders")
    pr = o.groupBy("o_custkey", "o_orderpriority").agg(F.max("o_totalprice").alias("mx"))
    w = Window.partitionBy("o_custkey").orderBy(F.desc("mx"), "o_orderpriority")
    return pr.withColumn("pos", F.row_number().over(w))


def pl_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 Plackett-Luce EM (Hunter 2004 MM, reference
    /root/reference/Sparkle/algorithms.py:91-178), oracle-checked via a
    single-full-ranking design: each customer contributes ONE experiment
    whose winners array is their complete priority dominance order. For a
    single observed ranking the PL MM fit is strictly decreasing along the
    ranking (verified exhaustively for group sizes 2..5 in
    tests/test_ranking.py — priorities have exactly 5 levels, so every
    group the data can produce is covered), so the fitted rank column must
    reproduce the dominance order, which DuckDB computes directly."""
    from entitylinking_spark.operators.ranking import rank_experiments

    ranked = _priority_dominance(spark, sf_dir)
    exps = (
        ranked.groupBy("o_custkey")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("pos", F.col("o_orderpriority").alias("p"))
                    )
                ),
                lambda s: s["p"],
            ).alias("winners")
        )
        .filter(F.size("winners") >= 2)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("mention_id"),
            F.lit(0).alias("exp_id"),
            "winners",
            F.array().cast("array<string>").alias("losers"),
        )
    )
    return (
        rank_experiments(exps, "plackett_luce")
        .select("mention_id", "entity_id", "rank")
        .orderBy("mention_id", "rank")
    )


def davidson_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 Davidson (1970) tie model, oracle-checked via a balanced design
    with ties: per customer every ordered dominance pair plays one decisive
    game (as in bt_rank_orders) and each ADJACENT pair additionally plays
    one tie (winners=[a,b], losers=[b] — b on both sides marks the tie).
    Ties are symmetric evidence, so the ML ordering still equals the
    dominance order (verified exhaustively for group sizes 2..5 in
    tests/test_ranking.py), which DuckDB computes directly."""
    from entitylinking_spark.operators.ranking import rank_experiments

    ranked = _priority_dominance(spark, sf_dir)
    l = ranked.select(
        F.col("o_custkey").alias("cust"), F.col("o_orderpriority").alias("win_p"),
        F.col("pos").alias("pos_l"),
    )
    r = ranked.select(
        F.col("o_custkey").alias("cust"), F.col("o_orderpriority").alias("lose_p"),
        F.col("pos").alias("pos_r"),
    )
    joined = l.join(r, "cust").filter(F.col("pos_l") < F.col("pos_r"))
    wins = joined.select(
        F.concat(F.lit("c"), F.col("cust")).alias("mention_id"),
        (F.col("pos_l") * 10 + F.col("pos_r")).cast("int").alias("exp_id"),
        F.array(F.col("win_p")).alias("winners"),
        F.array(F.col("lose_p")).alias("losers"),
    )
    ties = joined.filter(F.col("pos_r") == F.col("pos_l") + 1).select(
        F.concat(F.lit("c"), F.col("cust")).alias("mention_id"),
        (F.lit(100) + F.col("pos_l")).cast("int").alias("exp_id"),
        F.array(F.col("win_p"), F.col("lose_p")).alias("winners"),
        F.array(F.col("lose_p")).alias("losers"),
    )
    return (
        rank_experiments(wins.unionByName(ties), "davidson")
        .select("mention_id", "entity_id", "rank")
        .orderBy("mention_id", "rank")
    )


# both designs provably reproduce the same per-customer dominance order the
# Bradley-Terry oracle checks — the SQL twin is shared
PL_RANK_SQL = BT_RANK_SQL
DAVIDSON_RANK_SQL = BT_RANK_SQL


def _media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents bytes shaped as fake media payloads (shared by the two
    media queries; the SQL twin is _MEDIA_CTE)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        F.concat(F.lit("m"), F.col("doc_id")).alias("media_id"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("image")).otherwise(F.lit("audio")).alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.lit(None).cast(
            "struct<width:int,height:int,sample_rate:int,n_frames:int,codec:string>"
        ).alias("meta"),
        F.col("doc_id"),
    )


def media_features_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing incl. the stub decode, oracle-checked end to end:
    the stub feature grid (multimodal._stub_decode, md5-derived k/4096) is
    re-quantized to its integer grid so DuckDB can recompute the exact
    values — no float formatting ambiguity (round-1 red row was
    `unhashable type: 'list'`; round-2 makes it value-exact)."""
    from entitylinking_spark.operators.multimodal import extract_features

    media = _media_table(spark, sf_dir).filter(F.col("doc_id") < 200).drop("doc_id")
    feats = extract_features(media, dim=8, use_stub_decoder=True)
    return feats.select(
        "media_id", "kind", "n_bytes", "payload_sha",
        F.array_join(
            F.transform(
                "feature",
                lambda x: F.round(x * 4096).cast("int").cast("string"),
            ),
            ",",
        ).alias("feature_str"),
    ).orderBy("media_id")


# inner lambda variable must differ from the outer list_transform's `i`
# (DuckDB lambda scoping: the inner variable would shadow the feature index
# referenced inside the md5 argument)
_H60_MEDIA = (
    "list_sum(list_transform(range(15), j -> "
    "(strpos('0123456789abcdef', substr(md5({x}), j+1, 1)) - 1)"
    " * (1::BIGINT << (4*(14-j)))))"
)

MEDIA_FEATURES_SQL = f"""
WITH m AS (
  SELECT 'm' || CAST(doc_id AS VARCHAR) AS media_id,
         CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         sha256(text) AS payload_sha
  FROM documents WHERE doc_id < 200
)
SELECT media_id, kind, n_bytes, payload_sha,
       array_to_string(list_transform(range(8), i ->
         CAST({_H60_MEDIA.format(x="payload_sha || ':' || kind || ':' || CAST(i AS VARCHAR)")} % 4096 AS VARCHAR)
       ), ',') AS feature_str
FROM m ORDER BY media_id
"""


def resize_thumbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL image path oracle-checked end to end (no stub anywhere):
    deterministic 4x4 RGB P6 payloads (pixel = first-60-md5-bits of
    'px:<doc>:<y>:<x>:<c>' % 256) are decoded by the real netpbm decoder,
    nearest-resized to 2x2 (multimodal.resize_image samples rows/cols
    {1,3} at half-pixel centers), re-encoded as P6, decoded AGAIN, and
    reduced to exact integer channel sums — DuckDB recomputes the same
    sums straight from the md5 arithmetic."""
    import hashlib as _hl

    import numpy as _np

    from entitylinking_spark.operators.multimodal import decode_ppm, resize_media

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)

    @F.pandas_udf("binary")
    def make_img(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            px = bytes(
                int(_hl.md5(f"px:{int(i)}:{y}:{x}:{c}".encode())
                    .hexdigest()[:15], 16) % 256
                for y in range(4) for x in range(4) for c in range(3)
            )
            out.append(b"P6\n4 4\n255\n" + px)
        return pd.Series(out)

    media = d.select(
        F.concat(F.lit("m"), F.col("doc_id")).alias("media_id"),
        F.lit("image").alias("kind"),
        make_img(F.col("doc_id")).alias("payload"),
    )
    small = resize_media(media, 2, 2, method="nearest")

    @F.pandas_udf("array<long>")
    def channel_sums(payloads: pd.Series) -> pd.Series:
        res = []
        for p in payloads:
            img = decode_ppm(bytes(p)).astype(_np.int64)
            res.append([int(img[:, :, c].sum()) for c in range(3)])
        return pd.Series(res)

    return (
        small.select(
            "media_id", "src_height", "src_width", "height", "width",
            channel_sums("payload").alias("s"),
        )
        .select(
            "media_id", "src_height", "src_width", "height", "width",
            F.col("s")[0].alias("sum_r"),
            F.col("s")[1].alias("sum_g"),
            F.col("s")[2].alias("sum_b"),
        )
        .orderBy("media_id")
    )


_H60_PX = (
    "list_sum(list_transform(range(15), j -> "
    "(strpos('0123456789abcdef', substr(md5({x}), j+1, 1)) - 1)"
    " * (1::BIGINT << (4*(14-j)))))"
)

RESIZE_THUMBS_SQL = f"""
WITH px AS (
  SELECT doc_id, yy, xx, cc,
         ({_H60_PX.format(x="'px:' || CAST(doc_id AS VARCHAR) || ':' || "
                            "CAST(yy AS VARCHAR) || ':' || CAST(xx AS VARCHAR)"
                            " || ':' || CAST(cc AS VARCHAR)")}) % 256 AS v
  FROM documents
  CROSS JOIN range(4) ty(yy) CROSS JOIN range(4) tx(xx)
  CROSS JOIN range(3) tc(cc)
  WHERE doc_id < 120
)
SELECT 'm' || CAST(doc_id AS VARCHAR) AS media_id,
       CAST(4 AS INT) AS src_height, CAST(4 AS INT) AS src_width,
       CAST(2 AS INT) AS height, CAST(2 AS INT) AS width,
       CAST(SUM(CASE WHEN cc = 0 THEN v END) AS BIGINT) AS sum_r,
       CAST(SUM(CASE WHEN cc = 1 THEN v END) AS BIGINT) AS sum_g,
       CAST(SUM(CASE WHEN cc = 2 THEN v END) AS BIGINT) AS sum_b
FROM px WHERE yy IN (1, 3) AND xx IN (1, 3)
GROUP BY doc_id ORDER BY media_id
"""


def media_payload_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked half of the multimodal plumbing: byte counts + payload
    sha256 computed THROUGH the mapInPandas decode path (multimodal.py),
    which DuckDB can verify independently from the raw text."""
    from entitylinking_spark.operators.multimodal import extract_features

    media = _media_table(spark, sf_dir).drop("doc_id")
    feats = extract_features(media, dim=4, use_stub_decoder=True)
    return feats.select("media_id", "kind", "n_bytes", "payload_sha").orderBy("media_id")


MEDIA_AUDIT_SQL = """
SELECT 'm' || CAST(doc_id AS VARCHAR) AS media_id,
       CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS payload_sha
FROM documents ORDER BY media_id
"""


def linking_channels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-linking candidate generation (operators/linking.py
    candidate_channels — the reference's retrieval fan-out,
    /root/reference/Sparkle/core.py:100-120) driven end to end: mentions
    and entities are shaped deterministically from the documents table
    (corpus = lang; entities = doc_id%5 rows titled by their first 4
    tokens; mentions = doc_id%4 rows whose text is the first 3 tokens),
    and the name + token channels' (mention, entity, score) rows are
    value-checked by DuckDB. The sketch channel is excluded (MinHash —
    not SQL-recomputable; pytest-covered). The DF skew gates stay inactive
    at driver scale by their floors (df_min=50 > any per-corpus DF here);
    the gates themselves are pytest-covered (test_linking)."""
    from entitylinking_spark.operators.linking import candidate_channels

    d = _t(spark, sf_dir, "documents")
    toks = F.array_remove(F.split(F.lower(F.col("text")), r"[^\w]+"), "")
    ents = d.filter(F.col("doc_id") % 5 == 0).select(
        F.col("lang").alias("corpus"),
        F.format_string("e%08d", F.col("doc_id")).alias("document_id"),
        F.array_join(F.slice(toks, 1, 4), " ").alias("title"),
        F.col("text"),
    )
    ments = d.filter(F.col("doc_id") % 4 == 0).select(
        F.col("lang").alias("corpus"),
        F.format_string("m%08d", F.col("doc_id")).alias("mention_id"),
        F.array_join(F.slice(toks, 1, 3), " ").alias("text"),
    )
    return (
        candidate_channels(ments, ents)
        .filter(F.col("channel") != "sketch")
        .orderBy("mention_id", "document_id", "channel")
    )


_LINK_TOKS = ("list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),"
              " t -> t <> '')")

LINKING_CHANNELS_SQL = f"""
WITH src AS (
  SELECT doc_id, lang, {_LINK_TOKS} AS tk FROM documents
),
m AS (
  SELECT lang AS corpus, printf('m%08d', doc_id) AS mention_id,
         array_to_string(tk[1:3], ' ') AS m_name,
         list_distinct(list_filter(tk[1:3], t -> length(t) >= 2)) AS m_tk,
         tk[1] AS nb
  FROM src WHERE doc_id % 4 = 0
),
e AS (
  SELECT lang AS corpus, printf('e%08d', doc_id) AS document_id,
         array_to_string(tk[1:4], ' ') AS e_name,
         list_distinct(list_filter(tk, t -> length(t) >= 2)) AS e_tk,
         tk[1] AS nb
  FROM src WHERE doc_id % 5 = 0
),
name_ch AS (
  SELECT mention_id, document_id, 'name' AS channel,
         CASE WHEN m_name = e_name THEN 1.0
              WHEN position(e_name IN m_name) > 0
                OR position(m_name IN e_name) > 0 THEN 0.7
              ELSE 0.0 END AS ch_score
  FROM m JOIN e ON m.corpus = e.corpus AND m.nb = e.nb
  WHERE length(m.nb) >= 2
),
mt AS (SELECT corpus, mention_id, unnest(m_tk) AS tok FROM m),
et AS (SELECT corpus, document_id, unnest(e_tk) AS tok FROM e),
tok_ch AS (
  SELECT mention_id, document_id, 'token' AS channel,
         CAST(COUNT(*) AS DOUBLE) AS ch_score
  FROM mt JOIN et ON mt.corpus = et.corpus AND mt.tok = et.tok
  GROUP BY mention_id, document_id
)
SELECT * FROM (
  SELECT * FROM name_ch WHERE ch_score > 0
  UNION ALL SELECT * FROM tok_ch
) ORDER BY mention_id, document_id, channel
"""


def parse_responses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The response-parsing family (functions/parsing.py — X10 yes/no with
    negative-beats-yes, X11 first-occurring category, X13 JSON-in-string;
    reference OneNet/data_process.py:115-156, Sparkle/eval.py:80-93)
    driver-checked per row: deterministic response strings are built from
    the documents table (the _media_table pattern — same construction on
    both sides, the PARSE is what's under test) covering every branch —
    explicit yes, yes overridden by a negative, empty -> null,
    unparseable -> null — and DuckDB recomputes category positions and the
    embedded-JSON fields."""
    from entitylinking_spark.functions.parsing import (
        extract_embedded_json,
        extract_first_category,
        parse_yes_no,
    )

    d = _t(spark, sf_dir, "documents")
    resp = (
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.lit("Yes, the answer involves "), F.col("lang")))
        .when(F.col("doc_id") % 4 == 1, F.lit("Yes, but actually not correct"))
        .when(F.col("doc_id") % 4 == 2, F.lit(""))
        .otherwise(F.concat(F.lit("hmm "), F.col("lang")))
    )
    marked = F.concat(
        F.lit('resp: {"lang": "'), F.col("lang"), F.lit('", "n": '),
        (F.col("doc_id") % 7).cast("string"), F.lit("} end"),
    )
    j = extract_embedded_json(marked, "lang string, n int")
    return d.select(
        "doc_id",
        # nulls (unparseable / no category) -> sentinels: the driver canon
        # sorts row tuples, which None cells break
        F.coalesce(parse_yes_no(resp).cast("int"), F.lit(-1)).alias("ans"),
        F.coalesce(
            extract_first_category(
                F.col("text"), ["table", "window", "vector", "customer"]
            ),
            F.lit("none"),
        ).alias("category"),
        j["lang"].alias("json_lang"),
        j["n"].alias("json_n"),
    ).orderBy("doc_id")


PARSE_RESPONSES_SQL = r"""
WITH base AS (
  SELECT doc_id, lang, lower(text) AS s,
    CASE doc_id % 4
      WHEN 0 THEN 'Yes, the answer involves ' || lang
      WHEN 1 THEN 'Yes, but actually not correct'
      WHEN 2 THEN ''
      ELSE 'hmm ' || lang END AS resp,
    'resp: {"lang": "' || lang || '", "n": ' || CAST(doc_id % 7 AS VARCHAR)
      || '} end' AS marked
  FROM documents
),
pos AS (
  SELECT doc_id, lower(trim(resp)) AS r, marked,
    CASE WHEN instr(s,'table')>0 THEN instr(s,'table') ELSE 2147483647 END AS p1,
    CASE WHEN instr(s,'window')>0 THEN instr(s,'window') ELSE 2147483647 END AS p2,
    CASE WHEN instr(s,'vector')>0 THEN instr(s,'vector') ELSE 2147483647 END AS p3,
    CASE WHEN instr(s,'customer')>0 THEN instr(s,'customer') ELSE 2147483647 END AS p4
  FROM base
)
SELECT doc_id,
  CASE WHEN length(r) = 0 THEN -1
       WHEN regexp_matches(r, '\b(no|not|cannot|n''t|incorrect|wrong|false)\b')
         THEN 0
       WHEN regexp_matches(r, '\byes\b') OR r LIKE 'y%' THEN 1
       ELSE -1 END AS ans,
  CASE WHEN least(p1,p2,p3,p4) = 2147483647 THEN 'none'
       WHEN p1 = least(p1,p2,p3,p4) THEN 'table'
       WHEN p2 = least(p1,p2,p3,p4) THEN 'window'
       WHEN p3 = least(p1,p2,p3,p4) THEN 'vector'
       ELSE 'customer' END AS category,
  regexp_extract(marked, '(\{.*\})', 1)->>'$.lang' AS json_lang,
  CAST(regexp_extract(marked, '(\{.*\})', 1)->>'$.n' AS INTEGER) AS json_n
FROM pos ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# contract surface
# ---------------------------------------------------------------------------

_ORACLE_CHECKED: dict[str, tuple[Callable, str]] = {
    "q1_pricing_summary": (q1_pricing_summary, Q1_SQL),
    "j1_enrichment_join": (j1_enrichment_join, J1_SQL),
    "j2_composite_key_join": (j2_composite_key_join, J2_SQL),
    "f4_semi_join": (f4_semi_join, F4_SQL),
    "f5_anti_join": (f5_anti_join, F5_SQL),
    "j5_explode_regroup": (j5_explode_regroup, J5_SQL),
    "t1_topk_window": (t1_topk_window, T1_SQL),
    "t4_tiebreak": (t4_tiebreak, T4_SQL),
    "t5_first_seen": (t5_first_seen, T5_SQL),
    "a3_share_by_group": (a3_share_by_group, A3_SQL),
    "a5_corpus_stats": (a5_corpus_stats, A5_SQL),
    "a6_micro_prf": (a6_micro_prf, A6_SQL),
    "u3_intersect": (u3_intersect, U3_SQL),
    "u1_union_dedupe": (u1_union_dedupe, U1_SQL),
    "f2_filter_notin": (f2_filter_notin, F2_SQL),
    "x2_normalize_ws": (x2_normalize_ws, X2_SQL),
    "x5_first_sentence": (x5_first_sentence, X5_SQL),
    "x6_token_count": (x6_token_count, X6_SQL),
    "x7_name_match": (x7_name_match, X7_SQL),
    "x8_term_frequency": (x8_term_frequency, X8_SQL),
    "x15_minmax_normalize": (x15_minmax_normalize, X15_SQL),
    "x17_blend": (x17_blend, X17_SQL),
    "j6_label_in_candidates": (j6_label_in_candidates, J6_SQL),
    "dedup_exact_docs": (dedup_exact_docs, DEDUP_EXACT_SQL),
    "g3_connected_components": (g3_connected_components, G3_SQL),
    "a2_collect_sorted": (a2_collect_sorted, A2_SQL),
    "q_cube_counts": (q_cube_counts, CUBE_SQL),
    "j3_channel_merge": (j3_channel_merge, J3_SQL),
    "t2_boosted_topk": (t2_boosted_topk, T2_SQL),
    "x4_cut_context": (x4_cut_context, X4_SQL),
    "media_payload_audit": (media_payload_audit, MEDIA_AUDIT_SQL),
    "x9_bm25_topk": (x9_bm25_topk, X9_BM25_SQL),
    "a7_recall_at_k": (a7_recall_at_k, A7_SQL),
    "g5_overlapping_groups": (g5_overlapping_groups, G5_SQL),
    "g5_repair_oracle": (g5_repair_oracle, G5_REPAIR_SQL),
    "er_clusters": (er_clusters, ER_CLUSTERS_SQL),
    "bt_rank_orders": (bt_rank_orders, BT_RANK_SQL),
    "pl_rank_orders": (pl_rank_orders, PL_RANK_SQL),
    "davidson_rank_orders": (davidson_rank_orders, DAVIDSON_RANK_SQL),
    "parse_responses": (parse_responses, PARSE_RESPONSES_SQL),
    # the decode itself is a declared stub (multimodal._stub_decode), but
    # its md5-derived grid is recomputable by DuckDB, so even this query is
    # value-checked end to end through the mapInPandas plumbing
    "media_features_demo": (media_features_demo, MEDIA_FEATURES_SQL),
    "linking_channels": (linking_channels, LINKING_CHANNELS_SQL),
    "resize_thumbs": (resize_thumbs, RESIZE_THUMBS_SQL),
}

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in _ORACLE_CHECKED.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql.strip() for name, (_, sql) in _ORACLE_CHECKED.items()}
