"""SURVEY.md §2 operator-parity queries over the driver star schema.

Each query demonstrates one (or a cluster of) reference operators —
docstrings cite the SURVEY op ids and the reference file:line they
derive from. All are pure DataFrame plans: Catalyst handles pushdown,
pruning, join selection (broadcast for the small dims) and AQE handles
shuffle sizing — nothing here hand-schedules execution.

Determinism contract (see registry module docstring): decimal-exact
aggregation, epoch-integer timestamps, aliased columns matching the
oracle SQL names exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..sources import load_table, register_views
from .registry import register

# Money/measure columns in the star schema are 2-decimal. Aggregating them
# as integer cents (BIGINT) is exact, shuffle-cheap, and — unlike a
# DECIMAL→DOUBLE cast, which neither engine guarantees to round correctly —
# bit-identical across engines when divided back by 100.0 at the end.


def _cents(col):
    """2-decimal double → exact integer cents (same bits in Spark/DuckDB)."""
    return F.round(col * 100).cast("long")


def _dsum(col, alias: str):
    """Exact money sum surfaced as double dollars (engine-identical)."""
    return (F.sum(_cents(col)) / F.lit(100.0)).alias(alias)


# ---------------------------------------------------------------------------
# A1-A3 + F9: hash aggregate with plain / conditional sums (TPC-H Q1 shape)
# Reference: GROUP BY season_results sketch README.md:252-266; CASE WHEN
# conditional aggregation README.md:259-261.
# ---------------------------------------------------------------------------


@register(
    "pricing_summary",
    oracle="""
SELECT
  l_returnflag,
  l_linestatus,
  SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) / 100.0 AS sum_qty,
  SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) / 100.0 AS sum_base_price,
  SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT) * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) / 10000.0 AS sum_disc_price,
  CAST(SUM(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS BIGINT) AS big_qty_orders,
  COUNT(*) AS count_order,
  SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) / 100.0 / COUNT(*) AS avg_qty
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02'
GROUP BY l_returnflag, l_linestatus
""",
    doc="A1 hash agg + A2 SUM + A3 conditional SUM(CASE) + F9 CASE (ref README.md:252-266)",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # extendedprice in cents × discount in whole percent → exact int64
    disc_units = _cents(F.col("l_extendedprice")) * (
        F.lit(100) - _cents(F.col("l_discount"))
    )
    return (
        li.where(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity"), "sum_qty"),
            _dsum(F.col("l_extendedprice"), "sum_base_price"),
            (F.sum(disc_units) / F.lit(10000.0)).alias("sum_disc_price"),
            F.sum(F.when(F.col("l_quantity") > 25, 1).otherwise(0))
            .cast("long")
            .alias("big_qty_orders"),
            F.count("*").alias("count_order"),
        )
        .withColumn("avg_qty", F.col("sum_qty") / F.col("count_order"))
    )


# ---------------------------------------------------------------------------
# Skew-safe aggregation demonstrator (SURVEY §4 / VERDICT r4 stretch):
# l_returnflag has THREE distinct values over the whole of lineitem, so a
# plain groupBy funnels ~n/3 rows into each of 3 reduce tasks — the
# classic hot-key shape that leaves 997 of 1000 executors idle at 100 TB.
# salted_aggregate (operators/skew.py) splits each key into n_salts
# subkeys for the partial agg (map-side combine over 48 groups), then
# re-aggregates the algebraic partials over the true key. Differentially
# checked here: the salted two-phase plan must be value-identical to the
# oracle's plain GROUP BY.
# ---------------------------------------------------------------------------


@register(
    "salted_agg_returnflag",
    oracle="""
SELECT l_returnflag,
       CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS BIGINT) AS qty_cents_sum,
       CAST(COUNT(l_linenumber) AS BIGINT) AS l_linenumber_count,
       CAST(MAX(l_orderkey) AS BIGINT) AS l_orderkey_max
FROM lineitem
GROUP BY l_returnflag
""",
    doc=(
        "[beyond-ref] skew-safe two-phase salted aggregation over a 3-key "
        "hot-key groupBy, value-checked against the plain GROUP BY "
        "(operators/skew.py, SURVEY §4)"
    ),
)
def salted_agg_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_aggregate

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        _cents(F.col("l_quantity")).alias("qty_cents"),
        "l_linenumber",
        "l_orderkey",
    )
    out = salted_aggregate(
        li,
        keys=["l_returnflag"],
        aggs={"qty_cents": "sum", "l_linenumber": "count", "l_orderkey": "max"},
        n_salts=16,
    )
    return out.select(
        "l_returnflag",
        F.col("qty_cents_sum").cast("long"),
        F.col("l_linenumber_count").cast("long"),
        F.col("l_orderkey_max").cast("long"),
    )


@register(
    "salted_broadcast_join_supplier",
    oracle="""
SELECT s.s_nationkey,
       CAST(SUM(CAST(ROUND(l.l_quantity*100) AS BIGINT)) AS BIGINT) AS qty_cents_sum,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
GROUP BY s.s_nationkey
""",
    doc=(
        "[beyond-ref] skew-safe fact⋈dim join: hot dim keys broadcast, the "
        "long tail shuffle-joined, value-checked against the plain join "
        "(operators/skew.py broadcast_salted_join, SURVEY §4)"
    ),
)
def salted_broadcast_join_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Demonstrates the skewed-join half of the skew toolkit (the
    salted-agg half is ``salted_agg_returnflag``). At 100 TB the dim is
    too large to broadcast whole and a handful of its keys dominate the
    fact side; ``broadcast_salted_join`` broadcasts ONLY the hot-key
    slice and shuffle-joins the long tail, so no single reducer sees a
    hot key's full fact partition. Here the hot set is a fixed literal
    slice (deterministic, so the oracle diff is exact); in production
    it comes from a cheap approx-count sample over the fact keys.
    """
    from ..operators.skew import broadcast_salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("suppkey"),
        _cents(F.col("l_quantity")).alias("qty_cents"),
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("suppkey"), "s_nationkey"
    )
    joined = broadcast_salted_join(li, sup, "suppkey", hot_keys=[1, 2, 3, 4, 5, 6, 7, 8])
    return joined.groupBy("s_nationkey").agg(
        F.sum("qty_cents").cast("long").alias("qty_cents_sum"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# Flagship: multi-join star query + agg + W1 top-k per group.
# Reference: lookup joins J1 (main.yml:144-148), group agg A1-A2
# (README.md:252-266), top-1-per-group A6/W1 champion (README.md:277).
# ---------------------------------------------------------------------------


@register(
    "flagship_top_customers",
    oracle="""
WITH revenue AS (
  SELECT
    n.n_name,
    c.c_custkey,
    c.c_name,
    SUM(CAST(ROUND(l.l_extendedprice*100) AS BIGINT) * (100 - CAST(ROUND(l.l_discount*100) AS BIGINT))) / 10000.0 AS revenue
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name, c.c_custkey, c.c_name
)
SELECT n_name, c_custkey, c_name, revenue, rn
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY revenue DESC, c_custkey) AS rn
  FROM revenue
)
WHERE rn <= 3
""",
    doc="flagship: J1 join chain + A1/A2 agg + W1 top-k per group (ref README.md:252-266, 277)",
)
def flagship_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    revenue_units = _cents(F.col("l_extendedprice")) * (
        F.lit(100) - _cents(F.col("l_discount"))
    )
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", "c_custkey", "c_name")
        .agg((F.sum(revenue_units) / F.lit(10000.0)).alias("revenue"))
    )
    w = Window.partitionBy("n_name").orderBy(F.desc("revenue"), F.asc("c_custkey"))
    return rev.withColumn("rn", F.row_number().over(w).cast("long")).where(
        F.col("rn") <= 3
    )


# ---------------------------------------------------------------------------
# J1: broadcast lookup equi-join (inner) — main.yml:144-148 league-map join.
# ---------------------------------------------------------------------------


@register(
    "broadcast_lookup_join",
    oracle="""
SELECT r.r_name, COUNT(*) AS n_suppliers,
       SUM(CAST(ROUND(s.s_acctbal*100) AS BIGINT)) / 100.0 AS total_acctbal
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
""",
    doc="J1 broadcast hash lookup join, inner (ref main.yml:144-148)",
)
def broadcast_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        sup.join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_suppliers"),
            _dsum(F.col("s_acctbal"), "total_acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# J2: alias-standardization join — broadcast LEFT join + coalesce fallback
# (ref README.md:109 team_aliases; README.md:73-74 standardized names).
# Unmatched keys pass through with a default, exactly the alias semantic.
# ---------------------------------------------------------------------------


@register(
    "alias_coalesce_join",
    oracle="""
SELECT COALESCE(n.n_name, 'UNKNOWN') AS nation_std, COUNT(*) AS n_customers,
       SUM(CAST(ROUND(c.c_acctbal*100) AS BIGINT)) / 100.0 AS total_bal
FROM customer c
LEFT JOIN (SELECT * FROM nation WHERE n_regionkey <= 2) n
  ON c.c_nationkey = n.n_nationkey
GROUP BY COALESCE(n.n_name, 'UNKNOWN')
""",
    doc="J2 broadcast left join + coalesce alias standardization (ref README.md:109)",
)
def alias_coalesce_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    aliases = load_table(spark, sf_dir, "nation").where(F.col("n_regionkey") <= 2)
    return (
        cust.join(F.broadcast(aliases), cust.c_nationkey == aliases.n_nationkey, "left")
        .withColumn("nation_std", F.coalesce(F.col("n_name"), F.lit("UNKNOWN")))
        .groupBy("nation_std")
        .agg(
            F.count("*").alias("n_customers"),
            _dsum(F.col("c_acctbal"), "total_bal"),
        )
    )


# ---------------------------------------------------------------------------
# A4/J3: unpivot (stack) before aggregation — the per-team two-row expansion
# the reference itself flags as the correctness trap (README.md:262, 268).
# ---------------------------------------------------------------------------


@register(
    "unpivot_stack",
    oracle="""
SELECT l_returnflag, metric,
       SUM(CAST(ROUND(value*100) AS BIGINT)) / 100.0 AS total,
       COUNT(*) AS n
FROM (
  SELECT l_returnflag, 'quantity' AS metric, l_quantity AS value FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'extendedprice' AS metric, l_extendedprice AS value FROM lineitem
)
GROUP BY l_returnflag, metric
""",
    doc="A4 unpivot via stack() then aggregate (ref README.md:262,268 per-team expansion)",
)
def unpivot_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.selectExpr(
            "l_returnflag",
            "stack(2, 'quantity', l_quantity, 'extendedprice', l_extendedprice) AS (metric, value)",
        )
        .groupBy("l_returnflag", "metric")
        .agg(_dsum(F.col("value"), "total"), F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# W1/O2: top-k per group via ranking window (ref main.yml:136-141 latest
# version per key; README.md:136 top-1/top-3 eval).
# ---------------------------------------------------------------------------


@register(
    "topk_orders_per_customer",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice, rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
)
WHERE rn <= 3
""",
    doc="W1/O2 top-k per group ranking window (ref main.yml:136-141, README.md:136)",
)
def topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 3)
    )


# ---------------------------------------------------------------------------
# A6: champion label — top-1 per group with boolean flag (ref README.md:277,
# 288 "verify champion labels"). Customer with max spend per market segment.
# ---------------------------------------------------------------------------


@register(
    "champion_per_segment",
    oracle="""
WITH spend AS (
  SELECT c.c_mktsegment, c.c_custkey,
         SUM(CAST(ROUND(o.o_totalprice*100) AS BIGINT)) / 100.0 AS total_spend
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_mktsegment, c.c_custkey
)
SELECT c_mktsegment, c_custkey, total_spend, TRUE AS is_champion
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY total_spend DESC, c_custkey) AS rn
  FROM spend
)
WHERE rn = 1
""",
    doc="A6 champion label: top-1 per group + boolean flag (ref README.md:277,288)",
)
def champion_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    spend = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment", "c_custkey")
        .agg(_dsum(F.col("o_totalprice"), "total_spend"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("total_spend"), F.asc("c_custkey")
    )
    return (
        spend.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "c_mktsegment",
            "c_custkey",
            "total_spend",
            F.lit(True).alias("is_champion"),
        )
    )


# ---------------------------------------------------------------------------
# W2: rolling window with explicit frame (trailing, excludes current row —
# the label-leakage-safe frame of ref README.md:135,141).
# ---------------------------------------------------------------------------


@register(
    "rolling_avg_events",
    oracle="""
SELECT user_id, event_id,
       SUM(CAST(ROUND(value*100) AS BIGINT)) OVER w / 100.0 AS roll_sum,
       COUNT(value) OVER w AS roll_n,
       SUM(CAST(ROUND(value*100) AS BIGINT)) OVER w / 100.0 / NULLIF(COUNT(value) OVER w, 0) AS roll_avg
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
""",
    doc="W2 trailing rolling average, frame excludes current row (ref README.md:135,141)",
)
def rolling_avg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-10, -1)
    )
    roll_sum = F.sum(_cents(F.col("value"))).over(w) / F.lit(100.0)
    roll_n = F.count("value").over(w)
    return ev.select(
        "user_id",
        "event_id",
        roll_sum.alias("roll_sum"),
        roll_n.alias("roll_n"),
        (roll_sum / F.nullif(roll_n, F.lit(0))).alias("roll_avg"),
    )


# ---------------------------------------------------------------------------
# W3: prior-period value via lag (ref README.md:135 previous-season feature).
# ---------------------------------------------------------------------------


@register(
    "lag_prev_order",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice,
       LAG(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_totalprice,
       o_totalprice - LAG(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS delta
FROM orders
""",
    doc="W3 lag prior-period value (ref README.md:135)",
)
def lag_prev_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_totalprice").over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        prev.alias("prev_totalprice"),
        (F.col("o_totalprice") - prev).alias("delta"),
    )


# ---------------------------------------------------------------------------
# W4: cumulative running total (ref README.md:143 standings/points leader).
# ---------------------------------------------------------------------------


@register(
    "cumulative_customer_spend",
    oracle="""
SELECT o_custkey, o_orderkey,
       SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0 AS cum_spend
FROM orders
""",
    doc="W4 cumulative running total (ref README.md:143)",
)
def cumulative_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        (F.sum(_cents(F.col("o_totalprice"))).over(w) / F.lit(100.0)).alias("cum_spend"),
    )


# ---------------------------------------------------------------------------
# U2: dedup / distinct-on-keys (ref README.md:114 BigQuery dedup on lineage
# keys). Exact dedup = hash-groupBy keeping the smallest id — fully
# shuffle-parallel, no driver-side state; scales to 100 TB.
# ---------------------------------------------------------------------------


@register(
    "dedup_exact_documents",
    oracle="""
SELECT MD5(text) AS text_hash, MIN(doc_id) AS keeper_doc_id, COUNT(*) AS dup_count
FROM documents
GROUP BY MD5(text)
""",
    doc="U2 exact dedup via content-hash groupBy (ref README.md:114); [beyond-ref] exact text dedup",
)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.col("text").cast("binary")).alias("text_hash"))
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("dup_count"),
        )
    )


# ---------------------------------------------------------------------------
# U3: first-per-key (order-sensitive, deterministic tie-break by id)
# (ref main.yml:60-63 first-seen league name per prefix).
# ---------------------------------------------------------------------------


@register(
    "first_per_key",
    oracle="""
SELECT lang, MIN_BY(source, doc_id) AS first_source, MIN(doc_id) AS first_doc_id
FROM documents
GROUP BY lang
""",
    doc="U3 first-per-key with deterministic order key (ref main.yml:60-63)",
)
def first_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.min_by("source", "doc_id").alias("first_source"),
        F.min("doc_id").alias("first_doc_id"),
    )


# ---------------------------------------------------------------------------
# Set operations: intersect / except (SURVEY §2.7 — free Spark superset).
# ---------------------------------------------------------------------------


@register(
    "set_ops_nations",
    oracle="""
SELECT n_nationkey, 'both' AS side FROM (
  SELECT DISTINCT c_nationkey AS n_nationkey FROM customer
  INTERSECT
  SELECT DISTINCT s_nationkey FROM supplier
)
UNION ALL
SELECT n_nationkey, 'customer_only' AS side FROM (
  SELECT DISTINCT c_nationkey AS n_nationkey FROM customer
  EXCEPT
  SELECT DISTINCT s_nationkey FROM supplier
)
""",
    doc="U1-adjacent set ops: INTERSECT / EXCEPT (SURVEY §2.7 superset)",
)
def set_ops_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("n_nationkey")
    ).distinct()
    sup = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("n_nationkey")
    ).distinct()
    both = cust.intersect(sup).withColumn("side", F.lit("both"))
    only = cust.exceptAll(sup).withColumn("side", F.lit("customer_only"))
    return both.unionByName(only)


# ---------------------------------------------------------------------------
# W1 natural-version sort: latest source per lang by numeric suffix
# (ref main.yml:136-141 `sort -V | tail -n1` — numeric, not lexicographic).
# ---------------------------------------------------------------------------


@register(
    "latest_version_per_key",
    oracle="""
SELECT lang, source AS latest_source, version_num
FROM (
  SELECT lang, source,
         CAST(REGEXP_EXTRACT(source, '([0-9]+)$', 1) AS BIGINT) AS version_num,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY CAST(REGEXP_EXTRACT(source, '([0-9]+)$', 1) AS BIGINT) DESC, source) AS rn
  FROM (SELECT DISTINCT lang, source FROM documents)
)
WHERE rn = 1
""",
    doc="W1/O1 natural-version latest-per-key: numeric sort key, not lexicographic (ref main.yml:136-141)",
)
def latest_version_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("lang", "source").distinct()
    vnum = F.regexp_extract("source", r"([0-9]+)$", 1).cast("long")
    w = Window.partitionBy("lang").orderBy(F.desc("version_num"), F.asc("source"))
    return (
        docs.withColumn("version_num", vnum)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("lang", F.col("source").alias("latest_source"), "version_num")
    )


# ---------------------------------------------------------------------------
# F1-F12 scalar-function showcase (regex extract/replace, trim, case, date
# formatting, coalesce) — ref main.yml:56-75,111-119; README.md:71,79-81.
# ---------------------------------------------------------------------------


@register(
    "scalar_functions_docs",
    oracle="""
SELECT doc_id,
  REGEXP_EXTRACT(text, '^([a-z]+)', 1) AS first_token,
  REGEXP_EXTRACT(text, '([a-z]+)$', 1) AS last_token,
  REGEXP_REPLACE(text, '[0-9]+', 'N', 'g') AS digits_masked,
  TRIM(UPPER(lang)) AS lang_uc,
  LENGTH(text) AS text_len,
  CASE WHEN n_chars > 500 THEN 'long' WHEN n_chars > 100 THEN 'medium' ELSE 'short' END AS size_bucket,
  COALESCE(NULLIF(lang, ''), 'unknown') AS lang_std
FROM documents
""",
    doc="F1 regexp_extract, F2 regexp_replace, F3 trim, F9 CASE, F12 coalesce (ref main.yml:56-75, README.md:79-81)",
)
def scalar_functions_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_extract("text", r"^([a-z]+)", 1).alias("first_token"),
        F.regexp_extract("text", r"([a-z]+)$", 1).alias("last_token"),
        F.regexp_replace("text", r"[0-9]+", "N").alias("digits_masked"),
        F.trim(F.upper(F.col("lang"))).alias("lang_uc"),
        F.length("text").cast("long").alias("text_len"),
        F.when(F.col("n_chars") > 500, "long")
        .when(F.col("n_chars") > 100, "medium")
        .otherwise("short")
        .alias("size_bucket"),
        F.coalesce(F.nullif(F.col("lang"), F.lit("")), F.lit("unknown")).alias(
            "lang_std"
        ),
    )


@register(
    "scalar_functions_dates",
    oracle="""
SELECT o_orderkey,
  STRFTIME(o_orderdate, '%Y-%m-%d') AS order_date_str,
  CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS order_year,
  CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS order_month,
  EPOCH_US(DATE_TRUNC('month', o_orderdate)) AS month_start_us
FROM orders
WHERE o_orderdate >= TIMESTAMP '1998-01-01'
""",
    doc="F6 date parse/format, F7 timestamp handling (ref README.md:71,84); epoch-integer output for cross-engine equality",
)
def scalar_functions_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.where(
        F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp")
    ).select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date_str"),
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.unix_micros(F.date_trunc("month", F.col("o_orderdate"))).alias(
            "month_start_us"
        ),
    )


# ---------------------------------------------------------------------------
# F11/F12: JSON field access (ref main.yml:66,144 jq field extraction).
# ---------------------------------------------------------------------------


@register(
    "json_extract_events",
    oracle="""
SELECT event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
  SUM(CAST(ROUND(value*100) AS BIGINT)) / 100.0 AS sum_value
FROM events
GROUP BY event_type
""",
    doc="F11 JSON field access + F12 null handling (ref main.yml:66,144)",
)
def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(k).alias("sum_k"),
        _dsum(F.col("value"), "sum_value"),
    )


# ---------------------------------------------------------------------------
# Free superset: ROLLUP multi-level aggregation (SURVEY §2.4 note).
# ---------------------------------------------------------------------------


@register(
    "rollup_lineitem",
    oracle="""
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) / 100.0 AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
    doc="A1 superset: ROLLUP hierarchy aggregation (SURVEY §2.4)",
)
def rollup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), _dsum(F.col("l_quantity"), "sum_qty")
    )


# ---------------------------------------------------------------------------
# P-series: filter + projection with pushdown-friendly predicates
# (ref README.md:210-218 projection/rename; P5-P8 validation filters).
# ---------------------------------------------------------------------------


@register(
    "filter_project_lineitem",
    oracle="""
SELECT l_orderkey, l_linenumber,
       l_quantity AS qty,
       CAST(ROUND(l_extendedprice*100) AS BIGINT) * (100 - CAST(ROUND(l_discount*100) AS BIGINT)) / 10000.0 AS net_price,
       CASE WHEN l_returnflag = 'R' THEN 'returned' ELSE 'kept' END AS return_status
FROM lineitem
WHERE l_discount > 0.05 AND l_quantity >= 10 AND l_returnflag IN ('R','A')
""",
    doc="P3 projection+rename, P4 computed cols, pushdown predicates (ref README.md:210-218)",
)
def filter_project_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_discount") > 0.05)
            & (F.col("l_quantity") >= 10)
            & (F.col("l_returnflag").isin("R", "A"))
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity").alias("qty"),
            (
                _cents(F.col("l_extendedprice"))
                * (F.lit(100) - _cents(F.col("l_discount")))
                / F.lit(10000.0)
            ).alias("net_price"),
            F.when(F.col("l_returnflag") == "R", "returned")
            .otherwise("kept")
            .alias("return_status"),
        )
    )


# ---------------------------------------------------------------------------
# Semi/anti joins (SURVEY §2.3 note: quarantine routing complements).
# ---------------------------------------------------------------------------


@register(
    "semi_anti_join",
    oracle="""
SELECT c_custkey, 'has_orders' AS status FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders)
UNION ALL
SELECT c_custkey, 'no_orders' AS status FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
""",
    doc="left_semi / left_anti joins (SURVEY §2.3: quarantine complements)",
)
def semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    has = cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", F.lit("has_orders").alias("status"))
    hasnt = cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", F.lit("no_orders").alias("status"))
    return has.unionByName(hasnt)


# ---------------------------------------------------------------------------
# A5-adjacent: distinct counting profile (exact, cross-engine deterministic).
# ---------------------------------------------------------------------------


@register(
    "distinct_profile",
    oracle="""
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_suppliers,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
""",
    doc="A5 count metrics incl. exact distinct (ref README.md:112)",
)
def distinct_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.count("*").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# P1-analog: explode (document → rows), the core normalization move
# (ref README.md:209 one row per matches[] element).
# ---------------------------------------------------------------------------


@register(
    "explode_tokens",
    oracle="""
SELECT token, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
FROM (
  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents
)
WHERE token <> ''
GROUP BY token
""",
    doc="P1 explode array → rows (ref README.md:209); token frequency table",
)
def explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("n"), F.countDistinct("doc_id").alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# Statistical aggregates (A-superset): exact percentile over integer cents,
# median, mode, correlation. percentile_cont interpolation runs on exact
# integers → deterministic; corr is rounded (engine accumulation order).
# ---------------------------------------------------------------------------


@register(
    "stats_aggregates",
    oracle="""
SELECT l_returnflag,
  PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY CAST(ROUND(l_extendedprice*100) AS BIGINT)) / 100.0 AS median_price,
  PERCENTILE_CONT(0.9) WITHIN GROUP (ORDER BY CAST(ROUND(l_extendedprice*100) AS BIGINT)) / 100.0 AS p90_price,
  MODE() WITHIN GROUP (ORDER BY l_linestatus) AS mode_status,
  ROUND(CORR(l_quantity, l_extendedprice), 6) AS qty_price_corr,
  MIN(l_extendedprice) AS min_price,
  MAX(l_extendedprice) AS max_price
FROM lineitem
GROUP BY l_returnflag
""",
    doc="A-superset statistical aggregates: percentile_cont, mode, corr (SURVEY §2.4 note)",
)
def stats_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pc = F.col("l_extendedprice")
    cents_col = F.round(pc * 100).cast("long")
    return li.groupBy("l_returnflag").agg(
        (F.percentile(cents_col, F.lit(0.5)) / 100.0).alias("median_price"),
        (F.percentile(cents_col, F.lit(0.9)) / 100.0).alias("p90_price"),
        F.mode("l_linestatus").alias("mode_status"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.min(pc).alias("min_price"),
        F.max(pc).alias("max_price"),
    )


# ---------------------------------------------------------------------------
# Ordered string aggregation (listagg): deterministic via explicit ORDER BY.
# ---------------------------------------------------------------------------


@register(
    "string_agg_regions",
    oracle="""
SELECT r.r_name,
       STRING_AGG(n.n_name, ',' ORDER BY n.n_name) AS nations,
       COUNT(*) AS n_nations
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
""",
    doc="ordered string aggregation (listagg analog via sorted collect_list)",
)
def string_agg_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
                "nations"
            ),
            F.count("*").alias("n_nations"),
        )
    )


# ---------------------------------------------------------------------------
# Subquery shapes: EXISTS / scalar subquery — Catalyst rewrites these into
# semi joins / cross joins of single-row aggregates.
# ---------------------------------------------------------------------------


# identical text both engines (AVG of doubles: single global agg is
# sequential-deterministic in neither engine — go through cents)
_SUBQUERY_SHAPES_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_rich_active
FROM customer c
WHERE c.c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
  AND EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c_mktsegment
"""


@register(
    "subquery_shapes",
    oracle=_SUBQUERY_SHAPES_SQL,
    doc="scalar subquery + EXISTS (rewritten to semi join by Catalyst)",
)
def subquery_shapes(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, _SUBQUERY_SHAPES_SQL)
    return spark.sql(_SUBQUERY_SHAPES_SQL)


# ---------------------------------------------------------------------------
# CUBE: all grouping-set combinations (A1 superset).
# ---------------------------------------------------------------------------


@register(
    "cube_orders",
    oracle="""
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) / 100.0 AS total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
    doc="CUBE grouping sets (SURVEY §2.4 superset)",
)
def cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"),
        (F.sum(_cents(F.col("o_totalprice"))) / F.lit(100.0)).alias("total"),
    )


# ---------------------------------------------------------------------------
# Date/interval arithmetic (F6-F7 superset): datediff, add_months,
# date_add — engine-portable forms.
# ---------------------------------------------------------------------------


@register(
    "date_arithmetic",
    oracle="""
SELECT o_orderkey,
  DATE_DIFF('day', TIMESTAMP '1995-01-01', o_orderdate) AS days_since_95,
  STRFTIME(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3m,
  STRFTIME(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30d,
  CAST(EXTRACT(DOW FROM o_orderdate) AS INT) AS dow
FROM orders
WHERE o_orderkey % 100 = 0
""",
    doc="F6/F7 superset: date difference, month/day arithmetic, day-of-week",
)
def date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return orders.where(F.col("o_orderkey") % 100 == 0).select(
        "o_orderkey",
        F.datediff(F.to_date(d), F.lit("1995-01-01").cast("date"))
        .cast("long")
        .alias("days_since_95"),
        F.date_format(F.add_months(d, 3), "yyyy-MM-dd").alias("plus3m"),
        F.date_format(F.date_add(F.to_date(d), 30), "yyyy-MM-dd").alias("plus30d"),
        (F.dayofweek(d) - 1).alias("dow"),
    )


# ---------------------------------------------------------------------------
# Window-function zoo (W-superset): ranking family + value family +
# distribution family in one query. cume_dist/percent_rank are exact
# rational numbers of ints → deterministic doubles.
# ---------------------------------------------------------------------------


@register(
    "window_function_zoo",
    oracle="""
SELECT o_custkey, o_orderkey,
  RANK() OVER w AS rnk,
  DENSE_RANK() OVER w AS drnk,
  NTILE(4) OVER w AS quartile,
  FIRST_VALUE(o_orderkey) OVER w AS first_ok,
  LAST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_ok,
  NTH_VALUE(o_orderkey, 2) OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_ok,
  LEAD(o_orderkey) OVER w AS next_ok,
  ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
  ROUND(CUME_DIST() OVER w, 6) AS cume
FROM orders
WHERE o_custkey < 100
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
""",
    doc="W-superset: rank/dense_rank/ntile/first/last/nth/lead/percent_rank/cume_dist",
)
def window_function_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.where(F.col("o_custkey") < 100).select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.first("o_orderkey").over(w).alias("first_ok"),
        F.last("o_orderkey").over(wfull).alias("last_ok"),
        F.nth_value("o_orderkey", 2).over(wfull).alias("second_ok"),
        F.lead("o_orderkey").over(w).alias("next_ok"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


# ---------------------------------------------------------------------------
# Null-handling / conditional zoo (F12-superset): coalesce, nullif,
# greatest/least, try-semantics, CASE chains.
# ---------------------------------------------------------------------------


@register(
    "null_handling_zoo",
    oracle="""
SELECT s_suppkey,
  COALESCE(NULLIF(s_name, ''), 'unnamed') AS name_std,
  GREATEST(s_acctbal, 0.0) AS bal_floor,
  LEAST(s_acctbal, 1000.0) AS bal_cap,
  CASE WHEN s_acctbal < 0 THEN 'debt'
       WHEN s_acctbal = 0 THEN 'zero'
       ELSE 'credit' END AS bal_class,
  CAST(s_acctbal IS NULL AS BOOLEAN) AS bal_missing,
  IFNULL(NULLIF(s_nationkey, 0), -1) AS nation_or_default
FROM supplier
""",
    doc="F12-superset: coalesce/nullif/greatest/least/ifnull/CASE chains",
)
def null_handling_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load_table(spark, sf_dir, "supplier")
    bal = F.col("s_acctbal")
    return sup.select(
        "s_suppkey",
        F.coalesce(F.nullif(F.col("s_name"), F.lit("")), F.lit("unnamed")).alias(
            "name_std"
        ),
        F.greatest(bal, F.lit(0.0)).alias("bal_floor"),
        F.least(bal, F.lit(1000.0)).alias("bal_cap"),
        F.when(bal < 0, "debt").when(bal == 0, "zero").otherwise("credit").alias(
            "bal_class"
        ),
        bal.isNull().alias("bal_missing"),
        F.ifnull(F.nullif(F.col("s_nationkey"), F.lit(0)), F.lit(-1)).alias(
            "nation_or_default"
        ),
    )


# ---------------------------------------------------------------------------
# String-function zoo (F-superset): pad/reverse/translate/split_part/
# levenshtein — both engines implement the same integer edit distance.
# ---------------------------------------------------------------------------


@register(
    "string_functions_zoo",
    oracle="""
SELECT s_suppkey,
  UPPER(s_name) AS name_uc,
  LPAD(CAST(s_suppkey AS VARCHAR), 8, '0') AS key_padded,
  REVERSE(s_name) AS name_rev,
  REPLACE(s_name, '#', '-') AS name_dashed,
  SPLIT_PART(s_name, '#', 2) AS name_num,
  LEVENSHTEIN(s_name, 'Supplier#000000001') AS edit_dist,
  SUBSTRING(s_name, 1, 8) AS name_prefix,
  LENGTH(s_name) AS name_len,
  CONCAT(s_name, '/', CAST(s_nationkey AS VARCHAR)) AS name_nation
FROM supplier
""",
    doc="F-superset string zoo: lpad/reverse/replace/split_part/levenshtein/concat",
)
def string_functions_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load_table(spark, sf_dir, "supplier")
    n = F.col("s_name")
    return sup.select(
        "s_suppkey",
        F.upper(n).alias("name_uc"),
        F.lpad(F.col("s_suppkey").cast("string"), 8, "0").alias("key_padded"),
        F.reverse(n).alias("name_rev"),
        F.replace(n, F.lit("#"), F.lit("-")).alias("name_dashed"),
        F.split_part(n, F.lit("#"), F.lit(2)).alias("name_num"),
        F.levenshtein(n, F.lit("Supplier#000000001")).cast("long").alias("edit_dist"),
        F.substring(n, 1, 8).alias("name_prefix"),
        F.length(n).cast("long").alias("name_len"),
        F.concat(n, F.lit("/"), F.col("s_nationkey").cast("string")).alias(
            "name_nation"
        ),
    )


# ---------------------------------------------------------------------------
# Array-function zoo + posexplode (P-superset): positional explode with
# ordinality, array slicing/sorting/membership — scalar outputs so the
# cross-engine compare stays on primitive types.
# ---------------------------------------------------------------------------


@register(
    "array_functions_zoo",
    oracle="""
WITH toks AS (
  SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '') AS arr
  FROM documents WHERE doc_id < 50
)
SELECT doc_id,
  LEN(arr) AS n_tokens,
  arr[1] AS first_tok,
  arr[LEN(arr)] AS last_tok,
  LIST_SORT(LIST_DISTINCT(arr))[1] AS min_tok,
  CAST(LIST_CONTAINS(arr, 'the') AS BOOLEAN) AS has_the,
  CAST(LIST_POSITION(arr, 'data') AS BIGINT) AS data_pos,
  ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(arr))[1:3], ',') AS top3_sorted
FROM toks
""",
    doc="P/F-superset array zoo: slice/sort/distinct/contains/position/join",
)
def array_functions_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    arr = F.filter(F.split("text", " "), lambda x: x != "")
    sorted_dist = F.array_sort(F.array_distinct(arr))
    return docs.select(
        "doc_id",
        F.size(arr).cast("long").alias("n_tokens"),
        F.element_at(arr, 1).alias("first_tok"),
        F.element_at(arr, -1).alias("last_tok"),
        F.element_at(sorted_dist, 1).alias("min_tok"),
        F.array_contains(arr, "the").alias("has_the"),
        F.array_position(arr, "data").alias("data_pos"),
        F.array_join(F.slice(sorted_dist, 1, 3), ",").alias("top3_sorted"),
    )


@register(
    "posexplode_tokens",
    oracle="""
SELECT doc_id, i - 1 AS pos, toks[i] AS token
FROM (
  SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '') AS toks
  FROM documents WHERE doc_id < 20
), UNNEST(GENERATE_SERIES(1, LEN(toks))) AS t(i)
""",
    doc="P-superset: posexplode (positional explode with ordinality)",
)
def posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 20)
    arr = F.filter(F.split("text", " "), lambda x: x != "")
    out = docs.select("doc_id", F.posexplode(arr).alias("pos", "token"))
    return out.withColumn("pos", F.col("pos").cast("long"))


# ---------------------------------------------------------------------------
# Global (grand-total) aggregate — no grouping keys, single-row result.
# ---------------------------------------------------------------------------


@register(
    "global_aggregates",
    oracle="""
SELECT COUNT(*) AS n_rows,
       COUNT(DISTINCT l_orderkey) AS n_orders,
       SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) / 100.0 AS total_price,
       MIN(l_quantity) AS min_qty,
       MAX(l_quantity) AS max_qty
FROM lineitem
""",
    doc="A-superset: global aggregate (partial+final, no group keys)",
)
def global_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        _dsum(F.col("l_extendedprice"), "total_price"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )


# ---------------------------------------------------------------------------
# FULL OUTER join (J-superset): preserve both unmatched sides.
# Suppliers exist for few nations; customers for all — the outer join
# surfaces nation rows with no suppliers as NULL side.
# ---------------------------------------------------------------------------


@register(
    "full_outer_join_nations",
    oracle="""
WITH s AS (SELECT s_nationkey, COUNT(*) AS n_sup FROM supplier GROUP BY 1),
c AS (SELECT c_nationkey, COUNT(*) AS n_cust FROM customer GROUP BY 1)
SELECT COALESCE(s.s_nationkey, c.c_nationkey) AS nationkey,
       COALESCE(s.n_sup, 0) AS n_suppliers,
       COALESCE(c.n_cust, 0) AS n_customers
FROM s FULL OUTER JOIN c ON s.s_nationkey = c.c_nationkey
""",
    doc="J-superset: FULL OUTER join preserving both unmatched sides",
)
def full_outer_join_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(F.count("*").alias("n_sup"))
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_cust"))
    )
    j = s.join(c, s.s_nationkey == c.c_nationkey, "full_outer")
    return j.select(
        F.coalesce(F.col("s_nationkey"), F.col("c_nationkey")).alias("nationkey"),
        F.coalesce(F.col("n_sup"), F.lit(0)).alias("n_suppliers"),
        F.coalesce(F.col("n_cust"), F.lit(0)).alias("n_customers"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q5/Q10 shapes — classic multi-join aggregates as bench anchors.
# ---------------------------------------------------------------------------


@register(
    "tpch_q5_shape",
    oracle="""
SELECT n.n_name,
       SUM(CAST(ROUND(l.l_extendedprice*100) AS BIGINT)
           * (100 - CAST(ROUND(l.l_discount*100) AS BIGINT))) / 10000.0 AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'EUROPE'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n.n_name
""",
    doc="TPC-H Q5 shape: 6-way star join, local-supplier revenue per nation",
)
def tpch_q5_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev = _cents(F.col("l_extendedprice")) * (F.lit(100) - _cents(F.col("l_discount")))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .where(
            (F.col("r_name") == "EUROPE")
            & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy("n_name")
        .agg((F.sum(rev) / F.lit(10000.0)).alias("revenue"))
    )


@register(
    "tpch_q10_shape",
    oracle="""
SELECT c.c_custkey, c.c_name, n.n_name,
       SUM(CAST(ROUND(l.l_extendedprice*100) AS BIGINT)
           * (100 - CAST(ROUND(l.l_discount*100) AS BIGINT))) / 10000.0 AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1995-01-01'
  AND o.o_orderdate < TIMESTAMP '1996-01-01'
GROUP BY c.c_custkey, c.c_name, n.n_name
""",
    doc="TPC-H Q10 shape: returned-item revenue per customer",
)
def tpch_q10_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    n = load_table(spark, sf_dir, "nation")
    rev = _cents(F.col("l_extendedprice")) * (F.lit(100) - _cents(F.col("l_discount")))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .where(
            (F.col("l_returnflag") == "R")
            & (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
        )
        .groupBy("c_custkey", "c_name", "n_name")
        .agg((F.sum(rev) / F.lit(10000.0)).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Combined scalar-function query (F1-F4, F9, F10, F12 in one plan).
# Consolidates the per-family zoo queries (scalar_functions_docs,
# string_functions_zoo, array_functions_zoo, null_handling_zoo — all still
# registered and locally oracle-tested) into a single driver-window row so
# every SURVEY §2.8 function op keeps a hard CORRECTNESS signal.
# Reference ops: regex extract main.yml:56-58, regex replace main.yml:71-73,
# trim main.yml:75, basename main.yml:56, CASE README.md:79-81, array index
# with default README.md:217-218, null-coalescing main.yml:66-70.
# ---------------------------------------------------------------------------


@register(
    "scalar_functions_combined",
    oracle="""
WITH d AS (
  SELECT *, 'raw/' || lang || '/' || source || '.json' AS path,
         LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '') AS arr
  FROM documents
)
SELECT doc_id,
  REGEXP_EXTRACT(text, '^([a-z]+)', 1) AS first_token,
  REGEXP_REPLACE(text, '[0-9]+', 'N', 'g') AS digits_masked,
  TRIM(UPPER(lang)) AS lang_uc,
  REGEXP_EXTRACT(path, '([^/]+)$', 1) AS file_base,
  CASE WHEN n_chars > 500 THEN 'long' WHEN n_chars > 100 THEN 'medium' ELSE 'short' END AS size_bucket,
  COALESCE(arr[1], '') AS tok_first,
  COALESCE(arr[12], '<none>') AS tok_12,
  COALESCE(NULLIF(lang, ''), 'unknown') AS lang_std,
  LENGTH(text) AS text_len
FROM d
""",
    doc=(
        "F1 regexp_extract (main.yml:56-58), F2 regexp_replace (main.yml:71-73), "
        "F3 trim (main.yml:75), F4 basename (main.yml:56), F9 CASE (README.md:79-81), "
        "F10 array index w/ default (README.md:217-218), F12 coalesce (main.yml:66-70) "
        "— one narrow codegen stage, no shuffle"
    ),
)
def scalar_functions_combined(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    path = F.concat(F.lit("raw/"), F.col("lang"), F.lit("/"), F.col("source"), F.lit(".json"))
    arr = F.filter(F.split("text", " "), lambda x: x != "")
    return docs.select(
        "doc_id",
        F.regexp_extract("text", r"^([a-z]+)", 1).alias("first_token"),
        F.regexp_replace("text", r"[0-9]+", "N").alias("digits_masked"),
        F.trim(F.upper(F.col("lang"))).alias("lang_uc"),
        F.regexp_extract(path, r"([^/]+)$", 1).alias("file_base"),
        F.when(F.col("n_chars") > 500, "long")
        .when(F.col("n_chars") > 100, "medium")
        .otherwise("short")
        .alias("size_bucket"),
        F.coalesce(F.try_element_at(arr, F.lit(1)), F.lit("")).alias("tok_first"),
        F.coalesce(F.try_element_at(arr, F.lit(12)), F.lit("<none>")).alias("tok_12"),
        F.coalesce(F.nullif(F.col("lang"), F.lit("")), F.lit("unknown")).alias("lang_std"),
        F.length("text").cast("long").alias("text_len"),
    )


# ---------------------------------------------------------------------------
# Combined aggregate-function query (A-superset + F6 date extraction).
# Consolidates stats_aggregates / global_aggregates / scalar_functions_dates
# (all still registered and locally oracle-tested) into one driver-window
# row: per-year hash agg with exact-cents totals, exact-rational percentile
# over integer cents, mode, count-distinct, and min/max.
# Reference ops: GROUP BY aggregation README.md:252-266, date parse/extract
# README.md:71, count metrics README.md:112.
# ---------------------------------------------------------------------------


@register(
    "agg_functions_combined",
    oracle="""
SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS order_year,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
  SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) / 100.0 AS total_price,
  PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY CAST(ROUND(o_totalprice*100) AS BIGINT)) / 100.0 AS median_price,
  PERCENTILE_CONT(0.9) WITHIN GROUP (ORDER BY CAST(ROUND(o_totalprice*100) AS BIGINT)) / 100.0 AS p90_price,
  MIN(o_totalprice) AS min_price,
  MAX(o_totalprice) AS max_price
FROM orders
GROUP BY 1
""",
    doc=(
        "A1 group-by agg (README.md:252-266) + A5 count metrics (README.md:112) + "
        "F6 date-part extraction (README.md:71) + stats superset "
        "(exact-cents percentiles/distinct; mode stays in stats_aggregates — "
        "engines break frequency ties differently) — one shuffle on year"
    ),
)
def agg_functions_combined(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice")
    cents = _cents(price)
    return orders.groupBy(
        F.year("o_orderdate").alias("order_year")
    ).agg(
        F.count("*").alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        _dsum(price, "total_price"),
        (F.percentile(cents, F.lit(0.5)) / 100.0).alias("median_price"),
        (F.percentile(cents, F.lit(0.9)) / 100.0).alias("p90_price"),
        F.min(price).alias("min_price"),
        F.max(price).alias("max_price"),
    )


# ---------------------------------------------------------------------------
# S10/§2.9 batch twin: supersedence — latest record per logical key wins,
# earlier versions counted as superseded. The reference keeps only the
# newest file version per (season, prefix) before upload (main.yml:136-141)
# and relies on dedup for idempotent re-ingest (README.md:96,114); the
# streaming path implements this with dropDuplicates + checkpoint
# (streaming/incremental.py), and this query is the oracle-checkable batch
# equivalent over the events table.
# ---------------------------------------------------------------------------


@register(
    "staging_supersedence",
    oracle="""
WITH r AS (
  SELECT user_id, event_type, event_id, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn,
         COUNT(*) OVER (PARTITION BY user_id, event_type) AS n
  FROM events
)
SELECT user_id, event_type, event_id AS latest_event_id,
       EPOCH_US(ts) AS latest_ts_us,
       CAST(n - 1 AS BIGINT) AS n_superseded
FROM r WHERE rn = 1
""",
    doc=(
        "S10/§2.9 supersedence batch twin: latest (ts, event_id) per "
        "(user, type) wins, earlier versions counted (ref main.yml:136-141, "
        "README.md:96,114) — one shuffle on the logical key"
    ),
)
def staging_supersedence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w_rank = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    w_all = Window.partitionBy("user_id", "event_type")
    return (
        ev.withColumn("rn", F.row_number().over(w_rank))
        .withColumn("n", F.count("*").over(w_all))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("latest_event_id"),
            F.unix_micros(F.col("ts").cast("timestamp")).alias("latest_ts_us"),
            (F.col("n") - 1).cast("long").alias("n_superseded"),
        )
    )


# ---------------------------------------------------------------------------
# P5-P9 batch twin: quarantine routing — every record gets a route with a
# reason, bad rows are never silently dropped. Mirrors the reference's
# validation ladder (empty-file skip main.yml:122-125, required-field warn
# main.yml:132-134, unknown-league skip via lookup main.yml:144-148): the
# known-lang lookup is a broadcast LEFT join exactly like the league map,
# with NULL-match → quarantine instead of drop.
# ---------------------------------------------------------------------------

_KNOWN_LANGS = ("en", "es", "de", "fr")
_MIN_CHARS = 50


@register(
    "quarantine_routing",
    oracle=f"""
WITH known(lang) AS (VALUES {", ".join(f"('{x}')" for x in _KNOWN_LANGS)})
SELECT d.doc_id,
  CASE WHEN d.n_chars < {_MIN_CHARS} THEN 'quarantine_too_short'
       WHEN k.lang IS NULL THEN 'quarantine_unknown_lang'
       ELSE 'ok' END AS route
FROM documents d LEFT JOIN known k ON d.lang = k.lang
""",
    doc=(
        "P5-P9 quarantine routing: validation ladder with reasons (too-short "
        "analog of empty-file skip main.yml:122-125; unknown-key lookup "
        "main.yml:144-148) — broadcast left join against the known-lang dim"
    ),
)
def quarantine_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    known = F.broadcast(
        docs.sparkSession.createDataFrame(
            [(x,) for x in _KNOWN_LANGS], ["lang"]
        ).withColumn("_known", F.lit(1))
    )
    return (
        docs.join(known, "lang", "left")
        .select(
            "doc_id",
            F.when(F.col("n_chars") < _MIN_CHARS, "quarantine_too_short")
            .when(F.col("_known").isNull(), "quarantine_unknown_lang")
            .otherwise("ok")
            .alias("route"),
        )
    )


@register(
    "tpch_q18_shape",
    oracle="""
WITH big AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qc
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) > 20000
),
j AS (
  SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
         CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS pc, big.qc
  FROM big
  JOIN orders o ON o.o_orderkey = big.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
),
r AS (
  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY pc DESC, o_orderkey) AS BIGINT) AS rk
  FROM j QUALIFY rk <= 100
)
SELECT c_name, c_custkey, o_orderkey, o_orderdate,
       ROUND(CAST(pc AS DOUBLE) / 100.0, 2) AS o_totalprice,
       ROUND(CAST(qc AS DOUBLE) / 100.0, 2) AS sum_qty,
       rk
FROM r
""",
    doc="TPC-H Q18 shape: large-volume orders (quantity-sum gate) with customer, top-100 by price — the group-filter-join-topk composite",
)
def tpch_q18_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 ("large volume customer"): orders whose total line quantity
    exceeds a gate, re-joined to header and customer, top-100 by order
    value — TPC-H's canonical agg→HAVING→join→top-k composite and the
    shape that exercises semi-join reduction (the `big` gate shrinks
    orders BEFORE the customer join touches anything).

    Quantities are summed as exact integer centi-units (l_quantity is
    DOUBLE in the source; a float SUM would be association-ordered),
    the gate compares integers, and the top-100 of the order-sized
    survivor frame rides ``bounded_topk`` (TakeOrderedAndProject, total
    order price DESC then orderkey) — never a single-partition window.
    Reference parity: the reference's aggregation SQL family
    (README.md:252-266) has no Q18 twin; this extends the engine's SQL
    composite coverage alongside q3/q5/q10.
    """
    from ..operators.topk import bounded_topk

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias("qc")
        )
        .where(F.col("qc") > 20000)
    )
    j = (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("pc"),
            "qc",
        )
    )
    top = bounded_topk(
        j,
        100,
        order=[F.col("pc").desc(), F.col("o_orderkey")],
        encode=[
            (-F.col("pc")).alias("neg_pc"),
            F.col("o_orderkey").alias("o_orderkey"),
            F.col("c_name").alias("c_name"),
            F.col("c_custkey").alias("c_custkey"),
            F.col("o_orderdate").alias("o_orderdate"),
            F.col("pc").alias("pc"),
            F.col("qc").alias("qc"),
        ],
        fields=["c_name", "c_custkey", "o_orderkey", "o_orderdate", "pc", "qc"],
    )
    return top.select(
        "c_name",
        "c_custkey",
        "o_orderkey",
        "o_orderdate",
        F.round(F.col("pc").cast("double") / 100.0, 2).alias("o_totalprice"),
        F.round(F.col("qc").cast("double") / 100.0, 2).alias("sum_qty"),
        "rk",
    )


@register(
    "tpch_q21_shape",
    oracle="""
WITH top AS (
  SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
  FROM lineitem l1
  JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
  JOIN supplier s ON s.s_suppkey = l1.l_suppkey
  WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    AND EXISTS (SELECT 1 FROM lineitem l2
                WHERE l2.l_orderkey = l1.l_orderkey
                  AND l2.l_suppkey <> l1.l_suppkey)
    AND NOT EXISTS (SELECT 1 FROM lineitem l3
                    JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
                    WHERE l3.l_orderkey = l1.l_orderkey
                      AND l3.l_suppkey <> l1.l_suppkey
                      AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
  GROUP BY s.s_name
)
SELECT s_name, numwait,
       CAST(ROW_NUMBER() OVER (ORDER BY numwait DESC, s_name) AS BIGINT) AS rk
FROM top
QUALIFY rk <= 10
""",
    doc=(
        "TPC-H Q21 shape (suppliers who kept orders waiting): the "
        "EXISTS + NOT-EXISTS double correlated subquery, rewritten "
        "Spark-side as one per-(order,supplier) collapse — no self-join "
        "of lineitem"
    ),
)
def tpch_q21_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 ("suppliers who kept orders waiting"): late lines of finished
    orders where SOME other supplier shares the order (EXISTS) but NO
    other supplier was also late (NOT EXISTS), counted per supplier,
    top 10.  Lateness adapts Q21's receipt-vs-commit test to this
    schema: ``l_shipdate > o_orderdate + 60 days``.

    The oracle keeps the textbook double correlated subquery.  The
    Spark plan is the aggregate REWRITE — the point of the query: two
    correlated passes over lineitem become ONE ``groupBy(orderkey,
    suppkey)`` collapse, after which "another supplier exists" is
    ``n_supp > 1`` and "no other late supplier" is ``n_late_supp = 1``
    on the pair frame (l1 itself is late, so it is the one).  At 100 TB
    lineitem is touched once (filter-joined to F-status orders, then
    the pair collapse); everything downstream is pair/order-sized.
    Equivalence to the subquery form is exactly what the oracle
    differential certifies.  Top-10 rides ``bounded_topk``
    (TakeOrderedAndProject), never a single-partition window; supplier
    names come from a broadcast dim join.
    """
    from ..operators.topk import bounded_topk

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    )
    supplier = load_table(spark, sf_dir, "supplier")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"))
        .cast("int")
        .alias("late"),
    )
    pairs = j.groupBy("l_orderkey", "l_suppkey").agg(
        F.sum("late").cast("long").alias("late_lines")
    )
    stats = pairs.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supp"),
        F.sum((F.col("late_lines") > 0).cast("int")).alias("n_late_supp"),
    )
    qual = pairs.where(F.col("late_lines") > 0).join(
        stats.where((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)),
        "l_orderkey",
    )
    waits = (
        qual.groupBy("l_suppkey")
        .agg(F.sum("late_lines").cast("long").alias("numwait"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    return bounded_topk(
        waits,
        10,
        order=[F.col("numwait").desc(), F.col("s_name")],
        encode=[
            (-F.col("numwait")).alias("neg_w"),
            F.col("s_name").alias("s_name"),
            F.col("numwait").alias("numwait"),
        ],
        fields=["s_name", "numwait"],
    )


@register(
    "tpch_q16_shape",
    oracle="""
WITH cnt AS (
  SELECT p_brand, p_type, p_size,
         CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_brand <> 'Brand#1'
    AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
    AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
  GROUP BY 1, 2, 3
)
SELECT p_brand, p_type, p_size, supplier_cnt,
       CAST(ROW_NUMBER() OVER (
         ORDER BY supplier_cnt DESC, p_brand, p_type, p_size) AS BIGINT) AS rk
FROM cnt
QUALIFY rk <= 20
""",
    doc=(
        "TPC-H Q16 shape: supplier diversity per part group — broadcast "
        "anti-join exclusion list + COUNT(DISTINCT) agg, top-20"
    ),
)
def tpch_q16_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 ("parts/supplier relationship"): how many distinct suppliers
    serve each (brand, type, size) part group, excluding one brand,
    restricting to 8 sizes, and dropping an exclusion list of suppliers
    (Q16's complaint filter adapts to ``s_acctbal < 0`` — the schema
    has no comment column).

    Plan: part predicates push to the parquet scan of the broadcast
    dim side; the exclusion list is a broadcast LEFT ANTI join (NOT IN
    without the NULL trap — suppkey is non-null by schema, so the
    forms agree); COUNT(DISTINCT) is one expand + partial-agg shuffle
    keyed by the group; top-20 rides ``bounded_topk``.  Nothing scales
    with lineitem except the first filter-join pass.
    """
    from ..operators.topk import bounded_topk

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    bad = load_table(spark, sf_dir, "supplier").where(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    cnt = (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )
    return bounded_topk(
        cnt,
        20,
        order=[
            F.col("supplier_cnt").desc(),
            F.col("p_brand"),
            F.col("p_type"),
            F.col("p_size"),
        ],
        encode=[
            (-F.col("supplier_cnt")).alias("neg_c"),
            F.col("p_brand").alias("p_brand"),
            F.col("p_type").alias("p_type"),
            F.col("p_size").alias("p_size"),
            F.col("supplier_cnt").alias("supplier_cnt"),
        ],
        fields=["p_brand", "p_type", "p_size", "supplier_cnt"],
    )


@register(
    "tpch_q7_shape",
    oracle="""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(YEAR(l.l_shipdate) AS BIGINT) AS l_year,
       SUM(CAST(ROUND(l.l_extendedprice*100) AS BIGINT)
           * (100 - CAST(ROUND(l.l_discount*100) AS BIGINT))) / 10000.0 AS revenue
FROM supplier s
JOIN lineitem l ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l.l_shipdate >= TIMESTAMP '1995-01-01'
  AND l.l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY n1.n_name, n2.n_name, YEAR(l.l_shipdate)
""",
    doc=(
        "TPC-H Q7 shape: bilateral volume shipping between two nations by "
        "ship year (double-dimension join with a disjunctive cross-nation "
        "predicate)"
    ),
)
def tpch_q7_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): revenue between a nation pair in both
    directions by ship year. The interesting shape is the DISJUNCTIVE
    nation predicate across two different dimension roles (supplier's
    nation vs customer's nation) — two broadcast joins against the same
    dim under different aliases, with the filter applied after both, so
    Catalyst pushes each half of the disjunction into the matching
    broadcast side. Money follows the exact-cents discipline (price ×
    (100 − discount) in integer cent-basis-points, one final division).

    Scale shape: lineitem joins orders/supplier/customer on their keys
    (the two dims broadcast; orders/customer co-shuffle), and the
    year-pair group-by is 2·|years| groups — map-side combinable.
    """
    s = load_table(spark, sf_dir, "supplier")
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    rev = _cents(F.col("l_extendedprice")) * (
        F.lit(100) - _cents(F.col("l_discount"))
    )
    return (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
        .where(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year")
        )
        .agg((F.sum(rev) / F.lit(10000.0)).alias("revenue"))
    )
