"""SQL entry point (SURVEY.md §3 E3): the same engine through
``spark.sql``.

The reference submits SQL text to BigQuery (README.md:252-266); here
the identical ANSI text runs on Spark's catalog views and — because
both surfaces converge on the same Catalyst plan — produces the same
results as the DataFrame API. These queries are written ONCE in an
engine-portable dialect: the string sent to ``spark.sql`` is the same
string handed to DuckDB as the oracle, which is the strongest possible
form of the two-surface parity property.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources import register_views
from .registry import register

# Portable ANSI text — used verbatim for BOTH spark.sql and the DuckDB
# oracle. Stick to functions both dialects share (no EPOCH_US here), and
# divide by CAST(... AS DOUBLE): a bare `100.0` literal is DECIMAL(4,1)
# to Spark SQL but yields a DOUBLE division in DuckDB.

_SQL_SEASON_SHAPE = """
SELECT
  o_orderpriority,
  COUNT(*) AS n_orders,
  SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) / CAST(100.0 AS DOUBLE) AS total_price,
  MIN(o_orderkey) AS first_orderkey
FROM orders
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
"""

_SQL_CTE_TOPN = """
WITH cust_orders AS (
  SELECT c.c_custkey, c.c_mktsegment, o.o_orderkey, o.o_totalprice
  FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
),
ranked AS (
  SELECT c_mktsegment, c_custkey, o_orderkey, o_totalprice,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY c_mktsegment
           ORDER BY o_totalprice DESC, o_orderkey
         ) AS BIGINT) AS rn
  FROM cust_orders
)
SELECT c_mktsegment, c_custkey, o_orderkey, o_totalprice, rn
FROM ranked WHERE rn <= 5
"""

_SQL_TPCH_Q3_SHAPE = """
SELECT
  l.l_orderkey,
  SUM(CAST(ROUND(l.l_extendedprice*100) AS BIGINT)
      * (100 - CAST(ROUND(l.l_discount*100) AS BIGINT))) / CAST(10000.0 AS DOUBLE) AS revenue,
  CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT) AS order_year,
  o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15'
  AND l.l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l.l_orderkey, CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT), o.o_orderpriority
"""


def _sql_query(sql_text: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir, sql_text)
        return spark.sql(sql_text)

    return run


register(
    "sql_agg_orders",
    oracle=_SQL_SEASON_SHAPE,
    doc="E3 SQL surface: identical text runs on spark.sql AND DuckDB (ref README.md:252-266)",
)(_sql_query(_SQL_SEASON_SHAPE))

register(
    "sql_cte_topn",
    oracle=_SQL_CTE_TOPN,
    doc="E3 SQL surface: CTE + window ranking, same text both engines",
)(_sql_query(_SQL_CTE_TOPN))

register(
    "sql_tpch_q3_shape",
    oracle=_SQL_TPCH_Q3_SHAPE,
    doc="E3 SQL surface: TPC-H Q3-shaped 3-way join + agg, same text both engines",
)(_sql_query(_SQL_TPCH_Q3_SHAPE))

_SQL_LATERAL_TOPN = """
SELECT r.r_name, n.n_name, n.n_nationkey
FROM region r
JOIN LATERAL (
  SELECT n_name, n_nationkey
  FROM nation
  WHERE n_regionkey = r.r_regionkey
  ORDER BY n_name
  LIMIT 2
) AS n ON TRUE
"""

_SQL_NAMED_WINDOW = """
SELECT
  o_custkey,
  o_orderkey,
  CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
  SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) OVER w / CAST(100.0 AS DOUBLE) AS running_spend
FROM orders
WHERE o_custkey < 100
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""

_SQL_GROUPING_SETS = """
SELECT
  o_orderstatus,
  o_orderpriority,
  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
  COUNT(*) AS n_orders,
  SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) / CAST(100.0 AS DOUBLE) AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""

register(
    "sql_lateral_topn",
    oracle=_SQL_LATERAL_TOPN,
    doc="E3 SQL surface: correlated LATERAL top-n per row, same text both engines",
)(_sql_query(_SQL_LATERAL_TOPN))

register(
    "sql_named_window",
    oracle=_SQL_NAMED_WINDOW,
    doc="E3 SQL surface: named WINDOW clause shared by two functions, same text both engines",
)(_sql_query(_SQL_NAMED_WINDOW))

register(
    "sql_grouping_sets",
    oracle=_SQL_GROUPING_SETS,
    doc="E3 SQL surface: GROUPING SETS + GROUPING() markers, same text both engines",
)(_sql_query(_SQL_GROUPING_SETS))
