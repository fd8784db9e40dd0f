"""Subquery demos (scalar / EXISTS / correlated-average shapes).

Split out of ``demo.sqlsurface``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transit_efficiency_analysis_spark.demo import demo
from transit_efficiency_analysis_spark.sources.registry import load_table


@demo(
    "q_subquery_scalar",
    sql="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE CAST(o_totalprice AS DECIMAL(18,4)) * (SELECT count(*) FROM orders)
          > (SELECT sum(CAST(o_totalprice AS DECIMAL(18,4))) FROM orders)
    """,
)
def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scalar subquery: orders above the global average price
    (price·n > Σprice — exact decimal arithmetic, no float threshold)."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE CAST(o_totalprice AS DECIMAL(18,4)) * (SELECT count(*) FROM orders)
              > (SELECT sum(CAST(o_totalprice AS DECIMAL(18,4))) FROM orders)
        """
    )


@demo(
    "q_subquery_exists",
    sql="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    """,
)
def q_subquery_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """correlated EXISTS / NOT EXISTS via the SQL API (plans to
    semi/anti joins — same physical shape as q_join_semi/anti)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        """
    )


@demo(
    "q_subquery_correlated_avg",
    sql="""
    SELECT l.l_orderkey, l.l_linenumber, l.l_quantity
    FROM lineitem l
    JOIN (SELECT l_orderkey, count(*) AS n,
                 sum(CAST(l_quantity AS DECIMAL(18,4))) AS total
          FROM lineitem GROUP BY l_orderkey) g
      ON l.l_orderkey = g.l_orderkey
    WHERE CAST(l.l_quantity AS DECIMAL(18,4)) * g.n > g.total
    """,
)
def q_subquery_correlated_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-group above-average filter (the correlated-subquery pattern,
    decorrelated into a grouped join — what Catalyst does anyway)."""
    li = load_table(spark, sf_dir, "lineitem")
    g = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("total"),
    )
    j = li.join(g, "l_orderkey")
    return j.where(F.col("l_quantity").cast("decimal(18,4)") * F.col("n") > F.col("total")).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


_LATERAL_TOPK_SQL = """
    SELECT n.n_name AS nation, l.s_name AS s_name, l.s_acctbal AS s_acctbal
    FROM nation n,
    LATERAL (SELECT s_name, s_acctbal
             FROM supplier s
             WHERE s.s_nationkey = n.n_nationkey
             ORDER BY s_acctbal DESC, s_suppkey
             LIMIT 2) l
"""


@demo("q_join_lateral_topk", sql=_LATERAL_TOPK_SQL)
def q_join_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (SQL-standard lateral join, Spark 4):
    per nation, the top-2 suppliers by account balance, expressed as a
    per-row correlated derived table with ORDER BY ... LIMIT inside —
    the form BI tools and migrating Postgres/DuckDB workloads write,
    complementing ``q_topk_per_group``'s window formulation of the same
    contract. Catalyst decorrelates the lateral into a join +
    per-group limit rather than executing the subquery per outer row
    (same plan family as the window form — WindowGroupLimit-style
    pushdown, one shuffle on the correlation key, no N+1 execution).
    ``s_suppkey`` tie-breaks equal balances so top-2 is deterministic;
    the oracle is DuckDB's own LATERAL evaluation of the identical
    query."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView("supplier")
    return spark.sql(_LATERAL_TOPK_SQL)
