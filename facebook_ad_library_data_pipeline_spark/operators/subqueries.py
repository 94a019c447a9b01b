"""Subquery surface: EXISTS / IN / scalar / correlated-scalar subqueries,
plus the join-heavy TPC-H Q3 shape and exact interpolated percentiles.

The reference has no SQL at all (SURVEY.md §2.B) — this is part of the
relational-completeness mandate. Subqueries are declared via
``spark.sql`` over temp views so Catalyst's decorrelation
(RewriteCorrelatedScalarSubquery, RewritePredicateSubquery) turns them
into joins; the point at 100 TB is that none of these execute a
per-row inner query — EXISTS/IN become left-semi hash joins, the
scalar subquery becomes a broadcast of a 1-row aggregate, and the
correlated scalar becomes an aggregate + equi-join on the correlation
key. Verified in tests/test_plans.py: no IN-subquery survives to the
physical plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, register_views
from ..functions.money import money_sum, money_sum_sql
from ..registry import query


_EXISTS_ORACLE = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
)
"""


@query("q_subquery_exists", oracle=_EXISTS_ORACLE, tags=("subquery", "join"))
def q_subquery_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS → Catalyst rewrites to a LEFT SEMI hash join
    (RewritePredicateSubquery); never a per-row probe."""
    register_views(spark, sf_dir, "customer", "orders")
    return spark.sql(_EXISTS_ORACLE)


_NOT_EXISTS_ORACLE = """
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
)
"""


@query("q_subquery_not_exists", oracle=_NOT_EXISTS_ORACLE, tags=("subquery", "join"))
def q_subquery_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS → LEFT ANTI join. Chosen over NOT IN on purpose: NOT
    IN against a nullable key is three-valued (one NULL in the inner
    set empties the result) — NOT EXISTS sidesteps the trap and is the
    form that scales (null-aware anti join is a broadcast-only
    strategy in Spark)."""
    register_views(spark, sf_dir, "customer", "orders")
    return spark.sql(_NOT_EXISTS_ORACLE)


_IN_ORACLE = """
SELECT s_suppkey, s_name, s_nationkey
FROM supplier
WHERE s_nationkey IN (
    SELECT n_nationkey FROM nation
    WHERE n_regionkey IN (SELECT r_regionkey FROM region WHERE r_name = 'EUROPE')
)
"""


@query("q_subquery_in", oracle=_IN_ORACLE, tags=("subquery", "join"))
def q_subquery_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested IN subqueries (region → nation → supplier): both levels
    become semi joins; the tiny inner sides broadcast."""
    register_views(spark, sf_dir, "supplier", "nation", "region")
    return spark.sql(_IN_ORACLE)


_SCALAR_ORACLE = """
SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
"""


@query("q_subquery_scalar", oracle=_SCALAR_ORACLE, tags=("subquery", "agg"))
def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery: the 1-row aggregate runs once as
    its own tiny job and is broadcast into the filter — O(n) + O(1),
    not O(n²)."""
    register_views(spark, sf_dir, "customer")
    return spark.sql(_SCALAR_ORACLE)


_CORR_SCALAR_ORACLE = """
SELECT o.o_orderkey, o.o_custkey, round(o.o_totalprice, 2) AS totalprice
FROM orders o
WHERE o.o_totalprice > 1.5 * (
    SELECT avg(o2.o_totalprice) FROM orders o2 WHERE o2.o_custkey = o.o_custkey
)
"""


@query("q_subquery_corr_scalar", oracle=_CORR_SCALAR_ORACLE, tags=("subquery", "agg", "join"))
def q_subquery_corr_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (order > 1.5× its customer's mean):
    decorrelated into a per-custkey aggregate joined back on the
    correlation key — one shuffle on o_custkey, not a per-row rescan
    of orders."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(_CORR_SCALAR_ORACLE)


_Q3_ORACLE = f"""
SELECT l_orderkey,
       {money_sum_sql("l_extendedprice * (1 - l_discount)")} AS revenue,
       o_orderdate,
       o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-06-30 00:00:00'
  AND l_shipdate  > TIMESTAMP '1997-06-30 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


@query("q_tpch_q3", oracle=_Q3_ORACLE, tags=("tpch", "join", "agg", "topk"))
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority): 3-way join + agg + top-10. The
    scale shape: segment filter prunes customer BEFORE the join (both
    pushed to the parquet scan), customer×orders shuffles on custkey,
    the result joins lineitem on orderkey, and the top-10 is
    TakeOrderedAndProject (per-partition heaps, no global sort).
    Tie-break (o_orderdate, l_orderkey) makes the limit total-ordered
    so the oracle can't diverge on revenue ties."""
    cutoff = F.lit("1997-06-30").cast("timestamp")
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


_MEDIAN_ORACLE = """
SELECT o_orderstatus,
       round(quantile_cont(o_totalprice, 0.5), 2)  AS p50,
       round(quantile_cont(o_totalprice, 0.9), 2)  AS p90,
       round(quantile_cont(o_totalprice, 0.99), 2) AS p99,
       count(*) AS n
FROM orders
GROUP BY o_orderstatus
"""


@query("q_percentiles_exact", oracle=_MEDIAN_ORACLE, tags=("agg", "percentile"))
def q_percentiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT interpolated percentiles (Spark `percentile` ≡ DuckDB
    `quantile_cont`, both linear interpolation) — the oracle-checkable
    twin of q_percentiles' sketch. Exact quantiles need the full value
    multiset per group (here: 3 groups, fine); at 100 TB you pick the
    sketch — this pair exists to document that trade."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 2).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 2).alias("p90"),
        F.round(F.expr("percentile(o_totalprice, 0.99)"), 2).alias("p99"),
        F.count(F.lit(1)).alias("n"),
    )
