"""Aggregation family — absent from the reference (only ``len()`` row
counts, ``transform_raw_data.py:201``); north-star mandated.

Every aggregate is a hash aggregation with map-side partial combine
(Spark's default for algebraic aggs) — the shape that scales: the
shuffle carries one partial state per (partition, group), not rows.
Monetary sums are rounded to 2 decimals on BOTH engine and oracle so
float summation order can't flip the compare.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, register_views
from ..functions.money import (
    dec_sum,
    dec_sum_sql,
    det_round,
    det_round_sql,
    money_sum,
    money_sum_sql,
)
from ..registry import query

_Q1_ORACLE = """
SELECT l_returnflag,
       l_linestatus,
       round(sum(l_quantity), 2)                                       AS sum_qty,
       round(sum(l_extendedprice), 2)                                  AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)               AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4)                                       AS avg_qty,
       round(avg(l_extendedprice), 4)                                  AS avg_price,
       round(avg(l_discount), 4)                                       AS avg_disc,
       count(*)                                                        AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@query("q_tpch_q1", oracle=_Q1_ORACLE, tags=("agg", "tpch"))
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: pushed-down date filter + 8 aggregates over two
    low-cardinality keys — the canonical partial-agg benchmark."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_STATS_ORACLE = f"""
SELECT c_mktsegment,
       count(*)                       AS n_customers,
       count(DISTINCT c_nationkey)    AS n_nations,
       {money_sum_sql("c_acctbal")} AS sum_bal,
       {det_round_sql(dec_sum_sql("c_acctbal") + " / count(*)", 4)} AS avg_bal,
       round(min(c_acctbal), 2)       AS min_bal,
       round(max(c_acctbal), 2)       AS max_bal
FROM customer
GROUP BY c_mktsegment
"""


@query("q_agg_stats", oracle=_STATS_ORACLE, tags=("agg",))
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count / countDistinct / sum / avg / min / max in one pass.
    countDistinct expands to a two-phase aggregate (expand + merge) —
    still a single logical pass, no driver involvement. sum and avg
    go through the exact decimal sum: a double sum depends on the
    partial-sum order, which flips avg_bal's last digit on a half-way
    tie (167633.53 / 40 = 4190.83825)."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.countDistinct("c_nationkey").alias("n_nations"),
        money_sum(F.col("c_acctbal")).alias("sum_bal"),
        det_round(dec_sum(F.col("c_acctbal")).cast("double") / F.count(F.lit(1)), 4).alias(
            "avg_bal"
        ),
        F.round(F.min("c_acctbal"), 2).alias("min_bal"),
        F.round(F.max("c_acctbal"), 2).alias("max_bal"),
    )


_ROLLUP_ORACLE = """
SELECT o_orderstatus,
       o_orderpriority,
       count(*) AS n,
       round(sum(o_totalprice), 2) AS revenue
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


@query("q_rollup", oracle=_ROLLUP_ORACLE, tags=("agg", "rollup"))
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP: hierarchical subtotals (status, status×priority, grand
    total) — Catalyst Expand node, one shuffle."""
    o = load_table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


_CUBE_ORACLE = """
SELECT l_returnflag,
       l_linestatus,
       count(*) AS n,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


@query("q_cube", oracle=_CUBE_ORACLE, tags=("agg", "cube"))
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all grouping-set combinations."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


_GSETS_ORACLE = """
SELECT o_orderstatus,
       c_mktsegment,
       round(sum(o_totalprice), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY GROUPING SETS ((o_orderstatus), (c_mktsegment), ())
"""


@query("q_grouping_sets", oracle=_GSETS_ORACLE, tags=("agg",))
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL API (same Catalyst plan as the
    DataFrame rollup/cube path)."""
    register_views(spark, sf_dir, "orders", "customer")
    return spark.sql(
        """
        SELECT o_orderstatus,
               c_mktsegment,
               round(sum(o_totalprice), 2) AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY GROUPING SETS ((o_orderstatus), (c_mktsegment), ())
        """
    )


_PIVOT_ORACLE = """
SELECT l_returnflag,
       round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_open,
       round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_filled
FROM lineitem
GROUP BY l_returnflag
"""


@query("q_pivot", oracle=_PIVOT_ORACLE, tags=("agg", "pivot"))
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list (never let pivot scan for
    distinct values at scale — that's an extra job)."""
    li = load_table(spark, sf_dir, "lineitem")
    pivoted = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )
    return pivoted.select(
        "l_returnflag",
        F.col("O").alias("qty_open"),
        F.col("F").alias("qty_filled"),
    )


_HAVING_ORACLE = f"""
SELECT o_custkey,
       count(*) AS n_orders,
       {money_sum_sql("o_totalprice")} AS revenue
FROM orders
GROUP BY o_custkey
HAVING count(*) >= 12
"""


@query("q_having", oracle=_HAVING_ORACLE, tags=("agg",))
def q_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING) — a plain filter above the agg.
    Per-custkey money sums in exact decimal (fine-grained groups — the
    q_join_multiway risk class, functions/money.py)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money_sum(F.col("o_totalprice")).alias("revenue"),
        )
        .filter(F.col("n_orders") >= 12)
    )


_DISTINCT_ORACLE = """
SELECT DISTINCT c_mktsegment, c_nationkey
FROM customer
"""


@query("q_distinct", oracle=_DISTINCT_ORACLE, tags=("agg",))
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT = group-by-all-columns hash aggregate."""
    c = load_table(spark, sf_dir, "customer")
    return c.select("c_mktsegment", "c_nationkey").distinct()


_APPROX_DISTINCT_ORACLE = """
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS exact_parts,
       count(*) AS n,
       TRUE AS approx_ok
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@query("q_approx_distinct", oracle=_APPROX_DISTINCT_ORACLE, tags=("agg", "approx"))
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++, rsd=0.01) checked against the exact
    distinct count IN the query output: the sketch estimate itself is
    implementation-specific (JVM HLL++ registers), so instead of emitting
    it raw (rows-only forever) the query emits the exact count plus an
    `approx_ok` tolerance flag — |approx − exact| ≤ 5·rsd·exact — which
    the DuckDB oracle pins to TRUE. A sketch regression (drift beyond
    tolerance) flips the flag and the driver hash goes red, so the
    approximate path is now hash-checked without pretending two engines'
    sketches agree bit-for-bit. Same move as q_countmin_portable, but
    via tolerance instead of a portable hash family.

    At 100 TB only the sketch side survives (exact distinct is the thing
    HLL avoids); the exact twin in this query is the verification
    harness, run at driver/test scale to make the sketch checkable."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx_parts"),
            F.countDistinct("l_partkey").alias("exact_parts"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            "n",
            (
                F.abs(F.col("approx_parts") - F.col("exact_parts"))
                <= F.greatest(0.05 * F.col("exact_parts"), F.lit(2.0))
            ).alias("approx_ok"),
        )
        .orderBy("l_returnflag")
    )


_PERCENTILES_ORACLE = """
SELECT o_orderstatus,
       count(*) AS n,
       TRUE AS p25_ok, TRUE AS p50_ok, TRUE AS p75_ok
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@query("q_percentiles", oracle=_PERCENTILES_ORACLE, tags=("agg", "approx"))
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx — the scalable quantile sketch (exact
    percentile needs a full sort; the sketch shuffles O(1) state) —
    hash-checked via rank-error tolerance flags: with accuracy=10000
    the sketch guarantees rank error ≤ 1/10000, so each approximate
    quartile must land between the EXACT percentiles at q ∓ 0.05
    (500× the guaranteed bound — generous but regression-sensitive).
    The oracle pins the three flags to TRUE; a sketch regression flips
    one and the driver goes red. Raw sketch values stay out of the
    output (engine-specific). Exact quantile twin: q_percentiles_exact.

    Emits SCALAR columns, not array<double>: the driver's rows-only
    canonicalizer (pandas sort) crashes on unhashable list cells
    (round-1 CORRECTNESS err)."""
    o = load_table(spark, sf_dir, "orders")
    qs = [0.25, 0.5, 0.75]
    lo = [q - 0.05 for q in qs]
    hi = [q + 0.05 for q in qs]
    agg = o.groupBy("o_orderstatus").agg(
        F.percentile_approx("o_totalprice", qs, 10000).alias("q"),
        F.percentile("o_totalprice", F.array(*[F.lit(x) for x in lo])).alias("lo"),
        F.percentile("o_totalprice", F.array(*[F.lit(x) for x in hi])).alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    flags = [
        ((F.col("q")[i] >= F.col("lo")[i]) & (F.col("q")[i] <= F.col("hi")[i])).alias(
            f"p{int(q * 100)}_ok"
        )
        for i, q in enumerate(qs)
    ]
    return agg.select("o_orderstatus", "n", *flags).orderBy("o_orderstatus")


_MOMENTS_ORACLE = """
SELECT l_returnflag,
       round(stddev_samp(l_extendedprice), 2) AS price_stddev,
       round(var_samp(l_quantity), 4) AS qty_var,
       round(corr(l_extendedprice, l_quantity), 4) AS price_qty_corr,
       round(covar_samp(l_extendedprice, l_discount), 4) AS price_disc_covar,
       count(*) AS n
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@query("q_stats_moments", oracle=_MOMENTS_ORACLE, tags=("agg", "stats"))
def q_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment aggregates (stddev/variance/correlation/covariance)
    — one-pass co-moment accumulators with map-side partials, exactly
    as mergeable at 100 TB as sum/count (both engines use numerically
    stable co-moment updates; rounded to kill last-ulp divergence)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_extendedprice"), 2).alias("price_stddev"),
            F.round(F.var_samp("l_quantity"), 4).alias("qty_var"),
            F.round(F.corr("l_extendedprice", "l_quantity"), 4).alias("price_qty_corr"),
            F.round(F.covar_samp("l_extendedprice", "l_discount"), 4).alias(
                "price_disc_covar"
            ),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


HIST_BUCKETS = 20


_HISTOGRAM_ORACLE = f"""
WITH bounds AS (
    SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders
),
bucketed AS (
    SELECT least(CAST(floor((o_totalprice - b.lo) * {HIST_BUCKETS}
                            / (b.hi - b.lo)) AS BIGINT),
                 {HIST_BUCKETS - 1}) AS bucket
    FROM orders, bounds b
)
SELECT bucket, count(*) AS n_orders
FROM bucketed
GROUP BY bucket
ORDER BY bucket
"""


@query("q_histogram_prices", oracle=_HISTOGRAM_ORACLE, tags=("agg", "histogram"))
def q_histogram_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order totals in 20 buckets — the
    profiling primitive behind every dashboard distribution plot.
    Bucket index is pure floor arithmetic over (min, max) — identical
    doubles on both engines (the 1-row bounds aggregate broadcasts;
    the max value clamps into the last bucket). Two passes at most:
    bounds + bucketed count, both map-side-combined aggregates."""
    o = load_table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    bucket = F.least(
        F.floor(
            (F.col("o_totalprice") - F.col("lo")) * HIST_BUCKETS
            / (F.col("hi") - F.col("lo"))
        ).cast("long"),
        F.lit(HIST_BUCKETS - 1),
    )
    return (
        o.join(F.broadcast(bounds))
        .select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("bucket")
    )
