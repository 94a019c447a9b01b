"""Skew & co-location strategies — the two levers beyond AQE for the
100 TB posture (SURVEY.md §4): key salting for hot keys, bucketing for
shuffle-free repeat joins.

Salting: the hot build-side key is replicated SALT ways; each probe row
picks a deterministic salt — the hot key's rows spread over SALT
reducers instead of one straggler. Result-equivalence with the plain
join is asserted in tests (same rows, different physical distribution).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.money import money_sum, money_sum_sql
from ..registry import query

SALT = 8


def salted_join(
    fact: DataFrame, dim: DataFrame, fact_key: str, dim_key: str, how: str = "inner"
) -> DataFrame:
    """Equi-join with an 8-way salted key: dim rows replicated per salt
    (explode of a literal range — cheap for a dim), fact rows salted by
    a deterministic hash of the WHOLE fact row — not of the join key.
    Salting by the key would send every row of a hot key to the SAME
    salt bucket (hash(hot_key) is one value), defeating the entire
    point; hashing all columns spreads a hot key across the SALT
    buckets as long as any non-key column varies, while staying
    deterministic (same input -> same routing, so re-runs are stable
    and the join OUTPUT is identical either way — the salt only
    routes). Measured in SCALE_EVIDENCE.md "Skew mitigation": the
    straggler task under a 90%-hot key drops ~SALT-fold."""
    salted_dim = dim.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(SALT)]))
    )
    salted_fact = fact.withColumn(
        "__salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in fact.columns]), F.lit(SALT)).cast("int"),
    )
    out = salted_fact.join(
        salted_dim,
        (salted_fact[fact_key] == salted_dim[dim_key])
        & (salted_fact["__salt"] == salted_dim["__salt"]),
        how,
    )
    return out.drop("__salt")


_SALTED_ORACLE = f"""
SELECT c_mktsegment,
       count(*) AS n_orders,
       {money_sum_sql("o_totalprice")} AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


@query("q_salted_join", oracle=_SALTED_ORACLE, tags=("join", "skew"))
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The broadcast-dims star join re-run through the salting path —
    same answer (oracle-checked), skew-proof physical plan. Used when
    the dim is too big to broadcast AND the fact keys are skewed."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    joined = salted_join(orders, customer, "o_custkey", "c_custkey")
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        money_sum(F.col("o_totalprice")).alias("revenue"),
    )
