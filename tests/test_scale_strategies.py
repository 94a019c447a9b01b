"""Scale-strategy semantics: salted join ≡ plain join; bucketed tables
co-locate a repeat join without an exchange."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from facebook_ad_library_data_pipeline_spark.catalog import load_table
from facebook_ad_library_data_pipeline_spark.operators.skew import salted_join

from .plan_helpers import formatted_plan


def test_salted_join_equals_plain_join(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    plain = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .select("o_orderkey", "c_custkey")
        .collect()
    )
    salted = (
        salted_join(orders, customer, "o_custkey", "c_custkey")
        .select("o_orderkey", "c_custkey")
        .collect()
    )
    assert sorted(map(tuple, salted)) == sorted(map(tuple, plain))


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """bucketBy co-location: writing both sides bucketed on the join key
    lets the join run without any Exchange (the 100 TB repeat-join
    optimization)."""
    # (warehouse dir is a static conf — bucketed tables land in the
    # session default spark-warehouse/; purge catalog entries AND
    # leftover locations from any earlier aborted run)
    import shutil
    from pathlib import Path

    warehouse = Path(spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"))
    for tbl in ("orders_bkt", "lineitem_bkt"):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(warehouse / tbl, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    orders.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(
        "orders_bkt"
    )
    li.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(
        "lineitem_bkt"
    )
    # at testdata size the planner prefers broadcast (which bypasses
    # bucketing); disable it to expose the co-located sort-merge plan a
    # big-big join would use
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.table("orders_bkt")
        b = spark.table("lineitem_bkt")
        joined = a.join(b, a.o_orderkey == b.l_orderkey).select("o_orderkey", "l_linenumber")
        plan = formatted_plan(joined)
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan[:800]}"
        assert "SortMergeJoin" in plan
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS orders_bkt")
        spark.sql("DROP TABLE IF EXISTS lineitem_bkt")


def test_aqe_skew_join_splits_hot_partition(spark):
    """Spark's OWN skew mitigation (AQE OptimizeSkewedJoin) must fire
    on a hot-key join when salting is off — the executed plan carries
    the `skew=true` marker on the sort-merge join after the hot
    partition is split into advisory-sized chunks.

    When to prefer which (measured here + SCALE_EVIDENCE.md "Skew
    mitigation"):

    * AQE skew-join handles the straggler WITHOUT touching the query —
      but only when the join's output feeds no keyed re-shuffle: if a
      downstream operator requires hash distribution on the same key
      (second probe below), AQE declines to split (splitting would just
      recreate the skew in the next exchange), and the plan shows no
      skew marker even with forceOptimizeSkewedJoin.
    * salted_join (operators/skew.py) restructures the key itself, so
      it also protects joins whose output is re-shuffled — the case
      AQE leaves on the table — at the cost of SALT-fold dim
      replication.

    90% of fact rows on one key; thresholds lowered so the few-MB hot
    partition qualifies locally (at 100 TB the defaults - 256 MB
    threshold, 5x factor - qualify on their own)."""
    from .plan_helpers import executed_plan

    def run(agg_keyed: bool) -> bool:
        scoped = spark.newSession()
        for k, v in {
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        }.items():
            scoped.conf.set(k, v)
        fact = scoped.range(400_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id") % 97)
            .alias("k"),
            F.col("id").alias("payload"),
        )
        dim = scoped.range(100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        joined = fact.join(dim, "k")
        out = (
            joined.groupBy("k").count()
            if agg_keyed
            else joined.groupBy().agg(F.sum("payload").alias("s"))
        )
        out.collect()
        return "skew=true" in executed_plan(out)

    # no downstream keyed shuffle -> AQE splits the hot partition
    assert run(agg_keyed=False)
    # downstream keyed shuffle on the join key -> AQE declines; this is
    # the regime where salted_join is the remaining lever
    assert not run(agg_keyed=True)
