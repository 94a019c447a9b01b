"""Testdata catalog: explicit schemas + loaders for the driver tables.

Explicit ``StructType`` per table — never schema inference on the hot
path (SURVEY.md §1.4). Mirrors /root/testdata/sf*/{table}.parquet.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    # events.ts arrives as either parquet TIMESTAMP(NANOS) (rounds 1-3
    # testdata) or TIMESTAMP(MICROS) (round-5 regeneration). The footer
    # is probed per sf_dir (events_ts_unit) and the loader branches:
    # NANOS is unreadable as Spark TimestampType, so it is declared long
    # (via spark.sql.legacy.parquet.nanosAsLong) and truncated to
    # microseconds (= DuckDB); MICROS reads natively. The default
    # catalog schema carries the native TimestampType shape.
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


@lru_cache(maxsize=None)
def _events_ts_unit_cached(path: str, mtime_ns: int) -> str:
    import pyarrow.parquet as pq

    t = pq.ParquetFile(path).schema_arrow.field("ts").type
    return getattr(t, "unit", "us")


def events_ts_unit(sf_dir: str) -> str:
    """Parquet-footer probe for the events ``ts`` physical resolution
    ('ns' | 'us' | 'ms'): one tiny metadata read, cached per
    (path, mtime) so a REGENERATED events.parquet re-probes instead of
    serving a stale unit for the life of the process. The driver has
    shipped both TIMESTAMP(NANOS) and TIMESTAMP(MICROS) encodings
    across rounds; assuming either one silently rescales every
    event-time window by 1000x, so the loader must look."""
    import os

    path = f"{sf_dir}/events.parquet"
    return _events_ts_unit_cached(path, os.stat(path).st_mtime_ns)


def _events_nanos_schema() -> T.StructType:
    fields = [
        T.StructField("ts", T.LongType()) if f.name == "ts" else f
        for f in SCHEMAS["events"].fields
    ]
    return T.StructType(fields)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan with declared schema — pushdown/pruning friendly."""
    # The session contract's one exception (session.py): timestamp
    # semantics must be UTC (DuckDB oracle is UTC-naive) on a
    # driver-built session too, and neither this nor nanosAsLong below
    # has a reader-option form. Both are no-ops on a get_spark session.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events" and events_ts_unit(sf_dir) == "ns":
        # TIMESTAMP(NANOS) is unreadable as Spark TimestampType: read
        # the raw int64 and truncate to microseconds (= DuckDB).
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.schema(_events_nanos_schema()).parquet(f"{sf_dir}/{name}.parquet")
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return spark.read.schema(SCHEMAS[name]).parquet(f"{sf_dir}/{name}.parquet")


def register_views(spark: SparkSession, sf_dir: str, *tables: str) -> None:
    """Register the named tables as temp views for the SQL API; a query
    names only the tables its SQL reads."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def fan_out(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Round-robin rebalance a NARROW scan before CPU-heavy per-row work.

    A small table often arrives as one parquet file = one input split,
    so tokenize/shingle/hash pipelines run on a single core no matter
    how many the cluster has (profiled: MinHash signatures at sf0.1
    went 10.9 s -> 2.4 s once spread over 32 cores). Guarded: when the
    scan already has >= defaultParallelism splits -- the normal state at
    100 TB, where AQE/maxPartitionBytes govern split counts -- this is a
    no-op and adds no shuffle. Row-level semantics are unaffected, so
    oracle parity is untouched.
    """
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
    return df
