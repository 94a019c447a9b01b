"""facebook_ad_library_data_pipeline_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference pipeline (``olegzaitsevway/facebook-ad-library-data-pipeline``,
studied read-only at /root/reference), re-expressed Spark-first:

* DataFrame / Spark-SQL logical plans, Catalyst picks physical strategy.
* Explicit ``StructType`` schemas everywhere (no hot-path inference).
* Python confined to Arrow-batched ``pandas_udf`` / ``mapInPandas``.
* Every operator designed for a 1000-executor / 100 TB posture: no
  ``collect()`` on hot paths, broadcast dims, single-shuffle dedups,
  LSH instead of cross joins, top-k via TakeOrderedAndProject.

Layout
------
``session``    SparkSession factory (UTC, AQE, tuned shuffle partitions)
``catalog``    testdata table loaders / temp-view registration
``sources``    writers (parquet/json/csv/orc, partitioned writes), Python
               data sources, binaryFile scans
``operators``  relational + pipeline operators (transform, quality,
               dedup, joins, aggregates, windows, setops, topk, asof)
``functions``  scalar packs: text analysis, similarity, json
``streaming``  event-time windowed aggregations, streaming wrappers
``multimodal`` binary-column plumbing with stubbed decoders
"""

__version__ = "0.1.0"

# Make the vendored mini-protobuf importable as early as possible: a
# driver that imports this package BEFORE creating its SparkSession
# passes the path to the JVM (and thus every python worker) through the
# inherited environment. Late sessions are handled again at the
# typed-state query itself (streaming/stateful.py).
from .vendorpath import ensure_protobuf as _ensure_protobuf  # noqa: E402

_ensure_protobuf()
