"""Streaming validate/quarantine split — the reference's V2 side output
as a continuous pipeline: a single stream forked inside foreachBatch to
two sinks (curated parquet + quarantine json), exactly-once per
micro-batch. This is S3 (incremental listener append) + V1/V2 fused.

Also: `observe()` metrics — the engine-side version of the reference's
reconciliation log lines (parsed/valid/invalid counts,
transform_raw_data.py:216-218) without a second pass over the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.quality import with_validation_error
from ..session import conf_scope
from .events import load_events_stream


def split_sink_batch(out_dir: str):
    """foreachBatch body: derive validity once, write both sides."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        flagged = with_validation_error(batch_df).cache()
        try:
            (
                flagged.filter(F.col("validation_error").isNull())
                .drop("validation_error")
                .write.mode("append")
                .parquet(f"{out_dir}/curated")
            )
            (
                flagged.filter(F.col("validation_error").isNotNull())
                .write.mode("append")
                .json(f"{out_dir}/quarantine")
            )
        finally:
            flagged.unpersist()

    return write_batch


def run_streaming_quality_split(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """Drive the bounded events stream through the dual-sink split."""
    with conf_scope(spark, {"spark.sql.shuffle.partitions": "32"}):
        q = (
            load_events_stream(spark, sf_dir)
            .writeStream.foreachBatch(split_sink_batch(out_dir))
            .option("checkpointLocation", f"{out_dir}/_checkpoint")
            .start()
        )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def observed_validation_counts(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, str]:
    """U2 mapping: attach an observe() to the curated write path; the
    valid/invalid/total counts come back with the SAME job, no second
    scan (the reference re-counts with len() three times)."""
    events = load_table(spark, sf_dir, "events")
    flagged = with_validation_error(events)
    observed = flagged.observe(
        "validation_metrics",
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(F.col("validation_error").isNull(), 1)).alias("n_valid"),
        F.count(F.when(F.col("validation_error").isNotNull(), 1)).alias("n_invalid"),
    )
    return observed, "validation_metrics"
