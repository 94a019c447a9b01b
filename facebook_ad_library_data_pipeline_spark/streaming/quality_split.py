"""Streaming validate/quarantine split — the reference's V2 side output
as a continuous pipeline: a single stream forked inside foreachBatch to
two sinks (curated parquet + quarantine json), exactly-once per
micro-batch. This is S3 (incremental listener append) + V1/V2 fused.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.quality import with_validation_error
from .events import load_events_stream, run_stream


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
    run_stream(
        load_events_stream(spark, sf_dir)
        .writeStream.foreachBatch(split_sink_batch(out_dir))
        .option("checkpointLocation", f"{out_dir}/_checkpoint")
    )
