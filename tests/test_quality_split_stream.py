"""Streaming dual-sink split tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from facebook_ad_library_data_pipeline_spark.catalog import load_table
from facebook_ad_library_data_pipeline_spark.operators.quality import with_validation_error
from facebook_ad_library_data_pipeline_spark.streaming.quality_split import (
    run_streaming_quality_split,
)


def test_streaming_split_matches_batch(spark, sf_dir, tmp_path):
    out = str(tmp_path / "split")
    run_streaming_quality_split(spark, sf_dir, out)

    curated = spark.read.parquet(f"{out}/curated")
    quarantine = spark.read.json(f"{out}/quarantine")

    events = load_table(spark, sf_dir, "events")
    flagged = with_validation_error(events)
    n_valid = flagged.filter(F.col("validation_error").isNull()).count()
    n_invalid = flagged.filter(F.col("validation_error").isNotNull()).count()

    assert curated.count() == n_valid
    assert quarantine.count() == n_invalid
    assert "validation_error" in quarantine.columns
    assert "validation_error" not in curated.columns
