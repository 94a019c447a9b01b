"""Curated ads table → top-10 active-ads report.

Replaces ``generate_report.py:20-56`` line-for-line in semantics
(SURVEY.md §2 R1-R10):

* R2 ``ad_link`` concat (``:23``)
* R3 epoch→UTC timestamp (``:24``)
* R4 ``end_date`` nulled when missing or equal to start (``:25-30``)
* R5 ``seconds_passed`` falls back to ``as_of - start``; the reference
  evaluates ``now()`` PER ROW (``:13-17``) which is irreproducible —
  the engine takes ``as_of`` explicitly (documented deviation)
* R6 hours via banker's rounding — pandas ``.round(0)`` is
  half-to-even (``:32``) → ``bround``
* R7 active-only filter (``:34``)
* R8 top-10, stable order = prior frame order (``:35``) → explicit
  (hours DESC, lineage) tie-break
* R9 nine-column projection (``:37-48``)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.report import hours_passed
from .transform import LINEAGE_COLS

AD_LINK_PREFIX = "https://www.facebook.com/ads/library/?id="


def generate_report(curated: DataFrame, as_of: str) -> DataFrame:
    """curated (with lineage cols) + as_of 'YYYY-MM-DD HH:MM:SS' UTC →
    ≤10-row report frame."""
    start_ts = F.timestamp_seconds(F.col("start_date_ts"))
    end_ts = F.when(
        F.col("end_date_ts").isNull()
        | (F.col("end_date_ts") == F.col("start_date_ts")),
        F.lit(None).cast("timestamp"),
    ).otherwise(F.timestamp_seconds(F.col("end_date_ts")))
    seconds_passed = F.coalesce(
        F.col("total_active_time_sec"),
        F.unix_timestamp(F.lit(as_of).cast("timestamp")) - F.col("start_date_ts"),
    )
    return (
        curated.withColumn("hours_passed", hours_passed(seconds_passed))
        .filter(F.col("is_active"))
        .orderBy(F.desc("hours_passed"), *LINEAGE_COLS)
        .limit(10)
        .select(
            "ad_id",
            F.concat(F.lit(AD_LINK_PREFIX), F.col("ad_id")).alias("ad_link"),
            "is_active",
            start_ts.alias("start_date"),
            end_ts.alias("end_date"),
            "hours_passed",
            "media_mix",
            "ad_text",
            "ad_lang_code",
        )
    )
