"""Raw ads JSON → curated validated/deduplicated table.

Replaces ``transform_raw_data.py`` (235 LoC of per-row Python) with one
declarative plan. Operator-by-operator parity map (SURVEY.md §2.A):

* S6  JSON source                → wholetext read + from_json with the
                                   declared nested schema
* P1/P2 groups→ads explode      → posexplode ×2, keeping (group_idx,
                                   pos) as the engine's explicit ingest
                                   position (the reference relies on
                                   Python list order)
* P3  flat projection/rename     → select/alias (ad_archive_id→ad_id …)
* P4  running max in group       → max().over(rowsBetween) per
                                   (file, group) — the reference's
                                   prefix-max accumulator
                                   (transform_raw_data.py:114-116), NOT
                                   a group max
* P5  media_mix classification   → exists() over cards + when/otherwise
* P6  ad_text with fallback      → element_at(cards,1).body vs
                                   body.text, coalesce to ''
* P7  language detection         → functions.text.detected_col, the
                                   native stopword-overlap detector
                                   shared with q_lang_id (empty text →
                                   'undetected')
* V1/V2 validate + split         → validation_error via concat_ws of
                                   failed checks; two filters
* D1-D3 keep-first dedups        → row_number windows ordered by
                                   (group_idx, pos); null keys collapse
                                   (pandas parity, replicated knowingly)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import detected_col, tokens_col
from ..operators.dedup import dedup_keep_first
from ..operators.quality import validation_error_column
from .schemas import AD_SCHEMA, TS_MAX, TS_MIN

RAW_JSON_TYPE = T.ArrayType(T.ArrayType(AD_SCHEMA))

LINEAGE_COLS = ["__group_idx", "__pos"]


def read_raw_ads(spark: SparkSession, path: str) -> DataFrame:
    """S6: one JSON file (array of ad groups) → one row per ad with
    lineage (file, group_idx, pos). wholetext mirrors the reference's
    json.load-the-file contract (transform_raw_data.py:193-194); with
    many raw files this parallelizes per file. group_idx restarts in
    every file, so the file path rides along from the same scan."""
    raw = spark.read.text(path, wholetext=True)
    groups = raw.select(
        F.col("_metadata.file_path").alias("__file"),
        F.posexplode(F.from_json(F.col("value"), RAW_JSON_TYPE)).alias("__group_idx", "ads"),
    )
    return groups.select(
        "__file", "__group_idx", F.posexplode("ads").alias("__pos", "ad")
    )


def _detect_media(fmt: Column, cards: Column) -> tuple[Column, Column]:
    """P5 (transform_raw_data.py:73-90): VIDEO→video, IMAGE→image,
    DCO/CAROUSEL→scan cards for media URLs."""
    card_video = F.coalesce(
        F.exists(cards, lambda c: c["video_hd_url"].isNotNull()), F.lit(False)
    )
    card_image = F.coalesce(
        F.exists(cards, lambda c: c["original_image_url"].isNotNull()), F.lit(False)
    )
    has_video = F.when(fmt == "VIDEO", F.lit(True)).when(
        fmt.isin("DCO", "CAROUSEL"), card_video
    ).otherwise(F.lit(False))
    has_image = F.when(fmt == "IMAGE", F.lit(True)).when(
        fmt.isin("DCO", "CAROUSEL"), card_image
    ).otherwise(F.lit(False))
    return has_video, has_image


def _media_mix(has_video: Column, has_image: Column) -> Column:
    """transform_raw_data.py:93-103."""
    return (
        F.when(has_video & has_image, "both")
        .when(has_video, "video-only")
        .when(has_image, "image-only")
        .otherwise("none")
    )


def parse_ads(exploded: DataFrame) -> DataFrame:
    """P3-P7: one select from the nested ad struct to the flat curated
    shape (+ lineage)."""
    ad = F.col("ad")
    fmt = ad["snapshot"]["display_format"]
    cards = ad["snapshot"]["cards"]

    # P6: DCO/CAROUSEL take card[0].body, else body.text; missing → ''
    # (try_element_at: ANSI mode makes plain element_at THROW on empty
    # card arrays — the reference's IndexError-swallowing path,
    # transform_raw_data.py:127-131, maps to null-then-coalesce)
    ad_text = F.coalesce(
        F.when(fmt.isin("DCO", "CAROUSEL"), F.try_element_at(cards, F.lit(1))["body"]).otherwise(
            ad["snapshot"]["body"]["text"]
        ),
        F.lit(""),
    )

    # P4: running (prefix) max of coalesce(collation_count, 0) in group
    # order — parity with the mutable accumulator at
    # transform_raw_data.py:114-116 incl. its quirk of NOT being the
    # group max when counts decrease mid-group. group_idx restarts in
    # every file, so the partition is (file, group).
    from pyspark.sql import Window

    w = (
        Window.partitionBy("__file", "__group_idx")
        .orderBy("__pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running_count = F.max(F.coalesce(ad["collation_count"], F.lit(0))).over(w)

    has_video, has_image = _detect_media(fmt, cards)

    parsed = exploded.select(
        "__group_idx",
        "__pos",
        ad["ad_archive_id"].alias("ad_id"),
        ad["is_active"].alias("is_active"),
        ad["start_date"].alias("start_date_ts"),
        ad["end_date"].alias("end_date_ts"),
        ad["total_active_time"].alias("total_active_time_sec"),
        ad["collation_id"].alias("ad_group_id"),
        running_count.alias("grouped_ads_count"),
        fmt.alias("display_format"),
        _media_mix(has_video, has_image).alias("media_mix"),
        ad_text.alias("ad_text"),
    )
    return parsed.withColumn("ad_lang_code", detected_col(tokens_col("ad_text")))


def _validity_rules() -> list[tuple[str, Column]]:
    """V1 (transform_raw_data.py:45-70 + required fields of the model)."""
    start = F.col("start_date_ts")
    end = F.col("end_date_ts")
    return [
        ("ad_id is required", F.col("ad_id").isNotNull()),
        ("is_active is required", F.col("is_active").isNotNull()),
        ("start_date_ts must be a valid timestamp",
         start.isNotNull() & (start >= TS_MIN) & (start <= TS_MAX)),
        ("end_date_ts out of range",
         end.isNull() | ((end >= TS_MIN) & (end <= TS_MAX))),
        ("end_date_ts must be >= start_date_ts",
         end.isNull() | start.isNull() | (end >= start)),
        ("display_format unknown",
         F.col("display_format").isin("VIDEO", "IMAGE", "DCO", "CAROUSEL")),
    ]


def flag_invalid(parsed: DataFrame) -> DataFrame:
    """Attach the validation_error column — the ONE place the rule set
    is wired, shared by the split and the stage-count reconciliation so
    they can never diverge."""
    return parsed.withColumn(
        "validation_error", validation_error_column(_validity_rules())
    )


def validate_split(parsed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """V2: one pass → (valid, quarantine-with-error-string)."""
    flagged = flag_invalid(parsed)
    valid = flagged.filter(F.col("validation_error").isNull()).drop("validation_error")
    invalid = flagged.filter(F.col("validation_error").isNotNull())
    return valid, invalid


def dedup_ads(valid: DataFrame) -> DataFrame:
    """D1-D3 in the reference's order (transform_raw_data.py:185-187):
    ad_id → ad_group_id → ad_text, each keep-first by ingest position.
    Null ad_group_ids collapse to one survivor (pandas parity —
    documented deviation candidate, replicated for parity)."""
    d1 = dedup_keep_first(valid, ["ad_id"], LINEAGE_COLS)
    d2 = dedup_keep_first(d1, ["ad_group_id"], LINEAGE_COLS)
    return dedup_keep_first(d2, ["ad_text"], LINEAGE_COLS)


def transform_raw_ads(spark: SparkSession, raw_path: str) -> tuple[DataFrame, DataFrame]:
    """The whole E2 stage: raw JSON path → (curated, quarantine).
    Curated keeps lineage cols for the report's deterministic tie-break;
    drop them at write time."""
    exploded = read_raw_ads(spark, raw_path)
    parsed = parse_ads(exploded)
    valid, invalid = validate_split(parsed)
    return dedup_ads(valid), invalid


def pipeline_stage_counts(spark: SparkSession, raw_path: str) -> dict[str, int]:
    """U2 parity (reference utils/logging.py:6-31 + the reconciliation
    log lines at transform_raw_data.py:201,216-218,233): per-stage row
    counts parsed/valid/invalid/post-dedup. The reference re-counts
    three materialized lists; here parsed/valid/invalid ride an
    ``observe()`` on the SAME job that materializes the deduped result —
    one pass over the data, four counts."""
    from pyspark.sql import Observation

    exploded = read_raw_ads(spark, raw_path)
    parsed = parse_ads(exploded)
    flagged = flag_invalid(parsed)
    obs = Observation("pipeline_stages")
    observed = flagged.observe(
        obs,
        F.count(F.lit(1)).alias("parsed"),
        F.count(F.when(F.col("validation_error").isNull(), 1)).alias("valid"),
        F.count(F.when(F.col("validation_error").isNotNull(), 1)).alias("invalid"),
    )
    valid = observed.filter(F.col("validation_error").isNull()).drop("validation_error")
    post_dedup = dedup_ads(valid).count()  # the single action; fires the observe
    metrics = obs.get
    return {
        "parsed": int(metrics["parsed"]),
        "valid": int(metrics["valid"]),
        "invalid": int(metrics["invalid"]),
        "post_dedup": int(post_dedup),
    }
