"""Validation / quarantine split — parity with the reference's pydantic
gate (V1) + valid/invalid side output (V2).

Reference behavior (``transform_raw_data.py:32-70, 166-179, 205-214``):
per-row try/except collects an error *string* per invalid record and
routes invalid rows to a quarantine file. Spark-first re-expression:
declarative validity predicates assembled into one ``validation_error``
column via ``concat_ws`` of failed-check labels — one pass, no
exceptions, then two filters split the stream (SURVEY.md §2 V2).

At scale this is a single scan; the two outputs share the plan (cache
the derived frame when both sides are materialized in one job).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query

# Rule set over `events` chosen so both outcomes are non-empty on the
# driver testdata: value must be < 250, event_type must be a known
# type, ts must fall inside the collection window, props.k must parse.
_KNOWN_TYPES = ("click", "view", "purchase", "signup")


def validation_error_column(rules: list[tuple[str, Column]]) -> Column:
    """Build the reference-style error string: '; '-joined labels of
    every failed rule (NULL when all pass)."""
    parts = [F.when(~cond, F.lit(label)) for label, cond in rules]
    err = F.concat_ws("; ", *parts)
    return F.when(err == "", F.lit(None).cast("string")).otherwise(err)


def validation_counts() -> list[Column]:
    """Observed-metric columns over a frame with ``validation_error``:
    its rows in total, the valid ones (no error) and the invalid ones,
    aliased total/valid/invalid."""
    err = F.col("validation_error")
    return [
        F.count(F.lit(1)).alias("total"),
        F.count(F.when(err.isNull(), 1)).alias("valid"),
        F.count(F.when(err.isNotNull(), 1)).alias("invalid"),
    ]


def _event_rules() -> list[tuple[str, Column]]:
    return [
        ("value_out_of_range", F.col("value") < 250.0),
        ("unknown_event_type", F.col("event_type").isin(*_KNOWN_TYPES)),
        ("missing_ts", F.col("ts").isNotNull()),
    ]


def with_validation_error(events: DataFrame) -> DataFrame:
    return events.withColumn("validation_error", validation_error_column(_event_rules()))


_ERR_SQL = """
    nullif(concat_ws('; ',
        CASE WHEN NOT (value < 250.0) THEN 'value_out_of_range' END,
        CASE WHEN NOT (event_type IN ('click','view','purchase','signup'))
             THEN 'unknown_event_type' END,
        CASE WHEN NOT (ts IS NOT NULL) THEN 'missing_ts' END
    ), '')
"""

_QUARANTINE_ORACLE = f"""
SELECT event_id, event_type, value, {_ERR_SQL} AS validation_error
FROM events
WHERE {_ERR_SQL} IS NOT NULL
"""


@query("q_validate_quarantine", oracle=_QUARANTINE_ORACLE, tags=("parity", "quality"))
def q_validate_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V1+V2 invalid side: rows failing any rule, with the reference's
    '; '-joined error string."""
    events = load_table(spark, sf_dir, "events")
    return (
        with_validation_error(events)
        .filter(F.col("validation_error").isNotNull())
        .select("event_id", "event_type", "value", "validation_error")
    )


_VALID_ORACLE = f"""
SELECT event_id, ts, user_id, event_type, value
FROM events
WHERE {_ERR_SQL} IS NULL
"""


@query("q_validate_pass", oracle=_VALID_ORACLE, tags=("parity", "quality"))
def q_validate_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V2 curated side: rows passing every rule, error column dropped."""
    events = load_table(spark, sf_dir, "events")
    return (
        with_validation_error(events)
        .filter(F.col("validation_error").isNull())
        .select("event_id", "ts", "user_id", "event_type", "value")
    )


_STATS_ORACLE = f"""
SELECT coalesce({_ERR_SQL}, 'ok') AS outcome, count(*) AS n
FROM events
GROUP BY 1
"""


@query("q_validate_stats", oracle=_STATS_ORACLE, tags=("parity", "quality", "agg"))
def q_validate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconciliation counts (the reference logs parsed/valid/invalid
    row counts — ``transform_raw_data.py:216-218``)."""
    events = load_table(spark, sf_dir, "events")
    return (
        with_validation_error(events)
        .groupBy(F.coalesce("validation_error", F.lit("ok")).alias("outcome"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


_OBSERVE_ORACLE = f"""
SELECT count(*)::BIGINT AS rows_total,
       count(CASE WHEN {_ERR_SQL} IS NULL THEN 1 END)::BIGINT AS rows_valid,
       count({_ERR_SQL})::BIGINT AS rows_invalid,
       true AS reconciled
FROM events
"""


@query("q_observe_reconcile", oracle=_OBSERVE_ORACLE, tags=("parity", "quality", "metrics"))
def q_observe_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 (dual logging / row-count reconciliation,
    ``/root/reference/transform_raw_data.py:216-218`` +
    ``utils/logging.py``) as a first-class engine feature: an
    ``observe()`` attached to the validation job reports
    total/valid/invalid counts FROM THE JOB'S OWN METRICS STREAM —
    piggy-backed on the single materializing action, no second scan —
    and the query returns that metrics row with the valid+invalid ==
    total reconciliation flag. The oracle recomputes the counts
    relationally, so a driver hash match proves the observe() channel
    reports the same numbers the data actually has. At 100 TB observe()
    is the ONLY sane way to get these counts (a separate count() pass
    would rescan the table)."""
    from pyspark.sql import Observation

    events = load_table(spark, sf_dir, "events")
    obs = Observation()
    observed = with_validation_error(events).observe(obs, *validation_counts())
    observed.write.format("noop").mode("overwrite").save()  # the one action
    m = obs.get
    return spark.createDataFrame(
        [(m["total"], m["valid"], m["invalid"], m["valid"] + m["invalid"] == m["total"])],
        "rows_total long, rows_valid long, rows_invalid long, reconciled boolean",
    )
