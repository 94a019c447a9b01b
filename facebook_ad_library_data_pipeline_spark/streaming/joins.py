"""Stream-static and stream-stream joins — the two Structured
Streaming join shapes, each with an oracle-checked batch twin.

The reference has no joins at all (SURVEY.md §2.B); these complete the
streaming surface mandated by the north star. Batch-first design as in
streaming/events.py: the same transformation function is applied to a
batch DataFrame (DuckDB-oracle-checked) and to the file-source stream
(rows-only; batch equivalence asserted in tests/test_streaming.py).

Scale posture:
- Stream-static: the static dim is broadcast to every task per
  micro-batch — no state store involved; dim refreshes are picked up at
  batch boundaries. This is THE pattern for enriching a 100 TB/day
  event firehose with a dimension table.
- Stream-stream: both sides buffered in state stores keyed by the join
  key; the watermark + the time-range condition bound how long each
  side is retained (without them state grows forever). The interval
  [0, +30 min] lets Spark evict a buffered left row once the watermark
  passes ts + 30 min.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.money import money_sum, money_sum_sql
from ..registry import query
from .events import load_events_stream, run_stream_to_memory

# ------------------------------------------------------- shared transforms


def enrich_with_segment(events: DataFrame, customers: DataFrame) -> DataFrame:
    """events ⋈ customer dim on user_id = c_custkey, rolled up by market
    segment. Dim side broadcast — works identically in batch and as a
    stream-static join."""
    dim = F.broadcast(customers.select("c_custkey", "c_mktsegment"))
    return (
        events.join(dim, events["user_id"] == dim["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"), money_sum(F.col("value")).alias("total_value"))
    )


def _converts_within_30_min() -> Column:
    """The view→purchase interval condition: same user, purchase in
    [view ts, view ts + 30 min], over sides renamed to v_user/v_ts and
    p_user/p_ts so it is unambiguous in both batch and stream."""
    return (
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES"))
    )


def conversion_join(views: DataFrame, purchases: DataFrame, how: str) -> DataFrame:
    """Same-user view→purchase conversions within 30 minutes: an
    interval (event-time range) join of type ``how``. user_id is
    coalesced so a null-padded purchase (full outer) still carries its
    owner — for inner and left joins it is the view's."""
    v = views.select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    return v.join(p, _converts_within_30_min(), how).select(
        "view_id",
        "purchase_id",
        F.coalesce(F.col("v_user"), F.col("p_user")).alias("user_id"),
    )


def watermarked_sides(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(views, purchases) of one event stream, each watermarked 1 hour:
    the stream-stream joins' state retention bound."""
    return tuple(
        events.filter(F.col("event_type") == t).withWatermark("ts", "1 hour")
        for t in ("view", "purchase")
    )


# ------------------------------------------------------------- batch twins

_ENRICH_ORACLE = f"""
SELECT c_mktsegment, count(*) AS n, {money_sum_sql("value")} AS total_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
"""


@query("q_join_events_dim", oracle=_ENRICH_ORACLE, tags=("join", "streaming", "agg"))
def q_join_events_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-static enrichment join."""
    return enrich_with_segment(
        load_table(spark, sf_dir, "events"), load_table(spark, sf_dir, "customer")
    )


_PAIRS_ORACLE = """
SELECT a.event_id AS view_id, b.event_id AS purchase_id, a.user_id AS user_id
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'view' AND b.event_type = 'purchase'
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
"""


@query("q_interval_join_pairs", oracle=_PAIRS_ORACLE, tags=("join", "streaming", "interval"))
def q_interval_join_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream interval join. The equi-key
    (user_id) carries the shuffle; the time range is a post-join
    residual — never a cross join."""
    ev = load_table(spark, sf_dir, "events")
    return conversion_join(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
        "inner",
    )


# ---------------------------------------------------------- true streaming


@query("q_stream_static_join", oracle=_ENRICH_ORACLE, tags=("streaming", "join"))
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join + global agg driven as a real streaming query
    (complete mode — non-windowed agg over the whole stream). The batch
    twin's oracle is the stream's oracle: money_sum makes the rollup
    independent of micro-batch partial-agg order."""
    events = load_events_stream(spark, sf_dir)
    out = enrich_with_segment(events, load_table(spark, sf_dir, "customer"))
    run_stream_to_memory(out, "stream_static_join_out", output_mode="complete")
    return spark.table("stream_static_join_out")


@query("q_stream_stream_join", oracle=_PAIRS_ORACLE, tags=("streaming", "join", "interval"))
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (append mode): both sides of the SAME
    file-source stream, watermarked 1 hour, joined on user within
    [0, +30 min]. The watermark + range bound state-store retention.
    The batch twin's oracle is the stream's oracle (integer keys only —
    no float representation risk across the join)."""
    views, purchases = watermarked_sides(load_events_stream(spark, sf_dir))
    out = conversion_join(views, purchases, "inner")
    run_stream_to_memory(out, "stream_stream_join_out", output_mode="append")
    return spark.table("stream_stream_join_out")


# ------------------------------------------- left-outer stream-stream join

_LEFT_PAIRS_ORACLE = """
SELECT a.event_id AS view_id, b.event_id AS purchase_id, a.user_id AS user_id
FROM (SELECT * FROM events WHERE event_type = 'view') a
LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
  ON a.user_id = b.user_id
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
"""


@query("q_left_interval_join", oracle=_LEFT_PAIRS_ORACLE, tags=("join", "streaming", "interval"))
def q_left_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the left-outer stream-stream join: every view row
    survives; non-converting views carry a NULL purchase_id. Same
    equi-key shuffle + residual range as the inner twin — the outer
    side adds no plan cost, only null padding."""
    ev = load_table(spark, sf_dir, "events")
    return conversion_join(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
        "left_outer",
    )


# The stream emits (a) every matched pair as soon as both sides arrive
# (inner results don't wait for the watermark) and (b) a null-padded
# row for an unmatched view only once the watermark proves no match
# can still arrive — i.e. the watermark passed v_ts + 30 min, the top
# of the join's time range. The GLOBAL watermark is the min over the
# two watermarked inputs, and each input's watermark tracks the max
# event time that INPUT saw — the views/purchases filters sit before
# withWatermark, so the relevant max is per event_type, NOT the whole
# table's max(ts) (caught live at sf0.01: the table max belonged to a
# third event_type and overstated the watermark by ~30 min). Final
# watermark on the bounded source:
#   min(max ts among views, max ts among purchases) − 1 h,
# and unmatched views qualify iff v_ts + 30 min < that. Views in the
# trailing ~1.5 h stay buffered forever — the documented,
# deterministic difference from the batch twin above.
_STREAM_LEFT_ORACLE = """
WITH wm AS (
    SELECT least(
        (SELECT max(ts) FROM events WHERE event_type = 'view'),
        (SELECT max(ts) FROM events WHERE event_type = 'purchase')
    ) - INTERVAL 1 HOUR AS w
),
v AS (SELECT * FROM events WHERE event_type = 'view'),
p AS (SELECT * FROM events WHERE event_type = 'purchase'),
matched AS (
    SELECT a.event_id AS view_id, b.event_id AS purchase_id, a.user_id
    FROM v a JOIN p b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
)
SELECT view_id, purchase_id, user_id FROM matched
UNION ALL
SELECT a.event_id, NULL, a.user_id
FROM v a, wm
WHERE a.ts + INTERVAL 30 MINUTE < wm.w
  AND NOT EXISTS (
      SELECT 1 FROM p b
      WHERE b.user_id = a.user_id
        AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
  )
"""


@query("q_stream_left_outer_join", oracle=_STREAM_LEFT_ORACLE, tags=("streaming", "join", "interval"))
def q_stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer stream-stream interval join as a REAL streaming query
    — the state shape the inner join never exercises: unmatched left
    rows are held in the state store until the watermark proves no
    match can arrive, then emitted null-padded exactly once (Spark's
    no-data final micro-batch performs the flush on the bounded
    source). Oracle-backed via the eviction rule above."""
    views, purchases = watermarked_sides(load_events_stream(spark, sf_dir))
    out = conversion_join(views, purchases, "left_outer")
    run_stream_to_memory(out, "stream_left_outer_join_out", output_mode="append")
    return spark.table("stream_left_outer_join_out")


# Full-outer: both eviction rules at once. Unmatched views null-pad
# exactly as in the left-outer rule; unmatched purchases null-pad when
# the watermark proves no matching view can still arrive — a purchase
# matches views with v_ts in [p_ts − 30 min, p_ts], and the left
# side's state retention derives from the SAME range (Spark keeps a
# view until wm > v_ts + 30 min), so a purchase is dead once
# wm > p_ts. Pinned empirically at both sf0.001 and sf0.01.
_STREAM_FULL_ORACLE = """
WITH wm AS (
    SELECT least(
        (SELECT max(ts) FROM events WHERE event_type = 'view'),
        (SELECT max(ts) FROM events WHERE event_type = 'purchase')
    ) - INTERVAL 1 HOUR AS w
),
v AS (SELECT * FROM events WHERE event_type = 'view'),
p AS (SELECT * FROM events WHERE event_type = 'purchase'),
matched AS (
    SELECT a.event_id AS view_id, b.event_id AS purchase_id,
           a.user_id AS v_user, b.user_id AS p_user
    FROM v a JOIN p b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
)
SELECT view_id, purchase_id, v_user AS user_id FROM matched
UNION ALL
SELECT a.event_id, NULL, a.user_id
FROM v a, wm
WHERE a.ts + INTERVAL 30 MINUTE < wm.w
  AND NOT EXISTS (
      SELECT 1 FROM p b
      WHERE b.user_id = a.user_id
        AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
  )
UNION ALL
SELECT NULL, b.event_id, b.user_id
FROM p b, wm
WHERE b.ts < wm.w
  AND NOT EXISTS (
      SELECT 1 FROM v a
      WHERE a.user_id = b.user_id
        AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
  )
"""


@query("q_stream_full_outer_join", oracle=_STREAM_FULL_ORACLE, tags=("streaming", "join", "interval"))
def q_stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer stream-stream interval join — both sides' unmatched
    rows emit null-padded on their own watermark-eviction schedules
    (views once wm > v_ts + 30 min, purchases once wm > p_ts), matched
    pairs immediately. Completes the streaming outer-join matrix with
    q_stream_stream_join (inner) and q_stream_left_outer_join."""
    views, purchases = watermarked_sides(load_events_stream(spark, sf_dir))
    out = conversion_join(views, purchases, "full_outer")
    run_stream_to_memory(out, "stream_full_outer_join_out", output_mode="append")
    return spark.table("stream_full_outer_join_out")


# ------------------------------------------- left-semi stream-stream join

# Semi emits a view AT MOST once, when its first purchase match
# arrives; unmatched views simply never emit (no watermark eviction
# rule enters the OUTPUT, unlike the outer joins — state still evicts
# on the same schedule, it just produces nothing). The oracle is
# therefore a plain EXISTS over the interval condition.
_STREAM_SEMI_ORACLE = """
SELECT a.event_id AS view_id, a.user_id AS user_id, a.ts AS view_ts
FROM events a
WHERE a.event_type = 'view'
  AND EXISTS (
      SELECT 1 FROM events b
      WHERE b.event_type = 'purchase'
        AND b.user_id = a.user_id
        AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
  )
"""


@query("q_stream_semi_join", oracle=_STREAM_SEMI_ORACLE, tags=("streaming", "join", "interval"))
def q_stream_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-SEMI stream-stream interval join — completes the streaming
    join-type matrix (inner / left-outer / full-outer / semi): views
    that converted within 30 min, emitted exactly once apiece with no
    purchase payload. The dedup-on-match is state-store work (the left
    row is marked matched and never re-emitted), which a batch EXISTS
    reproduces exactly — making this the one stream-stream join whose
    oracle needs NO watermark rule."""
    views, purchases = watermarked_sides(load_events_stream(spark, sf_dir))
    views = views.select(
        "event_id", F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts")
    )
    purchases = purchases.select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
    out = views.join(purchases, _converts_within_30_min(), "left_semi").select(
        F.col("event_id").alias("view_id"),
        F.col("v_user").alias("user_id"),
        F.col("v_ts").alias("view_ts"),
    )
    run_stream_to_memory(out, "stream_semi_join_out", output_mode="append")
    return spark.table("stream_semi_join_out")
