"""Custom stateful streaming operator via applyInPandasWithState —
the escape hatch for operators Spark's built-in streaming aggregations
can't express (north-star "custom stateful operators").

Demonstrated op: per-user running engagement state (event count, value
sum, last event type) maintained in explicit GroupState across
micro-batches, emitted in update mode. On the bounded test source one
micro-batch ⇒ output equals the batch groupBy twin (asserted in
tests/test_streaming.py).
"""

from __future__ import annotations

from collections.abc import Iterable

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession

if TYPE_CHECKING:  # runtime bodies import pandas locally: the module
    # is unpickled inside EVERY tws worker (the driver pre-init runner
    # and each executor state worker), and a module-level pandas import
    # adds ~0.8 s to each of those interpreter starts (guide §4.5 —
    # heavyweight init belongs where it's amortized, and the
    # annotations are strings under `from __future__ import
    # annotations`, so pandas is not needed at import time)
    import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..registry import query
from ..session import once
from .events import load_events_stream, rocksdb_changelog_session, run_stream_to_memory
from .incremental import split_events_dir_ntile, split_events_dir_ts_ordered, split_stream


class _RowEmitter:
    """One-row emit template for per-key stateful emits (guide §4).

    Every handleInputRows/handleExpiredTimer invocation emits ONE fixed-
    shape row, and the runtime turns EACH yielded pandas DataFrame into
    its own Arrow RecordBatch — so at ~1500 keys/batch the per-emit
    `pd.DataFrame({...})` construction (~420 µs: block consolidation,
    index, dtype inference) dominates our share of the emit path.
    Mutating one preallocated template's column buffers in place is
    ~2.6 µs (measured, 160×) and yields the SAME frame object.

    Safety: the tws serializer converts and WRITES each yielded frame
    to the Arrow stream before the next key's processor call runs
    (TransformWithStateInPandasSerializer.dump_stream flattens per
    yield into ArrowStreamPandasUDFSerializer, which creates the batch
    and writes it per pull; the next pull is what resumes the per-key
    generator chain) — so in-place mutation can never retroactively
    change an already-written row even though the Arrow conversion is
    zero-copy for numeric columns. Pinned by
    tests/test_streaming.py::test_row_emitter_write_before_mutate and
    end-to-end by every tws oracle (1500 distinct users per run — any
    buffer aliasing across emits would collapse rows to one user's
    values and flip the hash).

    NOT safe for applyInPandasWithState processors: that API's
    serializer BUFFERS yielded frames across keys and concats them
    into one merged batch later — a reused template would alias every
    buffered row to the last key's values. Those sites construct
    plain frames (see _update_user_state).
    """

    __slots__ = ("df", "_bufs")

    def __init__(self, **cols: str) -> None:
        """cols: name -> numpy dtype string ('int64', 'float64',
        'bool', or 'object' for strings/None)."""
        import numpy as np
        import pandas as pd

        self.df = pd.DataFrame(
            {n: np.zeros(1, dtype=d) for n, d in cols.items()}, copy=False
        )
        # the constructor consolidates same-dtype columns into shared
        # blocks (copying); re-resolve per-column views INTO the frame
        # so writes land in what the Arrow conversion reads
        self._bufs = {n: self.df[n].to_numpy() for n in cols}

    def emit(self, **vals):
        bufs = self._bufs
        for n, v in vals.items():
            bufs[n][0] = v
        return self.df


def keep_latest_per_user(latest: DataFrame) -> DataFrame:
    """Update-mode memory sinks append one row per (batch, user); keep
    each user's FINAL snapshot. n_events is strictly increasing across
    a user's emits (every batch folds ≥1 of their rows), so max
    n_events selects the last emit even when total_value ties (a batch
    whose cents round to 0) — the one keep-latest rule every
    update-mode query in this family shares."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        latest.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def all_counted(scoped: SparkSession, view: str, keys: Iterable[str], total: int) -> bool:
    """The drain fixpoint of the queries whose own clock never lets the
    stream quiesce: every source row is counted once its group's
    largest n_events in the sink ``view`` is in, so the per-group
    maxima sum to ``total``. Max per group before summing: idempotent
    under a replayed batch re-appending a group's row (a raw sum would
    overshoot ``total`` and the == fixpoint would never be reached)."""
    got = scoped.sql(
        "SELECT coalesce(sum(n), 0) FROM (SELECT max(n_events) AS n "
        f"FROM {view} GROUP BY {', '.join(keys)})"
    ).collect()[0][0]
    return got == total


OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("last_event_type", StringType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("total_cents", LongType()),
        StructField("last_ts_micros", LongType()),
        StructField("last_event_type", StringType()),
    ]
)


def _update_user_state(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Fold each micro-batch's rows for this user into the persistent
    state, emit the updated snapshot. Rows arrive Arrow-batched; state
    is a plain tuple in the state store.

    Money accumulates as INTEGER CENTS (floor(v*100 + 0.5) per value):
    each per-value rounding is a deterministic function of the input
    double, and integer addition is order-independent — so the fold's
    total is identical no matter how rows split across micro-batches,
    and a plain SQL oracle can reproduce it exactly (same reasoning as
    functions/money.py, restated Python-side)."""
    import numpy as np
    import pandas as pd

    (user_id,) = key
    n, total_cents, last_ts, last_type = (
        state.get if state.exists else (0, 0, -1, None)
    )
    for pdf in pdfs:
        if len(pdf):
            n += len(pdf)
            total_cents += int(np.floor(pdf["value"].to_numpy() * 100 + 0.5).sum())
            # micro-batches are NOT ts-ordered (file order); keep the
            # event-time max in state so a late-arriving batch with an
            # earlier ts can never steal "last"
            i = pdf["ts"].idxmax()
            batch_ts = int(pdf["ts"].loc[i].value // 1000)  # ns -> µs
            if batch_ts > last_ts:
                last_ts, last_type = batch_ts, str(pdf["event_type"].loc[i])
    state.update((n, total_cents, last_ts, last_type))
    # NOTE: no _RowEmitter template here — the applyInPandasWithState
    # serializer BUFFERS yielded frames across keys before one merged
    # concat (unlike the tws serializer, which converts each yield
    # immediately), so a reused template would alias every buffered
    # row to the last key's values.
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "total_value": [total_cents / 100.0],
            "last_event_type": [last_type],
        }
    )


def user_state_stream(events: DataFrame) -> DataFrame:
    # guide §4/§2.3: the operator is OPAQUE to Catalyst — without this
    # explicit select every events column (event_id, props, and the
    # timestamp unless the processor reads it) crosses the keyed
    # exchange, the Arrow boundary, and pyspark's per-ROW group
    # assembly for nothing. Project to exactly what the processor
    # touches; results are unchanged (oracle-pinned).
    events = events.select("user_id", "ts", "event_type", "value")
    return events.groupBy("user_id").applyInPandasWithState(
        _update_user_state,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_STATEFUL_ORACLE = """
SELECT user_id,
       count(*) AS n_events,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100
           AS total_value,
       arg_max(event_type, ts) AS last_event_type
FROM events
GROUP BY user_id
"""


@query(
    "q_stream_stateful_user",
    oracle=_STATEFUL_ORACLE,
    tags=("streaming", "stateful", "pandas-udf"),
)
def q_stream_stateful_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful op through a real streaming query (update-mode
    memory sink keeps the latest row per user on the bounded source).
    Oracle-checkable because the fold is order-independent: integer-cent
    accumulation + ts-max event type (per-user ts are unique in the
    testdata, so arg_max is well-defined)."""
    events = load_events_stream(spark, sf_dir)
    out = user_state_stream(events)
    run_stream_to_memory(out, "stream_stateful_user_out", output_mode="update")
    latest = spark.table("stream_stateful_user_out")
    # update mode appends a row per (batch, user); keep the last emit
    return keep_latest_per_user(latest)


# ------------------- GroupState EVENT-TIME TIMEOUT (old-API timers)

# The applyInPandasWithState timeout surface — the OLD stateful API's
# analogue of typed-state timers: `setTimeoutTimestamp` arms a
# watermark deadline per key; once the watermark passes it the group is
# re-invoked with `state.hasTimedOut` (and no rows), and that
# invocation is the ONLY emitter. Semantics are SESSION finalization:
# a timeout closes the key's current session (emit + state.remove), a
# later arrival opens a new one — so a user absent from one
# micro-batch whose deadline the watermark meanwhile passed simply
# contributes TWO sessions, not a lost/partial total (every event
# lands in exactly one session, so per-user totals are the sum over
# sessions regardless of where the boundaries fall). The ts-ordered +
# sentinel source makes the final watermark pass every real user's
# last deadline, closing every open session.

TIMEOUT_GAP_MS = 30 * 60 * 1000

TIMEOUT_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_id", LongType()),
        StructField("n_events", LongType()),
        StructField("session_cents", LongType()),
    ]
)

TIMEOUT_STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("total_cents", LongType()),
        StructField("last_ts_ms", LongType()),
    ]
)


def _timeout_finalize(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    import numpy as np
    import pandas as pd

    (user_id,) = key
    if state.hasTimedOut:
        # watermark passed last_ts + gap: close the CURRENT session.
        # session_id = the session's last event-time ms — unique per
        # (user, session) since event times strictly advance, which
        # makes re-emission under a replayed batch deduplicable.
        n, cents, last_ts = state.get
        state.remove()
        # plain frame, not a _RowEmitter template: see _update_user_state
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "session_id": [last_ts],
                "n_events": [n],
                "session_cents": [cents],
            }
        )
        return
    n, cents, last_ts = state.get if state.exists else (0, 0, -1)
    for pdf in pdfs:
        if len(pdf):
            n += len(pdf)
            cents += int(np.floor(pdf["value"].to_numpy() * 100 + 0.5).sum())
            last_ts = max(last_ts, int(pdf["ts"].max().value // 1_000_000))
    state.update((n, cents, last_ts))
    if user_id != -1:
        # slide the event-time deadline; the sentinel key keeps NO
        # deadline (its own would sit past the final watermark anyway)
        state.setTimeoutTimestamp(last_ts + TIMEOUT_GAP_MS)
    return


def user_timeout_stream(events: DataFrame) -> DataFrame:
    # projection discipline: see user_state_stream (ts feeds the
    # event-time deadline fold; value the cents)
    events = events.select("user_id", "ts", "value")
    return events.groupBy("user_id").applyInPandasWithState(
        _timeout_finalize,
        outputStructType=TIMEOUT_OUTPUT_SCHEMA,
        stateStructType=TIMEOUT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


_TIMEOUT_ORACLE = """
SELECT user_id,
       count(*) AS n_events,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100
           AS total_value
FROM events
GROUP BY user_id
"""


@query(
    "q_stream_group_timeout",
    oracle=_TIMEOUT_ORACLE,
    tags=("streaming", "stateful", "pandas-udf", "timers"),
)
def q_stream_group_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time TIMEOUT through applyInPandasWithState: every output
    row was emitted by a `hasTimedOut` invocation after the watermark
    passed the key's deadline — the old API's timer path, exercised
    end-to-end (setTimeoutTimestamp → watermark advance → timed-out
    re-invocation → state.remove). Each timeout closes one SESSION;
    per-user totals are the SUM over the user's sessions (each event
    lands in exactly one), so the result hash-matches the per-user
    aggregate wherever the session boundaries fall — a timeout firing
    mid-stream for a one-batch-quiet user just splits that user into
    two sessions. A timeout that never fires still drops rows (the
    open session never emits) and reddens the hash."""
    scoped = spark.newSession()
    src = split_events_dir_ts_ordered(scoped, sf_dir)
    events = split_stream(scoped, src).withWatermark("ts", "0 seconds")
    out = user_timeout_stream(events)
    total = scoped.read.parquet(src).filter(F.col("user_id") >= 0).count()

    run_stream_to_memory(
        out,
        "stream_group_timeout_out",
        output_mode="update",
        until=lambda _q: all_counted(
            scoped, "stream_group_timeout_out", ("user_id", "session_id"), total
        ),
    )
    sessions = (
        scoped.table("stream_group_timeout_out")
        .groupBy("user_id", "session_id")
        .agg(
            F.max("n_events").alias("n"),
            F.max("session_cents").alias("cents"),
        )
    )
    return sessions.groupBy("user_id").agg(
        F.sum("n").alias("n_events"),
        (F.sum("cents").cast("double") / 100).alias("total_value"),
    )


# --------------------------- transformWithStateInPandas (Spark 4 API)

# The SUCCESSOR stateful API: where applyInPandasWithState gives one
# untyped state tuple, transformWithStateInPandas gives a
# StatefulProcessor with NAMED, TYPED state variables (ValueState /
# ListState / MapState, optional TTL and timers) managed individually
# in the state store — the API a long-lived production pipeline should
# target (fine-grained state eviction, schema evolution per variable).
# This operator exercises a composite: a ValueState for the running
# totals plus a MapState keyed by event_type for the per-type
# breakdown — the shape the single-tuple API forces you to flatten by
# hand.

EVENT_TYPES = ("click", "purchase", "refund", "signup", "view")

TWS_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
    + [StructField(f"n_{t}", LongType()) for t in EVENT_TYPES]
)


from pyspark.sql.streaming import StatefulProcessor


class UserEngagementProcessor(StatefulProcessor):
    """StatefulProcessor: per-user engagement totals in a ValueState +
    per-event-type counts in a MapState. The base-class import is
    protobuf-free — only the runtime's state-server worker needs
    google.protobuf (gated in tws_runtime_available)."""

    def init(self, handle) -> None:
        self._totals = handle.getValueState(
            "totals", "n_events bigint, total_cents bigint"
        )
        self._by_type = handle.getMapState(
            "by_type", "event_type string", "n bigint"
        )

    def handleInputRows(self, key, rows, timer_values):
        import numpy as np
        import pandas as pd

        (user_id,) = key
        # get() returns None when the key has no value (verified against
        # the live state server), so the exists() probe is a redundant
        # second round-trip — one call covers both.
        totals = self._totals.get()
        n, cents = totals if totals is not None else (0, 0)
        # ONE iterator() round-trip reads the whole per-key map; the
        # per-type fold then runs on a local dict and writes back only
        # the types this batch touched. Every typed-state call is a
        # socket round-trip to the JVM state server (the
        # WindowCloseProcessor lesson), and the previous
        # containsKey/getValue/updateValue per present type plus a
        # containsKey/getValue per EVENT_TYPE at emit cost ~3·T + 10
        # round-trips per key-batch; this shape costs 1 + changed-T.
        by_type = {et: int(c) for (et,), (c,) in self._by_type.iterator()}
        touched = set()
        for pdf in rows:
            if not len(pdf):
                continue
            n += len(pdf)
            # integer-cent fold: order-independent across micro-batches,
            # so the SQL oracle reproduces it exactly (functions/money.py
            # reasoning, Python-side)
            cents += int(np.floor(pdf["value"].to_numpy() * 100 + 0.5).sum())
            for etype, cnt in pdf["event_type"].value_counts().items():
                by_type[etype] = by_type.get(etype, 0) + int(cnt)
                touched.add(etype)
        for etype in touched:
            self._by_type.updateValue((etype,), (by_type[etype],))
        self._totals.update((n, cents))
        # lazily-built one-row template (NOT in init(): the driver
        # pre-init worker also calls init() and must stay pandas-free)
        em = getattr(self, "_em", None)
        if em is None:
            em = self._em = _RowEmitter(
                user_id="int64",
                n_events="int64",
                total_value="float64",
                **{f"n_{t}": "int64" for t in EVENT_TYPES},
            )
        yield em.emit(
            user_id=user_id,
            n_events=n,
            total_value=cents / 100.0,
            **{f"n_{t}": by_type.get(t, 0) for t in EVENT_TYPES},
        )

    def close(self) -> None:
        pass


def user_engagement_tws(events: DataFrame) -> DataFrame:
    # guide §4/§2.3: the operator is OPAQUE to Catalyst — without this
    # explicit select every events column (event_id, props, and the
    # timestamp unless the processor reads it) crosses the keyed
    # exchange, the Arrow boundary, and pyspark's per-ROW group
    # assembly for nothing. Project to exactly what the processor
    # touches; results are unchanged (oracle-pinned).
    events = events.select("user_id", "event_type", "value")
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserEngagementProcessor(),
        outputStructType=TWS_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


_TWS_ORACLE = f"""
SELECT user_id,
       count(*) AS n_events,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100
           AS total_value,
       {", ".join(
           f"CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{t}"
           for t in EVENT_TYPES
       )}
FROM events
GROUP BY user_id
"""


def tws_runtime_available() -> bool:
    """transformWithStateInPandas runs its state protocol over
    protobuf (pyspark/sql/streaming/proto/StateMessage_pb2.py imports
    google.protobuf). This container ships no protobuf wheel and has no
    network, so the repo VENDORS a minimal clean-room protobuf runtime
    (vendor/google/protobuf — wire format + descriptor pool + builder,
    written from the public encoding spec; golden-byte-tested in
    tests/test_miniproto.py) and vendorpath.ensure_protobuf() puts it
    on the driver/worker paths. Registration stays gated on the import
    actually succeeding so the driver never sees a guaranteed-crash
    query on an environment the bootstrap can't fix."""
    from ..vendorpath import ensure_protobuf

    if not ensure_protobuf():
        return False
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def _tws_scoped_session(spark: SparkSession) -> SparkSession:
    """One RocksDB-scoped child session shared by the whole typed-state
    family, built once per application through session.once: the
    family's queries are conf-identical, so cloning a fresh
    SessionState per query run buys no isolation and re-pays the
    vendor-path wiring.

    Sharing contract (r10-advice hardening): the family's correctness
    depends on SEQUENTIAL use — two family streams running concurrently
    would race on shuffle.partitions (set around each
    run_stream start) and could collide on sink view names. That invariant was
    implicit in the harness (driver and bench both run queries one at a
    time); it is now ASSERTED at entry — any active streaming query on
    the shared session raises before a second stream can start. Sink
    temp views no longer accumulate either: each family query snaps its
    sink through _snap_sink (localCheckpoint(eager=True) cuts the
    lineage back to the memory sink, so the view can be dropped before
    the lazily-collected DataFrame is returned).

    The shared session also turns OFF RocksDB's per-commit total-row
    tracking (trackTotalNumberOfRows): numRowsTotal is an observability
    metric no registered query reads — every drain fixpoint polls the
    memory SINK — and maintaining the count costs a store scan on every
    commit of every partition of every micro-batch.
    """
    from ..vendorpath import ensure_protobuf

    # on every call: a no-op after the first, it re-asserts the worker
    # env in case the caller's context was rebuilt under the same app id
    ensure_protobuf(spark)

    def build() -> SparkSession:
        # changelog checkpointing measured at sf0.1 in
        # OPTIMIZATION_r16.md §7: warm batches drop from ckptLat
        # 300-2000ms / syncMs 4-30s (summed over 16 partition commits)
        # to ckptLat 0 / syncMs 0.8-2s
        scoped = rocksdb_changelog_session(spark)
        scoped.conf.set(
            "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows",
            "false",
        )
        return scoped

    scoped = once(spark, (__name__, "tws_session"), build)
    active = [q.name or q.id for q in scoped.streams.active]
    if active:
        raise RuntimeError(
            "shared typed-state session already has active streaming "
            f"queries {active}: the family requires sequential use "
            "(per-run shuffle.partitions and sink views are not "
            "concurrency-safe)"
        )
    return scoped


def _snap_sink(scoped: SparkSession, name: str) -> DataFrame:
    """Materialize a drained memory sink and drop its temp view.

    localCheckpoint(eager=True) snapshots the sink's rows into block-
    manager storage (distributed, reclaimed by ContextCleaner once the
    returned DataFrame is unreferenced), cutting the lineage back to
    the memory sink — after which the temp view can be dropped even
    though the caller's DataFrame is collected LATER by the harness.
    Keeps the shared family session's catalog empty between runs
    instead of accreting one view per family query for the application
    lifetime. Sink sizes are keys × micro-batches narrow snapshots
    (a few MB at sf0.1), so the eager materialization is cheap."""
    snap = scoped.table(name).localCheckpoint(eager=True)
    scoped.catalog.dropTempView(name)
    return snap


def q_stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user engagement via transformWithStateInPandas — the Spark 4
    typed-state successor API (named ValueState + MapState variables,
    the taxonomy's 8th pandas-execution kind). Same bounded source and
    order-independent integer-cent fold as q_stream_stateful_user, so
    the drained stream hash-matches the relational oracle exactly —
    including the MapState-backed per-event-type breakdown.

    Runs on a child session pinned to the RocksDB state-store provider
    (the typed-state runtime's production backend — per-variable column
    families live in one store per partition), with the vendored
    protobuf runtime wired into worker envs via ensure_protobuf(spark):
    verified end-to-end even when the caller's session predates the
    bootstrap and its pandas-UDF daemons are already warm (the
    typed-state worker factory spawns fresh)."""
    scoped = _tws_scoped_session(spark)
    events = load_events_stream(scoped, sf_dir)
    out = user_engagement_tws(events)
    run_stream_to_memory(out, "stream_tws_out", output_mode="update")
    latest = _snap_sink(scoped, "stream_tws_out")
    return keep_latest_per_user(latest)


# ----------------------------------- ListState + TTL over real micro-batches

# The remaining typed-state surface: ListState (retained per-key event
# history — the state shape order statistics need, which no running
# scalar can maintain) with a TTL config on the state variable, driven
# across FOUR real micro-batches (split_stream over the 4-slice ntile
# split source) so cross-batch appendList→get round-trips through the
# state store are genuinely exercised, not simulated in one batch.

TWS_LIST_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("median_cents", LongType()),
        StructField("spread_cents", LongType()),
    ]
)


class ValueHistoryProcessor(StatefulProcessor):
    """Per-user retained value history in a ListState (integer cents),
    emitting list-derived order statistics each batch: lower-median and
    max−min spread need the FULL history, so the list is load-bearing —
    a corrupted append/iterate path changes the hash, unlike a mirrored
    counter. TTL is set to 1h: far beyond the bounded run's processing
    time, so the output stays deterministic while the request path that
    encodes TTLConfig (the `cmd.ttl.durationMs` mutation the vendored
    runtime's lazy views exist for) runs for real."""

    def init(self, handle) -> None:
        self._cents = handle.getListState(
            "cents", "cents bigint", ttlDurationMs=3_600_000
        )

    def handleInputRows(self, key, rows, timer_values):
        import numpy as np
        import pandas as pd

        (user_id,) = key
        fresh: list[tuple[int]] = []
        for pdf in rows:
            if len(pdf):
                fresh.extend(
                    (int(c),)
                    for c in np.floor(
                        pdf["value"].to_numpy() * 100 + 0.5
                    ).astype("int64")
                )
        self._cents.appendList(fresh)
        cents = sorted(c for (c,) in self._cents.get())
        n = len(cents)
        em = getattr(self, "_em", None)
        if em is None:
            em = self._em = _RowEmitter(user_id="int64", n_events="int64", total_value="float64", median_cents="int64", spread_cents="int64")
        yield em.emit(
            user_id=user_id,
            n_events=n,
            total_value=sum(cents) / 100.0,
            # lower median: element (n-1)//2 of the sorted history —
            # an actual list element (no interpolation), so the SQL
            # oracle can name the same element by 1-based position
            median_cents=cents[(n - 1) // 2],
            spread_cents=cents[-1] - cents[0],
        )

    def close(self) -> None:
        pass


def user_value_history_tws(events: DataFrame) -> DataFrame:
    # projection discipline: see user_engagement_tws
    events = events.select("user_id", "value")
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=ValueHistoryProcessor(),
        outputStructType=TWS_LIST_OUTPUT_SCHEMA,
        outputMode="Update",
        # TTL requires a processing-time clock on the operator
        timeMode="ProcessingTime",
    )


# Slice-independence is the oracle's precondition: every emitted column
# depends only on the SET of a user's values once all four batches are
# folded — counts, integer-cent sums, and order statistics of the full
# history — so the oracle never names the slice a row arrived in.
_TWS_LIST_ORACLE = """
SELECT user_id,
       count(*) AS n_events,
       CAST(sum(cents) AS DOUBLE) / 100 AS total_value,
       (list(cents ORDER BY cents))[(count(*) + 1) // 2] AS median_cents,
       max(cents) - min(cents) AS spread_cents
FROM (
    SELECT user_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
    FROM events
)
GROUP BY user_id
"""


def q_stream_tws_list_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ListState + TTL through transformWithStateInPandas across four
    real micro-batches: each batch appends its rows' integer cents to
    the per-user retained history, and emits median/spread over the
    full list — statistics only reconstructable from cross-batch state.
    Update-mode memory sink; the final emit per user (max n_events —
    strictly increasing, since a user absent from a batch emits
    nothing) carries the complete history and must hash-match the
    whole-table oracle. RocksDB provider, as the production backend."""
    scoped = _tws_scoped_session(spark)
    src = split_events_dir_ntile(scoped, sf_dir)
    out = user_value_history_tws(split_stream(scoped, src))
    # ProcessingTime time mode (TTL's clock) makes the operator request
    # a batch every batch — the bounded query never self-quiesces, so
    # drain on an observable fixpoint instead: every source row folded
    # == the per-user max n_events emitted in the sink sums to the
    # source row count (n_events is strictly increasing per emit).
    total = scoped.read.parquet(src).count()

    run_stream_to_memory(
        out,
        "stream_tws_list_out",
        output_mode="update",
        until=lambda _q: all_counted(scoped, "stream_tws_list_out", ("user_id",), total),
    )
    latest = _snap_sink(scoped, "stream_tws_list_out")
    return keep_latest_per_user(latest)


# ------------------------------------------- timers (register/fire/delete)

# The last typed-state surface: PROCESSING-TIME TIMERS. The processor
# emits NOTHING from the data path — every output row is produced by
# handleExpiredTimer. Each data batch slides a per-key finalize timer
# (deleteTimer on the previous expiry, registerTimer at now+Δ); once the
# key's last data batch has been folded, the engine's continuous
# ProcessingTime batches advance the clock past Δ and the timer fires
# exactly once (one-shot: the fire path does not re-register), emitting
# the key's COMPLETE totals. Intermediate fires (a quiet key whose
# timer lapses mid-stream) emit partial totals with strictly smaller
# n_events, so keep-max-per-key is deterministic and the final kept row
# per user equals the whole-table aggregate — an exact SQL oracle, even
# though WHEN each timer fires is wall-clock nondeterminism.

TWS_TIMER_DELTA_MS = 1000

TWS_TIMER_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)


class TimerFinalizeProcessor(StatefulProcessor):
    """Totals in a ValueState; a sliding finalize timer per key. The
    full timer protocol exercised end-to-end: listTimers to read back
    the key's pending registrations from the store itself (no shadow
    ValueState to drift out of sync), deleteTimer + registerTimer to
    slide, handleExpiredTimer as the only emitter."""

    def init(self, handle) -> None:
        self._handle = handle
        self._totals = handle.getValueState(
            "totals", "n_events bigint, total_cents bigint"
        )

    def handleInputRows(self, key, rows, timer_values):
        import numpy as np

        totals = self._totals.get()  # None ⇒ no value: one round-trip
        n, cents = totals if totals is not None else (0, 0)
        for pdf in rows:
            if len(pdf):
                n += len(pdf)
                cents += int(
                    np.floor(pdf["value"].to_numpy() * 100 + 0.5).sum()
                )
        self._totals.update((n, cents))
        # slide the finalize timer: read the pending registrations back
        # from the timer store (single source of truth) and drop them,
        # then arm a fresh one Δ from now
        for old in list(self._handle.listTimers()):
            self._handle.deleteTimer(old)
        expiry = timer_values.getCurrentProcessingTimeInMs() + TWS_TIMER_DELTA_MS
        self._handle.registerTimer(expiry)
        return iter(())  # data path emits nothing

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        # one-shot by construction: the engine removes a fired timer,
        # and this path registers nothing new
        import pandas as pd

        (user_id,) = key
        totals = self._totals.get()
        n, cents = totals if totals is not None else (0, 0)
        em = getattr(self, "_em", None)
        if em is None:
            em = self._em = _RowEmitter(user_id="int64", n_events="int64", total_value="float64")
        yield em.emit(user_id=user_id, n_events=n, total_value=cents / 100.0)

    def close(self) -> None:
        pass


def user_timer_finalize_tws(events: DataFrame) -> DataFrame:
    # projection discipline: see user_engagement_tws
    events = events.select("user_id", "value")
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=TimerFinalizeProcessor(),
        outputStructType=TWS_TIMER_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="ProcessingTime",
    )


_TWS_TIMER_ORACLE = """
SELECT user_id,
       count(*) AS n_events,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100
           AS total_value
FROM events
GROUP BY user_id
"""


def q_stream_tws_timers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Processing-time timers through transformWithStateInPandas: the
    finalize-on-quiescence pattern (the streaming shape of "emit a
    session summary when a key goes quiet" — here quiescence is simply
    end-of-source, which makes the final fire's content exact). Every
    output row came out of handleExpiredTimer; per user the kept row
    (max n_events) must hash-match the whole-table aggregate."""
    scoped = _tws_scoped_session(spark)
    src = split_events_dir_ntile(scoped, sf_dir)
    out = user_timer_finalize_tws(split_stream(scoped, src))
    total = scoped.read.parquet(src).count()

    run_stream_to_memory(
        out,
        "stream_tws_timer_out",
        output_mode="update",
        until=lambda _q: all_counted(scoped, "stream_tws_timer_out", ("user_id",), total),
    )
    latest = _snap_sink(scoped, "stream_tws_timer_out")
    return keep_latest_per_user(latest)


# --------------------- event-time timers (watermark-driven window close)

# The reproducible production timer variant: in timeMode="EventTime",
# timers key off the WATERMARK, not the wall clock — fire order and
# fire content are a pure function of the data and the source's batch
# boundaries, so (unlike the ProcessingTime query above, where only the
# keep-max projection is oracle-exact) the timer path ITSELF is
# deterministic. Pattern: per (user, day-window) totals folded into a
# MapState; one timer registered at each window's end; a window emits
# EXACTLY ONCE, from handleExpiredTimer, when the watermark passes its
# end. The ts-ordered split source (split_events_dir_ts_ordered) feeds
# contiguous event-time ranges so a 0-delay watermark never drops a
# row, and its far-future sentinel row pushes the final watermark past
# every data window's end — every window deterministically closes.

DAY_MS = 86_400_000

TWS_EVENT_TIMER_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("window_start", TimestampType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)


class WindowCloseProcessor(StatefulProcessor):
    """Day windows accumulate per key in ONE array-valued ValueState
    (parallel wstart/n/cents arrays + the pending timer's expiry);
    timers are COALESCED — exactly one pending per key, at the
    earliest open window's end — and handleExpiredTimer is the only
    emit path: it closes every window whose end the watermark has
    passed, then re-arms at the earliest end still open.

    Why this shape: every typed-state call is a socket round-trip to
    the JVM state server. A per-window MapState + per-window timer
    costs O(windows) round-trips per key per batch AND O(windows)
    fires per key (measured 37 s at sf0.1 = 1500 users × ~27 day
    windows); this shape is 2 round-trips per key-batch and ~1 fire
    per key per watermark advance (measured 8.5 s, same hashes). At
    1000 executors the constant matters identically — state-server
    chatter is the scaling axis of this operator, not data volume.

    Falsifiable ends: a fire that emits before the watermark passes a
    window's end ships a partial window against the whole-window
    oracle; a timer that never fires drops the window; an array-state
    fault corrupts n_events/total against count(*)/sum."""

    def init(self, handle) -> None:
        self._handle = handle
        self._wins = handle.getValueState(
            "wins",
            "wstarts array<bigint>, ns array<bigint>, "
            "cents array<bigint>, pending bigint",
        )

    def _load(self):
        got = self._wins.get()  # None ⇒ no value: one round-trip
        if got is not None:
            ws, ns, cs, pending = got
            return dict(zip(ws, zip(ns, cs))), pending
        return {}, -1

    def _save(self, open_wins: dict, pending: int) -> None:
        ws = sorted(open_wins)
        self._wins.update(
            (
                ws,
                [open_wins[w][0] for w in ws],
                [open_wins[w][1] for w in ws],
                pending,
            )
        )

    def handleInputRows(self, key, rows, timer_values):
        import numpy as np

        (user_id,) = key
        if user_id == -1:  # sentinel row: watermark driver only
            for _ in rows:
                pass
            return iter(())
        open_wins, pending = self._load()
        for pdf in rows:
            if not len(pdf):
                continue
            ts_ms = pdf["ts"].astype("int64").to_numpy() // 1_000_000
            wstart = (ts_ms // DAY_MS) * DAY_MS
            cents = np.floor(pdf["value"].to_numpy() * 100 + 0.5).astype("int64")
            for ws in np.unique(wstart):
                m = wstart == ws
                n0, c0 = open_wins.get(int(ws), (0, 0))
                open_wins[int(ws)] = (n0 + int(m.sum()), c0 + int(cents[m].sum()))
        if pending < 0 and open_wins:
            # no timer in flight for this key: arm at the earliest
            # open end (ts-ordered arrival ⇒ it is never in the past)
            pending = min(open_wins) + DAY_MS
            self._handle.registerTimer(pending)
        self._save(open_wins, pending)
        return iter(())

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        import pandas as pd

        (user_id,) = key
        # the eviction watermark that fired this timer (>= expiry);
        # every window whose end it passed is final — close them all
        # in this one fire instead of one fire per window
        wm = max(
            timerValues.getCurrentWatermarkInMs(),
            expiredTimerInfo.getExpiryTimeInMs(),
        )
        open_wins, _ = self._load()
        closed = sorted(w for w in open_wins if w + DAY_MS <= wm)
        remaining = {w: open_wins[w] for w in open_wins if w + DAY_MS > wm}
        if remaining:
            pending = min(remaining) + DAY_MS  # > wm by construction
            self._handle.registerTimer(pending)
            self._save(remaining, pending)
        else:
            # nothing open: DELETE the key's state row rather than
            # keeping an empty-arrays tombstone — live state stays
            # ∝ open windows, not ∝ every key ever seen (measured:
            # final state 1 row vs 1500 without this, see
            # SCALE_EVIDENCE.md "Watermark finalization shrinks state")
            self._wins.clear()
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "window_start": [pd.Timestamp(w, unit="ms") for w in closed],
                    "n_events": [open_wins[w][0] for w in closed],
                    "total_value": [open_wins[w][1] / 100.0 for w in closed],
                }
            )

    def close(self) -> None:
        pass


def user_window_close_tws(events_with_watermark: DataFrame) -> DataFrame:
    # projection discipline: see user_engagement_tws (ts stays — the
    # window fold and the watermark both need it)
    events_with_watermark = events_with_watermark.select("user_id", "ts", "value")
    return events_with_watermark.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=WindowCloseProcessor(),
        outputStructType=TWS_EVENT_TIMER_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="EventTime",
    )


_TWS_EVENT_TIMER_ORACLE = """
SELECT user_id,
       CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
       count(*) AS n_events,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100
           AS total_value
FROM events
GROUP BY 1, 2
"""


def q_stream_tws_event_timers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time timers through transformWithStateInPandas: every
    (user, day) window in the output was emitted by handleExpiredTimer
    when the WATERMARK crossed its end — no wall clock anywhere, so
    the full output (not a projection of it) hash-matches the batch
    groupBy twin. The sentinel row (user_id -1) exists only in the
    derived split source, never in `events`, and emits nothing: its
    own window's end sits past the final watermark."""
    scoped = _tws_scoped_session(spark)
    src = split_events_dir_ts_ordered(scoped, sf_dir)
    events = split_stream(scoped, src).withWatermark("ts", "0 seconds")
    out = user_window_close_tws(events)
    total = (
        scoped.read.parquet(src).filter(F.col("user_id") >= 0).count()
    )

    run_stream_to_memory(
        out,
        "stream_tws_event_timer_out",
        output_mode="update",
        until=lambda _q: all_counted(
            scoped, "stream_tws_event_timer_out", ("user_id", "window_start"), total
        ),
    )
    # each window fires exactly once, so this grouping is a no-op on a
    # clean run — it exists to absorb a replayed batch's duplicate
    # append (same replay discipline as the keep-max tws queries)
    return (
        _snap_sink(scoped, "stream_tws_event_timer_out")
        .groupBy("user_id", "window_start")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("total_value").alias("total_value"),
        )
    )


# --------------------- initial state (warm-start) + deleteIfExists

# The migration surface: transformWithStateInPandas(initialState=...)
# BOOTSTRAPS the state store from a batch DataFrame — how a long-lived
# streaming job starts warm from a backfill instead of replaying
# history through the stream. handleInitialState is invoked once per
# initial-state key in the first batch; deleteIfExists is the state
# schema-evolution hook (drop a renamed/legacy variable on upgrade —
# a live no-op here, but the protocol round-trip is real).

TWS_INIT_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("n_seeded", LongType()),
    ]
)


class WarmStartProcessor(StatefulProcessor):
    """Totals seeded from the backfill via handleInitialState, then
    folded forward by the stream. n_seeded rides along so a silently
    skipped seeding is a red hash, not a plausible small number."""

    def init(self, handle) -> None:
        # schema-evolution hook: a prior deployment stored totals under
        # another variable name; purge it if present (no-op when absent)
        handle.deleteIfExists("legacy_totals")
        self._totals = handle.getValueState(
            "totals", "n_events bigint, total_cents bigint, n_seeded bigint"
        )

    def handleInitialState(self, key, initialState, timer_values) -> None:
        n0 = int(initialState["n0"].iloc[0])
        cents0 = int(initialState["cents0"].iloc[0])
        self._totals.update((n0, cents0, n0))

    def handleInputRows(self, key, rows, timer_values):
        import numpy as np
        import pandas as pd

        (user_id,) = key
        totals = self._totals.get()  # None ⇒ no value: one round-trip
        n, cents, seeded = totals if totals is not None else (0, 0, 0)
        for pdf in rows:
            if len(pdf):
                n += len(pdf)
                cents += int(
                    np.floor(pdf["value"].to_numpy() * 100 + 0.5).sum()
                )
        self._totals.update((n, cents, seeded))
        em = getattr(self, "_em", None)
        if em is None:
            em = self._em = _RowEmitter(user_id="int64", n_events="int64", total_value="float64", n_seeded="int64")
        yield em.emit(
            user_id=user_id,
            n_events=n,
            total_value=cents / 100.0,
            n_seeded=seeded,
        )

    def close(self) -> None:
        pass


# Only users with at least one STREAMED row emit (handleInitialState
# itself produces no output), hence the HAVING clause; their totals
# cover backfill + stream, and n_seeded pins the seeded half exactly.
_TWS_INIT_ORACLE = """
SELECT user_id,
       count(*) AS n_events,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100
           AS total_value,
       CAST(sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_seeded
FROM events
GROUP BY user_id
HAVING sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) > 0
"""


def q_stream_tws_initial_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warm-start a typed-state stream from a batch backfill: even
    event_ids are aggregated in batch and handed to the operator as
    initialState (seeding the store via handleInitialState); only odd
    event_ids flow through the stream. The final per-user snapshot must
    equal the whole-table aggregate — backfill + stream with no gap and
    no double count — which is exactly what a production cutover from
    batch history to live ingestion has to guarantee."""
    from ..catalog import load_table
    scoped = _tws_scoped_session(spark)
    backfill = (
        load_table(scoped, sf_dir, "events")
        .filter(F.col("event_id") % 2 == 0)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n0"),
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("bigint")).alias(
                "cents0"
            ),
        )
        .groupBy("user_id")
    )
    events = (
        split_stream(scoped, split_events_dir_ntile(scoped, sf_dir))
        .filter(F.col("event_id") % 2 == 1)
        # projection discipline: see user_engagement_tws (the filter
        # column is consumed JVM-side, the processor folds value only)
        .select("user_id", "value")
    )
    out = events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=WarmStartProcessor(),
        outputStructType=TWS_INIT_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
        initialState=backfill,
    )
    run_stream_to_memory(out, "stream_tws_init_out", output_mode="update")
    latest = _snap_sink(scoped, "stream_tws_init_out")
    return keep_latest_per_user(latest)


# ------------------------- MapState iteration + removeKey (state spill)

# Completes the MapState protocol surface (iterator/keys/values/
# removeKey — the engagement processor uses only point ops) with a real
# pattern: HIERARCHICAL STATE COMPACTION. The hot per-(user, type)
# cents map spills an entry into a compact ValueState accumulator once
# it crosses a cap and removes the map key — the keep-hot-state-small
# discipline a 100 TB/day pipeline applies when per-key sub-state has
# unbounded fan-out. Emitted columns are all SPILL-SCHEDULE-INVARIANT
# (total = overflow + live map regardless of when entries spilled;
# seen-type count is set semantics), so the whole-table SQL oracle is
# exact even though which entries are live at any moment depends on
# micro-batch boundaries.

SPILL_CAP_CENTS = 10_000  # every (user, type) in the testdata crosses it

TWS_SPILL_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("total_value", DoubleType()),
        StructField("n_types_seen", LongType()),
        StructField("live_under_cap", BooleanType()),
        StructField("n_events", LongType()),
    ]
)


class SpillMapProcessor(StatefulProcessor):
    """Hot MapState (type → running cents) + spill ValueState + a
    seen-types MapState used as a set. Falsifiability of the live
    flag: a broken removeKey leaves a ≥cap entry in the map and flips
    live_under_cap; a broken iterator/values corrupts the emitted
    total against the oracle."""

    def init(self, handle) -> None:
        self._live = handle.getMapState("live", "event_type string", "cents bigint")
        self._seen = handle.getMapState("seen", "event_type string", "one tinyint")
        self._overflow = handle.getValueState("overflow", "cents bigint")
        self._n_events = handle.getValueState("n_events", "n bigint")

    def handleInputRows(self, key, rows, timer_values):
        import numpy as np
        import pandas as pd

        (user_id,) = key
        # Every typed-state call is a socket round-trip to the JVM state
        # server (the UserEngagementProcessor lesson): read the whole
        # per-key map state ONCE via iterator()/keys(), fold on local
        # dicts, then write back only what this batch changed. The
        # previous per-type containsKey/getValue/updateValue (both maps)
        # plus values()/keys() at emit cost ~4·T + 4 round-trips per
        # key-batch; this shape is 4 reads + changed-entry writes. The
        # protocol surface exercised is unchanged — updateValue,
        # removeKey, iterator and keys all still run against the live
        # store every batch.
        got = self._overflow.get()  # None ⇒ no value: one round-trip
        (overflow,) = got if got is not None else (0,)
        got = self._n_events.get()
        (n_events,) = got if got is not None else (0,)
        live = {et: int(c) for (et,), (c,) in self._live.iterator()}
        stored_live = set(live)
        seen = {et for (et,) in self._seen.keys()}
        new_seen: list[str] = []
        touched: set[str] = set()
        for pdf in rows:
            if not len(pdf):
                continue
            n_events += len(pdf)
            cents = pd.Series(
                np.floor(pdf["value"].to_numpy() * 100 + 0.5).astype("int64"),
                index=pdf.index,
            )
            for etype, csum in cents.groupby(pdf["event_type"]).sum().items():
                if etype not in seen:
                    seen.add(etype)
                    new_seen.append(etype)
                touched.add(etype)
                cur = live.pop(etype, 0) + int(csum)
                if cur >= SPILL_CAP_CENTS:
                    overflow += cur
                else:
                    live[etype] = cur
        for etype in new_seen:
            self._seen.updateValue((etype,), (1,))
        # store-write diff, touched entries only: a folded value that
        # lives on is updated; an entry spilled out of an existing store
        # row is removed (removeKey only where the store holds one)
        for etype in touched:
            if etype in live:
                self._live.updateValue((etype,), (live[etype],))
            elif etype in stored_live:
                self._live.removeKey((etype,))
        self._overflow.update((overflow,))
        self._n_events.update((n_events,))
        live_vals = list(live.values())
        total = overflow + sum(live_vals)
        n_seen = len(seen)
        em = getattr(self, "_em", None)
        if em is None:
            em = self._em = _RowEmitter(user_id="int64", total_value="float64", n_types_seen="int64", live_under_cap="bool", n_events="int64")
        yield em.emit(
            user_id=user_id,
            total_value=total / 100.0,
            n_types_seen=n_seen,
            live_under_cap=all(v < SPILL_CAP_CENTS for v in live_vals),
            # strictly increasing across emits (every batch that
            # reaches handleInputRows carries ≥1 row) — the ORDER BY
            # key for final-snapshot selection; total_value can TIE
            # when a batch's cents round to 0
            n_events=n_events,
        )

    def close(self) -> None:
        pass


def user_spill_map_tws(events: DataFrame) -> DataFrame:
    # projection discipline: see user_engagement_tws
    events = events.select("user_id", "event_type", "value")
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=SpillMapProcessor(),
        outputStructType=TWS_SPILL_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",  # no TTL/timers: the bounded run self-quiesces
    )


_TWS_SPILL_ORACLE = """
SELECT user_id,
       CAST(sum(cents) AS DOUBLE) / 100 AS total_value,
       count(DISTINCT event_type) AS n_types_seen,
       TRUE AS live_under_cap,
       count(*) AS n_events
FROM (
    SELECT user_id, event_type,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
    FROM events
)
GROUP BY user_id
"""


def q_stream_tws_map_spill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapState iteration + removeKey through the live typed-state
    protocol: per-user hot type→cents map spilling into a compact
    overflow accumulator at a cap, across four real micro-batches.
    The kept row per user (last emit = all rows folded) must
    hash-match the whole-table aggregate; total_value is conserved
    across spills by construction, so any protocol fault in
    values()/keys()/removeKey shows up as a red hash."""
    scoped = _tws_scoped_session(spark)
    out = user_spill_map_tws(split_stream(scoped, split_events_dir_ntile(scoped, sf_dir)))
    run_stream_to_memory(out, "stream_tws_spill_out", output_mode="update")
    latest = _snap_sink(scoped, "stream_tws_spill_out")
    return keep_latest_per_user(latest)


# ------------------------- bounded per-key reservoir (bottom-k sketch)

# The stateful SAMPLING shape a 100 TB/day stream needs: per key, keep
# a FIXED-SIZE uniform sample of everything seen so far, with state
# bounded at K rows per key no matter how many events arrive. The
# classic reservoir's random replacement is order-dependent; swapping
# the coin for the engine's portable salted Knuth hash turns it into a
# BOTTOM-K SKETCH — "keep the K items with the smallest hash" — which
# is (a) exactly a uniform sample over the hash's pseudo-randomness,
# (b) MERGEABLE and order-independent (the final reservoir is a pure
# function of the SET of events, however they were micro-batched), and
# (c) therefore exactly SQL-replayable: row_number over (hv, event_id)
# ≤ K. Same construction as the batch q_group_reservoir
# (operators/splits.py) — this is its streaming twin, sharing the ONE
# hash-family definition.

STREAM_RESERVOIR_K = 5
_SRES_SALT = 49979687  # decorrelated from the fold/reservoir/A-Res streams

TWS_RESERVOIR_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("res_k", LongType()),
        StructField("res_sum_cents", LongType()),
        StructField("res_threshold_hv", LongType()),
        StructField("res_digest", StringType()),
    ]
)


class BoundedReservoirProcessor(StatefulProcessor):
    """Per-user bottom-k reservoir in a ListState that NEVER exceeds K
    rows (merge-sort-truncate, then put() overwrites — the bounded-
    state discipline; an appendList-only history would grow with the
    stream) plus a ValueState events-seen counter. Each emit carries
    the reservoir's size, integer-cent sum, threshold (the K-th
    smallest hash — the sketch's signature statistic, which when the
    reservoir is FULL (res_k == K) estimates the key's distinct count
    at K→∞; for keys with fewer than K events it is merely the max
    hash seen and carries no sketch interpretation) and the md5
    digest of the
    member ids in reservoir order, so a wrong merge, a lost member, a
    mis-ordered truncation, or an unbounded list flips the hash."""

    def init(self, handle) -> None:
        self._res = handle.getListState(
            "res", "hv bigint, event_id bigint, cents bigint"
        )
        self._seen = handle.getValueState("seen", "n bigint")

    def handleInputRows(self, key, rows, timer_values):
        import hashlib

        import pandas as pd

        (user_id,) = key
        seen = self._seen.get()  # None ⇒ no value: one round-trip
        n = seen[0] if seen is not None else 0
        fresh: list[tuple[int, int, int]] = []
        for pdf in rows:
            if not len(pdf):
                continue
            n += len(pdf)
            fresh.extend(
                (int(h), int(e), int(c))
                for h, e, c in zip(pdf["hv"], pdf["event_id"], pdf["cents"])
            )
        merged = sorted(list(self._res.get()) + fresh)[:STREAM_RESERVOIR_K]
        if not merged:
            # all-empty input on an empty key (possible under a future
            # initial-state or timer path): nothing to emit or store
            self._seen.update((n,))
            return
        self._res.put(merged)
        self._seen.update((n,))
        digest = hashlib.md5(
            ",".join(str(e) for _, e, _c in merged).encode()
        ).hexdigest()
        em = getattr(self, "_em", None)
        if em is None:
            em = self._em = _RowEmitter(user_id="int64", n_events="int64", res_k="int64", res_sum_cents="int64", res_threshold_hv="int64", res_digest="object")
        yield em.emit(
            user_id=user_id,
            n_events=n,
            res_k=len(merged),
            res_sum_cents=sum(c for _, _e, c in merged),
            res_threshold_hv=merged[-1][0],
            res_digest=digest,
        )

    def close(self) -> None:
        pass


def bounded_reservoir_tws(events: DataFrame) -> DataFrame:
    """Hash/cents are computed in the STREAM PROJECTION (JVM-side exact
    integer ops, the same salted Knuth family as operators/splits.py);
    the processor only merges and truncates."""
    from ..operators.splits import _FOLD_KNUTH, _FOLD_MOD32, _MOD31

    hv = (
        ((F.col("event_id") + F.lit(_SRES_SALT)) % F.lit(_MOD31))
        * F.lit(_FOLD_KNUTH)
    ) % F.lit(_FOLD_MOD32)
    prepared = events.select(
        "user_id",
        "event_id",
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("cents"),
        hv.cast("long").alias("hv"),
    )
    return prepared.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=BoundedReservoirProcessor(),
        outputStructType=TWS_RESERVOIR_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def _reservoir_oracle() -> str:
    from ..operators.splits import _FOLD_KNUTH, _FOLD_MOD32, _MOD31

    return f"""
WITH h AS (
    SELECT user_id, event_id,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
           ((((event_id + {_SRES_SALT}) % {_MOD31}) * {_FOLD_KNUTH})
               % {_FOLD_MOD32}) AS hv
    FROM events
),
r AS (
    SELECT *, row_number() OVER (PARTITION BY user_id
                                 ORDER BY hv, event_id) AS rnk
    FROM h
),
res AS (SELECT * FROM r WHERE rnk <= {STREAM_RESERVOIR_K}),
t AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
      FROM h GROUP BY user_id),
a AS (
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS res_k,
           CAST(sum(cents) AS BIGINT) AS res_sum_cents,
           CAST(max(hv) AS BIGINT) AS res_threshold_hv,
           md5(string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY rnk))
               AS res_digest
    FROM res GROUP BY user_id
)
SELECT t.user_id, t.n_events, a.res_k, a.res_sum_cents,
       a.res_threshold_hv, a.res_digest
FROM t JOIN a USING (user_id)
"""


def q_stream_tws_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded per-key reservoir sampling over four REAL micro-batches
    (split_stream over the 4-slice ntile split): every batch
    merges its rows into the ≤K-row per-user bottom-k state, so
    cross-batch put→get round-trips and the truncation path are
    genuinely exercised. Final emit per user (max n_events, strictly
    increasing) must hash-match the whole-table oracle — including the
    md5 member digest, so membership AND order are pinned, not just
    counts. RocksDB provider, as the production backend.

    100 TB posture: state is K rows per key regardless of stream
    length (the reason this exists — a per-key event HISTORY is
    unboundable at 100 TB/day; the bottom-k reservoir is the standard
    constant-memory uniform sample, and its hash threshold doubles as
    a distinct-count sketch). Order-independence of the bottom-k set
    is what makes an exact oracle possible at all — a coin-flip
    reservoir could only be invariant-checked."""
    scoped = _tws_scoped_session(spark)
    out = bounded_reservoir_tws(split_stream(scoped, split_events_dir_ntile(scoped, sf_dir)))
    run_stream_to_memory(out, "stream_tws_res_out", output_mode="update")
    latest = _snap_sink(scoped, "stream_tws_res_out")
    return keep_latest_per_user(latest)


if tws_runtime_available():
    q_stream_transform_with_state = query(
        "q_stream_transform_with_state",
        oracle=_TWS_ORACLE,
        tags=("streaming", "stateful", "pandas-udf"),
    )(q_stream_transform_with_state)
    q_stream_tws_list_ttl = query(
        "q_stream_tws_list_ttl",
        oracle=_TWS_LIST_ORACLE,
        tags=("streaming", "stateful", "pandas-udf", "ttl"),
    )(q_stream_tws_list_ttl)
    q_stream_tws_timers = query(
        "q_stream_tws_timers",
        oracle=_TWS_TIMER_ORACLE,
        tags=("streaming", "stateful", "pandas-udf", "timers"),
    )(q_stream_tws_timers)
    q_stream_tws_event_timers = query(
        "q_stream_tws_event_timers",
        oracle=_TWS_EVENT_TIMER_ORACLE,
        tags=("streaming", "stateful", "pandas-udf", "timers", "event-time"),
    )(q_stream_tws_event_timers)
    q_stream_tws_map_spill = query(
        "q_stream_tws_map_spill",
        oracle=_TWS_SPILL_ORACLE,
        tags=("streaming", "stateful", "pandas-udf", "mapstate"),
    )(q_stream_tws_map_spill)
    q_stream_tws_initial_state = query(
        "q_stream_tws_initial_state",
        oracle=_TWS_INIT_ORACLE,
        tags=("streaming", "stateful", "pandas-udf", "initial-state"),
    )(q_stream_tws_initial_state)
    q_stream_tws_reservoir = query(
        "q_stream_tws_reservoir",
        oracle=_reservoir_oracle(),
        tags=("streaming", "stateful", "pandas-udf", "sampling"),
    )(q_stream_tws_reservoir)
