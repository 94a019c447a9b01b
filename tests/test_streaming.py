"""Streaming/batch equivalence: the streaming wrapper must produce
exactly the batch twin's result on the bounded source."""

from __future__ import annotations

from facebook_ad_library_data_pipeline_spark.registry import load_all

REGISTRY = load_all()


def _as_set(rows):
    return {tuple(str(v) for v in r) for r in rows}


def test_stream_tumbling_equals_batch(spark, sf_dir):
    stream = REGISTRY["q_stream_tumbling"].fn(spark, sf_dir).collect()
    batch = REGISTRY["q_window_tumbling"].fn(spark, sf_dir).collect()
    assert _as_set(stream) == _as_set(batch)


def test_stream_dedup_counts_match_batch(spark, sf_dir):
    from facebook_ad_library_data_pipeline_spark.catalog import load_table
    from pyspark.sql import functions as F

    stream = {
        r.event_type: r.n for r in REGISTRY["q_stream_dedup"].fn(spark, sf_dir).collect()
    }
    batch = {
        r.event_type: r.n
        for r in load_table(spark, sf_dir, "events")
        .dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert stream == batch


def test_sliding_doubles_tumbling_total(spark, sf_dir):
    # every event is in exactly 2 sliding windows → total n doubles
    tumb = sum(r.n for r in REGISTRY["q_window_tumbling"].fn(spark, sf_dir).collect())
    slide = sum(r.n for r in REGISTRY["q_window_sliding"].fn(spark, sf_dir).collect())
    assert slide == 2 * tumb


def test_session_windows_partition_events(spark, sf_dir):
    from facebook_ad_library_data_pipeline_spark.catalog import load_table

    sessions = REGISTRY["q_session_window"].fn(spark, sf_dir).collect()
    n_events = load_table(spark, sf_dir, "events").count()
    assert sum(r.n_events for r in sessions) == n_events
    assert all(r.session_start <= r.last_event_ts for r in sessions)


def test_stream_static_join_equals_batch(spark, sf_dir):
    stream = REGISTRY["q_stream_static_join"].fn(spark, sf_dir).collect()
    batch = REGISTRY["q_join_events_dim"].fn(spark, sf_dir).collect()
    assert _as_set(stream) == _as_set(batch)


def test_stream_stream_join_equals_batch(spark, sf_dir):
    stream = REGISTRY["q_stream_stream_join"].fn(spark, sf_dir).collect()
    batch = REGISTRY["q_interval_join_pairs"].fn(spark, sf_dir).collect()
    assert _as_set(stream) == _as_set(batch)


def test_incremental_rollup_merges_real_micro_batches(spark, sf_dir):
    """The partial-append sink must be fed by MULTIPLE micro-batches
    (maxFilesPerTrigger=1 over the 4-file split) — otherwise the merge
    path under test is vacuous — and the merged view must equal the
    one-shot batch rollup."""
    import glob
    import tempfile

    from pyspark.sql import functions as F

    from facebook_ad_library_data_pipeline_spark.catalog import load_table
    from facebook_ad_library_data_pipeline_spark.streaming.incremental import (
        N_SOURCE_FILES,
        split_events_dir_ntile,
    )

    src = split_events_dir_ntile(spark, sf_dir)
    n_files = len(glob.glob(f"{src}/slice-*.parquet"))
    assert n_files == N_SOURCE_FILES

    merged = {
        (r.day, r.event_type): (r.n, r.total_value)
        for r in REGISTRY["q_stream_incremental_rollup"].fn(spark, sf_dir).collect()
    }
    batch = {
        (r.day, r.event_type): (r.n, r.total_value)
        for r in load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).cast("double")
                / 100
            ).alias("total_value"),
        )
        .collect()
    }
    assert merged == batch


def test_incremental_rollup_checkpoint_resume_and_replay_idempotence(
    spark, sf_dir, tmp_path
):
    """Two properties of the epoch-keyed sink, each pinned
    deterministically (no timing races):

    1. CHECKPOINT RESUME: run the stream over HALF the source files to
       completion, stop, add the remaining files, restart from the same
       checkpoint — already-committed batches must not reprocess, and
       the merged view must equal the batch rollup.
    2. REPLAY IDEMPOTENCE: foreachBatch is at-least-once; re-invoking
       the sink body with the SAME epoch id (what a crash-replay does)
       must not change the merged result — that is exactly what the
       epoch-keyed overwrite buys over a plain append."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from facebook_ad_library_data_pipeline_spark.streaming.incremental import (
        _partial_rollup,
        split_events_dir_ntile,
        split_stream,
    )

    full_src = split_events_dir_ntile(spark, sf_dir)
    files = sorted(glob.glob(f"{full_src}/slice-*.parquet"))
    assert len(files) >= 2
    src = str(tmp_path / "src")
    sink = str(tmp_path / "partials")
    ckpt = str(tmp_path / "ckpt")
    (tmp_path / "src").mkdir()

    def append_partial(batch_df, epoch_id):
        _partial_rollup(batch_df).write.mode("overwrite").parquet(
            f"{sink}/epoch={epoch_id}"
        )

    def run_to_completion():
        q = (
            split_stream(spark, src)
            .writeStream.foreachBatch(append_partial)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    # phase 1: half the files, stream to completion, stop
    half = len(files) // 2
    for f in files[:half]:
        shutil.copy(f, src)
    run_to_completion()
    epochs_after_phase1 = {
        d for d in glob.glob(f"{sink}/epoch=*") if "epoch=" in d
    }
    # phase 2: deliver the rest, restart from the SAME checkpoint
    for f in files[half:]:
        shutil.copy(f, src)
    run_to_completion()
    epochs_after_phase2 = {
        d for d in glob.glob(f"{sink}/epoch=*") if "epoch=" in d
    }
    # resume processed only the NEW files as new epochs
    assert epochs_after_phase1 < epochs_after_phase2

    def merged_counts():
        return {
            (r.day, r.event_type): r.n
            for r in spark.read.parquet(sink)
            .groupBy("day", "event_type")
            .agg(F.sum("n").alias("n"))
            .collect()
        }

    from facebook_ad_library_data_pipeline_spark.catalog import load_table

    batch = {
        (r.day, r.event_type): r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("day"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert merged_counts() == batch

    # property 2: replay an already-committed epoch — _partial_rollup is
    # deterministic on the same batch, so a crash-replay rewrites the
    # SAME partial; with the epoch-keyed overwrite that leaves the view
    # unchanged (a plain append would double-count). Simulated without
    # assuming which file epoch K processed: capture K's partial, wreck
    # the epoch dir with a half-written (empty) partial, then replay.
    replay_dir = sorted(epochs_after_phase1)[0]
    replay_partial = spark.read.parquet(replay_dir)
    saved = (replay_partial.collect(), replay_partial.schema)
    spark.createDataFrame([], saved[1]).write.mode("overwrite").parquet(replay_dir)
    assert merged_counts() != batch  # the wrecked partial is visible
    spark.createDataFrame(*saved).write.mode("overwrite").parquet(replay_dir)
    assert merged_counts() == batch  # replay restored it exactly


def test_stream_stateful_user_equals_batch(spark, sf_dir):
    """The applyInPandasWithState fold must agree with the plain batch
    groupBy on the bounded source: same per-user event count, value sum
    (to the cent), and ts-latest event type."""
    from facebook_ad_library_data_pipeline_spark.catalog import load_table
    from pyspark.sql import functions as F

    stream = {
        r.user_id: (r.n_events, r.total_value, r.last_event_type)
        for r in REGISTRY["q_stream_stateful_user"].fn(spark, sf_dir).collect()
    }
    batch = {
        r.user_id: (r.n_events, r.total_value, r.last_event_type)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
            F.max_by("event_type", "ts").alias("last_event_type"),
        )
        .collect()
    }
    assert set(stream) == set(batch)
    for uid, (sn, sv, st) in stream.items():
        bn, bv, bt = batch[uid]
        assert sn == bn, f"user {uid}: n_events {sn} != {bn}"
        assert abs(sv - bv) < 0.005, f"user {uid}: total_value {sv} != {bv}"
        assert st == bt, f"user {uid}: last_event_type {st} != {bt}"


def test_tws_processor_fold_is_batch_split_invariant():
    """The transformWithStateInPandas processor's fold, driven through
    a fake typed-state handle (the documented ValueState/MapState API):
    feeding the same rows as one batch or split across three must
    produce the identical final snapshot, and that snapshot must equal
    the plain pandas groupby — the property that makes the streaming
    query oracle-checkable. (Independent of the live runtime, which
    since r08 runs on the vendored mini-protobuf — see
    test_tws_live_runtime_matches_batch for the end-to-end twin.)"""
    import numpy as np
    import pandas as pd

    from facebook_ad_library_data_pipeline_spark.streaming.stateful import (
        UserEngagementProcessor,
    )

    class FakeValueState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)

    class FakeMapState:
        def __init__(self):
            self._m = {}

        def containsKey(self, k):
            return tuple(k) in self._m

        def getValue(self, k):
            return self._m[tuple(k)]

        def updateValue(self, k, v):
            self._m[tuple(k)] = tuple(v)

        def iterator(self):
            # the live MapState.iterator() yields (key_tuple,
            # value_tuple) pairs — the r16 round-trip-reduction path
            return iter(list(self._m.items()))

    class FakeHandle:
        def getValueState(self, name, schema, ttlDurationMs=None):
            return FakeValueState()

        def getMapState(self, name, kschema, vschema, ttlDurationMs=None):
            return FakeMapState()

    rng = np.random.default_rng(7)
    pdf = pd.DataFrame(
        {
            "user_id": 42,
            "event_type": rng.choice(["view", "click", "purchase"], size=30),
            "value": rng.uniform(0, 50, size=30).round(3),
        }
    )

    def run(batches):
        proc = UserEngagementProcessor()
        proc.init(FakeHandle())
        out = None
        for b in batches:
            out = pd.concat(list(proc.handleInputRows((42,), iter([b]), None)))
        return out.iloc[-1]

    whole = run([pdf])
    split = run([pdf.iloc[:7], pdf.iloc[7:19], pdf.iloc[19:]])
    assert whole.equals(split)
    assert whole["n_events"] == 30
    cents = int(np.floor(pdf["value"].to_numpy() * 100 + 0.5).sum())
    assert whole["total_value"] == cents / 100.0
    counts = pdf["event_type"].value_counts()
    for t in ("view", "click", "purchase"):
        assert whole[f"n_{t}"] == counts.get(t, 0)
    assert whole["n_signup"] == 0 and whole["n_refund"] == 0

def test_tws_live_runtime_matches_batch(spark, sf_dir):
    """END-TO-END transformWithStateInPandas: the vendored mini-protobuf
    runtime (vendor/google/protobuf) carries the typed-state protocol to
    the real JVM state server — ValueState + MapState reads/writes over
    the socket, RocksDB provider, drained through the memory sink. The
    result must equal the batch groupBy twin exactly (integer-cent fold,
    see _TWS_ORACLE). This is the live counterpart of the fake-handle
    fold test above and of tests/test_miniproto.py's golden bytes."""
    import pytest

    from facebook_ad_library_data_pipeline_spark.streaming import stateful

    if not stateful.tws_runtime_available():
        pytest.skip("no protobuf runtime (real or vendored)")

    from pyspark.sql import functions as F

    got = {
        r["user_id"]: r
        for r in stateful.q_stream_transform_with_state(spark, sf_dir).collect()
    }
    from facebook_ad_library_data_pipeline_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    want = (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.sum(F.floor(F.col("value") * 100 + 0.5).cast("bigint")) / 100.0
            ).alias("total_value"),
            *[
                F.sum((F.col("event_type") == t).cast("bigint")).alias(f"n_{t}")
                for t in stateful.EVENT_TYPES
            ],
        )
        .collect()
    )
    assert len(got) == len(want) > 0
    for w in want:
        g = got[w["user_id"]]
        assert g["n_events"] == w["n_events"]
        assert abs(g["total_value"] - w["total_value"]) < 1e-9
        for t in stateful.EVENT_TYPES:
            assert g[f"n_{t}"] == w[f"n_{t}"], (w["user_id"], t)


def test_tws_list_processor_history_is_split_invariant():
    """ValueHistoryProcessor's ListState fold: the retained history —
    and the order statistics derived from it — must be identical
    whether rows arrive in one batch or three (appendList across
    batches), and must equal the plain pandas computation. This is the
    slice-independence property that lets the 4-micro-batch live query
    share a whole-table SQL oracle."""
    import numpy as np
    import pandas as pd

    from facebook_ad_library_data_pipeline_spark.streaming.stateful import (
        ValueHistoryProcessor,
    )

    class FakeListState:
        def __init__(self):
            self._items = []

        def exists(self):
            return bool(self._items)

        def get(self):
            return iter(list(self._items))

        def appendList(self, items):
            self._items.extend(tuple(i) for i in items)

    captured = {}

    class FakeHandle:
        def getListState(self, name, schema, ttlDurationMs=None):
            captured["ttl"] = ttlDurationMs
            return FakeListState()

    rng = np.random.default_rng(11)
    pdf = pd.DataFrame(
        {
            "user_id": 7,
            "value": rng.uniform(0, 80, size=25).round(3),
        }
    )

    def run(batches):
        proc = ValueHistoryProcessor()
        proc.init(FakeHandle())
        out = None
        for b in batches:
            out = pd.concat(list(proc.handleInputRows((7,), iter([b]), None)))
        return out.iloc[-1]

    whole = run([pdf])
    split = run([pdf.iloc[:6], pdf.iloc[6:17], pdf.iloc[17:]])
    assert whole.equals(split)
    cents = sorted(np.floor(pdf["value"].to_numpy() * 100 + 0.5).astype("int64"))
    assert whole["n_events"] == 25
    assert whole["total_value"] == sum(cents) / 100.0
    assert whole["median_cents"] == cents[(25 - 1) // 2]
    assert whole["spread_cents"] == cents[-1] - cents[0]
    # the TTL config must actually reach the state registration call
    assert captured["ttl"] == 3_600_000


def test_tws_list_ttl_live_matches_batch(spark, sf_dir):
    """END-TO-END ListState + TTL: four real micro-batches append into
    per-user retained history through the JVM state server (RocksDB
    provider, ProcessingTime time mode for the TTL clock), drained on
    the all-rows-folded fixpoint. The final emits must equal the batch
    computation of the same order statistics."""
    import pytest

    from facebook_ad_library_data_pipeline_spark.streaming import stateful

    if not stateful.tws_runtime_available():
        pytest.skip("no protobuf runtime (real or vendored)")

    from pyspark.sql import functions as F

    from facebook_ad_library_data_pipeline_spark.catalog import load_table

    got = {
        r["user_id"]: r
        for r in stateful.q_stream_tws_list_ttl(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events").withColumn(
        "cents", F.floor(F.col("value") * 100 + 0.5).cast("bigint")
    )
    want = (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum("cents") / 100.0).alias("total_value"),
            F.expr(
                "sort_array(collect_list(cents))"
                "[CAST((count(*) - 1) / 2 AS INT)]"
            ).alias("median_cents"),
            (F.max("cents") - F.min("cents")).alias("spread_cents"),
        )
        .collect()
    )
    assert len(got) == len(want) > 0
    for w in want:
        g = got[w["user_id"]]
        assert g["n_events"] == w["n_events"]
        assert abs(g["total_value"] - w["total_value"]) < 1e-9
        assert g["median_cents"] == w["median_cents"]
        assert g["spread_cents"] == w["spread_cents"]


def test_tws_timer_processor_protocol():
    """TimerFinalizeProcessor through a fake handle: the data path
    emits nothing and slides the finalize timer (deleteTimer on the
    previous expiry, registerTimer at now+delta); the fire path emits
    the complete totals exactly once and disarms. Deterministic replay
    of the register→delete→register→fire sequence the live query
    exercises against the JVM."""
    import numpy as np
    import pandas as pd

    from facebook_ad_library_data_pipeline_spark.streaming.stateful import (
        TWS_TIMER_DELTA_MS,
        TimerFinalizeProcessor,
    )

    class FakeValueState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)

        def clear(self):
            self._v = None

    class FakeHandle:
        def __init__(self):
            self.timers = []
            self.log = []

        def getValueState(self, name, schema, ttlDurationMs=None):
            return FakeValueState()

        def registerTimer(self, ms):
            self.timers.append(ms)
            self.log.append(("register", ms))

        def deleteTimer(self, ms):
            self.timers.remove(ms)
            self.log.append(("delete", ms))

        def listTimers(self):
            self.log.append(("list", tuple(self.timers)))
            return iter(list(self.timers))

    class FakeTimerValues:
        def __init__(self, now):
            self._now = now

        def getCurrentProcessingTimeInMs(self):
            return self._now

    proc = TimerFinalizeProcessor()
    handle = FakeHandle()
    proc.init(handle)

    rng = np.random.default_rng(3)
    b1 = pd.DataFrame({"user_id": 9, "value": rng.uniform(0, 40, 10).round(3)})
    b2 = pd.DataFrame({"user_id": 9, "value": rng.uniform(0, 40, 7).round(3)})

    out1 = list(proc.handleInputRows((9,), iter([b1]), FakeTimerValues(10_000)))
    assert out1 == []  # data path is silent
    assert handle.timers == [10_000 + TWS_TIMER_DELTA_MS]

    # second batch arrives before expiry: the timer must SLIDE
    list(proc.handleInputRows((9,), iter([b2]), FakeTimerValues(10_400)))
    assert handle.timers == [10_400 + TWS_TIMER_DELTA_MS]
    assert ("delete", 10_000 + TWS_TIMER_DELTA_MS) in handle.log

    class FakeExpiredInfo:
        def getExpiryTimeInMs(self):
            return 10_400 + TWS_TIMER_DELTA_MS

    fired = pd.concat(
        list(
            proc.handleExpiredTimer(
                (9,), FakeTimerValues(12_000), FakeExpiredInfo()
            )
        )
    )
    both = pd.concat([b1, b2])
    cents = int(np.floor(both["value"].to_numpy() * 100 + 0.5).sum())
    assert fired.iloc[0]["n_events"] == 17
    assert fired.iloc[0]["total_value"] == cents / 100.0
    # the slide read its pending registrations back from the timer
    # store itself (listTimers), not from shadow state
    assert ("list", (10_000 + TWS_TIMER_DELTA_MS,)) in handle.log
    # one-shot: the fire path registered nothing new (a real engine
    # removes the fired timer itself; the fake keeps it listed)
    assert [op for op in handle.log if op[0] == "register"] == [
        ("register", 10_000 + TWS_TIMER_DELTA_MS),
        ("register", 10_400 + TWS_TIMER_DELTA_MS),
    ]


def test_tws_spill_map_processor_conserves_total():
    """SpillMapProcessor through a fake handle: entries crossing the
    cap spill into the overflow ValueState via removeKey, the emitted
    total is conserved regardless of where batch boundaries fall, and
    the live map never holds a >= cap entry. Asserts removeKey was
    genuinely exercised (the live query's falsifiability hinges on
    it)."""
    import numpy as np
    import pandas as pd

    from facebook_ad_library_data_pipeline_spark.streaming.stateful import (
        SPILL_CAP_CENTS,
        SpillMapProcessor,
    )

    class FakeValueState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)

    class FakeMapState:
        def __init__(self, removed):
            self._m = {}
            self._removed = removed

        def containsKey(self, k):
            return tuple(k) in self._m

        def getValue(self, k):
            return self._m[tuple(k)]

        def updateValue(self, k, v):
            self._m[tuple(k)] = tuple(v)

        def keys(self):
            return iter(list(self._m))

        def values(self):
            return iter(list(self._m.values()))

        def iterator(self):
            return iter(list(self._m.items()))

        def removeKey(self, k):
            del self._m[tuple(k)]
            self._removed.append(tuple(k))

    removed = []

    class FakeHandle:
        def getValueState(self, name, schema, ttlDurationMs=None):
            return FakeValueState()

        def getMapState(self, name, ks, vs, ttlDurationMs=None):
            return FakeMapState(removed)

    # values sized so a type's PER-BATCH increment stays under the cap
    # (entries accumulate in the live map) while its cumulative total
    # crosses it (so the split run must spill via removeKey). A
    # single-batch run folds the whole sum at once and jump-spills
    # without ever storing the entry — also correct, and the two
    # schedules must agree on every emitted column.
    rng = np.random.default_rng(5)
    pdf = pd.DataFrame(
        {
            "user_id": 3,
            "event_type": rng.choice(["view", "click", "purchase"], size=40),
            "value": rng.uniform(5, 15, size=40).round(3),
        }
    )

    def run(batches):
        proc = SpillMapProcessor()
        proc.init(FakeHandle())
        out = None
        for b in batches:
            out = pd.concat(list(proc.handleInputRows((3,), iter([b]), None)))
        return out.iloc[-1]

    removed.clear()
    whole = run([pdf])
    removed.clear()
    split = run([pdf.iloc[:9], pdf.iloc[9:23], pdf.iloc[23:]])
    assert whole.equals(split)  # spill schedule differs; outputs must not
    assert len(removed) > 0  # removeKey really fired in the split run
    cents = int(np.floor(pdf["value"].to_numpy() * 100 + 0.5).sum())
    assert whole["total_value"] == cents / 100.0
    assert whole["n_types_seen"] == pdf["event_type"].nunique()
    assert bool(whole["live_under_cap"]) is True
    assert whole["n_events"] == len(pdf)  # the keep-window ORDER key
    assert SPILL_CAP_CENTS == 10_000


def test_tws_warmstart_processor_seeds_then_folds():
    """WarmStartProcessor via fake handle: handleInitialState seeds the
    totals from the backfill row, handleInputRows folds streamed rows
    on top (no gap, no double count), and init() issues the
    deleteIfExists schema-evolution call for the legacy variable."""
    import numpy as np
    import pandas as pd

    from facebook_ad_library_data_pipeline_spark.streaming.stateful import (
        WarmStartProcessor,
    )

    class FakeValueState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)

    deleted = []

    class FakeHandle:
        def getValueState(self, name, schema, ttlDurationMs=None):
            return FakeValueState()

        def deleteIfExists(self, name):
            deleted.append(name)

    proc = WarmStartProcessor()
    proc.init(FakeHandle())
    assert deleted == ["legacy_totals"]

    seed = pd.DataFrame({"n0": [12], "cents0": [34_567]})
    proc.handleInitialState((4,), seed, None)

    rng = np.random.default_rng(9)
    pdf = pd.DataFrame({"user_id": 4, "value": rng.uniform(0, 30, 8).round(3)})
    out = pd.concat(list(proc.handleInputRows((4,), iter([pdf]), None))).iloc[-1]
    cents = int(np.floor(pdf["value"].to_numpy() * 100 + 0.5).sum())
    assert out["n_events"] == 12 + 8
    assert out["total_value"] == (34_567 + cents) / 100.0
    assert out["n_seeded"] == 12


def test_tws_checkpoint_restart_recovers_state(spark, sf_dir, tmp_path):
    """CRASH-RECOVERY of typed state: run the engagement processor over
    half the source files with an explicit checkpoint, stop the query,
    deliver the remaining files, restart from the SAME checkpoint. The
    restarted run's emits must equal the WHOLE-table aggregate per user
    — possible only if the RocksDB snapshot restored the phase-1 folds
    (a fresh run over phase-2 files alone would undercount). This is
    the durability half of the typed-state story: the vendored
    protobuf protocol and the state encoding must round-trip through
    an actual stop/restart, not just within one query run."""
    import glob
    import shutil

    import pytest

    from pyspark.sql import functions as F

    from facebook_ad_library_data_pipeline_spark.catalog import load_table
    from facebook_ad_library_data_pipeline_spark.streaming import stateful
    from facebook_ad_library_data_pipeline_spark.streaming.incremental import (
        split_events_dir_ntile,
        split_stream,
    )
    from facebook_ad_library_data_pipeline_spark.vendorpath import ensure_protobuf

    if not stateful.tws_runtime_available():
        pytest.skip("no protobuf runtime (real or vendored)")

    ensure_protobuf(spark)
    scoped = spark.newSession()
    scoped.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    scoped.conf.set("spark.sql.shuffle.partitions", "8")
    full_src = split_events_dir_ntile(scoped, sf_dir)
    files = sorted(glob.glob(f"{full_src}/slice-*.parquet"))
    assert len(files) >= 2
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def run_to_completion(emits):
        # memory sink cannot recover from a checkpoint; foreachBatch can
        stream = split_stream(scoped, str(src))

        def capture(batch_df, epoch_id):
            emits.extend(batch_df.collect())

        q = (
            stateful.user_engagement_tws(stream)
            .writeStream.outputMode("update")
            .foreachBatch(capture)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    half = len(files) // 2
    for f in files[:half]:
        shutil.copy(f, src)
    phase1_emits = []
    run_to_completion(phase1_emits)
    assert len(phase1_emits) > 0

    for f in files[half:]:
        shutil.copy(f, src)
    phase2_emits = []
    run_to_completion(phase2_emits)

    # phase-2 emits come only from the restarted run; every user in
    # them must already equal the WHOLE-table totals
    agg = {}
    for r in phase2_emits:
        n, tv = agg.get(r["user_id"], (0, 0.0))
        agg[r["user_id"]] = (max(n, r["n_events"]), max(tv, r["total_value"]))
    got = agg
    assert len(got) > 0
    want = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in load_table(scoped, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.sum(F.floor(F.col("value") * 100 + 0.5).cast("bigint"))
                / 100.0
            ).alias("total_value"),
        )
        .collect()
    }
    phase2_counts = {
        r["user_id"]: r["n"]
        for r in scoped.read.parquet(*[str(src / f.split("/")[-1]) for f in files[half:]])
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    carried = 0
    for uid, (n, tv) in got.items():
        assert n == want[uid][0], f"user {uid}: {n} != {want[uid][0]}"
        assert abs(tv - want[uid][1]) < 0.005
        if phase2_counts.get(uid, 0) < n:
            carried += 1  # this user's total NEEDED phase-1 state
    assert carried > 0  # restart genuinely restored prior state


def test_tws_window_close_processor_event_time_protocol():
    """WindowCloseProcessor via fake handle: ONE coalesced timer per
    key (armed at the earliest open window's end), folds accumulate
    across batches that straddle a window, handleExpiredTimer closes
    every window the watermark has passed in a single fire and re-arms
    at the earliest end still open, and the sentinel key is a pure
    pass-through."""
    import pandas as pd

    from facebook_ad_library_data_pipeline_spark.streaming.stateful import (
        DAY_MS,
        WindowCloseProcessor,
    )

    class FakeValueState:
        def __init__(self):
            self._v = None
            self.cleared = 0

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)

        def clear(self):
            self._v = None
            self.cleared += 1

    class FakeHandle:
        def __init__(self):
            self.state = FakeValueState()
            self.registered = []

        def getValueState(self, name, schema, ttlDurationMs=None):
            return self.state

        def registerTimer(self, ms):
            self.registered.append(ms)

    class FakeTimerValues:
        def __init__(self, wm):
            self._wm = wm

        def getCurrentWatermarkInMs(self):
            return self._wm

    class FakeExpiredInfo:
        def __init__(self, ms):
            self._ms = ms

        def getExpiryTimeInMs(self):
            return self._ms

    proc = WindowCloseProcessor()
    handle = FakeHandle()
    proc.init(handle)

    day0 = 1_704_067_200_000  # 2024-01-01 UTC, epoch-aligned day

    def batch(ts_ms, values):
        return pd.DataFrame(
            {
                "ts": pd.to_datetime(pd.Series(ts_ms), unit="ms"),
                "value": values,
            }
        )

    # batch 1 touches two windows -> ONE coalesced timer, at the
    # EARLIEST window's end
    b1 = batch([day0 + 10, day0 + 20, day0 + DAY_MS + 5], [1.00, 2.00, 7.00])
    out = list(proc.handleInputRows((4,), iter([b1]), FakeTimerValues(0)))
    assert out == []  # data path never emits
    assert handle.registered == [day0 + DAY_MS]

    # batch 2 straddles into window 2: a timer is already pending ->
    # no new registration, the fold accumulates
    b2 = batch([day0 + DAY_MS + 50], [0.50])
    list(proc.handleInputRows((4,), iter([b2]), FakeTimerValues(day0)))
    assert handle.registered == [day0 + DAY_MS]

    # fire 1: watermark passed only window 1's end -> close it, re-arm
    # at window 2's end
    fired1 = pd.concat(
        list(
            proc.handleExpiredTimer(
                (4,), FakeTimerValues(day0 + DAY_MS), FakeExpiredInfo(day0 + DAY_MS)
            )
        )
    )
    assert len(fired1) == 1
    assert fired1.iloc[0]["n_events"] == 2
    assert fired1.iloc[0]["total_value"] == 3.00
    assert fired1.iloc[0]["window_start"] == pd.Timestamp(day0, unit="ms")
    assert handle.registered == [day0 + DAY_MS, day0 + 2 * DAY_MS]

    # fire 2: window 2 closes with BOTH batches' rows folded; nothing
    # left open -> no re-arm
    fired2 = pd.concat(
        list(
            proc.handleExpiredTimer(
                (4,),
                FakeTimerValues(day0 + 2 * DAY_MS),
                FakeExpiredInfo(day0 + 2 * DAY_MS),
            )
        )
    )
    assert len(fired2) == 1
    assert fired2.iloc[0]["n_events"] == 2
    assert fired2.iloc[0]["total_value"] == 7.50
    assert handle.registered == [day0 + DAY_MS, day0 + 2 * DAY_MS]

    # a spurious re-fire finds nothing open and emits nothing
    assert (
        list(
            proc.handleExpiredTimer(
                (4,),
                FakeTimerValues(day0 + 2 * DAY_MS),
                FakeExpiredInfo(day0 + 2 * DAY_MS),
            )
        )
        == []
    )

    # one fire can close MANY windows at once (the sentinel batch
    # shape): three windows folded, watermark jumps past all ends
    proc2 = WindowCloseProcessor()
    h2 = FakeHandle()
    proc2.init(h2)
    b = batch(
        [day0 + 5, day0 + DAY_MS + 5, day0 + 2 * DAY_MS + 5], [1.0, 2.0, 4.0]
    )
    list(proc2.handleInputRows((7,), iter([b]), FakeTimerValues(0)))
    assert h2.registered == [day0 + DAY_MS]
    fired = pd.concat(
        list(
            proc2.handleExpiredTimer(
                (7,),
                FakeTimerValues(day0 + 40 * DAY_MS),
                FakeExpiredInfo(day0 + DAY_MS),
            )
        )
    )
    assert list(fired["total_value"]) == [1.0, 2.0, 4.0]
    assert h2.registered == [day0 + DAY_MS]  # nothing left -> no re-arm
    # full close DELETES the state row (no empty-arrays tombstone)
    assert h2.state.cleared == 1 and not h2.state.exists()

    # sentinel key: consumed, no state, no timer, no output
    before = list(handle.registered)
    out = list(
        proc.handleInputRows(
            (-1,), iter([batch([day0 + 70 * DAY_MS], [0.0])]), FakeTimerValues(day0)
        )
    )
    assert out == [] and handle.registered == before


def test_checkpoint_pins_shuffle_partitions(spark, sf_dir, tmp_path):
    """PRODUCTION FOOTGUN, pinned as a contract: a streaming
    checkpoint bakes in the state shard count
    (spark.sql.shuffle.partitions at FIRST run). Reopening the same
    checkpoint under a different conf value does NOT re-shard —
    Spark silently keeps the checkpointed count (the conf is ignored
    for the stateful exchange), so capacity changes that assume the
    conf applied do nothing. Asserted here: phase 2 runs with the
    conf at 16, yet the state stays sharded at 4 (state-metadata
    read) AND the results remain correct.

    The escape hatch at 100 TB: offline re-shard — read every shard
    with the `statestore` batch reader, regroup to the new
    partitioning, and bootstrap a NEW checkpoint via
    transformWithStateInPandas(initialState=...) (the warm-start path
    q_stream_tws_initial_state exercises); there is no in-place
    re-shard of a live checkpoint."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from facebook_ad_library_data_pipeline_spark.streaming.events import (
        tumbling_counts,
    )
    from facebook_ad_library_data_pipeline_spark.streaming.incremental import (
        split_events_dir_ntile,
        split_stream,
    )

    scoped = spark.newSession()
    full_src = split_events_dir_ntile(scoped, sf_dir)
    files = sorted(glob.glob(f"{full_src}/slice-*.parquet"))
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    sink: dict = {}

    def run(n_partitions: str):
        scoped.conf.set("spark.sql.shuffle.partitions", n_partitions)
        stream = split_stream(scoped, str(src))
        agg = tumbling_counts(stream.withWatermark("ts", "1 hour"))

        def capture(batch_df, epoch_id):
            for r in batch_df.collect():
                sink[(r["window_start"], r["event_type"])] = (
                    r["n"],
                    r["total_value"],
                )

        q = (
            agg.writeStream.outputMode("complete")
            .foreachBatch(capture)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    half = max(1, len(files) // 2)
    for f in files[:half]:
        shutil.copy(f, src)
    run("4")  # first run PINS the state shard count at 4

    for f in files[half:]:
        shutil.copy(f, src)
    run("16")  # conf says 16 — the checkpoint must override it

    meta = scoped.read.format("state-metadata").option("path", ckpt).load()
    shards = {r["numPartitions"] for r in meta.collect()}
    assert shards == {4}, f"checkpoint re-sharded unexpectedly: {shards}"

    # and the restarted run is still CORRECT despite the ignored conf
    from facebook_ad_library_data_pipeline_spark.catalog import load_table

    want = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in tumbling_counts(load_table(scoped, sf_dir, "events")).collect()
    }
    assert sink == want


def test_stream_partitions_scoped_to_start(spark, sf_dir, tmp_path):
    """run_stream sets shuffle partitions only around writer.start(): the
    started query (which clones the session) keeps them — its first
    offset log records the ``partitions`` passed, or the session's task
    slots when none are, whatever the caller's conf says — while the
    caller's conf is the same after the drain as before it."""
    import json

    from facebook_ad_library_data_pipeline_spark.streaming.events import (
        load_events_stream,
        run_stream,
        tumbling_counts,
    )

    key = "spark.sql.shuffle.partitions"
    slots = str(spark.sparkContext.defaultParallelism)
    agg = tumbling_counts(load_events_stream(spark, sf_dir).withWatermark("ts", "1 hour"))
    prev = spark.conf.get(key)
    # (partitions passed, caller's conf, what the stream must run at)
    cases = [("3", prev, "3"), (None, "7", slots)]
    try:
        for i, (partitions, caller, want) in enumerate(cases):
            spark.conf.set(key, caller)
            before = dict(spark.conf.getAll)
            ckpt = tmp_path / f"ckpt{i}"
            writer = (
                agg.writeStream.outputMode("complete")
                .format("memory")
                .queryName("partitions_scope_out")
                .option("checkpointLocation", str(ckpt))
            )
            try:
                run_stream(writer, partitions=partitions)
                assert spark.table("partitions_scope_out").count() > 0
            finally:
                spark.catalog.dropTempView("partitions_scope_out")
            # offset log: a version line, then the batch metadata JSON
            meta = json.loads((ckpt / "offsets" / "0").read_text().splitlines()[1])
            assert meta["conf"][key] == want, (partitions, caller)
            assert dict(spark.conf.getAll) == before
    finally:
        spark.conf.set(key, prev)


def test_split_sources_deterministic_and_complete(spark, sf_dir):
    """The derived stream-source dirs underpin oracle replay; pin their
    contracts: (a) the ntile split's file i holds EXACTLY the rows
    `ntile(4) OVER (ORDER BY ts, event_id)` assigns to slice i (what
    the change-feed/time-travel oracles recompute in SQL), consumed in
    that order by (mtime, path); (b) the ts-ordered split is
    ts-CONTIGUOUS across files (no row is ever late under a 0-delay
    watermark) and its sentinel is one far-future row with user_id -1
    that sorts last on both ordering keys."""
    import glob
    import os

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from facebook_ad_library_data_pipeline_spark.catalog import load_table
    from facebook_ad_library_data_pipeline_spark.streaming.incremental import (
        N_SOURCE_FILES,
        split_events_dir_ntile,
        split_events_dir_ts_ordered,
    )

    events = load_table(spark, sf_dir, "events")

    # (a) exact-ntile membership per file
    src = split_events_dir_ntile(spark, sf_dir)
    files = sorted(glob.glob(f"{src}/slice-*.parquet"))
    assert len(files) == N_SOURCE_FILES
    mtimes = [os.path.getmtime(f) for f in files]
    assert mtimes == sorted(mtimes)  # path order == mtime order
    want = {
        i: {r["event_id"] for r in rows}
        for i, rows in (
            (i, events.withColumn(
                "s", F.ntile(N_SOURCE_FILES).over(Window.orderBy("ts", "event_id"))
            ).filter(F.col("s") == i).select("event_id").collect())
            for i in range(1, N_SOURCE_FILES + 1)
        )
    }
    for i, f in enumerate(files, start=1):
        got = {r["event_id"] for r in spark.read.parquet(f).select("event_id").collect()}
        assert got == want[i], f"slice {i} differs from ntile({N_SOURCE_FILES})"

    # (b) ts-contiguity + sentinel of the ts-ordered split
    src2 = split_events_dir_ts_ordered(spark, sf_dir)
    parts = sorted(glob.glob(f"{src2}/part-*.parquet"))
    prev_max = None
    for f in parts:
        mn, mx = spark.read.parquet(f).agg(F.min("ts"), F.max("ts")).collect()[0]
        if prev_max is not None:
            assert mn >= prev_max, "ts ranges overlap across arrival order"
        prev_max = mx
    sent = spark.read.parquet(f"{src2}/zz-sentinel.parquet").collect()
    assert len(sent) == 1 and sent[0]["user_id"] == -1
    assert sent[0]["ts"] > prev_max  # advances the watermark past all data
    assert os.path.getmtime(f"{src2}/zz-sentinel.parquet") > max(
        os.path.getmtime(p) for p in parts
    )


def test_split_layouts_have_the_declared_events_schema(spark, sf_dir):
    """split_stream declares SCHEMAS["events"] instead of reading a
    footer, so every file of both split layouts (the ts-ordered
    sentinel included) must carry exactly those names and types."""
    import glob

    from facebook_ad_library_data_pipeline_spark.catalog import SCHEMAS
    from facebook_ad_library_data_pipeline_spark.streaming.incremental import (
        split_events_dir_ntile,
        split_events_dir_ts_ordered,
    )

    want = [(f.name, f.dataType) for f in SCHEMAS["events"].fields]
    for build in (split_events_dir_ntile, split_events_dir_ts_ordered):
        files = sorted(glob.glob(f"{build(spark, sf_dir)}/*.parquet"))
        assert files, build.__name__
        for f in files:
            got = [(c.name, c.dataType) for c in spark.read.parquet(f).schema.fields]
            assert got == want, f


def test_split_stream_launches_no_job(spark, sf_dir):
    """Building the split reader runs no Spark job on any split layout
    or slice glob: the schema is declared, not probed."""
    from facebook_ad_library_data_pipeline_spark.catalog import SCHEMAS
    from facebook_ad_library_data_pipeline_spark.streaming.incremental import (
        split_events_dir_ntile,
        split_events_dir_ts_ordered,
        split_stream,
    )

    ntile = split_events_dir_ntile(spark, sf_dir)
    paths = [ntile, f"{ntile}/slice-0[34].parquet", split_events_dir_ts_ordered(spark, sf_dir)]
    sc = spark.sparkContext
    group = "test_streaming.split_stream"
    sc.setJobGroup(group, "split_stream under test")
    try:
        streams = [split_stream(spark, path) for path in paths]
    finally:
        sc._jsc.clearJobGroup()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    for stream in streams:
        assert stream.isStreaming and stream.schema == SCHEMAS["events"]


def test_split_reader_rule_lives_in_split_stream():
    """The one-file-per-batch rule and the declared split schema stay in
    one place: no package module sets maxFilesPerTrigger or probes a
    parquet footer for a schema outside incremental.split_stream."""
    import inspect
    import re
    from pathlib import Path

    import facebook_ad_library_data_pipeline_spark as pkg
    from facebook_ad_library_data_pipeline_spark.streaming import incremental

    root = Path(pkg.__file__).parent
    lines, start = inspect.getsourcelines(incremental.split_stream)
    allowed = range(start, start + len(lines))
    rule = re.compile(r"maxFilesPerTrigger|read\.parquet\([^)]*\)\.schema")
    hits = [
        f"{path.relative_to(root)}:{n}: {line.strip()}"
        for path in sorted(root.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), start=1)
        if rule.search(line)
        and not (path == Path(incremental.__file__) and n in allowed)
    ]
    assert hits == [], hits


def test_stream_lifecycle_lives_in_run_stream():
    """Every bounded stream starts, drains and stops in one function: no
    package module calls processAllAvailable, awaitTermination, a
    sleep, conf_scope or a stream writer's start() outside
    events.run_stream. Its partition rule lives there too: no string
    outside it and session.get_spark names spark.sql.shuffle.partitions,
    and only the four checkpoint builders whose output names a shard
    count pass ``partitions=`` (through run_stream_to_memory, which
    forwards it)."""
    import ast
    import inspect
    from pathlib import Path

    import facebook_ad_library_data_pipeline_spark as pkg
    from facebook_ad_library_data_pipeline_spark import session
    from facebook_ad_library_data_pipeline_spark.streaming import events, state_reader

    def lines_of(*fns):
        out = set()
        for fn in fns:
            lines, start = inspect.getsourcelines(fn)
            path = Path(inspect.getsourcefile(fn))
            out.update((path, n) for n in range(start, start + len(lines)))
        return out

    runner = lines_of(events.run_stream)
    conf_key = runner | lines_of(session.get_spark)
    pinned = lines_of(
        events.run_stream_to_memory,
        state_reader.tumbling_checkpoint,
        state_reader.tws_checkpoint,
        state_reader._reshard,
        state_reader.snapshot_checkpoint,
    )
    banned = {"processAllAvailable", "awaitTermination", "sleep", "conf_scope", "start"}
    root = Path(pkg.__file__).parent
    hits = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        docstrings = {id(n.value) for n in ast.walk(tree) if isinstance(n, ast.Expr)}
        for node in ast.walk(tree):
            at = (path, getattr(node, "lineno", 0))
            where = f"{path.relative_to(root)}:{at[1]}"
            if isinstance(node, ast.Call):
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                if name in banned and at not in runner:
                    hits.append(f"{where}: {name}")
                if any(k.arg == "partitions" for k in node.keywords) and at not in pinned:
                    hits.append(f"{where}: partitions=")
            elif (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and "spark.sql.shuffle.partitions" in node.value
                and id(node) not in docstrings
                and at not in conf_key
            ):
                hits.append(f"{where}: spark.sql.shuffle.partitions")
    assert hits == [], hits


def test_group_timeout_fold_protocol():
    """_timeout_finalize via a fake GroupState: the data path folds and
    slides the event-time deadline without emitting; the hasTimedOut
    path emits the complete totals exactly once and removes the state;
    the sentinel key folds but never arms a deadline."""
    import numpy as np
    import pandas as pd

    from facebook_ad_library_data_pipeline_spark.streaming.stateful import (
        TIMEOUT_GAP_MS,
        _timeout_finalize,
    )

    class FakeGroupState:
        def __init__(self):
            self._v = None
            self.hasTimedOut = False
            self.deadlines = []
            self.removed = False

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)

        def remove(self):
            self._v = None
            self.removed = True

        def setTimeoutTimestamp(self, ms):
            self.deadlines.append(ms)

    rng = np.random.default_rng(11)
    t0 = 1_704_067_200_000
    def batch(n, base_ms):
        return pd.DataFrame(
            {
                "ts": pd.to_datetime(
                    pd.Series(base_ms + np.arange(n) * 1000), unit="ms"
                ),
                "value": rng.uniform(0, 40, n).round(3),
            }
        )

    st = FakeGroupState()
    b1, b2 = batch(6, t0), batch(4, t0 + 3_600_000)
    assert list(_timeout_finalize((9,), iter([b1]), st)) == []
    assert list(_timeout_finalize((9,), iter([b2]), st)) == []
    # deadline slid to each batch's max ts + gap
    assert st.deadlines == [
        t0 + 5_000 + TIMEOUT_GAP_MS,
        t0 + 3_600_000 + 3_000 + TIMEOUT_GAP_MS,
    ]
    st.hasTimedOut = True
    # .copy() is defensive snapshotting of a frame held across later
    # emits — load-bearing only for _RowEmitter-templated processors
    # (the tws API family), harmless here
    fired = pd.concat(list(_timeout_finalize((9,), iter([]), st))).copy()
    both = pd.concat([b1, b2])
    cents = int(np.floor(both["value"].to_numpy() * 100 + 0.5).sum())
    assert fired.iloc[0]["n_events"] == 10
    assert fired.iloc[0]["session_cents"] == cents
    # session_id = the session's last event-time ms (replay dedup key)
    assert fired.iloc[0]["session_id"] == t0 + 3_600_000 + 3_000
    assert st.removed and not st.exists

    # a key ABSENT from one batch whose deadline fired early simply
    # opens a SECOND session — the two sessions partition its events,
    # so summed totals stay exact (the invariant the live oracle pins)
    st.hasTimedOut = False
    st.removed = False
    b3 = batch(3, t0 + 7_200_000)
    assert list(_timeout_finalize((9,), iter([b3]), st)) == []
    st.hasTimedOut = True
    fired2 = pd.concat(list(_timeout_finalize((9,), iter([]), st))).copy()
    assert fired2.iloc[0]["n_events"] == 3
    assert (
        fired.iloc[0]["session_cents"] + fired2.iloc[0]["session_cents"]
        == int(np.floor(pd.concat([both, b3])["value"].to_numpy() * 100 + 0.5).sum())
    )
    assert fired2.iloc[0]["session_id"] != fired.iloc[0]["session_id"]

    # sentinel key: folds (watermark bookkeeping is engine-side) but
    # never arms a deadline, so it can never emit
    s2 = FakeGroupState()
    assert list(_timeout_finalize((-1,), iter([batch(1, t0)]), s2)) == []
    assert s2.deadlines == []


def test_list_timer_processor_protocol():
    """ListTimerProcessor (the list/timer introspection checkpoint's
    operator) replayed through a fake typed-state handle: one ListState
    element per micro-batch carrying that batch's integer-cent fold,
    the running n in a ValueState, and a timer re-registered at the
    SAME constant far-future deadline every batch — so the element
    multiset equals the per-batch cents and the timer registrations
    collapse to one (key, expiry) pair, the two facts the statestore
    readers' oracles hash-pin."""
    import numpy as np
    import pandas as pd

    from facebook_ad_library_data_pipeline_spark.streaming.state_reader import (
        FAR_TIMER_MS,
        ListTimerProcessor,
    )

    class FakeValueState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)

    class FakeListState:
        def __init__(self):
            self.items = []

        def appendValue(self, v):
            self.items.append(tuple(v))

    registered = []

    class FakeHandle:
        def __init__(self):
            self.hist = FakeListState()
            self.n = FakeValueState()

        def getListState(self, name, schema):
            assert name == "history"
            return self.hist

        def getValueState(self, name, schema):
            assert name == "n"
            return self.n

        def registerTimer(self, ms):
            registered.append(ms)

    rng = np.random.default_rng(23)
    pdf = pd.DataFrame({"user_id": 3, "value": rng.uniform(0, 90, 30).round(3)})
    batches = [pdf.iloc[:7], pdf.iloc[7:19], pdf.iloc[19:]]

    proc = ListTimerProcessor()
    handle = FakeHandle()
    proc.init(handle)
    out = None
    for b in batches:
        out = pd.concat(list(proc.handleInputRows((3,), iter([b]), None)))

    per_batch_cents = [
        int(np.floor(b["value"].to_numpy() * 100 + 0.5).sum()) for b in batches
    ]
    assert handle.hist.items == [(c,) for c in per_batch_cents]
    assert out["n"].iloc[-1] == 30
    # constant deadline on every batch: idempotent under the store's
    # (key, expiry) set semantics — the one-row-per-user timer oracle
    assert registered == [FAR_TIMER_MS] * 3
    # a timer fire (can't happen in-run: deadline is 2100) must emit
    # nothing and touch no state
    assert list(proc.handleExpiredTimer((3,), None, None)) == []
    assert handle.hist.items == [(c,) for c in per_batch_cents]


def test_snapshot_checkpoint_two_phase_artifacts(spark, sf_dir):
    """The two-phase snapshot checkpoint's contract: every shard holds
    BOTH artifact kinds at the right versions — a full snapshot at the
    phase-1 boundary (2.zip: guaranteed by the hold-open await, and
    the exact version q_state_snapshot_shard's snapshotStartBatchId=1
    loads) and changelogs through the final batch (the roll-forward
    path). Also pins that a single-partition snapshot read is
    genuinely PARTIAL (fewer rows than the full store) while the
    4-shard union is complete."""
    from pathlib import Path

    from facebook_ad_library_data_pipeline_spark.streaming.state_reader import (
        snapshot_checkpoint,
    )

    ckpt = snapshot_checkpoint(spark, sf_dir)
    shards = sorted((Path(ckpt) / "state" / "0").glob("[0-9]*"))
    assert len(shards) == 4
    for shard in shards:
        names = {p.name for p in shard.iterdir()}
        assert "2.zip" in names, f"{shard}: phase-1 snapshot missing"
        for v in range(1, 5):
            assert f"{v}.changelog" in names, f"{shard}: changelog {v} missing"

    full = spark.read.format("statestore").option("path", ckpt).load().count()
    shard0 = (
        spark.read.format("statestore")
        .option("path", ckpt)
        .option("snapshotStartBatchId", 1)
        .option("snapshotPartitionId", 0)
        .load()
        .count()
    )
    assert 0 < shard0 < full


def test_foreachbatch_replay_idempotent(spark, tmp_path):
    """The replay half of foreachBatch's exactly-once recipe (r10
    verdict item 1 stretch): the batch function crashes AFTER writing
    batch 1's output but BEFORE the commit log records it — exactly
    the window a real sink failure hits. On restart from the same
    checkpoint Spark REPLAYS batch 1 (same batch id, same offsets
    from the WAL), so an overwrite-by-batch-id layout absorbs the
    duplicate delivery and the final table equals the source exactly.
    An append-mode function here would double batch 1's rows — the
    distinct/count assertions would catch it."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.errors.exceptions.captured import StreamingQueryException

    src = tmp_path / "src"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    out.mkdir()
    for i in range(3):
        pq.write_table(
            pa.table({"id": list(range(i * 100, (i + 1) * 100))}),
            src / f"f{i}.parquet",
        )
    crashed = tmp_path / "crashed_once"

    def write_batch(batch_df, batch_id: int) -> None:
        # deterministic per-batch path + overwrite = idempotent under
        # replay: the second delivery of batch 1 REPLACES the first
        batch_df.write.mode("overwrite").parquet(str(out / f"batch={batch_id}"))
        if batch_id == 1 and not crashed.exists():
            crashed.write_text("crashed after sink write, before commit")
            raise RuntimeError("injected post-write pre-commit crash")

    def start():
        return (
            spark.readStream.schema("id bigint")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src))
            .writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", str(ckpt))
            .start()
        )

    q = start()
    try:
        try:
            q.processAllAvailable()
            exc = q.exception()
        except StreamingQueryException as e:
            exc = e
    finally:
        q.stop()
    assert exc is not None and "injected post-write pre-commit crash" in str(exc)
    assert crashed.exists()

    # restart: batch 1 replays from the WAL'd offsets, then 2 runs
    q = start()
    try:
        q.processAllAvailable()
        assert q.exception() is None
    finally:
        q.stop()

    back = spark.read.parquet(str(out / "batch=*"))
    assert back.count() == 300
    assert back.select("id").distinct().count() == 300
    assert back.agg({"id": "sum"}).collect()[0][0] == sum(range(300))


def test_statestore_list_read_unflattened_variant(spark, sf_dir):
    """The one statestore-reader knob not otherwise exercised:
    `flattenCollectionTypes=false` returns each ListState variable as
    ONE row per key holding the whole element array (`list_value`)
    instead of the default element-per-row flattening that
    q_state_list_read hash-pins. The two projections must be the same
    multiset — exploding the arrays reproduces the flattened read
    exactly, and per-key array lengths equal the key's flattened row
    count."""
    from pyspark.sql import functions as F

    from facebook_ad_library_data_pipeline_spark.streaming.state_reader import (
        list_timer_checkpoint,
    )

    ckpt = list_timer_checkpoint(spark, sf_dir)
    flat = (
        spark.read.format("statestore")
        .option("path", ckpt)
        .option("stateVarName", "history")
        .load()
        .select(
            F.col("key.user_id").alias("user_id"),
            F.col("list_element.cents").alias("cents"),
        )
    )
    nested = (
        spark.read.format("statestore")
        .option("path", ckpt)
        .option("stateVarName", "history")
        .option("flattenCollectionTypes", "false")
        .load()
    )
    assert "list_value" in nested.columns
    one_row_per_key = nested.select(
        F.col("key.user_id").alias("user_id"),
        F.col("list_value.cents").alias("cents_arr"),
    )
    # exactly one array row per key
    assert (
        one_row_per_key.groupBy("user_id").count().filter("count > 1").count() == 0
    )
    exploded = one_row_per_key.select(
        "user_id", F.explode("cents_arr").alias("cents")
    )
    assert exploded.count() == flat.count()
    assert (
        exploded.exceptAll(flat).count() == 0
        and flat.exceptAll(exploded).count() == 0
    )


def test_reload_writer_modes_control(spark, tmp_path):
    """The WHY of q_stream_idempotent_reload's dynamic mode, as a
    three-way control on a replayed batch: append DOUBLES the batch's
    rows, static overwrite WIPES every other batch, dynamic overwrite
    is the only mode that makes replay a no-op while preserving the
    rest of the table."""
    from pyspark.sql import functions as F

    from facebook_ad_library_data_pipeline_spark.streaming.incremental import (
        _reload_projection,
        _write_reload_batch,
    )

    events = spark.createDataFrame(
        [(i, f"2024-01-0{1 + i % 2} 00:00:0{i}", float(i)) for i in range(8)],
        "event_id long, ts_s string, value double",
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"), "value")
    b0, b1 = events.filter("event_id < 4"), events.filter("event_id >= 4")

    sink = str(tmp_path / "dyn")
    _write_reload_batch(b0, 0, sink)
    _write_reload_batch(b1, 1, sink)
    # materialize the pre-replay content: the replay REPLACES batch 1's
    # files, so a lazy plan over the old file list would FAILED_READ_FILE
    base_rows = sorted(map(tuple, spark.read.parquet(sink).collect()))
    assert len(base_rows) == 8
    # replay batch 1 through the writer under test: exact no-op
    _write_reload_batch(b1, 1, sink)
    after_rows = sorted(map(tuple, spark.read.parquet(sink).collect()))
    assert after_rows == base_rows

    # control 1: append mode doubles the replayed batch
    sink_a = str(tmp_path / "app")
    proj0, proj1 = _reload_projection(b0, 0), _reload_projection(b1, 1)
    for df in (proj0, proj1, proj1):
        df.write.partitionBy("day", "batch_id").mode("append").parquet(sink_a)
    assert spark.read.parquet(sink_a).count() == 12

    # control 2: static overwrite wipes the other batch entirely
    sink_s = str(tmp_path / "stat")
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode").lower() == "static"
    proj0.write.partitionBy("day", "batch_id").mode("overwrite").parquet(sink_s)
    proj1.write.partitionBy("day", "batch_id").mode("overwrite").parquet(sink_s)
    assert spark.read.parquet(sink_s).filter("batch_id = 0").count() == 0


def test_tws_reservoir_processor_bounded_and_split_invariant():
    """BoundedReservoirProcessor through a fake typed-state handle:
    (1) the ListState NEVER holds more than K rows at any point in the
    run — the bounded-state contract that makes the operator viable at
    100 TB/day, asserted on every put(); (2) one batch vs three batches
    vs a SHUFFLED row order all produce the identical final snapshot
    (bottom-k is a pure function of the event SET); (3) the snapshot
    equals the plainly-computed bottom-K with the md5 digest
    recomputed independently."""
    import hashlib

    import numpy as np
    import pandas as pd

    from facebook_ad_library_data_pipeline_spark.operators.splits import (
        _FOLD_KNUTH,
        _FOLD_MOD32,
        _MOD31,
    )
    from facebook_ad_library_data_pipeline_spark.streaming.stateful import (
        _SRES_SALT,
        STREAM_RESERVOIR_K,
        BoundedReservoirProcessor,
    )

    class FakeValueState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)

    class FakeListState:
        def __init__(self):
            self._rows = []
            self.max_len = 0

        def get(self):
            return iter(list(self._rows))

        def put(self, rows):
            self._rows = [tuple(r) for r in rows]
            self.max_len = max(self.max_len, len(self._rows))

    class FakeHandle:
        def __init__(self):
            self.lists = []

        def getValueState(self, name, schema, ttlDurationMs=None):
            return FakeValueState()

        def getListState(self, name, schema, ttlDurationMs=None):
            ls = FakeListState()
            self.lists.append(ls)
            return ls

    n_rows = 40
    ids = np.arange(1000, 1000 + n_rows, dtype=np.int64)
    vals = (ids % 37) * 0.73
    cents = np.floor(vals * 100 + 0.5).astype(np.int64)
    hv = ((ids + _SRES_SALT) % _MOD31) * _FOLD_KNUTH % _FOLD_MOD32

    def pdf_of(idx):
        return pd.DataFrame(
            {"user_id": 9, "event_id": ids[idx], "cents": cents[idx], "hv": hv[idx]}
        )

    def run(batches):
        proc = BoundedReservoirProcessor()
        handle = FakeHandle()
        proc.init(handle)
        out = None
        for b in batches:
            out = pd.concat(list(proc.handleInputRows((9,), iter([b]), None)))
        (ls,) = handle.lists
        return out.iloc[-1], ls.max_len

    order = np.arange(n_rows)
    whole, len_whole = run([pdf_of(order)])
    split, len_split = run([pdf_of(order[:13]), pdf_of(order[13:29]), pdf_of(order[29:])])
    rng = np.random.default_rng(3)
    shuf = rng.permutation(order)
    shuffled, len_shuf = run([pdf_of(shuf[:20]), pdf_of(shuf[20:])])
    assert whole.equals(split) and whole.equals(shuffled)
    # the bounded-state contract: the list NEVER exceeded K
    assert max(len_whole, len_split, len_shuf) == STREAM_RESERVOIR_K
    # plain bottom-K recomputation
    rows = sorted(zip(hv.tolist(), ids.tolist(), cents.tolist()))
    bottom = rows[:STREAM_RESERVOIR_K]
    assert whole["n_events"] == n_rows
    assert whole["res_k"] == STREAM_RESERVOIR_K
    assert whole["res_sum_cents"] == sum(c for _, _e, c in bottom)
    assert whole["res_threshold_hv"] == bottom[-1][0]
    want = hashlib.md5(
        ",".join(str(e) for _, e, _c in bottom).encode()
    ).hexdigest()
    assert whole["res_digest"] == want
    # all-empty input on an empty key (the future initial-state/timer
    # shape): no emit, no IndexError, no state row
    proc = BoundedReservoirProcessor()
    handle = FakeHandle()
    proc.init(handle)
    empty = pdf_of(order[:0])
    assert list(proc.handleInputRows((9,), iter([empty]), None)) == []
    assert handle.lists[0].max_len == 0


def test_row_emitter_write_before_mutate():
    """Pins the _RowEmitter safety contract: the Arrow conversion of a
    yielded template frame is zero-copy for numeric columns, so an
    already-SERIALIZED batch must be immune to the next key's in-place
    mutation — which holds exactly because the runtime writes each
    batch to the stream before pulling the next emit (the dump_stream
    create→write→pull order). This test replays that order: convert +
    serialize key A's emit, mutate for key B, and assert the bytes
    already written for A still decode to A's values (while an
    UN-serialized batch would alias — demonstrating why the write-
    before-pull order is load-bearing)."""
    import io

    import pyarrow as pa

    from facebook_ad_library_data_pipeline_spark.streaming.stateful import (
        _RowEmitter,
    )

    em = _RowEmitter(user_id="int64", n="int64", v="float64", tag="object")
    # key A: emit -> convert -> WRITE (the runtime's order)
    a = em.emit(user_id=1, n=10, v=1.5, tag="a")
    batch_a = pa.RecordBatch.from_pandas(a, preserve_index=False)
    sink = io.BytesIO()
    with pa.ipc.new_stream(sink, batch_a.schema) as w:
        w.write_batch(batch_a)
    # key B mutates the SAME template afterwards
    b = em.emit(user_id=2, n=20, v=2.5, tag="b")
    assert b is a  # one template object, by design
    # the serialized bytes for A are immutable history
    back = pa.ipc.open_stream(sink.getvalue()).read_all().to_pydict()
    assert back["user_id"] == [1] and back["n"] == [10]
    assert back["v"] == [1.5] and back["tag"] == ["a"]
    # and the IN-MEMORY batch for A does alias the template buffers
    # (zero-copy int columns) — the reason the write must come first
    assert batch_a.to_pydict()["user_id"] == [2]


def test_row_emitter_dtypes_roundtrip():
    """Template columns keep their declared dtypes across emits (an
    int written into the float buffer stays float64, bools stay bool,
    None round-trips through object columns) — the properties the
    runtime's arrow_cast relies on when matching the declared output
    schema."""
    from facebook_ad_library_data_pipeline_spark.streaming.stateful import (
        _RowEmitter,
    )

    em = _RowEmitter(a="int64", b="float64", c="bool", d="object")
    df = em.emit(a=7, b=3, c=True, d=None)
    assert [str(t) for t in df.dtypes] == ["int64", "float64", "bool", "object"]
    assert df["b"].iloc[0] == 3.0 and df["d"].iloc[0] is None
    df2 = em.emit(a=8, b=4.5, c=False, d="x")
    assert df2["a"].iloc[0] == 8 and df2["d"].iloc[0] == "x"
