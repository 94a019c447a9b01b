"""Custom Python DataSource contracts beyond the oracle sweep: the
sink's commit protocol must exclude orphan files, and the streaming
reader's replay contract must reproduce any offset range."""

from __future__ import annotations

import json
import os
from pathlib import Path

from facebook_ad_library_data_pipeline_spark.sources.pysource import (
    SYNTH_ROWS_PER_SHARD,
    SYNTH_SHARDS,
    SyntheticEventsStreamReader,
    register_synth_source,
)


def test_sink_manifest_excludes_orphans(spark, tmp_path):
    from facebook_ad_library_data_pipeline_spark.sources.pysource import (
        register_synth_sink,
    )

    register_synth_source(spark)
    register_synth_sink(spark)
    out = tmp_path / "rows"
    df = (
        spark.read.format("synth_events")
        .option("shards", 2)
        .option("rows_per_shard", 100)
        .load()
    )
    df.write.format("synth_jsonl_sink").option("path", str(out)).mode("append").save()
    # simulate a failed task's leftover: an orphan file the commit never saw
    orphan = out / "part-deadbeef.jsonl"
    orphan.write_text('{"row_id": 999999, "shard": 9, "value": 0}\n')
    manifest = json.loads((out / "_MANIFEST").read_text())
    assert str(orphan) not in manifest["files"]
    assert manifest["n_rows"] == 200
    # reading ONLY manifest files sees exactly the committed rows
    back = spark.read.schema("row_id bigint, shard int, value bigint").json(
        manifest["files"]
    )
    assert back.count() == 200
    assert back.filter("shard = 9").count() == 0


def test_stream_reader_replay_matches_prefetch():
    r = SyntheticEventsStreamReader()
    start = r.initialOffset()
    it, end = r.read(start)
    prefetched = list(it)
    assert end["offset"] > start["offset"]
    replayed = list(r.readBetweenOffsets(start, end))
    assert replayed == prefetched  # exact-replay recovery contract
    # full drain covers every global row id exactly once
    seen = len(prefetched)
    off = end
    while off["offset"] < SYNTH_SHARDS * SYNTH_ROWS_PER_SHARD:
        it, off2 = r.read(off)
        seen += len(list(it))
        assert off2["offset"] > off["offset"]
        off = off2
    assert seen == SYNTH_SHARDS * SYNTH_ROWS_PER_SHARD
    # drained source returns an empty batch with an unmoved offset
    it, off3 = r.read(off)
    assert list(it) == [] and off3 == off


def test_python_stream_source_checkpoint_resume(spark, tmp_path):
    """Real recovery: one micro-batch committed under a checkpoint,
    then a RESTART from that checkpoint drains the rest — the resumed
    query must start from the committed offset (initialOffset is only
    read on first start) and the union of epochs must cover every
    global row id exactly once: nothing lost, nothing duplicated."""
    from facebook_ad_library_data_pipeline_spark.sources.pysource import (
        STREAM_BATCH_ROWS,
        STREAM_TOTAL_ROWS,
        register_synth_stream_source,
    )

    register_synth_stream_source(spark)
    sink = tmp_path / "rows"
    ckpt = str(tmp_path / "ckpt")

    def write_epoch(df, epoch_id):
        df.write.mode("overwrite").parquet(f"{sink}/epoch={epoch_id}")

    stream = spark.readStream.format("synth_events_stream").load()
    # phase 1: exactly ONE micro-batch, then stop
    q = (
        stream.writeStream.foreachBatch(write_epoch)
        .option("checkpointLocation", ckpt)
        .trigger(once=True)
        .start()
    )
    q.awaitTermination()
    assert spark.read.parquet(str(sink)).count() == STREAM_BATCH_ROWS
    # phase 2: restart from the SAME checkpoint, drain the remainder
    q = (
        stream.writeStream.foreachBatch(write_epoch)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    back = spark.read.parquet(str(sink))
    assert back.count() == STREAM_TOTAL_ROWS
    assert back.select("row_id").distinct().count() == STREAM_TOTAL_ROWS


def test_partitioned_stream_reader_plans_shard_cuts():
    """partitions(start, end) must split the admitted row-id range on
    shard boundaries (one shard per InputPartition, no gaps/overlaps)
    and the offset cursor must drain the bounded row space in
    STREAM_BATCH_ROWS steps — driver does bookkeeping only; every row
    is produced in read(partition) on executors."""
    from facebook_ad_library_data_pipeline_spark.sources.pysource import (
        STREAM_BATCH_ROWS,
        STREAM_TOTAL_ROWS,
        SyntheticEventsPartitionedStreamReader,
    )

    r = SyntheticEventsPartitionedStreamReader()
    assert r.initialOffset() == {"offset": 0}
    # The admission floor advances via commit() (mirroring the engine's
    # latestOffset → plan → commit loop) in batch-sized steps and
    # clamps at the end; repeated latestOffset probes within one
    # trigger are idempotent — the r07-advice fix for the mutating
    # cursor that silently admitted a never-planned batch.
    seen = [0]
    while seen[-1] < STREAM_TOTAL_ROWS:
        head = r.latestOffset()["offset"]
        assert r.latestOffset()["offset"] == head
        r.commit({"offset": head})
        seen.append(head)
    assert seen[1] - seen[0] == STREAM_BATCH_ROWS
    assert seen[-1] == STREAM_TOTAL_ROWS

    # A range spanning 2.5 shards cuts into exactly 3 single-shard parts.
    parts = r.partitions(
        {"offset": SYNTH_ROWS_PER_SHARD // 2}, {"offset": SYNTH_ROWS_PER_SHARD * 3}
    )
    spans = [(p.start, p.end) for p in parts]
    assert spans == [
        (SYNTH_ROWS_PER_SHARD // 2, SYNTH_ROWS_PER_SHARD),
        (SYNTH_ROWS_PER_SHARD, SYNTH_ROWS_PER_SHARD * 2),
        (SYNTH_ROWS_PER_SHARD * 2, SYNTH_ROWS_PER_SHARD * 3),
    ]
    # No gaps/overlaps, each confined to one shard.
    for (s, e) in spans:
        assert (e - 1) // SYNTH_ROWS_PER_SHARD == s // SYNTH_ROWS_PER_SHARD

    # read() is a pure function of the partition — executor-safe — and
    # reproduces the LCG closed form.
    batch = next(iter(r.read(parts[0])))
    import numpy as np

    rid = batch.column("row_id").to_numpy()
    val = batch.column("value").to_numpy()
    assert rid[0] == SYNTH_ROWS_PER_SHARD // 2 and len(rid) == SYNTH_ROWS_PER_SHARD // 2
    assert (val == (1103515245 * rid + 12345) % 2147483648).all()

    # Empty admit range still yields one (empty) partition.
    empty = r.partitions({"offset": 5}, {"offset": 5})
    assert len(empty) == 1 and empty[0].start == empty[0].end


def test_partitioned_stream_source_checkpoint_resume(spark, tmp_path):
    """The partitioned reader must survive a checkpoint restart without
    losing or duplicating rows: phase 1 processes one micro-batch and
    stops; phase 2 restarts from the same checkpoint and drains the
    rest. The offset cursor restarting at 0 is fine — ranges already
    committed re-plan as empty partitions until the cursor passes the
    checkpointed offset (closed-form rows make any replay idempotent
    anyway, but the row count proves nothing duplicates)."""
    from facebook_ad_library_data_pipeline_spark.sources.pysource import (
        STREAM_BATCH_ROWS,
        STREAM_TOTAL_ROWS,
        register_synth_stream_source,
    )

    register_synth_stream_source(spark)
    sink = tmp_path / "rows_part"
    ckpt = str(tmp_path / "ckpt_part")

    def write_epoch(df, epoch_id):
        df.write.mode("overwrite").parquet(f"{sink}/epoch={epoch_id}")

    stream = spark.readStream.format("synth_events_stream_part").load()
    q = (
        stream.writeStream.foreachBatch(write_epoch)
        .option("checkpointLocation", ckpt)
        .trigger(once=True)
        .start()
    )
    q.awaitTermination()
    assert spark.read.parquet(str(sink)).count() == STREAM_BATCH_ROWS

    q = (
        stream.writeStream.foreachBatch(write_epoch)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    back = spark.read.parquet(str(sink))
    assert back.count() == STREAM_TOTAL_ROWS
    assert back.select("row_id").distinct().count() == STREAM_TOTAL_ROWS


# --------------------------- the commit protocol's FAILURE half (r10
# verdict item 1: the exactly-once claim previously rested on the
# happy path — commit-manifest read-back — alone)


def test_sink_abort_removes_committed_files(spark, tmp_path):
    """Job failure → abort(): one task raises on its only attempt
    (fail-fast local[N] master, no retries), the sibling task has
    already written its file and returned a commit message — the
    driver must call DataSourceWriter.abort with the collected
    messages, the committed file must be DELETED, and no _MANIFEST
    may be published. A sink whose abort is a no-op leaves readers a
    half-written output that looks committed at the file level."""
    import pytest

    from facebook_ad_library_data_pipeline_spark.sources.pysource import (
        SyntheticJsonlSink,
        SyntheticJsonlWriter,
    )

    done_marker = tmp_path / "sibling_write_done"

    class AbortProbeWriter(SyntheticJsonlWriter):
        def write(self, iterator):
            import os as _os
            import time

            rows = list(iterator)
            if rows and any(r.shard == 0 for r in rows):
                # handshake on write COMPLETION (not file creation —
                # the base writer opens its output first thing, so a
                # glob would match before a single row is written):
                # the sibling drops the marker only after super().write
                # returned with its commit message constructed. A short
                # grace then covers the task-completion round-trip to
                # the driver, so abort() demonstrably receives (and
                # must clean) the sibling's commit message. Raise
                # BEFORE writing so this task itself leaves no orphan.
                deadline = time.monotonic() + 60
                while (
                    not _os.path.exists(str(done_marker))
                    and time.monotonic() < deadline
                ):
                    time.sleep(0.05)
                time.sleep(2.0)
                raise RuntimeError("injected permanent task failure")
            msg = super().write(iter(rows))
            with open(str(done_marker), "w") as f:
                f.write("sibling file fully written, commit message built")
            return msg

    class AbortProbeSink(SyntheticJsonlSink):
        @classmethod
        def name(cls) -> str:
            return "abort_probe_jsonl_sink"

        def writer(self, schema, overwrite):
            return AbortProbeWriter(self.options["path"])

    register_synth_source(spark)
    spark.dataSource.register(AbortProbeSink)
    out = tmp_path / "rows"
    df = (
        spark.read.format("synth_events")
        .option("shards", 2)
        .option("rows_per_shard", 50)
        .load()
    )
    with pytest.raises(Exception, match="injected permanent task failure"):
        df.write.format("abort_probe_jsonl_sink").option("path", str(out)).mode(
            "append"
        ).save()
    assert not (out / "_MANIFEST").exists(), "commit ran despite job failure"
    assert list(out.glob("*.jsonl")) == [], (
        "abort() left a committed task's file on disk"
    )


_RETRY_PROBE_SCRIPT = '''
"""Subprocess probe: first-attempt task failure + successful RETRY
through the Python datasink (master local[4,2] via
SPARK_GRAFT_TASK_RETRIES). The failed attempt writes a PARTIAL file
before raising (the crash-mid-write reality); the retry writes a
fresh uniquely-named file. Exactly-once contract under test: the
manifest references only committed attempts' files, and the
manifest-scoped read-back reproduces the LCG closed form exactly."""
import json
import os
import sys

sys.path.insert(0, "/root/repo")

from facebook_ad_library_data_pipeline_spark.session import get_spark
from facebook_ad_library_data_pipeline_spark.sources.pysource import (
    SYNTH_A,
    SYNTH_C,
    SYNTH_M,
    SyntheticJsonlSink,
    SyntheticJsonlWriter,
    register_synth_source,
)

BASE = sys.argv[1]
MARKER = os.path.join(BASE, "first_attempt_marker")
ORPHAN = os.path.join(BASE, "rows", "part-failed-attempt.jsonl")


class FailOnceWriter(SyntheticJsonlWriter):
    def write(self, iterator):
        import json as _json
        import os as _os

        rows = list(iterator)
        if rows and any(r.shard == 0 for r in rows) and not _os.path.exists(MARKER):
            _os.makedirs(self.path, exist_ok=True)
            with open(ORPHAN, "w") as f:
                for row in rows[: len(rows) // 2]:
                    f.write(_json.dumps(row.asDict()) + "\\n")
            with open(MARKER, "w") as f:
                f.write("first attempt failed here")
            raise RuntimeError("injected first-attempt failure")
        return super().write(iter(rows))


class FailOnceSink(SyntheticJsonlSink):
    @classmethod
    def name(cls):
        return "fail_once_jsonl_sink"

    def writer(self, schema, overwrite):
        return FailOnceWriter(self.options["path"])


spark = get_spark("retry_probe")
assert ",2]" in spark.sparkContext.master, spark.sparkContext.master
register_synth_source(spark)
spark.dataSource.register(FailOnceSink)

out = os.path.join(BASE, "rows")
shards, rows_per_shard = 2, 100
df = (
    spark.read.format("synth_events")
    .option("shards", shards)
    .option("rows_per_shard", rows_per_shard)
    .load()
)
df.write.format("fail_once_jsonl_sink").option("path", out).mode("append").save()

manifest = json.loads(open(os.path.join(out, "_MANIFEST")).read())
back = spark.read.schema("row_id bigint, shard int, value bigint").json(
    manifest["files"]
)
total = shards * rows_per_shard
expect_sum = sum((SYNTH_A * rid + SYNTH_C) % SYNTH_M for rid in range(total))
row = back.selectExpr(
    "count(*) AS n", "count(DISTINCT row_id) AS nd", "sum(value) AS s"
).collect()[0]
verdict = {
    "retry_happened": os.path.exists(MARKER),
    "orphan_on_disk": os.path.exists(ORPHAN),
    "orphan_in_manifest": ORPHAN in manifest["files"],
    "manifest_n_rows": manifest["n_rows"],
    "n_rows_read": row["n"],
    "n_distinct_row_ids": row["nd"],
    "lcg_sum_ok": row["s"] == expect_sum,
}
with open(os.path.join(BASE, "verdict.json"), "w") as f:
    json.dump(verdict, f)
spark.stop()
'''


def test_sink_retry_first_attempt_failure(tmp_path):
    """The retry half of the protocol, under a REAL injected task
    failure (not a simulated leftover file): first attempt of the
    shard-0 task writes a partial file and raises; local[4,2] retries
    it; the manifest must reference only the committed attempts and
    the manifest-scoped read-back must close the LCG oracle — while
    the aborted attempt's partial file is still sitting on disk."""
    import os
    import subprocess
    import sys

    script = tmp_path / "retry_probe.py"
    script.write_text(_RETRY_PROBE_SCRIPT)
    env = {
        **os.environ,
        "SPARK_GRAFT_TASK_RETRIES": "2",
        "SPARK_GRAFT_CPUS": "4",
        "SPARK_GRAFT_UI": "false",
    }
    proc = subprocess.run(
        [sys.executable, str(script), str(tmp_path)],
        cwd="/root/repo",
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, f"probe failed:\n{proc.stdout}\n{proc.stderr}"
    verdict = json.loads((tmp_path / "verdict.json").read_text())
    assert verdict["retry_happened"] is True
    # the failed attempt's partial file is on disk yet invisible to
    # manifest-scoped readers — the exactly-once story in one line
    assert verdict["orphan_on_disk"] is True
    assert verdict["orphan_in_manifest"] is False
    assert verdict["manifest_n_rows"] == 200
    assert verdict["n_rows_read"] == 200
    assert verdict["n_distinct_row_ids"] == 200
    assert verdict["lcg_sum_ok"] is True


# ------------------- streaming sink (DataSourceStreamWriter) halves


def _start_stream_sink(spark, src, out, ckpt, fmt_name, n_tasks=1):
    ev = (
        spark.readStream.schema("id bigint, grp bigint")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    if n_tasks > 1:
        ev = ev.repartition(n_tasks, "grp")
    return (
        ev.writeStream.format(fmt_name)
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .start()
    )


def _write_stream_src(src, n_files=3, rows_per_file=100):
    import pyarrow as pa
    import pyarrow.parquet as pq

    src.mkdir()
    for i in range(n_files):
        ids = list(range(i * rows_per_file, (i + 1) * rows_per_file))
        # grp values 1 and 2, NOT 0 and 1: murmur3 hashes 0 and 1 into
        # the same partition mod 2, so repartition(2, "grp") would put
        # every row in one task — 1 and 2 split into distinct tasks
        pq.write_table(
            pa.table({"id": ids, "grp": [1 + (x % 2) for x in ids]}),
            src / f"f{i}.parquet",
        )


def test_stream_sink_replay_overwrites_manifest(spark, tmp_path):
    """The replay half of the STREAMING sink's exactly-once story: the
    driver crashes inside commit() AFTER batch 1's manifest is
    published but BEFORE the checkpoint's commit log records the batch
    — the engine aborts the batch (deleting its data files AND the
    briefly-published manifest), and the restart REPLAYS batch 1
    (same batchId, WAL'd offsets): write() produces fresh
    uniquely-named files and commit republishes the manifest. The
    atomic tmp+rename publish additionally covers the hard-kill case
    where abort never runs and the replay must cleanly overwrite."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from facebook_ad_library_data_pipeline_spark.sources.pysource import (
        SyntheticJsonlStreamSink,
        SyntheticJsonlStreamWriter,
    )

    crashed = tmp_path / "crashed_once"

    class CrashOnceCommitWriter(SyntheticJsonlStreamWriter):
        def commit(self, messages, batchId):
            super().commit(messages, batchId)
            if batchId == 1 and not crashed.exists():
                crashed.write_text("crashed after manifest publish")
                raise RuntimeError("injected post-publish pre-commit-log crash")

    class CrashOnceSink(SyntheticJsonlStreamSink):
        @classmethod
        def name(cls):
            return "crash_once_stream_sink"

        def streamWriter(self, schema, overwrite):
            return CrashOnceCommitWriter(self.options["path"])

    spark.dataSource.register(CrashOnceSink)
    src, out, ckpt = tmp_path / "src", tmp_path / "out", tmp_path / "ckpt"
    _write_stream_src(src)
    out.mkdir()

    q = _start_stream_sink(spark, src, out, ckpt, "crash_once_stream_sink")
    try:
        try:
            q.processAllAvailable()
            exc = q.exception()
        except StreamingQueryException as e:
            exc = e
    finally:
        q.stop()
    assert exc is not None and "injected post-publish" in str(exc)
    # the engine responded to the commit failure with abort(batchId=1),
    # which must clean up EVERYTHING batch 1 published — its data files
    # AND the manifest that briefly pointed at them. Post-crash the
    # output dir is exactly batch 0's committed state: no dangling
    # manifest, no orphan files, even if the stream were abandoned here.
    assert not (out / "_MANIFEST-00001").exists()
    m0_files = set(json.loads((out / "_MANIFEST-00000").read_text())["files"])
    assert {str(p) for p in out.glob("*.jsonl")} == m0_files

    q = _start_stream_sink(spark, src, out, ckpt, "crash_once_stream_sink")
    try:
        q.processAllAvailable()
        assert q.exception() is None
    finally:
        q.stop()

    replay = json.loads((out / "_MANIFEST-00001").read_text())
    assert replay["batch_id"] == 1
    for f in replay["files"]:
        assert os.path.exists(f)
    manifests = sorted(out.glob("_MANIFEST-*"))
    assert [json.loads(m.read_text())["batch_id"] for m in manifests] == [0, 1, 2]
    files = [f for m in manifests for f in json.loads(m.read_text())["files"]]
    back = spark.read.schema("id bigint, grp bigint").json(files)
    assert back.count() == 300
    assert back.select("id").distinct().count() == 300
    assert back.agg({"id": "sum"}).collect()[0][0] == sum(range(300))


def test_stream_sink_task_abort_cleans_batch(spark, tmp_path):
    """The abort half: in batch 1 one of two tasks fails permanently
    AFTER its sibling wrote and committed — abort(messages, batchId)
    must delete the sibling's already-written file and no manifest may
    be published for the failed batch, while batch 0's manifest and
    files stay untouched."""
    import time as _time

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from facebook_ad_library_data_pipeline_spark.sources.pysource import (
        SyntheticJsonlStreamSink,
        SyntheticJsonlStreamWriter,
    )

    sibling_done = tmp_path / "sibling_done"
    armed = tmp_path / "armed"  # created once batch 0 committed

    class FailTaskWriter(SyntheticJsonlStreamWriter):
        def write(self, iterator):
            rows = list(iterator)
            if os.path.exists(str(armed)) and rows and rows[0].grp == 1:
                deadline = _time.monotonic() + 60
                while (
                    not os.path.exists(str(sibling_done))
                    and _time.monotonic() < deadline
                ):
                    _time.sleep(0.05)
                _time.sleep(2.0)
                raise RuntimeError("injected permanent stream task failure")
            msg = super().write(iter(rows))
            if os.path.exists(str(armed)):
                with open(str(sibling_done), "w") as f:
                    f.write("sibling committed")
            return msg

        def commit(self, messages, batchId):
            super().commit(messages, batchId)
            with open(str(armed), "w") as f:
                f.write("batch 0 committed; fail the next batch")

    class FailTaskSink(SyntheticJsonlStreamSink):
        @classmethod
        def name(cls):
            return "fail_task_stream_sink"

        def streamWriter(self, schema, overwrite):
            return FailTaskWriter(self.options["path"])

    spark.dataSource.register(FailTaskSink)
    src, out, ckpt = tmp_path / "src", tmp_path / "out", tmp_path / "ckpt"
    _write_stream_src(src, n_files=2)
    out.mkdir()

    q = _start_stream_sink(
        spark, src, out, ckpt, "fail_task_stream_sink", n_tasks=2
    )
    try:
        try:
            q.processAllAvailable()
            exc = q.exception()
        except StreamingQueryException as e:
            exc = e
    finally:
        q.stop()
    assert exc is not None and "injected permanent stream task failure" in str(exc)

    manifests = sorted(out.glob("_MANIFEST-*"))
    assert [m.name for m in manifests] == ["_MANIFEST-00000"], (
        "failed batch must publish no manifest"
    )
    m0 = json.loads(manifests[0].read_text())
    for f in m0["files"]:
        assert os.path.exists(f)
    # batch 1: the sibling's committed file was deleted by abort();
    # only batch 0's manifest-listed files remain on disk
    on_disk = {str(p) for p in out.glob("*.jsonl")}
    assert on_disk == set(m0["files"]), (
        "abort() left a failed batch's committed task file on disk"
    )
    back = spark.read.schema("id bigint, grp bigint").json(m0["files"])
    assert back.count() == 100


def test_stream_sink_manifest_republish_overwrites(tmp_path):
    """Protocol-level pin of the atomic overwrite guarantee the
    crash-replay test no longer reaches (abort now clears the manifest
    before a replay republishes): committing the SAME batchId twice —
    the hard-kill case where abort never ran — must atomically REPLACE
    the manifest with the second attempt's files, never append/merge,
    and must clean the second attempt's zero-row files."""
    from facebook_ad_library_data_pipeline_spark.sources.pysource import (
        SyntheticJsonlStreamWriter,
        _SinkFileCommit,
    )

    w = SyntheticJsonlStreamWriter(str(tmp_path))
    a = tmp_path / "part-attempt1.jsonl"
    a.write_text('{"user_id": 1, "cents": 100}\n')
    w.commit([_SinkFileCommit(path=str(a), n_rows=1)], 7)
    m1 = json.loads((tmp_path / "_MANIFEST-00007").read_text())
    assert m1["files"] == [str(a)] and m1["batch_id"] == 7

    b = tmp_path / "part-attempt2.jsonl"
    b.write_text('{"user_id": 1, "cents": 100}\n')
    empty = tmp_path / "part-attempt2-empty.jsonl"
    empty.write_text("")
    w.commit(
        [
            _SinkFileCommit(path=str(b), n_rows=1),
            _SinkFileCommit(path=str(empty), n_rows=0),
        ],
        7,
    )
    m2 = json.loads((tmp_path / "_MANIFEST-00007").read_text())
    assert m2["files"] == [str(b)], "republish must replace, not merge"
    assert not empty.exists(), "zero-row attempt file must be unlinked"
    assert not a.exists(), (
        "republish must unlink the prior attempt's now-unreferenced files"
    )

    # abort after a published commit clears the batch's whole published
    # state: the manifest AND the files it references (which may belong
    # to a PRIOR attempt absent from this attempt's messages)
    w.abort([None], 7)
    assert not (tmp_path / "_MANIFEST-00007").exists()
    assert not b.exists()


def test_stream_sink_republish_publishes_before_cleanup(tmp_path, monkeypatch):
    """Crash-ordering pin for republish: the new manifest must be
    PUBLISHED (os.replace) before the prior attempt's files are
    unlinked. Simulated hard kill at the publish instant (os.replace
    raises): the OLD manifest must still reference only-existing files
    — the crash window degrades to orphans, never to a published
    manifest pointing at deleted files."""
    from facebook_ad_library_data_pipeline_spark.sources.pysource import (
        SyntheticJsonlStreamWriter,
        _SinkFileCommit,
    )

    w = SyntheticJsonlStreamWriter(str(tmp_path))
    a = tmp_path / "part-attempt1.jsonl"
    a.write_text('{"user_id": 1, "cents": 100}\n')
    w.commit([_SinkFileCommit(path=str(a), n_rows=1)], 3)

    b = tmp_path / "part-attempt2.jsonl"
    b.write_text('{"user_id": 1, "cents": 200}\n')
    real_replace = os.replace

    def crash_at_publish(src, dst):
        if "_MANIFEST" in str(dst):
            raise OSError("injected crash at publish")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", crash_at_publish)
    try:
        w.commit([_SinkFileCommit(path=str(b), n_rows=1)], 3)
    except OSError:
        pass
    monkeypatch.undo()

    m = json.loads((tmp_path / "_MANIFEST-00003").read_text())
    assert m["files"] == [str(a)], "old manifest must survive a failed publish"
    assert a.exists(), (
        "prior attempt's files must NOT be unlinked before the new "
        "manifest is published — a crash here must leave the published "
        "manifest's files intact"
    )
