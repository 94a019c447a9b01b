"""binaryFile source: the multimodal landing-zone front door.

A 100 TB image/audio corpus arrives as millions of raw blob FILES, not
parquet rows — the first pipeline stage is Spark's built-in
``binaryFile`` format (path / modificationTime / length / content per
file, distributed file listing, pathGlobFilter + recursiveFileLookup
pruning at the LISTING level so excluded files are never opened). This
module proves that ingestion edge end-to-end: blobs are materialized
EXECUTOR-SIDE (foreachPartition — the writer stands in for the upstream
crawler that lands blobs; each task writes its own partition's files,
no driver fan-in), then scanned back with binaryFile and reduced to
per-file identity facts the oracle recomputes from the source table.

Oracle strategy: blob content is exactly the document's UTF-8 text
bytes, so DuckDB recomputes file name (doc_id arithmetic), byte size
(octet_length of the encoded text) and digest (DuckDB ``md5(VARCHAR)``
hashes UTF-8 bytes = Spark ``md5(CAST(text AS BINARY))`` — verified
byte-identical) without touching the filesystem. Decoy files
(_SUCCESS, notes.txt) are planted so a pathGlobFilter regression
surfaces as extra rows.

Reference anchor: /root/reference/collect_raw_data.py:174-204 lands
scraped payloads as loose files per run; binaryFile is the idiomatic
Spark reader for that layout.
"""

from __future__ import annotations

import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query
from ..session import work_dir

# doc_id % _STRIDE == 0 bounds the fixture to ~5 files at sf0.001 and
# ~516 at sf0.1 — enough files to exercise distributed listing, few
# enough that the fixture write isn't the query.
_STRIDE = 97


def write_blob_dir(docs: DataFrame, out_dir: str) -> None:
    """Land each document's text bytes as doc_<id>.bin — executor-side,
    one file per row, idempotent under task retry (same name, same
    bytes). Stands in for the upstream blob producer. out_dir must be
    visible to every executor AND the driver (local mode, NFS, or a
    fuse-mounted object store): on a multi-node cluster a node-local
    path would scatter the blobs across machines and the scan below
    would silently list only the driver's files."""
    import os

    os.makedirs(out_dir, exist_ok=True)

    def land(rows) -> None:
        for r in rows:
            p = Path(out_dir) / f"doc_{r.doc_id:08d}.bin"
            p.write_bytes(r.text.encode("utf-8"))

    docs.select("doc_id", "text").foreachPartition(land)
    # decoys: a glob-filter regression makes these appear as rows
    (Path(out_dir) / "_SUCCESS").write_bytes(b"")
    (Path(out_dir) / "notes.txt").write_bytes(b"not a blob payload")


_BLOB_ORACLE = f"""
SELECT printf('doc_%08d', doc_id) AS file_name,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS digest,
       TRUE AS size_consistent
FROM documents
WHERE doc_id % {_STRIDE} = 0
"""


@query("q_binary_file_scan", oracle=_BLOB_ORACLE, tags=("source", "multimodal", "storage"))
def q_binary_file_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → land every 97th doc's bytes as a .bin blob
    (executor-side) → ``binaryFile`` scan with pathGlobFilter → per-file
    name / size / md5 digest, plus a pinned flag that the listing's
    ``length`` metadata equals the actual content length. The oracle
    recomputes all three identity facts from the source table, so a
    truncated read, a mangled byte, a missed file, or a glob filter
    that lets the decoys through flips the hash. Plan: listing is
    distributed and filter-pruned (decoys never opened); per-file work
    is a codegen'd projection — at 100 TB the scan parallelizes per
    file with no shuffle until the (absent) aggregate."""
    import shutil

    run_dir = tempfile.mkdtemp(dir=work_dir(spark))
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % _STRIDE == 0
    )
    try:
        write_blob_dir(docs, run_dir)
        scan = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.bin")
            .load(run_dir)
        )
        out = scan.select(
            F.regexp_extract(F.col("path"), r"([^/]+)\.bin$", 1).alias("file_name"),
            F.col("length").alias("n_bytes"),
            F.md5(F.col("content")).alias("digest"),
            (F.length(F.col("content")) == F.col("length")).alias(
                "size_consistent"
            ),
        )
        # materialize now so the tmp dir can be deleted (bounded:
        # ≤ ~516 rows at sf0.1) — the q_sink_roundtrip discipline.
        # The ceiling makes a fixture-scale change fail LOUDLY instead
        # of silently growing driver memory (r12 ADVICE): the stride
        # keeps this at docs/97, so 10_000 ≈ a sf-100× headroom.
        # take(ceiling+1) ships AT MOST ceiling+1 rows in ONE pass
        # (r13 ADVICE: the earlier limit+count guard re-ran the whole
        # binaryFile scan + md5 lineage a second time before collect);
        # past the ceiling it raises cleanly with a bounded driver
        # footprint rather than OOMing inside an unbounded collect().
        rows = out.take(10_001)
        if len(rows) > 10_000:
            raise AssertionError(
                f"q_binary_file_scan would collect >10000 rows; the "
                f"doc_id % {_STRIDE} stride was sized for a bounded "
                "driver materialization — re-sample before collecting"
            )
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
