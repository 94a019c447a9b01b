"""Sink round-trip query: drive every writer format (JSON / CSV / ORC /
partitioned parquet) through a write-then-read-back cycle and aggregate
the re-read rows — turning the sink surface (reference S5/R10 + the
beyond-reference ORC/parquet layouts) into a DRIVER-CHECKABLE query
instead of local-test-only side effects. If any format drops rows,
mangles a value, or loses a type on the round trip, the per-format
aggregates stop matching the oracle (which computes them straight from
the source table).

Formats carry different fidelity: CSV and JSON have no timestamp type,
so the round-trip projects only (event_id, user_id, event_type, cents)
— integers and strings survive every format bit-exactly. cents (not
the raw double) keeps the comparison exact: every format re-parses
integers to the same value, while a double through CSV text could
round-trip to a different last ulp.
"""

from __future__ import annotations

import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load_table
from ..registry import query
from ..session import work_dir
from .writers import write_orc, write_parquet, write_raw_json

_RT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("cents", T.LongType()),
    ]
)

_ROUNDTRIP_ORACLE = """
WITH base AS (
    SELECT event_type,
           count(*) AS n,
           count(DISTINCT user_id) AS n_users,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS total_cents,
           CAST(sum(event_id) AS BIGINT) AS id_checksum
    FROM events
    GROUP BY event_type
)
SELECT f.format, b.event_type, b.n, b.n_users, b.total_cents, b.id_checksum
FROM base b
CROSS JOIN (
    SELECT 'json' AS format UNION ALL SELECT 'csv'
    UNION ALL SELECT 'orc' UNION ALL SELECT 'parquet'
) f
"""


@query("q_sink_roundtrip", oracle=_ROUNDTRIP_ORACLE, tags=("sink", "source", "storage"))
def q_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → write as JSON, CSV, ORC, partitioned parquet → read each
    back with a declared schema → identical per-type aggregates per
    format. The oracle expects every format to reproduce the source
    aggregates exactly (4 formats × event types)."""
    import shutil

    run_dir = Path(tempfile.mkdtemp(dir=work_dir(spark)))
    src = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    try:
        json_p = str(run_dir / "json")
        csv_p = str(run_dir / "csv")
        orc_p = str(run_dir / "orc")
        pq_p = str(run_dir / "parquet")
        write_raw_json(src, json_p)
        src.write.mode("overwrite").option("header", True).csv(csv_p)
        write_orc(src, orc_p)
        write_parquet(src, pq_p, partition_by=["event_type"])

        reread = {
            "json": spark.read.schema(_RT_SCHEMA).json(json_p),
            "csv": spark.read.schema(_RT_SCHEMA).option("header", True).csv(csv_p),
            "orc": spark.read.schema(_RT_SCHEMA).orc(orc_p),
            # partitioned parquet: event_type comes back as a partition
            # column; project to the common shape
            "parquet": spark.read.parquet(pq_p).select(
                "event_id", "user_id", "event_type", "cents"
            ),
        }
        per_format = [
            df.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("user_id").alias("n_users"),
                F.sum("cents").alias("total_cents"),
                F.sum("event_id").alias("id_checksum"),
            )
            .select(F.lit(fmt).alias("format"), "*")
            for fmt, df in reread.items()
        ]
        out = per_format[0]
        for df in per_format[1:]:
            out = out.unionByName(df)
        # Materialize NOW (formats x event-types = ~20 rows) so the
        # written copies of events can be deleted before returning —
        # a lazy result would pin the tmp dir for the caller's
        # lifetime and every invocation would leak one (found leaking
        # ~10 dirs per bench+test cycle).
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
