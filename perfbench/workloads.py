"""The benchmark's workloads: which operations a pass runs, how each is
materialized, and how its output is checked.

An operation has two timed phases. ``build`` calls into the package
and returns what must be materialized (the plan-build phase; for the
streaming family the bounded drain happens here, inside ``Query.fn``).
``materialize`` executes it: a ``noop``-format write for a DataFrame,
which computes every column, or the pipeline's own parquet writes.
``check`` runs outside the timed region on what ``build`` returned in
the last timed pass and returns ``None`` when the output is correct,
else a one-line reason.
"""

from __future__ import annotations

import csv
import os
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from facebook_ad_library_data_pipeline_spark.adslib import transform as ads
from facebook_ad_library_data_pipeline_spark.adslib.report import generate_report
from facebook_ad_library_data_pipeline_spark.catalog import TABLES
from facebook_ad_library_data_pipeline_spark.registry import Query
from facebook_ad_library_data_pipeline_spark.sources import writers
from perfbench import datagen

# Why each workload exists (mirrored in BENCHMARK.json).
WHY = {
    "ads_etl": "the paper's ad pipeline on 12.8k ads in 16 JSON files (JSON ingest, language "
               "pandas_udf, keep-first dedups, writers) plus text and image-hash curation: "
               "Python workers and writes dominate",
    "warehouse_sql": "TPC-H, SQL front-end, subquery and one event-time streaming query at sf0.1: "
                     "the JVM-only path (scans, Catalyst, shuffle, codegen, state store), no Python",
}

# Registered queries per workload. Chosen so that a warm pass takes
# under ten seconds on four cores while every layer the workload
# isolates appears in it; each distinct query adds to the cold set-up.
QUERIES = {
    "ads_etl": [
        "q_text_quality",  # functions
        "q_image_ahash_dedup",  # multimodal: BMP decode + hash in mapInPandas
    ],
    "warehouse_sql": [
        "q_flagship",
        "q_tpch_q1",
        "q_sql_revenue_by_nation",
        "q_subquery_exists",
        "q_stream_tumbling",
    ],
}

# Tables each query scans (checked against its catalog.load_table calls,
# or its stream source); their row counts make its input rows.
INPUT_TABLES = {
    "q_flagship": ["lineitem", "orders"],
    "q_tpch_q1": ["lineitem"],
    "q_sql_revenue_by_nation": ["customer", "orders", "lineitem", "nation"],
    "q_subquery_exists": ["customer", "orders"],
    "q_text_quality": ["documents"],
    "q_image_ahash_dedup": ["documents"],
    "q_stream_tumbling": ["events"],
}
# Queries that register every catalog table as a SQL view, so every
# table file must exist although only INPUT_TABLES are scanned.
REGISTERS_ALL_TABLES = {"q_sql_revenue_by_nation"}


@dataclass
class Op:
    name: str
    layer: str  # package module family that owns the called function
    build: Callable[[SparkSession], Any]
    materialize: Callable[[Any], None]
    check: Callable[[Any], str | None]
    input_rows: int
    # For an operation that writes files: the DataFrames it writes, from
    # its build result. Their noop materialization, subtracted from the
    # operation's exec time, leaves the time spent writing.
    written: Callable[[Any], list[DataFrame]] | None = None


def noop_write(df: DataFrame) -> None:
    """Materialize every column of ``df`` without keeping the result.
    ``count()`` is not used: it lets the optimizer prune columns, so a
    Python UDF column would never run."""
    df.write.format("noop").mode("overwrite").save()


@dataclass
class Inputs:
    tables_dir: str
    table_rows: dict[str, int]
    ads_dir: str
    ads_out: str
    ads_expect: datagen.AdsExpectation | None
    duck: Any = None  # DuckDB connection over tables_dir, opened lazily


def make_inputs(workload: str, data_dir: str, seed: int) -> Inputs:
    tables = os.path.join(data_dir, "tables")
    ads_dir = os.path.join(data_dir, "raw_ads")
    ads_expect = datagen.write_raw_ads(ads_dir, seed) if workload == "ads_etl" else None
    names = sorted({t for q in QUERIES[workload] for t in INPUT_TABLES[q]})
    if REGISTERS_ALL_TABLES & set(QUERIES[workload]):
        names = TABLES
    return Inputs(tables, datagen.write_tables(tables, seed, names), ads_dir,
                  os.path.join(data_dir, "ads_out"), ads_expect)


def build_ops(workload: str, registry: dict[str, Query], inputs: Inputs) -> list[Op]:
    ops = _ads_ops(inputs) if workload == "ads_etl" else []
    return ops + [_query_op(registry[name], inputs) for name in QUERIES[workload]]


# ---------------------------------------------------------------------------
# Registered queries
# ---------------------------------------------------------------------------


def _duck(inputs: Inputs):
    if inputs.duck is None:
        import duckdb

        con = duckdb.connect()
        for t in inputs.table_rows:
            path = os.path.join(inputs.tables_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        inputs.duck = con
    return inputs.duck


def _query_op(q: Query, inputs: Inputs) -> Op:
    sf_dir = inputs.tables_dir

    def check(df: DataFrame) -> str | None:
        from tests.oracle_harness import assert_matches_oracle

        try:
            assert_matches_oracle(df, q.oracle, _duck(inputs))
        except AssertionError as e:
            return str(e).splitlines()[0][:300]
        return None

    return Op(
        name=q.name,
        layer=q.fn.__module__.split(".")[1],
        build=lambda spark: q.fn(spark, sf_dir),
        materialize=noop_write,
        check=check,
        input_rows=sum(inputs.table_rows[t] for t in INPUT_TABLES[q.name]),
    )


# ---------------------------------------------------------------------------
# The ads pipeline
# ---------------------------------------------------------------------------


def _part_files(path: str, suffix: str) -> list[str]:
    return sorted(os.path.join(path, f) for f in os.listdir(path)
                  if f.startswith("part-") and f.endswith(suffix))


def _ads_ops(inputs: Inputs) -> list[Op]:
    exp = inputs.ads_expect
    raw = inputs.ads_dir
    curated_path = os.path.join(inputs.ads_out, "curated")
    quarantine_path = os.path.join(inputs.ads_out, "quarantine")
    report_path = os.path.join(inputs.ads_out, "report")

    def write_both(frames: tuple[DataFrame, DataFrame]) -> None:
        curated, quarantine = frames
        writers.write_parquet(curated, curated_path, partition_by=["display_format"])
        writers.write_quarantine_json(quarantine, quarantine_path)

    def check_transform(frames: tuple[DataFrame, DataFrame]) -> str | None:
        cur = pq.read_table(curated_path, columns=["grouped_ads_count", "media_mix"])
        mix_col = cur.column("media_mix").to_pylist()
        mixes = {k: mix_col.count(k) for k in exp.media_mix_counts}
        n_quarantine = 0
        for f in _part_files(quarantine_path, ".json"):
            with open(f) as fh:
                n_quarantine += sum(1 for _ in fh)
        want = (exp.curated_rows, exp.grouped_ads_count_sum, exp.media_mix_counts,
                exp.stage_counts["invalid"])
        have = (cur.num_rows, pc.sum(cur.column("grouped_ads_count")).as_py(), mixes,
                n_quarantine)
        return None if have == want else f"curated/quarantine {have} != expected {want}"

    def build_report(spark: SparkSession) -> DataFrame:
        return generate_report(spark.read.parquet(curated_path), datagen.ADS_AS_OF)

    def check_report(report: DataFrame) -> str | None:
        ids = []
        for f in _part_files(report_path, ".csv"):
            with open(f, newline="") as fh:
                ids += [row["ad_id"] for row in csv.DictReader(fh)]
        return None if ids == exp.top10_ad_ids else f"top-10 {ids} != {exp.top10_ad_ids}"

    counted: dict[str, dict[str, int]] = {}  # the latest pass's stage counts

    def count_stages(counts: Callable[[], dict[str, int]]) -> None:
        counted["last"] = counts()

    def check_counts(counts: Callable[[], dict[str, int]]) -> str | None:
        got = counted.get("last")
        return None if got == exp.stage_counts else f"stage counts {got} != {exp.stage_counts}"

    return [
        Op("transform_raw_ads", "adslib",
           build=lambda spark: ads.transform_raw_ads(spark, raw),
           materialize=write_both, check=check_transform,
           input_rows=exp.n_ads, written=list),
        Op("generate_report", "adslib",
           build=build_report,
           materialize=lambda report: writers.write_report_csv(report, report_path),
           check=check_report, input_rows=exp.curated_rows, written=lambda df: [df]),
        Op("pipeline_stage_counts", "adslib",
           build=lambda spark: lambda: ads.pipeline_stage_counts(spark, raw),
           materialize=count_stages, check=check_counts,
           input_rows=exp.n_ads),
    ]


def ads_stage_prefixes(spark: SparkSession, raw: str) -> list[tuple[str, DataFrame]]:
    """Cumulative prefixes of ``transform_raw_ads``, one per stage, plus
    the quarantine side output: each stage's self time is the
    difference between materializing consecutive prefixes."""
    exploded = ads.read_raw_ads(spark, raw)
    parsed = ads.parse_ads(exploded)
    valid, quarantine = ads.validate_split(parsed)
    return [
        ("read_raw_ads", exploded),
        ("parse_ads", parsed),
        ("validate_split", valid),
        ("dedup_ads", ads.dedup_ads(valid)),
        ("quarantine", quarantine),
    ]
