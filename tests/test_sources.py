"""Round-trip tests for readers/writers in temp dirs, including the
partitioned-parquet pruning property and the full ads pipeline writing
its three zones (curated parquet / quarantine json / report csv)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from facebook_ad_library_data_pipeline_spark.catalog import load_table
from facebook_ad_library_data_pipeline_spark.sources.writers import (
    write_parquet,
    write_quarantine_json,
    write_report_csv,
)

from .plan_helpers import formatted_plan


def test_parquet_roundtrip_partitioned_with_pruning(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders")
    out = str(tmp_path / "orders_part")
    write_parquet(orders, out, partition_by=["o_orderstatus"])

    back = spark.read.parquet(out)
    assert back.count() == orders.count()

    pruned = back.filter(F.col("o_orderstatus") == "O")
    plan = formatted_plan(pruned)
    assert "PartitionFilters: [isnotnull(o_orderstatus" in plan or "o_orderstatus)" in plan
    assert pruned.count() == orders.filter(F.col("o_orderstatus") == "O").count()


def test_json_roundtrip_with_declared_schema(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events").limit(50)
    out = str(tmp_path / "events_json")
    events.select("event_id", "event_type", "value").write.json(out)
    schema = "event_id long, event_type string, value double"
    from pyspark.sql.types import _parse_datatype_string

    back = spark.read.schema(_parse_datatype_string(schema)).json(out)
    assert back.count() == 50
    assert set(back.columns) == {"event_id", "event_type", "value"}


def test_csv_report_single_file_with_header(spark, sf_dir, tmp_path):
    top = (
        load_table(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"))
        .limit(5)
        .select("o_orderkey", "o_totalprice")
    )
    out = tmp_path / "report_csv"
    write_report_csv(top, str(out))
    parts = list(out.glob("part-*.csv"))
    assert len(parts) == 1, "report must be exactly one csv file"
    lines = parts[0].read_text().strip().splitlines()
    assert lines[0] == "o_orderkey,o_totalprice"
    assert len(lines) == 6


def test_quarantine_json_carries_error(spark, tmp_path):
    bad = spark.createDataFrame(
        [(1, "end_date_ts must be >= start_date_ts")], "ad_pos int, validation_error string"
    )
    out = tmp_path / "quarantine"
    write_quarantine_json(bad, str(out))
    rows = [
        json.loads(line)
        for p in out.glob("part-*")
        for line in p.read_text().strip().splitlines()
        if line
    ]
    assert rows == [{"ad_pos": 1, "validation_error": "end_date_ts must be >= start_date_ts"}]


def test_orc_roundtrip_with_pushdown(spark, sf_dir, tmp_path):
    from facebook_ad_library_data_pipeline_spark.sources.writers import write_orc
    from facebook_ad_library_data_pipeline_spark.catalog import load_table
    from .plan_helpers import pushed_filters

    orders = load_table(spark, sf_dir, "orders")
    out = str(tmp_path / "orders_orc")
    write_orc(orders, out, partition_by=["o_orderstatus"])
    back = spark.read.orc(out)
    assert back.count() == orders.count()
    f = back.filter(F.col("o_totalprice") > 1000).filter(F.col("o_orderstatus") == "O")
    # value predicate pushed to the ORC scan; partition column pruned
    assert any("o_totalprice" in p for p in pushed_filters(f))
    assert f.count() == orders.filter(
        (F.col("o_totalprice") > 1000) & (F.col("o_orderstatus") == "O")
    ).count()
