"""Golden end-to-end test of the ads-domain pipeline (FIXTURES.md §A1
fixture, every branch): explode lineage, running max vs group max,
all four media mixes, text fallback, undetected lang, quarantine
routing, D1/D2/D3 keep-first incl. null-collapse, banker's-rounded
hours, stable top-10 tie-break."""

from __future__ import annotations

import json
from datetime import datetime, timezone

import pytest

from facebook_ad_library_data_pipeline_spark.adslib.report import generate_report
from facebook_ad_library_data_pipeline_spark.adslib.transform import (
    pipeline_stage_counts,
    transform_raw_ads,
)

T0 = 1700000000  # 2023-11-14 22:13:20 UTC
AS_OF = "2023-11-15 00:00:00"  # epoch 1700006400


def _ad(ad_id, active=True, start=T0, end=None, total=None, coll=None,
        cnt=None, fmt="VIDEO", text=None, cards=None):
    snapshot = {"display_format": fmt, "body": {"text": text}, "cards": cards}
    return {
        "ad_archive_id": ad_id, "is_active": active, "start_date": start,
        "end_date": end, "total_active_time": total, "collation_id": coll,
        "collation_count": cnt, "snapshot": snapshot,
    }


FIXTURE = [
    [  # group 0
        _ad("A1", total=1800, coll="G1", cnt=5, fmt="VIDEO", text="alpha the beta"),
        _ad("A2", end=T0 + 3600, total=5400, fmt="IMAGE", text="delta epsilon"),
        _ad("A3", active=False, start=1600000000, coll="G2", cnt=1, fmt="DCO",
            cards=[{"body": "card text one", "video_hd_url": "v",
                    "original_image_url": None}]),
    ],
    [  # group 1
        _ad("A4", total=9000, coll="G3", fmt="CAROUSEL", cards=[]),
        _ad("A1", total=99999, coll="G4", cnt=2, fmt="IMAGE", text="unique five"),
        _ad("A6", total=3600, coll="G1", cnt=9, fmt="VIDEO", text="zeta eta"),
    ],
    [  # group 2
        _ad("A7", total=3600, coll="G5", fmt="VIDEO", text="delta epsilon"),
        _ad("A8", end=1600000000, coll="G6", fmt="VIDEO", text="bad end"),
        _ad("A9", start=None, coll="G7", fmt="VIDEO", text="bad start"),
        _ad("A10", total=7200, fmt="IMAGE", text="theta iota"),
    ],
]


@pytest.fixture(scope="module")
def pipeline_result(spark, tmp_path_factory):
    path = tmp_path_factory.mktemp("rawads") / "raw.json"
    path.write_text(json.dumps(FIXTURE))
    curated, quarantine = transform_raw_ads(spark, str(path))
    return curated.collect(), quarantine.collect(), curated


def test_curated_survivors_and_dedup_order(pipeline_result):
    curated, _, _ = pipeline_result
    by_id = {r.ad_id: r for r in curated}
    # A5(dup A1 id)→D1, A6(dup G1)→D2, A7(dup text)→D3, A10(null coll
    # collapses onto A2)→D2, A8/A9 quarantined
    assert sorted(by_id) == ["A1", "A2", "A3", "A4"]


def test_running_max_is_prefix_not_group_max(pipeline_result):
    curated, _, _ = pipeline_result
    by_id = {r.ad_id: r for r in curated}
    # group 0: counts 5, null→0, 1 → running max carries 5 to A3
    assert by_id["A1"].grouped_ads_count == 5
    assert by_id["A2"].grouped_ads_count == 5
    assert by_id["A3"].grouped_ads_count == 5
    # group 1 head: A4 has null count → 0 (a group max would be 9)
    assert by_id["A4"].grouped_ads_count == 0


def test_running_max_restarts_per_file(spark, tmp_path):
    """group_idx restarts in every file: group 0 of file a and group 0
    of file b are different groups, each with its own prefix max."""
    files = {
        "a.json": [[_ad("F1", coll="H1", cnt=5, text="f one"),
                    _ad("F2", coll="H2", text="f two")]],
        "b.json": [[_ad("F3", coll="H3", cnt=1, text="f three"),
                    _ad("F4", coll="H4", cnt=2, text="f four")]],
    }
    for name, groups in files.items():
        (tmp_path / name).write_text(json.dumps(groups))
    curated, _ = transform_raw_ads(spark, str(tmp_path))
    got = {r.ad_id: r.grouped_ads_count for r in curated.collect()}
    assert got == {"F1": 5, "F2": 5, "F3": 1, "F4": 2}


def test_media_mix_all_four(pipeline_result):
    curated, _, _ = pipeline_result
    by_id = {r.ad_id: r for r in curated}
    assert by_id["A1"].media_mix == "video-only"
    assert by_id["A2"].media_mix == "image-only"
    assert by_id["A3"].media_mix == "video-only"  # DCO card video URL
    assert by_id["A4"].media_mix == "none"  # empty cards


def test_text_fallback_and_lang(pipeline_result):
    curated, _, _ = pipeline_result
    by_id = {r.ad_id: r for r in curated}
    assert by_id["A3"].ad_text == "card text one"  # DCO → card[0].body
    assert by_id["A4"].ad_text == ""  # empty cards → ''
    assert by_id["A4"].ad_lang_code == "undetected"
    assert by_id["A1"].ad_lang_code != "undetected"  # contains 'the'


def test_quarantine_rows_carry_error_strings(pipeline_result):
    _, quarantine, _ = pipeline_result
    errs = {r.ad_id: r.validation_error for r in quarantine}
    assert sorted(errs) == ["A8", "A9"]
    assert "end_date_ts must be >= start_date_ts" in errs["A8"]
    assert "start_date_ts must be a valid timestamp" in errs["A9"]


def test_stage_counts_reconcile(spark, tmp_path_factory):
    """U2 parity: the observe()-based per-stage report must reproduce
    the reference's reconciliation counts (parsed 10 ads, 2 quarantined,
    8 valid, 4 survivors after D1/D2/D3) in a single pass."""
    path = tmp_path_factory.mktemp("rawads_u2") / "raw.json"
    path.write_text(json.dumps(FIXTURE))
    counts = pipeline_stage_counts(spark, str(path))
    assert counts == {"parsed": 10, "valid": 8, "invalid": 2, "post_dedup": 4}
    assert counts["parsed"] == counts["valid"] + counts["invalid"]


FIXTURE_COUNTS = {"parsed": 10, "valid": 8, "invalid": 2, "post_dedup": 4}


def _jobs_of(spark, fn):
    """``fn()`` and the ids of the Spark jobs it ran, tracked under a
    job group of its own."""
    sc = spark.sparkContext
    group = "test_adslib_golden.stage_counts"
    sc.setJobGroup(group, "pipeline_stage_counts under test")
    try:
        result = fn()
    finally:
        sc._jsc.clearJobGroup()
    return result, sc.statusTracker().getJobIdsForGroup(group)


def test_stage_counts_come_from_the_curated_write(spark, tmp_path):
    """Once the curated frame has been written, the counts are the
    Observations that write filled: the lookup runs at most one job
    (the metadata-only fingerprint scan), not a second parse."""
    path = tmp_path / "raw.json"
    path.write_text(json.dumps(FIXTURE))
    curated, _ = transform_raw_ads(spark, str(path))
    curated.write.parquet(str(tmp_path / "curated"))
    counts, jobs = _jobs_of(spark, lambda: pipeline_stage_counts(spark, str(path)))
    assert counts == FIXTURE_COUNTS
    assert len(jobs) <= 1, jobs


def test_stage_counts_follow_a_rewritten_file(spark, tmp_path):
    """A raw file rewritten after the write (new size) makes the counts
    those of the new content, not the write's."""
    raw = tmp_path / "raw"
    raw.mkdir()
    (raw / "a.json").write_text(json.dumps(FIXTURE))
    (raw / "b.json").write_text(json.dumps([[]]))
    curated, _ = transform_raw_ads(spark, str(raw))
    curated.write.parquet(str(tmp_path / "curated"))
    assert pipeline_stage_counts(spark, str(raw)) == FIXTURE_COUNTS
    (raw / "b.json").write_text(json.dumps([[_ad("B1", coll="GB", text="brand new words")]]))
    assert pipeline_stage_counts(spark, str(raw)) == {
        "parsed": 11, "valid": 9, "invalid": 2, "post_dedup": 5,
    }


def test_unmaterialized_transform_does_not_block_stage_counts(spark, tmp_path):
    """A transform that was built but never run has no metrics to wait
    for: the counts come from a fresh run instead."""
    path = tmp_path / "raw.json"
    path.write_text(json.dumps(FIXTURE))
    transform_raw_ads(spark, str(path))
    assert pipeline_stage_counts(spark, str(path)) == FIXTURE_COUNTS


def test_report_golden(pipeline_result, spark):
    _, _, curated = pipeline_result
    rows = generate_report(curated, AS_OF).collect()
    # actives: A1 (1800s→0.5h→bankers 0), A2 (5400→1.5→2), A4 (9000→2.5→2)
    # order: hours desc, then ingest position → A2 before A4 (tie at 2)
    assert [r.ad_id for r in rows] == ["A2", "A4", "A1"]
    assert [r.hours_passed for r in rows] == [2, 2, 0]
    a2 = rows[0]
    assert a2.ad_link.endswith("?id=A2")
    assert a2.start_date == datetime.fromtimestamp(T0, tz=timezone.utc).replace(tzinfo=None)
    assert a2.end_date == datetime.fromtimestamp(T0 + 3600, tz=timezone.utc).replace(tzinfo=None)
    # A1: end_date null stays null
    assert rows[2].end_date is None


def test_input_fully_partitioned(pipeline_result):
    curated, quarantine, _ = pipeline_result
    n_input = sum(len(g) for g in FIXTURE)
    n_deduped = 4  # D1+D2+D3 drops: A5,A6,A7,A10
    assert len(curated) + len(quarantine) + n_deduped == n_input


def test_epoch_boundary_rules(spark, tmp_path):
    """Pins the two documented deviations from the reference validator
    (adslib/schemas.py TS_MIN note): negative epochs are quarantined
    (platform-independent TS_MIN=0), and the end>=start rule applies
    even when start_date_ts == 0 (the reference's truthiness check
    skips it there)."""
    fixture = [[
        _ad("E1", start=0, end=100, text="epoch zero ok"),        # valid: 0 is in range
        _ad("E2", start=0, end=-5, text="order rule at zero"),    # invalid HERE (ref: passes)
        _ad("E3", start=-7200, end=100, text="negative epoch"),   # invalid HERE (ref on Linux: passes)
        _ad("E4", start=100, end=0, text="end before start"),     # invalid both
    ]]
    path = tmp_path / "raw.json"
    path.write_text(json.dumps(fixture))
    curated, quarantine = transform_raw_ads(spark, str(path))
    kept = {r.ad_id for r in curated.collect()}
    quarantined = {r.ad_id: r.validation_error for r in quarantine.collect()}
    assert kept == {"E1"}
    assert set(quarantined) == {"E2", "E3", "E4"}
    assert "end_date_ts" in quarantined["E2"]
    assert "start_date_ts" in quarantined["E3"]
