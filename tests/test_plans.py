"""Physical-plan regression tests: the scale properties (pushdown,
pruning, broadcast, top-k heap) must hold, not just the row values."""

from __future__ import annotations

from facebook_ad_library_data_pipeline_spark.registry import load_all

from .plan_helpers import (
    has_node,
    pushed_filters,
    scan_column_counts,
)

REGISTRY = load_all()


def test_flagship_pushdown_and_pruning(spark, sf_dir):
    df = REGISTRY["q_flagship"].fn(spark, sf_dir)
    assert any("EqualTo(o_orderstatus,O)" in f for f in pushed_filters(df))
    # lineitem scan must read exactly the 3 referenced columns (of 11)
    assert sorted(scan_column_counts(df)) == [3, 4]


def test_q1_filter_reaches_scan(spark, sf_dir):
    df = REGISTRY["q_tpch_q1"].fn(spark, sf_dir)
    assert any("l_shipdate" in f for f in pushed_filters(df))


def test_dim_joins_broadcast(spark, sf_dir):
    df = REGISTRY["q_join_broadcast_dims"].fn(spark, sf_dir)
    assert has_node(df, "BroadcastHashJoin")
    assert not has_node(df, "SortMergeJoin")


def test_semi_anti_stay_semi_anti(spark, sf_dir):
    assert has_node(REGISTRY["q_join_semi"].fn(spark, sf_dir), "LeftSemi")
    assert has_node(REGISTRY["q_join_anti"].fn(spark, sf_dir), "LeftAnti")


def test_global_topk_never_full_sorts(spark, sf_dir):
    assert has_node(REGISTRY["q_topk_global"].fn(spark, sf_dir), "TakeOrderedAndProject")
    assert has_node(REGISTRY["q_flagship"].fn(spark, sf_dir), "TakeOrderedAndProject")


def test_ads_pipeline_runs_no_python(spark, tmp_path):
    # P7 language ID is the native detector: neither output frame of
    # the ad pipeline may evaluate a Python UDF
    import json

    from facebook_ad_library_data_pipeline_spark.adslib.transform import transform_raw_ads

    ad = {"ad_archive_id": "A1", "is_active": True, "start_date": 1700000000,
          "snapshot": {"display_format": "VIDEO", "body": {"text": "the ad"}}}
    (tmp_path / "raw.json").write_text(json.dumps([[ad]]))
    for df in transform_raw_ads(spark, str(tmp_path / "raw.json")):
        assert not has_node(df, "ArrowEvalPython")
        assert not has_node(df, "BatchEvalPython")


def test_ads_stage_counts_ride_the_curated_plan(spark, tmp_path):
    # the stage counts are Observations on the curated frame: three
    # CollectMetrics nodes (input files, validation outcome, post-dedup)
    # and no extra shuffle — the P4 window and D1-D3 keep 4 exchanges
    import json
    import re

    from facebook_ad_library_data_pipeline_spark.adslib.transform import transform_raw_ads
    from .plan_helpers import formatted_plan

    ad = {"ad_archive_id": "A1", "is_active": True, "start_date": 1700000000,
          "snapshot": {"display_format": "VIDEO", "body": {"text": "the ad"}}}
    (tmp_path / "raw.json").write_text(json.dumps([[ad]]))
    curated, _ = transform_raw_ads(spark, str(tmp_path / "raw.json"))
    plan = formatted_plan(curated)
    assert len(re.findall(r"^\(\d+\) CollectMetrics", plan, re.M)) == 3
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 4


def test_inverted_index_join_not_broadcast(spark, sf_dir):
    # the exploded shingle self-join must shuffle, not broadcast.
    # Built from jaccard_pairs directly: the registered query returns
    # the session-cached (localCheckpoint) edge set, whose plan is a
    # Scan ExistingRDD once any earlier test materialized it.
    from facebook_ad_library_data_pipeline_spark.catalog import load_table
    from facebook_ad_library_data_pipeline_spark.operators.dedup_near import (
        JACCARD_THRESHOLD,
        jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    df = jaccard_pairs(docs, JACCARD_THRESHOLD)
    assert has_node(df, "ShuffledHashJoin")

def test_subqueries_decorrelate_to_joins(spark, sf_dir):
    # EXISTS/NOT EXISTS must become semi/anti joins, never per-row probes
    assert has_node(REGISTRY["q_subquery_exists"].fn(spark, sf_dir), "LeftSemi")
    assert has_node(REGISTRY["q_subquery_not_exists"].fn(spark, sf_dir), "LeftAnti")
    assert has_node(REGISTRY["q_subquery_in"].fn(spark, sf_dir), "LeftSemi")


def test_corr_scalar_subquery_becomes_agg_join(spark, sf_dir):
    df = REGISTRY["q_subquery_corr_scalar"].fn(spark, sf_dir)
    # decorrelated: an aggregate feeding a join on the correlation key
    assert has_node(df, "HashAggregate")
    assert has_node(df, "Join") or has_node(df, "HashJoin")


def test_q3_topk_heap_and_segment_pushdown(spark, sf_dir):
    df = REGISTRY["q_tpch_q3"].fn(spark, sf_dir)
    assert has_node(df, "TakeOrderedAndProject")
    assert any("c_mktsegment" in f for f in pushed_filters(df))


def test_q6_full_predicate_pushdown(spark, sf_dir):
    # the whole WHERE clause is range predicates — all three columns
    # must reach the parquet scan, and the scan must read only 4 cols
    df = REGISTRY["q_tpch_q6"].fn(spark, sf_dir)
    pf = " ".join(pushed_filters(df))
    for c in ("l_shipdate", "l_discount", "l_quantity"):
        assert c in pf, f"{c} not pushed: {pf}"
    assert scan_column_counts(df) == [4]


def test_q5_dims_broadcast_facts_shuffle(spark, sf_dir):
    df = REGISTRY["q_tpch_q5"].fn(spark, sf_dir)
    assert has_node(df, "BroadcastHashJoin")  # nation⋈region / supplier dim


def test_q10_topk_heap(spark, sf_dir):
    df = REGISTRY["q_tpch_q10"].fn(spark, sf_dir)
    assert has_node(df, "TakeOrderedAndProject")
    assert any("l_returnflag" in f for f in pushed_filters(df))


def test_q4_exists_is_semi_join(spark, sf_dir):
    df = REGISTRY["q_tpch_q4"].fn(spark, sf_dir)
    assert has_node(df, "LeftSemi")
    # lineitem side pruned to the 2 needed columns
    assert 2 in scan_column_counts(df)


def test_q18_in_is_semi_join_with_topk(spark, sf_dir):
    df = REGISTRY["q_tpch_q18"].fn(spark, sf_dir)
    assert has_node(df, "LeftSemi")
    assert has_node(df, "TakeOrderedAndProject")


def test_q19_disjunction_residuals_pushed(spark, sf_dir):
    # Catalyst must derive per-side prunable residuals from the OR-of-ANDs
    df = REGISTRY["q_tpch_q19"].fn(spark, sf_dir)
    pf = " ".join(pushed_filters(df))
    assert "p_brand" in pf, f"no part-side residual pushed: {pf}"
    assert "l_quantity" in pf, f"no lineitem-side residual pushed: {pf}"


def test_q22_anti_join_after_date_pushdown(spark, sf_dir):
    df = REGISTRY["q_tpch_q22"].fn(spark, sf_dir)
    assert has_node(df, "LeftAnti")
    assert any("o_orderdate" in f for f in pushed_filters(df))


def test_sql_frontend_same_physical_strategies(spark, sf_dir):
    # the SQL front end must land on the same physical operators the
    # DataFrame API gets: broadcast for the nation dim, hash aggregate
    df = REGISTRY["q_sql_revenue_by_nation"].fn(spark, sf_dir)
    assert has_node(df, "BroadcastHashJoin")
    assert has_node(df, "HashAggregate")


def test_q21_semi_anti_decorrelation(spark, sf_dir):
    df = REGISTRY["q_tpch_q21"].fn(spark, sf_dir)
    assert has_node(df, "LeftSemi")
    assert has_node(df, "LeftAnti")
    assert has_node(df, "TakeOrderedAndProject")


def test_dup_span_df_is_windowed_single_exchange(spark, sf_dir):
    # document frequency comes from a whole-partition window over the
    # span hash (one exchange), NOT a groupBy + join-back of the
    # exploded inverted index — and nothing exploded is ever broadcast.
    from .plan_helpers import formatted_plan

    df = REGISTRY["q_dup_span_docs"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert "Window" in plan
    assert plan.lower().count("hashpartitioning(s") <= 1, plan


def test_top_terms_df_side_not_broadcast(spark, sf_dir):
    # TF (source x term) joins DF (term) — the DF side is one row per
    # distinct term, unbounded and heavy-tailed at corpus scale (hapax
    # terms can't be pruned: df=1 maximizes tf*N/df), so it must NEVER
    # broadcast. Both sides leave their aggregations hash-partitioned
    # by term, so shuffle-hash is the free co-located strategy.
    df = REGISTRY["q_top_terms"].fn(spark, sf_dir)
    assert has_node(df, "ShuffledHashJoin")
    assert not has_node(df, "BroadcastHashJoin")


def test_bloom_bits_broadcast_and_probe_no_shuffle(spark, sf_dir):
    # the Bloom bit array and the exact key set are both broadcast; the
    # big probe side must never be shuffle-partitioned for the join.
    df = REGISTRY["q_bloom_prefilter"].fn(spark, sf_dir)
    assert has_node(df, "BroadcastHashJoin")
    assert not has_node(df, "SortMergeJoin")
    assert not has_node(df, "ShuffledHashJoin")


def test_funnel_single_key_partitioning(spark, sf_dir):
    # the chain must stay hash-aggregate + join with no global sort and
    # no cartesian blowup. (At test scale the tiny step sides broadcast
    # under the 64 MB threshold — that's size-based and flips to
    # shuffle-on-user_id at real scale; the invariants asserted here
    # are the scale-independent ones.)
    from .plan_helpers import formatted_plan

    df = REGISTRY["q_funnel_steps"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert "HashAggregate" in plan
    assert "TakeOrderedAndProject" not in plan
    assert "CartesianProduct" not in plan
    assert "Sort [" not in plan or "SortMergeJoin" in plan  # no standalone global sort


def test_pixel_stats_is_pure_map(spark, sf_dir):
    # encode->decode->stats is embarrassingly parallel: the only
    # allowed exchange is fan_out's ROUND-ROBIN rebalance of the
    # narrow single-split local scan (a no-op at real scale) — never a
    # keyed shuffle, which would mean the decode stopped being a map.
    from .plan_helpers import formatted_plan

    for name in ("q_multimodal_pixel_stats", "q_png_pixel_stats", "q_jpeg_pixel_stats"):
        plan = formatted_plan(REGISTRY[name].fn(spark, sf_dir))
        assert "hashpartitioning" not in plan.lower(), name
        assert "rangepartitioning" not in plan.lower(), name


def test_bucketed_join_no_exchange_on_key(spark, sf_dir):
    # co-bucketed tables: the SMJ must consume the bucketed scan output
    # directly — no hashpartitioning exchange on either join key.
    from .plan_helpers import formatted_plan

    df = REGISTRY["q_bucketed_join"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert "SortMergeJoin" in plan
    assert "hashpartitioning(o_custkey" not in plan
    assert "hashpartitioning(c_custkey" not in plan


def test_partition_pruned_scan_skips_directories(spark, sf_dir):
    from .plan_helpers import formatted_plan

    df = REGISTRY["q_partition_pruned_scan"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    # the predicate must land in PartitionFilters (directory skipping),
    # not in PushedFilters/row Filter
    assert "PartitionFilters" in plan
    import re as _re

    m = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_type" in m.group(1), plan[:2000]


def test_bm25_corpus_sides_never_broadcast(spark, sf_dir):
    # df (|Q| rows) and n (1 row) broadcast; the CORPUS-sized dl join
    # must be a shuffle join — same rule as the top_terms DF side.
    df = REGISTRY["q_bm25_topk"].fn(spark, sf_dir)
    assert has_node(df, "ShuffledHashJoin")
    assert has_node(df, "TakeOrderedAndProject")


def test_fuzzy_variant_join_not_broadcast(spark, sf_dir):
    # the deletion-variant self-join is corpus × corpus: equi-join on
    # the variant hash, never a broadcast of either exploded side.
    df = REGISTRY["q_fuzzy_join_edit1"].fn(spark, sf_dir)
    assert has_node(df, "ShuffledHashJoin")
    assert not has_node(df, "BroadcastHashJoin")


def test_embedding_neardup_band_join_not_broadcast(spark, sf_dir):
    # the banded corpus self-join must shuffle on (band_idx, band_val)
    # — broadcasting either exploded side would be the q_top_terms
    # class of scale killer (corpus-sized build side).
    df = REGISTRY["q_embedding_neardup_lsh"].fn(spark, sf_dir)
    assert has_node(df, "ShuffledHashJoin")
    assert not has_node(df, "BroadcastHashJoin")


def test_pii_redact_stays_jvm_side(spark, sf_dir):
    # the regexp pipeline must be pure native expressions: no Python
    # evaluation node anywhere, and the scan prunes to the 2 used
    # columns of customer's 5.
    df = REGISTRY["q_pii_redact"].fn(spark, sf_dir)
    assert not has_node(df, "ArrowEvalPython")
    assert not has_node(df, "BatchEvalPython")
    assert not has_node(df, "MapInPandas")
    assert scan_column_counts(df) == [2]


def test_kfold_assign_no_pre_agg_shuffle(spark, sf_dir):
    # fold is a scan-side projection: exactly ONE exchange (the rollup
    # itself), never a repartition before it.
    from .plan_helpers import formatted_plan

    import re

    df = REGISTRY["q_kfold_assign"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    # formatted mode mentions each node twice (tree + detail); count
    # distinct exchange NODES via the numbered detail entries.
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


def test_dynamic_partition_pruning_fires(spark, sf_dir):
    # the dim's tier filter must inject a runtime partition filter on
    # the fact scan — the 2-of-10,000-partitions star-join mechanism.
    from .plan_helpers import formatted_plan

    df = REGISTRY["q_dynamic_partition_pruning"].fn(spark, sf_dir)
    assert "dynamicpruning" in formatted_plan(df).lower()


def test_bucket_pruning_selects_one_bucket(spark, sf_dir):
    from facebook_ad_library_data_pipeline_spark.operators.storage import N_BUCKETS
    from .plan_helpers import simple_plan

    df = REGISTRY["q_bucket_pruned_lookup"].fn(spark, sf_dir)
    assert f"SelectedBucketsCount: 1 out of {N_BUCKETS}" in simple_plan(df)


def test_zorder_layout_prunes_nonleading_dim(spark, sf_dir):
    """The measured proof-of-benefit for z-ordering (r06 verdict item
    6): the same y-band predicate reads ~4× fewer rows out of parquet
    on the z-ordered layout than on the linear (x-sorted) layout,
    because z-files carry tile-bounded min/max stats on BOTH dims
    while linear files span the full y range. Scan metrics come from
    the executed plan — measured skipping, not an asserted claim."""
    from pyspark.sql import functions as F

    from facebook_ad_library_data_pipeline_spark.operators.storage import (
        ZPRUNE_Y_HI,
        ZPRUNE_Y_LO,
        zorder_benefit_dirs,
    )
    from .plan_helpers import scan_metrics

    lin_dir, z_dir = zorder_benefit_dirs(spark, sf_dir)

    def scanned_rows(path):
        df = (
            spark.read.parquet(path)
            .filter(F.col("y").between(ZPRUNE_Y_LO, ZPRUNE_Y_HI))
            .groupBy()
            .count()
        )
        (row,) = df.collect()
        (metrics,) = scan_metrics(df)
        return row["count"], metrics["numOutputRows"]

    lin_result, lin_scanned = scanned_rows(lin_dir)
    z_result, z_scanned = scanned_rows(z_dir)
    # Same answer from both layouts...
    assert lin_result == z_result > 0
    # ...but the z-ordered scan must skip the majority of row groups
    # (predicate covers 1 of 4 y-tiles → ~4 of 16 files survive), while
    # the linear layout reads essentially everything.
    assert z_scanned < lin_scanned
    assert z_scanned <= lin_scanned / 2, (z_scanned, lin_scanned)


def test_zorder_compaction_keeps_pruning_roundrobin_loses_it(spark, sf_dir):
    """The r07-verdict table-maintenance unification: compaction must
    not trade the small-files problem for a dead z-order. Measured from
    executed-plan scan metrics on the SAME y-band predicate:

    * the z-preserving compaction (repartitionByRange on the Morton
      value + sortWithinPartitions) reads no more rows than the
      fragmented input did — stats-based skipping survives the rewrite;
    * the round-robin control (q_compaction's shape) reads the WHOLE
      table — every output file spans the full y range, so file-level
      min/max stats prune nothing.

    All three layouts must agree on the answer, rows-exact."""
    from pyspark.sql import functions as F

    from facebook_ad_library_data_pipeline_spark.operators.storage import (
        ZPRUNE_Y_HI,
        ZPRUNE_Y_LO,
        zcompaction_dirs,
    )
    from .plan_helpers import scan_metrics

    frag_dir, z_dir, rr_dir = zcompaction_dirs(spark, sf_dir)

    def scanned(path):
        df = (
            spark.read.parquet(path)
            .filter(F.col("y").between(ZPRUNE_Y_LO, ZPRUNE_Y_HI))
            .groupBy()
            .count()
        )
        (row,) = df.collect()
        (metrics,) = scan_metrics(df)
        return row["count"], metrics["numOutputRows"], metrics["numFiles"]

    frag_result, frag_scanned, _ = scanned(frag_dir)
    z_result, z_scanned, z_files = scanned(z_dir)
    rr_result, rr_scanned, rr_files = scanned(rr_dir)
    total = spark.read.parquet(rr_dir).count()

    assert frag_result == z_result == rr_result > 0
    # Vanilla Spark parquet opens EVERY file (no catalog-level file
    # stats — that's Delta/Iceberg territory); skipping happens at ROW
    # GROUP granularity from each footer's min/max. numFiles therefore
    # equals the file count in all three layouts; numOutputRows is the
    # skipping metric.
    assert z_files == rr_files
    # round-robin: clustering destroyed — every row group spans the
    # full y range, so nothing skips and the whole table is scanned
    assert rr_scanned == total
    # z-preserving: the y-band (half the z range) still prunes. The
    # matched row groups hold total/2 rows ± boundary effects:
    # repartitionByRange's SAMPLED split points make group sizes
    # slightly uneven (seen live: the 2-of-4 matched groups holding
    # 756 of 1500 rows), and a split point landing inside the band
    # admits one extra straddling group — both are granularity
    # coarsening, not clustering loss. 0.75*total is the first level
    # that would mean MORE than one extra group of slop.
    assert z_scanned <= 0.75 * total, (z_scanned, total)
    # Compaction necessarily COARSENS skipping granularity (4 wide
    # files can't skip as finely as 40 narrow ones), so the fragmented
    # input prunes at least as well — that residual gap is the
    # open/footer-cost trade, not a clustering loss.
    assert frag_scanned <= z_scanned, (frag_scanned, z_scanned)


def test_recursive_cte_uses_engine_recursion(spark, sf_dir):
    """q_sql_recursive_cte must execute through Spark's native
    recursion operator (UnionLoop) — the point of the query is the
    engine-evaluated fixpoint, not a hand-unrolled union."""
    from facebook_ad_library_data_pipeline_spark.operators.sql_frontend import (
        q_sql_recursive_cte,
    )

    from .plan_helpers import simple_plan

    df = q_sql_recursive_cte(spark, sf_dir)
    assert "unionloop" in simple_plan(df).lower()


def test_agg_pushdown_reaches_parquet_footer(spark, sf_dir):
    """q_agg_pushdown_scan's whole point is PushedAggregation — the
    min/max/count answered from footer stats, not data pages. Assert
    the pushed list names all three; if the V2/pushdown confs stop
    holding at plan time this reverts silently to a full scan, which
    is exactly the regression to catch."""
    from facebook_ad_library_data_pipeline_spark.operators.storage import q_agg_pushdown_scan
    from .plan_helpers import formatted_plan

    df = q_agg_pushdown_scan(spark, sf_dir)
    plan = formatted_plan(df)
    assert "PushedAggregation" in plan
    for frag in ("MIN(o_orderkey)", "MAX(o_orderkey)", "COUNT(*)"):
        assert frag in plan, frag


def test_schema_evolution_merge_vs_declared(spark, sf_dir):
    """Documents WHY q_schema_evolution_read reads through a DECLARED
    unified schema instead of mergeSchema: (a) mergeSchema=true union
    of the two epochs fails with CANNOT_MERGE_SCHEMAS on the INT32 vs
    INT64 key — vanilla parquet schema merging only handles
    added/reordered fields, not widening; (b) for the added-column-only
    half (epoch 2 read alone vs with mergeSchema against a same-typed
    epoch) mergeSchema DOES null-fill correctly. The declared-schema
    read's value correctness is the registered query's oracle's job;
    here we pin the failure mode that forced the design."""
    import pytest

    from facebook_ad_library_data_pipeline_spark.operators.storage import (
        evolved_epoch_dirs,
    )

    d = evolved_epoch_dirs(spark, sf_dir)
    with pytest.raises(Exception, match="CANNOT_MERGE_SCHEMAS"):
        spark.read.option("mergeSchema", "true").parquet(d).schema

    # added-column evolution alone (same key type in both file sets)
    # IS mergeable: epoch=1 files vs epoch=2 files re-cast to int
    import tempfile
    from pathlib import Path

    with tempfile.TemporaryDirectory() as tmp:
        tmp = Path(tmp)
        e2 = spark.read.schema(
            "o_orderkey bigint, o_totalprice double, o_orderpriority string"
        ).parquet(f"{d}/epoch=2")
        e2.selectExpr(
            "cast(o_orderkey AS int) AS o_orderkey",
            "o_totalprice",
            "o_orderpriority",
        ).write.parquet(str(tmp / "epoch=2"))
        import shutil

        shutil.copytree(f"{d}/epoch=1", tmp / "epoch=1")
        merged = spark.read.option("mergeSchema", "true").parquet(str(tmp))
        assert dict(merged.dtypes)["o_orderpriority"] == "string"
        n_old = merged.filter(
            "epoch = 1 AND o_orderpriority IS NULL"
        ).count()
        assert n_old == merged.filter("epoch = 1").count() > 0
        assert merged.count() == (
            spark.read.parquet(f"{sf_dir}/orders.parquet").count()
        )


def test_dynamic_partition_overwrite_immutability(spark, sf_dir):
    """The byte-level half of q_partition_overwrite_dynamic's contract
    (the query's oracle proves the VALUES spliced correctly): dynamic
    mode must leave the four untouched partitions' file lists
    byte-identical (same names, sizes, mtimes — nothing re-listed or
    rewritten) and must fully replace the touched partition's files.
    Static mode would truncate all five — the difference between
    rewriting one day and rewriting the table at 100 TB."""
    from facebook_ad_library_data_pipeline_spark.operators.storage import (
        _DPO_AUDIT,
        DPO_TOUCHED,
        dpo_events_dir,
    )

    audit = _DPO_AUDIT[dpo_events_dir(spark, sf_dir)]  # build + overwrite, once
    before, after = audit["before"], audit["after"]
    touched = f"event_type={DPO_TOUCHED}"
    assert touched in before and touched in after
    assert set(before) == set(after), "partition directory set changed"
    for part in before:
        if part == touched:
            continue
        assert before[part] == after[part], (
            f"untouched partition {part} was modified by the dynamic "
            f"overwrite: {before[part]} -> {after[part]}"
        )
    old_names = {n for n, _, _ in before[touched]}
    new_names = {n for n, _, _ in after[touched]}
    assert new_names and old_names.isdisjoint(new_names), (
        "touched partition must be fully replaced with new files"
    )


def test_parquet_bloom_filter_skips_scattered_row_groups(spark, sf_dir):
    """Measured proof-of-benefit for parquet column bloom filters: the
    same unique-key IN lookup reads several-fold fewer rows out of the
    bloom-indexed layout than the byte-identical plain one, on a
    layout hash-scattered so min/max stats can skip NOTHING. Scan
    metrics come from the executed plan — measured skipping, not an
    asserted claim (the q_zorder_pruned_scan analogue for the
    unclustered-key case)."""
    from pyspark.sql import functions as F

    from facebook_ad_library_data_pipeline_spark.operators.storage import (
        BLOOM_LOOKUP_KEYS,
        bloom_benefit_dirs,
    )
    from .plan_helpers import scan_metrics

    plain_dir, bloom_dir = bloom_benefit_dirs(spark, sf_dir)

    def scanned_rows(path):
        df = spark.read.parquet(path).filter(
            F.col("o_orderkey").isin(*BLOOM_LOOKUP_KEYS)
        )
        rows = df.collect()
        (metrics,) = scan_metrics(df)
        return sorted(r["o_orderkey"] for r in rows), metrics["numOutputRows"]

    plain_result, plain_scanned = scanned_rows(plain_dir)
    bloom_result, bloom_scanned = scanned_rows(bloom_dir)
    # Same answer from both layouts...
    assert plain_result == bloom_result == sorted(BLOOM_LOOKUP_KEYS)
    # ...but the plain layout reads everything (scattered min/max spans
    # the full key range in every row group) while the bloom layout
    # reads only the few groups whose filter admits a key.
    assert bloom_scanned < plain_scanned
    assert bloom_scanned <= plain_scanned / 2, (bloom_scanned, plain_scanned)


def test_file_metadata_matches_filesystem(spark, sf_dir):
    """The non-SQL half of q_file_metadata_lineage: _metadata's
    file_size and file_modification_time are the FILESYSTEM's truth
    for every physical file of the layout — the fields an incremental
    pipeline keys its "process only new files" logic on."""
    import os

    from pyspark.sql import functions as F

    from facebook_ad_library_data_pipeline_spark.operators.storage import (
        lineage_events_dir,
    )

    path = lineage_events_dir(spark, sf_dir)
    meta = (
        spark.read.parquet(path)
        .select(
            F.col("_metadata.file_path").alias("p"),
            F.col("_metadata.file_size").alias("sz"),
            F.col("_metadata.file_modification_time").cast("long").alias("mt"),
        )
        .distinct()
        .collect()
    )
    assert len(meta) == 5  # one physical file per event_type partition
    for r in meta:
        local = r["p"].removeprefix("file://").removeprefix("file:")
        st = os.stat(local)
        assert r["sz"] == st.st_size, (local, r["sz"], st.st_size)
        # parquet mtime is millisecond-truncated; compare at 1 s grain
        assert abs(r["mt"] - int(st.st_mtime)) <= 1, (local, r["mt"], st.st_mtime)


def test_blocklist_filter_shuffle_free(spark, sf_dir):
    # the dictionary rides as a literal array into one projection —
    # any exchange means the filter degraded to an explode+join
    from .plan_helpers import formatted_plan

    plan = formatted_plan(REGISTRY["q_blocklist_filter"].fn(spark, sf_dir))
    assert "hashpartitioning" not in plan.lower()
    assert "rangepartitioning" not in plan.lower()


def test_semdedup_pair_stage_single_cluster_shuffle(spark, sf_dir):
    # cluster assignment is a map (broadcast seed matmul); the only
    # keyed exchanges allowed are on cluster_id (the pair stage) and
    # the final verdict join key — never an all-pairs cartesian
    from .plan_helpers import formatted_plan

    plan = formatted_plan(REGISTRY["q_semdedup"].fn(spark, sf_dir))
    assert "cartesianproduct" not in plan.lower()
    assert "broadcastnestedloop" not in plan.lower()


def test_forget_cascade_deletion_sets_broadcast(spark, sf_dir):
    # the deletion-request set must broadcast into the fact anti-joins
    # (it is always the small side at scale); the anti joins must stay
    # anti
    df = REGISTRY["q_forget_cascade"].fn(spark, sf_dir)
    assert has_node(df, "BroadcastHashJoin")
    assert has_node(df, "LeftAnti")
    assert not has_node(df, "SortMergeJoin")


def test_mad_stats_broadcast_back(spark, sf_dir):
    # per-key stats tables join back broadcast — a SortMergeJoin here
    # would shuffle the fact twice for a 5-row stats side
    df = REGISTRY["q_mad_outliers"].fn(spark, sf_dir)
    assert has_node(df, "BroadcastHashJoin")
    assert not has_node(df, "SortMergeJoin")


def test_cooccurrence_topk_heap(spark, sf_dir):
    # deterministic top-20 must be a heap, never a global sort
    df = REGISTRY["q_token_cooccurrence"].fn(spark, sf_dir)
    assert has_node(df, "TakeOrderedAndProject")


# (binaryFile listing-level decoy pruning is asserted in
# tests/test_web_governance.py::test_binaryfile_glob_excludes_decoys,
# which shares the same fixture — no separate copy here)


def test_rank_multifactor_topk_heap_and_broadcast_count(spark, sf_dir):
    # top-15 must be a heap, never a full sort; the corpus-count side
    # of the creative-lookup modulo join is 1 row and must broadcast
    df = REGISTRY["q_rank_multifactor"].fn(spark, sf_dir)
    assert has_node(df, "TakeOrderedAndProject")
    assert has_node(df, "BroadcastHashJoin") or has_node(df, "BroadcastNestedLoopJoin")


def test_rank_fusion_retrievers_end_in_topk(spark, sf_dir):
    # both retrieval arms cut to depth-20 via TakeOrderedAndProject
    # BEFORE any window/join; the fused windows run over constant-size
    # lists, so no rangepartitioning (global sort) may appear
    from .plan_helpers import formatted_plan

    df = REGISTRY["q_rank_fusion"].fn(spark, sf_dir)
    assert has_node(df, "TakeOrderedAndProject")
    plan = formatted_plan(df)
    assert "rangepartitioning" not in plan.lower()


def test_html_extract_shuffle_free(spark, sf_dir):
    # synth + cascade is one codegen'd projection over the scan — any
    # exchange means a regex step degraded to a shuffle-bearing shape
    from .plan_helpers import formatted_plan

    plan = formatted_plan(REGISTRY["q_html_extract"].fn(spark, sf_dir))
    assert "hashpartitioning" not in plan.lower()
    assert "rangepartitioning" not in plan.lower()


def test_phrase_search_filters_before_exchange(spark, sf_dir):
    # the per-term postings filters must sit below the join exchange
    # (shuffle volume = matching postings, not the corpus token count),
    # and the posting-list intersection must never broadcast or go
    # cartesian (an exploded index never fits the broadcast budget)
    from .plan_helpers import formatted_plan

    plan = formatted_plan(REGISTRY["q_phrase_search"].fn(spark, sf_dir))
    assert "cartesianproduct" not in plan.lower()
    assert "broadcastnestedloop" not in plan.lower()
    import re

    # every exchange must be on (doc_id, p) or doc_id — i.e. AFTER the
    # term filter projected postings down to (doc_id, p)
    for m in re.finditer(r"hashpartitioning\(([^)]*)\)", plan):
        args = m.group(1)
        assert "term" not in args, f"exchange carries raw terms: {args}"


def test_url_canonical_dedup_single_exchange(spark, sf_dir):
    # parse/normalize is one codegen'd projection; the ONLY exchange
    # is the groupBy on the canonical key
    from .plan_helpers import formatted_plan

    plan = formatted_plan(REGISTRY["q_url_canonical_dedup"].fn(spark, sf_dir))
    assert plan.lower().count("hashpartitioning(") == 1
    assert plan.lower().count("hashpartitioning(canonical_url") == 1
    assert "rangepartitioning" not in plan.lower()


def test_domain_affinity_target_broadcast_corpus_unhinted(spark, sf_dir):
    # The TARGET model aggregates (curated slice — bounded by design)
    # broadcast by hint; the CORPUS aggregates grow ~vocab² so they are
    # deliberately UNhinted (r13 ADVICE) — AQE picks broadcast at test
    # scale and a shuffle join past the threshold. The static plan must
    # show the target-side broadcasts and must NOT show a broadcast
    # HINT on the corpus joins (we inspect the analyzed plan for the
    # hint, since the physical join choice is AQE's).
    df = REGISTRY["q_domain_affinity"].fn(spark, sf_dir)
    assert has_node(df, "BroadcastHashJoin")  # target side still hinted
    # the analyzed plan carries a broadcast hint ONLY for the joins we
    # hinted: tcounts/tprefix + the two 1-row vocab crossJoins = 4
    # (were 6 before the corpus hints were dropped)
    hints = df._jdf.queryExecution().analyzed().toString().count(
        "strategy=broadcast"
    )
    assert hints == 4, hints


def test_drift_psi_single_band_exchange_one_scan(spark, sf_dir):
    # the fact table collapses to |bands| rows in ONE hash exchange
    # and is scanned ONCE (totals from an unbounded window over the
    # same rows, not a re-derived 1-row aggregate); the whole 20-step
    # integer-log pipeline is projections over that constant-size
    # grid — no joins at all, no range partitioning
    from .plan_helpers import formatted_plan

    import re

    df = REGISTRY["q_drift_psi"].fn(spark, sf_dir)
    plan = formatted_plan(df).lower()
    assert plan.count("hashpartitioning(band") == 1
    # the formatted plan lists each node in the tree AND the detail
    # section — one physical scan = exactly one "(n) scan parquet"
    assert len(re.findall(r"\(\d+\) scan parquet", plan)) == 1
    assert "join" not in plan
    assert "rangepartitioning" not in plan


def test_drift_ks_single_cents_exchange_one_scan(spark, sf_dir):
    # same shape as PSI: one distinct-cents exchange, one fact scan
    # (running sums and totals share the single-partition window pass)
    from .plan_helpers import formatted_plan

    import re

    df = REGISTRY["q_drift_ks"].fn(spark, sf_dir)
    plan = formatted_plan(df).lower()
    assert plan.count("hashpartitioning(cents") == 1
    assert len(re.findall(r"\(\d+\) scan parquet", plan)) == 1
    assert "join" not in plan


def test_kmeans_assignment_is_joinless(spark, sf_dir):
    # centroids are LITERALS baked into the plan, so the assignment
    # stage has no join operator of any kind; the only exchanges are
    # the K-row update aggregates (map-side combined) — never a
    # posexplode shuffle of the corpus
    from .plan_helpers import formatted_plan

    df = REGISTRY["q_kmeans_lloyd"].fn(spark, sf_dir)
    plan = formatted_plan(df).lower()
    assert "join" not in plan, [l for l in plan.splitlines() if "join" in l][:3]
    assert plan.count("hashpartitioning(cid") <= 1  # one update aggregate


def test_int8_quant_single_dim_exchange_one_scan(spark, sf_dir):
    # calibration window and final aggregate share ONE
    # hashpartitioning(dim) exchange (groupBy on dim alone reuses the
    # window's partitioning); one fact scan, no joins
    import re

    from .plan_helpers import formatted_plan

    df = REGISTRY["q_embedding_int8_quant"].fn(spark, sf_dir)
    plan = formatted_plan(df).lower()
    assert plan.count("hashpartitioning(dim") == 1
    assert len(re.findall(r"\(\d+\) scan parquet", plan)) == 1
    assert "join" not in plan


def test_event_paths_bounded_agg_and_topk_heap(spark, sf_dir):
    # one user_id exchange for the lead() window, one exchange on the
    # |event_types|^3-bounded path key, and a TakeOrderedAndProject
    # heap — never a global sort
    from .plan_helpers import formatted_plan

    df = REGISTRY["q_event_paths_topk"].fn(spark, sf_dir)
    plan = formatted_plan(df).lower()
    assert plan.count("hashpartitioning(user_id") == 1
    assert plan.count("hashpartitioning(path") == 1
    assert "takeorderedandproject" in plan
    assert "rangepartitioning" not in plan


def test_power_iter_returned_plan_is_corpus_free(spark, sf_dir):
    # the corpus is scanned exactly ONCE — inside the query's single
    # Gram-fold collect — and the RETURNED plan is just the 64-row
    # driver-computed iterate (one local source, zero parquet scans,
    # zero joins/exchanges): no iteration can ever re-scan the corpus,
    # at any scale. (Until r16 the iteration unrolled in-plan as
    # POW_ITERS joins over LocalRelations — moved driver-side in the
    # optimization round; this pin also guards against the unrolled
    # plan creeping back.)
    import re

    from .plan_helpers import formatted_plan

    df = REGISTRY["q_gram_power_iter"].fn(spark, sf_dir)
    plan = formatted_plan(df).lower()
    assert len(re.findall(r"\(\d+\) scan parquet", plan)) == 0, "corpus leaked into the iteration plan"
    # the only source is the driver-computed 64-row iterate
    assert len(re.findall(r"\(\d+\) scan existingrdd", plan)) == 1
    n_joins = len(re.findall(r"\(\d+\) (?:sortmergejoin|broadcasthashjoin|shuffledhashjoin)", plan))
    assert n_joins == 0, n_joins
    assert "exchange" not in plan, "the returned plan should be exchange-free"


def test_pca_project_single_map_pass_no_exchange(spark, sf_dir):
    # r17 contract (supersedes the r15 partial-agg-before-exchange
    # pin): the projection folds Σqv·v and Σqv² per ROW over the
    # zipped (embedding, iterate-literal) arrays, so the returned plan
    # is ONE corpus scan feeding a codegen'd Project — zero exchanges,
    # zero joins, zero aggregates. A refactor that reintroduces the
    # posexplode→groupBy reassembly (a corpus-sized shuffle at 100 TB)
    # fails here, not at the bench.
    import re

    from .plan_helpers import (
        formatted_plan,
    )

    df = REGISTRY["q_pca_project"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, "one corpus scan"
    low = plan.lower()
    assert "exchange" not in low, "projection must not shuffle the corpus"
    assert not re.search(r"sortmergejoin|broadcasthashjoin|shuffledhashjoin", low)
    assert "hashaggregate" not in low and "sortaggregate" not in low


def test_stream_reservoir_single_keyed_exchange_hash_jvm_side(spark, sf_dir):
    # contract for q_stream_tws_reservoir: the micro-batch plan pays
    # exactly ONE exchange — the keyed feed every stateful operator
    # requires — and the salted-Knuth hash + integer cents are
    # computed in the JVM projection BELOW that exchange (whole-stage
    # codegen), never inside the Python processor.
    import re

    import pytest

    from facebook_ad_library_data_pipeline_spark.streaming import stateful
    from facebook_ad_library_data_pipeline_spark.streaming.incremental import (
        split_events_dir_ntile,
        split_stream,
    )

    if not stateful.tws_runtime_available():
        pytest.skip("transformWithStateInPandas runtime unavailable")
    scoped = stateful._tws_scoped_session(spark)
    prev = scoped.conf.get("spark.sql.shuffle.partitions")
    scoped.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        events = split_stream(scoped, split_events_dir_ntile(scoped, sf_dir))
        out = stateful.bounded_reservoir_tws(events)
        q = (
            out.writeStream.outputMode("update")
            .format("memory")
            .queryName("res_plan_contract")
            .start()
        )
        try:
            q.processAllAvailable()
            plan = q._jsq.explainInternal(False)
        finally:
            q.stop()
    finally:
        scoped.conf.set("spark.sql.shuffle.partitions", prev)
    assert len(re.findall(r"Exchange hashpartitioning\(user_id", plan)) == 1, plan
    assert "REQUIRED_BY_STATEFUL_OPERATOR" in plan
    assert "TransformWithStateInPySpark" in plan
    # hash + cents in the JVM projection below the exchange: the Knuth
    # multiplier and the cents FLOOR appear in the exchange's child
    # subtree, so the shuffle carries 4 narrow longs and the Python
    # processor only merges pre-computed values
    below = plan.split("Exchange hashpartitioning", 1)[1]
    assert "2654435761" in below and "FLOOR" in below, below[:800]


def test_pca_deflate_returned_plan_is_corpus_free(spark, sf_dir):
    # the corpus is scanned exactly ONCE — inside power_grid's
    # Gram-fold collect — and the RETURNED plan (final assembly over
    # the materialized iterates + the trace re-derivation) contains
    # zero parquet scans, so neither the deflation nor chain 2 can
    # ever re-scan the corpus, at any scale
    import re

    from .plan_helpers import formatted_plan

    df = REGISTRY["q_pca_deflate"].fn(spark, sf_dir)
    plan = formatted_plan(df).lower()
    assert len(re.findall(r"\(\d+\) scan parquet", plan)) == 0, "corpus leaked into the deflation plan"
    # r16: the deflation + both chains are driver-side; the returned
    # plan is one projected LocalRelation — exchange- and join-free
    assert "exchange" not in plan, "the returned plan should be exchange-free"
    assert len(re.findall(r"\(\d+\) scan existingrdd", plan)) == 1


def test_quantile_sketch_two_scans_window_group_limit(spark, sf_dir):
    # contract: the sketch pass + the exact-rank audit pass are TWO
    # corpus scans (est's per-group constants ride through the audit
    # aggregate — a re-join would re-inline the sketch subtree into a
    # third scan), the rank ≤ K filter compiles to WindowGroupLimit
    # (per-group K-row heaps, no full per-group sort), and the only
    # keyed exchanges are the two event_type hash partitionings.
    import re

    from .plan_helpers import formatted_plan

    df = REGISTRY["q_quantile_sketch"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2, "sketch + audit"
    assert "WindowGroupLimit" in plan
    assert plan.lower().count("hashpartitioning(event_type") == 2


def test_kmv_distinct_one_scan_shared_partitioning(spark, sf_dir):
    # contract: one corpus scan → map-side-combined distinct on
    # (event_type, key) → ONE event_type exchange feeding BOTH the
    # rank window and the final aggregate (partitioning reuse — no
    # third keyed exchange); the only other exchange is the bounded
    # |event_types|-row orderBy.
    import re

    from .plan_helpers import formatted_plan

    df = REGISTRY["q_kmv_distinct"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert plan.lower().count("hashpartitioning(event_type") == 2, "distinct + window feed only"
    assert plan.lower().count("rangepartitioning") == 1, "bounded final sort only"
