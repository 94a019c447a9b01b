"""Query registry: one place where a Spark query and its DuckDB oracle
are declared together, so column names/aliases can never drift apart
(the driver's compare sorts columns by name before hashing values).

Usage::

    @query("q_topk", oracle="SELECT ... AS revenue ... LIMIT 10")
    def q_topk(spark, sf_dir):
        return ...DataFrame...

Queries without an ``oracle`` get the driver's weaker rows-only check
(reserved for genuinely non-SQL-expressible ops: LSH, streaming,
pandas-UDF feature extraction).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# Modules that register queries on import (ordered: parity → relational
# → llm-data → streaming).
_QUERY_MODULES = [
    "facebook_ad_library_data_pipeline_spark.operators.flagship",
    "facebook_ad_library_data_pipeline_spark.operators.transform",
    "facebook_ad_library_data_pipeline_spark.operators.quality",
    "facebook_ad_library_data_pipeline_spark.operators.dedup",
    "facebook_ad_library_data_pipeline_spark.operators.report",
    "facebook_ad_library_data_pipeline_spark.operators.joins",
    "facebook_ad_library_data_pipeline_spark.operators.aggregates",
    "facebook_ad_library_data_pipeline_spark.operators.windows",
    "facebook_ad_library_data_pipeline_spark.operators.setops",
    "facebook_ad_library_data_pipeline_spark.operators.asof",
    "facebook_ad_library_data_pipeline_spark.functions.scalars",
    "facebook_ad_library_data_pipeline_spark.functions.json_fns",
    "facebook_ad_library_data_pipeline_spark.functions.text",
    "facebook_ad_library_data_pipeline_spark.functions.similarity",
    "facebook_ad_library_data_pipeline_spark.operators.dedup_near",
    "facebook_ad_library_data_pipeline_spark.operators.extras",
    "facebook_ad_library_data_pipeline_spark.operators.subqueries",
    "facebook_ad_library_data_pipeline_spark.operators.tpch",
    "facebook_ad_library_data_pipeline_spark.operators.sketches",
    "facebook_ad_library_data_pipeline_spark.operators.sql_frontend",
    "facebook_ad_library_data_pipeline_spark.operators.cdc",
    "facebook_ad_library_data_pipeline_spark.operators.skew",
    "facebook_ad_library_data_pipeline_spark.operators.bloom",
    "facebook_ad_library_data_pipeline_spark.operators.storage",
    "facebook_ad_library_data_pipeline_spark.operators.cogroup",
    "facebook_ad_library_data_pipeline_spark.functions.udtf_fns",
    "facebook_ad_library_data_pipeline_spark.operators.timeseries",
    "facebook_ad_library_data_pipeline_spark.operators.curation",
    "facebook_ad_library_data_pipeline_spark.operators.components",
    "facebook_ad_library_data_pipeline_spark.operators.training_prep",
    "facebook_ad_library_data_pipeline_spark.functions.arrays",
    "facebook_ad_library_data_pipeline_spark.functions.arrow_fns",
    "facebook_ad_library_data_pipeline_spark.functions.ivf",
    "facebook_ad_library_data_pipeline_spark.functions.pq",
    "facebook_ad_library_data_pipeline_spark.functions.ann_recall",
    "facebook_ad_library_data_pipeline_spark.functions.knn_join",
    "facebook_ad_library_data_pipeline_spark.functions.ir",
    "facebook_ad_library_data_pipeline_spark.functions.lm",
    "facebook_ad_library_data_pipeline_spark.functions.embedstats",
    "facebook_ad_library_data_pipeline_spark.operators.fuzzy",
    "facebook_ad_library_data_pipeline_spark.operators.profile",
    "facebook_ad_library_data_pipeline_spark.operators.splits",
    "facebook_ad_library_data_pipeline_spark.operators.pagerank",
    "facebook_ad_library_data_pipeline_spark.functions.redact",
    "facebook_ad_library_data_pipeline_spark.functions.bpe",
    "facebook_ad_library_data_pipeline_spark.streaming.events",
    "facebook_ad_library_data_pipeline_spark.streaming.joins",
    "facebook_ad_library_data_pipeline_spark.streaming.stateful",
    "facebook_ad_library_data_pipeline_spark.streaming.incremental",
    "facebook_ad_library_data_pipeline_spark.streaming.observe",
    "facebook_ad_library_data_pipeline_spark.streaming.state_reader",
    "facebook_ad_library_data_pipeline_spark.sources.roundtrip",
    "facebook_ad_library_data_pipeline_spark.sources.pysource",
    "facebook_ad_library_data_pipeline_spark.sources.binaryfiles",
    "facebook_ad_library_data_pipeline_spark.multimodal.media",
    "facebook_ad_library_data_pipeline_spark.multimodal.phash",
    "facebook_ad_library_data_pipeline_spark.functions.web",
    "facebook_ad_library_data_pipeline_spark.functions.semdedup",
    "facebook_ad_library_data_pipeline_spark.operators.governance",
    "facebook_ad_library_data_pipeline_spark.operators.statistics",
    "facebook_ad_library_data_pipeline_spark.functions.html",
    "facebook_ad_library_data_pipeline_spark.operators.kmeans",
]


# Driver-evidence priority: the correctness driver evaluates queries()
# in registration order with a ~50-entry window, so rounds 1-2 only ever
# checked the first 50 registrations and 58 oracle-backed queries had
# zero driver evidence despite passing the same oracles locally.
# load_all() returns the registry reordered so never-driver-checked
# oracle-backed queries fill the window first (a name absent from the
# registry is an error — a typo here would silently shrink the re-prove
# window; everything else follows in registration order, already
# double-proven r01/r02 queries last). Rotate this list each round to
# move the remaining unchecked tail through the window.
_PRIORITY = [
    # ---- round-16 window ----
    # Window arithmetic (r15 verdict items 1-2): the driver cuts at 50
    # rows. 3 new r16 registrations + the 4 below-cut r15 tail
    # (q_stream_tws_reservoir + q_pca_project had NO driver row ever;
    # q_lang_id + q_drift_psi were the r15 ADVICE touches proven by
    # proxy) + the 40 queries whose newest row is r10 + the oldest
    # r11 rows filling to the cut (the last listed r11 name sits at
    # position 51, first in line for r17) = exactly 50. After this
    # window NO
    # driver row in the registry is older than r11 and no query is
    # driver-unseen — the evidence ledger's minimum possible state.
    # New r16 registrations first (changed/new code proves earliest):
    "q_pca_deflate",  # second principal direction via exact-int rank-1 deflation
    "q_quantile_sketch",  # portable bottom-k quantile sketch + exact rank audit
    "q_kmv_distinct",  # portable KMV cardinality sketch + tolerance audit
    # The four below-cut r15 queries (judge-verified MATCH last
    # session; zero driver rows for the first two):
    "q_stream_tws_reservoir",
    "q_pca_project",
    "q_lang_id",
    "q_drift_psi",
    # Evidence-freshness rotation: the 40 queries whose newest driver
    # row is r10 (alphabetical):
    "q_agg_pushdown_scan",
    "q_audio_pcm_stats",
    "q_bpe_tokenize",
    "q_bucket_pruned_lookup",
    "q_compaction",
    "q_compaction_zorder",
    "q_countmin_heavy_hitters",
    "q_dynamic_partition_pruning",
    "q_group_reservoir",
    "q_histogram_prices",
    "q_image_resize",
    "q_ivf_cell_stats",
    "q_kfold_assign",
    "q_knn_join",
    "q_left_interval_join",
    "q_partition_pruned_scan",
    "q_pq_codes",
    "q_profile_columns",
    "q_python_datasource_stream_part",
    "q_sample_stratified",
    "q_sql_collation",
    "q_sql_parameterized",
    "q_sql_recursive_cte",
    "q_sql_scripting",
    "q_sql_udf",
    "q_state_change_feed",
    "q_state_join_read",
    "q_state_metadata",
    "q_state_store_read",
    "q_state_time_travel",
    "q_state_tws_read",
    "q_stream_available_now",
    "q_stream_group_timeout",
    "q_stream_incremental_rollup",
    "q_stream_tumbling_rocksdb",
    "q_theta_sketch_sets",
    "q_udtf_polymorphic_ngrams",
    "q_video_frame_decode",
    "q_xml_extract",
    "q_zorder_pruned_scan",
    # ...and the oldest r11 rows fill the window (the driver cuts at
    # 50, so the last name lands just below it and leads r17):
    "q_agg_stats",
    "q_asof_join",
    "q_classify",
    "q_conditional_pack",

    # ---- round-15 window ----
    # Window arithmetic (r14 verdict items 1-2): the driver cuts at 50
    # rows. 1 new r15 registration + 1 r15-ADVICE-changed query + the
    # 3 never-driver-checked r14 wave-2 additions + the 45 queries
    # whose newest row is r06-r09 (25+10+6+4) = exactly 50. After this
    # window NO driver row in the registry is older than r10 — the
    # standing trajectory target, met. The other two r15 ADVICE
    # touches do NOT take slots: q_drift_psi's change is import-only
    # (no plan change) and q_lang_id's NULL-text score pin flows
    # through the SHARED detector/SQL definitions that in-window
    # q_label_agreement also compiles (functions/text.py detected_col
    # + _LANG_SQL_SCORES) — both sit immediately below the cut to
    # lead r16 with the wave-2 streaming addition.
    # New r15 registration first (changed/new code proves earliest):
    "q_gram_power_iter",  # top eigenvector of the Gram: in-plan unrolled int matvec
    # r15-ADVICE-changed after its r14 row (overflow guard moved to the
    # shared guard_product_int64 — functions/guards.py):
    "q_drift_ks",
    # The three r14 wave-2 registrations the r14 window cut at exactly
    # 50 (judge-verified at sf0.01 last session, but zero DRIVER rows;
    # q_label_agreement also re-proves the r15 NULL-text detector pin
    # and the shared overflow-guard refactor):
    "q_embedding_int8_quant",
    "q_event_paths_topk",
    "q_label_agreement",
    # Evidence-freshness rotation: the 25 queries whose newest driver
    # row is r06 (alphabetical):
    "q_ann_lsh_topk",
    "q_attribution_last_touch",
    "q_embedding_neardup_lsh",
    "q_join_null_safe",
    "q_minhash_lsh_pairs",
    "q_pagerank_neardup",
    "q_peak_concurrency",
    "q_python_datasource_scan",
    "q_python_datasource_stream",
    "q_rolling_zscore",
    "q_sequence_gaps",
    "q_session_dynamic_gap",
    "q_simhash_pairs",
    "q_sql_pipe_syntax",
    "q_stream_dedup_watermark",
    "q_stream_full_outer_join",
    "q_stream_left_outer_join",
    "q_stream_semi_join",
    "q_stream_session",
    "q_stream_session_dynamic",
    "q_stream_tumbling_append",
    "q_token_entropy",
    "q_top_terms",
    "q_variant_json",
    "q_zorder_layout",
    # ...the 10 whose newest row is r07:
    "q_ann_recall",
    "q_approx_distinct",
    "q_bm25_topk",
    "q_fuzzy_join_edit1",
    "q_hll_partial_merge",
    "q_jpeg_pixel_stats",
    "q_knn_join_lsh",
    "q_observe_reconcile",
    "q_percentiles",
    "q_stream_sliding",
    # ...the 6 whose newest row is r08:
    "q_ann_bucket_stats",
    "q_lang_id_udf",
    "q_minhash_signatures",
    "q_multimodal_features",
    "q_png_pixel_stats",
    "q_simhash_fingerprints",
    # ...the 4 whose newest row is r09 (window rows 47-50):
    "q_pii_redact",
    "q_sample_deterministic",
    "q_shard_assign",
    "q_weighted_sample",
    # (The four r15 below-cut entries that used to sit here — the
    # wave-2/3 additions and the two ADVICE touches — moved into the
    # r16 window above, as planned.)
    # ---- round-14 window ----
    # Window arithmetic (r13 verdict items 1-2): the driver cuts at 50
    # rows. 2 new r14 registrations + the 4 never-driver-checked r13
    # additions + the 4 queries whose code/oracle changed in r13 after
    # their last (r12) driver row + the 39 queries whose newest row is
    # r05 + 1 r06 row (the bench-adjudication target) = exactly 50.
    # After this window NO driver row in the registry is older than
    # r06, and the remaining staleness tail is 25 r06 + 10 r07 + 6 r08
    # + 4 r09 = 45 rows — it fits r15's window with 5 slots spare, so
    # "none older than r10 after r15" is reachable on schedule.
    # New r14 registrations (changed queries go FIRST so an early cut
    # still proves the code that changed this round):
    "q_kmeans_lloyd",  # driver-coordinated Lloyd k-means, unrolled-CTE oracle
    # The four r13 registrations the r13 window cut at exactly 50
    # (judge-verified at sf0.01 last session, but still zero DRIVER
    # rows); q_drift_ks and q_domain_affinity additionally changed
    # this round (overflow guard; corpus-aggregate broadcast dropped):
    "q_url_canonical_dedup",
    "q_chunk_overlap",
    "q_domain_affinity",
    # The four r12-ADVICE-changed queries whose newest driver row
    # (r12) predates the r13 change — close that re-prove gap
    # (q_binary_file_scan also changed THIS round: single-pass
    # take-guard):
    "q_containment_pairs",
    "q_negative_sampling",
    "q_bootstrap_ci",
    "q_binary_file_scan",
    # Evidence-freshness rotation: the 39 queries whose newest driver
    # row is r05 (alphabetical; includes the 2 by-nature rows-only ANN
    # top-k queries — their rows-only driver check refreshes too):
    "q_ann_ivf_pq_topk",
    "q_ann_ivf_topk",
    "q_bloom_prefilter",
    "q_bool_string_aggs",
    "q_bucketed_join",
    "q_canonical_docs",
    "q_cogroup_asof",
    "q_countmin_portable",
    "q_decontaminate",
    "q_dup_span_docs",
    "q_embedding_neardup_sampled",
    "q_embedding_topk",
    "q_frame_sample",
    "q_funnel_steps",
    "q_grouped_agg_pandas_iqr",
    "q_grouped_pandas_slope",
    "q_ingest_position",
    "q_interval_join_pairs",
    "q_join_events_dim",
    "q_length_buckets",
    "q_mix_rebalance",
    "q_multimodal_meta",
    "q_multimodal_pixel_stats",
    "q_pack_sequences",
    "q_quality_filter",
    "q_quality_top_percent",
    "q_repetition_quality",
    "q_resample_gapfill",
    "q_session_window",
    "q_sink_roundtrip",
    "q_stream_dedup",
    "q_stream_stateful_user",
    "q_stream_static_join",
    "q_stream_stream_join",
    "q_stream_tumbling",
    "q_udtf_chunks",
    "q_unpivot",
    "q_window_sliding",
    "q_window_tumbling",
    # Slot 50: the stalest r06 row AND this round's bench-regression
    # adjudication target — a fresh driver row closes both:
    "q_dedup_incremental",
    # Positions 51-53: the r14 wave-2 additions, deliberately BELOW
    # the 50-row cut so they don't displace the rotation above (the
    # r13 precedent: pytest- and both-scale-sweep-proven this round,
    # they lead the r15 window — 3 + the 45-row r06-r09 staleness
    # tail + up to 2 r15 registrations = 50):
    # ---- round-13 window (all 50 proven r13; the five r13
    # registrations the cut excluded now lead the r14 window above;
    # everything else re-enters via registration order) ----
    # ---- round-12 window ----
    # New registrations this round:
    "q_partition_overwrite_dynamic",  # dynamic-mode single-partition reload, spliced oracle
    "q_stream_observe",  # per-micro-batch observe() metrics == relational ntile recount
    "q_stream_idempotent_reload",  # foreachBatch + dynamic overwrite, replay-proven idempotence
    "q_parquet_bloom_scan",  # column bloom filter: point lookup skips hash-scattered row groups
    "q_file_metadata_lineage",  # _metadata hidden struct: per-file provenance audit, row_index pinned
    "q_lm_quality",  # corpus-trained bigram LM likelihood, scaled-integer exact model
    "q_text_normalize",  # NFD+strip+casefold round trip, oracle pins exact restoration
    "q_embedding_gram",  # exact quantized-int Gram: d^2-key shuffle independent of N
    "q_url_host_stats",  # parse_url HOST/PATH/QUERY recovery vs arithmetic oracle
    # (q_binary_file_scan moved to the round-13 window above)
    "q_k_anonymity",  # QI-class k-anonymity + l-diversity release gate
    "q_forget_cascade",  # right-to-be-forgotten cascade + orphan reconciliation
    "q_conversation_assembly",  # ordered per-user sequence, md5-pinned order
    "q_semdedup",  # cluster-then-prune semantic dedup, fully SQL-replayed
    "q_mad_outliers",  # exact median/MAD robust outlier census
    # (q_bootstrap_ci moved to the round-13 window above)
    "q_referential_audit",  # warehouse-wide FK dangling-key audit
    "q_blocklist_filter",  # dictionary content gate, shuffle-free token match
    "q_rank_auc",  # exact tie-aware Mann-Whitney AUC, integer-pinned
    "q_cohort_retention",  # first-week cohort x offset retention matrix
    "q_event_transitions",  # first-order Markov matrix of user behavior
    "q_trimmed_mean",  # rank-trimmed robust mean, pinned integer cutoffs
    "q_token_cooccurrence",  # within-doc pair mining, deterministic top-k
    "q_image_ahash_dedup",  # perceptual aHash dedup over decoded BMP pixels
    "q_audio_envelope_dedup",  # envelope-hash dedup over decoded WAV samples
    # (q_containment_pairs moved to the round-13 window above)
    # (q_negative_sampling moved to the round-13 window above)
    "q_mlm_masking_plan",  # portable-hash MLM mask plan, sequence-fp pinned
    "q_video_clip_dedup",  # ordered per-frame hash clip fingerprint dedup
    # Queries whose implementation changed this round (stream-sink
    # commit now publishes BEFORE cleaning the prior attempt; batch
    # sink manifest write now atomic tmp+replace) — re-prove:
    "q_python_datasink_stream",
    "q_python_datasink_roundtrip",
    # Evidence-freshness rotation, final tranche (r11 verdict item 1):
    # the 12 queries whose driver rows still date to round 2 — after
    # this window, no row in the registry is older than r11:
    "q_text_quality",
    "q_token_count",
    "q_topk_global",
    "q_topk_per_group",
    "q_tpch_q1",
    "q_union_all",
    "q_validate_pass",
    "q_validate_quarantine",
    "q_validate_stats",
    "q_window_distribution",
    "q_window_gap",
    "q_window_pack",
    # ---- round-11 window ----
    # New registrations this round:
    "q_schema_evolution_read",  # declared-schema read across INT32->INT64 widening + added column
    # (q_python_datasink_stream moved to the round-12 window above)
    "q_arrow_token_stats",  # mapInArrow: pyarrow.compute features, no pandas conversion
    "q_arrow_group_stats",  # applyInArrow: exact per-group median via numpy on zero-copy columns
    # Queries whose implementation changed this round (shared-session
    # active-query guard + sink snap-and-drop in the tws family;
    # _SNAP_SHARDS single-sourcing and the once-per-application reshard
    # continuation in state_reader) — re-prove through the driver:
    "q_state_reshard",
    "q_state_snapshot_shard",
    "q_state_list_read",
    "q_state_timers_read",
    "q_stream_transform_with_state",
    "q_stream_tws_list_ttl",
    "q_stream_tws_timers",
    "q_stream_tws_initial_state",
    "q_stream_tws_map_spill",
    "q_stream_tws_event_timers",
    # Evidence-freshness rotation (r10 verdict item 4): every query is
    # driver-proven and locally re-proven at sf0.1 each round, but 48
    # queries' DRIVER rows date to round 2 — re-prove the 36 stalest
    # (alphabetical; the remaining 12, q_text_quality/q_token_count/
    # q_topk_global onward, rotate through in round 12 — the four
    # extra r11 registrations took their slots):
    "q_cube",
    "q_date_pack",
    "q_dedup_exact_digest",
    "q_dedup_exact_text",
    "q_dedup_keep_first",
    "q_dedup_null_collapse",
    "q_distinct",
    "q_doc_fingerprint",
    "q_doc_stats",
    "q_except",
    "q_flagship",
    "q_grouping_sets",
    "q_having",
    "q_intersect",
    "q_join_anti",
    "q_join_broadcast_dims",
    "q_join_left_outer",
    "q_join_multiway",
    "q_join_range_band",
    "q_join_semi",
    "q_json_extract",
    "q_json_filter_agg",
    "q_pivot",
    "q_project_rename",
    "q_report_derive_topk",
    "q_rollup",
    "q_running_max",
    "q_snapshot_diff",
    "q_stats_moments",
    "q_string_pack",
    "q_text_fallback",
    # ---- round-10 window ----
    # New registrations this round:
    # (q_state_reshard moved to the round-11 window above)
    # (q_state_snapshot_shard moved to the round-11 window above)
    # (q_state_list_read moved to the round-11 window above)
    # (q_state_timers_read moved to the round-11 window above)
    # Queries whose implementation changed this round (shared tws
    # scoped session + trackTotalNumberOfRows=false) — re-prove:
    # (q_stream_transform_with_state moved to the round-11 window above)
    # (q_stream_tws_list_ttl moved to the round-11 window above)
    # (q_stream_tws_timers moved to the round-11 window above)
    # (q_stream_tws_initial_state moved to the round-11 window above)
    # (q_stream_tws_map_spill moved to the round-11 window above)
    # (q_stream_tws_event_timers moved to the round-11 window above)
    # ---- round-9 window ----
    # New registrations this round:
    # (q_stream_tws_event_timers moved to the round-10 window above)
    # Queries whose implementation or oracle changed this round (the
    # r08-advice fixes) — re-prove through the driver:
    # (q_stream_tws_map_spill moved to the round-10 window above)
    # ---- round-8 window ----
    # New registrations this round:
    # (q_stream_transform_with_state moved to the round-10 window above)
    # (q_stream_tws_list_ttl moved to the round-10 window above)
    # (q_stream_tws_timers moved to the round-10 window above)
    # (q_stream_tws_map_spill moved to the round-9 window above)
    # (q_stream_tws_initial_state moved to the round-10 window above)
    # Queries whose implementation or oracle changed this round (the
    # r07-advice fixes) — re-prove through the driver:
    # ---- round-7 window ----
    # The 7 queries with zero driver rows after six rounds (VERDICT r06
    # item 1) — the final rotation: with these, all registered queries
    # have driver evidence:
    # New round-7 operators:
    # rows-only -> pinned-invariant oracle upgrades (r07):
    # Queries whose implementation or oracle changed this round (the
    # r06-advice mod-2^31 oracle alignment + side-effect-free bucket
    # lookup + atomic tier-dim write) — re-prove through the driver:
    # ---- round-6 window (proven r06; follows for re-proof in leftover
    # slots) ----
    # The 7 queries with zero driver rows after five rounds (VERDICT r05
    # item 2) — three of them upgraded this round from rows-only to
    # oracle-backed (portable md5 hash family; SQL-replayed LCG planes):
    # r05's one red row, fixed (hist array -> 16 scalar columns) and
    # since upgraded to a full oracle (exact-integer-moment features):
    # new round-6 queries:
    # new round-6 operators (second batch):
    # approx family upgraded rows-only -> tolerance-flag oracles (r06):
    # real-stream twins completing the streaming window matrix (r06):
    # (q_python_datasink_roundtrip moved to the round-12 window above)
    # new round-6 operators (third batch):
    # (q_dedup_incremental moved to the round-14 window above)
    # round-6 streaming outer-join matrix + bounded-state dedup:
    # re-prove queries whose implementation changed this round (the
    # last three also newly oracle-backed):
    # ---- remaining slots: registration order follows, which
    # front-loads the r01/r02-vintage parity operators (flagship,
    # transform, quality, dedup, report, joins ...) — re-proving the
    # oldest evidence against this round's regenerated testdata. ----
]



@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: register a (spark, sf_dir) -> DataFrame query."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, tags=tags, doc=fn.__doc__ or "")
        return fn

    return deco


def load_all() -> dict[str, Query]:
    """Import every operator module (idempotent) and return the registry
    reordered per _PRIORITY (see note there: the correctness driver only
    checks the first ~50 entries)."""
    for mod in _QUERY_MODULES:
        try:
            importlib.import_module(mod)
        except ModuleNotFoundError as e:
            # Tolerate only the listed module itself being absent
            # (incremental build); never mask a broken transitive import.
            if e.name != mod:
                raise
    # A typo'd _PRIORITY entry would silently drop that query from the
    # driver's re-prove window (it just wouldn't match REGISTRY), which
    # defeats the evidence rotation — fail loudly instead.
    unknown = [n for n in _PRIORITY if n not in REGISTRY]
    if unknown:
        raise ValueError(
            f"_PRIORITY names not in REGISTRY (typo?): {unknown!r}"
        )
    ordered: dict[str, Query] = {}
    for name in _PRIORITY:
        ordered[name] = REGISTRY[name]
    for name, q in REGISTRY.items():
        if name not in ordered:
            ordered[name] = q
    return ordered
