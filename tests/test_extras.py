"""Semantics tests for the extras: pandas-UDF lang equivalence,
stratified sample proportions, stateful streaming vs batch twin."""

from __future__ import annotations

from pyspark.sql import functions as F

from facebook_ad_library_data_pipeline_spark.catalog import load_table
from facebook_ad_library_data_pipeline_spark.registry import load_all

REGISTRY = load_all()


def test_lang_udf_matches_native_heuristic(spark, sf_dir):
    udf_rows = {
        r.doc_id: r.detected_lang
        for r in REGISTRY["q_lang_id_udf"].fn(spark, sf_dir).collect()
    }
    native = {
        r.doc_id: r.detected_lang for r in REGISTRY["q_lang_id"].fn(spark, sf_dir).collect()
    }
    assert udf_rows == native


def test_stratified_sample_downsamples_dominant(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    orig = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    from facebook_ad_library_data_pipeline_spark.operators.extras import stratified_sample

    sampled = {
        r.lang: r.n
        for r in stratified_sample(spark, sf_dir)
        .groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    # non-en strata kept whole; en downsampled to roughly a quarter
    for lang, n in orig.items():
        if lang == "en":
            assert sampled.get(lang, 0) < 0.6 * n
        else:
            assert sampled.get(lang, 0) == n


def test_stateful_stream_matches_batch_totals(spark, sf_dir):
    stream = {
        r.user_id: (r.n_events, r.total_value)
        for r in REGISTRY["q_stream_stateful_user"].fn(spark, sf_dir).collect()
    }
    batch = {
        r.user_id: (r.n, round(r.total, 2))
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert stream == batch


def test_hll_partial_merge_accuracy(spark, sf_dir):
    from facebook_ad_library_data_pipeline_spark.catalog import load_table
    from pyspark.sql import functions as F

    rows = {r.scope: r for r in REGISTRY["q_hll_partial_merge"].fn(spark, sf_dir).collect()}
    o = load_table(spark, sf_dir, "orders")
    exact_all = o.select("o_custkey").distinct().count()
    assert rows["ALL"].exact_customers == exact_all
    # HLL default lgConfigK=12 → rsd ~1.6%; the approx_ok flag is the 5% gate
    assert all(r.approx_ok for r in rows.values()), rows
    exact_y = {str(r.y): r.n for r in o.groupBy(F.year("o_orderdate").alias("y"))
               .agg(F.countDistinct("o_custkey").alias("n")).collect()}
    for y, n in exact_y.items():
        assert rows[y].exact_customers == n


def test_countmin_never_underestimates(spark, sf_dir):
    from facebook_ad_library_data_pipeline_spark.catalog import load_table
    from pyspark.sql import functions as F

    rows = {r.event_type: r
            for r in REGISTRY["q_countmin_heavy_hitters"].fn(spark, sf_dir).collect()}
    exact = {r.event_type: r.n
             for r in load_table(spark, sf_dir, "events").groupBy("event_type")
             .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(rows) == set(exact)
    for k, n in exact.items():
        assert rows[k].exact_n == n
        assert rows[k].cms_sound  # est ≥ exact AND est ≤ exact + ε·N


def test_countmin_portable_sound_and_tight(spark, sf_dir):
    rows = REGISTRY["q_countmin_portable"].fn(spark, sf_dir).collect()
    assert rows, "no heavy hitters returned"
    for r in rows:
        assert r.cms_n >= r.exact_n          # CMS never underestimates
        # w=256 x 4 depths over <=1500 keys: collisions add at most a
        # few key-loads; a 3x blowup would mean the hash family broke
        assert r.cms_n <= r.exact_n * 3


# ------------------------- portable bottom-k quantile sketch


def _write_qsk_events(d, rows):
    """rows: (event_id, event_type, value) — minimal events table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pa_tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([0] * len(rows), pa.timestamp("us")),
            "user_id": pa.array([1] * len(rows), pa.int64()),
            "event_type": pa.array([r[1] for r in rows]),
            "value": pa.array([r[2] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows)),
        }
    )
    pq.write_table(pa_tbl, str(d) + "/events.parquet")


def test_quantile_sketch_exact_on_small_groups(spark, tmp_path):
    """With fewer than K rows per group the bottom-k sample is the
    whole group, so every estimate must be the EXACT order statistic
    value at position ceil(q·n/100) of the sorted cents, flags must be
    true, and the output must hash-match the oracle — including a
    tie-heavy group where the CDF jumps across several quantiles."""
    import math

    import duckdb

    from facebook_ad_library_data_pipeline_spark.registry import load_all

    from .oracle_harness import assert_matches_oracle

    rows = []
    # group a: distinct values 0.01..0.40
    for i in range(40):
        rows.append((i + 1, "a", (i + 1) / 100.0))
    # group b: heavy ties — 30 copies of 0.05, 10 of 0.99
    for i in range(30):
        rows.append((100 + i, "b", 0.05))
    for i in range(10):
        rows.append((200 + i, "b", 0.99))
    # a NULL-value row must be excluded everywhere
    rows.append((999, "a", None))
    _write_qsk_events(tmp_path, rows)
    q = load_all()["q_quantile_sketch"]
    df = q.fn(spark, str(tmp_path))
    out = {r.event_type: r for r in df.collect()}
    a, b = out["a"], out["b"]
    assert a.n == 40 and a.samp_k == 40
    for qq in (25, 50, 75, 90):
        pos = math.ceil(qq * 40 / 100)
        assert getattr(a, f"est_p{qq}") == pos, (qq, getattr(a, f"est_p{qq}"))
        assert getattr(a, f"p{qq}_ok"), qq
    assert b.n == 40
    assert b.est_p25 == 5 and b.est_p50 == 5 and b.est_p75 == 5
    assert b.est_p90 == 99
    for qq in (25, 50, 75, 90):
        assert getattr(b, f"p{qq}_ok"), qq
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet')"
    )
    assert_matches_oracle(df, q.oracle, con)


def test_quantile_sketch_partition_invariant(spark, tmp_path):
    """The bottom-k sample is a pure function of the row SET (the
    union-truncate mergeability that makes it a sketch): the same rows
    in reversed order, split across many row groups and read under a
    tiny maxPartitionBytes so the scan REALLY fans out over multiple
    input partitions, must produce identical output (r16 review: a
    single-split re-read only proves row-ORDER invariance)."""
    from facebook_ad_library_data_pipeline_spark.registry import load_all

    rows = [
        (i, "t" + str(i % 3), ((i * 7919) % 1000) / 100.0)
        for i in range(1, 1200)
    ]
    _write_qsk_events(tmp_path, rows)
    q = load_all()["q_quantile_sketch"]
    base = sorted(map(tuple, q.fn(spark, str(tmp_path)).collect()))
    # same rows: reversed order, 12 row groups, forced multi-split scan
    import pyarrow.parquet as pq_

    sub = tmp_path / "shuffled"
    sub.mkdir()
    tbl = pq_.read_table(str(tmp_path) + "/events.parquet")
    perm = tbl.take(list(reversed(range(tbl.num_rows))))
    pq_.write_table(perm, str(sub) + "/events.parquet", row_group_size=100)
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
    try:
        from facebook_ad_library_data_pipeline_spark.catalog import load_table

        n_splits = load_table(spark, str(sub), "events").rdd.getNumPartitions()
        assert n_splits > 1, "layout did not fan out; test is vacuous"
        again = sorted(map(tuple, q.fn(spark, str(sub)).collect()))
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    assert base == again


def test_quantile_sketch_accuracy_at_scale(spark, sf_dir):
    """On the real testdata every rank-error flag must be TRUE — the
    sketch is an estimator, not just replayable arithmetic (DKW at
    K=256 bounds the failure probability at 2e^-11.5 per flag)."""
    from facebook_ad_library_data_pipeline_spark.registry import load_all

    rows = load_all()["q_quantile_sketch"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        for qq in (25, 50, 75, 90):
            assert getattr(r, f"p{qq}_ok"), r


# ------------------------- portable KMV cardinality sketch


def test_kmv_distinct_both_branches_and_oracle(spark, tmp_path):
    """A small group (< K distinct user-days → the sketch IS the key
    set, estimate exact) next to a large group (> K → real estimator
    within the 25% audit band), duplicate events collapsing to one
    key, and NULL user_id/ts rows excluded — all hash-matched to the
    oracle."""
    import duckdb

    from facebook_ad_library_data_pipeline_spark.operators.sketches import (
        KMV_K,
    )
    from facebook_ad_library_data_pipeline_spark.registry import load_all

    from .oracle_harness import assert_matches_oracle

    rows = []
    eid = 0
    # group small: 7 users x 2 days, each visited twice (duplicates)
    for u in range(7):
        for day in (10, 11):
            for _ in range(2):
                eid += 1
                rows.append((eid, day, u, "small", 1.0))
    # group big: 600 distinct user-days, one event each
    for u in range(200):
        for day in (20, 21, 22):
            eid += 1
            rows.append((eid, day, u, "big", 1.0))
    # excluded rows
    rows.append((99001, 10, None, "small", 1.0))
    rows.append((99002, None, 3, "big", 1.0))
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(
                    [
                        None if r[1] is None else r[1] * 86_400_000_000
                        for r in rows
                    ],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows]),
                "value": pa.array([r[4] for r in rows], pa.float64()),
                "props": pa.array(["{}"] * len(rows)),
            }
        ),
        str(tmp_path) + "/events.parquet",
    )
    q = load_all()["q_kmv_distinct"]
    df = q.fn(spark, str(tmp_path))
    out = {r.event_type: r for r in df.collect()}
    small, big = out["small"], out["big"]
    assert small.d_exact == 14  # duplicates collapsed, NULL excluded
    assert small.kmv_k == 14 and small.est_distinct == 14.0
    assert small.kmv_ok
    assert big.d_exact == 600 and big.kmv_k == KMV_K
    assert big.kmv_ok  # estimator within the 25% band
    assert abs(big.est_distinct - 600) <= 0.25 * 600
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet')"
    )
    assert_matches_oracle(df, q.oracle, con)


def test_kmv_distinct_partition_invariant(spark, sf_dir):
    """The KMV sketch is a pure function of the distinct-key SET
    (union-truncate mergeability): the same table read under a tiny
    maxPartitionBytes so the scan fans out over multiple splits must
    produce identical output."""
    from facebook_ad_library_data_pipeline_spark.catalog import load_table
    from facebook_ad_library_data_pipeline_spark.registry import load_all

    q = load_all()["q_kmv_distinct"]
    base = sorted(map(tuple, q.fn(spark, sf_dir).collect()))
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
    try:
        n_splits = load_table(spark, sf_dir, "events").rdd.getNumPartitions()
        assert n_splits > 1, "scan did not fan out; test is vacuous"
        again = sorted(map(tuple, q.fn(spark, sf_dir).collect()))
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    assert base == again
