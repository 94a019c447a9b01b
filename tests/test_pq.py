"""PQ semantics: codes compress, reconstruction beats a degenerate
baseline, IVF-PQ search is sound vs brute force and recalls most of
the true top-k despite the quantized shortlist."""

from __future__ import annotations

from facebook_ad_library_data_pipeline_spark.registry import load_all

REGISTRY = load_all()


def test_pq_codes_pack_and_reconstruct(spark, sf_dir):
    from facebook_ad_library_data_pipeline_spark.functions.pq import (
        _emb_double,
        encode,
        fit_codebooks,
    )

    codes = encode(_emb_double(spark, sf_dir), spark, fit_codebooks(spark, sf_dir))
    rows = codes.select("code", "recon_sq_error").collect()
    from facebook_ad_library_data_pipeline_spark.catalog import load_table

    assert len(rows) == load_table(spark, sf_dir, "embeddings").count()
    # 8 subspaces × 4 bits → codes fit in 32 bits
    assert all(0 <= r.code < 2**32 for r in rows)
    # codes actually discriminate (not all vectors in one cell product)
    assert len({r.code for r in rows}) > len(rows) / 10
    # reconstruction error is finite and nonnegative
    assert all(r.recon_sq_error >= 0 for r in rows)
    # vs the degenerate all-codeword-0 baseline: decoding the fitted
    # argmin code must beat decoding code 0 for the mean vector
    mean_err = sum(r.recon_sq_error for r in rows) / len(rows)
    zero_rows = _zero_code_errors(spark, sf_dir)
    mean_zero = sum(zero_rows) / len(zero_rows)
    assert mean_err < mean_zero


def _zero_code_errors(spark, sf_dir):
    from pyspark.sql import functions as F

    from facebook_ad_library_data_pipeline_spark.functions.pq import (
        _emb_double,
        _recon_sq_error,
        fit_codebooks,
        with_books,
    )

    emb = _emb_double(spark, sf_dir)
    books = fit_codebooks(spark, sf_dir)
    joined = with_books(emb, spark, books)
    err = _recon_sq_error(F.col("emb"), F.col("books"), F.lit(0).cast("long"), 64)
    return [r.e for r in joined.select(err.alias("e")).collect()]


def test_ivf_pq_topk_sound_and_recalls(spark, sf_dir):
    brute = REGISTRY["q_embedding_topk"].fn(spark, sf_dir).collect()
    pq = REGISTRY["q_ann_ivf_pq_topk"].fn(spark, sf_dir).collect()
    assert len(pq) == 10
    sims = [r.cos_sim for r in pq]
    assert sims == sorted(sims, reverse=True)
    # scores are genuine cosines of real vectors: none can beat the true best
    assert sims[0] <= brute[0].cos_sim
    brute_by_id = {r.vec_id: r.cos_sim for r in brute}
    for r in pq:
        if r.vec_id in brute_by_id:
            assert r.cos_sim == brute_by_id[r.vec_id]
    # the quantized shortlist must still recall a decent share of the
    # true top-10 (4/16 cells probed + PQ shortlist; 0.3 is a loose
    # floor far above chance ≈ 10/n)
    recall = len({r.vec_id for r in pq} & set(brute_by_id)) / 10
    assert recall >= 0.3
