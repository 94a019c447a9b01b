"""IVF ANN semantics: probe subset really is a subset, recall against
brute force is reasonable for the probed fraction."""

from __future__ import annotations

from facebook_ad_library_data_pipeline_spark.registry import load_all

REGISTRY = load_all()


def test_ivf_topk_sound_vs_bruteforce(spark, sf_dir):
    brute = REGISTRY["q_embedding_topk"].fn(spark, sf_dir).collect()
    ivf = REGISTRY["q_ann_ivf_topk"].fn(spark, sf_dir).collect()
    assert len(ivf) == 10
    # soundness: IVF scores are genuine cosines → none may beat the true
    # best, and the list must be sorted descending
    sims = [r.cos_sim for r in ivf]
    assert sims == sorted(sims, reverse=True)
    assert sims[0] <= brute[0].cos_sim
    # any IVF hit that IS in the brute top-10 must carry the same score
    brute_by_id = {r.vec_id: r.cos_sim for r in brute}
    for r in ivf:
        if r.vec_id in brute_by_id:
            assert r.cos_sim == brute_by_id[r.vec_id]


def test_ivf_cells_partition_corpus(spark, sf_dir):
    from facebook_ad_library_data_pipeline_spark.catalog import load_table

    from facebook_ad_library_data_pipeline_spark.functions.ivf import ivf_cell_detail

    stats = ivf_cell_detail(spark, sf_dir).collect()
    assert sum(r.n_vectors for r in stats) == load_table(spark, sf_dir, "embeddings").count()
    assert 1 < len(stats) <= 16
