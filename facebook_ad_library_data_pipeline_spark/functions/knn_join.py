"""Batch kNN join — the similarity-search shape a training pipeline
actually runs: N query vectors each fetching top-k neighbors from the
corpus in ONE pass, not N point lookups.

Two variants, both oracle-backed:

* exact: corpus ⋈ broadcast(query set) → cosine → per-query top-k via
  a (query, -cos) window. One corpus scan regardless of |Q|; the
  broadcast side is the bounded query batch, never the corpus.
* LSH-accelerated: corpus rows join the union of each query's 9
  multi-probe buckets (bucket + 8 Hamming-1 flips, same scheme as
  q_ann_lsh_topk), so each query touches ~3.5% of the corpus. The
  deterministic LCG hyperplanes make even this variant exactly
  SQL-replayable.

At 100 TB: the corpus side never shuffles in either variant — the
exact path is scan + broadcast-join + per-query heap (window over the
tiny candidate×query stream), the LSH path prunes the scan by bucket
before the cosine. |Q| scales until the probe table (9·|Q| rows)
stops broadcasting, which is ~10⁷ queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from .similarity import N_PLANES, _bucket_sql, _emb_double, bucket_col, cosine

KNN_QUERIES = 8  # query batch: vec_id < 8
KNN_K = 5


_KNN_EXACT_ORACLE = f"""
WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qe
           FROM embeddings WHERE vec_id < {KNN_QUERIES}),
scored AS (
    SELECT q.q_id, e.vec_id, e.label,
           round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe), 6) AS cos_sim
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id <> q.q_id
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY q_id
                                 ORDER BY cos_sim DESC, vec_id) AS rnk
    FROM scored
)
SELECT q_id, vec_id, label, cos_sim, rnk FROM ranked WHERE rnk <= {KNN_K}
"""


@query("q_knn_join", oracle=_KNN_EXACT_ORACLE, tags=("llm", "similarity", "topk", "join"))
def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact batch kNN join: every query vector (vec_id < 8) gets its
    cosine top-5 from one corpus scan. The query side broadcasts; the
    per-query top-k is a row_number window over (q_id, cos desc,
    vec_id) — per-partition heaps, no global sort."""
    emb = _emb_double(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < KNN_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("qe")
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            "label",
            F.round(cosine(F.col("emb"), F.col("qe")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= KNN_K)
    )


def _knn_lsh_oracle() -> str:
    # The bucket is computed once per corpus row (a 512-term expression;
    # in a CROSS JOIN filter DuckDB evaluated it per pair and per IN
    # item, peaking at ~7.7 GB), and the 9 probes join on it, as the
    # Spark plan does.
    flips = ", ".join(["b"] + [f"xor(b, {2**p})" for p in range(N_PLANES)])
    return f"""
WITH e AS MATERIALIZED (
    SELECT vec_id, label, embedding::DOUBLE[] AS emb,
           {_bucket_sql("(embedding::DOUBLE[])")} AS b
    FROM embeddings),
probes AS (SELECT vec_id AS q_id, emb AS qe, unnest([{flips}]) AS pb
           FROM e WHERE vec_id < {KNN_QUERIES}),
scored AS (
    SELECT p.q_id, e.vec_id, e.label,
           round(list_cosine_similarity(e.emb, p.qe), 6) AS cos_sim
    FROM e JOIN probes p ON e.b = p.pb
    WHERE e.vec_id <> p.q_id
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY q_id
                                 ORDER BY cos_sim DESC, vec_id) AS rnk
    FROM scored
)
SELECT q_id, vec_id, label, cos_sim, rnk FROM ranked WHERE rnk <= {KNN_K}
"""


@query("q_knn_join_lsh", oracle=_knn_lsh_oracle(), tags=("llm", "similarity", "topk", "join"))
def q_knn_join_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-accelerated batch kNN join: each query's candidates are the
    9 multi-probe buckets (own + 8 Hamming-1 flips); cosine + top-5
    only within them. The probe table (9·|Q| rows) broadcasts; the
    corpus is pruned by bucket before any cosine is computed. Recall
    floor vs the exact join asserted in tests."""
    emb = _emb_double(spark, sf_dir).withColumn("bucket", bucket_col("emb"))
    q = emb.filter(F.col("vec_id") < KNN_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("emb").alias("qe"),
        F.col("bucket").alias("qb"),
    )
    probes = q.select(
        "q_id",
        "qe",
        F.explode(
            F.array(
                F.col("qb"),
                *[F.col("qb").bitwiseXOR(F.lit(2**p)) for p in range(N_PLANES)],
            )
        ).alias("probe_bucket"),
    )
    scored = (
        emb.join(F.broadcast(probes), F.col("bucket") == F.col("probe_bucket"))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            "label",
            F.round(cosine(F.col("emb"), F.col("qe")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= KNN_K)
    )
