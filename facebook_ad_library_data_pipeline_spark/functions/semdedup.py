"""SemDeDup-style semantic deduplication: cluster the embedding space,
then prune near-duplicates INSIDE each cluster only — the
cluster-then-prune shape (Abbas et al. 2023, "SemDeDup") that makes
embedding-level dedup tractable at corpus scale by never comparing
across clusters.

Clustering here is ONE assignment step against deterministic seed
centroids (the K lowest vec_ids) rather than iterated k-means: the
assignment is exactly a k-means E-step, every arithmetic step is
integer-exact, and — unlike a trained-centroid variant (functions/
ivf.py) — the whole operator stays SQL-replayable, so the driver
hash-checks assignments AND prune verdicts end-to-end instead of
settling for invariant flags.

Exactness discipline: components quantize ``floor(x·1e4)`` → int64.
Cluster assignment minimizes the integer score ``‖q_s‖² − 2·q_v·q_s``
(= squared euclidean distance minus the constant ‖q_v‖², ties → lowest
seed id). The near-dup test ``cos(a,b) ≥ 0.9`` is the cross-multiplied
integer inequality ``dot ≥ 0 AND 100·dot² ≥ 81·‖a‖²·‖b‖²`` — computed
in DECIMAL(38,0) on the Spark side and HUGEINT in DuckDB, both exact
at these magnitudes (dot ≤ 2.3e9 ⇒ 100·dot² ≤ 5.3e20 ≪ 1e38).

Scale posture: assignment is embarrassingly parallel — the K×d seed
matrix broadcasts, each Arrow batch takes one int64 matmul, NO shuffle.
The pair stage shuffles once on cluster_id and takes ONE Q·Qᵀ matmul
per cluster (applyInPandas), so cost is Σ cluster_size², never N² —
the property the clustering buys. At 100 TB you raise K so clusters
stay bounded (and salt any hot cluster); the plan shape is unchanged.

Reference anchor: the reference has no embedding operators; this
completes the mandated dedup family (exact → MinHash → SimHash →
embedding-LSH → cluster-prune).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import fan_out, load_table
from ..registry import query

N_SEEDS = 32
QUANT = 10_000  # floor(x·1e4) quantization
TAU_NUM, TAU_DEN = 81, 100  # cos ≥ 0.9  ⇔  100·dot² ≥ 81·na·nb


def _quantized(col: str = "embedding"):
    return F.transform(
        F.col(col), lambda x: F.floor(x.cast("double") * QUANT).cast("long")
    )


def assign_clusters(emb: DataFrame) -> DataFrame:
    """E-step against the N_SEEDS lowest-vec_id centroids: broadcast
    seed matrix, one int64 matmul per Arrow batch, zero shuffle.
    Returns (vec_id, cluster_id, qvec, n) with n = ‖qvec‖²."""
    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    seed_rows = (
        emb.orderBy("vec_id")
        .limit(N_SEEDS)
        .select("vec_id", _quantized().alias("qvec"))
        .collect()
    )  # bounded driver-side fit sample: K×d ints (the ivf.py discipline)
    seed_ids = np.array([r.vec_id for r in seed_rows], dtype=np.int64)
    S = np.array([r.qvec for r in seed_rows], dtype=np.int64)  # K×d
    n_s = (S * S).sum(axis=1)  # K
    b_ids = spark.sparkContext.broadcast(seed_ids)
    b_S = spark.sparkContext.broadcast(S)
    b_ns = spark.sparkContext.broadcast(n_s)

    def estep(batches):
        ids, S_, ns_ = b_ids.value, b_S.value, b_ns.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = np.floor(
                np.stack(pdf["embedding"].to_numpy()).astype(np.float64) * QUANT
            ).astype(np.int64)
            # score[v,s] = ‖q_s‖² − 2·q_v·q_s ; argmin = first (lowest
            # seed id — seeds are sorted) = the SQL tie-break
            score = ns_[None, :] - 2 * (Q @ S_.T)
            cl = ids[np.argmin(score, axis=1)]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cluster_id": cl,
                    "qvec": list(Q),
                    "n": (Q * Q).sum(axis=1),
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        estep, schema="vec_id long, cluster_id long, qvec array<long>, n long"
    )


def prune_within_clusters(assigned: DataFrame) -> DataFrame:
    """Within-cluster near-dup pairs (exact integer cosine test), then
    keep-lowest-id: a vector is dropped iff a LOWER-id vector in its
    cluster clears cos ≥ 0.9. Cost: Σ cluster_size², never N²."""
    import numpy as np
    import pandas as pd

    # The assignment feeds both the pair stage and the final verdict
    # join — materialize the E-step once instead of re-running the
    # Arrow matmul per consumer (the state-reshard result-reuse
    # discipline; bounded: N×(d+3) longs).
    assigned = assigned.localCheckpoint(eager=True)

    def cluster_dots(pdf: pd.DataFrame) -> pd.DataFrame:
        # One int64 matmul per cluster instead of a per-pair
        # zip_with/aggregate over d-long arrays (measured 19 s → ~2 s
        # at sf0.1): D = Q·Qᵀ is exact (|dot| ≤ 2.3e9 ≪ 2^63) — only
        # the dot is computed here; the τ² inequality needs 100·dot²
        # (~5e20, silently overflows int64 in numpy) and stays in
        # Spark DECIMAL below.
        g = len(pdf)
        if g < 2:
            return pd.DataFrame(
                columns=["va", "vb", "dot", "na", "nb"]
            ).astype(
                {c: "int64" for c in ["va", "vb", "dot", "na", "nb"]}
            )
        order = np.argsort(pdf["vec_id"].to_numpy(), kind="stable")
        ids = pdf["vec_id"].to_numpy()[order]
        Q = np.stack(pdf["qvec"].to_numpy()[order]).astype(np.int64)
        n = pdf["n"].to_numpy()[order]
        D = Q @ Q.T
        iu, ju = np.triu_indices(g, k=1)  # va < vb by the sort
        return pd.DataFrame(
            {
                "va": ids[iu],
                "vb": ids[ju],
                "dot": D[iu, ju],
                "na": n[iu],
                "nb": n[ju],
            }
        )

    pairs = assigned.groupBy("cluster_id").applyInPandas(
        cluster_dots, schema="va long, vb long, dot long, na long, nb long"
    )
    dups = (
        pairs.filter(
            (F.col("dot") >= 0)
            & (
                F.col("dot").cast("decimal(38,0)") * F.col("dot") * TAU_DEN
                >= F.lit(TAU_NUM).cast("decimal(38,0)")
                * F.col("na")
                * F.col("nb")
            )
        )
        .select(F.col("vb").alias("dropped_id"))
        .distinct()
    )
    # no broadcast hint: the dropped set can be a large fraction of the
    # corpus at real dup rates — AQE picks broadcast when it is small
    return assigned.join(
        dups, assigned.vec_id == dups.dropped_id, "left"
    ).select(
        "vec_id", "cluster_id", F.col("dropped_id").isNull().alias("keep")
    )


_SEMDEDUP_ORACLE = f"""
WITH q AS (
    SELECT vec_id, generate_subscripts(embedding, 1) AS i,
           CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {QUANT}) AS BIGINT)
               AS qv
    FROM embeddings
), norms AS (
    SELECT vec_id, CAST(sum(qv * qv) AS BIGINT) AS n FROM q GROUP BY 1
), seeds AS (
    SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {N_SEEDS}
), sdots AS (
    SELECT v.vec_id, s.vec_id AS seed_id, CAST(sum(v.qv * s.qv) AS BIGINT) AS dot
    FROM q v
    JOIN q s ON v.i = s.i AND s.vec_id IN (SELECT vec_id FROM seeds)
    GROUP BY 1, 2
), assign AS (
    SELECT d.vec_id AS vec_id, d.seed_id AS cluster_id,
           row_number() OVER (
               PARTITION BY d.vec_id
               ORDER BY ns.n - 2 * d.dot, d.seed_id
           ) AS rn
    FROM sdots d JOIN norms ns ON ns.vec_id = d.seed_id
), clusters AS (
    SELECT vec_id, cluster_id FROM assign WHERE rn = 1
), pair_dots AS (
    SELECT a.vec_id AS va, b.vec_id AS vb,
           CAST(sum(qa.qv * qb.qv) AS BIGINT) AS dot
    FROM clusters a
    JOIN clusters b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
    JOIN q qa ON qa.vec_id = a.vec_id
    JOIN q qb ON qb.vec_id = b.vec_id AND qb.i = qa.i
    GROUP BY 1, 2
), dropped AS (
    SELECT DISTINCT p.vb AS vec_id
    FROM pair_dots p
    JOIN norms na ON na.vec_id = p.va
    JOIN norms nb ON nb.vec_id = p.vb
    WHERE p.dot >= 0
      AND CAST(p.dot AS HUGEINT) * p.dot * {TAU_DEN}
          >= CAST({TAU_NUM} AS HUGEINT) * na.n * nb.n
)
SELECT c.vec_id, c.cluster_id,
       (c.vec_id NOT IN (SELECT vec_id FROM dropped)) AS keep
FROM clusters c
"""


@query("q_semdedup", oracle=_SEMDEDUP_ORACLE, tags=("llm", "dedup", "embedding"))
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-then-prune semantic dedup over the embedding corpus:
    one exact k-means E-step against 32 deterministic seed centroids
    (broadcast matmul, no shuffle), then within-cluster integer-exact
    cosine ≥ 0.9 pruning keeping the lowest vec_id. The oracle replays
    the ENTIRE operator relationally — quantization, assignment with
    tie-break, pair test, keep verdict — so a transposed matmul, a
    wrong argmin tie, a float shortcut in the cosine test, or a
    cross-cluster comparison (which would also change verdicts) flips
    the hash."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    return prune_within_clusters(assign_clusters(emb))
