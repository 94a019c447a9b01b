"""Product quantization (PQ) — the compression tier of the ANN stack
(functions/similarity.py = LSH, functions/ivf.py = coarse cells, this
module = code compression + IVF-PQ search).

Scale story (mirrors how IVF-PQ is deployed in practice):
- TRAIN per-subspace codebooks on a bounded driver-side sample (same
  O(1)-in-corpus-size argument as the IVF centroid fit): M=8 subspaces
  of dim/M dims, K=16 codewords each — k-means per subspace on numpy.
- ENCODE distributed: per subspace an argmin over (dist, code) structs
  via ONE `transform` lambda over a 2-D codeword literal (the K-way
  codegen rule from functions/ivf.py); the 8 4-bit codes pack into a
  single INT — a 64-dim float vector becomes 4 bytes, a 64× memory
  compression, which is the entire point at 100 TB (the codes table
  fits where the vectors never could).
- SEARCH (IVF-PQ): probe the query's nearest IVF cells, rank in-cell
  candidates by ASYMMETRIC distance (query subvector vs codeword
  lookup — computed from the packed code, no decode table join), exact
  cosine rerank of the shortlist only. The exact pass touches
  RERANK_N rows instead of the corpus.

Codebooks are engine state (numpy floats) → rows-only checks;
soundness (reconstruction MSE shrinks vs random codes, recall vs brute
force) is asserted in tests/test_pq.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import fan_out
from ..registry import query
from ..session import once
from .ivf import _fit_centroids, _kmeans, assign_cells, fit_sample
from .similarity import QUERY_VEC_ID, _emb_double, cosine

M_SUBSPACES = 8
K_CODES = 16
N_PROBE = 4
RERANK_N = 50


def fit_codebooks(spark: SparkSession, sf_dir: str) -> list[list[list[float]]]:
    """M per-subspace codebooks from the bounded driver-side sample
    shared with the IVF centroid fit (one collect per table), fitted
    once per application and table."""

    def build() -> list[list[list[float]]]:
        x = fit_sample(spark, sf_dir)
        subdim = x.shape[1] // M_SUBSPACES
        books = []
        for m in range(M_SUBSPACES):
            c = _kmeans(x[:, m * subdim : (m + 1) * subdim], K_CODES, seed=42 + m)
            books.append([[float(v) for v in row] for row in c])
        return books

    return once(spark, (__name__, "codebooks", sf_dir), build)


def _sub_slice(emb: Column, m: int, subdim: int) -> Column:
    return F.slice(emb, m * subdim + 1, subdim)


def with_books(df: DataFrame, spark: SparkSession, books: list[list[list[float]]]) -> DataFrame:
    """Attach the codebooks as a broadcast one-row ``books`` column
    (array<array<array<double>>>), NOT as expression literals: the
    literal form needs M·K·subdim py4j ``lit`` calls to BUILD — ~2 s of
    pure client-side plan construction per query (profiled), before a
    single row runs. One createDataFrame + broadcast cross join ships
    the same ~4 KB once and the executors read it from the broadcast."""
    bdf = spark.createDataFrame([(books,)], "books array<array<array<double>>>")
    return df.crossJoin(F.broadcast(bdf))


def _best_for_subspace(emb: Column, books_col: Column, m: int, subdim: int) -> Column:
    """(min sq-dist, argmin code) struct for subspace m — one transform
    lambda over the subspace's codebook (K inlined copies would be K×
    the bytecode)."""
    sub = _sub_slice(emb, m, subdim)
    cand = F.transform(
        F.element_at(books_col, m + 1),
        lambda c, i: F.struct(
            F.aggregate(
                F.zip_with(sub, c, lambda x, cc: (x - cc) * (x - cc)),
                F.lit(0.0),
                lambda acc, d: acc + d,
            ).alias("d"),
            i.alias("code"),
        ),
    )
    return F.array_min(cand)


def encode(
    emb: DataFrame, spark: SparkSession, books: list[list[list[float]]], dim: int = 64
) -> DataFrame:
    """(vec_id, label, emb, code, recon_sq_error): the M 4-bit codes
    packed into one long column (shift-or arithmetic) plus the exact
    reconstruction error — which is FREE: the argmin struct already
    holds the min distance, so summing the per-subspace ``d`` fields
    costs nothing extra and avoids a second decode expression tree
    (halves the Janino unit; profiled ~2 s of compile per query)."""
    subdim = dim // M_SUBSPACES
    joined = with_books(fan_out(emb), spark, books)
    packed = None
    err = F.lit(0.0)
    for m in range(M_SUBSPACES):
        best = _best_for_subspace(F.col("emb"), F.col("books"), m, subdim)
        part = F.shiftleft(best["code"].cast("long"), 4 * m)
        packed = part if packed is None else packed.bitwiseOR(part)
        err = err + best["d"]
    return (
        joined.withColumn("code", packed)
        .withColumn("recon_sq_error", F.round(err, 6))
        .drop("books")
    )


def _recon_sq_error(emb: Column, books_col: Column, code: Column, dim: int) -> Column:
    """Squared reconstruction error ‖x - decode(code)‖² computed from
    the packed code — per subspace, pick the codeword row out of the
    broadcast codebook with element_at, no decode-table join."""
    subdim = dim // M_SUBSPACES
    total = F.lit(0.0)
    for m in range(M_SUBSPACES):
        cw = F.element_at(
            F.element_at(books_col, m + 1),
            (F.shiftrightunsigned(code, 4 * m).bitwiseAND(F.lit(15)) + 1).cast("int"),
        )
        sub = _sub_slice(emb, m, subdim)
        total = total + F.aggregate(
            F.zip_with(sub, cw, lambda x, c: (x - c) * (x - c)),
            F.lit(0.0),
            lambda acc, d: acc + d,
        )
    return total


# Engine-independent invariants over engine-state codes (the
# ann_recall pinned-flag move): row conservation (count recomputed by
# the oracle), code range within 2^(4·M) by bit-packing construction,
# and reconstruction quality — decoding the fitted argmin codes must
# beat the ZERO-VECTOR baseline (mean ‖x−decode(code)‖² < mean ‖x‖²),
# which any codebook that minimizes per-subspace error satisfies with
# huge margin; a flipped flag means the encode/decode arithmetic broke.
_PQ_CODES_ORACLE = """
SELECT count(*) AS n_rows,
       TRUE AS codes_in_range,
       TRUE AS recon_below_norm_baseline
FROM embeddings
"""


@query("q_pq_codes", oracle=_PQ_CODES_ORACLE, tags=("llm", "similarity", "ml"))
def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encoding invariants, hash-checked (upgraded from rows-only
    in r07): `n_rows` must equal the oracle's corpus count, every
    packed code must fit the 8×4-bit layout, and mean reconstruction
    error must beat the zero-vector baseline — the engine-independent
    skeleton of "the corpus compressed losslessly in count and sanely
    in value". Per-vector codes and errors are engine-trained state,
    so they stay out of the hash; tests/test_pq.py checks them."""
    emb = _emb_double(spark, sf_dir)
    books = fit_codebooks(spark, sf_dir)
    enc = encode(emb, spark, books)
    norm2 = F.aggregate(F.col("emb"), F.lit(0.0), lambda a, x: a + x * x)
    return enc.agg(
        F.count(F.lit(1)).alias("n_rows"),
        ((F.min("code") >= 0) & (F.max("code") < F.lit(2**32))).alias("codes_in_range"),
        (F.avg("recon_sq_error") < F.avg(norm2)).alias("recon_below_norm_baseline"),
    )


def _coded_index(spark, sf_dir, emb, centroids, books) -> DataFrame:
    """Checkpointed (vec_id, label, emb, cell, code) index frame, once
    per application and table."""
    return once(
        spark,
        (__name__, "index", sf_dir),
        lambda: encode(assign_cells(emb, centroids), spark, books).localCheckpoint(eager=False),
    )


@query("q_ann_ivf_pq_topk", oracle=None, tags=("llm", "similarity", "topk", "ml"))
def q_ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-10: probe the query's 4 nearest IVF cells, shortlist
    RERANK_N candidates by asymmetric PQ distance (query subvectors vs
    codeword reconstructions — evaluated from the packed code), exact
    cosine rerank of the shortlist only. The exact pass reads 50 rows
    where brute force reads the corpus. Rows-only; recall vs brute
    force asserted in tests/test_pq.py."""
    emb = _emb_double(spark, sf_dir)
    centroids = _fit_centroids(spark, sf_dir)
    books = fit_codebooks(spark, sf_dir)

    # The (cell, code) table is the INDEX — at 100 TB it is built once
    # and persisted, not derived per query. localCheckpoint stands in
    # for that here; it also splits assignment+encoding codegen from
    # the search expressions (one giant Janino unit compiles far
    # slower than two bounded ones).
    assigned = _coded_index(spark, sf_dir, emb, centroids, books)
    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(F.col("emb").alias("q_emb"))

    centers = spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)], "cell int, center array<double>"
    )
    probe_cells = (
        centers.crossJoin(F.broadcast(q))
        .select("cell", cosine(F.col("center"), F.col("q_emb")).alias("sim"))
        .orderBy(F.desc("sim"))
        .limit(N_PROBE)
        .select("cell")
    )
    cand = with_books(
        assigned.join(F.broadcast(probe_cells), "cell")
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q)),
        spark,
        books,
    )
    # Asymmetric distance: ||q - decode(code)||² — same expression as
    # reconstruction error with the QUERY vector in place of the row's.
    adist = _recon_sq_error(F.col("q_emb"), F.col("books"), F.col("code"), 64)
    shortlist = (
        cand.withColumn("adist", adist)
        .orderBy(F.asc("adist"), F.asc("vec_id"))
        .limit(RERANK_N)
    )
    return (
        shortlist.select(
            "vec_id",
            "label",
            "cell",
            F.round(cosine(F.col("emb"), F.col("q_emb")), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )
