"""Embedding-matrix statistics: the distributed Gram / covariance
building block behind PCA whitening, low-rank projection, and
embedding-drift monitoring over a 100 TB corpus.

The Gram matrix G = Xᵀ·X is the canonical "d² accumulators, N rows"
reduction: each executor folds its row batches into a LOCAL d×d
partial (one numpy matmul per Arrow batch — no per-row Python), and
the partials merge by key in a d²-row shuffle that is INDEPENDENT of
corpus size. PCA then happens driver-side on the d×d result (the
bounded-model discipline of functions/ivf.py's k-means fit).

Exactness: components are quantized ``floor(x · 1e6)`` into int64
BEFORE any arithmetic (float→double is exact, the scaled product is
one correctly-rounded op, floor is deterministic — the integer-cent
discipline), so partial sums are exact integers and the hash is
order-independent. At petabyte row counts the int64 accumulator would
saturate — production promotes to DECIMAL(38) or accepts float
tolerance; the shape is unchanged.

Reference anchor: the reference has no vector analytics; this extends
the mandated embedding family (similarity.py, ivf.py, pq.py) with the
second-moment statistic they all precondition on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import fan_out, load_table
from ..operators.kmeans import _tdiv
from ..registry import query

EMBED_DIM = 64
QUANT_SCALE = 1_000_000


def gram_partials(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """(i, j, gram) upper-triangle partial-Gram fold: one int64 numpy
    matmul per Arrow batch, d²/2 rows emitted per PARTITION (not per
    row), merged by a d²-key shuffle."""
    import numpy as np
    import pandas as pd

    idx_i, idx_j = np.triu_indices(EMBED_DIM)

    def fold(batches):
        acc = np.zeros((EMBED_DIM, EMBED_DIM), dtype=np.int64)
        seen = False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf[vec_col].to_numpy())
            q = np.floor(x.astype(np.float64) * QUANT_SCALE).astype(np.int64)
            acc += q.T @ q
            seen = True
        if seen:
            yield pd.DataFrame(
                {
                    "i": idx_i + 1,  # 1-based to match SQL subscripts
                    "j": idx_j + 1,
                    "partial": acc[idx_i, idx_j],
                }
            )

    return df.select(vec_col).mapInPandas(
        fold, schema="i int, j int, partial long"
    )


# The ONE SQL definition of the quantized-embedding view — shared by
# the q_embedding_gram and q_gram_power_iter oracles so the
# quantization (and the documented petabyte-scale DECIMAL(38)
# promotion, if it ever lands) can never desynchronize between them.
_QUANT_SQL = f"""q AS (
    SELECT vec_id,
           generate_subscripts(embedding, 1) AS i,
           CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {QUANT_SCALE})
                AS BIGINT) AS qv
    FROM embeddings
)"""

_GRAM_ORACLE = f"""
WITH {_QUANT_SQL}
SELECT a.i AS i, b.i AS j, CAST(sum(a.qv * b.qv) AS BIGINT) AS gram
FROM q a JOIN q b ON a.vec_id = b.vec_id AND b.i >= a.i
GROUP BY 1, 2
"""


@query("q_embedding_gram", oracle=_GRAM_ORACLE, tags=("llm", "embedding", "agg"))
def q_embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact upper-triangle Gram matrix of the embedding corpus —
    d·(d+1)/2 = {n} rows whatever the corpus size. The oracle
    recomputes every entry relationally (unnest → self-join → sum of
    quantized products), so a transposed index, a dropped batch, a
    float-summation shortcut, or a partial that failed to merge flips
    the hash. Plan shape: narrow scan → mapInPandas partial fold
    (emits ≤ one triangle per partition) → groupBy(i, j) over d² keys;
    the shuffle volume is partitions × d², independent of N — the
    property that makes this viable at 100 TB where the naive
    unnest-self-join oracle shape (N·d² rows on the shuffle) is
    not.""".format(n=EMBED_DIM * (EMBED_DIM + 1) // 2)
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    return (
        gram_partials(emb)
        .groupBy("i", "j")
        .agg(F.sum("partial").alias("gram"))
    )


# ---------------------------------------------------------------------------
# Scalar (per-dimension) int8 quantization calibration — the OTHER
# standard vector-compression shape next to product quantization
# (functions/pq.py): PQ learns a codebook over subvectors; scalar
# quantization calibrates a per-dimension [min, max] grid and rounds
# each component to one of 256 levels — 4× memory over float32 with a
# dequantization error every serving stack audits before switching the
# ANN index to int8 (FAISS SQ8, ScaNN's scalar path).
# ---------------------------------------------------------------------------

QUANT8_GRID = 1 << 20  # power-of-two pre-grid: float·2^20 is EXACT in double
QUANT8_LEVELS = 255  # codes 0..255

_INT8_ORACLE = f"""
WITH e AS (
    SELECT generate_subscripts(embedding, 1) AS dim,
           CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {QUANT8_GRID})
                AS BIGINT) AS q
    FROM embeddings
),
z AS (
    SELECT dim, q,
           min(q) OVER (PARTITION BY dim) AS mnq,
           max(q) OVER (PARTITION BY dim) AS mxq
    FROM e
),
c AS (
    SELECT dim, q, mnq, mxq,
           ((q - mnq) * {QUANT8_LEVELS}) // greatest(mxq - mnq, 1) AS code
    FROM z
),
r AS (
    SELECT dim, mnq, mxq, code,
           abs(mnq + (code * greatest(mxq - mnq, 1)) // {QUANT8_LEVELS} - q)
               AS err
    FROM c
)
SELECT CAST(dim AS INT) AS dim, mnq, mxq,
       CAST(count(*) AS BIGINT) AS n_vals,
       CAST(count(DISTINCT code) AS BIGINT) AS codes_used,
       CAST(sum(err) AS BIGINT) AS sum_abs_err,
       CAST(max(err) AS BIGINT) AS max_err,
       CAST(sum(err) AS DOUBLE) / count(*) AS mean_abs_err
FROM r
GROUP BY dim, mnq, mxq
"""


@query("q_embedding_int8_quant", oracle=_INT8_ORACLE, tags=("llm", "embedding", "agg", "ml"))
def q_embedding_int8_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension int8 quantization calibration + reconstruction
    audit, exact end-to-end: components pre-grid to ``floor(x · 2^20)``
    (power of two — float→double·2^20 is exact in IEEE, so the grid can
    never disagree between engines), each dimension calibrates
    [min, max] over the corpus, codes are the pinned integer
    ``((q - mn)·255) div max(range, 1)`` ∈ [0, 255], and the
    dequantization error is audited per dimension (sum/max absolute
    error in grid units, distinct codes used, mean as the single IEEE
    quotient of two pinned ints). A lost row, a wrong calibration
    bound, a biased rounding rule, or a collapsed code range flips the
    hash; the oracle replays every code relationally.

    Plan shape: posexplode to (dim, q) — N·D narrow rows — then ONE
    hash exchange on dim feeds BOTH the min/max calibration window and
    the final per-dim aggregate (same partitioning, no second
    shuffle); output is exactly D rows whatever the corpus size. At
    100 TB, D=64 partitions of the dim exchange are the only wide
    stage, and per-dim state is 2 ints — the degenerate-skew case
    (64 keys) is the documented trade for a one-pass calibrate+audit;
    production at extreme N would replace the window with a D-row
    broadcast of a pre-aggregated min/max (two scans) to avoid the
    64-key shuffle of N·D rows."""
    from pyspark.sql import Window

    e = (
        load_table(spark, sf_dir, "embeddings")
        .select(F.posexplode("embedding").alias("pos", "x"))
        .select(
            (F.col("pos") + 1).cast("int").alias("dim"),
            F.floor(F.col("x").cast("double") * QUANT8_GRID)
            .cast("long")
            .alias("q"),
        )
    )
    w = Window.partitionBy("dim")
    z = e.select(
        "dim",
        "q",
        F.min("q").over(w).alias("mnq"),
        F.max("q").over(w).alias("mxq"),
    )
    r = z.select(
        "dim",
        "mnq",
        "mxq",
        F.expr(
            f"((q - mnq) * {QUANT8_LEVELS}) div greatest(mxq - mnq, 1)"
        ).alias("code"),
        F.expr(
            f"abs(mnq + (((q - mnq) * {QUANT8_LEVELS})"
            f" div greatest(mxq - mnq, 1)) * greatest(mxq - mnq, 1)"
            f" div {QUANT8_LEVELS} - q)"
        ).alias("err"),
    )
    # group on dim ALONE so the aggregate reuses the window's
    # hashpartitioning(dim) — no second exchange; mnq/mxq are
    # constant within a dim (any_value is exact here)
    return r.groupBy("dim").agg(
        F.any_value("mnq").alias("mnq"),
        F.any_value("mxq").alias("mxq"),
        F.count(F.lit(1)).cast("long").alias("n_vals"),
        F.countDistinct("code").cast("long").alias("codes_used"),
        F.sum("err").cast("long").alias("sum_abs_err"),
        F.max("err").cast("long").alias("max_err"),
        (
            F.sum("err").cast("double") / F.count(F.lit(1))
        ).alias("mean_abs_err"),
    )


# ---------------------------------------------------------------------------
# Power iteration: top eigenvector of the Gram matrix — the PCA half
# the compression family preconditions on (the int8 calibration above
# quantizes per RAW dimension; projecting onto the top principal
# directions first is what FAISS' OPQ/PCAR transforms do before SQ/PQ).
# Fourth iterative-algorithm shape in the engine, after connected
# components' min-label fixpoint, PageRank's weighted-mass fixpoint,
# and k-means' assign/update loop (operators/kmeans.py).
# ---------------------------------------------------------------------------

POW_ITERS = 8  # fixed matvec/renormalize rounds (no convergence test)
POW_VSCALE = 1 << 20  # iterate invariant: |v_i| <= 2^20 (power of two)

# The ONE SQL definition of a renormalization step, parameterized on
# the column names — shared verbatim by the Spark expr and the DuckDB
# CTE so the two engines can never desynchronize. m >= 42 bits shifts
# BOTH operands down first (the q_drift_psi ppm discipline) so
# w' * VSCALE stays < 2^62; division is trunc-toward-zero in both
# engines (Spark `div` == DuckDB `//`, verified incl. negatives in
# tests/test_drift_kmeans.py).
_POW_DIV = "{ONE} << greatest(length(bin(m)) - 42, 0)"
_POW_STEP = (
    f"((w {{DIV}} ({_POW_DIV})) * {POW_VSCALE})"
    f" {{DIV}} greatest(m {{DIV}} ({_POW_DIV}), 1)"
)


def _pow_step_sql(div: str, one: str) -> str:
    return _POW_STEP.replace("{DIV}", div).replace("{ONE}", one)


def _bitlen1(m: int) -> int:
    """Python mirror of ``length(bin(m))`` for m >= 0 (bin(0) = '0',
    length 1 — NOT bit_length's 0)."""
    return 1 if m == 0 else int(m).bit_length()


def power_grid(spark: SparkSession, sf_dir: str):
    """The reduced symmetric Gram grid as DRIVER-side exact ints:
    Gram fold (the ONE corpus scan of the whole spectral family) →
    collect the d·(d+1)/2 triangle → symmetry mirror → bit-shift
    reduce to |g| < 2^31 with the same trunc-div/bin-length rule as
    the SQL twin (_power_ctes' `red`/`g` CTEs). Returns (G, s): a
    d×d nested list (0-based) and the shift.

    Why driver-side (r16 optimization round): the grid is 64×64 ints
    whatever the corpus size — the bounded-model class of kmeans.py's
    centroid handoff and MLlib's own PCA (which collects the d×d Gram
    and runs the eigensolve on the driver). Running the reduce + the
    unrolled iterations as Spark plans over 64-row LocalRelations cost
    162 Exchange nodes in q_pca_project's plan and ~6 s of pure
    planning/scheduling across the family at sf0.1, with zero
    distributed work to show for it. Cross-engine exactness now rests
    on the Python mirror (_tdiv/_bitlen1 — unit-tested against SQL
    `div`/`bin` semantics incl. negatives) plus the unchanged DuckDB
    oracles, numpy fixtures, and both-scale sweeps."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    tri = (
        gram_partials(emb)
        .groupBy("i", "j")
        .agg(F.sum("partial").cast("long").alias("g"))
        .collect()
    )
    if not tri:
        return None, 0
    G = [[0] * EMBED_DIM for _ in range(EMBED_DIM)]
    for r in tri:
        i, j, g = int(r["i"]) - 1, int(r["j"]) - 1, int(r["g"])
        G[i][j] = g
        G[j][i] = g
    mx = max(abs(g) for row in G for g in row)
    s = max(_bitlen1(mx) - 31, 0)
    if s:
        G = [[_tdiv(g, 1 << s) for g in row] for row in G]
    return G, s


def power_iterate(G: list[list[int]], s: int) -> list[tuple[int, int, int, int]]:
    """POW_ITERS matvec/renormalize rounds over a reduced d×d integer
    grid, all-ones start — the ONE driver-side iteration body, shared
    by chain 1 (q_gram_power_iter) and the deflated chain 2
    (q_pca_deflate) so the two chains can never desynchronize. Each
    round mirrors _POW_STEP exactly: w = G·v; m = max|w|;
    t = max(len(bin(m)) − 42, 0); v' = ((w div 2^t)·VSCALE) div
    max(m div 2^t, 1) — all trunc-division, |v| ≤ 2^20 invariant.
    Returns [(dim, s, m, v)] 1-based rows (the v{POW_ITERS} CTE)."""
    v = [POW_VSCALE] * EMBED_DIM
    m = 0
    for _ in range(POW_ITERS):
        w = [sum(G[i][j] * v[j] for j in range(EMBED_DIM)) for i in range(EMBED_DIM)]
        m = max(abs(x) for x in w)
        t = max(_bitlen1(m) - 42, 0)
        md = max(_tdiv(m, 1 << t), 1)
        v = [_tdiv(_tdiv(x, 1 << t) * POW_VSCALE, md) for x in w]
    return [(d + 1, s, m, v[d]) for d in range(EMBED_DIM)]


_VT_SCHEMA = "dim int, s int, m long, v long"


def power_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The final power-iteration iterate as a 64-row LocalRelation
    (dim, s, m, v) — Gram fold (one corpus scan) → driver-side reduce
    + POW_ITERS exact-int rounds (power_grid/power_iterate; SQL twin
    _power_ctes). Empty corpus → empty frame (the oracle's grid join
    starves every iteration the same way). Shared by
    q_gram_power_iter, q_pca_project, and q_pca_deflate."""
    G, s = power_grid(spark, sf_dir)
    rows = power_iterate(G, s) if G is not None else []
    return spark.createDataFrame(rows, _VT_SCHEMA)


def _power_ctes() -> str:
    """The ONE SQL definition of the whole eigenvector chain (quantize →
    Gram → reduce → 8 matvec/renormalize rounds, ending in CTE
    v{POW_ITERS}) — shared by the q_gram_power_iter and q_pca_project
    oracles so the iteration can never desynchronize between them."""
    one = "CAST(1 AS BIGINT)"
    step = _pow_step_sql("//", one)
    ctes = [
        f"""{_QUANT_SQL},
g0 AS (
    SELECT a.i AS i, b.i AS j, CAST(sum(a.qv * b.qv) AS BIGINT) AS g
    FROM q a JOIN q b ON a.vec_id = b.vec_id
    GROUP BY 1, 2
),
red AS (
    SELECT greatest(coalesce(length(bin(max(abs(g)))), 1) - 31, 0) AS s
    FROM g0
),
g AS (
    SELECT i, j, g // ({one} << s) AS g, s
    FROM g0 CROSS JOIN red
),
v0 AS (
    SELECT CAST(dim AS INT) AS dim, CAST({POW_VSCALE} AS BIGINT) AS v
    FROM range(1, {EMBED_DIM + 1}) r(dim)
)"""
    ]
    for t in range(1, POW_ITERS + 1):
        ctes.append(
            f"""w{t} AS (
    SELECT g.i AS dim, g.s AS s, CAST(sum(g.g * v.v) AS BIGINT) AS w
    FROM g JOIN v{t - 1} v ON g.j = v.dim
    GROUP BY 1, 2
),
n{t} AS (SELECT dim, s, w, max(abs(w)) OVER () AS m FROM w{t}),
v{t} AS (
    SELECT dim, s, m,
           CAST({step} AS BIGINT) AS v
    FROM n{t}
)"""
        )
    return "WITH " + ",\n".join(ctes)


def _power_oracle() -> str:
    one = "CAST(1 AS BIGINT)"
    return (
        _power_ctes()
        + f"""
SELECT CAST(dim AS INT) AS dim,
       CAST(v AS BIGINT) AS v_q,
       CAST(s AS BIGINT) AS gram_shift,
       CAST(m AS BIGINT) AS w_max,
       CAST(m AS DOUBLE) / {POW_VSCALE} AS lambda_red,
       CAST(m AS DOUBLE) / {POW_VSCALE}
           * CAST({one} << s AS DOUBLE) AS lambda_est
FROM v{POW_ITERS}
"""
    )


@query(
    "q_gram_power_iter",
    oracle=_power_oracle(),
    tags=("llm", "embedding", "iterative", "ml"),
)
def q_gram_power_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top eigenvector of the corpus Gram matrix by POW_ITERS rounds of
    power iteration — exact end-to-end in int64. The Gram fold is the
    q_embedding_gram pipeline unchanged (mapInPandas partials, d²-key
    shuffle independent of N); the d·(d+1)/2 triangle is then collected
    — the bounded-model discipline of kmeans.py/ivf.py, ~2 KB whatever
    the corpus size — mirrored by symmetry into a d² DRIVER-side grid,
    and the iteration runs as exact Python-int arithmetic on the driver
    (the MLlib PCA pattern: collect the d×d moment, eigensolve
    locally; no corpus re-scan — the corpus is read exactly once).
    Until r16 the iteration unrolled as a 170-node Spark plan over
    64-row LocalRelations; the optimization round moved it driver-side
    (same integers, _tdiv/_bitlen1 mirror SQL `div`/`bin` exactly)
    because the plan bought no distributed work and cost ~1.3 s of
    planning/scheduling per invocation.

    Exactness contract: the grid pre-scales by g div 2^s with
    s = max(bitlen(max|g|) - 31, 0) — an eigenvector is invariant
    under scalar rescale, and |g'| < 2^31 bounds every matvec at
    64·2^31·2^20 < 2^58. Renormalization is the pinned integer step
    (w div 2^t)·2^20 div max(m div 2^t, 1) with t = max(bitlen(m)-42,
    0) (the q_drift_psi two-operand shift), so the iterate stays
    |v| ≤ 2^20 and every hashed column is the same int64 in Spark and
    DuckDB; λ estimates are IEEE casts scaled by exact powers of two.
    G = XᵀX is PSD, so power iteration from the all-ones start cannot
    sign-oscillate; 8 fixed rounds, no convergence test (both engines
    run the identical unrolled arithmetic, converged or not).
    Convergence is the textbook (λ2/λ1)^t: with a spectral gap the
    eigenvector is pinned by round 8 (unit test), while on a
    near-isotropic corpus (the synthetic testdata has λ2/λ1 ≈ 0.93)
    the iterate is a top-eigenSPACE vector — for the projection /
    compression uses downstream that is equally informative, and
    POW_ITERS is the one knob if spectral precision is the goal. The
    raw Gram inherits q_embedding_gram's int64 saturation contract
    (promote to DECIMAL(38) at petabyte row counts).

    100 TB posture: the ONLY data-sized stage is the Gram partial fold
    (one corpus scan, partitions × d² shuffle rows); everything after
    is driver-side arithmetic over the ≤ 4096-entry reduced grid —
    never corpus-sized input.

    Reference anchor: the reference has no vector analytics (SURVEY
    §2.B north-star extension); this is the spectral statistic the
    embedding family (similarity.py, ivf.py, pq.py, int8 above)
    preconditions on."""
    vt = power_vector(spark, sf_dir)
    return vt.select(
        F.col("dim").cast("int").alias("dim"),
        F.col("v").cast("long").alias("v_q"),
        F.col("s").cast("long").alias("gram_shift"),
        F.col("m").cast("long").alias("w_max"),
        (F.col("m").cast("double") / F.lit(POW_VSCALE)).alias("lambda_red"),
        (
            F.col("m").cast("double")
            / F.lit(POW_VSCALE)
            * F.expr("cast(cast(1 as bigint) << s as double)")
        ).alias("lambda_est"),
    )


# ---------------------------------------------------------------------------
# PCA projection: every embedding scored against the top eigenvector —
# the step that turns the spectral statistic into per-row features
# (1-d curriculum/diversity scores, the first coordinate of a PCA
# transform before SQ/PQ compression, and the explained-variance audit
# that decides whether a 1-d projection is even worth keeping).
# ---------------------------------------------------------------------------

_PCA_ORACLE = (
    _power_ctes()
    + f""",
p AS (
    SELECT q.vec_id,
           CAST(sum(q.qv * v.v) AS BIGINT) AS proj_q,
           CAST(sum(q.qv * q.qv) AS BIGINT) AS q_norm2
    FROM q JOIN v{POW_ITERS} v ON q.i = v.dim
    GROUP BY q.vec_id
),
vn AS (SELECT CAST(sum(v * v) AS BIGINT) AS v_norm2 FROM v{POW_ITERS})
SELECT p.vec_id, p.proj_q, p.q_norm2, vn.v_norm2,
       CASE WHEN p.q_norm2 = 0 OR vn.v_norm2 = 0 THEN NULL
            ELSE (CAST(p.proj_q AS DOUBLE) * CAST(p.proj_q AS DOUBLE))
                 / (CAST(p.q_norm2 AS DOUBLE) * CAST(vn.v_norm2 AS DOUBLE))
            END AS explained
FROM p CROSS JOIN vn
"""
)


@query(
    "q_pca_project",
    oracle=_PCA_ORACLE,
    tags=("llm", "embedding", "iterative", "ml"),
)
def q_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project every embedding onto the power-iteration eigenvector and
    audit how much of each vector's energy the projection explains —
    exact end-to-end: per-vector proj_q = Σ_d q_d·v_d and the two
    norms are pinned int64, and each is BELOW 2^53, so its cast to
    double is EXACT: with |x| ≤ 1 the quantized |q_d| ≤ 1e6 < 2^20 and
    |v_d| ≤ 2^20, so |proj_q| ≤ 2^6·2^20·2^20 = 2^46, ‖q‖² ≤ 2^6·2^40
    = 2^46, ‖v‖² ≤ 2^46 — each with 2^7 headroom even if components
    exceed 1 — and `explained` = proj²/(‖q‖²·‖v‖²) is three correctly-
    rounded IEEE ops in the identical shape in both engines — NULL for
    a zero vector or a zero eigenvector, the NULLIF discipline). The
    eigenvector chain is the SHARED definition (power_vector /
    _power_ctes) with q_gram_power_iter, so the two queries can never
    disagree about v.

    Plan shape: the eigenvector costs one corpus scan (inside
    power_grid's Gram-fold collect; the iteration is driver-side exact
    ints), and the projection is the second, final corpus pass: a
    SINGLE codegen'd map stage folding Σqv·v and Σqv² per row over the
    zipped (embedding, iterate-literal) arrays — no posexplode, no
    join, no groupBy, ZERO exchanges (r17; the r16 shape still paid
    one vec_id exchange of the map-side-combined partials). Two scans
    total is the honest PCA cost: the sufficient statistic, then the
    transform. Output is N rows — the per-row feature a curation
    pipeline writes back next to the embedding.

    Reference anchor: the reference has no vector analytics (SURVEY
    §2.B north-star extension); with q_embedding_gram (the moment),
    q_gram_power_iter (the direction), and this projection (the
    transform), the engine covers the PCA triad the compression family
    preconditions on."""
    # r17 optimization (guide §2.4 — remove the shuffle outright): the
    # iterate v is ALREADY driver-side exact ints (power_grid +
    # power_iterate, the r16 bounded-model move), so the projection
    # needs no posexplode→broadcast-join→groupBy(vec_id) reassembly —
    # Σ_d qv_d·v_d and Σ_d qv_d² fold per ROW over the zipped arrays in
    # one codegen'd map pass. The corpus never shuffles (the old plan
    # exchanged one row per (vec_id, partition) after map-side
    # combine; this plan has ZERO exchanges on the corpus path), and
    # the arithmetic is the identical exact int64 per element
    # (floor(x·10⁶) quantize, products and sums all < 2^53), so the
    # rows are bit-identical — pinned by the unchanged shared-chain
    # oracle and tests/test_drift_kmeans.py.
    G, s = power_grid(spark, sf_dir)
    vrows = power_iterate(G, s) if G is not None else []
    if not vrows:
        # empty corpus: the oracle's CTE chain starves the same way
        return spark.createDataFrame(
            [],
            "vec_id bigint, proj_q bigint, q_norm2 bigint, "
            "v_norm2 bigint, explained double",
        )
    v = [r[3] for r in vrows]  # iterate components, dim order 1..d
    v_norm2 = sum(x * x for x in v)  # exact int, ≤ 2^46
    v_arr = "array(" + ", ".join(f"CAST({x} AS BIGINT)" for x in v) + ")"
    # one fold computes BOTH sums; qv is quantized once per element
    pn = F.expr(
        "aggregate("
        f"zip_with(embedding, {v_arr}, (x, vv) -> struct("
        f"CAST(floor(CAST(x AS DOUBLE) * {QUANT_SCALE}) AS BIGINT) AS q, "
        "vv AS v)), "
        "struct(CAST(0 AS BIGINT) AS p, CAST(0 AS BIGINT) AS n), "
        "(acc, t) -> struct(acc.p + t.q * t.v AS p, acc.n + t.q * t.q AS n))"
    )
    return (
        load_table(spark, sf_dir, "embeddings")
        # same row-set contract as the posexplode form (and the
        # oracle's unnest): a NULL/empty embedding contributes no row
        .filter(F.expr("embedding IS NOT NULL AND size(embedding) > 0"))
        .select("vec_id", pn.alias("pn"))
        .select(
            "vec_id",
            F.col("pn.p").alias("proj_q"),
            F.col("pn.n").alias("q_norm2"),
            F.lit(v_norm2).cast("long").alias("v_norm2"),
            F.when(
                (F.col("pn.n") == 0) | (F.lit(v_norm2) == 0), F.lit(None)
            )
            .otherwise(
                (F.col("pn.p").cast("double") * F.col("pn.p").cast("double"))
                / (
                    F.col("pn.n").cast("double")
                    * F.lit(v_norm2).cast("long").cast("double")
                )
            )
            .alias("explained"),
        )
    )


# ---------------------------------------------------------------------------
# Second principal component by rank-1 deflation — completes the
# spectral family: q_embedding_gram (the moment), q_gram_power_iter
# (the top direction), q_pca_project (the transform), and now the
# SECOND direction + the explained-variance split between the two,
# which is the statistic that decides whether a 1-d projection
# suffices or the compression pipeline needs more components.
# ---------------------------------------------------------------------------

DEFL_ABITS = 10  # deflation scale A keeps the top 10 bits of p
DEFL_KCAP = 32  # defensive cap on the term-2 up-shift (see proof below)




def _defl_ctes() -> str:
    """SQL twin of deflate_grid + the second power chain: appended
    after _power_ctes()'s v{POW_ITERS}. CTE names are disjoint from
    chain 1 (wf/h2r/u/pr/scal/d/rd2/gg, rounds c{t}/o{t}/y{t}) —
    chain 1's generated text is evidence-pinned, so the rounds
    duplicate its SHAPE with new names while the renormalization
    arithmetic stays the ONE shared _pow_step_sql definition."""
    one = "CAST(1 AS BIGINT)"
    P = POW_ITERS
    step = _pow_step_sql("//", one)
    # DuckDB inlines CTEs by default; without materialization the
    # nested references (wf/pr both re-inline the whole chain-1 v{P},
    # every chain-2 round re-inlines gg, rd2 re-inlines d) multiply
    # into an exponentially-sized plan that runs for minutes. gm/vP
    # pin chain 1's outputs once; d and gg pin the deflation once.
    ctes = [
        f"""gm AS MATERIALIZED (SELECT * FROM g),
vP AS MATERIALIZED (SELECT * FROM v{P}),
wf AS (
    SELECT g.i AS dim, CAST(sum(g.g * v.v) AS BIGINT) AS w
    FROM gm g JOIN vP v ON g.j = v.dim
    GROUP BY 1
),
h2r AS (
    SELECT greatest(length(bin(coalesce(max(abs(w)), 0))) - 15, 0) AS h2
    FROM wf
),
u AS (SELECT dim, w // ({one} << h2) AS u FROM wf CROSS JOIN h2r),
pr AS (
    SELECT CAST(coalesce(sum(u.u * v.v), 0) AS BIGINT) AS p
    FROM u JOIN vP v USING (dim)
),
scal AS (
    SELECT p, h2,
           p // ({one} << greatest(length(bin(abs(p))) - {DEFL_ABITS}, 0))
               AS a_scale,
           least(h2 - greatest(length(bin(abs(p))) - {DEFL_ABITS}, 0),
                 {DEFL_KCAP}) AS kk
    FROM pr CROSS JOIN h2r
),
d AS MATERIALIZED (
    SELECT gr.i AS i, gr.j AS j,
           s.a_scale * gr.g
           - CASE WHEN s.kk >= 0
                  THEN (a.u * b.u) * ({one} << s.kk)
                  ELSE (a.u * b.u) // ({one} << (-s.kk)) END AS d
    FROM gm gr JOIN u a ON gr.i = a.dim JOIN u b ON gr.j = b.dim
    CROSS JOIN scal s
),
rd2 AS (
    SELECT greatest(coalesce(length(bin(max(abs(d)))), 1) - 31, 0) AS s2
    FROM d
),
gg AS MATERIALIZED (SELECT i, j, d // ({one} << s2) AS g, s2 AS s
       FROM d CROSS JOIN rd2),
y0 AS (
    SELECT CAST(dim AS INT) AS dim, CAST({POW_VSCALE} AS BIGINT) AS v
    FROM range(1, {EMBED_DIM + 1}) r(dim)
)"""
    ]
    for t in range(1, P + 1):
        ctes.append(
            f"""c{t} AS (
    SELECT g.i AS dim, g.s AS s, CAST(sum(g.g * v.v) AS BIGINT) AS w
    FROM gg g JOIN y{t - 1} v ON g.j = v.dim
    GROUP BY 1, 2
),
o{t} AS (SELECT dim, s, w, max(abs(w)) OVER () AS m FROM c{t}),
y{t} AS (
    SELECT dim, s, m,
           CAST({step} AS BIGINT) AS v
    FROM o{t}
)"""
        )
    return ",\n".join(ctes)


def _deflate_oracle() -> str:
    one = "CAST(1 AS BIGINT)"
    P = POW_ITERS
    return (
        _power_ctes()
        + ",\n"
        + _defl_ctes()
        + f""",
tr AS (SELECT CAST(coalesce(sum(g), 0) AS BIGINT) AS tr FROM gm WHERE i = j),
yP AS MATERIALIZED (SELECT * FROM y{P}),
d12 AS (
    SELECT CAST(coalesce(sum(a.v * b.v), 0) AS BIGINT) AS dot12
    FROM vP a JOIN yP b USING (dim)
)
SELECT a.dim AS dim,
       CAST(a.v AS BIGINT) AS v1_q,
       CAST(b.v AS BIGINT) AS v2_q,
       d12.dot12 AS dot12,
       CAST(a.m AS BIGINT) AS m1,
       CAST(b.m AS BIGINT) AS m2,
       CAST(s.a_scale AS BIGINT) AS defl_scale,
       CAST(r.s2 AS BIGINT) AS defl_shift,
       CASE WHEN s.a_scale = 0 OR a.m = 0 THEN NULL
            ELSE (CAST(b.m AS DOUBLE) * CAST({one} << r.s2 AS DOUBLE))
                 / (CAST(s.a_scale AS DOUBLE) * CAST(a.m AS DOUBLE))
            END AS lambda21_ratio,
       CASE WHEN t.tr = 0 THEN NULL
            ELSE (CAST(a.m AS DOUBLE) / {POW_VSCALE}.0)
                 / CAST(t.tr AS DOUBLE)
            END AS ev1,
       CASE WHEN t.tr = 0 OR s.a_scale = 0 THEN NULL
            ELSE ((CAST(b.m AS DOUBLE) / {POW_VSCALE}.0)
                  * CAST({one} << r.s2 AS DOUBLE)
                  / CAST(s.a_scale AS DOUBLE))
                 / CAST(t.tr AS DOUBLE)
            END AS ev2
FROM vP a JOIN yP b USING (dim)
CROSS JOIN d12 CROSS JOIN scal s CROSS JOIN rd2 r CROSS JOIN tr t
"""
    )


def deflate_grid(G: list[list[int]], vrows: list[tuple[int, int, int, int]]):
    """Rank-1 deflation of the reduced Gram grid against the chain-1
    iterate, driver-side exact ints in the shared quantized-int
    discipline (SQL twin: _defl_ctes — every step below mirrors its
    CTE of the same name with _tdiv/_bitlen1 standing in for `//` and
    `length(bin(...))`). Uses the EXACT-annihilation PSD form

        G2 = (vᵀw)·G − w·wᵀ,   w = G·v

    (G2·v = (vᵀw)w − w(wᵀv) = 0 identically, and xᵀG2x ≥ 0 by
    Cauchy-Schwarz in the G-inner-product — no Rayleigh-quotient
    division, no unit-normalization), rescaled into int64 by two
    truncating shifts both engines replay bit-for-bit:

      u = w div 2^h2 with h2 = max(bitlen(max|w|) − 15, 0) ⇒ |u| ≤ 2^15
      p = Σ v_i·u_i ≈ vᵀw / 2^h2            (≤ 64·2^15·2^20 = 2^41)
      A = p div 2^(bitlen(p) − 10)          (top 10 bits of p)
      k = h2 − (bitlen(p) − 10)             (the scale that keeps the
                                             two terms of G2/2^(2h2)
                                             aligned for EVERY p)
      d_ij = A·g_ij − (u_i·u_j)·2^k         ≈ G2_ij / 2^(2h2 − k)

    Bounds: A < 2^10 so |A·g| < 2^41; for the up-shift branch, PSD
    gives vᵀw ≥ ‖w‖²/λ1 ≥ max|w|²/(64·2^31), so bitlen(p) ≥ h2 − 9 −
    (truncation ≤ 2^26) and k ≤ ~20 ⇒ |u_iu_j·2^k| ≤ 2^50; DEFL_KCAP
    caps k at 32 (term ≤ 2^62) against inputs that violate the PSD
    assumption, trading deflation quality — never exactness — on
    adversarial data. d then re-reduces to |g| < 2^31 with the SAME
    shift rule as chain 1 and feeds the SAME power_iterate.

    Truncation makes the annihilation approximate (relative ~2^-15);
    that affects CONVERGENCE only — both engines run the identical
    integer arithmetic, so cross-engine parity is unconditional.

    Returns (G2, s2, a_scale) — the deflated reduced d×d grid, its
    shift, and the deflation scale A."""
    D = EMBED_DIM
    v = [0] * D
    for dim, _s, _m, vv in vrows:
        v[dim - 1] = vv
    w = [sum(G[i][j] * v[j] for j in range(D)) for i in range(D)]
    h2 = max(_bitlen1(max(abs(x) for x in w)) - 15, 0)
    u = [_tdiv(x, 1 << h2) for x in w]
    p = sum(u[i] * v[i] for i in range(D))
    pshift = max(_bitlen1(abs(p)) - DEFL_ABITS, 0)
    a_scale = _tdiv(p, 1 << pshift)
    kk = min(h2 - pshift, DEFL_KCAP)
    if kk >= 0:
        d = [
            [a_scale * G[i][j] - (u[i] * u[j]) * (1 << kk) for j in range(D)]
            for i in range(D)
        ]
    else:
        d = [
            [a_scale * G[i][j] - _tdiv(u[i] * u[j], 1 << (-kk)) for j in range(D)]
            for i in range(D)
        ]
    s2 = max(_bitlen1(max(abs(x) for row in d for x in row)) - 31, 0)
    G2 = [[_tdiv(x, 1 << s2) for x in row] for row in d]
    return G2, s2, a_scale


@query(
    "q_pca_deflate",
    oracle=_deflate_oracle(),
    tags=("llm", "embedding", "iterative", "ml"),
)
def q_pca_deflate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second principal direction of the corpus Gram by rank-1
    deflation + a second power iteration, with the explained-variance
    split between the two components — exact int64 end-to-end on the
    hashed columns. Chain 1 is the SHARED power_grid/power_iterate
    definition (so q_gram_power_iter and this query can never disagree
    about v1); deflate_grid builds G2 = (vᵀw)·G − w·wᵀ in the pinned
    two-shift integer scaling (exactness proof in its docstring), and
    the SAME power_iterate runs POW_ITERS rounds over the deflated
    grid — all driver-side exact Python ints since r16 (the MLlib
    collect-the-moment pattern; the previous in-plan form spent ~7 s
    per invocation planning two 170-node chains + four bounded
    materialization jobs, with zero distributed work in any of them).

    Emitted audit columns: dot12 = Σ v1·v2 (exact — near-orthogonality
    follows from G2·v1 ≈ 0 up to the documented 2^-15 truncation
    residual), both iterates' matvec maxima m1/m2, the deflation
    scales, λ2/λ1 in common g-units (m2·2^s2/(A·m1), four
    correctly-rounded IEEE ops in the identical shape both engines),
    and the ev1/ev2 explained-variance split against the exact trace.
    On the near-isotropic synthetic corpus (λ2/λ1 ≈ 0.93) chain 2
    converges as slowly as chain 1 — the iterates span the top
    eigenSPACE; a gapped fixture pins the numpy agreement in tests.

    Plan shape / 100 TB posture: corpus is scanned exactly ONCE
    (inside power_grid's Gram-fold collect — the bounded-model
    discipline, ~2 KB whatever the corpus size); the deflation and
    BOTH iterations are driver-side arithmetic over the ≤ 64²-entry
    reduced grid, and the returned plan is a 64-row LocalRelation
    with zero parquet scans (plan-test pinned, the q_gram_power_iter
    contract).

    Reference anchor: no vector analytics in the reference (SURVEY
    §2.B north-star); r15 closed the PCA triad, this closes the
    SPECTRAL family — moment → direction → transform → second
    direction + variance split."""
    G, s = power_grid(spark, sf_dir)
    if G is None:
        # empty corpus: the oracle's grid join starves every chain —
        # emit the empty frame through the same final select so the
        # schema (names, types, nullability) is identical either way
        base = spark.createDataFrame(
            [],
            "dim int, v1_q long, v2_q long, dot12 long, m1 long,"
            " m2 long, a_scale long, s2 long, tr long",
        )
    else:
        vrows1 = power_iterate(G, s)
        G2, s2, a_scale = deflate_grid(G, vrows1)
        vrows2 = power_iterate(G2, s2)
        tr = sum(G[i][i] for i in range(EMBED_DIM))
        v1 = {dim: (m, v) for dim, _s, m, v in vrows1}
        v2 = {dim: (m, v) for dim, _s, m, v in vrows2}
        dot12 = sum(v1[d][1] * v2[d][1] for d in v1)
        base = spark.createDataFrame(
            [
                (
                    d,
                    v1[d][1],
                    v2[d][1],
                    dot12,
                    v1[d][0],
                    v2[d][0],
                    a_scale,
                    s2,
                    tr,
                )
                for d in sorted(v1)
            ],
            "dim int, v1_q long, v2_q long, dot12 long, m1 long,"
            " m2 long, a_scale long, s2 long, tr long",
        )
    one = "cast(1 as bigint)"
    return (
        base.select(
            "dim",
            "v1_q",
            "v2_q",
            "dot12",
            F.col("m1").cast("long").alias("m1"),
            F.col("m2").cast("long").alias("m2"),
            F.col("a_scale").cast("long").alias("defl_scale"),
            F.col("s2").cast("long").alias("defl_shift"),
            F.expr(
                f"CASE WHEN a_scale = 0 OR m1 = 0 THEN NULL"
                f" ELSE (CAST(m2 AS DOUBLE) * CAST({one} << s2 AS DOUBLE))"
                f" / (CAST(a_scale AS DOUBLE) * CAST(m1 AS DOUBLE)) END"
            ).alias("lambda21_ratio"),
            F.expr(
                f"CASE WHEN tr = 0 THEN NULL"
                f" ELSE (CAST(m1 AS DOUBLE) / {POW_VSCALE}.0)"
                f" / CAST(tr AS DOUBLE) END"
            ).alias("ev1"),
            F.expr(
                f"CASE WHEN tr = 0 OR a_scale = 0 THEN NULL"
                f" ELSE ((CAST(m2 AS DOUBLE) / {POW_VSCALE}.0)"
                f" * CAST({one} << s2 AS DOUBLE)"
                f" / CAST(a_scale AS DOUBLE))"
                f" / CAST(tr AS DOUBLE) END"
            ).alias("ev2"),
        )
    )
