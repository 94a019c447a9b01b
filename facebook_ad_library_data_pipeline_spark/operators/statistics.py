"""Robust statistics for pipeline monitoring: MAD-based outlier
detection and deterministic Poisson-bootstrap confidence intervals —
the two workhorses of data-drift alerting over a continuously ingested
corpus (is today's value distribution off? is the metric's movement
outside its sampling noise?).

Both are exact-arithmetic by construction so the driver can hash them:

- Medians run on integer cents, so every interpolated midpoint is
  k.0/k.5 — exact in double, identical in Spark's ``percentile`` and
  DuckDB's ``quantile_cont`` (same p·(n−1) definition).
- The bootstrap's resample weights are DETERMINISTIC Poisson(1) draws:
  the portable 60-bit md5 hash (dedup_near.portable_hash60 — Spark
  ``conv(substring(md5,1,15),16,10)`` ≡ DuckDB
  ``('0x'||substr(md5,1,15))::BIGINT``) of (event_id, replica) maps to
  u ∈ [0, 1e9), inverted through the Poisson CDF with PINNED integer
  thresholds (⌊1e9·P(X≤k)⌋, k=0..4, tail capped at 5). Seeded-noise
  resampling is the standard trick for REPRODUCIBLE uncertainty in a
  distributed pipeline — same data, same CI, any engine, any retry.

Scale: the bootstrap explodes B=20 replicas before one (key, replica)
aggregate — map-side combine absorbs the fan-out, and B is a constant,
so shuffle volume is B× the group count, not B× the data. The MAD pass
is two broadcast joins of a per-key stats table (|keys| rows) against
the fact — never a fact-to-fact shuffle.

Reference anchor: the reference computes plain means in pandas
(transform_raw_data.py aggregate step) with no robustness or
uncertainty — this is the beyond-reference monitoring layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.guards import guard_product_int64
from ..registry import query
from .dedup_near import portable_hash60

# ⌊1e9 · P(Poisson(1) ≤ k)⌋ for k = 0..4; u ≥ last ⇒ weight 5 (cap).
_POIS_CDF = [367879441, 735758882, 919698602, 981011843, 996340153]
_B = 20  # bootstrap replicas

_CENTS = "CAST(floor(value * 100 + 0.5) AS BIGINT)"


def _poisson_weight(u9):
    w = F.lit(5)
    for k in range(len(_POIS_CDF) - 1, -1, -1):
        w = F.when(u9 < _POIS_CDF[k], F.lit(k)).otherwise(w)
    return w


def _poisson_weight_sql(u9: str) -> str:
    branches = " ".join(
        f"WHEN {u9} < {t} THEN {k}" for k, t in enumerate(_POIS_CDF)
    )
    return f"CASE {branches} ELSE 5 END"


_MAD_ORACLE = f"""
WITH ev AS (
    SELECT event_type, {_CENTS} AS cents FROM events
), med AS (
    SELECT event_type, quantile_cont(cents, 0.5) AS med_cents
    FROM ev GROUP BY event_type
), dev AS (
    SELECT e.event_type, e.cents, m.med_cents,
           abs(e.cents - m.med_cents) AS adev
    FROM ev e JOIN med m USING (event_type)
), mad AS (
    SELECT event_type, quantile_cont(adev, 0.5) AS mad_cents
    FROM dev GROUP BY event_type
)
SELECT d.event_type,
       CAST(count(*) AS BIGINT) AS n,
       any_value(d.med_cents) AS med_cents,
       any_value(m.mad_cents) AS mad_cents,
       CAST(sum(CASE WHEN d.adev > 3 * m.mad_cents THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers,
       max(d.adev) AS max_dev
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
"""


@query("q_mad_outliers", oracle=_MAD_ORACLE, tags=("stats", "quality", "agg"))
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier census: median + MAD (median absolute
    deviation) over integer cents, events flagged when their deviation
    exceeds 3·MAD — the standard robust z-score gate, immune to the
    outliers it hunts (unlike stddev-based gates). Exact medians over
    ints make every midpoint k.0/k.5, so Spark and DuckDB agree
    bit-for-bit and the hash pins the whole procedure. Plan: two
    per-key stats tables (≤ |event_type| rows) broadcast back against
    the fact — no fact-to-fact shuffle; three aggregate exchanges on a
    5-key column."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.expr(_CENTS).alias("cents")
    )
    med = ev.groupBy("event_type").agg(
        F.percentile("cents", 0.5).alias("med_cents")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("cents") - F.col("med_cents"))
    )
    # dev feeds both the MAD aggregate and the final census —
    # materialize once instead of re-scanning events per consumer
    # (the semdedup/q_state_reshard bounded-reuse discipline; at scale
    # this is a persist of N×3 narrow columns, standard for two-pass
    # robust statistics). cents is dead after adev — drop it before
    # the snapshot.
    dev = dev.select("event_type", "med_cents", "adev").localCheckpoint(
        eager=True
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", 0.5).alias("mad_cents")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.any_value("med_cents").alias("med_cents"),
            F.any_value("mad_cents").alias("mad_cents"),
            F.sum(
                F.when(F.col("adev") > 3 * F.col("mad_cents"), 1).otherwise(0)
            ).alias("n_outliers"),
            F.max("adev").alias("max_dev"),
        )
    )


_BOOT_ORACLE = f"""
WITH ev AS (
    SELECT event_id, event_type, {_CENTS} AS cents FROM events
), rep AS (
    SELECT e.event_type, b.b, e.cents,
           {_poisson_weight_sql(
               "(('0x' || substr(md5(CAST(e.event_id AS VARCHAR) || ':' "
               "|| CAST(b.b AS VARCHAR)), 1, 15))::BIGINT % 1000000000)"
           )} AS w
    FROM ev e
    CROSS JOIN (SELECT unnest(generate_series(0, {_B - 1})) AS b) b
), means AS (
    -- NULLIF guards the (probability e^-n, but unguarded) all-zero
    -- replica: DuckDB's IEEE float 0/0 is NaN while Spark's is NULL;
    -- pin the degenerate case to NULL in BOTH engines (r12 ADVICE).
    SELECT event_type, b,
           CAST(sum(w * cents) AS DOUBLE)
               / CAST(NULLIF(sum(w), 0) AS DOUBLE) AS mean_b
    FROM rep GROUP BY event_type, b
), point AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS DOUBLE) / count(*) AS mean_cents
    FROM ev GROUP BY event_type
)
SELECT p.event_type, p.n, p.mean_cents,
       min(m.mean_b) AS ci_lo,
       max(m.mean_b) AS ci_hi,
       CAST({_B} AS BIGINT) AS n_replicas
FROM point p JOIN means m USING (event_type)
GROUP BY p.event_type, p.n, p.mean_cents
"""


@query("q_bootstrap_ci", oracle=_BOOT_ORACLE, tags=("stats", "agg"))
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson bootstrap of the per-type mean: each
    (event, replica) pair draws a reproducible Poisson(1) resample
    weight from the portable md5 hash, 20 replica means bracket the
    sampling range (min/max envelope), emitted next to the exact point
    estimate. The oracle replays the hash, the pinned CDF inversion,
    and every weighted mean, so one flipped weight anywhere in
    events×20 moves a replica mean and the hash. Plan: explode B=20
    constant replicas → ONE aggregate on (type, replica) with map-side
    combine (shuffle rows = 5·20, not |events|·20) → per-type
    envelope; B is a constant so the plan is scale-free."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", F.expr(_CENTS).alias("cents")
    )
    rep = ev.withColumn(
        "b", F.explode(F.sequence(F.lit(0), F.lit(_B - 1)))
    ).withColumn(
        "w",
        _poisson_weight(
            portable_hash60(
                F.concat_ws(":", F.col("event_id"), F.col("b"))
            )
            % F.lit(1_000_000_000)
        ),
    )
    # nullif mirrors the oracle's NULLIF(sum(w),0): an all-zero-weight
    # replica (probability e^-n per replica) is NULL in both engines
    # instead of Spark-NULL vs DuckDB-NaN.
    means = rep.groupBy("event_type", "b").agg(
        (
            F.sum(F.col("w") * F.col("cents")).cast("double")
            / F.nullif(F.sum("w"), F.lit(0)).cast("double")
        ).alias("mean_b")
    )
    point = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("cents").cast("double") / F.count(F.lit(1))).alias("mean_cents"),
    )
    return (
        point.join(means, "event_type")
        .groupBy("event_type", "n", "mean_cents")
        .agg(
            F.min("mean_b").alias("ci_lo"),
            F.max("mean_b").alias("ci_hi"),
            F.lit(_B).cast("long").alias("n_replicas"),
        )
    )


_AUC_ORACLE = f"""
WITH ev AS (
    SELECT {_CENTS} AS cents,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
    FROM events
), s AS (
    SELECT cents, sum(pos) AS npos, sum(1 - pos) AS nneg
    FROM ev GROUP BY cents
), c AS (
    SELECT npos, nneg,
           coalesce(sum(nneg) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumneg
    FROM s
)
SELECT CAST(sum(npos) AS BIGINT) AS n_pos,
       CAST(sum(nneg) AS BIGINT) AS n_neg,
       CAST(sum(npos * (2 * cumneg + nneg)) AS BIGINT) AS u2,
       CAST(2 * sum(npos) * sum(nneg) AS BIGINT) AS denom,
       CAST(sum(npos * (2 * cumneg + nneg)) AS DOUBLE)
           / CAST(2 * sum(npos) * sum(nneg) AS DOUBLE) AS auc
FROM c
"""


@query("q_rank_auc", oracle=_AUC_ORACLE, tags=("stats", "window", "agg"))
def q_rank_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed AUC (Mann-Whitney U) of event value as a
    classifier for the purchase label — the model-eval primitive every
    training pipeline runs on held-out scores. Tie-aware without
    enumerating pairs: collapse to DISTINCT scores with per-score
    pos/neg counts (one shuffle, map-side combine), running negative
    count below each score, then U·2 = Σ npos·(2·cumneg + nneg) —
    all int64, ties get exact half credit, AUC emitted as the IEEE
    division of two pinned integers. The running sum is a
    single-partition window over the DISTINCT-SCORE table, bounded by
    the score domain (prices quantize), never the row count — the same
    shape at 100 TB. The oracle replays the collapse, the running
    count, and both integers, so a tie mishandled anywhere moves u2."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        F.expr(_CENTS).alias("cents"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("pos"),
    )
    s = ev.groupBy("cents").agg(
        F.sum("pos").alias("npos"), F.sum(1 - F.col("pos")).alias("nneg")
    )
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    c = s.withColumn("cumneg", F.coalesce(F.sum("nneg").over(w), F.lit(0)))
    return c.agg(
        F.sum("npos").cast("long").alias("n_pos"),
        F.sum("nneg").cast("long").alias("n_neg"),
        F.sum(F.col("npos") * (2 * F.col("cumneg") + F.col("nneg")))
        .cast("long")
        .alias("u2"),
        (2 * F.sum("npos") * F.sum("nneg")).cast("long").alias("denom"),
        (
            F.sum(F.col("npos") * (2 * F.col("cumneg") + F.col("nneg"))).cast(
                "double"
            )
            / (2 * F.sum("npos") * F.sum("nneg")).cast("double")
        ).alias("auc"),
    )


_TRIM_PCT = 5  # drop the lowest and highest 5% (floor) per group

_TRIM_ORACLE = f"""
WITH ev AS (
    SELECT event_id, event_type, {_CENTS} AS cents FROM events
), ranked AS (
    SELECT event_type, cents,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY cents, event_id) AS rk,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM ev
)
SELECT event_type,
       CAST(any_value(n) AS BIGINT) AS n,
       CAST(any_value(n) // 20 AS BIGINT) AS n_trimmed_each,
       CAST(sum(CASE WHEN rk > n // 20 AND rk <= n - n // 20
                     THEN cents ELSE 0 END) AS BIGINT) AS kept_sum,
       CAST(sum(CASE WHEN rk > n // 20 AND rk <= n - n // 20
                     THEN 1 ELSE 0 END) AS BIGINT) AS kept_n,
       CAST(sum(CASE WHEN rk > n // 20 AND rk <= n - n // 20
                     THEN cents ELSE 0 END) AS DOUBLE)
           / CAST(sum(CASE WHEN rk > n // 20 AND rk <= n - n // 20
                           THEN 1 ELSE 0 END) AS DOUBLE) AS trimmed_mean
FROM ranked
GROUP BY event_type
"""


@query("q_trimmed_mean", oracle=_TRIM_ORACLE, tags=("stats", "window", "agg"))
def q_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-trimmed mean per type — the robust location estimate between
    the mean (outlier-hostage) and the median (throws away data): rank
    within each type by (cents, event_id) — the tie-break pinned so
    equal values trim deterministically — drop floor(n/20) rows from
    each tail, emit the kept sum and count as pinned integers with the
    trimmed mean their IEEE quotient. One window shuffle on the type
    key; the trim is a rank predicate, not a second pass. The oracle
    replays ranking, both cutoffs, and both integers."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", F.expr(_CENTS).alias("cents")
    )
    wr = Window.partitionBy("event_type").orderBy("cents", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "cents",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    k = F.floor(F.col("n") / 20)
    kept = F.when((F.col("rk") > k) & (F.col("rk") <= F.col("n") - k), 1).otherwise(0)
    return ranked.groupBy("event_type").agg(
        F.any_value("n").cast("long").alias("n"),
        F.floor(F.any_value("n") / 20).cast("long").alias("n_trimmed_each"),
        F.sum(F.when(kept == 1, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("kept_sum"),
        F.sum(kept).cast("long").alias("kept_n"),
        (
            F.sum(F.when(kept == 1, F.col("cents")).otherwise(0)).cast("double")
            / F.sum(kept).cast("double")
        ).alias("trimmed_mean"),
    )


# ------------------------------------------ two-sample KS drift test

# Distribution-drift detection between two event populations: the
# exact two-sample Kolmogorov–Smirnov statistic, sup |F1 − F2| over
# the empirical CDFs. Cross-multiplied to stay INTEGER-exact on the
# hash path: D = max |cum1·N2 − cum2·N1| / (N1·N2) — the numerator
# and denominator are pinned int64s, the statistic their one IEEE
# quotient (the q_rank_auc discipline).
KS_SAMPLE_A = "purchase"
KS_SAMPLE_B = "view"

_KS_ORACLE = f"""
WITH ev AS (
    SELECT {_CENTS} AS cents,
           CASE WHEN event_type = '{KS_SAMPLE_A}' THEN 1 ELSE 0 END AS a,
           CASE WHEN event_type = '{KS_SAMPLE_B}' THEN 1 ELSE 0 END AS b
    FROM events
    WHERE event_type IN ('{KS_SAMPLE_A}', '{KS_SAMPLE_B}')
), s AS (
    SELECT cents, sum(a) AS na, sum(b) AS nb FROM ev GROUP BY cents
), c AS (
    SELECT sum(na) OVER (ORDER BY cents) AS cuma,
           sum(nb) OVER (ORDER BY cents) AS cumb
    FROM s
), n AS (
    SELECT sum(na) AS n1, sum(nb) AS n2 FROM s
)
SELECT CAST(n.n1 AS BIGINT) AS n1,
       CAST(n.n2 AS BIGINT) AS n2,
       CAST(max(abs(c.cuma * n.n2 - c.cumb * n.n1)) AS BIGINT) AS ks_num,
       CAST(n.n1 * n.n2 AS BIGINT) AS ks_denom,
       CAST(max(abs(c.cuma * n.n2 - c.cumb * n.n1)) AS DOUBLE)
           / CAST(NULLIF(n.n1 * n.n2, 0) AS DOUBLE) AS ks_stat
FROM c, n
GROUP BY n.n1, n.n2
"""


@query("q_drift_ks", oracle=_KS_ORACLE, tags=("stats", "drift", "window"))
def q_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS statistic between the purchase and view
    value distributions — the nonparametric drift gate a feature/label
    monitoring pipeline runs between time windows or data sources.
    Tie-correct by construction: both CDFs step at the same DISTINCT
    value grid, so the supremum is evaluated exactly at every jump
    point. Everything on the hash path is int64 (per-value counts,
    running sums, the cross-multiplied deviations); ks_stat is the
    single IEEE quotient of two pinned integers.

    Int64 headroom (the lm.py discipline — a hard contract, not a
    soft one): the cross-multiplies peak at N1·N2, which overflows
    int64 when both samples exceed ~3.0e9 rows — and Spark's non-ANSI
    arithmetic would wrap SILENTLY there while DuckDB errors, so the
    1-row sample-size aggregate raise_errors past the bound instead
    of hashing a wrapped value. Production at real counts would move
    to the asymptotic double form D·sqrt(n1·n2/(n1+n2)) (which also
    removes the bound); the exactness contract under test is
    identical.

    Plan shape (the q_rank_auc argument): collapse to DISTINCT cents
    with per-sample counts (ONE shuffle, map-side combine), then a
    single-partition running-sum window over the DISTINCT-VALUE grid —
    bounded by the score domain (prices quantize), never the row count
    — then a 1-row max. At 100 TB the shuffle carries |distinct
    values| rows of three ints."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(KS_SAMPLE_A, KS_SAMPLE_B)
    ).select(
        F.expr(_CENTS).alias("cents"),
        F.when(F.col("event_type") == KS_SAMPLE_A, 1).otherwise(0).alias("a"),
        F.when(F.col("event_type") == KS_SAMPLE_B, 1).otherwise(0).alias("b"),
    )
    s = ev.groupBy("cents").agg(
        F.sum("a").alias("na"), F.sum("b").alias("nb")
    )
    # Running sums AND the totals come from the SAME single-partition
    # window pass over the distinct-cents grid (unbounded-following
    # frame for the totals) — one fact scan, one band exchange. The
    # earlier separate 1-row total aggregate re-derived `s` from
    # scratch, scanning the fact table twice (review catch), and its
    # empty-input NULL sums could misfire the overflow guard; a window
    # over existing rows has neither problem.
    wrun = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = s.select(
        F.sum("na").over(wrun).alias("cuma"),
        F.sum("nb").over(wrun).alias("cumb"),
        F.sum("na").over(wall).alias("n1"),
        F.sum("nb").over(wall).alias("n2"),
    )
    # Overflow guard (see docstring): past n1*n2 ≥ 2^63 Spark would
    # wrap where DuckDB errors — fail loudly instead. `div` keeps the
    # bound check itself in exact integer arithmetic; the WHEN runs on
    # per-row copies of the totals, so there is no row to misfire on
    # when the input is empty.
    c = c.withColumn(
        "n2",
        guard_product_int64(
            "n2",
            "n1",
            "n2",
            "q_drift_ks: n1*n2 exceeds int64 — use the "
            "asymptotic double form at this sample size",
        ),
    )
    dev = c.select(
        "n1",
        "n2",
        F.abs(F.col("cuma") * F.col("n2") - F.col("cumb") * F.col("n1")).alias(
            "dev"
        ),
    )
    # NULLIF: when ONE sample is empty (n1·n2 = 0) Spark 4's ANSI mode
    # ERRORS on the division where DuckDB returns NULL — pin the
    # degenerate ks_stat to NULL in both engines (the kappa/bootstrap
    # discipline; ks_denom stays the exact integer 0).
    return dev.groupBy("n1", "n2").agg(
        F.max("dev").cast("long").alias("ks_num"),
        (F.col("n1") * F.col("n2")).cast("long").alias("ks_denom"),
        (
            F.max("dev").cast("double")
            / F.nullif(
                (F.col("n1") * F.col("n2")).cast("double"), F.lit(0.0)
            )
        ).alias("ks_stat"),
    )


# ---------------------------------------------------------------------------
# Population Stability Index (PSI) — the banded drift twin of q_drift_ks.
# Everything below the band counts is exact int64 arithmetic in BOTH
# engines, including the logarithm: log2 is computed by the classic
# iterated-squaring fixed-point algorithm (integer multiply, shift,
# compare only — no libm on the hash path), so Spark and DuckDB produce
# bit-identical scaled integers.
#
# Pinned definition (a drift monitor needs a reproducible number, not a
# textbook-perfect one):
# * bands are fixed-width cents ranges (cents div PSI_BAND_CENTS) over
#   the OBSERVED union of both samples — absent-everywhere bands
#   contribute nothing;
# * shares are add-one smoothed: pa = (na+1)/(n1+B), pe = (nb+1)/(n2+B)
#   with B = observed band count, so empty-on-one-side bands stay
#   finite;
# * each term is |pa-pe| · |ln(pa/pe)| — the two true factors always
#   carry the same sign (pa>pe ⟺ pa/pe>1), so taking abs() of each
#   independently-rounded factor keeps every term non-negative and
#   every division operand non-negative (where Spark's `div` and
#   DuckDB's `//` agree trivially; both truncate toward zero, so
#   signed would match too — belt and suspenders).
#
# Int64 headroom is ENGINEERED per factor, not documented away
# (contrast the q_drift_ks guard, which raise_errors at its N1·N2
# bound):
# * the SHARE path computes pa and pe in ppm SEPARATELY — numerator
#   and denominator of each share reduced by a COMMON shift derived
#   from the denominator (length(bin(x)) is the exact ⌊log2⌋+1 in both
#   engines), so count·1e6 stays < 2^62 at any size and a count that
#   reduces to 0 is a share genuinely below ppm resolution (no clamp);
# * the LOG path reduces all FOUR factors INDEPENDENTLY below 2^31
#   (products < 2^62) and folds the four shifts into an exact signed
#   exponent adjustment, then takes fixed-point log2 of the two
#   cross-products with a shared 20-step squaring chain and subtracts
#   — no big/small division, no clamps, each reduced factor keeps
#   ≥ 30 significant bits at ANY skew, so the reduction error
#   (≤ 4·2^-30 on the ratio) is dominated by the log's own 2^-20
#   fractional quantization.
# All reductions are no-ops (shift 0, values exact) until a count
# crosses 2^31 ≈ 2.1e9 rows per band/sample — and there is ZERO
# cross-engine divergence either way: both engines run the same
# integer ops on the same integers. DuckDB's integer sums are HUGEINT,
# so the oracle CASTs every count aggregate to BIGINT up front to stay
# in the same ring Spark computes in.
# ---------------------------------------------------------------------------

PSI_BAND_CENTS = 500  # band width; sf0.1 observes ~85 bands
PSI_FRAC_BITS = 20  # fractional bits of the fixed-point log2
_PSI_MSCALE = 1 << 30  # mantissa scale S: m ∈ [S, 2S) during squaring
LN2_NANO = 693_147_180  # ⌊ln(2) · 1e9⌋ — pinned, same constant both engines


def _psi_prelude_sql() -> str:
    """Shared CTE chain up to the two normalized mantissas (mn, md)
    and zeroed frac accumulators. See the module comment for the
    reduction scheme."""
    return f"""
ev AS (
    SELECT {_CENTS} // {PSI_BAND_CENTS} AS band,
           CASE WHEN event_type = '{KS_SAMPLE_A}' THEN 1 ELSE 0 END AS a,
           CASE WHEN event_type = '{KS_SAMPLE_B}' THEN 1 ELSE 0 END AS b
    FROM events
    WHERE event_type IN ('{KS_SAMPLE_A}', '{KS_SAMPLE_B}')
),
s AS (SELECT band, CAST(sum(a) AS BIGINT) AS na,
             CAST(sum(b) AS BIGINT) AS nb
      FROM ev GROUP BY band),
tot AS (SELECT CAST(sum(na) AS BIGINT) AS n1,
               CAST(sum(nb) AS BIGINT) AS n2,
               CAST(count(*) AS BIGINT) AS bcnt FROM s),
f AS (
    SELECT band, na, nb,
           na + 1 AS ca, nb + 1 AS cb,
           n1 + bcnt AS d1, n2 + bcnt AS d2
    FROM s CROSS JOIN tot
),
pp AS (
    SELECT *,
           ((ca >> greatest(length(bin(d1)) - 42, 0)) * 1000000)
               // (d1 >> greatest(length(bin(d1)) - 42, 0)) AS pa_ppm,
           ((cb >> greatest(length(bin(d2)) - 42, 0)) * 1000000)
               // (d2 >> greatest(length(bin(d2)) - 42, 0)) AS pe_ppm
    FROM f
),
x AS (
    SELECT band, na, nb, abs(pa_ppm - pe_ppm) AS diff_ppm,
           (ca >> greatest(length(bin(ca)) - 31, 0))
               * (d2 >> greatest(length(bin(d2)) - 31, 0)) AS numv,
           (cb >> greatest(length(bin(cb)) - 31, 0))
               * (d1 >> greatest(length(bin(d1)) - 31, 0)) AS denv,
           (greatest(length(bin(ca)) - 31, 0)
               + greatest(length(bin(d2)) - 31, 0))
           - (greatest(length(bin(cb)) - 31, 0)
               + greatest(length(bin(d1)) - 31, 0)) AS eadj
    FROM pp
),
m0 AS (
    SELECT band, na, nb, diff_ppm, eadj,
           length(bin(numv)) - 1 AS iln,
           length(bin(denv)) - 1 AS ild,
           CAST(0 AS BIGINT) AS fn,
           CAST(0 AS BIGINT) AS fd,
           CASE WHEN length(bin(numv)) - 1 >= 30
                THEN numv >> (length(bin(numv)) - 31)
                ELSE numv << (31 - length(bin(numv))) END AS mn,
           CASE WHEN length(bin(denv)) - 1 >= 30
                THEN denv >> (length(bin(denv)) - 31)
                ELSE denv << (31 - length(bin(denv))) END AS md
    FROM x
)"""


def _psi_square_steps_sql() -> str:
    """The PSI_FRAC_BITS unrolled squaring steps, advancing BOTH
    mantissas (numerator and denominator cross-product) in the same
    CTE per step (recursion would also work in DuckDB, but unrolling
    mirrors the Spark column chain exactly — the q_pagerank_neardup
    discipline)."""
    steps = []
    for k in range(1, PSI_FRAC_BITS + 1):
        prev = f"m{k - 1}" if k > 1 else "m0"
        steps.append(
            f"m{k} AS (SELECT band, na, nb, diff_ppm, eadj, iln, ild,\n"
            f"  fn * 2 + CASE WHEN (mn * mn) // {_PSI_MSCALE}"
            f" >= {2 * _PSI_MSCALE} THEN 1 ELSE 0 END AS fn,\n"
            f"  fd * 2 + CASE WHEN (md * md) // {_PSI_MSCALE}"
            f" >= {2 * _PSI_MSCALE} THEN 1 ELSE 0 END AS fd,\n"
            f"  CASE WHEN (mn * mn) // {_PSI_MSCALE} >= {2 * _PSI_MSCALE}\n"
            f"       THEN ((mn * mn) // {_PSI_MSCALE}) // 2\n"
            f"       ELSE (mn * mn) // {_PSI_MSCALE} END AS mn,\n"
            f"  CASE WHEN (md * md) // {_PSI_MSCALE} >= {2 * _PSI_MSCALE}\n"
            f"       THEN ((md * md) // {_PSI_MSCALE}) // 2\n"
            f"       ELSE (md * md) // {_PSI_MSCALE} END AS md\n"
            f"  FROM {prev})"
        )
    return ",\n".join(steps)


_PSI_ORACLE = (
    "WITH "
    + _psi_prelude_sql()
    + ",\n"
    + _psi_square_steps_sql()
    + f""",
terms AS (
    SELECT band, na, nb, diff_ppm,
           abs((iln - ild + eadj) * {1 << PSI_FRAC_BITS} + fn - fd)
               * {LN2_NANO} // {1 << PSI_FRAC_BITS} AS lnr_nano
    FROM m{PSI_FRAC_BITS}
)
SELECT band, na, nb,
       CAST(diff_ppm AS BIGINT) AS diff_ppm,
       CAST(lnr_nano AS BIGINT) AS lnr_nano,
       CAST(diff_ppm * lnr_nano // 1000000 AS BIGINT) AS term_nano,
       CAST(sum(diff_ppm * lnr_nano // 1000000) OVER () AS BIGINT)
           AS psi_nano,
       CAST(sum(diff_ppm * lnr_nano // 1000000) OVER () AS DOUBLE)
           / CAST(1000000000 AS DOUBLE) AS psi
FROM terms
"""
)


@query("q_drift_psi", oracle=_PSI_ORACLE, tags=("stats", "drift", "iterative"))
def q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the purchase and view value
    distributions — the BANDED drift gate that complements q_drift_ks'
    supremum: PSI weights every band's share shift, so a broad small
    drift registers even when no single CDF gap does. See the module
    comment above for the pinned definition; the punchline is that the
    LOGARITHM itself runs in exact integer arithmetic (iterated-
    squaring fixed-point log2 of the two cross-products, 20 fractional
    bits, subtracted in Q20, ln2 pinned at the nano scale), so every
    hashed column — including the per-band log-ratio lnr_nano — is the
    same int64 in Spark and DuckDB, and psi is the single IEEE
    quotient psi_nano / 1e9.

    Plan shape: ONE map-side-combined groupBy collapses the fact table
    to |bands| rows (bands are a fixed-width quantization of the score
    domain — bounded like q_drift_ks' cents grid, NOT by row count);
    totals come from an unbounded window over those same rows (ONE
    fact scan); then the whole log pipeline
    is 20 narrow integer column steps over |bands| rows — constant
    work at any corpus scale (the single-partition window total also
    runs over those |bands| rows only). At 100 TB the only data-sized
    stage is the first aggregate's map side; the per-factor
    bit-reduction scheme in the module comment keeps every product
    < 2^62 with no raise_error bound to hit and no precision cliff at
    extreme skew."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(KS_SAMPLE_A, KS_SAMPLE_B)
    ).select(
        F.expr(f"({_CENTS}) div {PSI_BAND_CENTS}").alias("band"),
        F.when(F.col("event_type") == KS_SAMPLE_A, 1).otherwise(0).alias("a"),
        F.when(F.col("event_type") == KS_SAMPLE_B, 1).otherwise(0).alias("b"),
    )
    s = ev.groupBy("band").agg(
        F.sum("a").cast("long").alias("na"),
        F.sum("b").cast("long").alias("nb"),
    )
    # Totals and band count from an unbounded window over the SAME
    # |bands| rows — one fact scan, one band exchange (a separate
    # 1-row aggregate would re-derive `s` and scan the fact table
    # twice; review catch, same fix as q_drift_ks).
    from pyspark.sql import Window

    wall = Window.partitionBy()
    df = (
        s.select(
            "band",
            "na",
            "nb",
            F.sum("na").over(wall).cast("long").alias("n1"),
            F.sum("nb").over(wall).cast("long").alias("n2"),
            F.count(F.lit(1)).over(wall).cast("long").alias("bcnt"),
        )
        .withColumn("ca", F.expr("na + 1"))
        .withColumn("cb", F.expr("nb + 1"))
        .withColumn("d1", F.expr("n1 + bcnt"))
        .withColumn("d2", F.expr("n2 + bcnt"))
        .withColumn(
            "pa_ppm",
            F.expr(
                "(shiftright(ca, greatest(length(bin(d1)) - 42, 0))"
                " * 1000000)"
                " div shiftright(d1, greatest(length(bin(d1)) - 42, 0))"
            ),
        )
        .withColumn(
            "pe_ppm",
            F.expr(
                "(shiftright(cb, greatest(length(bin(d2)) - 42, 0))"
                " * 1000000)"
                " div shiftright(d2, greatest(length(bin(d2)) - 42, 0))"
            ),
        )
        .withColumn("diff_ppm", F.expr("abs(pa_ppm - pe_ppm)"))
        .withColumn(
            "numv",
            F.expr(
                "shiftright(ca, greatest(length(bin(ca)) - 31, 0))"
                " * shiftright(d2, greatest(length(bin(d2)) - 31, 0))"
            ),
        )
        .withColumn(
            "denv",
            F.expr(
                "shiftright(cb, greatest(length(bin(cb)) - 31, 0))"
                " * shiftright(d1, greatest(length(bin(d1)) - 31, 0))"
            ),
        )
        .withColumn(
            "eadj",
            F.expr(
                "(greatest(length(bin(ca)) - 31, 0)"
                " + greatest(length(bin(d2)) - 31, 0))"
                " - (greatest(length(bin(cb)) - 31, 0)"
                " + greatest(length(bin(d1)) - 31, 0))"
            ),
        )
        .withColumn("iln", F.expr("length(bin(numv)) - 1"))
        .withColumn("ild", F.expr("length(bin(denv)) - 1"))
        .withColumn("fn", F.lit(0).cast("long"))
        .withColumn("fd", F.lit(0).cast("long"))
        .withColumn(
            "mn",
            F.expr(
                "CASE WHEN iln >= 30 THEN shiftright(numv, iln - 30) "
                "ELSE shiftleft(numv, 30 - iln) END"
            ),
        )
        .withColumn(
            "md",
            F.expr(
                "CASE WHEN ild >= 30 THEN shiftright(denv, ild - 30) "
                "ELSE shiftleft(denv, 30 - ild) END"
            ),
        )
    )
    for _ in range(PSI_FRAC_BITS):
        df = (
            df.withColumn("mnsq", F.expr(f"(mn * mn) div {_PSI_MSCALE}"))
            .withColumn("mdsq", F.expr(f"(md * md) div {_PSI_MSCALE}"))
            .withColumn(
                "fn",
                F.expr(
                    f"fn * 2 + CASE WHEN mnsq >= {2 * _PSI_MSCALE} "
                    "THEN 1 ELSE 0 END"
                ),
            )
            .withColumn(
                "fd",
                F.expr(
                    f"fd * 2 + CASE WHEN mdsq >= {2 * _PSI_MSCALE} "
                    "THEN 1 ELSE 0 END"
                ),
            )
            .withColumn(
                "mn",
                F.expr(
                    f"CASE WHEN mnsq >= {2 * _PSI_MSCALE} THEN mnsq div 2 "
                    "ELSE mnsq END"
                ),
            )
            .withColumn(
                "md",
                F.expr(
                    f"CASE WHEN mdsq >= {2 * _PSI_MSCALE} THEN mdsq div 2 "
                    "ELSE mdsq END"
                ),
            )
            .drop("mnsq", "mdsq")
        )
    terms = df.select(
        "band",
        "na",
        "nb",
        F.col("diff_ppm").cast("long").alias("diff_ppm"),
        F.expr(
            f"abs((iln - ild + eadj) * {1 << PSI_FRAC_BITS} + fn - fd)"
            f" * {LN2_NANO} div {1 << PSI_FRAC_BITS}"
        )
        .cast("long")
        .alias("lnr_nano"),
    )
    w = Window.partitionBy()
    return terms.select(
        "band",
        "na",
        "nb",
        "diff_ppm",
        "lnr_nano",
        F.expr("diff_ppm * lnr_nano div 1000000")
        .cast("long")
        .alias("term_nano"),
        F.sum(F.expr("diff_ppm * lnr_nano div 1000000"))
        .over(w)
        .cast("long")
        .alias("psi_nano"),
        (
            F.sum(F.expr("diff_ppm * lnr_nano div 1000000"))
            .over(w)
            .cast("double")
            / F.lit(1_000_000_000).cast("double")
        ).alias("psi"),
    )
