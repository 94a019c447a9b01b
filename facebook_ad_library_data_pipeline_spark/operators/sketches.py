"""Mergeable-sketch aggregates + the GROUPED_AGG pandas-UDF shape.

Absent from the reference (it has no aggregation at all — SURVEY.md
§2.B); these are the approximate/streaming-friendly aggregates a 100 TB
pipeline leans on: a sketch is computed once per partition/day and
MERGED — never recomputed over raw history. HLL sketch bytes are
engine-specific → rows-only checks with determinism/soundness tests in
tests/test_extras.py; the count-distinct they estimate is checked
against exact counts in tests. The grouped-agg pandas UDF (IQR) is the
one pandas-UDF flavor the rest of the repo didn't already cover
(scalar: extras.q_lang_id_udf; grouped map:
operators/extras; mapInPandas: multimodal/media; stateful:
streaming/stateful).
"""

from __future__ import annotations

import math

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query


_HLL_ORACLE = """
SELECT CAST(year(o_orderdate) AS VARCHAR) AS scope,
       count(DISTINCT o_custkey) AS exact_customers,
       TRUE AS approx_ok
FROM orders
GROUP BY scope
UNION ALL
SELECT 'ALL', count(DISTINCT o_custkey), TRUE FROM orders
ORDER BY scope
"""


@query("q_hll_partial_merge", oracle=_HLL_ORACLE, tags=("sketch", "agg", "approx"))
def q_hll_partial_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-level sketch pattern: per-orderdate-year HLL sketches of
    distinct customers (the 'daily partial' at real scale), then
    hll_union_agg over the partials for the global estimate — raw data
    is touched exactly once. Hash-checked via tolerance: the sketch
    estimate itself is engine-specific (Datasketches HLL registers), so
    the query emits the EXACT distinct count per scope plus an
    `approx_ok` flag (|approx − exact| ≤ 5% — default lgConfigK=12 is
    rsd≈1.6%) that the DuckDB oracle pins to TRUE. The merged-ALL row
    specifically proves partial-merge soundness: a broken union would
    drift the ALL estimate beyond tolerance and flip the flag. The
    exact twin is the test harness — at 100 TB only the sketch level
    runs."""
    o = load_table(spark, sf_dir, "orders")
    partials = o.groupBy(F.year("o_orderdate").alias("order_year")).agg(
        F.hll_sketch_agg("o_custkey").alias("sketch"),
        F.countDistinct("o_custkey").alias("exact_customers"),
    )
    per_year = partials.select(
        F.col("order_year").cast("string").alias("scope"),
        "exact_customers",
        F.hll_sketch_estimate("sketch").alias("approx_customers"),
    )
    # Exact distinct does NOT merge by addition (customers order in many
    # years), so the ALL row recomputes it over the raw table; the
    # sketch side merges the per-year partials, as it would at scale.
    merged_sketch = partials.agg(F.hll_union_agg("sketch").alias("sketch")).select(
        F.lit("ALL").alias("scope"),
        F.hll_sketch_estimate("sketch").alias("approx_customers"),
    )
    exact_all = o.agg(F.countDistinct("o_custkey").alias("exact_customers")).select(
        F.lit("ALL").alias("scope"), "exact_customers"
    )
    all_row = merged_sketch.join(exact_all, "scope").select(
        "scope", "exact_customers", "approx_customers"
    )
    return (
        per_year.select("scope", "exact_customers", "approx_customers")
        .unionByName(all_row)
        .select(
            "scope",
            "exact_customers",
            (
                F.abs(F.col("approx_customers") - F.col("exact_customers"))
                <= 0.05 * F.col("exact_customers")
            ).alias("approx_ok"),
        )
        .orderBy("scope")
    )


# Quantiles are computed over integer CENTS on both engines, and the
# half-up rounding is done in exact arithmetic (floor(x + 0.5)): at
# quartile positions the interpolation fraction is r/4 ∈ {0,.25,.5,.75},
# which is exact in binary, so lower + frac*(upper-lower) over int64
# cents is bit-identical across numpy and DuckDB. round(double, 2)
# straight on dollars is NOT: a quantile landing on a half-cent is one
# ulp away from flipping (observed at sf0.001: 249895.52 vs .53).
_IQR_ORACLE = """
SELECT o_orderpriority,
       floor(quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT), 0.75)
             - quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT), 0.25)
             + 0.5) / 100.0 AS price_iqr,
       count(*) AS n_orders
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@query("q_grouped_agg_pandas_iqr", oracle=_IQR_ORACLE, tags=("pandas-udf", "agg"))
def q_grouped_agg_pandas_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas UDF: interquartile range of order totals per
    priority. numpy's linear-interpolation percentile is the same
    estimator as DuckDB quantile_cont, so this one IS oracle-checkable
    (unlike Spark's approx_percentile). Arrow ships each group's column
    once; the UDF sees a plain pd.Series — no per-row Python.

    Quantiles run over int64 CENTS with exact half-up rounding (see
    _IQR_ORACLE note): quartile interpolation over integers with
    frac ∈ {0,.25,.5,.75} is exact in float64, so Spark and DuckDB
    produce bit-identical doubles — no ulp-boundary flips."""

    @F.pandas_udf("double")
    def iqr(v: pd.Series) -> float:
        cents = (v * 100).round().astype("int64")
        d = cents.quantile(0.75) - cents.quantile(0.25)
        return math.floor(d + 0.5) / 100.0

    # Spark refuses to mix GROUPED_AGG pandas UDFs with JVM aggregates
    # in one agg() (INVALID_PANDAS_UDF_PLACEMENT), so the row count is
    # a pandas aggregate too — still a single pass.
    @F.pandas_udf("long")
    def n_rows(v: pd.Series) -> int:
        return len(v)

    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            iqr("o_totalprice").alias("price_iqr"),
            n_rows("o_totalprice").alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


_CMS_BUILTIN_ORACLE = """
SELECT event_type,
       count(*) AS exact_n,
       TRUE AS cms_sound
FROM events
GROUP BY event_type
ORDER BY exact_n DESC, event_type
LIMIT 1000
"""


@query("q_countmin_heavy_hitters", oracle=_CMS_BUILTIN_ORACLE, tags=("sketch", "approx"))
def q_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over event_type with per-key point estimates.
    The sketch is built in ONE distributed aggregate (count_min_sketch
    is an ImperativeAggregate with map-side partials, like HLL); the
    point lookups read the tiny sketch on the driver against the
    distinct keys. Hash-checked via the CMS guarantee rather than raw
    estimates (JVM Murmur internals are engine-specific): the output
    carries the exact count and a `cms_sound` flag — estimate ≥ exact
    (never underestimates) AND ≤ exact + ε·N (ε=0.001) — pinned TRUE
    by the oracle. The exact-vs-portable-hash counterpart is
    q_countmin_portable below."""
    ev = load_table(spark, sf_dir, "events")
    sketch_row = ev.agg(
        F.count_min_sketch("event_type", F.lit(0.001), F.lit(0.99), F.lit(42)).alias("cms")
    ).collect()[0]
    # Point queries against the serialized sketch happen driver-side on
    # the distinct key set (5 keys) — the raw data is not re-scanned.
    raw = bytes(sketch_row.cms)
    # Deserialize via the JVM helper to keep estimates identical to the
    # aggregating implementation.
    jvm = spark.sparkContext._jvm
    bais = jvm.java.io.ByteArrayInputStream(raw)
    cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(bais)
    # Bounded driver fit: point-query only the top-K keys by EXACT
    # count (the soundness flag needs the exact counts anyway), never
    # an unbounded distinct key list (a high-cardinality key column
    # would otherwise collect millions of rows). orderBy+limit is a
    # TakeOrderedAndProject heap — no global sort.
    max_keys = 1000
    exact = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "event_type")
        .limit(max_keys)
        .collect()
    )
    total = int(cms.totalCount())  # N, read off the sketch — no rescan
    rows = []
    for r in exact:
        est = int(cms.estimateCount(r.event_type))
        sound = est >= r.n and est <= r.n + 0.001 * total
        rows.append((r.event_type, r.n, bool(sound)))
    rows.sort(key=lambda t: (-t[1], t[0]))
    return spark.createDataFrame(rows, "event_type string, exact_n long, cms_sound boolean")


# ----------------------------------------- portable count-min (oracle-backed)

CMS_W = 256          # counters per row
CMS_P = 2147483647   # 2^31 - 1 (Mersenne prime)
# (a, b) per depth — any fixed odd a < p works for the 2-universal family
CMS_PARAMS = [(48271, 11), (16807, 23), (69621, 37), (40692, 53)]
CMS_TOP = 20

_CMS_DEPTH_SQL = " UNION ALL ".join(
    f"SELECT {i} AS depth, {a} AS a, {b} AS b" for i, (a, b) in enumerate(CMS_PARAMS)
)

_CMS_ORACLE = f"""
WITH params AS ({_CMS_DEPTH_SQL}),
counters AS (
    SELECT p.depth,
           ((e.user_id * p.a + p.b) % {CMS_P}) % {CMS_W} AS bucket,
           count(*) AS c
    FROM events e CROSS JOIN params p
    GROUP BY p.depth, bucket
),
exact AS (
    SELECT user_id, count(*) AS exact_n
    FROM events GROUP BY user_id
    ORDER BY exact_n DESC, user_id LIMIT {CMS_TOP}
),
est AS (
    SELECT x.user_id, any_value(x.exact_n) AS exact_n, min(c.c) AS cms_n
    FROM exact x
    CROSS JOIN params p
    JOIN counters c
      ON c.depth = p.depth
     AND c.bucket = ((x.user_id * p.a + p.b) % {CMS_P}) % {CMS_W}
    GROUP BY x.user_id
)
SELECT user_id, exact_n, CAST(cms_n AS BIGINT) AS cms_n
FROM est
ORDER BY exact_n DESC, user_id
"""


@query("q_countmin_portable", oracle=_CMS_ORACLE, tags=("sketch", "approx", "agg"))
def q_countmin_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch as a PLAIN declarative aggregation with a
    portable 2-universal hash family h_i(x) = ((x·a_i + b_i) mod p)
    mod w over the integer key — so the DuckDB oracle rebuilds the
    identical sketch and the estimates hash-match exactly, unlike the
    built-in `count_min_sketch` (JVM Murmur internals, rows-only
    q_countmin_heavy_hitters). Shape at 100 TB: ONE shuffle of d·w
    partial-aggregated counters (map-side combine collapses every
    partition to ≤ d·w rows regardless of input size), the d×top-K
    estimate join reads the tiny counter table; nothing ever collects.
    CMS property (cms_n ≥ exact_n, equality when no bucket collision)
    is pinned in tests/test_extras.py."""
    ev = load_table(spark, sf_dir, "events")
    depths = F.array(
        *[
            F.struct(F.lit(i).alias("depth"), F.lit(a).alias("a"), F.lit(b).alias("b"))
            for i, (a, b) in enumerate(CMS_PARAMS)
        ]
    )
    hashed = ev.select("user_id", F.explode(depths).alias("p")).select(
        "user_id",
        F.col("p.depth").alias("depth"),
        ((F.col("user_id") * F.col("p.a") + F.col("p.b")) % CMS_P % CMS_W).alias("bucket"),
    )
    counters = hashed.groupBy("depth", "bucket").agg(F.count(F.lit(1)).alias("c"))
    exact = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.desc("exact_n"), "user_id")
        .limit(CMS_TOP)
    )
    probes = exact.select("user_id", "exact_n", F.explode(depths).alias("p")).select(
        "user_id",
        "exact_n",
        F.col("p.depth").alias("depth"),
        ((F.col("user_id") * F.col("p.a") + F.col("p.b")) % CMS_P % CMS_W).alias("bucket"),
    )
    est = (
        probes.join(F.broadcast(counters), ["depth", "bucket"])
        .groupBy("user_id")
        .agg(F.first("exact_n").alias("exact_n"), F.min("c").alias("cms_n"))
    )
    return est.select("user_id", "exact_n", "cms_n").orderBy(F.desc("exact_n"), "user_id")


# ------------------------------------------------ theta sketches (set ops)

_THETA_ORACLE = """
WITH v AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'),
     p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
SELECT (SELECT count(*) FROM v) AS exact_view_users,
       (SELECT count(*) FROM p) AS exact_purchase_users,
       (SELECT count(*) FROM v JOIN p USING (user_id)) AS exact_both,
       TRUE AS union_ok,
       TRUE AS intersection_ok,
       TRUE AS difference_ok
"""


@query("q_theta_sketch_sets", oracle=_THETA_ORACLE, tags=("sketch", "agg", "approx"))
def q_theta_sketch_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta sketches (Datasketches, Spark 4): the sketch family that
    supports SET OPERATIONS — estimate |view ∪ purchase|,
    |view ∩ purchase| (users who did both), and |view \\ purchase|
    from two per-event-type sketches, which HLL fundamentally cannot
    do (HLL unions only; intersections via inclusion-exclusion blow up
    the error). At 100 TB this is the audience-overlap query answered
    from two KB-sized sketches instead of a distinct-join over the
    raw stream. Hash-checked the tolerance-flag way: exact counts
    (oracle-recomputed) plus ok-flags pinning each estimate within
    max(10% of its exact twin, 5% of the exact union) — the floor
    matters because intersection/difference error scales with the
    union's theta, not the result size; below K the sketch is
    exhaustive, so a flipped flag is a broken set operation, not
    noise."""
    ev = load_table(spark, sf_dir, "events")
    sketches = (
        ev.filter(F.col("event_type").isin("view", "purchase"))
        .groupBy("event_type")
        .agg(F.theta_sketch_agg("user_id").alias("sk"))
    )
    row = sketches.groupBy().pivot("event_type", ["view", "purchase"]).agg(
        F.first("sk")
    )
    est = row.select(
        F.theta_sketch_estimate(F.theta_union(F.col("view"), F.col("purchase"))).alias(
            "approx_union"
        ),
        F.theta_sketch_estimate(
            F.theta_intersection(F.col("view"), F.col("purchase"))
        ).alias("approx_both"),
        F.theta_sketch_estimate(
            F.theta_difference(F.col("view"), F.col("purchase"))
        ).alias("approx_view_only"),
    )
    v = ev.filter(F.col("event_type") == "view").select("user_id").distinct()
    p = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    exact = spark.createDataFrame(
        [
            (
                v.count(),
                p.count(),
                v.join(p, "user_id").count(),
            )
        ],
        "exact_view_users bigint, exact_purchase_users bigint, exact_both bigint",
    )

    exact_union = (
        F.col("exact_view_users") + F.col("exact_purchase_users") - F.col("exact_both")
    )

    def ok(approx, exact_expr):
        # Intersection/difference estimator error scales with the
        # UNION's sampling fraction theta, not with the result size:
        # for lgK=12 the rsd is ~1/sqrt(4096) ≈ 1.6%, so a 3-sigma
        # absolute floor of 5% of the exact union keeps the flag a
        # set-op-correctness check rather than a noise trip on small
        # overlaps (an exact_both of 0 would otherwise demand the
        # estimate be exactly 0). Below K the sketch is exhaustive and
        # both bounds are slack.
        bound = F.greatest(0.10 * exact_expr, 0.05 * exact_union)
        return F.abs(approx - exact_expr) <= bound

    return est.crossJoin(exact).select(
        "exact_view_users",
        "exact_purchase_users",
        "exact_both",
        ok(F.col("approx_union"), exact_union).alias("union_ok"),
        ok(F.col("approx_both"), F.col("exact_both")).alias("intersection_ok"),
        ok(
            F.col("approx_view_only"),
            F.col("exact_view_users") - F.col("exact_both"),
        ).alias("difference_ok"),
    )


# ---------------------------------------------------------------------------
# Portable bottom-k quantile sketch: the mergeable-quantile shape
# (KLL/GK in spirit) built from the engine's ONE salted-Knuth hash
# family, so — unlike percentile_approx's engine-specific KLL bytes —
# the sketch content is exactly SQL-replayable AND mergeable:
# bottom-k(S ∪ T) = bottom-k(bottom-k(S) ∪ bottom-k(T)), the same
# union-truncate algebra as the streaming reservoir
# (streaming/stateful.py BoundedReservoirProcessor, its batch twin
# operators/splits.py q_group_reservoir — the ONE hash family).
# ---------------------------------------------------------------------------

QSK_K = 256  # per-group sample size (DKW: P(sup|F̂−F|>0.15) ≤ 2e^-11.5)
QSK_SALT = 86028121  # decorrelated from fold/reservoir/A-Res/stream salts
QSK_EPS_PCT = 15  # rank-error tolerance the audit flags pin
QSK_QS = (25, 50, 75, 90)


def _qsk_oracle() -> str:
    from .splits import _FOLD_KNUTH, _FOLD_MOD32, _MOD31

    est_cols = ",\n           ".join(
        f"max(CASE WHEN vrnk = ({q} * k + 99) // 100 THEN cents END)"
        f" AS est_p{q}"
        for q in QSK_QS
    )
    aud_cols = ",\n           ".join(
        f"CAST(sum(CASE WHEN h.cents < e.est_p{q} THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS lt_p{q},\n           "
        f"CAST(sum(CASE WHEN h.cents <= e.est_p{q} THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS le_p{q}"
        for q in QSK_QS
    )
    flag_cols = ",\n       ".join(
        f"(a.le_p{q} * 100 >= {q} * a.n - {QSK_EPS_PCT} * a.n"
        f" AND a.lt_p{q} * 100 <= {q} * a.n + {QSK_EPS_PCT} * a.n)"
        f" AS p{q}_ok"
        for q in QSK_QS
    )
    est_sel = ", ".join(f"e.est_p{q} AS est_p{q}" for q in QSK_QS)
    return f"""
WITH h AS (
    SELECT event_type, event_id,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
           ((((event_id + {QSK_SALT}) % {_MOD31}) * {_FOLD_KNUTH})
               % {_FOLD_MOD32}) AS hv
    FROM events
    WHERE value IS NOT NULL
),
r AS (
    SELECT *, row_number() OVER (PARTITION BY event_type
                                 ORDER BY hv, event_id) AS rnk
    FROM h
),
s AS (SELECT * FROM r WHERE rnk <= {QSK_K}),
o AS (
    SELECT event_type, cents,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY cents, event_id) AS vrnk,
           count(*) OVER (PARTITION BY event_type) AS k
    FROM s
),
est AS (
    SELECT event_type,
           CAST(max(k) AS BIGINT) AS samp_k,
           {est_cols}
    FROM o
    GROUP BY event_type
),
aud AS (
    SELECT h.event_type,
           CAST(count(*) AS BIGINT) AS n,
           {aud_cols}
    FROM h JOIN est e USING (event_type)
    GROUP BY h.event_type
)
SELECT a.event_type AS event_type, a.n AS n, e.samp_k AS samp_k,
       {est_sel},
       {flag_cols}
FROM aud a JOIN est e USING (event_type)
ORDER BY event_type
"""


@query(
    "q_quantile_sketch",
    oracle=_qsk_oracle(),
    tags=("sketch", "agg", "approx", "sampling", "window"),
)
def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type quantile estimates from a bottom-k hash sample,
    with an exact rank-error audit — the PORTABLE quantile sketch:
    where q_percentiles trusts percentile_approx's engine-private KLL
    registers (tolerance-flag oracle only), here the sketch CONTENT is
    the salted-Knuth bottom-K sample — a pure function of the row SET,
    mergeable by union-truncate, order-independent — so the estimates
    themselves are hash-exact across engines, and the audit flags pin
    the accuracy: the estimate's exact CDF bracket [lt/n, le/n] must
    intersect [q − 15%, q + 15%] (DKW at K=256: failure ≤ 2e^-11.5).
    Every hashed column is int64 (cents; counts; the flag inequalities
    are pure integer products, safe while n·100 < 2^63).

    Plan shape: ONE exchange on event_type feeds the bottom-K window
    (rank ≤ K compiles to WindowGroupLimit, applied PARTIALLY on the
    map side before the exchange — each task pre-truncates to its
    local bottom-K per group, which is exactly the sketch's
    union-truncate mergeability realized in the physical plan, so the
    exchange carries ≤ partitions·groups·K rows at ANY corpus size —
    measured CONSTANT shuffle records at 10× the rows,
    SCALE_EVIDENCE.md "Round 16 FINAL"), the
    in-sample value ranking, AND the estimate aggregate (same
    partitioning, no second shuffle); the audit is the second corpus
    scan — a broadcast join against the ≤|event_types|-row estimates
    with a map-side-combined count — the verification-harness cost,
    exactly q_approx_distinct's exact-twin discipline. At 100 TB only
    the sketch pass survives; per-group state is K ints however many
    events a type has. The bounded |event_types| key domain is the
    documented degenerate-skew trade (the q_embedding_int8_quant
    note); a high-cardinality grouping would hash-partition cleanly.

    Reference anchor: the reference has no aggregation at all (SURVEY
    §2.B); this is the mergeable-quantile member of the sketch family
    (q_hll_partial_merge, q_countmin_portable, q_theta_sketch_sets),
    and the batch twin of the streaming reservoir's union-truncate
    algebra (streaming/stateful.py:1401)."""
    from pyspark.sql import Window

    from .splits import _FOLD_KNUTH, _FOLD_MOD32, _MOD31

    hv = (
        ((F.col("event_id") + F.lit(QSK_SALT)) % F.lit(_MOD31))
        * F.lit(_FOLD_KNUTH)
    ) % F.lit(_FOLD_MOD32)
    h = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            "event_id",
            F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("cents"),
            hv.cast("long").alias("hv"),
        )
    )
    wr = Window.partitionBy("event_type").orderBy("hv", "event_id")
    s = h.withColumn("rnk", F.row_number().over(wr)).filter(
        F.col("rnk") <= QSK_K
    )
    wv = Window.partitionBy("event_type").orderBy("cents", "event_id")
    wk = Window.partitionBy("event_type")
    o = s.select(
        "event_type",
        "cents",
        F.row_number().over(wv).alias("vrnk"),
        F.count(F.lit(1)).over(wk).alias("k"),
    )
    est = o.groupBy("event_type").agg(
        F.max("k").cast("long").alias("samp_k"),
        *[
            F.max(
                F.when(
                    F.col("vrnk") == F.expr(f"({q} * k + 99) div 100"),
                    F.col("cents"),
                )
            ).alias(f"est_p{q}")
            for q in QSK_QS
        ],
    )
    # est is referenced ONCE: its per-group constants ride through the
    # audit aggregate (max of a constant) instead of a second join —
    # a re-join would re-inline the whole sketch subtree, turning two
    # corpus scans into three (plan-test pinned)
    aud = (
        h.join(F.broadcast(est), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.max("samp_k").cast("long").alias("samp_k"),
            *[F.max(f"est_p{q}").alias(f"est_p{q}") for q in QSK_QS],
            *[
                c
                for q in QSK_QS
                for c in (
                    F.sum(
                        F.when(F.col("cents") < F.col(f"est_p{q}"), 1)
                        .otherwise(0)
                    )
                    .cast("long")
                    .alias(f"lt_p{q}"),
                    F.sum(
                        F.when(F.col("cents") <= F.col(f"est_p{q}"), 1)
                        .otherwise(0)
                    )
                    .cast("long")
                    .alias(f"le_p{q}"),
                )
            ],
        )
    )
    return (
        aud.select(
            "event_type",
            "n",
            "samp_k",
            *[F.col(f"est_p{q}") for q in QSK_QS],
            *[
                (
                    (
                        F.col(f"le_p{q}") * 100
                        >= F.lit(q) * F.col("n")
                        - F.lit(QSK_EPS_PCT) * F.col("n")
                    )
                    & (
                        F.col(f"lt_p{q}") * 100
                        <= F.lit(q) * F.col("n")
                        + F.lit(QSK_EPS_PCT) * F.col("n")
                    )
                ).alias(f"p{q}_ok")
                for q in QSK_QS
            ],
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Portable KMV (k-minimum-values) cardinality sketch — completes the
# portable-sketch trio: frequencies (q_countmin_portable), quantiles
# (q_quantile_sketch), and now cardinalities, all on the engine's ONE
# salted-Knuth hash family with hash-exact replay + a tolerance audit.
# Where q_hll_partial_merge / q_approx_distinct trust engine-private
# HLL registers (tolerance flag only), the KMV sketch CONTENT — the K
# smallest distinct hashes and their threshold — is exactly
# SQL-replayable and mergeable by union-truncate (Beyer et al.'s
# classic distinct-value sketch; the bottom-k algebra shared with
# q_quantile_sketch and the streaming reservoir).
# ---------------------------------------------------------------------------

KMV_K = 256  # rsd ≈ 1/sqrt(K-2) ≈ 6.3%; audit flag at 4σ = 25%
KMV_SALT = 179424673  # decorrelated from every other salt in the family
KMV_DAY0 = "1970-01-01"


def _kmv_oracle() -> str:
    from .splits import _FOLD_KNUTH, _FOLD_MOD32, _MOD31

    key = (
        "user_id * 100000"
        f" + date_diff('day', DATE '{KMV_DAY0}', CAST(ts AS DATE))"
    )
    return f"""
WITH h AS (
    SELECT DISTINCT event_type,
           {key} AS key,
           (((({key}) + {KMV_SALT}) % {_MOD31}) * {_FOLD_KNUTH})
               % {_FOLD_MOD32} AS hv
    FROM events
    WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
r AS (
    SELECT *, row_number() OVER (PARTITION BY event_type
                                 ORDER BY hv, key) AS rnk
    FROM h
),
a AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS d_exact,
           CAST(sum(CASE WHEN rnk <= {KMV_K} THEN 1 ELSE 0 END)
                AS BIGINT) AS kmv_k,
           CAST(max(CASE WHEN rnk <= {KMV_K} THEN hv END)
                AS BIGINT) AS kmv_threshold
    FROM r GROUP BY 1
),
e AS (
    SELECT *,
           CASE WHEN kmv_k < {KMV_K} THEN CAST(kmv_k AS DOUBLE)
                ELSE CAST({KMV_K - 1} AS DOUBLE) * {float(1 << 32)}
                     / CAST(kmv_threshold AS DOUBLE) END AS est_distinct
    FROM a
)
SELECT event_type, d_exact, kmv_k, kmv_threshold, est_distinct,
       (kmv_k < {KMV_K}
        OR abs(est_distinct - CAST(d_exact AS DOUBLE))
           <= 0.25 * CAST(d_exact AS DOUBLE)) AS kmv_ok
FROM e
ORDER BY event_type
"""


@query(
    "q_kmv_distinct",
    oracle=_kmv_oracle(),
    tags=("sketch", "agg", "approx", "sampling"),
)
def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-active-user cardinality per event_type via a KMV
    (k-minimum-values) sketch over distinct (user, day) keys, with the
    exact count as the in-query verification twin — the portable
    cardinality estimator: the K smallest distinct salted-Knuth hashes
    form the sketch, its threshold τ (the K-th smallest, hash-exact
    int64 in the output) yields the classic estimator
    (K−1)·2³²/τ, and the audit flag pins |est − exact| ≤ 25% (4σ at
    K=256, rsd ≈ 1/√(K−2)); when a group has fewer than K distinct
    keys the sketch IS the key set and the estimate is exact (the
    fallback branch — exercised at sf0.001, while sf0.01/sf0.1 drive
    the estimator branch). Mergeable by union-truncate over distinct
    hashes — the standard distributed/daily-partial distinct sketch.

    Plan shape: ONE corpus scan → map-side-combined distinct on
    (event_type, key) → one event_type exchange feeding the rank
    window AND the final aggregate (the q_quantile_sketch
    partitioning-reuse pattern). The window here ranks ALL distinct
    keys because the exact twin rides in the same pass — the
    AUDIT-scale shape; the production path keeps only the rank ≤ K
    filter, which compiles to the same map-side partial
    WindowGroupLimit measured constant-shuffle in
    SCALE_EVIDENCE.md "Round 16 FINAL", and drops the exact count (that
    being the point of the sketch at 100 TB).

    Exactness/portability notes: the composite key user_id·10⁵ + day
    is injective while user_id < 9.2·10¹³ (int64) and day < 10⁵
    (until year 2243); the hash family's (key + salt) mod 2³¹ ring is
    injective at the test domains — at production key ranges the ring
    folds keys and caps estimator precision, where the shape-preserving
    fix is a 64-bit hash (xxhash64), exactly the documented int64 →
    DECIMAL(38) promotion pattern of the Gram family. τ and every
    hashed column are exact int64; est_distinct is ONE correctly-
    rounded IEEE division of pinned values, identical in both engines.

    Reference anchor: no aggregation in the reference (SURVEY §2.B);
    with q_countmin_portable (frequencies) and q_quantile_sketch
    (quantiles) this completes the portable-sketch trio."""
    from pyspark.sql import Window

    from .splits import _FOLD_KNUTH, _FOLD_MOD32, _MOD31

    day = F.datediff(F.col("ts").cast("date"), F.lit(KMV_DAY0).cast("date"))
    key = (F.col("user_id") * F.lit(100000) + day.cast("long")).alias("key")
    h = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select("event_type", key)
        .select(
            "event_type",
            "key",
            (
                (((F.col("key") + F.lit(KMV_SALT)) % F.lit(_MOD31))
                 * F.lit(_FOLD_KNUTH))
                % F.lit(_FOLD_MOD32)
            ).cast("long").alias("hv"),
        )
        .dropDuplicates(["event_type", "key"])
    )
    wr = Window.partitionBy("event_type").orderBy("hv", "key")
    r = h.withColumn("rnk", F.row_number().over(wr))
    a = r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("d_exact"),
        F.sum(F.when(F.col("rnk") <= KMV_K, 1).otherwise(0))
        .cast("long")
        .alias("kmv_k"),
        F.max(F.when(F.col("rnk") <= KMV_K, F.col("hv")))
        .cast("long")
        .alias("kmv_threshold"),
    )
    e = a.withColumn(
        "est_distinct",
        F.when(
            F.col("kmv_k") < KMV_K, F.col("kmv_k").cast("double")
        ).otherwise(
            F.lit(float(KMV_K - 1))
            * F.lit(float(1 << 32))
            / F.col("kmv_threshold").cast("double")
        ),
    )
    return e.select(
        "event_type",
        "d_exact",
        "kmv_k",
        "kmv_threshold",
        "est_distinct",
        (
            (F.col("kmv_k") < KMV_K)
            | (
                F.abs(
                    F.col("est_distinct") - F.col("d_exact").cast("double")
                )
                <= 0.25 * F.col("d_exact").cast("double")
            )
        ).alias("kmv_ok"),
    ).orderBy("event_type")
