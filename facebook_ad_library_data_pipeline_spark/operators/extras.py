"""Remaining operator surface: unpivot/stack, grouped-map pandas
(applyInPandas), sampling, ingest ids, and a scalar pandas-UDF twin of
the native language detector as a registry query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load_table
from ..functions.text import _LANG_ORACLE, STOPWORDS
from ..registry import query

_UNPIVOT_ORACLE = """
SELECT l_orderkey, l_linenumber, 'quantity' AS metric, l_quantity AS value FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
"""


@query("q_unpivot", oracle=_UNPIVOT_ORACLE, tags=("reshape",))
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot via stack(): wide → long without a shuffle (a generate,
    not an exchange)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(
            "stack(3, 'quantity', l_quantity, 'extendedprice', l_extendedprice,"
            " 'discount', l_discount)"
        ).alias("metric", "value"),
    )


_SLOPE_ORACLE = """
SELECT o_orderpriority,
       CAST(year(o_orderdate) AS INT) AS order_year,
       count(*) AS n_orders,
       round(regr_slope(o_totalprice, epoch(o_orderdate) / 86400.0), 3) AS price_trend
FROM orders
GROUP BY o_orderpriority, year(o_orderdate)
HAVING count(*) >= 2
"""


@query("q_grouped_pandas_slope", oracle=_SLOPE_ORACLE, tags=("pandas-udf", "agg"))
def q_grouped_pandas_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas grouped-map: OLS price trend per (priority, year),
    computed with numpy inside an Arrow batch per group — the custom-
    aggregation escape hatch when no built-in fits. Oracle: regr_slope
    (same closed form: cov/var).

    Granularity note: applyInPandas ships ONE Arrow batch per GROUP
    (~2 ms fixed cost each). Profiled: per-customer grouping (15k tiny
    groups at sf0.1) spent 30 s on batch overhead alone; coarse groups
    (priority × year, ~35 large groups) amortize it — pick grouped-
    pandas only when groups are few and fat, else stay native."""
    import pandas as pd

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.year("o_orderdate").alias("order_year"),
        (F.unix_timestamp("o_orderdate") / 86400.0).alias("t_days"),
        "o_totalprice",
    )

    def slope(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                columns=["o_orderpriority", "order_year", "n_orders", "price_trend"]
            )
        x = pdf["t_days"].to_numpy()
        y = pdf["o_totalprice"].to_numpy()
        cov = ((x - x.mean()) * (y - y.mean())).mean()
        var = ((x - x.mean()) ** 2).mean()
        s = float("nan") if var == 0 else round(cov / var, 3)
        return pd.DataFrame(
            {
                "o_orderpriority": [pdf["o_orderpriority"].iloc[0]],
                "order_year": [int(pdf["order_year"].iloc[0])],
                "n_orders": [n],
                "price_trend": [s],
            }
        )

    return orders.groupBy("o_orderpriority", "order_year").applyInPandas(
        slope, schema="o_orderpriority string, order_year int, n_orders long, price_trend double"
    )


@F.pandas_udf(T.StringType())
def _stopword_lang_udf(texts):  # type: ignore[no-untyped-def]
    """Per-row Python reference of functions/text.detected_col: argmax
    of distinct-token stopword overlap, all-zero → 'undetected', ties
    alphabetical."""

    def one(t: str | None) -> str:
        toks = set((t or "").split(" "))
        scores = {lang: len(toks & set(ws)) for lang, ws in sorted(STOPWORDS.items())}
        best = max(scores.values())
        if best == 0:
            return "undetected"
        return min(lang for lang, s in scores.items() if s == best)

    return texts.map(one)


_LANG_UDF_ORACLE = f"SELECT doc_id, detected_lang FROM ({_LANG_ORACLE}) t"


@query("q_lang_id_udf", oracle=_LANG_UDF_ORACLE, tags=("pandas-udf", "llm", "text"))
def q_lang_id_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stopword language ID as an Arrow-batched scalar pandas UDF —
    the Python twin the native q_lang_id is checked against
    (tests/test_extras.py); same labels, so the same oracle."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", _stopword_lang_udf("text").alias("detected_lang"))


SAMPLE_FRACTIONS = {"en": 0.25, "de": 1.0, "fr": 1.0, "es": 1.0, "zh": 1.0}
# The Bernoulli draw's tolerance ceiling for the one downsampled
# stratum: distinguishes 0.25 from "downsampling silently not applied"
# (rate 1.0) with ~5σ headroom even at sf0.001's ~22 en docs
# (P(rate > 0.75 | p=0.25, n=22) ≈ 1e-8), so the flag can't flake on a
# regenerated corpus yet flips on the real regression class.
SAMPLE_EN_RATE_CEIL = 0.75


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sampleBy draw itself (fixed seed): smaller fraction for the
    dominant stratum — the data-mix rebalancing primitive. Row sets
    are RNG-engine state; proportions asserted in tests and in the
    registered census below.

    The fractions dict is built from the table's OWN distinct langs
    (strata not named in SAMPLE_FRACTIONS default to keep-all, not
    sampleBy's silent 0.0): a lang added to regenerated testdata flows
    through at rate 1.0 and the census still pins its exact count,
    instead of n_samp=0 masquerading as a sampler regression
    (r07-advice fix). The distinct-langs collect is bounded by the
    lang domain (single digits) and is required anyway — sampleBy's
    API takes a driver-side dict."""
    docs = load_table(spark, sf_dir, "documents")
    langs = [r[0] for r in docs.select("lang").distinct().collect()]
    fractions = {lg: SAMPLE_FRACTIONS.get(lg, 1.0) for lg in langs}
    return docs.sampleBy("lang", fractions, seed=42)


# Full-rate strata are DETERMINISTIC under sampleBy (rand ∈ [0,1) is
# always < 1.0), so their sampled counts equal the table counts — the
# oracle recomputes those exactly; only the Bernoulli-downsampled 'en'
# stratum is genuinely random, and it carries a pinned tolerance flag
# instead of a count (the ann_recall move applied to RNG sampling).
_SAMPLE_STRAT_ORACLE = """
SELECT lang,
       CASE WHEN lang = 'en' THEN NULL ELSE count(*) END AS n_exact,
       TRUE AS sampled_ok
FROM documents
GROUP BY lang
"""


@query("q_sample_stratified", oracle=_SAMPLE_STRAT_ORACLE, tags=("sampling",))
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified-sample census, hash-checked (upgraded from rows-only
    in r07): runs the real sampleBy draw, then checks per stratum that
    (a) every full-rate stratum kept EXACTLY its table count — emitted
    as the count itself, which the oracle recomputes — and (b) the
    downsampled 'en' stratum's realized rate stayed under
    SAMPLE_EN_RATE_CEIL (NULL count: the draw is RNG state). A
    sampler that drops rows from a full stratum, leaks the wrong
    stratum into the downsample, or stops downsampling flips a value
    the driver hashes."""
    docs = load_table(spark, sf_dir, "documents")
    full = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_full"))
    samp = stratified_sample(spark, sf_dir).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_samp")
    )
    j = full.join(samp, "lang", "left").withColumn(
        "n_samp", F.coalesce("n_samp", F.lit(0))
    )
    is_en = F.col("lang") == "en"
    return j.select(
        "lang",
        F.when(is_en, F.lit(None).cast("long")).otherwise(F.col("n_samp")).alias("n_exact"),
        F.when(
            is_en, F.col("n_samp") <= F.lit(SAMPLE_EN_RATE_CEIL) * F.col("n_full")
        )
        .otherwise(F.col("n_samp") == F.col("n_full"))
        .alias("sampled_ok"),
    )


# Portable-hash sampling (the deterministic twin of sampleBy): keep a
# row iff a Knuth multiplicative hash of its key falls under the
# stratum's threshold out of 10,000. Pure BIGINT arithmetic, so the
# decision is REPRODUCIBLE across engines, re-runs, and cluster sizes —
# which is what a training pipeline actually needs from its sampler
# (re-running the job must pick the same documents; DuckDB's oracle
# picks them too). Salt decorrelates from q_shard_assign's hash.
_SAMPLE_KNUTH = 2654435761
_SAMPLE_MOD31 = 2147483648  # pre-reduce before the multiply: ANSI-safe at any id
_SAMPLE_MOD32 = 4294967296
_SAMPLE_SALT = 7919
_SAMPLE_DENOM = 10000
_SAMPLE_RATES = {"en": 2500, "de": 10000, "fr": 10000, "es": 10000, "zh": 10000}

_SAMPLE_DET_ORACLE = f"""
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE ((((doc_id + {_SAMPLE_SALT}) % {_SAMPLE_MOD31}) * {_SAMPLE_KNUTH}) % {_SAMPLE_MOD32})
      % {_SAMPLE_DENOM}
      < CASE lang {" ".join(f"WHEN '{k}' THEN {v}" for k, v in _SAMPLE_RATES.items())}
        ELSE 0 END
"""


@query("q_sample_deterministic", oracle=_SAMPLE_DET_ORACLE, tags=("sampling", "llm"))
def q_sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling by portable hash: same mix
    policy as q_sample_stratified (downsample the dominant 'en'
    stratum to 25%), but every keep/drop decision is a pure function
    of (doc_id, lang) — hash-checkable row-for-row against the oracle,
    stable under re-runs and repartitioning. At 100 TB this is a
    narrow scan-side filter: no shuffle, no RNG state, and adding data
    never flips decisions on existing rows."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        (((F.col("doc_id") + _SAMPLE_SALT) % _SAMPLE_MOD31) * F.lit(_SAMPLE_KNUTH))
        % _SAMPLE_MOD32
    ) % _SAMPLE_DENOM
    rate = None
    for k, v in _SAMPLE_RATES.items():
        rate = F.when(F.col("lang") == k, v) if rate is None else rate.when(
            F.col("lang") == k, v
        )
    rate = rate.otherwise(0)
    return docs.filter(bucket < rate).select("doc_id", "lang", "source", "n_chars")


_INGEST_ORACLE = """
SELECT o_orderkey,
       row_number() OVER (ORDER BY o_orderdate, o_orderkey) - 1 AS ingest_pos
FROM orders
"""


@query("q_ingest_position", oracle=_INGEST_ORACLE, tags=("lineage",))
def q_ingest_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ingest position over a total order — the engine's
    substitute for the reference's implicit Python list order (keep-
    first dedup depends on it). monotonically_increasing_id() is NOT
    used: its values depend on partition layout."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.orderBy("o_orderdate", "o_orderkey")
    return o.select("o_orderkey", (F.row_number().over(w) - 1).alias("ingest_pos"))
