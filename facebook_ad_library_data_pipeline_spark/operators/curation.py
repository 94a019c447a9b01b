"""Training-data corpus curation — the composite LLM-pipeline query:
quality-filter → exact dedup → near-dup dedup → per-language balanced
selection → corpus census. Every stage is a deterministic operator from
this engine, so the WHOLE pipeline is oracle-checkable end-to-end.

This is the query a data-curation team actually runs before training;
at 100 TB it is exactly this plan — the dedups are the inverted-index /
digest shuffles, the balance step is a per-group top-k, no collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.dedup import dedup_keep_first
from ..operators.dedup_near import (
    CAPPED_PAIRS_CTE_SQL,
    JACCARD_THRESHOLD,
    REACH_CTE_SQL,
    shared_jaccard_pairs,
)
from ..registry import query

MIN_TOKENS = 20
PER_LANG_K = 40

_CURATE_ORACLE = f"""
WITH scored AS (
    SELECT doc_id, lang, source, text,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) * 1.0
               / len(string_split(text, ' ')) AS ttr
    FROM documents
    WHERE len(string_split(text, ' ')) >= {MIN_TOKENS}
), exact_dedup AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM scored
    ) WHERE rn = 1
), {CAPPED_PAIRS_CTE_SQL},
losers AS (SELECT DISTINCT d2 FROM pairs
           WHERE inter * 1.0 / (n1 + n2 - inter) >= {JACCARD_THRESHOLD}),
kept AS (
    SELECT e.* FROM exact_dedup e
    WHERE e.doc_id NOT IN (SELECT d2 FROM losers)
), balanced AS (
    SELECT * FROM (
        SELECT doc_id, lang, source, n_tokens, round(ttr, 6) AS ttr,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY ttr DESC, doc_id) AS lang_rank
        FROM kept
    ) WHERE lang_rank <= {PER_LANG_K}
)
SELECT doc_id, lang, source, n_tokens, ttr, lang_rank FROM balanced
"""


@query("q_curate_corpus", oracle=_CURATE_ORACLE, tags=("llm", "curation", "dedup"))
def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quality floor → digest dedup → near-dup drop → top-K per language
    by type-token ratio (deterministic tie-break on doc_id)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    scored = docs.select(
        "doc_id",
        "lang",
        "source",
        "text",
        F.size(toks).alias("n_tokens"),
        (F.size(F.array_distinct(toks)) / F.size(toks)).alias("ttr"),
    ).filter(F.col("n_tokens") >= MIN_TOKENS)

    exact = dedup_keep_first(
        scored.withColumn("digest", F.md5(F.col("text").cast("binary"))),
        ["digest"],
        ["doc_id"],
    ).drop("digest")

    # Shared edge set (dedup_near.shared_jaccard_pairs, once per
    # application): the Jaccard inverted-index join is the expensive
    # stage of this pipeline; computing it privately here re-ran it for
    # q_curate_corpus AND q_corpus_mix on top of the near-dup family's
    # own copy.
    losers = (
        shared_jaccard_pairs(spark, sf_dir, JACCARD_THRESHOLD)
        .select(F.col("d2").alias("doc_id"))
        .distinct()
    )
    kept = exact.join(losers, "doc_id", "left_anti")

    w = Window.partitionBy("lang").orderBy(F.desc("ttr"), F.asc("doc_id"))
    return (
        kept.withColumn("lang_rank", F.row_number().over(w))
        .filter(F.col("lang_rank") <= PER_LANG_K)
        .select(
            "doc_id", "lang", "source", "n_tokens",
            F.round("ttr", 6).alias("ttr"), "lang_rank",
        )
    )


_MIX_ORACLE = f"""
WITH curated AS ({_CURATE_ORACLE.strip()})
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(avg(ttr), 6) AS avg_ttr
FROM curated
GROUP BY lang
"""


@query("q_corpus_mix", oracle=_MIX_ORACLE, tags=("llm", "curation", "agg"))
def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-curation data-mix census (the number you report to the
    training team)."""
    curated = q_curate_corpus(spark, sf_dir)
    return curated.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("ttr"), 6).alias("avg_ttr"),
    )


# ------------------------------------------- curriculum / top-quality cut

TOP_QUALITY_FRAC = 0.25

_TOP_PCT_ORACLE = f"""
WITH t AS (
    SELECT doc_id, source,
           length(text) AS n_char,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_distinct,
           len(list_filter(string_split(text, ' '),
                           x -> x IN ('the', 'a', 'of', 'and', 'to', 'is'))) AS n_stop
    FROM documents
),
scored AS (
    SELECT doc_id, source,
           0.4 * least(n_tokens / 100.0, 1.0)
             + 0.4 * (n_distinct * 1.0 / n_tokens)
             + 0.2 * (1.0 - n_stop * 1.0 / n_tokens) AS score
    FROM t
),
ranked AS (
    SELECT doc_id, source, score,
           percent_rank() OVER (PARTITION BY source
                                ORDER BY score DESC, doc_id) AS pr
    FROM scored
)
SELECT doc_id, source,
       floor(score * 1000000 + 0.5) / 1000000 AS quality_score,
       floor(pr * 1000000 + 0.5) / 1000000 AS pct_rank
FROM ranked
WHERE pr <= {TOP_QUALITY_FRAC}
ORDER BY source, pct_rank, doc_id
"""


@query("q_quality_top_percent", oracle=_TOP_PCT_ORACLE, tags=("llm", "curation", "window"))
def q_quality_top_percent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum selection: the top 25% of docs per source by quality
    score, via percent_rank over a TOTAL order (score desc, doc_id) —
    the tie-break keeps the window deterministic under any
    partitioning. One hash shuffle on source; the window never sees
    more than one source's docs per task, which is exactly the shape
    that scales (sources are the natural partition of a crawl corpus).
    Score formula matches q_text_quality (functions/text.py)."""
    docs = load_table(spark, sf_dir, "documents")
    from ..functions.money import det_round
    from ..functions.text import STOPWORDS, tokens_col

    toks = tokens_col()
    en = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    t = docs.select(
        "doc_id",
        "source",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.size(F.filter(toks, lambda x: F.array_contains(en, x))).alias("n_stop"),
    )
    score = (
        0.4 * F.least(F.col("n_tokens") / 100.0, F.lit(1.0))
        + 0.4 * (F.col("n_distinct") / F.col("n_tokens"))
        + 0.2 * (1.0 - F.col("n_stop") / F.col("n_tokens"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("score"), F.asc("doc_id"))
    ranked = t.select("doc_id", "source", score.alias("score")).withColumn(
        "pr", F.percent_rank().over(w)
    )
    return (
        ranked.filter(F.col("pr") <= TOP_QUALITY_FRAC)
        .select(
            "doc_id",
            "source",
            det_round(F.col("score"), 6).alias("quality_score"),
            det_round(F.col("pr"), 6).alias("pct_rank"),
        )
        .orderBy("source", "pct_rank", "doc_id")
    )


# ------------------------------------- canonical doc per near-dup cluster

_CANONICAL_ORACLE = f"""
{REACH_CTE_SQL},
labels AS (SELECT node AS doc_id, min(r) AS component FROM reach GROUP BY node),
members AS (
    SELECT l.component, d.doc_id, d.source, d.n_chars,
           CAST(regexp_extract(d.source, '(\\d+)', 1) AS INT) AS src_rank,
           count(*) OVER (PARTITION BY l.component) AS n_members
    FROM labels l JOIN documents d USING (doc_id)
)
SELECT component, doc_id, source, n_chars, CAST(n_members AS BIGINT) AS n_members
FROM (
    SELECT *, row_number() OVER (PARTITION BY component
                                 ORDER BY src_rank, n_chars DESC, doc_id) AS rn
    FROM members
)
WHERE rn = 1 AND n_members >= 2
ORDER BY component
"""


@query("q_canonical_docs", oracle=_CANONICAL_ORACLE, tags=("llm", "curation", "dedup"))
def q_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-representative selection per near-dup cluster — the
    cross-SOURCE dedup policy a crawl pipeline applies after transitive
    near-dup grouping: within each connected component, keep the doc
    from the most-trusted source (lowest numeric source rank), longest
    first, doc_id as the total-order tie-break. Reuses the session's
    shared component labels (one label-propagation run feeds three
    queries); the policy itself is one window over components — at
    100 TB a single hash shuffle on the component key."""
    from ..operators.components import shared_components

    labels = shared_components(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars",
        F.regexp_extract("source", r"(\d+)", 1).cast("int").alias("src_rank"),
    )
    members = labels.join(docs, "doc_id").withColumn(
        "n_members", F.count(F.lit(1)).over(Window.partitionBy("component"))
    )
    w = Window.partitionBy("component").orderBy(
        "src_rank", F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        members.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("n_members") >= 2))
        .select("component", "doc_id", "source", "n_chars", "n_members")
        .orderBy("component")
    )
