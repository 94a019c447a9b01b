"""Text-analysis operators for the LLM-data pipeline (north-star
surface; the reference's only text ops are the ad_text extraction P6
and language detection P7, ``transform_raw_data.py:121-134``).

All operators are native column expressions (codegen'd, zero Python):
language-ID is a stopword-overlap heuristic with the reference's
"undetected" fallback; quality scoring and token counting are pure
arithmetic; fingerprints are md5-based so the DuckDB oracle can compute
identical values.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import fan_out, load_table
from ..registry import query
from .guards import guard_product_int64

# Tiny per-language stopword sets (public common words). On synthetic
# testdata most docs resolve to 'en' or 'undetected' — the operator's
# semantics, not the corpus, are under test.
STOPWORDS = {
    "de": ["der", "die", "das", "und", "ist", "nicht"],
    "en": ["the", "a", "of", "and", "to", "is"],
    "es": ["el", "los", "las", "y", "es", "una"],
    "fr": ["le", "les", "et", "est", "une", "dans"],
}


def tokens_col(text: str | Column = "text") -> Column:
    return F.split(text if isinstance(text, Column) else F.col(text), " ")


def shingles_col(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles; empty array when the doc is shorter than n.

    Built from n shifted ``slice``s zip_with'd together — NOT a
    transform-over-indices lambda. Catalyst does no CSE inside lambda
    bodies, so ``element_at(split(text), i)`` re-splits the whole
    document per shingle position (O(len²) per doc; profiled 60×
    slowdown at sf0.1). With slices the token-array expression is
    evaluated O(n) times per ROW, and the zip lambdas only touch
    elements.

    (Separate guard gotcha: Spark's sequence(1, 0) steps DOWNWARD —
    an unguarded short doc yields [1, 0], not an empty array.)"""
    m = F.size(toks) - (n - 1)
    shifted = [F.slice(toks, 1 + j, m) for j in range(n)]
    sh = shifted[0]
    for nxt in shifted[1:]:
        sh = F.zip_with(sh, nxt, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.when(F.size(toks) >= n, sh).otherwise(F.array().cast("array<string>"))


def _overlap(toks: Column, words: list[str]) -> Column:
    """# distinct tokens that appear in the word list (set semantics,
    = DuckDB list_intersect length). NULL text is pinned to score 0 —
    without the coalesce a NULL row would NULL every score, slip past
    the best==0 'undetected' branch, and (having no .otherwise) emit
    NULL while the SQL twin's ELSE arm emits the last language
    (r14 ADVICE; same pin lives in _LANG_SQL_SCORES)."""
    return F.coalesce(
        F.size(
            F.array_intersect(
                F.array_distinct(toks), F.array(*[F.lit(w) for w in words])
            )
        ),
        F.lit(0),
    )


_LANG_SQL_SCORES = ",\n       ".join(
    f"coalesce(len(list_intersect(list_distinct(string_split(text, ' ')), "
    f"{ws!r})), 0) AS s_{lang}"
    for lang, ws in sorted(STOPWORDS.items())
)

# The ONE SQL definition of the detector's argmax (all-zero →
# 'undetected', ties alphabetical) — shared by the q_lang_id oracle
# and the q_label_agreement oracle so the two can never desynchronize
# (derived from sorted(STOPWORDS), like the score columns above).
_LANG_GREATEST = "greatest(" + ", ".join(
    f"s_{lang}" for lang in sorted(STOPWORDS)
) + ")"
_LANG_CASE_SQL = (
    f"CASE WHEN {_LANG_GREATEST} = 0 THEN 'undetected'\n            "
    + "\n            ".join(
        f"WHEN s_{lang} = {_LANG_GREATEST} THEN '{lang}'"
        for lang in sorted(STOPWORDS)[:-1]
    )
    + f"\n            ELSE '{sorted(STOPWORDS)[-1]}' END"
)


def detected_col(toks: Column) -> Column:
    """The ONE Column definition of the stopword-overlap detector —
    used by q_lang_id and q_label_agreement (the SQL twin is
    _LANG_CASE_SQL)."""
    scores = {lang: _overlap(toks, ws) for lang, ws in sorted(STOPWORDS.items())}
    best = F.greatest(*scores.values())
    detected = F.when(best == 0, "undetected")
    for lang in sorted(scores):
        detected = detected.when(scores[lang] == best, lang)
    return detected


_LANG_ORACLE = f"""
WITH scored AS (
    SELECT doc_id,
       {_LANG_SQL_SCORES}
    FROM documents
)
SELECT doc_id,
       {_LANG_CASE_SQL} AS detected_lang,
       {_LANG_GREATEST} AS lang_score
FROM scored
"""


@query("q_lang_id", oracle=_LANG_ORACLE, tags=("llm", "text"))
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-overlap language ID (P7 re-expressed without per-row
    Python): argmax over per-language distinct-token overlap, all-zero →
    'undetected' (reference fallback, transform_raw_data.py:132-134),
    ties broken alphabetically."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col()
    scores = {lang: _overlap(toks, ws) for lang, ws in sorted(STOPWORDS.items())}
    return docs.select(
        "doc_id",
        detected_col(toks).alias("detected_lang"),
        F.greatest(*scores.values()).alias("lang_score"),
    )


_EN = STOPWORDS["en"]

_QUALITY_ORACLE = f"""
WITH t AS (
    SELECT doc_id,
           length(text) AS n_char,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_distinct,
           len(list_filter(string_split(text, ' '),
                           x -> list_contains({_EN!r}, x))) AS n_stop
    FROM documents
)
SELECT doc_id,
       n_char,
       n_tokens,
       round(n_distinct * 1.0 / n_tokens, 6) AS type_token_ratio,
       round(n_stop * 1.0 / n_tokens, 6) AS stopword_ratio,
       round((n_char - (n_tokens - 1)) * 1.0 / n_tokens, 6) AS mean_token_len,
       round(0.4 * least(n_tokens / 100.0, 1.0)
           + 0.4 * (n_distinct * 1.0 / n_tokens)
           + 0.2 * (1.0 - n_stop * 1.0 / n_tokens), 6) AS quality_score
FROM t
"""


@query("q_text_quality", oracle=_QUALITY_ORACLE, tags=("llm", "text"))
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length, type-token ratio, stopword ratio, mean
    token length folded into a [0,1] score — the standard pre-training
    quality-filter features, as pure vectorized arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col()
    en = F.array(*[F.lit(w) for w in _EN])
    d = docs.select(
        "doc_id",
        F.length("text").alias("n_char"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.size(F.filter(toks, lambda x: F.array_contains(en, x))).alias("n_stop"),
    )
    ttr = F.col("n_distinct") / F.col("n_tokens")
    stop_ratio = F.col("n_stop") / F.col("n_tokens")
    return d.select(
        "doc_id",
        "n_char",
        "n_tokens",
        F.round(ttr, 6).alias("type_token_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round((F.col("n_char") - (F.col("n_tokens") - 1)) / F.col("n_tokens"), 6).alias(
            "mean_token_len"
        ),
        F.round(
            0.4 * F.least(F.col("n_tokens") / 100.0, F.lit(1.0))
            + 0.4 * ttr
            + 0.2 * (1.0 - stop_ratio),
            6,
        ).alias("quality_score"),
    )


_TOKENIZE_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"

_TOKEN_ORACLE = rf"""
SELECT doc_id,
       len(string_split(text, ' ')) AS ws_tokens,
       len(regexp_extract_all(text, '{_TOKENIZE_PATTERN}')) AS bpe_ish_tokens,
       length(text) AS n_char,
       CAST(ceil(length(text) / 4.0) AS BIGINT) AS approx_llm_tokens
FROM documents
"""


@query("q_token_count", oracle=_TOKEN_ORACLE, tags=("llm", "text"))
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, a BPE-ish regex segmentation
    (letters / digits / single punctuation), and the chars/4 LLM-token
    estimate."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(tokens_col()).alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(_TOKENIZE_PATTERN), 0)).alias(
            "bpe_ish_tokens"
        ),
        F.length("text").alias("n_char"),
        F.ceil(F.length("text") / 4.0).cast("long").alias("approx_llm_tokens"),
    )


_FP_ORACLE = """
WITH t AS (
    SELECT doc_id,
           lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm,
           string_split(text, ' ') AS toks
    FROM documents
)
SELECT doc_id,
       md5(norm) AS content_fingerprint,
       CASE WHEN len(toks) >= 3
            THEN list_aggregate(
                     list_transform(generate_series(1, len(toks) - 2),
                                    i -> md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])),
                     'min')
            ELSE NULL END AS min_shingle_fingerprint
FROM t
"""


@query("q_doc_fingerprint", oracle=_FP_ORACLE, tags=("llm", "text", "dedup"))
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 of whitespace-normalized text plus a
    min-shingle-hash (a 1-permutation MinHash with a portable hash so
    the oracle reproduces it bit-for-bit)."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    toks = tokens_col()
    sh = shingles_col(toks, 3)
    min_shingle = F.when(
        F.size(toks) >= 3, F.array_min(F.transform(sh, lambda s: F.md5(s.cast("binary"))))
    )
    return docs.select(
        "doc_id",
        F.md5(norm.cast("binary")).alias("content_fingerprint"),
        min_shingle.alias("min_shingle_fingerprint"),
    )


_LANG_STATS_ORACLE = """
SELECT lang,
       source,
       count(*) AS n_docs,
       round(avg(n_chars), 4) AS avg_chars,
       round(avg(len(string_split(text, ' '))), 4) AS avg_tokens
FROM documents
GROUP BY lang, source
"""


@query("q_doc_stats", oracle=_LANG_STATS_ORACLE, tags=("llm", "text", "agg"))
def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus census by (lang, source) — the first query any data-mix
    dashboard runs."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.round(F.avg(F.size(tokens_col())), 4).alias("avg_tokens"),
    )


# --------------------------------------------------- salient terms

TOP_TERMS_K = 5

_TOP_TERMS_ORACLE = f"""
WITH tf AS (
    SELECT source, s.tok AS term, count(*) AS tf
    FROM documents, unnest(string_split(text, ' ')) AS s(tok)
    GROUP BY source, s.tok
),
df AS (
    SELECT s.tok AS term, count(DISTINCT doc_id) AS df
    FROM documents, unnest(string_split(text, ' ')) AS s(tok)
    GROUP BY s.tok
),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
    SELECT tf.source, tf.term, tf.tf, df.df,
           floor(tf.tf * n.n_docs * 1000000.0 / df.df + 0.5) / 1000000 AS salience
    FROM tf JOIN df USING (term), n
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY source
                                 ORDER BY salience DESC, term) AS rnk
    FROM scored
)
SELECT source, term, tf, df, salience, rnk
FROM ranked WHERE rnk <= {TOP_TERMS_K}
ORDER BY source, rnk
"""


@query("q_top_terms", oracle=_TOP_TERMS_ORACLE, tags=("llm", "text", "agg", "window"))
def q_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salient terms per source: TF-IDF-shaped ranking with a LINEAR
    inverse document frequency (tf · N / df) instead of the log form —
    rank-equivalent for fixed tf, and free of libm: two engines'
    ``ln`` can differ in the last ulp, which flips a rounded hash (the
    ADVICE r02 cross-engine rounding class); integer-rational
    arithmetic cannot. Plan: token explode → two partial-agg shuffles
    (term×source TF, term DF) → broadcast N (one row) → per-source
    top-K via row_number over a total order. The TF⋈DF join is
    ``shuffle_hash`` on ``term``, NEVER broadcast: a web-scale
    vocabulary is heavy-tailed (typos, numbers, URLs — plausibly 10⁸+
    distinct terms, tens of GB) and hapax terms (df=1) maximize
    tf·N/df so the DF side cannot be pruned pre-join. Both inputs come
    out of aggregations already hash-partitioned by term, so the
    shuffle-hash join adds no extra exchange on the DF side."""
    docs = load_table(spark, sf_dir, "documents")
    ex = fan_out(docs).select("doc_id", "source", F.explode(tokens_col()).alias("term"))
    tf = ex.groupBy("source", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = ex.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df.hint("shuffle_hash"), "term")
        .join(F.broadcast(n))
        .select(
            "source",
            "term",
            "tf",
            "df",
            (
                F.floor(F.col("tf") * F.col("n_docs") * 1000000.0 / F.col("df") + F.lit(0.5))
                / 1000000
            ).alias("salience"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.desc("salience"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_TERMS_K)
        .orderBy("source", "rnk")
    )


# ---------------------------------------------------------------------------
# Token-entropy quality score
# ---------------------------------------------------------------------------

_ENTROPY_ORACLE = """
WITH ex AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
cnt AS (SELECT doc_id, tok, count(*) AS c FROM ex GROUP BY doc_id, tok),
ent AS (SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_tok,
               count(*) AS n_distinct,
               round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS entropy
        FROM cnt GROUP BY doc_id)
SELECT doc_id, n_tok, n_distinct, entropy FROM ent
"""


@query("q_token_entropy", oracle=_ENTROPY_ORACLE, tags=("llm", "text", "quality"))
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token Shannon entropy — the diversity signal that
    separates natural prose from boilerplate/spam (low entropy = a few
    tokens dominate; a repetition-quality gate in the same family as
    Gopher's duplicate-line fraction). H = ln(n) - Σ c·ln(c) / n over
    per-token counts c, computed in that algebraic form so both engines
    sum the SAME finite set of c·ln(c) terms — addition-order FP drift
    is ~1e-13 against a round-to-6 output, far from any boundary.

    Plan: explode → one shuffle on (doc_id, tok) for the count, then a
    map-side-combinable rollup back to doc_id. At 100 TB both
    aggregations partial-aggregate before the exchange, and the shuffle
    key carries the token only once per distinct (doc, token) pair."""
    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        fan_out(docs)
        .select("doc_id", F.explode(tokens_col()).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        cnt.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tok"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.round(
                F.log(F.sum("c")) - F.sum(F.col("c") * F.log("c")) / F.sum("c"), 6
            ).alias("entropy"),
        )
        .select("doc_id", "n_tok", "n_distinct", "entropy")
    )


# ------------------------------------------------- unicode normalization

# Deterministic perturbation: odd doc_ids get their vowels replaced by
# precomposed accented forms and the whole text uppercased — the messy
# real-web shape (mixed case, diacritics) synthesized from the clean
# corpus so the round trip is self-proving. The accent set sticks to
# characters whose NFD decomposition is base+combining (true for all
# Latin vowel diacritics; NOT for ø/ł-style letters, which need a
# transliteration table on top — documented, out of scope).
_ACCENT_SRC = "aeiou"
_ACCENT_DST = "áéíóú"


def normalize_text_col(col: Column) -> Column:
    """NFD → strip combining marks → lower: the standard unicode
    cleanup pass of an LLM ingest (casefold + de-accent), as an
    Arrow-batched pandas UDF — stdlib `unicodedata` does the real
    normalization work per batch; no JVM round trip per row."""
    @F.pandas_udf("string")
    def _fold(s):  # type: ignore[no-untyped-def]  # Arrow batch: pd.Series -> pd.Series
        import unicodedata

        def fold(t):
            if t is None:
                return None
            decomposed = unicodedata.normalize("NFD", t)
            return "".join(
                ch for ch in decomposed if not unicodedata.combining(ch)
            ).lower()

        return s.map(fold)

    return _fold(col)


_NORMALIZE_ORACLE = f"""
SELECT doc_id,
       CASE WHEN doc_id % 2 = 1
            THEN length(text) - length(replace(replace(replace(replace(replace(
                 text, 'a', ''), 'e', ''), 'i', ''), 'o', ''), 'u', ''))
            ELSE 0 END AS n_perturbed,
       md5(text) AS normalized_fp,
       TRUE AS restored
FROM documents
"""


@query("q_text_normalize", oracle=_NORMALIZE_ORACLE, tags=("llm", "text", "quality"))
def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode normalization round trip — the ingest cleanup every
    multilingual 100 TB corpus runs before tokenization/dedup (NFD or
    NFKC, strip diacritics, casefold; un-normalized text fragments the
    vocabulary and defeats exact dedup). The corpus is ASCII, so the
    perturbation half synthesizes the mess DETERMINISTICALLY (odd
    doc_ids: vowels → precomposed á/é/í/ó/ú, then uppercased) and the
    operator under test — :func:`normalize_text_col`, real stdlib
    `unicodedata` NFD + combining-mark strip + lower in an
    Arrow-batched pandas UDF — must restore the original text exactly.

    The oracle never normalizes anything: it pins md5(SOURCE text) per
    doc, `restored` TRUE, and the perturbed-character count (vowel
    census of the odd docs). A UDF that misses an accent, mangles
    case, or no-ops flips the fingerprint of every odd document; the
    even documents pin the pass-through half. The perturbation itself
    is proven non-trivial by n_perturbed > 0 on odd docs."""
    docs = load_table(spark, sf_dir, "documents")
    perturbed = F.when(
        F.col("doc_id") % 2 == 1,
        F.upper(F.translate(F.col("text"), _ACCENT_SRC, _ACCENT_DST)),
    ).otherwise(F.col("text"))
    accent_chars = "".join(
        c.upper() + c for c in _ACCENT_DST
    )  # both cases of every accented vowel
    df = docs.select(
        "doc_id",
        F.col("text").alias("original"),
        perturbed.alias("messy"),
    )
    normalized = normalize_text_col(F.col("messy"))
    return df.select(
        "doc_id",
        (
            F.length("messy")
            - F.length(F.translate(F.col("messy"), accent_chars, ""))
        ).alias("n_perturbed"),
        F.md5(normalized).alias("normalized_fp"),
        (normalized == F.col("original")).alias("restored"),
    )


# Content blocklist (C4/RefinedWeb-style "bad words" gate). The list is
# a deterministic stand-in drawn from the corpus vocabulary; production
# swaps in the real blocklist. Matching is TOKEN-level (multiplicities
# count), gate fires when flagged tokens exceed 5% of the document.
BLOCKLIST = ["slow", "dup", "skew", "spill", "big"]
_BLOCK_NUM, _BLOCK_DEN = 5, 100  # flagged/total > 5%

_BLOCKLIST_ORACLE = f"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(len(list_filter(string_split(text, ' '),
                t -> list_contains({BLOCKLIST!r}, t))) AS BIGINT) AS n_flagged,
       len(list_filter(string_split(text, ' '),
           t -> list_contains({BLOCKLIST!r}, t))) * {_BLOCK_DEN}
           > len(string_split(text, ' ')) * {_BLOCK_NUM} AS blocked
FROM documents
"""


@query("q_blocklist_filter", oracle=_BLOCKLIST_ORACLE, tags=("llm", "text", "quality"))
def q_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-based content gate: per-doc flagged-token count over
    the broadcast blocklist, blocked when flagged exceeds 5% of tokens
    (cross-multiplied integers — no float ratio on the verdict path).
    The dictionary rides as a literal array into a native
    filter/array_contains projection — shuffle-FREE, one codegen'd
    stage, the right plan while the dictionary fits in an expression
    (production 10⁵-term lists move to a broadcast map lookup inside
    the same projection; an explode + join would shuffle every token
    of the corpus for no reason). Oracle replays the tokenization,
    the multiplicity-counting match, and the rational gate."""
    docs = load_table(spark, sf_dir, "documents")
    blk = F.array(*[F.lit(t) for t in BLOCKLIST])
    toks = tokens_col()
    flagged = F.size(F.filter(toks, lambda t: F.array_contains(blk, t)))
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        flagged.cast("long").alias("n_flagged"),
        (flagged * _BLOCK_DEN > F.size(toks) * _BLOCK_NUM).alias("blocked"),
    )


_COOC_ORACLE = """
WITH toks AS (
    SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
    FROM documents
), pairs AS (
    SELECT a.tok AS ta, b.tok AS tb, count(*) AS n
    FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND a.tok < b.tok
    GROUP BY 1, 2
)
SELECT ta AS tok_a, tb AS tok_b, CAST(n AS BIGINT) AS n_docs
FROM pairs
ORDER BY n DESC, ta, tb
LIMIT 20
"""


@query("q_token_cooccurrence", oracle=_COOC_ORACLE, tags=("llm", "text", "join"))
def q_token_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 co-occurring token pairs across the corpus — the
    association-mining primitive behind phrase detection, topic seeds,
    and collocation-aware tokenizers: per-doc DISTINCT token sets,
    within-doc pairs (lexicographic a < b so each pair counts once),
    document frequency per pair, deterministic top-k on
    (count desc, pair asc). Plan: explode distinct tokens → self-join
    co-partitioned on doc_id (cost Σ per-doc-vocab², never corpus²) →
    pair aggregate (keys bounded by vocabulary², tiny after map-side
    combine) → TakeOrderedAndProject. The vocabulary self-join is the
    same blocked shape as the n-gram inverted index in dedup_near —
    at 100 TB, per-doc vocab stays bounded (docs have bounded length),
    so the join output scales linearly with docs."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens_col())).alias("tok")
    )
    a, b = toks.alias("a"), toks.alias("b")
    pairs = a.join(
        b,
        (F.col("a.doc_id") == F.col("b.doc_id"))
        & (F.col("a.tok") < F.col("b.tok")),
    ).groupBy(
        F.col("a.tok").alias("tok_a"), F.col("b.tok").alias("tok_b")
    ).agg(F.count(F.lit(1)).alias("n_docs"))
    return pairs.orderBy(
        F.desc("n_docs"), F.asc("tok_a"), F.asc("tok_b")
    ).limit(20)


_KAPPA_ORACLE = f"""
WITH scored AS (
    SELECT doc_id, lang,
       {_LANG_SQL_SCORES}
    FROM documents
),
lab AS (
    SELECT lang AS declared,
           {_LANG_CASE_SQL} AS detected
    FROM scored
),
cells AS (SELECT declared, detected, CAST(count(*) AS BIGINT) AS n
          FROM lab GROUP BY 1, 2),
rowt AS (SELECT declared AS cat, CAST(sum(n) AS BIGINT) AS rn
         FROM cells GROUP BY 1),
colt AS (SELECT detected AS cat, CAST(sum(n) AS BIGINT) AS cn
         FROM cells GROUP BY 1),
pe AS (SELECT CAST(coalesce(sum(coalesce(rn, 0) * coalesce(cn, 0)), 0)
                   AS BIGINT) AS pe_num
       FROM rowt FULL JOIN colt USING (cat)),
tot AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS n_items,
               CAST(coalesce(sum(CASE WHEN declared = detected
                                      THEN n END), 0) AS BIGINT) AS n_agree
        FROM cells)
SELECT t.n_items, t.n_agree,
       CAST(t.n_agree AS DOUBLE) / NULLIF(t.n_items, 0) AS po,
       p.pe_num,
       CAST(t.n_agree * t.n_items - p.pe_num AS BIGINT) AS kappa_num,
       CAST(t.n_items * t.n_items - p.pe_num AS BIGINT) AS kappa_den,
       CAST(t.n_agree * t.n_items - p.pe_num AS DOUBLE)
           / NULLIF(t.n_items * t.n_items - p.pe_num, 0) AS kappa
FROM tot t CROSS JOIN pe p
"""


@query("q_label_agreement", oracle=_KAPPA_ORACLE, tags=("llm", "text", "quality", "stats"))
def q_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the DECLARED language label and the
    engine's stopword-overlap detector — the chance-corrected
    agreement statistic every labeling/QC pipeline runs between an
    annotation source and a model (or two annotators) before trusting
    either. Exact by construction: the confusion matrix, marginals,
    and kappa's numerator a·N − Σ_c row_c·col_c and denominator
    N² − Σ_c row_c·col_c are all pinned int64 (kappa and po are single
    IEEE quotients); categories present on only one side (zh is never
    detectable, 'undetected' is never declared) contribute a zero
    marginal product, the standard treatment. The degenerate
    everything-one-category case NULLIFs to NULL in BOTH engines (the
    bootstrap discipline); the N² cross-products overflow int64 past
    N ≈ 3e9 items — the q_drift_ks hard contract, guarded by the same
    raise_error on the 1-row total (production at that scale moves the
    marginal shares to double).

    Plan shape: the detector is the q_lang_id codegen projection (zero
    UDF); ONE map-side-combined groupBy collapses the corpus to ≤
    |langs|² confusion cells; every aggregate after that runs on ≤ 6
    category rows — constant at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    cells = (
        docs.select(
            F.col("lang").alias("declared"),
            detected_col(tokens_col()).alias("detected"),
        )
        .groupBy("declared", "detected")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    rowt = cells.groupBy(F.col("declared").alias("cat")).agg(
        F.sum("n").alias("rn")
    )
    colt = cells.groupBy(F.col("detected").alias("cat")).agg(
        F.sum("n").alias("cn")
    )
    pe = rowt.join(colt, "cat", "full").agg(
        F.coalesce(
            F.sum(
                F.coalesce(F.col("rn"), F.lit(0))
                * F.coalesce(F.col("cn"), F.lit(0))
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("pe_num")
    )
    # coalesce: an EMPTY corpus makes sum(n) NULL, which would turn
    # the guard's WHEN into NULL and misfire raise_error on a zero-row
    # input (the q_drift_ks lesson) — pin empties to 0 in BOTH engines
    # so the degenerate output row matches the oracle's.
    tot = cells.agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_items"),
        F.coalesce(
            F.sum(F.when(F.col("declared") == F.col("detected"), F.col("n"))),
            F.lit(0),
        )
        .cast("long")
        .alias("n_agree"),
    ).select(
        # Overflow guard (the q_drift_ks contract): N² wraps silently
        # in non-ANSI Spark past N ≈ 3e9 where DuckDB errors. Shared
        # definition + firing unit test in functions/guards.py.
        guard_product_int64(
            "n_items",
            "n_items",
            "n_items",
            "q_label_agreement: N² exceeds int64 — move marginal "
            "shares to double at this corpus size",
        ),
        "n_agree",
    )
    return tot.crossJoin(F.broadcast(pe)).select(
        "n_items",
        "n_agree",
        # NULLIF: Spark 4 ANSI mode ERRORS on division by zero where
        # DuckDB returns NULL — pin the empty-corpus po to NULL in both
        (
            F.col("n_agree").cast("double")
            / F.nullif(F.col("n_items"), F.lit(0))
        ).alias("po"),
        "pe_num",
        (F.col("n_agree") * F.col("n_items") - F.col("pe_num"))
        .cast("long")
        .alias("kappa_num"),
        (F.col("n_items") * F.col("n_items") - F.col("pe_num"))
        .cast("long")
        .alias("kappa_den"),
        (
            (F.col("n_agree") * F.col("n_items") - F.col("pe_num")).cast(
                "double"
            )
            / F.nullif(
                F.col("n_items") * F.col("n_items") - F.col("pe_num"),
                F.lit(0),
            )
        ).alias("kappa"),
    )
