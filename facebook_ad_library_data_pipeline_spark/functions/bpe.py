"""Byte-pair-encoding tokenizer — a REAL subword tokenizer (the
algorithm behind GPT-2/RoBERTa vocabularies, Sennrich et al. 2016),
structured like every trained artifact in this repo (functions/ivf.py):

- TRAIN on a bounded driver-side sample (ivf.bounded_sample_values —
  the one shared sampling protocol): merge rules come from word
  frequencies, which saturate long before 100 TB, so the fit input is
  O(1) in corpus size. Deterministic: ties in pair frequency break
  lexicographically, so the same sample yields the same merge table on
  every run. The trainer keeps an INCREMENTALLY-updated pair counter —
  each round only re-counts words containing the merged pair — instead
  of recounting every pair of every word per round.
- APPLY distributed: the merge ranks broadcast (~KBs) into a
  mapInPandas pass that encodes every document where it sits, with a
  per-batch word memo (natural language repeats words heavily; the
  same cache GPT-2's reference encoder uses) — no shuffle, no driver
  data path.

Driver-checked surface (pinned flags, the ann_recall move — token ids
themselves are trained-artifact state like IVF centroids):

- `inference_matches_training_order`: greedy lowest-rank-first
  inference (encode_word) must produce the SAME segmentation as the
  canonical apply-each-merge-in-training-order replay — the standard
  BPE equivalence, and a NON-vacuous one: inverting the rank
  comparison, corrupting ranks, or skipping a merge breaks it.
- `roundtrip_ok` / `tokens_within_bounds`: concatenation identity and
  the [n_words, n_word_chars] count bound. These are structural — any
  single merge step preserves them, so they guard the BATCH plumbing
  (a row emitting another doc's tokens, a dropped word), not the merge
  logic; the equivalence flag above is what guards the merge logic.

Count distributions and rank-order semantics are additionally pinned
at fixture scale in tests/test_bpe.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..catalog import fan_out, load_table
from ..registry import query
from ..session import once
from .ivf import bounded_sample_values

N_MERGES = 200
MAX_FIT_DOCS = 2000


def train_bpe_merges(texts, n_merges: int = N_MERGES) -> dict[tuple[str, str], int]:
    """Classic BPE fit: start from characters, repeatedly merge the
    most frequent adjacent symbol pair (ties broken lexicographically
    for determinism). Word-frequency-weighted, word-boundary-bounded.
    Pair frequencies are maintained incrementally: each round touches
    only the words that contain the merged pair."""
    from collections import Counter

    word_freq: Counter = Counter()
    for t in texts:
        for w in t.split():
            if w:
                word_freq[w] += 1
    words: dict[tuple[str, ...], int] = {tuple(w): f for w, f in word_freq.items()}

    def pairs_of(sym):
        return zip(sym, sym[1:])

    pair_freq: Counter = Counter()
    for sym, f in words.items():
        for pr in pairs_of(sym):
            pair_freq[pr] += f

    merges: dict[tuple[str, str], int] = {}
    for rank in range(n_merges):
        # drop zero/negative residue before picking
        best = None
        best_key = None
        for pr, f in pair_freq.items():
            if f <= 0:
                continue
            k = (f, pr)
            if best_key is None or k > best_key:
                best_key, best = k, pr
        if best is None:
            break
        merges[best] = rank
        ab = best[0] + best[1]
        changed = []
        for sym, f in words.items():
            # cheap containment scan; only matching words re-counted
            hit = any(pr == best for pr in pairs_of(sym))
            if not hit:
                continue
            out = []
            i = 0
            while i < len(sym):
                if i + 1 < len(sym) and (sym[i], sym[i + 1]) == best:
                    out.append(ab)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            changed.append((sym, tuple(out), f))
        for old, new, f in changed:
            for pr in pairs_of(old):
                pair_freq[pr] -= f
            for pr in pairs_of(new):
                pair_freq[pr] += f
            del words[old]
            words[new] = words.get(new, 0) + f
    return merges


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Apply merges lowest-rank-first until none apply — the standard
    BPE inference loop (greedy by rank)."""
    sym = list(word)
    while len(sym) > 1:
        best_rank = None
        best_i = -1
        for i in range(len(sym) - 1):
            r = ranks.get((sym[i], sym[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        sym[best_i : best_i + 2] = [sym[best_i] + sym[best_i + 1]]
    return sym


def apply_in_training_order(word: str, ordered_merges) -> list[str]:
    """Canonical BPE segmentation: replay every merge rule over the
    word in TRAINING order (Sennrich's apply-in-sequence form). Greedy
    lowest-rank-first inference must agree — the equivalence the
    registered query pins per document."""
    sym = list(word)
    for a, b in ordered_merges:
        i = 0
        out = []
        while i < len(sym):
            if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(sym[i])
                i += 1
        sym = out
        if len(sym) == 1:
            break
    return sym


def fit_merges(spark: SparkSession, sf_dir: str) -> dict[tuple[str, str], int]:
    """{pair: rank}, trained once per application and table. Only the
    merge table is kept: the 2000 raw sample texts are dead once it is
    built."""

    def build() -> dict[tuple[str, str], int]:
        docs = load_table(spark, sf_dir, "documents")
        sample = bounded_sample_values(docs, "text", max_rows=MAX_FIT_DOCS)
        return train_bpe_merges([t for t in sample if t])

    return once(spark, (__name__, sf_dir), build)


_BPE_ORACLE = """
SELECT doc_id,
       TRUE AS inference_matches_training_order,
       TRUE AS roundtrip_ok,
       TRUE AS tokens_within_bounds
FROM documents
"""


@query("q_bpe_tokenize", oracle=_BPE_ORACLE, tags=("llm", "text", "ml"))
def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-tokenize the corpus with merges trained on a bounded sample
    and hash-check the tokenizer's algebra per document:
    `inference_matches_training_order` (greedy lowest-rank-first ==
    canonical in-training-order replay — flips on any rank-order or
    merge-application bug), plus the structural roundtrip/bounds
    guards on the batch plumbing. Token ids are trained-artifact state
    — same reasoning as IVF centroids — so flags, not counts, are the
    driver-checked surface; count semantics live in tests/test_bpe.py."""
    merges = fit_merges(spark, sf_dir)
    ordered = [p for p, _ in sorted(merges.items(), key=lambda kv: kv[1])]

    def encode_batch(batches):
        import pandas as pd

        memo: dict[str, tuple[list[str], bool]] = {}

        def enc(word):
            hit = memo.get(word)
            if hit is None:
                toks = encode_word(word, merges)
                hit = (toks, toks == apply_in_training_order(word, ordered))
                memo[word] = hit
            return hit

        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                words = [w for w in (text or "").split() if w]
                toks = []
                order_ok = True
                for w in words:
                    t, ok = enc(w)
                    toks.append(t)
                    order_ok = order_ok and ok
                n_tokens = sum(len(t) for t in toks)
                n_word_chars = sum(len(w) for w in words)
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "inference_matches_training_order": bool(order_ok),
                        "roundtrip_ok": bool(
                            all("".join(t) == w for t, w in zip(toks, words))
                        ),
                        "tokens_within_bounds": bool(
                            len(words) <= n_tokens <= n_word_chars
                        )
                        if words
                        else True,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "inference_matches_training_order",
                    "roundtrip_ok",
                    "tokens_within_bounds",
                ],
            )

    docs = fan_out(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    return docs.mapInPandas(
        encode_batch,
        schema=(
            "doc_id long, inference_matches_training_order boolean, "
            "roundtrip_ok boolean, tokens_within_bounds boolean"
        ),
    )
