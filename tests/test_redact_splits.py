"""Unit tests for the redaction rules, split operators, and the
embedding near-dup LSH — the fixture-level checks the registry sweep
can't express (the sweep only proves oracle parity on real tables)."""

from __future__ import annotations

from pyspark.sql import functions as F

from facebook_ad_library_data_pipeline_spark.functions.redact import (
    redact_col,
    redaction_counts,
)
from facebook_ad_library_data_pipeline_spark.functions.similarity import (
    NEARDUP_COS,
    band_col,
    cosine,
)
from facebook_ad_library_data_pipeline_spark.operators.splits import (
    K_FOLDS,
    RESERVOIR_K,
    kfold_col,
)


def test_redact_rules_fixture(spark):
    """Every rule fires on a synthetic PII corpus and the scrubbed text
    contains none of the originals."""
    rows = [
        (1, "contact alice.smith+x@example.co.uk or bob@mail.org today"),
        (2, "call 25-989-741-2988 or 212-555-0100 x"),  # 4-group intl + NANP 3-3-4
        (3, "server at 192.168.0.1 and 10.0.0.255 responded"),
        (4, "order #1234567 for Customer#000000042"),
        (5, "clean text with no identifiers at all"),
    ]
    df = spark.createDataFrame(rows, ["id", "text"])
    scrubbed = df.select("id", redact_col("text").alias("text"), *redaction_counts("text"))
    out = {r["id"]: r for r in scrubbed.collect()}

    assert out[1]["email_hits"] == 2
    assert "[EMAIL]" in out[1]["text"] and "@" not in out[1]["text"]
    assert out[2]["phone_hits"] == 2
    assert "[PHONE]" in out[2]["text"] and "25-989-741-2988" not in out[2]["text"]
    assert "212-555-0100" not in out[2]["text"]
    assert out[3]["ipv4_hits"] == 2
    assert "192.168.0.1" not in out[3]["text"]
    assert out[4]["account_id_hits"] == 2
    assert out[4]["text"] == "order #[ID] for Customer#[ID]"
    assert out[5]["text"] == rows[4][1]
    assert all(out[5][f"{n}_hits"] == 0 for n in ("email", "phone", "ipv4", "account_id"))


def test_kfold_total_and_balance(spark, sf_dir):
    """Folds partition the corpus (no doc lost or double-assigned) and
    the Knuth hash spreads them within 2x of perfectly even."""
    from facebook_ad_library_data_pipeline_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    sizes = (
        docs.select(kfold_col("doc_id").alias("fold"))
        .groupBy("fold")
        .count()
        .collect()
    )
    assert sorted(r["fold"] for r in sizes) == list(range(K_FOLDS))
    assert sum(r["count"] for r in sizes) == n
    for r in sizes:
        assert n / K_FOLDS / 2 < r["count"] < n / K_FOLDS * 2


def test_group_reservoir_is_stable_subset(spark, sf_dir):
    """Exactly RESERVOIR_K rows per source (corpus has > K docs per
    source) and two runs pick the identical set — determinism is the
    whole point vs RNG reservoirs."""
    from facebook_ad_library_data_pipeline_spark.operators.splits import q_group_reservoir

    a = {(r["source"], r["doc_id"]) for r in q_group_reservoir(spark, sf_dir).collect()}
    b = {(r["source"], r["doc_id"]) for r in q_group_reservoir(spark, sf_dir).collect()}
    assert a == b
    per_src = {}
    for s, _ in a:
        per_src[s] = per_src.get(s, 0) + 1
    assert all(v == RESERVOIR_K for v in per_src.values())


def test_embedding_neardup_planted_dups(spark):
    """Planted exact and near-exact duplicates are always recovered:
    an exact dup agrees on every hyperplane sign, so it shares both
    bands with certainty; a tiny perturbation leaves all 16 signs
    unchanged for these fixtures (verified via band_col directly)."""
    base = [0.5 if d % 3 else -0.25 for d in range(64)]
    near = list(base)
    near[0] += 1e-6  # cannot flip any plane sign at this magnitude
    far = [(-1.0) ** d * (d + 1) / 64 for d in range(64)]
    rows = [(0, base), (1, list(base)), (2, near), (3, far)]
    df = spark.createDataFrame(rows, ["vec_id", "emb"]).select(
        "vec_id", F.col("emb").cast("array<double>").alias("emb")
    )

    bands = df.select(
        "vec_id", band_col("emb", 0).alias("b0"), band_col("emb", 1).alias("b1")
    ).collect()
    by_id = {r["vec_id"]: (r["b0"], r["b1"]) for r in bands}
    assert by_id[0] == by_id[1] == by_id[2]

    # The pair query shape on the fixture: banded self-join + cosine.
    left = df.select(F.col("vec_id").alias("v1"), F.col("emb").alias("e1"),
                     band_col("emb", 0).alias("band_val"))
    right = df.select(F.col("vec_id").alias("v2"), F.col("emb").alias("e2"),
                      band_col("emb", 0).alias("band_val"))
    pairs = (
        left.join(right, "band_val")
        .filter(F.col("v1") < F.col("v2"))
        .filter(cosine(F.col("e1"), F.col("e2")) >= NEARDUP_COS)
        .select("v1", "v2")
        .collect()
    )
    got = {(r["v1"], r["v2"]) for r in pairs}
    assert {(0, 1), (0, 2), (1, 2)} <= got
    assert not any(3 in p for p in got)


def test_pagerank_mass_conservation(spark, sf_dir):
    """On the symmetric near-dup graph (deg >= 1 everywhere, so no
    dangling mass) total PageRank mass is conserved: sum of ranks = 1
    up to FP dust. Also: every rank positive and bounded by 1."""
    from facebook_ad_library_data_pipeline_spark.operators.pagerank import q_pagerank_neardup

    rows = q_pagerank_neardup(spark, sf_dir).collect()
    assert rows, "near-dup graph unexpectedly empty"
    total = sum(r["rank"] for r in rows)
    assert abs(total - 1.0) < 1e-3, total
    assert all(0 < r["rank"] < 1 for r in rows)


def test_weighted_sample_favors_long_docs(spark, sf_dir):
    """A-Res with weight = n_chars must overrepresent long documents:
    the sample's mean length exceeds the corpus mean (deterministic
    given fixed testdata), and exactly WEIGHTED_K rows emit per source."""
    from facebook_ad_library_data_pipeline_spark.catalog import load_table
    from facebook_ad_library_data_pipeline_spark.operators.splits import (
        WEIGHTED_K,
        q_weighted_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus_mean = docs.agg(F.avg("n_chars")).collect()[0][0]
    rows = q_weighted_sample(spark, sf_dir).collect()
    per_src = {}
    for r in rows:
        per_src[r["source"]] = per_src.get(r["source"], 0) + 1
    assert all(v == WEIGHTED_K for v in per_src.values())
    sample_mean = sum(r["n_chars"] for r in rows) / len(rows)
    assert sample_mean > corpus_mean


def test_portable_hash_survives_huge_keys(spark):
    """The Knuth-multiply sites pre-reduce keys mod 2^31, so ids far
    beyond the 32-bit range (a 100 TB corpus's id space) must neither
    overflow under ANSI mode nor escape the fold range."""
    from facebook_ad_library_data_pipeline_spark.operators.splits import K_FOLDS

    df = spark.createDataFrame(
        [(5_000_000_000,), (9_000_000_000_000,), (0,)], "doc_id long"
    )
    out = df.select(kfold_col("doc_id").alias("fold")).collect()
    assert all(0 <= r["fold"] < K_FOLDS for r in out)


def test_portable_hash_oracle_parity_huge_keys(spark):
    """The oracle SQL twins now apply the SAME mod-2^31 pre-reduction
    as the Spark side, so for ids beyond 2^31 both engines compute the
    identical fold/sample decision (the r06-advice gap: the unreduced
    oracle diverged AND overflowed BIGINT)."""
    import duckdb

    from facebook_ad_library_data_pipeline_spark.operators.splits import (
        _FOLD_KNUTH,
        _FOLD_MOD32,
        _FOLD_SALT,
        _MOD31,
    )

    ids = [0, 1, 2**31 - 1, 2**31, 5_000_000_000, 9_000_000_000_000]
    spark_out = {
        r["doc_id"]: r["fold"]
        for r in spark.createDataFrame([(i,) for i in ids], "doc_id long")
        .select("doc_id", kfold_col("doc_id").alias("fold"))
        .collect()
    }
    con = duckdb.connect()
    duck = dict(
        con.execute(
            f"""SELECT doc_id,
                       (((((doc_id + {_FOLD_SALT}) % {_MOD31}) * {_FOLD_KNUTH})
                          % {_FOLD_MOD32})) % {K_FOLDS} AS fold
                FROM (SELECT unnest({ids}::BIGINT[]) AS doc_id)"""
        ).fetchall()
    )
    assert spark_out == duck


def test_chunk_overlap_edges(spark, tmp_path):
    """Window/stride boundary semantics on constructed docs: shorter
    than one window, exactly one window, one token past a window, and
    a multi-window doc — counts, per-chunk lengths, and the overlap
    tokens shared between consecutive chunks."""
    from facebook_ad_library_data_pipeline_spark.operators.training_prep import (
        CHUNK_S,
        CHUNK_W,
    )
    from facebook_ad_library_data_pipeline_spark.registry import load_all

    assert CHUNK_W == 64 and CHUNK_S == 48  # fixture math below assumes these
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = [
        (0, " ".join(f"t{i}" for i in range(10))),   # short: 1 chunk of 10
        (1, " ".join(f"t{i}" for i in range(64))),   # exact: 1 chunk of 64
        (2, " ".join(f"t{i}" for i in range(65))),   # 2 chunks: 64 + 17
        (3, " ".join(f"t{i}" for i in range(160))),  # 3 chunks: 64+64+64(@96)
    ]
    d = str(tmp_path)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([i for i, _ in docs], pa.int64()),
                "text": [t for _, t in docs],
                "lang": ["en"] * len(docs),
                "source": ["src0"] * len(docs),
                "n_chars": pa.array([len(t) for _, t in docs], pa.int64()),
            }
        ),
        os.path.join(d, "documents.parquet"),
    )
    out = load_all()["q_chunk_overlap"].fn(spark, d).collect()
    by_doc: dict[int, dict[int, tuple]] = {}
    for r in out:
        by_doc.setdefault(r.doc_id, {})[r.chunk_idx] = (r.n_tokens, r.chunk_fp)
    assert {k: len(v) for k, v in by_doc.items()} == {0: 1, 1: 1, 2: 2, 3: 3}
    assert by_doc[0][0][0] == 10
    assert by_doc[1][0][0] == 64
    assert [by_doc[2][i][0] for i in (0, 1)] == [64, 17]
    assert [by_doc[3][i][0] for i in (0, 1, 2)] == [64, 64, 64]
    # overlap: doc 2's second chunk starts at token 48 — fingerprint
    # must equal md5 of tokens 48..64 (17 tokens)
    import hashlib

    expect = hashlib.md5(
        " ".join(f"t{i}" for i in range(48, 65)).encode()
    ).hexdigest()
    assert by_doc[2][1][1] == expect
