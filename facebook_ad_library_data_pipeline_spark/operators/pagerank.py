"""PageRank over the near-dup graph — the second iterative-algorithm
shape (after connected components): a fixed-point of WEIGHTED mass
propagation rather than min-label spreading. Ranks the documents
inside near-dup neighborhoods by how centrally they sit (a hub that
partially overlaps many docs outranks a leaf that duplicates one),
which is a useful canonical-pick signal complementary to
q_canonical_docs' priority rules.

Determinism contract (what makes this fully oracle-checkable):
* fixed iteration count (no convergence test — both engines run
  EXACTLY {PR_ITERS} rounds),
* every constant cast to double on the SQL side (a bare DuckDB `0.15`
  is DECIMAL(3,2) and would poison the arithmetic into decimal),
* identical arithmetic shape per round: r' = 0.15/N + 0.85·Σ r/deg —
  the Σ terms are the same finite multiset in both engines, so
  addition-order drift is ~1e-15 against a round-to-6 output.

The oracle UNROLLS the iteration as {PR_ITERS} chained CTEs (standard
SQL forbids aggregation in a recursive term, so recursion à la the CC
oracle is unavailable — unrolling is the honest equivalent for a fixed
iteration count).

100 TB posture: per iteration, one shuffle-hash join (edges ⋈ ranks on
src — the edge list NEVER broadcasts) + one aggregation on dst; edge
list and degrees are computed once and reused (session edge cache);
lineage is cut with localCheckpoint every {PR_CHECKPOINT_EVERY}
rounds, the same guard the CC loop uses against O(iters²) re-execution.
Isolated docs (no near-dup edge) are excluded: their rank is the
closed-form (1-d)/N and carrying them through 12 joins is pure waste.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from .dedup_near import _SHINGLE_EXPLODED_SQL, JACCARD_THRESHOLD, shared_jaccard_pairs

PR_ITERS = 12
PR_DAMPING = 0.85
PR_CHECKPOINT_EVERY = 4

# The edge derivation is dedup_near's shared shingle->pairs CTE chain
# VERBATIM (one definition — a change to the shingle rule or the
# threshold updates this oracle with it), extended with the graph CTEs.
# sym, deg and nn are MATERIALIZED: every unrolled round reads them, and
# inlined they re-ran the shingle chain in each round (~28 s per oracle).
_EDGES_CTE = f"""
{_SHINGLE_EXPLODED_SQL},
edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
          JOIN sizes sa ON d1 = sa.doc_id
          JOIN sizes sb ON d2 = sb.doc_id
          WHERE inter * 1.0 / (sa.n + sb.n - inter) >= {JACCARD_THRESHOLD}),
sym AS MATERIALIZED (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
deg AS MATERIALIZED (SELECT src AS node, count(*) AS deg FROM sym GROUP BY src),
nn AS MATERIALIZED (SELECT count(*) AS n FROM deg),
r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS r FROM deg)
"""


def _pagerank_oracle() -> str:
    steps = []
    for i in range(1, PR_ITERS + 1):
        steps.append(
            f"r{i} AS (SELECT s.dst AS node,\n"
            f"  CAST({1 - PR_DAMPING:.2f} AS DOUBLE) / (SELECT n FROM nn)\n"
            f"  + CAST({PR_DAMPING:.2f} AS DOUBLE) * sum(p.r / d.deg) AS r\n"
            f"  FROM sym s JOIN r{i - 1} p ON s.src = p.node\n"
            f"  JOIN deg d ON s.src = d.node\n"
            f"  GROUP BY s.dst)"
        )
    return (
        "WITH "
        + _EDGES_CTE.strip().rstrip()
        + ",\n"
        + ",\n".join(steps)
        + f"\nSELECT node AS doc_id, round(r, 6) AS rank FROM r{PR_ITERS}"
    )


@query("q_pagerank_neardup", oracle=_pagerank_oracle(), tags=("llm", "dedup", "iterative"))
def q_pagerank_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (d=0.85, {PR_ITERS} fixed rounds) over the symmetric
    Jaccard≥{JACCARD_THRESHOLD} near-dup graph, non-isolated docs only.
    Oracle: the same {PR_ITERS} rounds unrolled as chained CTEs."""
    edges = shared_jaccard_pairs(spark, sf_dir).select(
        F.col("d1").alias("src"), F.col("d2").alias("dst")
    )
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).withColumnRenamed(
        "src", "node"
    )
    # Bounded scalar: node count of the near-dup graph (<< doc count).
    n = deg.count()
    # Source degree is rank-invariant: attach it to the edge list ONCE
    # so each iteration is exactly one join + one aggregation (deg as a
    # per-iteration second join measured ~2x the stage count for zero
    # information).
    symdeg = sym.join(
        deg.select(F.col("node").alias("src"), "deg"), "src"
    ).localCheckpoint(eager=False)
    ranks = deg.select("node", (F.lit(1.0) / F.lit(n)).alias("r"))
    for i in range(1, PR_ITERS + 1):
        ranks = (
            symdeg.join(
                ranks.select(F.col("node").alias("src"), "r").hint("shuffle_hash"),
                "src",
            )
            .groupBy("dst")
            .agg(F.sum(F.col("r") / F.col("deg")).alias("mass"))
            .select(
                F.col("dst").alias("node"),
                (
                    F.lit(round(1 - PR_DAMPING, 2)) / F.lit(n)
                    + F.lit(PR_DAMPING) * F.col("mass")
                ).alias("r"),
            )
        )
        if i % PR_CHECKPOINT_EVERY == 0 and i < PR_ITERS:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks.select(F.col("node").alias("doc_id"), F.round("r", 6).alias("rank"))
