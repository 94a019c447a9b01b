"""Storage-layout operators: bucketed co-located joins and partition-
pruned scans — the two table-layout levers that matter most at 100 TB.

- Bucketing pre-shuffles a table ONCE at write time: two tables
  bucketed by the same key into the same bucket count join with NO
  exchange on either side, ever after. That turns the nightly
  fact-to-fact join from the cluster's biggest shuffle into a local
  merge per bucket.
- Partition pruning turns a predicate on the partition column into
  directory-level file skipping: the scan never opens non-matching
  files. `PartitionFilters` in the plan is the proof (enforced in
  tests/test_plans.py).

Both layouts are built once per application from the testdata (tiny,
seconds); the QUERIES against them are the operators under test. All
layout artifacts live under the application's work dir
(session.work_dir) — bucketed tables as EXTERNAL locations (the managed
default would land in the caller's cwd/spark-warehouse) and the
partitioned parquet alongside — never in the testdata dir.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.money import money_sum, money_sum_sql
from ..registry import query
from ..session import build_once, once, sf_tag, work_dir

N_BUCKETS = 8


def bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """(orders_table, customer_table) bucketed by custkey into
    N_BUCKETS, written once per (application, sf_dir). sortBy within
    buckets so the merge join needs no sort either."""

    def build() -> tuple[str, str]:
        tag = sf_tag(sf_dir)
        o_name, c_name = f"orders_bkt_{tag}", f"customer_bkt_{tag}"
        for name, src, col in (
            (o_name, "orders", "o_custkey"),
            (c_name, "customer", "c_custkey"),
        ):
            # EXTERNAL location in the work dir: bucketing needs a
            # catalog entry (saveAsTable), but the default MANAGED
            # location is <caller cwd>/spark-warehouse
            (
                load_table(spark, sf_dir, src)
                .write.bucketBy(N_BUCKETS, col)
                .sortBy(col)
                .option("path", str(work_dir(spark) / name))
                .mode("overwrite")
                .saveAsTable(name)
            )
        return o_name, c_name

    return once(spark, (__name__, sf_dir), build)


_BUCKETED_ORACLE = f"""
SELECT c_mktsegment,
       count(*) AS n_orders,
       {money_sum_sql("o_totalprice")} AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


@query("q_bucketed_join", oracle=_BUCKETED_ORACLE, tags=("join", "storage", "bucketing"))
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-dim join over co-bucketed tables: both sides bucketed by
    custkey into the same bucket count, so the sort-merge join runs
    with ZERO exchange on the join key (plan-asserted). The `merge`
    hint pins SMJ — a broadcast would hide the property under test,
    and at real scale the fact-to-fact version has no broadcast
    option anyway."""
    o_name, c_name = bucketed_tables(spark, sf_dir)
    o = spark.table(o_name)
    c = spark.table(c_name).hint("merge")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money_sum(F.col("o_totalprice")).alias("revenue"),
        )
    )


def lineage_events_dir(spark: SparkSession, sf_dir: str) -> str:
    """Events partitioned by event_type, one file per partition, rows
    sorted by ts WITHIN each file (repartition("event_type") puts each
    type in exactly one task, so each partition directory gets exactly
    one file — pinned by q_file_metadata_lineage's n_files column).
    The pruned scan and dynamic partition pruning skip its directories.
    Built once per (application, sf_dir)."""

    def build(out: Path) -> None:
        (
            load_table(spark, sf_dir, "events")
            .repartition("event_type")
            .sortWithinPartitions("ts")
            .write.partitionBy("event_type")
            .parquet(str(out))
        )

    return build_once(spark, f"metalineage_{sf_tag(sf_dir)}", build)


_PRUNED_ORACLE = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       count(*) AS n,
       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
FROM events
WHERE event_type = 'purchase'
GROUP BY 1
"""


@query("q_partition_pruned_scan", oracle=_PRUNED_ORACLE, tags=("scan", "storage", "prune"))
def q_partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily purchase rollup against the event_type-partitioned layout:
    the predicate lands in PartitionFilters (directory skipping, not
    row filtering — plan-asserted), so the scan reads 1 of 5
    partitions. This is the layout every append-only event table
    should have at 100 TB (usually date + one coarse dimension)."""
    events = spark.read.parquet(lineage_events_dir(spark, sf_dir))
    return (
        events.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            money_sum(F.col("value")).alias("total_value"),
        )
    )


# ------------------------------------------------------------- Z-order layout

Z_BITS = 8          # bits kept per dimension (256×256 grid)
Z_BUCKET_SHIFT = 12  # z // 2^12 → 16 buckets = top 2 bits of each dim


def _z_terms(x: str, y: str) -> str:
    """Morton interleave as PURE integer arithmetic — ((v // 2^b) % 2)
    placed at 4^b (x) and 2·4^b (y) — so Spark and DuckDB evaluate the
    identical expression with no engine-specific bit operators."""
    terms = []
    for b in range(Z_BITS):
        terms.append(f"(({x} // {2 ** b}) % 2) * {4 ** b}")
        terms.append(f"(({y} // {2 ** b}) % 2) * {2 * 4 ** b}")
    return " + ".join(terms)


_ZORDER_ORACLE = f"""
WITH dims AS (
    SELECT o_custkey % 256 AS x,
           datediff('day', TIMESTAMP '1970-01-01', o_orderdate) % 256 AS y
    FROM orders
),
z AS (
    SELECT x, y, ({_z_terms("x", "y")}) // {2 ** Z_BUCKET_SHIFT} AS zbucket
    FROM dims
)
SELECT zbucket, count(*) AS n_rows,
       min(x) AS x_min, max(x) AS x_max,
       min(y) AS y_min, max(y) AS y_max
FROM z
GROUP BY zbucket
ORDER BY zbucket
"""


@query("q_zorder_layout", oracle=_ZORDER_ORACLE, tags=("storage", "layout", "prune"))
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering census over orders on the two dims a
    real layout would cluster by — customer and order day (both folded
    to 8 bits). Each of the 16 z-buckets is the top-2-bits tile of BOTH
    dims, i.e. a 64×64 tile of the 256×256 grid, so per-bucket min/max
    spans are ≤ 63 in EACH dimension (asserted in tests) — which is
    exactly why z-ordering beats a single-dim sort for multi-dimension
    pruning: a predicate on either dim alone hits at most 4 of the 16
    buckets' min/max ranges, so file-level stats skipping prunes ~75%
    of files for either column, where a lexicographic sort prunes only
    its leading column.

    At 100 TB the same z expression is the `repartitionByRange` +
    within-partition sort key for the write path (the layout twin of
    bucketed_tables above); this query is the checkable census of the
    cluster assignment itself — all-integer arithmetic, hash-exact
    across engines. One shuffle (the groupBy); the z computation is
    codegen'd projection."""
    o = load_table(spark, sf_dir, "orders")
    dims = o.select(
        (F.col("o_custkey") % 256).alias("x"),
        (F.datediff("o_orderdate", F.lit("1970-01-01")) % 256).alias("y"),
    )
    z = dims.select(
        "x", "y", F.expr(f"({_z_terms('x', 'y').replace('//', 'div')}) div {2 ** Z_BUCKET_SHIFT}").alias("zbucket")
    )
    return (
        z.groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("x").alias("x_min"),
            F.max("x").alias("x_max"),
            F.min("y").alias("y_min"),
            F.max("y").alias("y_max"),
        )
        .orderBy("zbucket")
    )


# ----------------------------------------------- dynamic partition pruning

_DPP_TIERS = {"purchase": "gold", "click": "gold", "view": "bronze",
              "signup": "bronze", "refund": "bronze"}


def tier_dim_dir(spark: SparkSession, sf_dir: str) -> str:
    """Tiny (event_type, tier) dim as a parquet table — DPP needs a
    runtime build side; an in-memory LocalRelation can constant-fold
    away the very subquery under test. Built once per application."""

    def build(out: Path) -> None:
        spark.createDataFrame(
            sorted(_DPP_TIERS.items()), ["event_type", "tier"]
        ).coalesce(1).write.parquet(str(out))

    return build_once(spark, "tier_dim", build)


_DPP_ORACLE = f"""
WITH dim(event_type, tier) AS (VALUES {", ".join(f"('{k}', '{v}')" for k, v in sorted(_DPP_TIERS.items()))})
SELECT e.event_type,
       count(*) AS n,
       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
FROM events e JOIN dim USING (event_type)
WHERE dim.tier = 'gold'
GROUP BY e.event_type
"""


@query("q_dynamic_partition_pruning", oracle=_DPP_ORACLE, tags=("scan", "storage", "prune", "join"))
def q_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact side is partitioned by
    event_type, the dim filter (tier = 'gold') is NOT expressible as a
    static partition predicate — Catalyst injects the broadcast's key
    set as a runtime partition filter (dynamicpruningexpression in the
    plan, asserted in tests/test_plans.py), so the fact scan reads only
    the gold partitions' directories. THE mechanism that makes
    fact-to-dim star joins read 2 of 10,000 date partitions at 100 TB."""
    events = spark.read.parquet(lineage_events_dir(spark, sf_dir))
    dim = spark.read.parquet(tier_dim_dir(spark, sf_dir))
    return (
        events.join(F.broadcast(dim.filter(F.col("tier") == "gold")), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            money_sum(F.col("value")).alias("total_value"),
        )
    )


# ------------------------------------------------------- bucket pruning

LOOKUP_CUSTKEY = 42


_BUCKET_PRUNE_ORACLE = f"""
SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
FROM orders WHERE o_custkey = {LOOKUP_CUSTKEY}
"""


@query("q_bucket_pruned_lookup", oracle=_BUCKET_PRUNE_ORACLE, tags=("scan", "storage", "bucketing", "prune"))
def q_bucket_pruned_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup on the bucket key of the bucketed orders table:
    Spark prunes the scan to the ONE bucket that can hold the key
    (SelectedBucketsCount: 1 out of {N_BUCKETS}, plan-asserted) — the
    needle-in-100-TB access path that bucketing buys beyond
    shuffle-free joins: O(data/buckets) read for O(1) keys."""
    # The planner auto-disables bucketed scans it sees no JOIN benefit
    # for ("Bucketed: false (disabled by query planner)"), which also
    # forfeits bucket pruning. The override must hold at PLAN time —
    # which for a driver-built cold session is its own later collect —
    # so instead of mutating the caller's conf (the r06-advice
    # side-effect: one registry query silently changing every later
    # bucketed plan on a user session), scope it to a CHILD session:
    # newSession() shares the SparkContext and catalog (the bucketed
    # table is visible) but has isolated conf, so the returned
    # DataFrame plans bucket-aware while the caller's session is
    # untouched.
    scoped = spark.newSession()
    scoped.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    o_name, _ = bucketed_tables(scoped, sf_dir)
    return (
        scoped.table(o_name)
        .filter(F.col("o_custkey") == LOOKUP_CUSTKEY)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    )


# ------------------------------------------ z-order proof-of-benefit

N_LAYOUT_FILES = 16


def _order_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders reduced to the two clustering dims (same fold as
    q_zorder_layout) plus a payload column — the table both benefit
    layouts are built from."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        (F.col("o_custkey") % 256).alias("x"),
        (F.datediff("o_orderdate", F.lit("1970-01-01")) % 256).alias("y"),
        "o_orderkey",
    )


def zorder_benefit_dirs(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """(linear_dir, zorder_dir): the SAME rows written twice into
    N_LAYOUT_FILES parquet files — linear clustered by x only (a
    lexicographic sort's layout), z-ordered clustered by the Morton
    bucket so each file's min/max stats are tile-bounded in BOTH dims.
    Built once per (application, sf_dir)."""

    def build(out: Path) -> None:
        dims = _order_dims(spark, sf_dir)
        (
            dims.repartitionByRange(N_LAYOUT_FILES, "x")
            .sortWithinPartitions("x")
            .write.parquet(str(out / "linear"))
        )
        zb = F.expr(
            f"({_z_terms('x', 'y').replace('//', 'div')}) div {2 ** Z_BUCKET_SHIFT}"
        )
        (
            dims.withColumn("zbucket", zb)
            .repartitionByRange(N_LAYOUT_FILES, "zbucket")
            .sortWithinPartitions("zbucket")
            .drop("zbucket")
            .write.parquet(str(out / "zorder"))
        )

    out = build_once(spark, f"zbenefit_{sf_tag(sf_dir)}", build)
    return f"{out}/linear", f"{out}/zorder"


# One 64-wide band on y — the NON-leading dim of the linear layout, so
# the linear files (tight x, full-range y) can skip nothing while the
# z-ordered files (tile-bounded in both dims) skip ~3/4 of row groups
# on their parquet min/max stats. Matches a y-tile boundary exactly.
ZPRUNE_Y_LO, ZPRUNE_Y_HI = 64, 127

_ZPRUNE_ORACLE = f"""
WITH dims AS (
    SELECT o_custkey % 256 AS x,
           datediff('day', TIMESTAMP '1970-01-01', o_orderdate) % 256 AS y,
           o_orderkey
    FROM orders
)
SELECT x // 64 AS x_tile,
       count(*) AS n_rows,
       min(y) AS y_min,
       max(y) AS y_max,
       CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
FROM dims
WHERE y BETWEEN {ZPRUNE_Y_LO} AND {ZPRUNE_Y_HI}
GROUP BY 1
"""


@query("q_zorder_pruned_scan", oracle=_ZPRUNE_ORACLE, tags=("scan", "storage", "prune", "layout"))
def q_zorder_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range predicate on the z-ordered layout's NON-leading dimension:
    correctness here is the oracle's rollup; the BENEFIT — the same
    scan reading ~4× fewer rows out of parquet than the linear layout,
    via row-group min/max skipping — is measured from executed-plan
    scan metrics in tests/test_plans.py (the q_partition_pruned_scan
    analogue for stats-based data skipping). At 100 TB this is why the
    write path z-orders at all: predicates on ANY clustered dim prune,
    not just the sort's leading column."""
    _, zdir = zorder_benefit_dirs(spark, sf_dir)
    scan = spark.read.parquet(zdir)
    return (
        scan.filter(F.col("y").between(ZPRUNE_Y_LO, ZPRUNE_Y_HI))
        .groupBy(F.expr("x div 64").alias("x_tile"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("y").alias("y_min"),
            F.max("y").alias("y_max"),
            F.sum("o_orderkey").alias("sum_keys"),
        )
    )


# ------------------------------------------------------- compaction

COMPACT_SMALL_FILES = 40
COMPACT_TARGET_FILES = 4


@query(
    "q_compaction",
    oracle=f"""
SELECT {COMPACT_SMALL_FILES} AS n_files_before,
       {COMPACT_TARGET_FILES} AS n_files_after,
       count(*) AS n_rows,
       TRUE AS rows_conserved,
       TRUE AS files_reduced
FROM orders
""",
    tags=("storage", "maintenance"),
)
def q_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction — the table-maintenance pass every
    append-heavy 100 TB dataset needs (streaming sinks and frequent
    batch appends produce K-byte files whose per-file open/footer cost
    eventually dominates scans): rewrite a {COMPACT_SMALL_FILES}-file
    layout into {COMPACT_TARGET_FILES} right-sized files and prove
    row-exact conservation. File counts are DETERMINISTIC (explicit
    repartition on write, AQE does not coalesce user-specified
    numbers), so the oracle pins them alongside the table's row count;
    `rows_conserved` compares pre/post counts computed from the actual
    layouts. In production the file-count knob is target-size-driven
    (total_bytes / 128 MB); the rewrite shape — one round-robin
    shuffle, no key semantics — is the same."""
    import shutil
    import tempfile

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    work = Path(tempfile.mkdtemp(dir=work_dir(spark)))
    try:
        small = work / "small"
        o.repartition(COMPACT_SMALL_FILES).write.parquet(str(small))
        before = spark.read.parquet(str(small))
        n_files_before = len(list(small.glob("part-*.parquet")))
        compacted = work / "compacted"
        before.repartition(COMPACT_TARGET_FILES).write.parquet(str(compacted))
        after = spark.read.parquet(str(compacted))
        n_files_after = len(list(compacted.glob("part-*.parquet")))
        n_before = before.count()
        n_after = after.count()
        row = [
            (
                n_files_before,
                n_files_after,
                n_after,
                n_before == n_after,
                n_files_after < n_files_before,
            )
        ]
        return spark.createDataFrame(
            row,
            "n_files_before int, n_files_after int, n_rows bigint, "
            "rows_conserved boolean, files_reduced boolean",
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


# ----------------------------------- z-order-preserving compaction

ZCOMPACT_SMALL_FILES = 40
ZCOMPACT_TARGET_FILES = 4


def _with_z(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "z", F.expr(_z_terms("x", "y").replace("//", "div"))
    )


def zcompaction_dirs(spark: SparkSession, sf_dir: str) -> tuple[str, str, str]:
    """(fragmented, zcompacted, rrcompacted): the same z-clustered rows
    in three layouts —

    * fragmented: {ZCOMPACT_SMALL_FILES} small files, z-clustered
      (what a streaming sink appending into a z-ordered table leaves
      behind);
    * zcompacted: {ZCOMPACT_TARGET_FILES} files via repartitionByRange
      on the Morton value + sortWithinPartitions — compaction WITHIN
      the z-order, so per-file min/max stats stay tile-bounded;
    * rrcompacted: the same {ZCOMPACT_TARGET_FILES} files via plain
      round-robin repartition (q_compaction's shape) — which DESTROYS
      clustering; kept as the measured control in tests/test_plans.py.

    Built once per (application, sf_dir)."""

    def build(out: Path) -> None:
        dims = _with_z(_order_dims(spark, sf_dir))
        (
            dims.repartitionByRange(ZCOMPACT_SMALL_FILES, "z")
            .sortWithinPartitions("z")
            .drop("z")
            .write.parquet(str(out / "fragmented"))
        )
        frag = _with_z(spark.read.parquet(str(out / "fragmented")))
        (
            frag.repartitionByRange(ZCOMPACT_TARGET_FILES, "z")
            .sortWithinPartitions("z")
            .drop("z")
            .write.parquet(str(out / "zcompacted"))
        )
        (
            frag.drop("z")
            .repartition(ZCOMPACT_TARGET_FILES)
            .write.parquet(str(out / "rrcompacted"))
        )

    out = build_once(spark, f"zcompact_{sf_tag(sf_dir)}", build)
    return (f"{out}/fragmented", f"{out}/zcompacted", f"{out}/rrcompacted")


_ZCOMPACT_ORACLE = f"""
SELECT {ZCOMPACT_SMALL_FILES} AS n_files_before,
       {ZCOMPACT_TARGET_FILES} AS n_files_after,
       count(*) AS n_rows,
       TRUE AS rows_conserved,
       TRUE AS clustering_preserved
FROM orders
"""


@query(
    "q_compaction_zorder",
    oracle=_ZCOMPACT_ORACLE,
    tags=("storage", "maintenance", "layout", "prune"),
)
def q_compaction_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-preserving compaction — the real table-maintenance
    shape for a z-ordered 100 TB table: q_compaction's round-robin
    rewrite fixes the small-files problem but scatters the Morton
    clustering, so every post-compaction scan loses its stats-based
    skipping. This variant compacts WITHIN the z-order
    (repartitionByRange on the Morton value + sortWithinPartitions),
    so the {ZCOMPACT_TARGET_FILES} output files carry DISJOINT z
    ranges and their per-column min/max stats stay tile-bounded.

    Hash-checked invariants: exact file counts (range partitioning
    with explicit numPartitions is deterministic), row conservation,
    and `clustering_preserved` — recompute z per row (a pure function
    of x,y), roll up per-file [min_z, max_z] via input_file_name(),
    and require consecutive file ranges to be non-overlapping (the
    per-file collect is bounded by the file count, not the data). The
    measured benefit — the y-band scan still prunes like
    q_zorder_pruned_scan while the round-robin control reads
    everything — is asserted from executed-plan scan metrics in
    tests/test_plans.py."""
    frag_dir, zdir, _ = zcompaction_dirs(spark, sf_dir)
    frag = spark.read.parquet(frag_dir)
    comp = spark.read.parquet(zdir)
    n_files_before = len(list(Path(frag_dir).glob("part-*.parquet")))
    n_files_after = len(list(Path(zdir).glob("part-*.parquet")))
    n_before, n_after = frag.count(), comp.count()
    per_file = (
        _with_z(comp)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min("z").alias("lo"), F.max("z").alias("hi"))
        .orderBy("lo")
        .collect()
    )
    disjoint = all(
        prev["hi"] <= cur["lo"] for prev, cur in zip(per_file, per_file[1:])
    )
    return spark.createDataFrame(
        [
            (
                n_files_before,
                n_files_after,
                n_after,
                n_before == n_after,
                len(per_file) == n_files_after and disjoint,
            )
        ],
        "n_files_before int, n_files_after int, n_rows bigint, "
        "rows_conserved boolean, clustering_preserved boolean",
    )


# --------------------------------------------- aggregate pushdown scan

_AGG_PUSH_ORACLE = """
SELECT min(o_orderkey) AS min_key,
       max(o_orderkey) AS max_key,
       count(*) AS n_rows
FROM orders
"""


@query("q_agg_pushdown_scan", oracle=_AGG_PUSH_ORACLE, tags=("scan", "storage", "agg"))
def q_agg_pushdown_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIN/MAX/COUNT answered from parquet FOOTER STATISTICS, zero data
    pages read: on the DataSource V2 path with
    `spark.sql.parquet.aggregatePushdown`, the whole aggregation is
    pushed into the scan (`PushedAggregation: [MIN(..), MAX(..),
    COUNT(*)]`, plan-asserted in tests/test_plans.py) — at 100 TB the
    difference between touching every row group's pages and touching
    only their metadata. Scoped to a child session (the V2-source and
    pushdown confs must hold at plan time; the caller's conf is never
    mutated — same pattern as q_bucket_pruned_lookup). Restriction
    worth knowing: footer-stats pushdown only fires for whole-table
    aggregates with no row filter — a WHERE clause silently reverts to
    a normal scan, which is why the plan test exists."""
    scoped = spark.newSession()
    scoped.conf.set("spark.sql.sources.useV1SourceList", "")
    scoped.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    o = load_table(scoped, sf_dir, "orders")
    return o.agg(
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# ----------------------------------------- schema-evolution reads

def evolved_epoch_dirs(spark: SparkSession, sf_dir: str) -> str:
    """One table written at two EPOCHS with different writer schemas —
    the lifecycle every long-lived 100 TB table goes through:

    - ``epoch=1`` (the old writer): ``(o_orderkey INT32,
      o_totalprice DOUBLE)`` — even order keys.
    - ``epoch=2`` (after evolution): ``o_orderkey`` widened to INT64
      and a NEW column ``o_orderpriority STRING`` — odd order keys.

    Built once per (application, sf_dir)."""

    def build(out: Path) -> None:
        orders = load_table(spark, sf_dir, "orders")
        (
            orders.filter("o_orderkey % 2 = 0")
            .selectExpr("cast(o_orderkey AS int) AS o_orderkey", "o_totalprice")
            .write.parquet(str(out / "epoch=1"))
        )
        (
            orders.filter("o_orderkey % 2 = 1")
            .selectExpr(
                "cast(o_orderkey AS bigint) AS o_orderkey",
                "o_totalprice",
                "o_orderpriority",
            )
            .write.parquet(str(out / "epoch=2"))
        )

    return build_once(spark, f"evolved_{sf_tag(sf_dir)}", build)


_EVOLVED_ORACLE = """
SELECT CAST(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 2 END AS INT) AS epoch,
       count(*) AS n_rows,
       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
       CAST(count(CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END)
            AS BIGINT) AS n_prio,
       CASE WHEN o_orderkey % 2 = 0 THEN 'int' ELSE 'bigint' END AS file_key_type
FROM orders
GROUP BY 1, 5
"""


@query("q_schema_evolution_read", oracle=_EVOLVED_ORACLE, tags=("scan", "storage", "schema"))
def q_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read a table across a WRITER-SCHEMA EVOLUTION — files written
    before and after a column was added and a key was widened
    INT32→INT64 — through ONE declared unified schema: Spark 4's
    parquet readers upcast the old files' INT32 pages to BIGINT and
    null-fill the missing column, so the union is a single well-typed
    relation. This is the scale path on purpose: `mergeSchema=true`
    (a) must list and read EVERY file's footer before planning — an
    anti-pattern over millions of files — and (b) refuses exactly this
    evolution anyway (CANNOT_MERGE_SCHEMAS on INT vs BIGINT; asserted
    in tests/test_plans.py, which also proves mergeSchema handles the
    added-column-only half). A production table carries
    its CURRENT schema in a catalog; the reader's job is to serve old
    epochs under it — which is what the per-epoch sums prove happened
    (epoch-1's sum_key is only correct if the INT32 pages really were
    read and widened).

    The epoch partition column doubles as the evolution boundary, so
    the per-epoch aggregate pins: row conservation per epoch, exact
    key sums THROUGH the widening, the added column null for every
    pre-evolution row (n_prio counts non-nulls), and each epoch's
    PHYSICAL key type read from its own parquet footers (schema
    inference over the epoch subdirectory, no declared schema) — so
    the oracle's 'int'-for-epoch-1 row proves the old files really
    are INT32 on disk and the unified sum really crossed a widening,
    not just that the declared schema says bigint."""
    d = evolved_epoch_dirs(spark, sf_dir)
    unified = (
        spark.read.schema(
            "o_orderkey bigint, o_totalprice double, "
            "o_orderpriority string, epoch int"
        ).parquet(d)
    )
    file_key_type = {
        e: dict(spark.read.parquet(f"{d}/epoch={e}").dtypes)["o_orderkey"]
        for e in (1, 2)
    }
    return (
        unified.groupBy("epoch")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").alias("sum_key"),
            F.count("o_orderpriority").alias("n_prio"),
        )
        .withColumn(
            "file_key_type",
            F.when(F.col("epoch") == 1, F.lit(file_key_type[1])).otherwise(
                F.lit(file_key_type[2])
            ),
        )
    )


# ------------------------------------------ dynamic partition overwrite

# dpo_events_dir's path -> {"before": snap, "after": snap} file-level
# audit of the overwrite, consumed by tests/test_plans.py to pin the
# untouched-partition immutability contract.
_DPO_AUDIT: dict[str, dict] = {}

DPO_TOUCHED = "purchase"  # the one partition the daily reload rewrites


def _dpo_snapshot(d: str) -> dict[str, list[tuple[str, int, int]]]:
    """(name, size, mtime_ns) of every data file, per partition dir —
    byte-identity evidence (a rewrite that reproduced identical
    CONTENT would still change name/mtime)."""
    return {
        p.name: sorted(
            (f.name, f.stat().st_size, f.stat().st_mtime_ns)
            for f in p.glob("*.parquet")
        )
        for p in Path(d).glob("event_type=*")
    }


def dpo_events_dir(spark: SparkSession, sf_dir: str) -> str:
    """The idempotent daily-reload writer path every 100 TB ingest
    runs: events laid out partitioned by event_type, then EXACTLY ONE
    partition re-derived from source and swapped in place via
    ``spark.sql.sources.partitionOverwriteMode=dynamic`` (INSERT
    OVERWRITE of only the partitions present in the incoming data).
    Static mode would truncate the whole table first — at 100 TB
    that's the difference between rewriting one day's directory and
    rewriting the table. The reload itself is a quality fix: purchase
    rows restated from source with sub-$1 noise rows dropped, so the
    overwrite genuinely changes data.

    Built (and mutated) once per (application, sf_dir). Both file
    snapshots (before/after the overwrite) land in ``_DPO_AUDIT`` for
    the immutability assertion in tests/test_plans.py.

    Reference anchor: the reference's per-run whole-artifact overwrite
    handoff (``main.py:13-25``, ``utils/base.py:4-8``) — the engine
    upgrade is overwriting only the touched partition."""

    def build(path: Path) -> None:
        out = str(path)
        events = load_table(spark, sf_dir, "events")
        events.write.partitionBy("event_type").parquet(out)
        before = _dpo_snapshot(out)
        restated = events.filter(
            (F.col("event_type") == DPO_TOUCHED) & (F.col("value") >= 1.0)
        )
        # mode("overwrite") + dynamic: only partitions present in
        # `restated` (just event_type=purchase) are replaced; the other
        # four directories are never listed, touched, or rewritten
        # (asserted byte-identical in tests/test_plans.py)
        (
            restated.write.partitionBy("event_type")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .parquet(out)
        )
        _DPO_AUDIT[out] = {"before": before, "after": _dpo_snapshot(out)}

    return build_once(spark, f"dpo_events_{sf_tag(sf_dir)}", build)


# The oracle splices the post-reload relation relationally:
# untouched partitions as-is UNION the touched partition restated.
_DPO_ORACLE = f"""
WITH spliced AS (
  SELECT event_type, value FROM events WHERE event_type <> 'purchase'
  UNION ALL
  SELECT event_type, value FROM events
  WHERE event_type = 'purchase' AND value >= 1.0
)
SELECT event_type,
       count(*) AS n,
       {money_sum_sql("value")} AS total_value
FROM spliced
GROUP BY 1
"""


@query(
    "q_partition_overwrite_dynamic",
    oracle=_DPO_ORACLE,
    tags=("sink", "storage", "partition"),
)
def q_partition_overwrite_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition rollup of the table AFTER a dynamic-partition-
    overwrite reload of exactly one partition (see
    :func:`dpo_events_dir`). The hash pins the splice semantics: the
    four untouched partitions' rows unchanged (any truncate-then-
    reload leakage of static mode would zero them), the touched
    partition exactly equal to its restatement (missing or duplicated
    reload rows move n/total_value), and nothing else appeared. The
    byte-level half of the contract — untouched partitions' FILES are
    the identical bytes, purchase's are all new — is asserted from
    ``_DPO_AUDIT`` in tests/test_plans.py."""
    reloaded = spark.read.parquet(dpo_events_dir(spark, sf_dir))
    return reloaded.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        money_sum(F.col("value")).alias("total_value"),
    )


# ----------------------------------------- parquet bloom filter scan

# Unique-key point lookups: every orderkey exists at sf0.001/0.01/0.1
# (dense synthetic keys; verified against all three parquet files).
BLOOM_LOOKUP_KEYS = (42, 999, 1317)
N_BLOOM_FILES = 16
# Small row groups so even the test SFs produce enough groups for
# skipping to be observable; production uses the 128 MB default and
# the same physics (matching groups / total groups) applies.
BLOOM_BLOCK_BYTES = 16 * 1024


def bloom_benefit_dirs(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """(plain_dir, bloom_dir): the SAME orders rows written twice,
    hash-SCATTERED on xxhash64(o_orderkey) so every row group's
    o_orderkey min/max spans the whole key range — the layout where
    min/max stats can skip NOTHING (the adversarial case for
    q_zorder_pruned_scan's technique). The bloom variant additionally
    writes a parquet column bloom filter on o_orderkey
    (``parquet.bloom.filter.enabled#o_orderkey``), the probabilistic
    per-row-group membership index that works regardless of layout.
    Built once per (application, sf_dir)."""

    def build(out: Path) -> None:
        scattered = (
            load_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
            .withColumn("scatter", F.xxhash64("o_orderkey"))
            .repartition(N_BLOOM_FILES)
            .sortWithinPartitions("scatter")
            .drop("scatter")
        )
        base = scattered.write.option("parquet.block.size", BLOOM_BLOCK_BYTES).option(
            "parquet.page.size", BLOOM_BLOCK_BYTES // 4
        )
        base.parquet(str(out / "plain"))
        (
            base.option("parquet.bloom.filter.enabled#o_orderkey", "true")
            # NDV sized for the LARGEST SF the layout is built at;
            # oversizing only costs bloom bytes, never correctness.
            .option("parquet.bloom.filter.expected.ndv#o_orderkey", "200000")
            .parquet(str(out / "bloom"))
        )

    out = build_once(spark, f"bloombenefit_{sf_tag(sf_dir)}", build)
    return f"{out}/plain", f"{out}/bloom"


_BLOOM_ORACLE = f"""
SELECT o_orderkey, o_custkey,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice,
       o_orderdate
FROM orders
WHERE o_orderkey IN {BLOOM_LOOKUP_KEYS!r}
"""


@query(
    "q_parquet_bloom_scan",
    oracle=_BLOOM_ORACLE,
    tags=("scan", "storage", "prune", "layout"),
)
def q_parquet_bloom_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Needle-in-haystack point lookup through a parquet COLUMN BLOOM
    FILTER — the data-skipping lever for high-cardinality keys the
    table is NOT clustered by, where min/max stats are useless (every
    hash-scattered row group spans the full key range). The parquet
    reader consults the per-row-group bloom before decoding: row
    groups whose filter rules out all three keys are never read.
    Measured in tests/test_plans.py at sf0.01: the bloom layout's scan
    emits ~7x fewer rows than the byte-identical plain layout under
    the same IN predicate (eq-single-key is ~30x). At 100 TB this is
    the poor-man's secondary index — O(row groups) bloom probes
    instead of a full column decode for id-lookup/audit queries, at
    the cost of ~1 MB of filter bytes per 128 MB row group.

    Correctness: the returned rows themselves, hash-matched against
    the source table (a dropped or duplicated row group flips the
    hash). Reference anchor: the reference loads its whole JSON
    artifact and filters in pandas (`transform_raw_data.py:27-34`);
    this is the same lookup expressed as an indexed columnar scan."""
    _, bloom_dir = bloom_benefit_dirs(spark, sf_dir)
    scan = spark.read.parquet(bloom_dir)
    return scan.filter(F.col("o_orderkey").isin(*BLOOM_LOOKUP_KEYS))


# ------------------------------------------ file-metadata lineage

_LINEAGE_ORACLE = f"""
SELECT event_type AS lineage_partition,
       count(*) AS n_rows,
       CAST(1 AS BIGINT) AS n_files,
       min(ts) AS first_row_ts,
       {money_sum_sql("value")} AS total_value
FROM events
GROUP BY 1
"""


@query(
    "q_file_metadata_lineage",
    oracle=_LINEAGE_ORACLE,
    tags=("scan", "storage", "audit"),
)
def q_file_metadata_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-FILE lineage audit through the ``_metadata`` hidden struct —
    the zero-cost provenance column every file-source scan carries
    (file_path/file_name/file_size/file_modification_time/row_index),
    the primitive behind incremental processing ("which files arrived
    since the last run"), per-file row-count reconciliation after a
    load, and blaming a corrupt row back to its physical file at
    100 TB. No extra scan or join: the values are materialized by the
    reader per row-batch, only when requested.

    The hash pins three things per partition: the row population
    grouped by the FILE PATH's partition directory (regexp-extracted,
    so a row written to the wrong directory flips the group), exactly
    one physical file per partition (the layout's contract), and the
    ts of the file's FIRST ROW (``row_index = 0``) equal to the
    partition's min(ts) — valid because the writer sorted each file by
    ts, so a broken row_index or a reordered write flips the hash.
    The non-SQL half (file_size equal to the bytes on disk,
    file_modification_time equal to the filesystem mtime) is asserted
    in tests/test_plans.py. Reference anchor: the reference's
    timestamped-artifact handoff tracks provenance in the FILENAME
    (`utils/base.py:4-8`, `collect_raw_data.py:213-218`); this is that
    audit trail as queryable per-row metadata."""
    scan = spark.read.parquet(lineage_events_dir(spark, sf_dir))
    return (
        scan.select("ts", "value", "_metadata")
        .groupBy(
            F.regexp_extract(
                F.col("_metadata.file_path"), "event_type=([^/]+)/", 1
            ).alias("lineage_partition")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct(F.col("_metadata.file_path")).alias("n_files"),
            F.min(
                F.when(F.col("_metadata.row_index") == 0, F.col("ts"))
            ).alias("first_row_ts"),
            money_sum(F.col("value")).alias("total_value"),
        )
    )
