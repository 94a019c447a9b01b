"""The SQL front end: the same engine surface through ``spark.sql``.

The reference has no query language at all (SURVEY.md §3 — a "query"
is a hard-coded imperative stage); everything else in this repo drives
Catalyst through the DataFrame API. These entries prove the identical
plans are reachable through ANSI SQL text over registered temp views —
which is how analysts would actually use the engine — and they land on
the same physical operators (codegen'd hash aggregate, broadcast join,
TakeOrderedAndProject) because both front ends meet in the same
logical-plan layer.

The oracle strings are near-verbatim the submitted SQL: the point of
the test is front-end fidelity, not translation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..catalog import register_views
from ..registry import query

_SQL_REVENUE_BY_NATION = """
SELECT n_name,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2)
            AS DOUBLE) AS revenue,
       count(*) AS n_lines
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderstatus = 'F'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


@query("q_sql_revenue_by_nation", oracle=_SQL_REVENUE_BY_NATION, tags=("sql", "join", "agg"))
def q_sql_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-SQL multiway join + aggregate over temp views; the oracle
    is the same text run by DuckDB. nation auto-broadcasts (under the
    10 MB threshold) without hints — the SQL front end inherits every
    Catalyst physical strategy."""
    register_views(spark, sf_dir, "lineitem", "orders", "customer", "nation")
    return spark.sql(_SQL_REVENUE_BY_NATION)


_SQL_TOP_CUSTOMER_PER_SEGMENT = """
SELECT c_mktsegment, c_custkey, total_spend
FROM (
  SELECT c_mktsegment, c_custkey,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_spend,
         row_number() OVER (
             PARTITION BY c_mktsegment
             ORDER BY sum(CAST(o_totalprice AS DECIMAL(18,6))) DESC, c_custkey
         ) AS rn
  FROM customer JOIN orders ON c_custkey = o_custkey
  GROUP BY c_mktsegment, c_custkey
) ranked
WHERE rn <= 3
ORDER BY c_mktsegment, total_spend DESC, c_custkey
"""


@query(
    "q_sql_top_customer_per_segment",
    oracle=_SQL_TOP_CUSTOMER_PER_SEGMENT,
    tags=("sql", "window", "topk"),
)
def q_sql_top_customer_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL window-over-aggregate (top-3 spenders per segment) with a
    c_custkey tie-break so row_number is total-ordered — the same
    determinism rule every DataFrame-side window query here follows."""
    register_views(spark, sf_dir, "customer", "orders")
    return spark.sql(_SQL_TOP_CUSTOMER_PER_SEGMENT)


_SQL_CTE_YOY = """
WITH yearly AS (
  SELECT year(o_orderdate) AS order_year,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
  FROM orders
  GROUP BY year(o_orderdate)
)
SELECT order_year,
       revenue,
       round(revenue - lag(revenue) OVER (ORDER BY order_year), 2) AS yoy_delta
FROM yearly
ORDER BY order_year
"""


@query("q_sql_cte_yoy", oracle=_SQL_CTE_YOY, tags=("sql", "window", "agg"))
def q_sql_cte_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTE + lag window (year-over-year revenue delta) in pure SQL.
    The single-partition window is fine HERE because `yearly` is
    year-cardinality (≤ 10 rows) — the same pattern over a fact table
    would need a partition key."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(_SQL_CTE_YOY)


_SQL_LATERAL_LATEST = """
SELECT c_custkey, c_mktsegment, o.o_orderkey AS latest_orderkey,
       o.o_orderdate AS latest_orderdate, round(o.o_totalprice, 2) AS latest_totalprice
FROM customer,
LATERAL (
  SELECT o_orderkey, o_orderdate, o_totalprice
  FROM orders
  WHERE o_custkey = c_custkey
  ORDER BY o_orderdate DESC, o_orderkey DESC
  LIMIT 1
) o
ORDER BY c_custkey
"""


@query("q_sql_lateral_latest_order", oracle=_SQL_LATERAL_LATEST, tags=("sql", "lateral", "topk"))
def q_sql_lateral_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery (latest order per customer) — the
    per-row-subquery front-end shape. Catalyst decorrelates it to a
    window/aggregate join, NOT an O(customers × orders) nested loop;
    (o_orderdate, o_orderkey) DESC makes the pick total-ordered so both
    engines choose the same row."""
    register_views(spark, sf_dir, "customer", "orders")
    return spark.sql(_SQL_LATERAL_LATEST)


_PIPE_ORACLE = """
SELECT o_orderpriority,
       count(*) AS n,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
FROM orders
WHERE o_orderstatus = 'O'
GROUP BY o_orderpriority
HAVING count(*) > 10
"""


@query("q_sql_pipe_syntax", oracle=_PIPE_ORACLE, tags=("sql", "agg"))
def q_sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same filter→aggregate→having chain through Spark 4's SQL
    PIPE syntax (`FROM t |> WHERE |> AGGREGATE |> WHERE`) — operators
    compose top-to-bottom in execution order instead of SQL's
    inside-out clause nesting. Must hit identical physical plans and
    identical results as the ANSI form: pipe syntax is sugar over the
    same logical plan, which the shared oracle proves."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(
        """
        FROM orders
        |> WHERE o_orderstatus = 'O'
        |> AGGREGATE COUNT(*) AS n,
                     CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
                         AS revenue
           GROUP BY o_orderpriority
        |> WHERE n > 10
        """
    )


# Ancestor chains over a derived binary-tree hierarchy on customer
# keys (parent(k) = k div 2, root = 1): synthetic but deterministic —
# the org-chart/BOM/graph-reachability RECURSION SHAPE with pure
# integer arithmetic both engines evaluate identically. Rollup by
# chain depth keeps the output small while every recursive row feeds
# a count/sum, so a lost or duplicated iteration shifts the hash.
_RECURSIVE_ORACLE = """
WITH RECURSIVE anc(c_custkey, node, depth) AS (
    SELECT c_custkey, c_custkey, 0 FROM customer
    UNION ALL
    SELECT c_custkey, node // 2, depth + 1 FROM anc WHERE node > 1
)
SELECT depth,
       count(*) AS n_rows,
       count(DISTINCT node) AS n_distinct_nodes,
       CAST(sum(node) AS BIGINT) AS sum_nodes,
       CAST(sum(CASE WHEN node = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_at_root
FROM anc
GROUP BY depth
"""

_SQL_RECURSIVE_SPARK = """
WITH RECURSIVE anc(c_custkey, node, depth) AS (
    SELECT c_custkey, c_custkey, 0 FROM customer
    UNION ALL
    SELECT c_custkey, node div 2, depth + 1 FROM anc WHERE node > 1
)
SELECT depth,
       count(*) AS n_rows,
       count(DISTINCT node) AS n_distinct_nodes,
       CAST(sum(node) AS BIGINT) AS sum_nodes,
       CAST(sum(CASE WHEN node = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_at_root
FROM anc
GROUP BY depth
"""


@query("q_sql_recursive_cte", oracle=_RECURSIVE_ORACLE, tags=("sql", "iterative"))
def q_sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE (Spark 4): walk every customer's ancestor chain
    up the derived parent(k) = k div 2 binary tree to the root and
    roll the chains up by depth — the third iterative-algorithm shape
    in the repo, this time expressed IN SQL and executed by the
    engine's own recursion operator (UnionLoop) rather than a
    hand-unrolled driver loop (PageRank) or a min-label fixpoint
    (connected components). Each iteration is one self-referencing
    step whose frontier shrinks as chains hit the root; at scale this
    is the BOM-explosion / org-rollup / graph-reachability workhorse,
    and Spark's implementation keeps every step a distributed plan
    (the anchor's partitioning carries through the loop). Integer div
    is the only arithmetic, so DuckDB's WITH RECURSIVE replays the
    recursion bit-for-bit."""
    register_views(spark, sf_dir, "customer")
    return spark.sql(_SQL_RECURSIVE_SPARK)


# ------------------------------------------------ Spark 4 collations

_COLLATION_ORACLE = """
WITH mixed AS (
    SELECT CASE WHEN doc_id % 2 = 0 THEN upper(lang) ELSE lang END AS lang_mixed,
           n_chars
    FROM documents
)
SELECT lower(lang_mixed) AS lang_ci,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM mixed
GROUP BY lower(lang_mixed)
"""


@query("q_sql_collation", oracle=_COLLATION_ORACLE, tags=("sql", "text", "agg"))
def q_sql_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware grouping (Spark 4 `COLLATE UTF8_LCASE`): a
    mixed-case language column (every even doc upper-cased) groups
    case-INSENSITIVELY under the collated key — 'EN' and 'en' are ONE
    group to the hash aggregate itself, no lower() normalization pass
    in the grouping. The oracle replays with explicit lower() (DuckDB
    has no UTF8_LCASE), which is exactly the equivalence collations
    promise: collation at the type level = normalization at the
    expression level, minus the rewrite. Output emits lower(key)
    because the group's representative variant is engine-chosen.
    At scale collation rides the same hash shuffle as any group-by —
    the collation key is computed scan-side."""
    register_views(spark, sf_dir, "documents")
    return spark.sql(
        """
        WITH mixed AS (
            SELECT CASE WHEN doc_id % 2 = 0 THEN upper(lang) ELSE lang END
                       COLLATE UTF8_LCASE AS lang_mixed,
                   n_chars
            FROM documents
        )
        SELECT lower(lang_mixed) AS lang_ci,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM mixed
        GROUP BY lang_mixed
        """
    )


# ------------------------------------------------ Spark 4 SQL scripting

_SCRIPTING_ORACLE = """
SELECT o_orderpriority,
       count(*) AS n,
       CAST(sum(CASE WHEN o_totalprice > (SELECT max(o_totalprice) / 2 FROM orders)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_above_half_max
FROM orders
GROUP BY o_orderpriority
"""


@query("q_sql_scripting", oracle=_SCRIPTING_ORACLE, tags=("sql", "scripting"))
def q_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4 BEGIN…END): DECLARE a session variable,
    SET it from a scalar query, branch on it with IF/ELSE, and use it
    in the final statement — procedural control flow entirely inside
    the SQL front end (the migration path for warehouse stored
    procedures). The script's last statement is the result; the oracle
    replays the data flow with a scalar subquery, proving the variable
    plumbing changes nothing about the answer. Each statement is still
    a full Catalyst-planned distributed query — scripting sequences
    plans, it does not row-loop."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(
        """
        BEGIN
          DECLARE half_max DOUBLE DEFAULT 0;
          SET half_max = (SELECT max(o_totalprice) / 2 FROM orders);
          IF half_max IS NULL THEN
            SET half_max = 0;
          END IF;
          SELECT o_orderpriority,
                 count(*) AS n,
                 CAST(sum(CASE WHEN o_totalprice > half_max THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_above_half_max
          FROM orders
          GROUP BY o_orderpriority;
        END
        """
    )


# ------------------------------------------ Spark 4 SQL UDFs (CREATE FUNCTION)

_SQL_UDF_ORACLE = """
SELECT o_orderpriority,
       count(*) AS n,
       CAST(sum(CAST(floor(o_totalprice * 0.07 * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS margin_cents
FROM orders
WHERE o_orderstatus = 'O'
GROUP BY o_orderpriority
"""


@query("q_sql_udf", oracle=_SQL_UDF_ORACLE, tags=("sql", "udf"))
def q_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined functions (Spark 4 `CREATE FUNCTION ... RETURN`):
    a scalar UDF (margin in integer cents — floor arithmetic, so both
    engines compute the identical BIGINT) and a TABLE function (the
    open-orders view as a TVF) composed in one query. SQL UDFs are
    INLINED into the plan at analysis time — unlike Python UDFs they
    stay inside WholeStageCodegen with zero serialization boundary,
    which is why they're the right tool for shareable business logic
    at 100 TB; the oracle replays the expanded expressions directly."""
    register_views(spark, sf_dir, "orders")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION margin_cents(p DOUBLE)
        RETURNS BIGINT RETURN CAST(floor(p * 0.07 * 100 + 0.5) AS BIGINT)
        """
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION open_orders()
        RETURNS TABLE (o_orderpriority STRING, o_totalprice DOUBLE)
        RETURN SELECT o_orderpriority, o_totalprice FROM orders
               WHERE o_orderstatus = 'O'
        """
    )
    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n,
               CAST(sum(margin_cents(o_totalprice)) AS BIGINT) AS margin_cents
        FROM open_orders()
        GROUP BY o_orderpriority
        """
    )


# ------------------------------------------- parameterized spark.sql

_PARAM_STATUS = "F"
_PARAM_MIN_PRICE = 150000.0

_SQL_PARAM_ORACLE = f"""
SELECT o_orderpriority,
       count(*) AS n,
       CAST(min(o_orderkey) AS BIGINT) AS first_key
FROM orders
WHERE o_orderstatus = '{_PARAM_STATUS}' AND o_totalprice > {_PARAM_MIN_PRICE}
GROUP BY o_orderpriority
"""


@query("q_sql_parameterized", oracle=_SQL_PARAM_ORACLE, tags=("sql",))
def q_sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (`spark.sql(query, args={...})`): named
    parameter markers bound server-side — the injection-safe way to
    template the same plan over changing literals (and the bound
    values reach Catalyst as real literals, so predicate pushdown and
    partition pruning still see them, unlike string concatenation
    which risks both injection and plan-cache misses). The oracle
    inlines the same constants."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n,
               CAST(min(o_orderkey) AS BIGINT) AS first_key
        FROM orders
        WHERE o_orderstatus = :status AND o_totalprice > :min_price
        GROUP BY o_orderpriority
        """,
        args={"status": _PARAM_STATUS, "min_price": _PARAM_MIN_PRICE},
    )
