"""PII / identifier redaction — the scrubbing pass a training-data
pipeline runs before text ever reaches a tokenizer. The reference
ships raw scraped ad text straight to CSV (reference
transform_raw_data.py writes ad_creative bodies verbatim); a
production pipeline must scrub emails, phone numbers, IPs, and
account identifiers first. Built entirely from native
``regexp_replace`` / ``regexp_count`` expressions (JVM-side, inside
WholeStageCodegen — no UDF), so at 100 TB it is a pure scan-side map:
no shuffle, no Python, and the patterns are pushed through the same
projection as any other column derivation.

Pattern dialect note: every pattern below sticks to the regex subset
that Java's engine (Spark) and RE2 (DuckDB) interpret identically —
character classes, `\\d`, bounded repetition — no backrefs or
lookarounds, so the oracle replays byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query

# (name, pattern, replacement) — applied in order. Order matters:
# emails are matched before bare account ids so 'a123@x.com' never
# half-redacts.
REDACT_RULES: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    # Two alternatives: 4-group international shapes (CC-AAA-BBB-NNNN)
    # and the 3-group NANP 3-3-4 (212-555-0100) — the most common US
    # written form, which the 4-group-only rule silently missed.
    ("phone", r"\d{2,3}[- .]\d{3}[- .]\d{3,4}[- .]\d{4}|\d{3}[- .]\d{3}[- .]\d{4}", "[PHONE]"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
    ("account_id", r"#\d{6,}", "#[ID]"),
]


def redact_col(text: Column | str) -> Column:
    """Apply every redaction rule in sequence to a text column."""
    col = F.col(text) if isinstance(text, str) else text
    for _, pat, repl in REDACT_RULES:
        col = F.regexp_replace(col, pat, repl)
    return col


def redaction_counts(text: Column | str) -> list[Column]:
    """One `<rule>_hits` count column per rule (pre-redaction matches)."""
    col = F.col(text) if isinstance(text, str) else text
    return [F.regexp_count(col, F.lit(pat)).alias(f"{name}_hits") for name, pat, _ in REDACT_RULES]


# The driver query runs the account-id rule against customer names
# (TPC-H names embed a customer number — exactly the "internal
# identifier in free text" case) and reports the per-segment audit:
# rows touched, ids masked, and a redacted sample the oracle replays.
_REDACT_ORACLE = r"""
SELECT c_mktsegment,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN regexp_matches(c_name, '#\d{6,}') THEN 1 ELSE 0 END)
            AS BIGINT) AS rows_redacted,
       min(regexp_replace(c_name, '#\d{6,}', '#[ID]', 'g')) AS sample_redacted
FROM customer
GROUP BY c_mktsegment
"""


@query("q_pii_redact", oracle=_REDACT_ORACLE, tags=("llm", "text", "quality"))
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identifier-redaction audit over customer names: mask `#NNNNNN`
    account ids and report per-segment how many rows carried one plus
    a deterministic redacted sample (min over the redacted strings).
    The full rule set (email/phone/IP/id) is exercised on a fixture
    corpus in tests/test_redact_splits.py; this query proves the native
    regexp pipeline end-to-end against real table data."""
    cust = load_table(spark, sf_dir, "customer")
    id_pat = REDACT_RULES[3][1]
    return cust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(F.regexp_count(F.col("c_name"), F.lit(id_pat)) > 0, 1).otherwise(0)
        ).alias("rows_redacted"),
        F.min(F.regexp_replace(F.col("c_name"), id_pat, "#[ID]")).alias("sample_redacted"),
    )
