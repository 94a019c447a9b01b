"""Plan-audit helpers: assert the physical plan is the one you'd want
at 100 TB (filters pushed to the scan, dims broadcast, top-k via
TakeOrderedAndProject, scans pruned to the referenced columns).

Used by test_plans.py so a regression that silently drops a
pushdown or flips a broadcast join to SMJ fails CI, not the cluster.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def pushed_filters(df: DataFrame) -> list[str]:
    return re.findall(r"PushedFilters: \[([^\]]*)\]", formatted_plan(df))


def read_schemas(df: DataFrame) -> list[str]:
    return re.findall(r"ReadSchema: (\S+)", formatted_plan(df))


def has_node(df: DataFrame, node: str) -> bool:
    return node.lower() in formatted_plan(df).lower()


def scan_column_counts(df: DataFrame) -> list[int]:
    """Number of columns each parquet scan actually reads."""
    return [s.count(":") for s in read_schemas(df)]


def simple_plan(df: DataFrame) -> str:
    """queryExecution().simpleString() — carries scan details
    (SelectedBucketsCount, Bucketed:) that formatted mode elides."""
    return df._jdf.queryExecution().simpleString()


def scan_metrics(df: DataFrame) -> list[dict]:
    """Executed-plan metrics of every parquet scan node (numFiles,
    numOutputRows, ...). The caller must have EXECUTED this exact
    DataFrame (e.g. via .collect()) first — metrics accumulate on the
    QueryExecution that ran, and a .count() builds a different one.
    Descends through AQE wrappers (AdaptiveSparkPlanExec.executedPlan,
    *QueryStageExec.plan) which hide scan nodes from children()."""
    out: list[dict] = []

    def walk(node):
        cls = node.getClass().getSimpleName()
        if "Scan" in node.nodeName():
            metrics = {}
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                metrics[kv._1()] = kv._2().value()
            out.append(metrics)
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
        elif "QueryStage" in cls:
            walk(node.plan())
        else:
            for i in range(node.children().length()):
                walk(node.children().apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def executed_plan(df: DataFrame) -> str:
    """String form of the EXECUTED physical plan — after AQE's runtime
    re-planning, so runtime-only markers (skew=true on a skew-split
    sort-merge join, coalesced partition counts) are visible. The
    caller must have executed this exact DataFrame first; before
    execution AQE reports only the initial plan."""
    return df._jdf.queryExecution().executedPlan().toString()
