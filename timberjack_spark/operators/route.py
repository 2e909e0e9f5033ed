"""Router: derive a category per turn and fan rows out to per-category sinks.

Categories (FIXTURES.md §3, first match wins):
  errors     — extracted level in {ERROR, SEVERE} OR an error-signature match
  tool-calls — an actual tool invocation (tool != '' or role == 'tool')
  anomalies  — anomaly tokens in the text without an error-level
  dialogue   — everything else

The fan-out itself is ``sources.checkpoint.run_resumable_fanout``: ONE write
partitioned by ``category`` (and resume bucket) — Spark has no multi-insert,
and N filtered writes would scan the source N times.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.patterns import ANOMALY_TOKENS

CATEGORIES = ["errors", "tool-calls", "anomalies", "dialogue"]


def _anomaly_pred(text: Column) -> Column:
    # ANOMALY_RE is a pure literal alternation of the tokens, so a
    # multi-contains disjunction is semantically identical (boolean match,
    # order irrelevant) and runs as codegen'd StringContains, not a regex scan
    pred = F.lit(False)
    for tok in ANOMALY_TOKENS:
        pred = pred | text.contains(tok)
    return pred


def errors_pred(level: Column = None, error_type: Column = None) -> Column:
    """The router's first-match 'errors' branch as a standalone predicate:
    ``category == 'errors'`` is true iff this is (first match wins), so a
    consumer that only needs the error flag can evaluate THIS instead of the
    full 4-branch case-when (which drags the anomaly multi-contains and
    tool/role compares into every row — measured on the streaming
    conv-stats drain, where the flag is the only category use)."""
    level = level if level is not None else F.col("level")
    error_type = error_type if error_type is not None else F.col("error_type")
    return F.upper(level).isin("ERROR", "SEVERE") | (error_type != "")


def category_col(
    level: Column = None, error_type: Column = None, tool: Column = None,
    role: Column = None, text: Column = None,
) -> Column:
    tool = tool if tool is not None else F.col("tool")
    role = role if role is not None else F.col("role")
    text = text if text is not None else F.col("text")
    return (
        F.when(errors_pred(level, error_type), F.lit("errors"))
        .when((tool != "") | (role == "tool"), F.lit("tool-calls"))
        .when(_anomaly_pred(text), F.lit("anomalies"))
        .otherwise(F.lit("dialogue"))
    )


def with_category(df: DataFrame) -> DataFrame:
    """Requires the parse projection (level/error_type columns) to be present."""
    return df.withColumn("category", category_col())


def sink_counts(df: DataFrame) -> DataFrame:
    """Per-sink routed-row counts (the parity contract with the reference's
    per-category aggregates), deterministic order."""
    return (
        df.groupBy("category").agg(F.count(F.lit(1)).alias("cnt")).orderBy("category")
    )
