"""P3 — materialized JSON fields map (dotted paths, 100-field cap).

The reference flattens every JSON log line into a ``HashMap<String, String>``
of dotted paths (``user.role``, ``items[0].name``) with scalar values
stringified and recursion into containers gated by a 100-entry cap
(/root/reference/src/parser/json.rs:50-90). The lazy ``get_json_object`` paths
in :mod:`extract` cover all *filter* semantics without materializing anything;
this module exists for the queries that need the map itself — "list all
fields", field-name histograms, schema drift over time.

Flattening arbitrary unknown-shape JSON is inherently row-dynamic (there is no
static schema for Catalyst to prune), so the map is built in an Arrow-batched
pandas UDF — the same per-row recursion the reference runs, batched through
Arrow. Everything downstream (explode, groupBy) is JVM.
"""

from __future__ import annotations

import json

from .extract import _WS

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .patterns import MAX_JSON_FIELDS


def _flatten(v, prefix: str, out: dict[str, str]) -> None:
    """Mirror of the reference's extract_fields (json.rs:50-90): scalars are
    always inserted; recursion into nested containers stops once the map holds
    MAX_JSON_FIELDS entries (the cap gates recursion, not scalar inserts)."""
    if isinstance(v, dict):
        # sorted-key iteration mirrors serde_json's default BTreeMap object
        # order, so WHICH containers win recursion under the cap matches too
        for k in sorted(v.keys()):
            val = v[k]
            p = f"{prefix}.{k}" if prefix else k
            if isinstance(val, (dict, list)):
                if len(out) < MAX_JSON_FIELDS:
                    _flatten(val, p, out)
            elif isinstance(val, bool):  # before int: bool is an int subtype
                out[p] = "true" if val else "false"
            elif val is None:
                out[p] = "null"
            elif isinstance(val, str):
                out[p] = val
            else:
                out[p] = str(val)
    elif isinstance(v, list):
        for i, item in enumerate(v):
            _flatten(item, f"{prefix}[{i}]", out)


@pandas_udf(T.MapType(T.StringType(), T.StringType()))
def fields_map_udf(text: pd.Series) -> pd.Series:
    """text -> map<dotted_path, stringified_value>; null for non-JSON-object
    rows (the reference only field-maps lines its JSON parser accepts)."""

    def one(t):
        if not t:
            return None
        s = t.strip(_WS)
        if not (s.startswith("{") and s.endswith("}")):
            return None
        try:
            v = json.loads(s)
        except (ValueError, RecursionError):
            return None
        if not isinstance(v, dict):
            return None
        out: dict[str, str] = {}
        _flatten(v, "", out)
        return out

    return text.map(one)


def _gated(text: Column) -> Column:
    """Null the UDF INPUT for rows the JVM `is_jsonish` predicate rejects.

    The Arrow UDF is still invoked over every row (Catalyst extracts Python
    UDFs out of CASE WHEN), but a null input transfers ~0 bytes over Arrow and
    short-circuits in Python — exactly the gating `_parse_exprs` applies
    to `json_tuple` (extract.py). `is_jsonish` (ws-trimmed brace framing) is
    the UDF's own early-return condition, so results are identical; on the
    ~8%-JSON fixture corpus this cuts the Arrow transfer and Python work ~12x
    (measured: t_field_histogram 5.7 s -> JVM-prefiltered at sf0.1).
    """
    from .extract import is_jsonish

    return F.when(is_jsonish(text), text)


def with_fields_map(df: DataFrame, text_col: str = "text", out_col: str = "fields") -> DataFrame:
    return df.withColumn(out_col, fields_map_udf(_gated(F.col(text_col))))


def field_name_histogram(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(field, cnt) — how many JSON rows carry each dotted field path.

    Rows are FILTERED on the JVM `is_jsonish` predicate before the UDF — a
    strict superset of rows that produce a map (the UDF's own first check is
    the same trimmed-brace framing), so the histogram is unchanged while the
    Python stage sees only the JSON slice of the corpus. The explode/groupBy
    runs JVM-side on the map keys only; JSON-ish rows whose parse still fails
    contribute nothing (null map -> explode drops the row).
    """
    from .extract import is_jsonish

    json_rows = df.filter(is_jsonish(F.col(text_col)))
    keys: Column = F.map_keys(fields_map_udf(F.col(text_col)))
    return (
        json_rows.select(F.explode(keys).alias("field"))
        .groupBy("field")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("field"))
    )


def field_coverage(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Schema-on-read JSON profiling: ``(field, n_present, n_distinct,
    coverage)`` per dotted path — the data-profiling report that shows
    schema drift and field sparsity across a heterogeneous log corpus
    (coverage = fraction of successfully-parsed JSON rows carrying the
    field; n_distinct = exact distinct stringified values).

    Scale shape: rows are JVM-gated on is_jsonish before the Arrow UDF; the
    parsed maps feed BOTH the row-count aggregate and the key/value explode,
    so they are localCheckpoint'd once (Spark re-executes ArrowEvalPython
    subtrees per plan branch — same lesson as the dedup signature tables).
    The explode carries (path, value) pairs bounded by MAX_JSON_FIELDS per
    row; the per-field aggregation partial-aggregates map-side, and the
    1-row total broadcast-joins on. ``coverage`` is a single IEEE division —
    bit-identical in the DuckDB oracle.
    """
    from .extract import is_jsonish

    maps = (
        df.filter(is_jsonish(F.col(text_col)))
        .select(fields_map_udf(F.col(text_col)).alias("m"))
        .filter(F.col("m").isNotNull())
        .localCheckpoint(eager=False)
    )
    tot = maps.agg(F.count(F.lit(1)).alias("n_json"))
    per = (
        maps.select(F.explode("m").alias("field", "value"))
        .groupBy("field")
        .agg(
            F.count(F.lit(1)).alias("n_present"),
            F.countDistinct("value").alias("n_distinct"),
        )
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "field",
        "n_present",
        "n_distinct",
        (F.col("n_present").cast("double") / F.col("n_json")).alias("coverage"),
    )
