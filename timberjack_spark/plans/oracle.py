"""DuckDB-dialect oracle SQL fragments mirroring the engine's parse stage.

The driver verifies every ``queries()`` entry against ANSI SQL run by DuckDB on
the same parquet (CORRECTNESS_r{N}.json). These helpers render the engine's
extraction semantics in DuckDB's RE2/JSON dialect; the regexes themselves are
written in the portable subset (see functions/patterns.py) so the same pattern
string is used verbatim in both engines.
"""

from __future__ import annotations

from ..functions.patterns import (  # noqa: F401 — WS_CLASS re-exported for oracle SQL
    ANOMALY_RE,
    WS_CLASS as WS_CLASS_RE,
    ERROR_TYPE_RE,
    JSON_LEVEL_KEYS,
    JSON_MESSAGE_KEYS,
    JSON_TIMESTAMP_KEYS,
    LEVEL_RE,
    TIMESTAMP_RE,
)


def _json_first_sql(col: str, keys: list[str]) -> str:
    # try_cast(.. AS JSON) nulls out malformed JSON instead of erroring — DuckDB
    # evaluates json functions eagerly even under CASE guards. The cast takes
    # the ws-TRIMMED text (twin of extract._parse_exprs: the engine parses
    # trimmed, because Jackson/serde reject NBSP-framed JSON).
    t = _ws_trim_sql(col)
    parts = ", ".join(f"json_extract_string(try_cast({t} AS JSON), '$.{k}')" for k in keys)
    return f"coalesce({parts})"


# DuckDB trim() strips spaces only, like Spark's F.trim — the engine matches
# the reference's Rust str::trim (Unicode White_Space), so the oracle carries
# the same explicit char set (twin of functions/extract.py:_WS, built from the
# single shared WS_CODEPOINTS list in functions/patterns.py).
from ..functions.patterns import WS_CODEPOINTS as _WS_CPS

WS_SQL = " || ".join(f"chr({cp})" for cp in _WS_CPS)
_WS_SQL = WS_SQL  # back-compat alias


def _ws_trim_sql(expr: str) -> str:
    return f"trim({expr}, {WS_SQL})"


def _jsonish_sql(col: str) -> str:
    return (
        f"(starts_with({_ws_trim_sql(col)}, '{{') AND ends_with({_ws_trim_sql(col)}, '}}'))"
    )


def generic_level_sql(col: str = "text") -> str:
    m0 = f"regexp_extract({col}, '{LEVEL_RE}', 0)"
    m1 = f"regexp_extract({col}, '{LEVEL_RE}', 1)"
    return (
        f"CASE WHEN {m0} = '' THEN '' "
        f"ELSE upper(CASE WHEN {m1} = '' THEN {m0} ELSE {m1} END) END"
    )


def level_sql(col: str = "text") -> str:
    """Auto-mode level: JSON key lookup with generic-regex fallback."""
    j = _json_first_sql(col, JSON_LEVEL_KEYS)
    return (
        f"CASE WHEN {_jsonish_sql(col)} AND {j} IS NOT NULL THEN {j} "
        f"ELSE {generic_level_sql(col)} END"
    )


def ts_raw_sql(col: str = "text") -> str:
    j = _json_first_sql(col, JSON_TIMESTAMP_KEYS)
    return (
        f"CASE WHEN {_jsonish_sql(col)} AND {j} IS NOT NULL THEN {j} "
        f"ELSE regexp_extract({col}, '{TIMESTAMP_RE}', 1) END"
    )


def message_sql(col: str = "text") -> str:
    j = _json_first_sql(col, JSON_MESSAGE_KEYS)
    return (
        f"CASE WHEN {_jsonish_sql(col)} AND {j} IS NOT NULL THEN {j} ELSE {col} END"
    )


def msg_key_sql(col: str = "text") -> str:
    seg = _ws_trim_sql("string_split(" + col + ", ']')[2]")
    return (
        f"CASE WHEN len(string_split({col}, ']')) >= 2 "
        f"THEN {seg} ELSE {col} END"
    )


def error_type_sql(col: str = "text") -> str:
    return f"regexp_extract({col}, '{ERROR_TYPE_RE}', 1)"


def parsed_cte(source_sql: str) -> str:
    """A `parsed` CTE with the full projection over ``source_sql``."""
    return f"""
WITH src AS ({source_sql}),
parsed AS (
  SELECT conv_id, turn_idx, role, tool, ts, text,
         {level_sql("text")} AS level,
         {ts_raw_sql("text")} AS ts_raw,
         substr({ts_raw_sql("text")}, 1, 13) AS bucket,
         {message_sql("text")} AS message,
         {error_type_sql("text")} AS error_type,
         {msg_key_sql("text")} AS msg_key
  FROM src
)"""


def category_sql() -> str:
    """Router CASE over the parsed columns (same precedence as route.category_col)."""
    return (
        "CASE WHEN upper(level) IN ('ERROR','SEVERE') OR error_type <> '' THEN 'errors' "
        "WHEN tool <> '' OR role = 'tool' THEN 'tool-calls' "
        f"WHEN regexp_matches(text, '{ANOMALY_RE}') THEN 'anomalies' "
        "ELSE 'dialogue' END"
    )
