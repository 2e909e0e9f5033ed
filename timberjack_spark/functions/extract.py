"""Expression-based parse/projection stage (the JVM fast path).

Lifts a raw text column into the engine's parsed columns using only built-in
Catalyst expressions (``regexp_extract``, ``json_tuple``, ``split`` — all
whole-stage-codegen'd), so the hot path never leaves the JVM. The vectorized
pandas-UDF twin lives in :mod:`timberjack_spark.functions.grok`; a pytest pins
the two to identical output.

Semantics mirror the reference parsers:
* generic: /root/reference/src/parser/generic.rs:28-58 (level group-0/group-1
  quirk, 13-char timestamp truncation),
* json: /root/reference/src/parser/json.rs:125-149 (first-present-key lookup,
  malformed JSON -> nulls),
* the generic-regex fallback applied on top of parser output:
  /root/reference/src/analyzer.rs:230-282.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .patterns import (
    BUCKET_LEN,
    ERROR_TYPE_RE,
    JSON_LEVEL_KEYS,
    JSON_MESSAGE_KEYS,
    JSON_TIMESTAMP_KEYS,
    LEVEL_RE_JVM,
    TIMESTAMP_RE,
    WS_CODEPOINTS,
)

MODES = ("generic", "json", "auto")


def _json_path(key: str) -> str:
    # bracket syntax survives keys like "@timestamp"
    return f"$['{key}']" if not key.replace("_", "").replace(".", "").isalnum() else f"$.{key}"


# Unicode White_Space — the exact set Rust's str::trim (the reference,
# src/analyzer.rs / parser) strips. Round 2 trimmed only the 6 ASCII
# whitespace chars, which diverged BOTH from the reference and from the
# engine's own Arrow grok path (pyarrow utf8_trim_whitespace strips Unicode
# whitespace): an NBSP around a JSON line flipped is_jsonish on one path but
# not the other. The DuckDB oracle (plans/oracle.py:WS_SQL) and the Python
# fuzzer reference (tests/oracle_ref.py:WS) carry the same explicit set.
_WS = "".join(chr(cp) for cp in WS_CODEPOINTS)


def ws_trim(col: Column) -> Column:
    """Whitespace trim matching the reference's Rust ``str::trim`` (Unicode
    White_Space). Spark's ``F.trim`` strips ONLY spaces — a tab after the
    first ``]`` or around a JSON line silently diverges (found by the
    hypothesis fuzzer, not the example tests)."""
    return F.btrim(col, F.lit(_WS))


def generic_level(text: Column) -> Column:
    """Level via LEVEL_RE: bracket form -> the word inside the brackets;
    colon form -> whole match including the colon; both uppercased; '' when
    no match.

    One regexp_extract of group 0: the bracket word is the match without its
    brackets, and the colon form holds none, so a bracket strip replaces the
    group-1 call. LEVEL_RE_JVM's first-character gate spares the matcher the
    case-insensitive alternation at most offsets. Measured against the two
    group calls on LEVEL_RE (perfbench route_scan, 409,600 turns, 4 cores,
    6 alternating pairs): median wall 2.54 -> 1.94 s, cpu 8.8 -> 6.5 s."""
    return F.upper(F.btrim(F.regexp_extract(text, LEVEL_RE_JVM, 0), F.lit("[]")))


def generic_timestamp(text: Column) -> Column:
    return F.regexp_extract(text, TIMESTAMP_RE, 1)


# every ERROR_TYPE_RE alternative requires one of these case-sensitive literals,
# so a cheap multi-contains prefilter (memchr-class, not regex) soundly skips
# the regex on non-candidate rows
_ERROR_TYPE_LITERALS = ["Exception", "Error", "timeout", "Unauthorized", "Unavailable"]


def error_type(text: Column) -> Column:
    """Leftmost error-signature match over the whole raw line ('' = no match)."""
    candidate = F.lit(False)
    for lit in _ERROR_TYPE_LITERALS:
        candidate = candidate | text.contains(lit)
    return F.when(candidate, F.regexp_extract(text, ERROR_TYPE_RE, 1)).otherwise(F.lit(""))


def message_key(text: Column) -> Column:
    """The unique-messages key: substring between the first and second ']' of the
    RAW line, trimmed; whole line when the line has fewer than two ']'-separated
    parts (reference: src/analyzer.rs:349-355 — applied to the raw matched line
    even under the JSON parser)."""
    parts = F.split(text, r"\]")
    return F.when(F.size(parts) >= 2, ws_trim(F.element_at(parts, 2))).otherwise(text)


def is_jsonish(text: Column) -> Column:
    """Row-level analog of the reference's sampled format detection: a trimmed
    line framed by braces takes the JSON parse path (invalid JSON inside still
    falls back per-field, matching parse-failure -> generic-fallback)."""
    t = ws_trim(text)
    return t.startswith("{") & t.endswith("}")


def with_parsed(df: DataFrame, text_col: str = "text", mode: str = "auto") -> DataFrame:
    """Append the parse projection to ``df``: level, ts_raw, bucket, message,
    error_type, msg_key.

    For the JSON-capable modes the 15 candidate keys are extracted with ONE
    ``json_tuple`` (a single Jackson parse per row) instead of 15
    ``get_json_object`` calls — the dominant cost of the parse stage on
    JSON-heavy corpora. Generic mode parses no JSON at all. The rest is a
    single codegen projection, zero shuffles.
    """
    jt, cols, aliases = _parse_exprs(text_col, mode)
    if jt is None:
        return df.withColumns(cols)
    return df.select("*", jt).withColumns(cols).drop(*aliases)


@lru_cache(maxsize=8)
def _parse_exprs(text_col: str, mode: str):
    """Expression trees for the parse projection, built once per
    (text_col, mode) and reused across queries: Column objects are unresolved
    expressions bound to the process-wide py4j gateway (not a session), and
    constructing this tree costs hundreds of py4j round-trips — measurable
    driver-side serial time (~0.2 s) on every run of a parse query.

    Returns ``(jt, cols, aliases)``: the ``json_tuple`` generator and its
    output column names (None and () in generic mode), and the parsed
    columns by name."""
    if mode not in MODES:
        raise ValueError(f"mode must be one of {MODES}")
    text = F.col(text_col)
    g_level, g_ts = generic_level(text), generic_timestamp(text)
    if mode == "generic":
        jt, aliases = None, ()
        level, ts_raw, message = g_level, g_ts, text
    else:
        keys = JSON_LEVEL_KEYS + JSON_TIMESTAMP_KEYS + JSON_MESSAGE_KEYS
        aliases = tuple(f"_j{i}" for i in range(len(keys)))
        # parse the ws-TRIMMED text: the reference trims (Rust str::trim)
        # before serde-parsing, and Jackson rejects JSON framed by non-JSON
        # whitespace (NBSP etc.) that ws_trim strips — parity pinned by the
        # grok/extract edge test and the fuzzer.
        # In auto mode the json_tuple INPUT is additionally gated on is_jsonish:
        # its outputs are only ever consumed under `use_json` anyway, and a null
        # input skips the Jackson parse attempt entirely — on a 7.7%-JSON corpus
        # the JSON stage measured 8-13 s ungated vs 2.5 s gated per 24M rows
        # (Jackson charges for every failed parse of a generic line).
        jt_input = ws_trim(text) if mode == "json" else F.when(is_jsonish(text), ws_trim(text))
        jt = F.json_tuple(jt_input, *keys).alias(*aliases)

        def first(kset: list[str]) -> Column:
            return F.coalesce(*[F.col(aliases[keys.index(k)]) for k in kset])

        j_level, j_ts = first(JSON_LEVEL_KEYS), first(JSON_TIMESTAMP_KEYS)
        j_msg = first(JSON_MESSAGE_KEYS)
        use_json = F.lit(True) if mode == "json" else is_jsonish(text)
        # analyzer.rs:230-245 / 274-281: parser value, else generic regex on
        # the raw line
        level = F.when(use_json & j_level.isNotNull(), j_level).otherwise(g_level)
        ts_raw = F.when(use_json & j_ts.isNotNull(), j_ts).otherwise(g_ts)
        message = F.when(use_json & j_msg.isNotNull(), j_msg).otherwise(text)
    cols = {
        "level": level,
        "ts_raw": ts_raw,
        "bucket": F.substring(ts_raw, 1, BUCKET_LEN),
        "message": message,
        "error_type": error_type(text),
        "msg_key": message_key(text),
    }
    return jt, cols, aliases
