"""Extraction semantics: reference quirks + expr-vs-pandas-grok equality."""

import pandas as pd
import pytest

import oracle_ref
from timberjack_spark.fixtures import transcripts_pandas
from timberjack_spark.functions.extract import with_parsed
from timberjack_spark.functions.grok import grok_batch, with_parsed_pandas

EDGE_LINES = [
    "2025-03-21 14:00:00,123 [ERROR] Database connection failed",
    "2025-03-21T14:00:00 [WARN] iso timestamp does not match generic regex",
    "error: lowercase colon form",
    "[info] lowercase bracket form",
    "INFO: at start [ERROR] later",          # leftmost-first: colon form wins
    "no level or timestamp in this line",
    "",
    "ends with bracket ]",
    "a]b]c",
    "one ] bracket only at position",
    '{"timestamp":"2025-03-21T14:00:00.123Z","level":"ERROR","message":"Database connection failed"}',
    '{"time":"2025-03-21 09:00:00","severity":"warn","msg":"fallback keys"}',
    '{"level":5,"message":"numeric level"}',
    '{"level":true,"text":"bool level"}',
    "{not valid json [DEBUG] 2025-01-01 01:02:03}",
    '{"nolevel":"here"} [TRACE] trailing',
    "Connection timeout in NetworkClient.java:86",
    "API rate limit exceeded plus OutOfMemoryError later",
    # non-ASCII / control whitespace: the Arrow grok trim must agree with
    # Catalyst btrim on exactly the Unicode White_Space set — NBSP is trimmed
    # (flips is_jsonish), \x1c-\x1f are NOT (Arrow's utf8_trim_whitespace
    # would strip them; measured divergence, fixed via utf8_trim + _WS)
    '\xa0{"level":"WARN","message":"nbsp-framed json"}\xa0',
    '\x1c{"level":"WARN","message":"fs-framed non-json"}\x1c',
    "2025-03-21 14:00:00 [ERROR] tab]\tmsg key needs trim\x1c",
]


@pytest.fixture(scope="module")
def edges(spark):
    df = spark.createDataFrame([(t,) for t in EDGE_LINES], "text string")
    return {r["text"]: r for r in with_parsed(df, mode="auto").collect()}


def test_bracket_level(edges):
    r = edges[EDGE_LINES[0]]
    assert r["level"] == "ERROR"
    assert r["ts_raw"] == "2025-03-21 14:00:00"
    assert r["bucket"] == "2025-03-21 14"
    assert r["msg_key"] == "Database connection failed"


def test_iso_timestamp_not_matched_by_generic_regex(edges):
    assert edges[EDGE_LINES[1]]["ts_raw"] == ""


def test_colon_form_keeps_colon_uppercased(edges):
    assert edges["error: lowercase colon form"]["level"] == "ERROR:"


def test_bracket_lowercase_uppercased(edges):
    assert edges["[info] lowercase bracket form"]["level"] == "INFO"


def test_leftmost_alternative_wins(edges):
    assert edges["INFO: at start [ERROR] later"]["level"] == "INFO:"


def test_no_level(edges):
    assert edges["no level or timestamp in this line"]["level"] == ""


def test_msg_key_split_semantics(edges):
    assert edges["ends with bracket ]"]["msg_key"] == ""     # trailing empty part
    assert edges["a]b]c"]["msg_key"] == "b"
    assert edges["one ] bracket only at position"]["msg_key"] == "bracket only at position"
    assert edges["no level or timestamp in this line"]["msg_key"] == "no level or timestamp in this line"


# (text, level) for the generic level pattern's edge forms: word boundaries
# (WARNING vs WARNINGS), bracket/colon adjacency, leftmost-first between the
# two alternatives, and non-ASCII look-alikes that (?i) must NOT fold (Java
# and RE2 fold ASCII only; the Kelvin sign before WARN is not a level letter)
LEVEL_CASES = [
    ("[WARNING]", "WARNING"),
    ("WARNING:", "WARNING:"),
    ("WARNINGS:", ""),
    ("[Warn]", "WARN"),
    ("xERROR:", "ERROR:"),
    ("[ERROR:", "ERROR:"),
    ("[ERROR] WARN:", "ERROR"),
    ("WARN: [ERROR]", "WARN:"),
    ("[[ERROR]]", "ERROR"),
    ("]ERROR:", "ERROR:"),
    ("trace:trace:", "TRACE:"),
    ("[DEBUG]:", "DEBUG"),
    ("info: Debug:", "INFO:"),
    ("Severe:", "SEVERE:"),
    ("[fine] FINE:", "FINE"),
    ("[ fine]", ""),
    ("severe", ""),
    ("\u0130NFO:", ""),
    ("\u017fevere:", ""),
    ("\u212aWARN:", "WARN:"),
    ("", ""),
]


@pytest.mark.parametrize("mode", ["generic", "auto"])
def test_level_edge_cases_match_reference(spark, mode):
    df = spark.createDataFrame([(t,) for t, _ in LEVEL_CASES] + [(None,)], "text string")
    got = {r["text"]: r["level"] for r in with_parsed(df, mode=mode).collect()}
    for text, level in LEVEL_CASES:
        assert oracle_ref.extract_level(text, None) == level, text
        assert got[text] == level, text
    assert got[None] is None  # null text keeps a null level


def test_json_level_and_ts(edges):
    r = edges[EDGE_LINES[10]]
    assert r["level"] == "ERROR"
    assert r["ts_raw"] == "2025-03-21T14:00:00.123Z"
    assert r["bucket"] == "2025-03-21T14"                    # keeps the 'T'
    assert r["message"] == "Database connection failed"


def test_json_fallback_keys_preserve_case(edges):
    r = edges[EDGE_LINES[11]]
    assert r["level"] == "warn"                              # JSON level NOT uppercased
    assert r["ts_raw"] == "2025-03-21 09:00:00"
    assert r["message"] == "fallback keys"


def test_json_numeric_and_bool_levels(edges):
    assert edges[EDGE_LINES[12]]["level"] == "5"
    assert edges[EDGE_LINES[13]]["level"] == "true"


def test_malformed_json_falls_back_to_generic(edges):
    r = edges["{not valid json [DEBUG] 2025-01-01 01:02:03}"]
    assert r["level"] == "DEBUG"
    assert r["ts_raw"] == "2025-01-01 01:02:03"


def test_json_without_level_key_falls_back(edges):
    assert edges['{"nolevel":"here"} [TRACE] trailing']["level"] == "TRACE"


def test_error_type_leftmost(edges):
    assert edges["Connection timeout in NetworkClient.java:86"]["error_type"] == "Connection timeout"
    # leftmost match: "rate limit..." is not in ERROR_TYPE_RE; OutOfMemoryError matches [A-Za-z]+Error
    assert edges["API rate limit exceeded plus OutOfMemoryError later"]["error_type"] == "OutOfMemoryError"


def test_grok_batch_matches_expr_on_edges(spark):
    df = spark.createDataFrame([(t,) for t in EDGE_LINES], "text string")
    expr = with_parsed(df, mode="auto").toPandas().sort_values("text").reset_index(drop=True)
    pud = with_parsed_pandas(df).toPandas().sort_values("text").reset_index(drop=True)
    pd.testing.assert_frame_equal(expr, pud)


def test_grok_batch_matches_expr_on_fixture(spark):
    pdf = transcripts_pandas(2600)
    df = spark.createDataFrame(pdf[["text"]])
    expr = with_parsed(df, mode="auto").toPandas()
    local = grok_batch(pdf["text"].reset_index(drop=True))
    for c in ["level", "ts_raw", "bucket", "message", "error_type", "msg_key"]:
        assert list(expr[c]) == list(local[c]), c


def test_unicode_whitespace_matches_all_engines(spark):
    """ADVICE r03: the reference's Rust \\s is Unicode, so an NBSP-separated
    'Connection\\u00a0timeout' must extract in every engine. WS_CLASS carries
    the White_Space codepoints literally — pin tri-engine agreement (Catalyst,
    DuckDB RE2, pure-Python oracle) on exactly that scenario."""
    import duckdb
    from pyspark.sql import functions as F

    from oracle_ref import ERR_RE
    from timberjack_spark.functions.patterns import ERROR_TYPE_RE

    lines = [
        "Connection timeout while calling upstream",   # NBSP
        "Connection timeout thin-space variant",        # THIN SPACE
        "Connection timeout plain-space control",
        "Connectiontimeout no separator -> no match",
    ]
    df = spark.createDataFrame([(t,) for t in lines], "text string")
    spark_got = [
        r["e"]
        for r in df.select(F.regexp_extract("text", ERROR_TYPE_RE, 1).alias("e"))
        .orderBy("text").collect()
    ]
    con = duckdb.connect()
    duck_got = [
        r[0]
        for r in con.execute(
            "SELECT coalesce(regexp_extract(t, ?, 1), '') FROM (SELECT unnest(?) AS t) ORDER BY t",
            [ERROR_TYPE_RE, lines],
        ).fetchall()
    ]
    py_got = [
        (m.group(1) if (m := ERR_RE.search(t)) else "") for t in sorted(lines)
    ]
    assert spark_got == duck_got == py_got
    assert sum(1 for g in spark_got if g) == 3  # the three separated variants match
