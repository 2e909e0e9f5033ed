"""Canonical regex patterns of the engine.

Semantics mirror the reference analyzer exactly (see /root/reference/src/analyzer.rs:16-28
and /root/reference/src/parser/generic.rs:5-13), but every pattern here is written in the
portable subset shared by Java regex (Spark), Python ``re`` (pandas UDFs) and RE2 (the
DuckDB oracle): scoped ``(?i:...)`` groups instead of mid-pattern ``(?i)`` flags, no
lookaround, no backreferences. That pinning is what makes per-turn text equality hold
across the three dialects (SURVEY.md §7.3).
"""

# Unicode White_Space codepoints — the exact set Rust's str::trim and the
# Rust regex crate's \s match (the reference runs \s UNICODE: analyzer.rs:22-26,
# generic.rs:11). Shared by ws_trim (extract.py:_WS), the DuckDB oracle char
# set (plans/oracle.py:WS_SQL) and WS_CLASS below, so trimming, tokenizing and
# pattern whitespace all agree on one definition.
WS_CODEPOINTS = (
    [0x09, 0x0A, 0x0B, 0x0C, 0x0D, 0x20, 0x85, 0xA0, 0x1680]
    + list(range(0x2000, 0x200B))
    + [0x2028, 0x2029, 0x202F, 0x205F, 0x3000]
)

# Whitespace CLASS in the portable subset. A bare ``\s`` is NOT portable:
# Java regex \s = [ \t\n\x0b\f\r] (ASCII), RE2 \s = [\t\n\f\r ] (no vertical
# tab), Rust regex \s = Unicode White_Space — three engines, three answers.
# The class spells out the LITERAL White_Space codepoints (legal and identical
# in Java regex, RE2 and Python re), matching the reference's Unicode \s —
# e.g. 'Connection timeout' parses there and therefore here (ADVICE r03).
WS_CLASS = "[" + "".join(chr(cp) for cp in WS_CODEPOINTS) + "]"

# Level extraction. Two alternatives, leftmost match wins:
#   * bracket form  "[ERROR]"  -> capture group 1 = the level word (later uppercased);
#   * colon form    "error:"   -> group 1 absent, whole match INCLUDING the colon is the
#     level (later uppercased), so "ERROR:" never equals a level filter "ERROR".
# This colon quirk is observable in the reference's histograms and is replicated
# deliberately (reference: src/parser/generic.rs:6-8, tests/edge_cases.rs:171-201).
LEVEL_RE = (
    r"\[(?i:(ERROR|WARN|INFO|DEBUG|TRACE|SEVERE|WARNING|FINE))\]"
    r"|(?i:ERROR|WARN|INFO|DEBUG|TRACE|SEVERE|WARNING|FINE):"
)

# Timestamp extraction: space-separated date-time only (the ISO 'T' form deliberately
# does NOT match — JSON timestamps come from the JSON fields instead).
# Reference: src/parser/generic.rs:10-12.
TIMESTAMP_RE = r"(\d{4}-\d{2}-\d{2}" + WS_CLASS + r"+\d{2}:\d{2}:\d{2})"

# Error-signature extraction: first (leftmost) match over the WHOLE line, applied to all
# matched lines regardless of level. Reference: src/analyzer.rs:25-28.
ERROR_TYPE_RE = (
    r"([A-Za-z]+Exception|[A-Za-z]+Error|[A-Za-z]+" + WS_CLASS + r"+timeout"
    r"|Connection timeout|500 Internal Server Error|401 Unauthorized"
    r"|503 Service Unavailable)"
)

# Anomaly tokens for the router's `anomalies` category (north-star addition; no
# reference analog — FIXTURES.md §3). Plain literals: the Spark router matches
# each with `contains`, the DuckDB oracle with the alternation ANOMALY_RE.
ANOMALY_TOKENS = ["timeout", "OutOfMemoryError", "rate limit exceeded", "query took"]
ANOMALY_RE = "(" + "|".join(ANOMALY_TOKENS) + ")"

# JSON key fallback orders, first present key wins (reference: src/parser/json.rs:9-15).
JSON_TIMESTAMP_KEYS = ["timestamp", "time", "@timestamp", "date", "datetime"]
JSON_LEVEL_KEYS = ["level", "severity", "loglevel", "log_level", "@level"]
JSON_MESSAGE_KEYS = ["message", "msg", "text", "description", "content"]

# The hour bucket is the first 13 characters of the timestamp STRING
# ("YYYY-MM-DD HH"; JSON ISO timestamps keep the 'T': "2025-03-21T14").
# Reference: src/analyzer.rs:327-335.
BUCKET_LEN = 13

# Regex metacharacters that route a pattern to the regex matcher instead of the
# (much faster) literal `contains` fast path. Reference: src/analyzer.rs:170-208.
COMPLEX_PATTERN_CHARS = set("*?[(|+.^$\\")

# Memory caps carried over from the reference (src/analyzer.rs:13, src/parser/json.rs:62).
MAX_STORED_LINES = 10_000
MAX_JSON_FIELDS = 100


def is_complex_pattern(pattern: str) -> bool:
    """True when the pattern needs a real regex; False -> literal substring fast path.

    Mirrors the reference's matcher-selection logic; in Spark terms the fast path emits
    ``Column.contains`` (codegen'd StringContains) and the slow path ``rlike``.
    """
    return any(c in COMPLEX_PATTERN_CHARS for c in pattern)
