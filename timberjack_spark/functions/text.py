"""Text-analysis functions for training-data pipelines (documents table).

Hot-path scoring is built-in Catalyst expressions (JVM, codegen'd): token
counting, punctuation/stopword ratios, quality scoring; the rolling-hash
fingerprint uses ``F.aggregate`` over the character array. Language ID by
stopword-hit voting exists in BOTH forms: the Catalyst expression
(``lang_id``) and an Arrow-batched twin (``make_lang_id_udf``) that
with_text_stats uses — the 4-language interpreted vote was the stage's
dominant cpu, and one Python pass through Arrow does it ~15x cheaper
(parity pinned in pytest).

These operators have no analog in the reference (it analyzes log lines, not
documents); they are the training-data extensions the engine adds for corpus
curation at scale.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .extract import ws_trim
from .patterns import WS_CLASS

# Tiny per-language stopword lists for the n-gram/stopword-voting language ID.
# Deliberately small: the heuristic is a coverage demo of the voting pattern,
# not a production langid model.
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "los", "por", "una"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit", "ein"],
    "fr": ["le", "la", "les", "des", "est", "une", "pour", "dans"],
}

MOD = 1_000_000_007
BASE = 31


def token_count(text: Column) -> Column:
    """Whitespace tokenization; empty/whitespace-only -> 0 tokens.

    Trims with ws_trim (the shared Unicode White_Space set), NOT F.trim:
    DuckDB's bare trim() strips an inconsistent subset of Unicode spaces
    (NBSP yes, tab/VT/line-sep no), so only an explicit shared charset keeps
    the oracle twin exact — fuzz-found on an NBSP-only document."""
    t = ws_trim(text)
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, WS_CLASS + "+")))


def bpe_ish_token_count(text: Column) -> Column:
    """A BPE-ish proxy: count word pieces + digits + punctuation runs
    (regexp-based, JVM-side) — tracks subword token counts within ~10%.
    The whitespace chars are the shared literal set (see _NON_PUNCT_CLASS)."""
    return F.size(
        F.regexp_extract_all(
            text, F.lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9" + WS_CLASS[1:-1] + "]"), F.lit(0)
        )
    )


# non-punct class for punct_ratio: alphanumerics + the SHARED literal
# whitespace codepoints. A bare \s here would diverge between Java regex
# (includes \x0b) and the DuckDB oracle's RE2 (doesn't) — the exact
# portability trap patterns.py:WS_CLASS documents.
_NON_PUNCT_CLASS = "[A-Za-z0-9" + WS_CLASS[1:-1] + "]"


def punct_ratio(text: Column) -> Column:
    n = F.length(text)
    p = F.length(F.regexp_replace(text, _NON_PUNCT_CLASS, ""))
    return F.round(F.coalesce(F.try_divide(p, n), F.lit(0.0)), 6)


def stopword_count(text: Column, lang: str = "en") -> Column:
    """Count stopword occurrences by splitting on non-word runs and exact-
    matching tokens — NOT with a ``\\b``-anchored regex: Java's ``\\b`` is
    Unicode-aware while RE2's is ASCII (fuzz-found on 'toß' — one word to
    Java, two to the DuckDB oracle), so word-boundary regexes are outside the
    portable subset. The ASCII word-char split gives identical, well-defined
    semantics in every engine; non-ASCII letters act as separators (fine for
    an ASCII-stopword heuristic, and consistent both sides)."""
    words = LANG_STOPWORDS[lang]
    toks = F.split(F.lower(text), r"[^a-z0-9_]+")
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    return F.round(
        F.coalesce(F.try_divide(stopword_count(text, lang), token_count(text)), F.lit(0.0)), 6
    )


def lang_scores(text: Column) -> dict[str, Column]:
    return {lang: stopword_count(text, lang) for lang in LANG_STOPWORDS}


def lang_id(text: Column) -> Column:
    """Argmax language by stopword votes; 'und' (undetermined) when no hits.
    Ties break toward the LAST language code in sort order (array_max takes
    the lexicographically larger (score, lang) struct on equal scores)."""
    scores = lang_scores(text)
    pairs = F.array(
        *[F.struct(scores[lang].alias("score"), F.lit(lang).alias("lang")) for lang in sorted(scores)]
    )
    best = F.array_max(pairs)  # struct compare: score first, then lang
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def make_lang_id_udf():
    """Arrow-batched twin of :func:`lang_id` for whole-corpus scoring.

    The expression form runs four interpreted split+filter passes per row
    (one per language) — the dominant cost of with_text_stats (1.48 of
    ~2.5 s at sf0.1, salted probe). One Python pass (one regex split, four
    set-membership counts) through Arrow does the same work in ~0.1 s.
    Semantics pinned identical to the expression by
    tests/test_text.py::test_lang_id_udf_matches_expression, including the
    tie-break (larger lang code wins), '' / null -> the expression's own
    results, and the ASCII-word-split contract (see stopword_count on why
    \\b is outside the portable subset)."""
    import re

    token_re = re.compile(r"[^a-z0-9_]+")
    words = {lang: frozenset(ws) for lang, ws in LANG_STOPWORDS.items()}
    langs = sorted(words)  # later (larger) code wins ties, like array_max

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _lang(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append("und")  # expression: null scores -> 'und'
                continue
            toks = token_re.split(t.lower())
            best_score, best_lang = 0, "und"
            for lang in langs:
                w = words[lang]
                sc = 0
                for tok in toks:
                    if tok in w:
                        sc += 1
                if sc >= best_score and sc > 0:
                    best_score, best_lang = sc, lang
            out.append(best_lang)
        return pd.Series(out)

    return _lang


def make_repetition_counts_udf():
    """Arrow-batched per-document token-multiset counts for the Gopher
    repetition rules: ``(_ntot, _nd, _tc)`` = total whitespace tokens,
    distinct tokens, top token's count — as LONGS, so the caller derives
    dup_frac/top_frac with the IDENTICAL JVM divide/round expressions the
    r5 explode + two-level aggregation produced (bit-exact by construction,
    no float-parity argument needed).

    Why: the aggregation path shuffled every (doc, token) row twice and
    joined back on doc_id — three exchanges for values that are a pure
    per-document function. One Arrow pass in the same scan computes them
    with zero shuffle (guide §4.2); the per-doc Counter is bounded by one
    document's token multiset, the same per-doc memory contract
    make_grams_udf already carries. Tokenization is the shared contract:
    ws_trim charset strip + WS-class split — '' yields the single ''-token
    (top_frac 1.0, the documented empty-text behavior) and null text yields
    null counts (the aggregation's missing-row -> NULL-fracs semantics)."""
    import re

    from collections import Counter

    from .extract import _WS

    ws_re = re.compile("[" + _WS + "]+")

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("_ntot long, _nd long, _tc long")
    def rep(texts: pd.Series) -> pd.DataFrame:
        ntot, nd, tc = [], [], []
        for t in texts:
            if t is None:
                ntot.append(None)
                nd.append(None)
                tc.append(None)
                continue
            c = Counter(ws_re.split(t.strip(_WS)))
            ntot.append(sum(c.values()))
            nd.append(len(c))
            tc.append(max(c.values()))
        return pd.DataFrame({"_ntot": ntot, "_nd": nd, "_tc": tc})

    return rep


def fingerprint(text: Column) -> Column:
    """Polynomial rolling hash over UTF-8 code points (mod 1e9+7) — a
    deterministic document fingerprint computed entirely JVM-side via
    higher-order functions (no UDF)."""
    chars = F.split(text, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * BASE + F.ascii(c)) % MOD,
    )


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    # the fingerprint + language regexes are interpreted/expensive per row;
    # on a small single-file scan they'd all run on 1-2 cores (measured 2.5x
    # at sf0.1). No-op at real scale — see dedup._ensure_parallelism.
    from ..operators.dedup import _ensure_parallelism

    df = _ensure_parallelism(df)
    t = F.col(text_col)
    # layered projections so each interpreted signal evaluates ONCE: the
    # quality composite (length band + low punctuation + stopword presence,
    # fixed weights) reads the projected columns instead of re-folding the
    # token split, punct regexp and stopword filter per row (the
    # quality_filter lesson).
    base = df.withColumns(
        {
            "n_tokens": token_count(t),
            "n_chars": F.length(t),
            "punct_ratio": punct_ratio(t),
            "_sw_en": stopword_count(t),
            # Arrow twin of lang_id: the 4-language interpreted vote was the
            # dominant cost of this stage (see make_lang_id_udf)
            "lang_guess": make_lang_id_udf()(t),
            "fingerprint": fingerprint(t),
        }
    )
    sr = F.round(
        F.coalesce(F.try_divide(F.col("_sw_en"), F.col("n_tokens")), F.lit(0.0)), 6
    )
    n = F.col("n_chars")
    len_score = F.when((n >= 64) & (n <= 4096), 1.0).when(n > 4096, 0.7).otherwise(
        F.round(n / F.lit(64.0), 6)
    )
    punct_score = F.when(F.col("punct_ratio") < 0.2, 1.0).otherwise(0.5)
    with_sr = base.withColumn("stopword_ratio", sr)
    stop_score = F.when(F.col("stopword_ratio") > 0.05, 1.0).otherwise(0.6)
    quality = F.round(len_score * 0.5 + punct_score * 0.25 + stop_score * 0.25, 6)
    return with_sr.withColumn("quality", quality).select(
        *df.columns,
        "n_tokens",
        "n_chars",
        "punct_ratio",
        "stopword_ratio",
        "quality",
        "lang_guess",
        "fingerprint",
    )


# ---------------------------------------------------------------------------
# PII redaction — a standard training-data scrubbing stage. Patterns are in
# the portable regex subset (Java regex == DuckDB RE2 semantics) so the
# oracle applies the identical strings with the 'g' flag.
# ---------------------------------------------------------------------------

# KNOWN portable-subset caveat: the \b anchors here diverge between Java
# (Unicode-aware boundary) and RE2 (ASCII) ONLY when a PII token abuts a
# non-ASCII letter ('üuser_12' redacts under RE2, not under Java). Replacement
# regexes cannot use the split-and-match workaround stopword_count uses, and
# RE2 has no lookbehind to emulate \b portably — the divergence is accepted
# and documented; log/transcript PII in practice abuts ASCII separators.
REDACTION_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    (r"\buser_[0-9]+\b", "<USER>"),
]


def redact_pii(text: Column) -> Column:
    """Replace every PII-shaped token with a typed placeholder. Pure JVM
    ``regexp_replace`` chain (replace-all), applied in REDACTION_PATTERNS
    order — email before ip before user-id, fixed so the oracle composes the
    same way."""
    out = text
    for pat, repl in REDACTION_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def redaction_count(text: Column) -> Column:
    """How many PII pattern HITS a row carries (pre-redaction).

    Each pattern counts against the ORIGINAL text, so overlapping PII is
    counted once per matching pattern — 'user_12@host.com' scores 2 (email +
    user-id) while redact_pii performs a single replacement. That is the
    deliberate metric: n_red measures PII pattern exposure for filtering
    decisions, not the replacement count (a filter should see BOTH signals on
    an overlapping token). The DuckDB oracle composes identically, and the
    sequenced alternative (count pattern i on text with patterns <i applied)
    is what redact_pii itself implements if replacement-count is ever needed.
    """
    cnt = F.lit(0)
    for pat, _ in REDACTION_PATTERNS:
        cnt = cnt + F.regexp_count(text, F.lit(pat))
    return cnt


# ---------------------------------------------------------------------------
# quality filter — the C4/Gopher-style keep-drop gate of a training-data
# pipeline, composed from the row-local signals above. Pure projection: one
# corpus scan, no shuffle, trivially parallel at any scale; reasons are
# reported (not just a boolean) because curation pipelines audit WHY a
# document dropped.
# ---------------------------------------------------------------------------


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 10,
    max_tokens: int = 5000,
    max_punct_ratio: float = 0.25,
    min_stopword_ratio: float = 0.01,
    max_dup_frac: float | None = None,
    max_top_frac: float | None = None,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, *keep_cols, n_tokens, reasons, keep) per document —
    ``keep_cols`` passes input columns through unchanged so rollups (e.g.
    dataset_card) can fuse the gate into their single scan instead of
    joining back on the id.

    Rules (fixed order, so the reasons string is deterministic):
      null_text     text IS NULL — short-circuits all other rules (a missing
                    document is NOT clean; without this, every signal
                    comparison is NULL and the doc would keep by default)
      too_short     n_tokens < min_tokens
      too_long      n_tokens > max_tokens
      high_punct    punct_ratio > max_punct_ratio
      low_stopword  stopword_ratio < min_stopword_ratio (stopword presence is
                    the classic natural-language-ness proxy; code dumps and
                    boilerplate fail it)
    and, when ``max_dup_frac`` / ``max_top_frac`` are set (the Gopher
    repetition gates, off by default to keep the base filter a pure
    projection):
      high_dup             dup_frac > max_dup_frac (1 - distinct/total
                           whitespace tokens — boilerplate/spam signal)
      top_token_dominance  top_frac > max_top_frac (most-frequent token's
                           share of the doc)

    ``reasons`` is the comma-joined list of failed rules ('' = clean) and
    ``keep`` is reasons == '' — string-typed so the DuckDB oracle hash-compares
    exactly. All signals are the same rounded expressions with_text_stats /
    doc-repetition expose, so the filter thresholds see bit-identical values
    in both engines.

    Scale shape: the base rules are one projection over one scan. The
    repetition rules add ONE Arrow-batched pass in the same scan
    (make_repetition_counts_udf) producing the per-doc token counts the
    fracs divide — zero additional shuffle (the r5 two-level aggregation +
    doc_id join-back paid three exchanges for the same per-row function).
    Null texts get null counts, so their dup_frac/top_frac are NULL and the
    repetition rules pass them through — null_text already dropped them.
    Empty/whitespace-only texts DO carry one ''-token (the WS-split of ''),
    so top_frac = 1.0 and top_token_dominance fires alongside too_short —
    the ADVICE-r5-noted behavior, kept as-is because the reasons string is
    a hash-compared contract (the DuckDB twin splits identically).
    """
    # the rule signals are regexp-heavy per-row work computed below the first
    # exchange; a small single-file corpus scans as ONE partition and books
    # seconds of single-core time (measured 3.7 s -> sub-second at sf0.1).
    # No-op at real scale — see dedup._ensure_parallelism.
    from ..operators.dedup import _ensure_parallelism

    df = _ensure_parallelism(df)
    t = F.col(text_col)
    # signals land in a DEDICATED projection so each interpreted expression
    # (token split, punct regexp_replace, stopword filter) evaluates ONCE per
    # row: inlining them into `reasons` re-evaluates every signal per rule,
    # and `keep = (reasons == '')` re-inlines the whole reasons tree again —
    # measured 1.70 s -> 0.95 s at sf0.1 for the identical output.
    # CollapseProject leaves the split alone because the signal columns are
    # referenced more than once and are not cheap.
    use_rep = max_dup_frac is not None or max_top_frac is not None
    proj = [
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        t.isNull().alias("_null"),
        token_count(t).alias("_nt"),
        punct_ratio(t).alias("_pr"),
        stopword_ratio(t).alias("_sr"),
    ]
    if use_rep:
        # per-doc counts from one Arrow pass in the SAME scan (see
        # make_repetition_counts_udf) — the r5 explode + two-level agg +
        # doc_id join-back paid three exchanges for a per-row function;
        # the frac expressions below are the identical long-division/round
        # trees, so every emitted value is bit-identical.
        proj.append(make_repetition_counts_udf()(t).alias("_rc"))
    sig = df.select(*proj)
    if use_rep:
        sig = sig.select(
            "*",
            F.round(F.lit(1) - F.col("_rc._nd") / F.col("_rc._ntot"), 6).alias("_dup_frac"),
            F.round(F.col("_rc._tc") / F.col("_rc._ntot"), 6).alias("_top_frac"),
        )
    rules = [
        ("too_short", F.col("_nt") < min_tokens),
        ("too_long", F.col("_nt") > max_tokens),
        ("high_punct", F.col("_pr") > max_punct_ratio),
        ("low_stopword", F.col("_sr") < min_stopword_ratio),
    ]
    if max_dup_frac is not None:
        rules.append(("high_dup", F.col("_dup_frac") > max_dup_frac))
    if max_top_frac is not None:
        rules.append(("top_token_dominance", F.col("_top_frac") > max_top_frac))
    # null_text SHORT-CIRCUITS: a missing document gets exactly one reason
    # instead of whichever coalesced-signal rules happen to also fire (the
    # engine coalesces ratios to 0.0 while a SQL twin leaves them NULL — only
    # the short-circuit form has one unambiguous cross-engine answer)
    reasons = F.when(F.col("_null"), F.lit("null_text")).otherwise(
        F.array_join(
            F.array_compact(F.array(*[F.when(cond, F.lit(name)) for name, cond in rules])),
            ",",
        )
    )
    return sig.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        F.coalesce(F.col("_nt"), F.lit(0)).alias("n_tokens"),
        reasons.alias("reasons"),
    ).select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        "n_tokens",
        "reasons",
        (F.col("reasons") == "").alias("keep"),
    )


def length_histogram(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Power-of-two sequence-length histogram: ``(bucket, n_docs,
    total_tokens, min_tokens, max_tokens)`` where bucket b covers documents
    of 2^(b-1)..2^b-1 tokens (bucket 0 = empty/null docs). The release stat
    a training team reads to size sequence packing and spot truncation risk.

    ``length(bin(n))`` gives the bucket with pure integer/string built-ins —
    identical in Spark and DuckDB, unlike floor(log2(n)) whose libm rounding
    at exact powers of two is not portable. One scan, pure projection, and a
    ~20-group aggregation that partial-aggregates map-side to nothing.
    """
    nt = F.coalesce(token_count(F.col(text_col)), F.lit(0))
    bucket = F.when(nt == 0, F.lit(0)).otherwise(F.length(F.bin(nt))).cast("int")
    return (
        df.select(nt.alias("n_tokens"), bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
    )
