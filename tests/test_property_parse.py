"""Property-based parse-semantics check: hypothesis-generated log-ish lines
through the Spark expression path must match the pure-Python reference oracle
(tests/oracle_ref.py) — the same function family the DuckDB driver oracle
mirrors, so this fuzzes the space between the pinned example tests."""

import json
import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import oracle_ref
from timberjack_spark.functions.extract import with_parsed

MAX_EXAMPLES = int(os.environ.get("FUZZ_EXAMPLES", "30"))

LEVELS = ["ERROR", "WARN", "INFO", "DEBUG", "TRACE", "SEVERE", "WARNING", "FINE",
          "error", "Err", "warn"]
WORDS = ["Cache", "miss", "user_42", "Connection", "timeout", "NullPointerException",
         "served", "rate", "limit", "[x]", "]", "[", "{", "}", ":", "a.b",
         # non-ASCII Unicode whitespace: the round-2 fuzzer alphabet was
         # ASCII-only and could not see the ws_trim divergence ADVICE flagged
         "\xa0", "\u2028", "\u3000"]

# glued with no separator, so every '[', ']' and ':' adjacency of a level word
# and the near-miss first characters (x, S, the look-alikes İ, ſ and the
# Kelvin sign) reach the level pattern's first-character gate
LEVEL_PARTS = LEVELS + ["WARNINGS", "Warn", "fine", "Severe", "[", "]", ":", "x", "S",
                        "\u0130", "\u017f", "\u212a", " "]

line_st = st.one_of(
    # bracketed-level generic lines
    st.builds(
        lambda ts, lv, words: f"{ts} [{lv}] " + " ".join(words),
        st.sampled_from(["2025-03-21 14:02:03", "1999-12-31 23:59:59", "not-a-ts", ""]),
        st.sampled_from(LEVELS),
        st.lists(st.sampled_from(WORDS), min_size=0, max_size=6),
    ),
    # colon-form lines
    st.builds(
        lambda lv, words: f"{lv}: " + " ".join(words),
        st.sampled_from(LEVELS),
        st.lists(st.sampled_from(WORDS), min_size=0, max_size=5),
    ),
    # JSON lines (valid + malformed via truncation)
    st.builds(
        lambda lv, msg, trunc: (
            json.dumps({"level": lv, "timestamp": "2025-03-21T14:02:03Z", "message": msg})[
                : (-3 if trunc else None)
            ]
        ),
        st.sampled_from(LEVELS),
        st.text(alphabet="abc ]{[}", max_size=12),
        st.booleans(),
    ),
    # level soup
    st.builds("".join, st.lists(st.sampled_from(LEVEL_PARTS), max_size=8)),
    # arbitrary junk
    st.text(alphabet="abcERROR[]{}:1 .\t\xa0\u3000", max_size=40),
)


@pytest.mark.slow
@settings(max_examples=MAX_EXAMPLES, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(line_st, min_size=1, max_size=25))
def test_parse_matches_python_reference(spark, lines):
    lines = [ln for ln in lines if len(ln) > 0]
    if not lines:
        return
    df = spark.createDataFrame([(ln,) for ln in lines], "text string")
    cols = ["text", "level", "bucket", "message", "error_type", "msg_key"]
    got = {tuple(r[c] for c in cols) for r in with_parsed(df).select(*cols).collect()}
    want = set()
    for ln in lines:
        parsed = oracle_ref.parse_line(ln, "auto")
        level = oracle_ref.extract_level(ln, parsed.get("level"))
        ts = oracle_ref.extract_ts(ln, parsed.get("ts"))
        em = oracle_ref.ERR_RE.search(ln)
        want.add(
            (ln, level, ts[:13], parsed["message"],
             em.group(1) if em else "", oracle_ref.msg_key(ln))
        )
    assert got == want


# ---------------------------------------------------------------------------
# quality-filter twin fuzz: Spark expressions vs the DuckDB dialect twin on
# generated documents (exotic whitespace, punctuation runs, empty/short docs)
# — fuzzes the dialect space where the round-4 review found latent \s
# divergences, beyond what the fixture corpus can exercise.
# ---------------------------------------------------------------------------

doc_st = st.text(
    alphabet=(
        "abc THE the and of to in is that for !?*#.,123"
        "\t\n\x0b\f\r\xa0 　"  # incl. the Java-vs-RE2 \s divergence chars
        "é中ß"  # non-ASCII letters: word-boundary + punct-class behavior
    ),
    max_size=80,
)


@pytest.mark.slow
@settings(max_examples=MAX_EXAMPLES, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(doc_st, min_size=1, max_size=20))
def test_quality_filter_matches_duckdb_twin(spark, docs):
    import duckdb
    import importlib.util

    spec = importlib.util.spec_from_file_location("entry_fuzz", "/root/repo/__spark_entry__.py")
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)

    from timberjack_spark.functions.text import quality_filter

    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["reasons"], r["keep"])
        for r in quality_filter(df).collect()
    }

    con = duckdb.connect()
    con.register("docs_src", __import__("pandas").DataFrame(rows, columns=["doc_id", "text"]))
    con.execute("CREATE VIEW documents AS SELECT * FROM docs_src")
    sql = entry._oracle_sql_base()["d_quality_filter"]
    expected = {
        int(r[0]): (int(r[1]), r[2], bool(r[3]))
        for r in con.execute(sql).fetchall()
    }
    assert got == expected


@pytest.mark.slow
@settings(max_examples=max(MAX_EXAMPLES // 2, 10), deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.one_of(st.none(), doc_st), min_size=1, max_size=20))
def test_quality_filter_v2_matches_duckdb_twin(spark, docs):
    """Same dialect-space fuzz for the v2 twin (Gopher repetition rules +
    null_text short-circuit): nulls mixed in fuzz the NULL-semantics edge the
    r04 advice flagged, and low thresholds make high_dup/top_token_dominance
    actually fire on the tiny generated docs."""
    import importlib.util

    import duckdb

    spec = importlib.util.spec_from_file_location("entry_fuzz2", "/root/repo/__spark_entry__.py")
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)

    from timberjack_spark.functions.text import quality_filter

    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["reasons"], r["keep"])
        for r in quality_filter(df, max_dup_frac=0.3, max_top_frac=0.4).collect()
    }

    con = duckdb.connect()
    con.register("docs_src", __import__("pandas").DataFrame(rows, columns=["doc_id", "text"]))
    con.execute("CREATE VIEW documents AS SELECT * FROM docs_src")
    sql = entry._quality_filter_sql(max_dup_frac=0.3, max_top_frac=0.4)
    expected = {
        int(r[0]): (int(r[1]), r[2], bool(r[3]))
        for r in con.execute(sql).fetchall()
    }
    assert got == expected


@pytest.mark.slow
@settings(max_examples=max(MAX_EXAMPLES // 2, 10), deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(doc_st, min_size=1, max_size=15))
def test_doc_repetition_matches_duckdb_twin(spark, docs):
    """Tokenizer-parity fuzz for the repetition twin: r05 switched the engine
    side of d_doc_repetition from F.trim (ASCII space only) to ws_trim (full
    Unicode White_Space, matching the oracle's explicit charset) — ADVICE r04
    found exactly this divergence latent because the fixture has no exotic
    framing; the fuzz alphabet does."""
    import importlib.util

    import duckdb

    spec = importlib.util.spec_from_file_location("entry_fuzz3", "/root/repo/__spark_entry__.py")
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)

    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # _q_doc_repetition takes (spark, sf_dir); run the same expressions over
    # the in-memory fuzz df instead (kept in sync with __spark_entry__)
    from pyspark.sql import functions as F
    from timberjack_spark.functions.extract import ws_trim
    from timberjack_spark.plans import oracle as osql

    c = (
        df.select("doc_id", F.explode(F.split(ws_trim(F.col("text")), osql.WS_CLASS_RE + "+")).alias("tk"))
        .groupBy("doc_id", "tk")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    a = c.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("top_cnt"),
    )
    eng = a.select(
        "doc_id", "n_tokens", "n_distinct",
        F.round(F.lit(1) - F.col("n_distinct") / F.col("n_tokens"), 6).alias("dup_frac"),
        F.round(F.col("top_cnt") / F.col("n_tokens"), 6).alias("top_frac"),
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_distinct"], r["dup_frac"], r["top_frac"])
        for r in eng.collect()
    }
    con = duckdb.connect()
    con.register("docs_src", __import__("pandas").DataFrame(rows, columns=["doc_id", "text"]))
    con.execute("CREATE VIEW documents AS SELECT * FROM docs_src")
    sql = entry._oracle_sql_base()["d_doc_repetition"]
    expected = {
        int(r[0]): (int(r[1]), int(r[2]), float(r[3]), float(r[4]))
        for r in con.execute(sql).fetchall()
    }
    assert got == expected


@pytest.mark.slow
@settings(max_examples=max(MAX_EXAMPLES // 3, 8), deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(doc_st, min_size=2, max_size=12))
def test_decontaminate_matches_duckdb_twin(spark, docs):
    """Same dialect-space fuzz for the decontamination twin: n-gram
    construction, null/short-doc fallbacks and the IN-vs-semi-join hit
    counting must agree on whitespace-exotic documents."""
    import importlib.util

    import duckdb
    import pandas as _pd

    spec = importlib.util.spec_from_file_location("entry_fuzz2", "/root/repo/__spark_entry__.py")
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)

    from pyspark.sql import functions as F

    from timberjack_spark.operators.dedup import decontaminate_flags

    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_eval_grams_hit"], r["contaminated"])
        for r in decontaminate_flags(
            df.filter(F.col("doc_id") % 7 != 0), df.filter(F.col("doc_id") % 7 == 0), n=8
        ).collect()
    }

    con = duckdb.connect()
    con.register("docs_src", _pd.DataFrame(rows, columns=["doc_id", "text"]))
    con.execute("CREATE VIEW documents AS SELECT * FROM docs_src")
    expected = {
        int(r[0]): (int(r[1]), bool(r[2]))
        for r in con.execute(entry._oracle_sql_base()["d_contam_flags"]).fetchall()
    }
    assert got == expected


@pytest.mark.slow
@settings(max_examples=MAX_EXAMPLES, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.one_of(st.none(), doc_st), min_size=1, max_size=15))
def test_span_dedup_matches_duckdb_twin(spark, docs):
    """Tokenizer + rebuild parity for the span-dedup twin over the exotic-WS
    alphabet (null text must behave as '' in BOTH engines — the engine side
    coalesces in the Arrow chunker, the oracle in SQL)."""
    import importlib.util

    import duckdb

    spec = importlib.util.spec_from_file_location("entry_fuzz_span", "/root/repo/__spark_entry__.py")
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    from timberjack_spark.operators.dedup import span_dedup

    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["n_kept"], r["n_spans"])
        for r in span_dedup(df, w=13).collect()
    }
    con = duckdb.connect()
    con.register("docs_src", __import__("pandas").DataFrame(rows, columns=["doc_id", "text"]))
    con.execute("CREATE VIEW documents AS SELECT * FROM docs_src")
    expected = {
        int(r[0]): (r[1], int(r[2]), int(r[3]))
        for r in con.execute(entry._oracle_sql_base()["d_span_dedup"]).fetchall()
    }
    assert got == expected


@pytest.mark.slow
@settings(max_examples=max(MAX_EXAMPLES // 2, 10), deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.one_of(st.none(), doc_st), min_size=1, max_size=15))
def test_chunk_documents_matches_duckdb_twin(spark, docs):
    """Tokenizer-parity fuzz for the chunking twin: window slicing must cut
    at identical token boundaries under exotic whitespace / null / empty
    docs (the engine uses ws_trim + WS-class split, the oracle the explicit
    charset + regexp_split_to_array)."""
    import importlib.util

    import duckdb

    spec = importlib.util.spec_from_file_location("entry_fuzz_ch", "/root/repo/__spark_entry__.py")
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)

    from timberjack_spark.operators.chunks import chunk_documents

    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["chunk_idx"]): (r["n_tokens"], r["chunk_text"])
        for r in chunk_documents(df, window=64, stride=48).collect()
    }
    con = duckdb.connect()
    con.register("docs_src", __import__("pandas").DataFrame(rows, columns=["doc_id", "text"]))
    con.execute("CREATE VIEW documents AS SELECT * FROM docs_src")
    sql = entry._oracle_sql_base()["d_chunk_docs"]
    expected = {
        (int(r[0]), int(r[1])): (int(r[2]), r[3]) for r in con.execute(sql).fetchall()
    }
    assert got == expected


@pytest.mark.slow
@settings(max_examples=max(MAX_EXAMPLES // 2, 10), deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.one_of(st.none(), doc_st), min_size=1, max_size=15))
def test_tfidf_topk_matches_duckdb_twin(spark, docs):
    """Ranking-parity fuzz for the tf/df twin: the single-division rank key
    plus term-string tiebreak must order identically in both engines for any
    tokenization the alphabet can produce (ties are common on tiny docs)."""
    import importlib.util

    import duckdb

    spec = importlib.util.spec_from_file_location("entry_fuzz_tf", "/root/repo/__spark_entry__.py")
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)

    from timberjack_spark.operators.keywords import tfidf_top_terms

    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["rank"]): (r["term"], r["tf"], r["df"])
        for r in tfidf_top_terms(df, k=3).collect()
    }
    con = duckdb.connect()
    con.register("docs_src", __import__("pandas").DataFrame(rows, columns=["doc_id", "text"]))
    con.execute("CREATE VIEW documents AS SELECT * FROM docs_src")
    sql = entry._oracle_sql_base()["d_tfidf_topk"]
    expected = {
        (int(r[0]), int(r[4])): (r[1], int(r[2]), int(r[3]))
        for r in con.execute(sql).fetchall()
    }
    assert got == expected


@pytest.mark.slow
@settings(max_examples=max(MAX_EXAMPLES // 2, 10), deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.one_of(st.none(), doc_st), min_size=1, max_size=15))
def test_length_histogram_matches_duckdb_twin(spark, docs):
    """Bucket-parity fuzz: length(bin(n)) bucketing and the 0-token bucket
    must agree for any token count the alphabet produces."""
    import importlib.util

    import duckdb

    spec = importlib.util.spec_from_file_location("entry_fuzz_lh", "/root/repo/__spark_entry__.py")
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)

    from timberjack_spark.functions.text import length_histogram

    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["bucket"]: (r["n_docs"], r["total_tokens"], r["min_tokens"], r["max_tokens"])
        for r in length_histogram(df).collect()
    }
    con = duckdb.connect()
    con.register("docs_src", __import__("pandas").DataFrame(rows, columns=["doc_id", "text"]))
    con.execute("CREATE VIEW documents AS SELECT * FROM docs_src")
    sql = entry._oracle_sql_base()["d_length_histogram"]
    expected = {
        int(r[0]): (int(r[1]), int(r[2]), int(r[3]), int(r[4]))
        for r in con.execute(sql).fetchall()
    }
    assert got == expected
