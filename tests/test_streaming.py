"""Streaming flavor: stream==batch equivalence + stateful operator."""

import json

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from timberjack_spark.fixtures import transcripts_df
from timberjack_spark.functions.extract import with_parsed
from timberjack_spark.operators.route import with_category
from timberjack_spark.streaming.pipeline import (
    conv_session_stats,
    drain,
    routed_stream,
    run_session_stats_once,
    run_stream_dedup_once,
    run_stream_once,
    stream_source,
)

N = 5000


@pytest.fixture(scope="module")
def src_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("stream_src") / "transcripts")
    transcripts_df(spark, N, partitions=8).write.parquet(d)
    return d


def test_stream_equals_batch(spark, src_dir):
    got = {
        (r["win_start"], r["level"]): r["cnt"]
        for r in run_stream_once(spark, src_dir, query_name="t_stream_eq").collect()
    }
    batch = with_parsed(spark.read.parquet(src_dir))
    expected = {
        (r["win_start"], r["level"]): r["cnt"]
        for r in batch.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("win_start"), "level"
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert got == expected


def test_stream_dedup_equals_batch_distinct(spark, src_dir):
    """Streaming exact dedup emits every distinct msg_key exactly once: the
    drained rows equal SELECT DISTINCT msg_key over the same files."""
    out = [r["msg_key"] for r in run_stream_dedup_once(
        spark, src_dir, query_name="t_stream_dedup").collect()]
    with_parsed(spark.read.parquet(src_dir)).createOrReplaceTempView("t_dedup_batch")
    want = {r["msg_key"] for r in spark.sql("SELECT DISTINCT msg_key FROM t_dedup_batch").collect()}
    assert len(out) == len(set(out))
    assert set(out) == want


def test_drain_restores_shuffle_partitions(spark, src_dir, tmp_path):
    """The state-partition pin binds the stream at start and the session
    value comes back both after a normal start and when .start() raises."""
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    ckpt = tmp_path / "ckpt"
    run_stream_once(
        spark, src_dir, query_name="t_pin_ok", checkpoint_dir=str(ckpt), state_partitions=3
    )
    assert spark.conf.get(key) == before
    # the stream recorded the pinned value in its first offset-log entry
    meta = json.loads((ckpt / "t_pin_ok" / "offsets" / "0").read_text().splitlines()[1])
    assert meta["conf"][key] == "3"
    # no explicit value: one state-store instance per core
    run_stream_once(spark, src_dir, query_name="t_pin_default", checkpoint_dir=str(ckpt))
    assert spark.conf.get(key) == before
    meta = json.loads((ckpt / "t_pin_default" / "offsets" / "0").read_text().splitlines()[1])
    assert meta["conf"][key] == str(spark.sparkContext.defaultParallelism)
    # complete mode needs an aggregation: .start() rejects this plan
    with pytest.raises(AnalysisException):
        drain(
            stream_source(spark, src_dir).select("conv_id"),
            "t_pin_bad", "complete", state_partitions=5,
        )
    assert spark.conf.get(key) == before


def test_stream_session_windows_equals_batch(spark, tmp_path_factory):
    """Session-window agg drained as a multi-batch stream == the SAME
    aggregation run in batch (shared program: session_windows_agg), on data
    whose sessions genuinely straddle the micro-batch file boundaries."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from timberjack_spark.streaming.pipeline import (
        run_stream_session_windows_once,
        session_windows_agg,
    )

    d = tmp_path_factory.mktemp("sesswin_src")
    # 3 users x 200 events, 10-min steps (< the 30-min gap, so each user is
    # ONE long session) split across 4 time-ordered files: every file boundary
    # splits an open session, forcing the cross-batch merge path
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i * 3 + u, t0 + dt.timedelta(minutes=10 * i + u), u, "click", 1.0, "{}")
        for i in range(200)
        for u in range(3)
    ]
    rows.sort(key=lambda r: r[1])
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows]),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows]),
        }
    )
    step = 150
    for i in range(4):
        pq.write_table(tbl.slice(i * step, step), str(d / f"part-{i:03d}.parquet"))

    got = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in run_stream_session_windows_once(
            spark, str(d), query_name="t_stream_sesswin", max_files_per_trigger=1
        ).collect()
    }
    expected = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in session_windows_agg(spark.read.parquet(str(d))).collect()
    }
    assert got == expected
    # the merge actually happened: one session of 200 events per user
    assert sorted(got.values()) == [200, 200, 200]


def _batch_session_stats(df):
    """The batch oracle: conv_id -> (n_turns, n_errors, last_turn_idx)."""
    batch = with_category(with_parsed(df))
    return {
        r["conv_id"]: (r["n_turns"], r["n_errors"], r["last_turn_idx"])
        for r in batch.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum((F.col("category") == "errors").cast("long")).alias("n_errors"),
            F.max("turn_idx").cast("long").alias("last_turn_idx"),
        )
        .collect()
    }


def _final_session_stats(out):
    """Update mode emits a row per conversation per micro-batch that touched
    it; the totals only grow, so the latest row is the largest tuple."""
    last = {}
    for r in out.collect():
        cur = (r["n_turns"], r["n_errors"], r["last_turn_idx"])
        last[r["conv_id"]] = max(cur, last.get(r["conv_id"], cur))
    return last


def test_stateful_session_stats(spark, src_dir, capsys):
    expected = _batch_session_stats(spark.read.parquet(src_dir))
    single = run_session_stats_once(spark, src_dir, query_name="t_sessions")
    assert _final_session_stats(single) == expected

    # 8 files at 2 per trigger: four micro-batches, so every conversation's
    # totals are carried across batches in the state store
    parsed = routed_stream(stream_source(spark, src_dir, max_files=2))
    multi = drain(conv_session_stats(parsed), "t_sessions_multi", "update")
    assert multi.count() > len(expected)  # conversations re-emitted by later batches
    assert _final_session_stats(multi) == expected

    # native aggregate: map-side partial aggregation below the state
    # exchange, and no Python operator anywhere in the plan
    conv_session_stats(parsed).explain()
    plan = capsys.readouterr().out
    assert "FlatMapGroupsInPandasWithState" not in plan
    assert "StateStoreSave" in plan
    below_exchange = plan[plan.index("Exchange hashpartitioning(conv_id"):]
    assert "HashAggregate(keys=[conv_id" in below_exchange
    assert "partial_count(1)" in below_exchange


def test_session_stats_null_text(spark, tmp_path):
    """Null text parses to a null error flag; it counts as a turn and never as
    an error, so an all-null conversation reports n_errors 0, not NULL."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    texts = {
        "conv-a": ["2024-01-01 00:00:00,000 [ERROR] disk full", None, "hello there"],
        "conv-b": [None, None],
    }
    rows = [(c, i, t) for c, ts in texts.items() for i, t in enumerate(ts)]
    pq.write_table(
        pa.table(
            {
                "conv_id": pa.array([r[0] for r in rows]),
                "turn_idx": pa.array([r[1] for r in rows], pa.int32()),
                "role": pa.array(["user"] * len(rows)),
                "text": pa.array([r[2] for r in rows], pa.string()),
                "tool": pa.array([""] * len(rows)),
                "ts": pa.array([dt.datetime(2024, 1, 1)] * len(rows), pa.timestamp("us")),
            }
        ),
        str(tmp_path / "part-0.parquet"),
    )
    got = _final_session_stats(
        run_session_stats_once(spark, str(tmp_path), query_name="t_sessions_null")
    )
    assert got == _batch_session_stats(spark.read.parquet(str(tmp_path)))
    assert got == {"conv-a": (3, 1, 2), "conv-b": (2, 0, 1)}


def test_stream_decontam_equals_batch(spark, tmp_path_factory):
    """Streaming decontamination (multi-batch drain) == the batch operator's
    contaminated set, on a corpus where contamination spans batch boundaries."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from timberjack_spark.operators.dedup import decontaminate_flags
    from timberjack_spark.streaming.pipeline import run_stream_decontam_once

    base = "alpha beta gamma delta epsilon zeta eta theta"
    docs = []
    for i in range(40):
        if i % 5 == 0:
            docs.append((i, f"lead{i} {base} tail{i}"))   # contains the eval 8-gram
        else:
            docs.append((i, f"doc {i} unique words nothing shared here at all {i}"))
    eval_rows = [(1000, base + " iota kappa")]

    d = tmp_path_factory.mktemp("decontam_src")
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in docs], pa.int64()),
            "text": pa.array([r[1] for r in docs]),
            "lang": pa.array(["en"] * len(docs)),
            "source": pa.array(["t"] * len(docs)),
            "n_chars": pa.array([len(r[1]) for r in docs], pa.int64()),
        }
    )
    step = 10
    for i in range(4):
        pq.write_table(tbl.slice(i * step, step), str(d / f"part-{i:03d}.parquet"))

    ev = spark.createDataFrame(eval_rows, "doc_id long, text string")
    got = {
        r["doc_id"]
        for r in run_stream_decontam_once(
            spark, str(d), ev, query_name="t_stream_decontam"
        ).collect()
    }
    batch = spark.createDataFrame(docs, "doc_id long, text string")
    expected = {
        r["doc_id"]
        for r in decontaminate_flags(batch, ev, n=8).filter("contaminated").collect()
    }
    assert got == expected
    assert got == {i for i in range(40) if i % 5 == 0}


def test_stream_quality_equals_batch(spark, tmp_path_factory):
    """Streaming quality gate (multi-file drain) == batch quality_filter on
    the same corpus — the stateless stream==batch contract."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from timberjack_spark.functions.text import quality_filter
    from timberjack_spark.streaming.pipeline import run_stream_quality_once

    docs = [
        (0, "the cat sat on the mat and that is a fine place for a cat to sit"),
        (1, "short doc"),
        (2, "!!!! ???? **** !!!! ???? **** the and of to in is that for"),
        (3, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (4, None),
    ] + [(i, f"doc number {i} with the usual words of a fine corpus in it") for i in range(5, 25)]
    d = tmp_path_factory.mktemp("quality_src")
    # two files -> two micro-batch inputs under availableNow
    for part, sel in (("a", docs[:12]), ("b", docs[12:])):
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in sel], pa.int64()),
                    "text": pa.array([r[1] for r in sel]),
                    "lang": pa.array(["en"] * len(sel)),
                    "source": pa.array(["t"] * len(sel)),
                    "n_chars": pa.array([len(r[1] or "") for r in sel], pa.int64()),
                }
            ),
            str(d / f"{part}.parquet"),
        )
    out = run_stream_quality_once(spark, str(d), query_name="t_stream_quality")
    got = {r["doc_id"]: (r["n_tokens"], r["reasons"], r["keep"]) for r in out.collect()}
    batch_df = spark.createDataFrame([(i, t) for i, t in docs], "doc_id long, text string")
    want = {r["doc_id"]: (r["n_tokens"], r["reasons"], r["keep"])
            for r in quality_filter(batch_df).collect()}
    assert got == want
    assert got[4] == (0, "null_text", False)  # null doc dropped in-stream too


def test_stream_ingest_dedup_equals_batch_anti_join(spark, tmp_path_factory):
    """Streaming novelty admission == batch md5 anti-join vs the static
    history: history re-crawls and exact copies are rejected, novel docs
    admitted; within-stream repeats both pass (pure per-row predicate)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from timberjack_spark.streaming.pipeline import run_stream_ingest_dedup_once

    history = [(100, "old page one"), (101, "old page two")]
    arrivals = [
        (0, "old page one"),      # exact re-crawl -> rejected
        (1, "brand new page"),    # admitted
        (2, "old page two"),      # rejected
        (3, "another new page"),  # admitted
        (4, "brand new page"),    # within-stream repeat -> still admitted
        (5, None),                # null text: md5 null never matches -> admitted
    ]
    d = tmp_path_factory.mktemp("ingest_src")
    for part, sel in (("a", arrivals[:3]), ("b", arrivals[3:])):
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in sel], pa.int64()),
                    "text": pa.array([r[1] for r in sel]),
                    "lang": pa.array(["en"] * len(sel)),
                    "source": pa.array(["t"] * len(sel)),
                    "n_chars": pa.array([len(r[1] or "") for r in sel], pa.int64()),
                }
            ),
            str(d / f"{part}.parquet"),
        )
    hist_df = spark.createDataFrame(history, "doc_id long, text string")
    out = run_stream_ingest_dedup_once(spark, str(d), hist_df, query_name="t_stream_ingest")
    got = sorted(r["doc_id"] for r in out.collect())
    assert got == [1, 3, 4, 5]
