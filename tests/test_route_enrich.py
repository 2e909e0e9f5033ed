"""Enrich join, router fan-out, ordering, and resumable checkpointed writes."""

import json
import re

import pytest

import oracle_ref
from timberjack_spark.fixtures import dim_role_df, dim_tool_df, transcripts_pandas
from timberjack_spark.functions.extract import with_parsed
from timberjack_spark.operators.enrich import enrich
from timberjack_spark.operators.ordering import salted_count_by, with_turn_order
from timberjack_spark.operators.route import sink_counts, with_category
from timberjack_spark.sources.checkpoint import completed_buckets, run_resumable_fanout

N = 2600
ANOM = re.compile(r"(timeout|OutOfMemoryError|rate limit exceeded|query took)")


def py_category(row):
    """Independent per-row router oracle."""
    line = row["text"]
    parsed = oracle_ref.parse_line(line, "auto")
    lv = oracle_ref.extract_level(line, parsed["level"])
    err = oracle_ref.ERR_RE.search(line)
    if lv.upper() in ("ERROR", "SEVERE") or err:
        return "errors"
    if row["tool"] != "" or row["role"] == "tool":
        return "tool-calls"
    if ANOM.search(line):
        return "anomalies"
    return "dialogue"


@pytest.fixture(scope="module")
def routed(spark):
    pdf = transcripts_pandas(N)
    df = with_category(with_parsed(spark.createDataFrame(pdf)))
    expected = pdf.apply(py_category, axis=1).value_counts().to_dict()
    return pdf, df, expected


def test_sink_counts_match_oracle(routed):
    _, df, expected = routed
    got = {r["category"]: r["cnt"] for r in sink_counts(df).collect()}
    assert got == expected
    assert sum(got.values()) == N  # every row lands in exactly one sink
    assert set(got) == {"errors", "tool-calls", "anomalies", "dialogue"}  # all sinks non-empty


def test_enrich_broadcast_join_conserves_rows(spark, routed):
    _, df, _ = routed
    e = enrich(df, dim_role_df(spark), dim_tool_df(spark))
    assert e.count() == N
    plan = e._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # all fixture roles/tools resolve
    assert e.filter("role_group IS NULL OR tool_family IS NULL").count() == 0
    agents = e.filter("is_agent").select("role").distinct()
    assert {r["role"] for r in agents.collect()} == {"assistant", "tool"}


def test_turn_order_stable(spark, routed):
    pdf, df, _ = routed
    ordered = with_turn_order(df).filter("conv_id = 'conv-000000'")
    rows = ordered.select("turn_idx", "turn_rank").orderBy("turn_rank").collect()
    assert [r["turn_idx"] for r in rows] == sorted(pdf[pdf.conv_id == "conv-000000"].turn_idx)
    assert [r["turn_rank"] for r in rows] == list(range(1, len(rows) + 1))


def test_salted_count_matches_plain(spark, routed):
    _, df, _ = routed
    plain = {r["conv_id"]: r["cnt"] for r in
             df.groupBy("conv_id").count().withColumnRenamed("count", "cnt").collect()}
    salted = {r["conv_id"]: r["cnt"] for r in salted_count_by(df, "conv_id").collect()}
    assert salted == plain


def test_salted_count_on_events(spark):
    """salt_src parameterization: the salting operators work on non-transcript
    frames (events has no turn_idx — salt derives from event_id)."""
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plain = {r["event_type"]: r["cnt"] for r in
             ev.groupBy("event_type").count().withColumnRenamed("count", "cnt").collect()}
    salted = {
        r["event_type"]: r["cnt"]
        for r in salted_count_by(ev, "event_type", salt_src="event_id").collect()
    }
    assert salted == plain


def test_resumable_fanout_exactly_once(spark, routed, tmp_path):
    _, df, expected = routed
    base = str(tmp_path / "ckpt")
    df2 = df.drop("ts")

    # crash after 1 commit group of 2 buckets
    with pytest.raises(RuntimeError, match="injected failure"):
        run_resumable_fanout(df2, base, n_buckets=8, commit_group_size=2, fail_after_groups=1)
    done_after_crash = completed_buckets(base)
    assert 0 < len(done_after_crash) < 8

    # resume: completes the rest, skips done buckets
    out = run_resumable_fanout(df2, base, n_buckets=8)
    assert sorted(out["skipped"]) == sorted(done_after_crash)
    assert len(out["processed"]) == 8 - len(done_after_crash)

    # exact-once: totals match and the data on disk matches row-for-row
    assert out["counts"] == expected
    on_disk = spark.read.parquet(base + "/data")
    assert on_disk.count() == N
    got = {r["category"]: r["cnt"] for r in sink_counts(on_disk).collect()}
    assert got == expected

    # idempotent re-run: nothing to do, same totals
    again = run_resumable_fanout(df2, base, n_buckets=8)
    assert again["processed"] == [] and again["counts"] == expected

    # ledger carries lineage/metrics per bucket
    rec = next(iter(completed_buckets(base).values()))
    assert {"bucket", "counts", "rows", "elapsed_sec", "completed_at"} <= rec.keys()


def test_resumable_fanout_audit_readback(routed, tmp_path):
    """audit_readback re-reads the written sinks and raises on divergence; a
    clean run passes it and returns the same counts."""
    _, df, expected = routed
    out = run_resumable_fanout(df.drop("ts"), str(tmp_path / "audited"), n_buckets=4,
                               audit_readback=True)
    assert sorted(out["processed"]) == [0, 1, 2, 3]
    assert out["counts"] == expected
