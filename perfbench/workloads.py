"""The benchmark workloads.

Each workload drives the engine only through its public functions and has

* ``run(spark, input_dir, scratch)`` — one timed iteration, returning its output;
* ``reference(spark, input_dir)`` — the expected output on the same files,
  computed once per input (DuckDB for the batch workloads, the batch
  ``groupBy`` for the streaming one);
* ``check(spark, out, ref)`` — a list of mismatches (empty when correct);
* ``trace(spark, input_dir, scratch, tracer, rnd)`` — one round of layer spans
  for the traced run, returning the round's own counters.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

import reference
from timberjack_spark.api import Timber
from timberjack_spark.fixtures import dim_role_df, dim_tool_df
from timberjack_spark.functions.extract import with_parsed
from timberjack_spark.operators.analyze import LogQuery, analyze, collect_report, matched
from timberjack_spark.operators.enrich import enrich
from timberjack_spark.operators.route import with_category
from timberjack_spark.sources.checkpoint import completed_buckets, run_resumable_fanout
from timberjack_spark.streaming.pipeline import run_session_stats_once, run_stream_once


def sink(df, cols=None) -> None:
    """Consume ``cols`` of ``df`` (all of them by default): an xor of row
    hashes cannot be pruned by Catalyst the way a bare ``count()`` lets it
    drop unused projections."""
    df.select(F.bit_xor(F.xxhash64(*(cols or df.columns))).alias("h")).collect()


def prefix_spans(tracer, rnd, source, layers) -> None:
    """One span per pipeline prefix: scan ``source``, then each ``(layer,
    frame)`` in turn, every sink consuming the columns of all earlier sinks
    plus those the layer adds, so each prefix does strictly more work."""
    cols = list(source.columns)
    with tracer.span("sources.scan", rnd):
        sink(source, cols)
    for layer, frame in layers:
        cols += [c for c in frame.columns if c not in cols]
        with tracer.span(layer, rnd):
            sink(frame, cols)


def _diff(name: str, got, want) -> list[str]:
    return [] if got == want else [f"{name}: got {str(got)[:200]} want {str(want)[:200]}"]


class RouteScan:
    """parse -> route -> enrich -> groupBy(category, level) over the corpus."""

    name = "route_scan"
    n_files = 512

    def run(self, spark, input_dir, scratch):
        df = spark.read.parquet(input_dir)
        routed = enrich(with_category(with_parsed(df)), dim_role_df(spark), dim_tool_df(spark))
        rows = routed.groupBy("category", "level").agg(F.count(F.lit(1)).alias("cnt")).collect()
        return {(r["category"], r["level"]): r["cnt"] for r in rows}

    def reference(self, spark, input_dir):
        return reference.route_counts(input_dir)

    def check(self, spark, out, ref):
        return _diff("route counts", out, ref)

    def trace(self, spark, input_dir, scratch, tracer, rnd):
        df = spark.read.parquet(input_dir)
        parsed = with_parsed(df)
        routed = with_category(parsed)
        enriched = enrich(routed, dim_role_df(spark), dim_tool_df(spark))
        prefix_spans(tracer, rnd, df, [
            ("functions.extract.parse", parsed),
            ("operators.route", routed),
            ("operators.enrich", enriched),
        ])
        # the aggregate's own prefix: the same plan, sinking only its inputs
        with tracer.span("operators.aggregates.input", rnd):
            sink(enriched, ["category", "level"])
        with tracer.span("e2e", rnd):
            out = self.run(spark, input_dir, scratch)
        rows: dict[str, int] = {}
        for (c, _), n in out.items():
            rows[c] = rows.get(c, 0) + n
        return {"out": out, "rows": rows}


class ReportFanout:
    """Timber report, then a resumable fan-out that crashes half-way and resumes."""

    name = "report_fanout"
    n_files = 32
    n_buckets = 4
    group = 2
    crash_after = 1

    def _query(self):
        return LogQuery(trends=True, stats=True, show_unique=True)

    def _fanout(self, spark, df, base, q):
        enriched = enrich(with_category(matched(df, q)), dim_role_df(spark), dim_tool_df(spark))
        try:
            run_resumable_fanout(
                enriched, base, n_buckets=self.n_buckets,
                commit_group_size=self.group, fail_after_groups=self.crash_after,
            )
            crashed = False
        except RuntimeError as e:
            if "injected failure" not in str(e):
                raise
            crashed = True
        return enriched, crashed

    def run(self, spark, input_dir, scratch):
        df = spark.read.parquet(input_dir)
        doc = Timber.over(df).trend().stats(show_unique=True).report()
        base = os.path.join(scratch, "fanout")
        shutil.rmtree(base, ignore_errors=True)
        enriched, crashed = self._fanout(spark, df, base, self._query())
        resumed = run_resumable_fanout(
            enriched, base, n_buckets=self.n_buckets, commit_group_size=self.group
        )
        return {"doc": doc, "crashed": crashed, "resumed": resumed, "base": base}

    def reference(self, spark, input_dir):
        return reference.report(input_dir)

    def check(self, spark, out, ref):
        doc, st = out["doc"], out["doc"]["stats"]
        bad = _diff("total_count", doc["total_count"], ref["total_count"])
        bad += _diff(
            "matched_lines",
            [(m["line"], m["count"]) for m in doc["matched_lines"]],
            [tuple(r) for r in ref["matched_lines"]],
        )
        bad += _diff(
            "time_trends",
            [(t["timestamp"], t["count"]) for t in doc["time_trends"]],
            [tuple(r) for r in ref["time_trends"]],
        )
        bad += _diff("log_levels", [(x["level"], x["count"]) for x in st["log_levels"]],
                     [tuple(r) for r in ref["log_levels"]])
        bad += _diff(
            "error_types",
            [(x["error_type"], x["count"], x["rank"]) for x in st["error_types"]],
            [(e, n, i + 1) for i, (e, n) in enumerate(ref["error_types"])],
        )
        bad += _diff("unique_messages_count", st["unique_messages_count"], ref["unique_messages_count"])
        bad += _diff("unique_messages", st["unique_messages"], sorted(ref["unique_messages"]))
        bad += self._check_fanout(spark, out, ref)
        return bad

    def _check_fanout(self, spark, out, ref):
        """Exactly-once: the crash left some buckets committed, the resume
        wrote only the rest, and ledger and sink totals equal the clean counts."""
        res = out["resumed"]
        n_done = self.group * self.crash_after
        bad = _diff("crashed", out["crashed"], True)
        bad += _diff("buckets committed before the crash", len(res["skipped"]), n_done)
        bad += _diff("buckets written on resume", sorted(res["processed"] + res["skipped"]),
                     list(range(self.n_buckets)))
        bad += _diff("ledger totals", res["counts"], ref["sink_counts"])
        written = readback(spark, out["base"])
        sinks: dict[str, int] = {}
        for (_, c), n in written.items():
            sinks[c] = sinks.get(c, 0) + n
        return bad + _diff("sink totals", sinks, ref["sink_counts"])

    def trace(self, spark, input_dir, scratch, tracer, rnd):
        q = self._query()
        df = spark.read.parquet(input_dir)
        prefix_spans(tracer, rnd, df, [("functions.extract.parse", matched(df, q))])
        frames = analyze(df, q, cache=True)
        try:
            with tracer.span("operators.analyze.cache", rnd):
                frames["matched"].count()
            with tracer.span("operators.aggregates", rnd):
                collect_report(frames, q)
        finally:
            frames["matched"].unpersist()
        base = os.path.join(scratch, f"trace_fanout_{rnd}")
        with tracer.span("sources.checkpoint.write", rnd):
            enriched, _ = self._fanout(spark, df, base, q)
        marked = completed_buckets(base)
        with tracer.span("sources.checkpoint.resume", rnd):
            resumed = run_resumable_fanout(
                enriched, base, n_buckets=self.n_buckets, commit_group_size=self.group
            )
        written = readback(spark, base)
        files = sum(
            f.endswith(".parquet") for _, _, fs in os.walk(os.path.join(base, "data")) for f in fs
        )
        per_bucket: dict[int, int] = {}
        for (b, _), n in written.items():
            per_bucket[b] = per_bucket.get(b, 0) + n
        unmarked = sum(n for b, n in per_bucket.items() if b not in marked)
        rewritten = sum(completed_buckets(base)[b]["rows"] for b in resumed["processed"])
        with tracer.span("e2e", rnd):
            out = self.run(spark, input_dir, scratch)
        return {
            "out": out, "rows": resumed["counts"], "files_written": files,
            "redo_ratio": rewritten / unmarked if unmarked else 0.0,
        }


def readback(spark, base):
    """(bucket, category) -> rows actually present in the fan-out sinks."""
    rows = (
        spark.read.parquet(os.path.join(base, "data"))
        .groupBy("bucket", "category").agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    return {(r["bucket"], r["category"]): r["cnt"] for r in rows}


class StreamState:
    """availableNow drains: windowed level counts, then per-conversation state."""

    name = "stream_state"
    n_files = 32

    def __init__(self):
        self.seq = 0

    def run(self, spark, input_dir, scratch, tag=None):
        self.seq += 1
        tag = tag or f"q{self.seq}"
        levels, sessions = f"levels_{tag}", f"sessions_{tag}"
        ckpt = os.path.join(scratch, f"ckpt_{tag}")
        try:
            win = run_stream_once(spark, input_dir, query_name=levels, checkpoint_dir=ckpt).collect()
            sess = run_session_stats_once(
                spark, input_dir, query_name=sessions, checkpoint_dir=ckpt
            ).collect()
        finally:
            for view in (levels, sessions):
                spark.catalog.dropTempView(view)
            shutil.rmtree(ckpt, ignore_errors=True)
        # update mode may emit a row per micro-batch: the latest is the largest
        last: dict[str, tuple] = {}
        for r in sess:
            cur = (r["n_turns"], r["n_errors"], r["last_turn_idx"])
            last[r["conv_id"]] = max(cur, last.get(r["conv_id"], cur))
        return {"windows": {(r["win_start"], r["level"]): r["cnt"] for r in win}, "sessions": last}

    def reference(self, spark, input_dir):
        batch = with_category(with_parsed(spark.read.parquet(input_dir)))
        windows = (
            batch.groupBy(F.date_trunc("hour", F.col("ts")).alias("w"), "level")
            .agg(F.count(F.lit(1)).alias("cnt")).collect()
        )
        sessions = batch.groupBy("conv_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("category") == "errors").cast("long")).alias("e"),
            F.max("turn_idx").cast("long").alias("t"),
        ).collect()
        return {
            "windows": {(r["w"], r["level"]): r["cnt"] for r in windows},
            "sessions": {r["conv_id"]: (r["n"], r["e"], r["t"]) for r in sessions},
        }

    def check(self, spark, out, ref):
        return _diff("windowed counts", out["windows"], ref["windows"]) + _diff(
            "session stats", out["sessions"], ref["sessions"]
        )

    def trace(self, spark, input_dir, scratch, tracer, rnd):
        df = spark.read.parquet(input_dir)
        prefix_spans(tracer, rnd, df, [("functions.extract.parse", with_parsed(df))])
        ckpt = os.path.join(scratch, f"trace_ckpt_{rnd}")
        levels, sessions = f"trace_levels_{rnd}", f"trace_sessions_{rnd}"
        tracer.queries[levels] = f"streaming.windowed#{rnd}"
        tracer.queries[sessions] = f"streaming.sessions#{rnd}"
        with tracer.span("streaming.windowed", rnd):
            run_stream_once(spark, input_dir, query_name=levels, checkpoint_dir=ckpt).collect()
        with tracer.span("streaming.sessions", rnd):
            run_session_stats_once(spark, input_dir, query_name=sessions, checkpoint_dir=ckpt).collect()
        for view in (levels, sessions):
            spark.catalog.dropTempView(view)
        shutil.rmtree(ckpt, ignore_errors=True)
        tag = f"trace_e2e_{rnd}"
        tracer.queries[f"levels_{tag}"] = tracer.queries[f"sessions_{tag}"] = f"e2e#{rnd}"
        with tracer.span("e2e", rnd):
            out = self.run(spark, input_dir, scratch, tag=tag)
        return {"out": out}


WORKLOADS = {w.name: w for w in (RouteScan, ReportFanout, StreamState)}
