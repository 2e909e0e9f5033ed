"""The traced run: layer spans, streaming progress and the event log.

Spark is lazy, so a layer cannot be timed inside one job.  Each span instead
times a prefix of the pipeline ending in a sink that consumes every column of
the earlier sinks plus those the layer adds (scan, then +parse, then +route,
...); a layer's self time is its span minus the span of its prefix.  Jobs launched inside a span carry the
job group ``<layer>#<round>`` so the event-log reduction can attribute stage
metrics to layers.  Spans and progress stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import traceback

import eventlog
from timberjack_spark.operators.route import CATEGORIES
from harness import MIN_ITERS, WARM_SHARE, Loop, log, median, references, set_up, wipe

# per-layer metrics of the documents workload (dedup, similarity), which this
# benchmark does not run: its inputs live outside the checkout
ABSENT = {
    m: "no documents workload: curation inputs are not part of the checkout"
    for m in (
        "operators.dedup.jobs", "operators.dedup.stages", "operators.dedup.pairs_out",
        "operators.dedup.max_over_median_task", "operators.similarity.jobs",
    )
}


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.queries: dict[str, str] = {}  # streaming query name -> layer tag
        self.progress: dict[str, list[dict]] = {}
        self.listener = _listener(self)
        spark.streams.addListener(self.listener)
        self._open: set[str] = set()

    @contextlib.contextmanager
    def span(self, layer: str, rnd: int):
        sc = self.spark.sparkContext
        sc.setJobGroup(f"{layer}#{rnd}", layer)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append({"layer": layer, "round": rnd, "start": start, "end": end,
                               "parent": f"round#{rnd}"})

    def seconds(self, layer: str, rnd: int) -> float | None:
        for s in self.spans:
            if s["layer"] == layer and s["round"] == rnd:
                return s["end"] - s["start"]
        return None

    def drain(self, timeout: float = 15.0) -> None:
        """Wait until the listener has seen every started query terminate."""
        end = time.time() + timeout
        while self._open and time.time() < end:
            time.sleep(0.05)


def _listener(tracer: Tracer):
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            tracer._open.add(str(event.id))

        def onQueryProgress(self, event):
            p = json.loads(event.progress.json)
            tracer.progress.setdefault(p.get("name") or "", []).append(p)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            tracer._open.discard(str(event.id))

    return Progress()


def streaming_metrics(progress: list[dict]) -> dict[str, float]:
    ops = [op for p in progress for op in p.get("stateOperators", [])]
    last = progress[-1].get("stateOperators", []) if progress else []
    return {
        "batches": sum(1 for p in progress if p.get("numInputRows", 0) > 0),
        "trigger_ms": sum(p["durationMs"].get("triggerExecution", 0) for p in progress),
        "add_batch_ms": sum(p["durationMs"].get("addBatch", 0) for p in progress),
        "state_rows": sum(op.get("numRowsTotal", 0) for op in last),
        "state_mem_bytes": sum(op.get("memoryUsedBytes", 0) for op in last),
        "state_commit_ms": sum(op.get("commitTimeMs", 0) for op in ops),
    }


def _sql(layer: dict | None, node: str, metric: str = "") -> float:
    if not layer:
        return 0.0
    return sum(v for k, v in layer["sql"].items() if k.startswith(node) and metric in k)


def round_metrics(wl, tracer: Tracer, red: dict, rnd: int, counters: dict) -> dict[str, float]:
    """Per-layer metrics of one traced round, keyed ``<module>.<metric>``."""
    zero = dict.fromkeys(eventlog.STAGE_KEYS, 0) | {"max_over_median_task": 0.0, "jobs": 0}

    def ev(layer):
        lay = red.get(f"{layer}#{rnd}")
        return eventlog.layer_totals(lay) if lay else zero

    def self_time(layer, prefix=None):
        span = tracer.seconds(layer, rnd)
        if span is None:
            return 0.0
        return span - (tracer.seconds(prefix, rnd) or 0.0) if prefix else span

    route_layer = "operators.route"
    m = {
        "sources.scan_s": self_time("sources.scan"),
        "sources.input_bytes": ev("sources.scan")["input_bytes"],
        "sources.scan_tasks": ev("sources.scan")["tasks"],
        "functions.extract.parse_s": self_time("functions.extract.parse", "sources.scan"),
        "operators.route.route_s": self_time(route_layer, "functions.extract.parse"),
        "operators.enrich.join_s": self_time("operators.enrich", route_layer),
        "operators.enrich.broadcast_bytes": _sql(red.get(f"e2e#{rnd}"), "BroadcastExchange", "data size"),
    }
    for cat in CATEGORIES:
        m[f"operators.route.rows.{cat}"] = counters.get("rows", {}).get(cat, 0)

    # the aggregate layer: collect_report over the cache for the report, the
    # groupBy of the e2e job (past its own input prefix) for the route scan
    if tracer.seconds("operators.aggregates", rnd) is not None:
        agg_s, agg = self_time("operators.aggregates"), ev("operators.aggregates")
    elif tracer.seconds("operators.enrich", rnd) is not None:
        agg_s, agg = self_time("e2e", "operators.aggregates.input"), ev("e2e")
    else:
        agg_s, agg = 0.0, zero
    m.update({
        "operators.aggregates.agg_s": agg_s,
        "operators.aggregates.shuffle_write_bytes": agg["shuffle_write_bytes"],
        "operators.aggregates.shuffle_read_bytes": agg["shuffle_read_bytes"],
        "operators.aggregates.fetch_wait_s": agg["fetch_wait_s"],
        "operators.aggregates.spill_bytes": agg["spill_bytes"],
        "operators.analyze.jobs": ev("operators.analyze.cache")["jobs"] + ev("operators.aggregates")["jobs"],
        "operators.analyze.cache_s": self_time("operators.analyze.cache", "functions.extract.parse")
        if tracer.seconds("operators.analyze.cache", rnd) is not None else 0.0,
    })

    write, resume = ev("sources.checkpoint.write"), ev("sources.checkpoint.resume")
    m.update({
        "sources.checkpoint.write_s": self_time("sources.checkpoint.write"),
        "sources.checkpoint.files_written": counters.get("files_written", 0),
        "sources.checkpoint.bytes_written": write["output_bytes"] + resume["output_bytes"],
        "sources.checkpoint.resume_s": self_time("sources.checkpoint.resume"),
        "sources.checkpoint.redo_ratio": counters.get("redo_ratio", 0.0),
    })

    progress = [
        p for name, layer in tracer.queries.items()
        if layer.startswith("streaming.") and layer.endswith(f"#{rnd}")
        for p in tracer.progress.get(name, [])
    ]
    sessions = red.get(f"streaming.sessions#{rnd}")
    m.update({f"streaming.pipeline.{k}": v for k, v in streaming_metrics(progress).items()})
    m.update({
        "streaming.pipeline.python_udf_s": ev("streaming.sessions")["python_udf_s"],
        "streaming.pipeline.arrow_bytes": sum(
            _sql(sessions, "FlatMapGroupsInPandasWithState", f"data {way} Python workers")
            for way in ("sent to", "returned from")
        ),
        "streaming.pipeline.max_over_median_task": ev("streaming.sessions")["max_over_median_task"],
        "jvm.gc_s": ev("e2e")["gc_s"],
    })
    return m


def traced(wl, args, box, sess, run_dir: str):
    cores = box["cores"]
    loop = Loop(wl, os.path.join(run_dir, "scratch"))
    wipe(loop.scratch)
    spark, inputs, _ = set_up(sess, wl, args.seed, cores, run_dir, loop.scratch, rounds=1)
    ref, ref_quarter = references(wl, spark, [inputs.full, inputs.quarter])
    # untraced baseline for the tracing overhead and the weak-scaling ratio,
    # after the same warm-up as an untraced run
    loop.block(spark, inputs.full, ref, args.seconds * WARM_SHARE, min_iters=1)
    untraced, _ = loop.block(spark, inputs.full, ref, 0)

    events = os.path.join(run_dir, "events")
    os.makedirs(events)
    spark = sess.start(cores, events=events)
    tracer = Tracer(spark)
    wl.run(spark, inputs.full, loop.scratch)
    wipe(loop.scratch)
    rounds: list[dict] = []
    end = time.perf_counter() + args.seconds
    while len(rounds) < MIN_ITERS - 1 or time.perf_counter() < end:
        rnd = len(rounds)
        try:
            counters = wl.trace(spark, inputs.full, loop.scratch, tracer, rnd)
            bad = wl.check(spark, counters["out"], ref)
        except Exception:
            counters, bad = {}, [traceback.format_exc()]
        loop.record(bad)
        rounds.append(counters)
        if not counters and loop.failed >= MIN_ITERS:
            break
    tracer.drain()

    # weak scaling: a quarter of the rows on a quarter of the cores, untraced;
    # the new context also stops the traced one, which closes its event log
    spark = sess.start(max(1, cores // 4))
    quarter, _ = loop.block(spark, inputs.quarter, ref_quarter, 0)
    (log_file,) = os.listdir(events)
    red = eventlog.reduce(os.path.join(events, log_file), tracer.queries)

    per_round = [round_metrics(wl, tracer, red, r, c) for r, c in enumerate(rounds) if c]
    metrics = {k: median([m[k] for m in per_round]) for k in METRICS}
    traced_e2e = [tracer.seconds("e2e", r) for r, c in enumerate(rounds) if c]
    metrics["session.start_s"] = median(sess.starts[1:])
    metrics["spark.failed_tasks"] = sum(
        eventlog.layer_totals(lay)["failed_tasks"] for lay in red.values()
    )
    metrics["trace.overhead_s"] = median(traced_e2e) - median(untraced)
    metrics["scale_eff"] = median(quarter) / median(untraced) if untraced else 0.0
    log(f"{wl.name}: untraced {untraced} traced {traced_e2e} quarter@{max(1, cores // 4)} {quarter}")
    log(f"{wl.name}: not measured: {ABSENT}")

    out_dir = os.path.join(os.path.dirname(run_dir), "traces")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{wl.name}-seed{args.seed}.json"), "w") as fh:
        json.dump({
            "box": box, "spans": tracer.spans, "progress": tracer.progress,
            "eventlog": {wl.name: red}, "rounds": per_round, "metrics": metrics,
            "untraced_wall_s": untraced, "traced_wall_s": traced_e2e,
            "quarter_wall_s": quarter, "absent": ABSENT,
        }, fh, indent=1, default=str)
    log(f"{wl.name}: trace written to {out_dir}")
    return loop, {k: (v, unit_of(k)) for k, v in metrics.items()}


def unit_of(name: str) -> str:
    for suffix, unit in (("_ms", "ms"), ("_s", "s")):
        if name.endswith(suffix):
            return unit
    if "bytes" in name.rsplit(".", 1)[-1]:
        return "bytes"
    return "ratio" if name.endswith(("ratio", "_task", "_eff")) else "count"


METRICS = [
    "sources.scan_s", "sources.input_bytes", "sources.scan_tasks",
    "functions.extract.parse_s",
    "operators.route.route_s", "operators.route.rows.errors", "operators.route.rows.tool-calls",
    "operators.route.rows.anomalies", "operators.route.rows.dialogue",
    "operators.enrich.join_s", "operators.enrich.broadcast_bytes",
    "operators.aggregates.agg_s", "operators.aggregates.shuffle_write_bytes",
    "operators.aggregates.shuffle_read_bytes", "operators.aggregates.fetch_wait_s",
    "operators.aggregates.spill_bytes",
    "operators.analyze.jobs", "operators.analyze.cache_s",
    "sources.checkpoint.write_s", "sources.checkpoint.files_written",
    "sources.checkpoint.bytes_written", "sources.checkpoint.resume_s",
    "sources.checkpoint.redo_ratio",
    "streaming.pipeline.batches", "streaming.pipeline.trigger_ms",
    "streaming.pipeline.add_batch_ms", "streaming.pipeline.state_rows",
    "streaming.pipeline.state_mem_bytes", "streaming.pipeline.state_commit_ms",
    "streaming.pipeline.python_udf_s", "streaming.pipeline.arrow_bytes",
    "streaming.pipeline.max_over_median_task",
    "jvm.gc_s",
]
