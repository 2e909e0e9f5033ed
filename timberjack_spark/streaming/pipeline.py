"""Structured Streaming flavor of the parse -> route -> aggregate pipeline.

The reference's stdin loop (src/main.rs:218-297) is a single-threaded line
stream; the Spark-native analog is the SAME DataFrame program bound to
``readStream`` — one logic, two execution modes. Late data is handled with a
watermark on ``ts``; windowed level counts mirror the batch trend histogram
(A4) under event-time semantics.

Seven stages, one drain. Every ``run_*_once`` builds its plan over
``stream_source`` and hands it to ``drain``, the single availableNow ->
memory-sink tail (checkpoint dir, state-partition pin, ``spark.table``
result). A stage keeps only what is its own: the plan, its output mode, its
state-partition value and any static side it materializes first. The stages:
windowed level counts, stateful conversation stats, session windows, exact
dedup, decontamination, quality gate and ingestion novelty filter — each
pinned stream == batch.

``conv_session_stats`` demonstrates a custom stateful operator
(``applyInPandasWithState``): per-conversation running statistics with a
processing-time timeout that flushes idle conversations — the streaming
equivalent of the per-conversation aggregates.
"""

from __future__ import annotations

import os
import tempfile

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions.extract import with_parsed
from ..operators.route import with_category

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampNTZType()),
    ]
)


def stream_source(
    spark: SparkSession,
    src_dir: str,
    max_files: int | None = None,
    schema: T.StructType = TRANSCRIPT_SCHEMA,
) -> DataFrame:
    """File-stream source over a parquet directory of ``schema`` rows (the
    sandbox stand-in for a Kafka/Iceberg-changelog source): transcripts by
    default, ``EVENTS_SCHEMA`` / ``DOCS_SCHEMA`` for the other stages.

    ``max_files`` bounds files per micro-batch — set it for continuous
    deployments where per-batch latency matters. Leave None for bounded
    availableNow drains: a cap there only serializes the drain into many
    micro-batches (measured: 128 files / cap 4 = 32 sequential batches, 3x the
    wall time) with zero correctness benefit. The one exception is
    run_stream_session_windows_once, which caps on purpose to force the
    cross-batch session merge.
    """
    reader = spark.readStream.schema(schema)
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", max_files)
    return reader.parquet(src_dir)


def routed_stream(src: DataFrame) -> DataFrame:
    """The batch parse+route program applied unchanged to a stream.

    ``ts`` is cast NTZ -> TIMESTAMP (session TZ is pinned UTC, so the instant
    is unchanged) because watermarks require an instant-typed event time.
    """
    return with_category(with_parsed(src.withColumn("ts", F.col("ts").cast("timestamp"))))


def windowed_level_counts(
    parsed: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Event-time windowed level histogram with late-data watermark."""
    return (
        parsed.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), F.col("level"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("win.start").cast("timestamp_ntz").alias("win_start"), "level", "cnt")
    )


def drain(
    df: DataFrame,
    query_name: str,
    output_mode: str,
    checkpoint_dir: str | None = None,
    state_partitions: int | None = None,
) -> DataFrame:
    """Run the streaming plan ``df`` to completion with an availableNow
    trigger into a memory sink named ``query_name`` and return that table.

    The checkpoint lives under ``checkpoint_dir/query_name`` (a fresh temp
    dir when None). ``state_partitions`` pins spark.sql.shuffle.partitions
    for the start only: the stream binds it at start, and the session value
    is restored in a ``finally`` even when ``.start()`` raises. Streaming
    state lives in one store instance PER shuffle partition, and a bounded
    drain pays that instance setup every run: the sf0.1 windowed drain
    measured 9.7 s at 64 partitions vs 2.0 s at 16 (identical result). Size
    state partitions to the stateful operator's key volume, not to the batch
    session's scan parallelism — at cluster scale you would RAISE this (one
    instance per executor core); the stateful stages' default 16 fits
    drain-sized state. None leaves the session value in force, which is what
    the stateless stages want.
    """
    spark = df.sparkSession
    checkpoint_dir = checkpoint_dir or tempfile.mkdtemp(prefix="tj_stream_ckpt_")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .option("checkpointLocation", os.path.join(checkpoint_dir, query_name))
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    q.awaitTermination()
    return spark.table(query_name)


def run_stream_once(
    spark: SparkSession,
    src_dir: str,
    query_name: str = "stream_levels",
    checkpoint_dir: str | None = None,
    state_partitions: int | None = 16,
) -> DataFrame:
    """Drain the source with an availableNow trigger into a memory sink and
    return the result table — used to pin stream==batch equivalence in tests.
    ``state_partitions`` sizes the stateful stage (see drain)."""
    return drain(
        windowed_level_counts(routed_stream(stream_source(spark, src_dir))),
        query_name, "complete", checkpoint_dir, state_partitions,
    )


# ---------------------------------------------------------------------------
# custom stateful operator
# ---------------------------------------------------------------------------

SESSION_STATE_SCHEMA = "n_turns LONG, n_errors LONG, last_turn_idx LONG"
SESSION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("n_turns", T.LongType()),
        T.StructField("n_errors", T.LongType()),
        T.StructField("last_turn_idx", T.LongType()),
    ]
)


def _make_update_fn(idle_timeout_ms: int | None):
    def update(key, pdfs, state: GroupState):
        (conv_id,) = key
        if state.hasTimedOut:
            # idle conversation: flush final stats and drop the state —
            # crucially do NOT re-arm the timeout, or an availableNow drain
            # would keep scheduling empty batches forever
            n_turns, n_errors, last_idx = state.get
            state.remove()
            yield pd.DataFrame(
                {"conv_id": [conv_id], "n_turns": [n_turns],
                 "n_errors": [n_errors], "last_turn_idx": [last_idx]}
            )
            return
        n_turns, n_errors, last_idx = state.get if state.exists else (0, 0, -1)
        for pdf in pdfs:
            n_turns += len(pdf)
            # _is_err is precomputed JVM-side (see conv_session_stats): the
            # python side sums a small int column instead of string-comparing
            # every category value per group — per-group time is the cost
            # driver of this stage (thousands of groups cross the boundary)
            n_errors += int(pdf["_is_err"].to_numpy().sum())
            if len(pdf):
                last_idx = max(last_idx, int(pdf["turn_idx"].to_numpy().max()))
        state.update((n_turns, n_errors, last_idx))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(
            {"conv_id": [conv_id], "n_turns": [n_turns],
             "n_errors": [n_errors], "last_turn_idx": [last_idx]}
        )

    return update


def conv_session_stats(parsed: DataFrame, idle_timeout_ms: int | None = None) -> DataFrame:
    """Stateful per-conversation running stats via applyInPandasWithState.

    ``idle_timeout_ms`` enables processing-time timeouts for continuous
    deployments (flush + evict idle conversations); leave None for bounded
    drains (availableNow), where a re-armed timeout would prevent termination.
    """
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if idle_timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    from ..operators.route import errors_pred

    return (
        parsed.select(
            "conv_id",
            "turn_idx",
            # error flag computed BEFORE the python boundary: ships one small
            # int instead of the category string and removes the per-group
            # pandas string compare (guide §4 — pass only what the fn needs).
            # errors_pred, not category == 'errors': identical by the
            # router's first-match contract, and it lets Catalyst prune the
            # whole category case-when (anomaly multi-contains, tool/role
            # compares) out of the per-row parse.
            errors_pred().cast("long").alias("_is_err"),
        )
        .groupBy("conv_id")
        .applyInPandasWithState(
            _make_update_fn(idle_timeout_ms),
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=timeout,
        )
    )


def run_session_stats_once(
    spark: SparkSession,
    src_dir: str,
    query_name: str = "conv_sessions",
    checkpoint_dir: str | None = None,
    state_partitions: int | None = 16,
) -> DataFrame:
    return drain(
        conv_session_stats(routed_stream(stream_source(spark, src_dir))),
        query_name, "update", checkpoint_dir, state_partitions,
    )


# ---------------------------------------------------------------------------
# streaming session windows — the F.session_window aggregation from the batch
# q_session_windows, run under the streaming engine. The API is shared between
# batch and streaming, so both modes run one program.
# ---------------------------------------------------------------------------

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def session_windows_agg(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """(user_id, session_start, n_events) via the built-in session_window —
    the SAME program the batch q_session_windows runs (one logic, two modes)."""
    return (
        events.groupBy(
            "user_id", F.session_window(F.col("ts").cast("timestamp"), gap).alias("w")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            "n_events",
        )
    )


def run_stream_session_windows_once(
    spark: SparkSession,
    events_path: str,
    query_name: str = "stream_sessions",
    checkpoint_dir: str | None = None,
    gap: str = "30 minutes",
    state_partitions: int | None = 16,
    max_files_per_trigger: int | None = 2,
) -> DataFrame:
    """Drain an events file-stream through the session-window aggregation.

    ``complete`` output mode (no watermark): a bounded drain must emit EVERY
    session, including those still open at end-of-stream — append mode only
    releases a session once the watermark passes its close, so the tail
    sessions of a bounded corpus would be withheld forever. Session state is
    kept un-evicted and merges events into open sessions across micro-batches;
    in a continuous deployment you would switch to append + withWatermark
    (same aggregation — the one-line difference is the eviction policy).

    ``max_files_per_trigger`` deliberately defaults ON here (unlike the other
    drains): availableNow would otherwise swallow the whole directory in one
    micro-batch and the cross-batch session-MERGE path — the thing this
    operator exists to exercise — would never run. The events fixture is tiny,
    so the serialized batches cost milliseconds.
    """
    src = stream_source(spark, events_path, max_files_per_trigger, EVENTS_SCHEMA)
    return drain(
        session_windows_agg(src, gap=gap), query_name, "complete", checkpoint_dir, state_partitions
    )


# ---------------------------------------------------------------------------
# streaming exact dedup — the training-pipeline "drop repeats as they arrive"
# stage. dropDuplicates keeps the FIRST arrival per key and holds one state
# row per distinct key; in a continuous deployment you would bound the state
# with dropDuplicatesWithinWatermark, for a bounded drain the exact variant
# is the contract (stream output == batch DISTINCT, which is the oracle).
# ---------------------------------------------------------------------------


def run_stream_dedup_once(
    spark: SparkSession,
    src_dir: str,
    query_name: str = "stream_dedup",
    checkpoint_dir: str | None = None,
    state_partitions: int | None = 16,
) -> DataFrame:
    """Drain the source, emitting each distinct parsed message template
    (msg_key) exactly once. Dedup on the template, not the raw line: raw log
    lines are near-unique (timestamps), templates are the dedup unit."""
    deduped = (
        routed_stream(stream_source(spark, src_dir))
        .select("msg_key")
        .dropDuplicates(["msg_key"])
    )
    return drain(deduped, query_name, "append", checkpoint_dir, state_partitions)


# ---------------------------------------------------------------------------
# streaming decontamination — "drop contaminated docs as they arrive": the
# batch decontaminate_flags semi-join run under the streaming engine. The
# eval gram set is a STATIC broadcast side (benchmarks don't stream); the
# document stream explodes to gram hashes, stream-static-semi-joins, and a
# stateful dropDuplicates emits each contaminated doc id exactly once.
# ---------------------------------------------------------------------------

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def run_stream_decontam_once(
    spark: SparkSession,
    docs_path: str,
    eval_df: DataFrame,
    query_name: str = "stream_decontam",
    checkpoint_dir: str | None = None,
    n: int = 8,
    state_partitions: int | None = 16,
) -> DataFrame:
    """Drain a document file-stream, emitting each CONTAMINATED doc_id (any
    word n-gram shared with the static eval corpus) exactly once.

    Plan shape: the stream side is stateless per-row work (explode + hash +
    broadcast semi-join against the static eval gram set — the same join the
    batch operator uses), and the only state is the dropDuplicates on doc_id,
    bounded by the number of contaminated docs. stream==batch contract: the
    output ids equal the batch decontaminate_flags rows with contaminated =
    true, which is the DuckDB-oracle statement.

    State-growth contract: for a BOUNDED drain (availableNow, this helper)
    the dropDuplicates state is exactly the contaminated-id set and is
    discarded when the query finishes — fine. A CONTINUOUS deployment must
    not keep that state forever: migrate to

        src.withWatermark("event_time", "24 hours")
           ... same explode/semi-join ...
           .dropDuplicatesWithinWatermark(["doc_id"])

    which evicts each doc_id's dedup entry once the watermark passes it
    (docs are emitted at-most-once per watermark window instead of per query
    lifetime — the right trade when the upstream writer only ever repeats a
    doc within a bounded replay horizon). Mirrors the complete-vs-append
    discussion in run_stream_session_windows_once.
    """
    from ..operators.dedup import make_grams_udf

    # materialize the static side ONCE before the stream starts: a
    # stream-static join re-evaluates the static plan per micro-batch, and
    # the eval gram build (interpreted shingle expressions + distinct) is the
    # expensive part — localCheckpoint turns every per-batch broadcast build
    # into a read of the tiny materialized hash set (measured 9.0 -> ~3 s at
    # sf0.1). _ensure_parallelism spreads the one-time build itself.
    # gram STRINGS, not 64-bit hashes, as the join key — same exactness
    # argument as batch decontaminate_flags (hash collisions against a
    # 10^11+-gram corpus approach O(1) false flags)
    grams = make_grams_udf(n)
    # eval side: Arrow-batched UDF over a benchmark-sized corpus — no
    # repartition; its extra shuffle stage costs more than it buys at the
    # one-time-build size (see batch decontaminate_flags)
    g_eval = (
        eval_df.select("text")
        .select(F.explode(grams(F.col("text"))).alias("_g"))
        .filter(F.col("_g").isNotNull())
        .distinct()
        .localCheckpoint(eager=True)
    )
    src = stream_source(spark, docs_path, schema=DOCS_SCHEMA)
    # stream-side repartition BEFORE the gram explode: a 4-file micro-batch
    # scans as 4 tasks and the interpreted shingle expressions would run at
    # 1/8 utilization — the streaming analog of _ensure_parallelism (at real
    # scale micro-batches carry many input splits and the exchange is noise)
    g_doc = (
        src.repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", F.explode(grams(F.col("text"))).alias("_g"))
        .filter(F.col("_g").isNotNull())
    )
    contaminated = (
        g_doc.join(F.broadcast(g_eval), "_g", "left_semi")
        .select("doc_id")
        .dropDuplicates(["doc_id"])
    )
    return drain(contaminated, query_name, "append", checkpoint_dir, state_partitions)


# ---------------------------------------------------------------------------
# streaming quality gate — the C4/Gopher keep/drop filter applied to
# documents AS THEY ARRIVE: the same quality_filter program as the batch
# d_quality_filter, run unmodified under the streaming engine. Stateless
# (pure projection per micro-batch), so there is no watermark/state story at
# all — the simplest possible stream==batch contract.
# ---------------------------------------------------------------------------


def run_stream_quality_once(
    spark: SparkSession,
    docs_path: str,
    query_name: str = "stream_quality",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Drain a document file-stream through the quality gate, emitting
    (doc_id, n_tokens, reasons, keep) for every arriving doc exactly once.

    stream==batch contract: the drained table equals batch
    ``quality_filter`` over the same corpus (the DuckDB-oracle statement).
    The stage is stateless — rows are independent — so append mode needs no
    watermark and per-micro-batch output is final on arrival; a continuous
    deployment just keeps the same query running. Stream-side repartition
    spreads the regexp-heavy rule signals across cores (the streaming analog
    of _ensure_parallelism — a small micro-batch scans as few tasks)."""
    from ..functions.text import quality_filter

    src = stream_source(spark, docs_path, schema=DOCS_SCHEMA)
    gated = quality_filter(src.repartition(spark.sparkContext.defaultParallelism))
    return drain(gated, query_name, "append", checkpoint_dir)


def run_stream_ingest_dedup_once(
    spark: SparkSession,
    docs_path: str,
    history_df: DataFrame,
    query_name: str = "stream_ingest",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Drain a document file-stream through an ingestion novelty filter:
    emit the doc_id of every arriving document whose EXACT text (md5) does
    not already exist in the static historical corpus — the
    continuous-crawl admission step that keeps re-crawled pages out of the
    next training snapshot.

    stream==batch contract: output ids equal the batch anti-join
    ``SELECT doc_id FROM arrivals WHERE md5(text) NOT IN (history hashes)``
    (the DuckDB-oracle statement). The stage is STATELESS — a stream-static
    left-anti join against a broadcast hash set needs no watermark and no
    state store, so a continuous deployment just keeps the query running
    (contrast run_stream_decontam_once, whose exactly-once emission needs
    dropDuplicates state). Within-stream repeats are NOT collapsed here by
    design: first-arrival order inside a drain is an engine detail, and
    collapsing on it would make the output depend on file-listing order —
    the admission filter is a pure per-row predicate instead. Null-text
    documents are ADMITTED (md5(null) is null, and a null key never matches
    in an anti-join — note plain SQL ``NOT IN`` would silently DROP them via
    three-valued logic; the oracle twin spells the null arm out): a novelty
    filter passes what it cannot hash, and the downstream quality gate owns
    the null_text drop.

    The static history hash set is distinct'd and localCheckpoint'd ONCE
    before the stream starts (a stream-static join re-evaluates the static
    plan every micro-batch), and only 16-byte hashes broadcast — never
    history text.
    """
    hist = (
        history_df.select(F.md5("text").alias("_h"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    src = stream_source(spark, docs_path, schema=DOCS_SCHEMA)
    accepted = (
        src.select("doc_id", F.md5("text").alias("_h"))
        .join(F.broadcast(hist), "_h", "left_anti")
        .select("doc_id")
    )
    return drain(accepted, query_name, "append", checkpoint_dir)
