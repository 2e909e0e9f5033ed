"""Deterministic synthetic transcript corpus (the engine's primary input table).

Schema (BASELINE.json input_hint):
    conv_id: string, turn_idx: int32, role: string, text: string, tool: string, ts: timestamp

Every row is a pure function of its index ``i`` (and the total row count ``n`` for the
skew split), so per-sink counts, histograms and per-turn text are exactly reproducible —
the same property the reference's benchmark generator has
(/root/reference/src/bin/create_benchmark_logs.rs:40-87, benchmark/create_json_logs.py).

Two generators produce bit-identical rows:

* :func:`transcripts_arrow` — numpy/pyarrow, used to write the small canonical parquet
  fixture that both Spark and the DuckDB oracle read;
* :func:`transcripts_df` — a fully distributed ``spark.range`` + built-in-expression
  generator for arbitrary scale (this is how you would materialize the 10^12-turn corpus
  on a real cluster: no driver-side data, no Python in the row path).

A pytest pins their equality row-by-row.

Row grammar (deterministic in i):
* conversation skew: the first n//10 rows all belong to ``conv-000000`` (one hot
  conversation owning 10% of the corpus, to exercise salting); the rest are dense
  20-turn conversations.
* role cycles [user, assistant, system, tool] by i%4; tool cycles
  ["", search, calculator, db_query, http_get] by (i//7)%5 — the //7 stride
  desynchronizes tool from the level (i%5) and template (i%20) cycles so every
  (level, tool, template) combination occurs and all four router sinks are
  non-empty; ts = 2025-03-21T00:00:00Z + i s.
* text payload by i%13: 3 -> JSON log line, 7 -> colon-form level line (level quirk),
  11 -> malformed line (no level/timestamp), else bracket-form plaintext
  ``YYYY-MM-DD HH:MM:SS,mmm [LEVEL] MESSAGE``.
* level cycles [ERROR, WARN, INFO, DEBUG, TRACE] by i%5, EXCEPT hour 04
  (i in [14400, 18000)) which is forced to ERROR — a plantable "error spike" mirroring
  the reference fixture corpus (tests/sample_logs_tests.rs:73-93).
* message cycles the reference's 20 benchmark templates by i%20.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# The 20 benchmark message templates (data, not code — they drive the closed-form
# expected aggregates; /root/reference/src/bin/create_benchmark_logs.rs:49-70).
TEMPLATES = [
    "NullPointerException in WebController.java:42",
    "Connection timeout in NetworkClient.java:86",
    "Database query took 2.3s in DatabaseService.java:128",
    "Application started successfully",
    "Session created for user_123",
    "OutOfMemoryError in SearchIndexer.java:212",
    "Failed to process request: invalid parameters",
    "Cache miss for key: user_profile_123",
    "Authentication successful for user_123",
    "Request processed in 150ms",
    "500 Internal Server Error: POST /api/orders",
    "403 Forbidden: Access denied for user_456",
    "Slow database operation detected (query took 3.5s)",
    "Memory usage at 75% of allocated heap",
    "Cache hit ratio: 65.4% (last hour)",
    "API rate limit exceeded for client_789",
    "Garbage collection cycle completed in 250ms",
    "System backup started (estimated time: 15m)",
    "Certificate expiring in 30 days (domain.com)",
    "Configuration loaded from /etc/config.json",
]

LEVELS = ["ERROR", "WARN", "INFO", "DEBUG", "TRACE"]
ROLES = ["user", "assistant", "system", "tool"]
TOOLS = ["", "search", "calculator", "db_query", "http_get"]
SERVICES = ["api", "auth", "payment", "database", "frontend", "cache", "search", "notification"]

BASE_TS = np.datetime64("2025-03-21T00:00:00")
SPIKE_START, SPIKE_END = 4 * 3600, 5 * 3600  # hour "2025-03-21 04" forced to ERROR
TURNS_PER_CONV = 20

FIXTURE_DIR = os.environ.get(
    "TIMBERJACK_FIXTURE_DIR", os.path.join(os.path.dirname(__file__), "..", ".fixtures")
)

# sf -> transcript row count (tracks the driver's lineitem scale: ~6k/60k/600k).
SF_ROWS = {"sf0.001": 6_000, "sf0.01": 60_000, "sf0.1": 600_000}

# Bump whenever the generation grammar changes — versioned filenames invalidate
# previously materialized fixture parquet.
FIXTURE_VERSION = 3


def _levels_for(i: np.ndarray) -> np.ndarray:
    lv = np.array(LEVELS)[i % 5]
    spike = (i >= SPIKE_START) & (i < SPIKE_END)
    lv = np.where(spike, "ERROR", lv)
    return lv


def _conv_turn(i: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    n_skew = n // 10
    j = i - n_skew
    conv = np.where(
        i < n_skew,
        "conv-000000",
        np.char.add(
            "conv-",
            np.char.zfill((1 + np.maximum(j, 0) // TURNS_PER_CONV).astype(str), 6),
        ),
    )
    turn = np.where(i < n_skew, i, np.maximum(j, 0) % TURNS_PER_CONV).astype(np.int32)
    return conv, turn


def transcripts_pandas(n: int) -> pd.DataFrame:
    """Vectorized deterministic generation of the n-row transcript table."""
    i = np.arange(n, dtype=np.int64)
    conv, turn = _conv_turn(i, n)
    role = np.array(ROLES)[i % 4]
    tool = np.array(TOOLS)[(i // 7) % 5]
    ts = BASE_TS + i.astype("timedelta64[s]")
    lv = _levels_for(i)
    msg = np.array(TEMPLATES)[i % 20]
    ms = np.char.zfill((i % 1000).astype(str), 3)

    s = pd.Series(ts)
    ts_plain = s.dt.strftime("%Y-%m-%d %H:%M:%S").to_numpy(dtype=object)
    ts_iso = s.dt.strftime("%Y-%m-%dT%H:%M:%S").to_numpy(dtype=object)

    ms = ms.astype(object)
    lv = lv.astype(object)
    msg = msg.astype(object)
    plain = ts_plain + "," + ms + " [" + lv + "] " + msg
    colon = lv + ": " + msg
    malformed = "plain text with nothing to parse seq " + i.astype(str).astype(object)

    svc = np.array(SERVICES)[i % 8]
    status = np.where(lv == "ERROR", "500", "200")
    jlevel = lv.astype(object)
    jmsg = msg.astype(object)
    json_line = (
        '{"timestamp":"' + ts_iso + "." + ms + 'Z","level":"' + jlevel
        + '","service":"' + svc.astype(object)
        + '","user_id":"' + (1000 + i % 50).astype(str).astype(object)
        + '","message":"' + jmsg
        + '","request_id":"req-' + i.astype(str).astype(object)
        + '","status":' + status.astype(object)
        + ',"response_time":' + (i % 500).astype(str).astype(object)
    )
    # nested objects per create_json_logs.py rules: request only for service=api,
    # user only for service=auth, error object only on ERROR level.
    req = np.where(
        svc == "api",
        ',"request":{"method":"GET","path":"/api/v1/users","headers":{"content-type":"application/json"}}',
        "",
    ).astype(object)
    usr = np.where(
        svc == "auth",
        ',"user":{"id":"user_' + (1000 + i % 50).astype(str).astype(object) + '","role":"admin"}',
        "",
    ).astype(object)
    err = np.where(
        lv == "ERROR",
        ',"error":{"type":"NullPointerException","code":' + (i % 5000).astype(str).astype(object) + "}",
        "",
    ).astype(object)
    json_line = json_line + req + usr + err + "}"

    form = i % 13
    text = np.where(form == 3, json_line, np.where(form == 7, colon, np.where(form == 11, malformed, plain)))

    return pd.DataFrame(
        {
            "conv_id": conv.astype(object),
            "turn_idx": turn,
            "role": role.astype(object),
            "text": text.astype(object),
            "tool": tool.astype(object),
            "ts": pd.Series(ts),
        }
    )


ARROW_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)


def transcripts_arrow(n: int) -> pa.Table:
    return pa.Table.from_pandas(transcripts_pandas(n), schema=ARROW_SCHEMA, preserve_index=False)


def _parquet_complete(path: str) -> bool:
    """False for a missing file and for one an interrupted writer left
    without its footer."""
    try:
        pq.read_metadata(path)
    except (OSError, pa.ArrowInvalid):
        return False
    return True


def transcripts_path(sf_dir_or_name: str) -> str:
    """Canonical fixture parquet path for a scale, generating it on first use."""
    name = os.path.basename(os.path.normpath(sf_dir_or_name))
    n = SF_ROWS.get(name, 60_000)
    os.makedirs(FIXTURE_DIR, exist_ok=True)
    path = os.path.join(FIXTURE_DIR, f"transcripts_{name}_v{FIXTURE_VERSION}.parquet")
    if not _parquet_complete(path):
        # small row groups keep the single file splittable across Spark tasks
        # (one 600k-row row group would pin the whole scan to one task)
        tmp = f"{path}.{os.getpid()}.tmp"
        pq.write_table(transcripts_arrow(n), tmp, row_group_size=25_000)
        os.replace(tmp, path)
    return path


STREAM_PARTS = 4


def _write_parts(table: pa.Table, path: str) -> None:
    """Write ``table`` as STREAM_PARTS parquet files under ``path``, then the
    ``_SUCCESS`` marker. A directory without the marker is an interrupted
    write: callers regenerate it, so it is cleared first."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    step = (table.num_rows + STREAM_PARTS - 1) // STREAM_PARTS
    for i in range(STREAM_PARTS):
        pq.write_table(
            table.slice(i * step, step),
            os.path.join(path, f"part-{i:03d}.parquet"),
            row_group_size=25_000,
        )
    open(os.path.join(path, "_SUCCESS"), "w").close()


def _source_key(src: str) -> str:
    # content-address the cache on the SOURCE file's identity, not just the
    # fixture version: unlike the generated transcript fixtures, this data
    # comes from external testdata — if that parquet is regenerated, a
    # version-only key would silently serve stale rows against a fresh oracle
    st = os.stat(src)
    return f"{st.st_size}_{int(st.st_mtime)}"


def transcripts_stream_dir(sf_dir_or_name: str) -> str:
    """Directory form of the fixture (same rows, split into STREAM_PARTS
    files) for ``readStream`` sources; DuckDB oracles read the same files via
    glob."""
    name = os.path.basename(os.path.normpath(sf_dir_or_name))
    path = os.path.join(FIXTURE_DIR, f"transcripts_stream_{name}_v{FIXTURE_VERSION}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        _write_parts(transcripts_arrow(SF_ROWS.get(name, 60_000)), path)
    return path


def events_stream_dir(sf_dir: str) -> str:
    """Directory form of the testdata ``events`` table (same rows, split into
    STREAM_PARTS files in event-time order) for ``readStream`` sources —
    FileStreamSource requires a directory, and a multi-file split makes the
    availableNow drain genuinely multi-batch so cross-batch session-window
    state merging is exercised, not just batch-in-one-trigger."""
    name = os.path.basename(os.path.normpath(sf_dir))
    src = os.path.join(sf_dir, "events.parquet")
    path = os.path.join(FIXTURE_DIR, f"events_stream_{name}_v{FIXTURE_VERSION}_{_source_key(src)}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        # time-ordered split: later files carry later events, the arrival
        # pattern a log stream actually has (sessions open in batch i and
        # extend in batch i+1)
        _write_parts(pq.read_table(src).sort_by("ts"), path)
    return path


def documents_stream_dir(sf_dir: str) -> str:
    """Directory form of the testdata ``documents`` table for ``readStream``
    sources (same content-addressed caching contract as events_stream_dir)."""
    name = os.path.basename(os.path.normpath(sf_dir))
    src = os.path.join(sf_dir, "documents.parquet")
    path = os.path.join(FIXTURE_DIR, f"documents_stream_{name}_v{FIXTURE_VERSION}_{_source_key(src)}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        _write_parts(pq.read_table(src), path)
    return path


def bench_transcripts_dir(spark: SparkSession, n: int, partitions: int | None = None) -> str:
    """Multi-file parquet corpus for throughput benchmarks, written once by the
    DISTRIBUTED generator — many input splits, the shape a real cluster reads.
    Content-addressed by (n, version); reused across runs."""
    os.makedirs(FIXTURE_DIR, exist_ok=True)
    parts = partitions or 64
    path = os.path.join(FIXTURE_DIR, f"bench_transcripts_n{n}_p{parts}_v{FIXTURE_VERSION}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        transcripts_df(spark, n, partitions=parts).write.mode("overwrite").parquet(path)
    return path


# ---------------------------------------------------------------------------
# Lookup dimensions for the enrich broadcast join (FIXTURES.md §2)
# ---------------------------------------------------------------------------

DIM_ROLE_ROWS = [
    ("user", "human", False),
    ("assistant", "agent", True),
    ("system", "control", False),
    ("tool", "agent", True),
]
DIM_TOOL_ROWS = [
    ("", "none", False),
    ("search", "retrieval", True),
    ("calculator", "compute", False),
    ("db_query", "retrieval", False),
    ("http_get", "network", True),
]


def dim_path(name: str) -> str:
    os.makedirs(FIXTURE_DIR, exist_ok=True)
    path = os.path.join(FIXTURE_DIR, f"{name}.parquet")
    if not os.path.exists(path):
        if name == "dim_role":
            tbl = pa.table(
                {
                    "role": [r[0] for r in DIM_ROLE_ROWS],
                    "role_group": [r[1] for r in DIM_ROLE_ROWS],
                    "is_agent": [r[2] for r in DIM_ROLE_ROWS],
                }
            )
        elif name == "dim_tool":
            tbl = pa.table(
                {
                    "tool": [r[0] for r in DIM_TOOL_ROWS],
                    "tool_family": [r[1] for r in DIM_TOOL_ROWS],
                    "is_external": [r[2] for r in DIM_TOOL_ROWS],
                }
            )
        else:
            raise ValueError(name)
        pq.write_table(tbl, path)
    return path


# ---------------------------------------------------------------------------
# Distributed generator — same rows, pure Catalyst expressions over spark.range
# ---------------------------------------------------------------------------


def transcripts_df(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    """Scale-path generator: spark.range -> column expressions, no driver data.

    Produces rows identical to :func:`transcripts_pandas` (pinned by test). At
    10^12 rows this runs as `Range` + whole-stage-codegen'd projections — no
    shuffle, no Python.
    """
    n_skew = n // 10
    df = spark.range(0, n, 1, partitions or spark.sparkContext.defaultParallelism)
    i = F.col("id")
    j = i - F.lit(n_skew)
    conv = F.when(i < n_skew, F.lit("conv-000000")).otherwise(
        F.format_string("conv-%06d", (F.lit(1) + j / TURNS_PER_CONV).cast("long"))
    )
    turn = F.when(i < n_skew, i).otherwise(j % TURNS_PER_CONV).cast("int")
    role = F.element_at(F.array(*[F.lit(r) for r in ROLES]), (i % 4 + 1).cast("int"))
    tool = F.element_at(
        F.array(*[F.lit(t) for t in TOOLS]), (F.floor(i / 7) % 5 + 1).cast("int")
    )
    ts = F.to_timestamp(F.lit("2025-03-21 00:00:00")) + F.make_dt_interval(secs=i.cast("double"))
    spike = (i >= SPIKE_START) & (i < SPIKE_END)
    lv = F.when(spike, F.lit("ERROR")).otherwise(
        F.element_at(F.array(*[F.lit(x) for x in LEVELS]), (i % 5 + 1).cast("int"))
    )
    msg = F.element_at(F.array(*[F.lit(m) for m in TEMPLATES]), (i % 20 + 1).cast("int"))
    ms = F.format_string("%03d", (i % 1000).cast("int"))
    ts_plain = F.date_format(ts, "yyyy-MM-dd HH:mm:ss")
    ts_iso = F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss")

    plain = F.concat(ts_plain, F.lit(","), ms, F.lit(" ["), lv, F.lit("] "), msg)
    colon = F.concat(lv, F.lit(": "), msg)
    malformed = F.concat(F.lit("plain text with nothing to parse seq "), i.cast("string"))
    svc = F.element_at(F.array(*[F.lit(s) for s in SERVICES]), (i % 8 + 1).cast("int"))
    status = F.when(lv == "ERROR", F.lit("500")).otherwise(F.lit("200"))
    json_line = F.concat(
        F.lit('{"timestamp":"'), ts_iso, F.lit("."), ms, F.lit('Z","level":"'), lv,
        F.lit('","service":"'), svc,
        F.lit('","user_id":"'), (F.lit(1000) + i % 50).cast("string"),
        F.lit('","message":"'), msg,
        F.lit('","request_id":"req-'), i.cast("string"),
        F.lit('","status":'), status,
        F.lit(',"response_time":'), (i % 500).cast("string"),
        F.when(
            svc == "api",
            F.lit(',"request":{"method":"GET","path":"/api/v1/users","headers":{"content-type":"application/json"}}'),
        ).otherwise(F.lit("")),
        F.when(
            svc == "auth",
            F.concat(F.lit(',"user":{"id":"user_'), (F.lit(1000) + i % 50).cast("string"), F.lit('","role":"admin"}')),
        ).otherwise(F.lit("")),
        F.when(
            lv == "ERROR",
            F.concat(F.lit(',"error":{"type":"NullPointerException","code":'), (i % 5000).cast("string"), F.lit("}")),
        ).otherwise(F.lit("")),
        F.lit("}"),
    )
    form = i % 13
    text = (
        F.when(form == 3, json_line)
        .when(form == 7, colon)
        .when(form == 11, malformed)
        .otherwise(plain)
    )
    return df.select(
        conv.alias("conv_id"),
        turn.alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        ts.alias("ts"),
    )


# per-session cache: createDataFrame is a driver-side py4j conversion that
# costs real serial milliseconds on every flagship run; the dims are constants.
# Values hold the session reference, so a cached id() can never be recycled.
_DIM_CACHE: dict[tuple[int, str], tuple[SparkSession, DataFrame]] = {}


def _cached_dim(spark: SparkSession, name: str, rows, schema: str) -> DataFrame:
    key = (id(spark), name)
    hit = _DIM_CACHE.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    df = spark.createDataFrame(rows, schema)
    for k in [k for k in _DIM_CACHE if _DIM_CACHE[k][0] is not spark]:
        del _DIM_CACHE[k]  # drop entries of stopped sessions
    _DIM_CACHE[key] = (spark, df)
    return df


def dim_role_df(spark: SparkSession) -> DataFrame:
    return _cached_dim(
        spark, "role", DIM_ROLE_ROWS, "role string, role_group string, is_agent boolean"
    )


def dim_tool_df(spark: SparkSession) -> DataFrame:
    return _cached_dim(
        spark, "tool", DIM_TOOL_ROWS, "tool string, tool_family string, is_external boolean"
    )
