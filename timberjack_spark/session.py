"""SparkSession factory with scale-aware defaults.

Local-mode testing uses ``local[N]``; the same settings translate to a real
cluster (AQE, skew-join handling, sane shuffle partition counts). Keep the
session timezone pinned to UTC so timestamps compare bit-for-bit with the
DuckDB oracle.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    app_name: str = "timberjack_spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``shuffle_partitions`` defaults to 2x cores: enough tasks to keep every
    core busy through stragglers without drowning tiny local runs in task
    overhead. On a real cluster you would size this to total executor cores
    (AQE coalesces the excess at runtime either way).
    """
    cores = cores or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(2 * cores, 8)
    # JVM service threads (GC, JIT) are sized for the MACHINE, not the session:
    # the py4j gateway JVM launches once per python process, so these options
    # only take effect for the first session — and pinning them low starves a
    # later local[32] session (measured: 8 GC threads under 32 executor
    # threads doubles wall time with wild variance, GC-bound).
    gc_threads = max(DEFAULT_CPUS, 2)
    java_opts = (
        f"-XX:ParallelGCThreads={gc_threads} "
        f"-XX:ConcGCThreads={max(gc_threads // 4, 1)} "
        f"-XX:CICompilerCount=4 "
        # 32m G1 regions: the parse stage allocates many multi-MB humongous
        # buffers; bigger regions cut full-box (32-thread) flagship cpu-work
        # ~10% on a 32-core box (434 -> 386 cpu-s, same noise window;
        # UseParallelGC measured far WORSE, 567).
        "-XX:G1HeapRegionSize=32m "
        # SPARK_GRAFT_EXTRA_JAVA: extra JVM flags appended at gateway launch
        # (perfbench/run.py pins heap and tmpdir this way) — a no-op for
        # every later getOrCreate in the process
        + os.environ.get("SPARK_GRAFT_EXTRA_JAVA", "")
    ).strip()
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .config("spark.driver.extraJavaOptions", java_opts)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # local mode = driver-only JVM: give it real heap (32 executor threads
        # allocating parse buffers GC-thrash an 8g heap; box has 128 GiB)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        # keep stdout clean: the bench contract is ONE machine-readable JSON
        # line on stdout (progress bars go to stderr, but belt-and-braces)
        .config("spark.ui.showConsoleProgress", "false")
        # 16m locally: test/bench files are tens of MB and must still split into
        # enough tasks to exercise all cores; on a real cluster reading 100 TB
        # you would leave this at the 128m default (fewer, fuller tasks).
        .config("spark.sql.files.maxPartitionBytes", "16m")
        # Spark floors each file split at openCostInBytes (default 4m): a
        # single 15 MB fixture file then scans as FOUR tasks on a 32-core
        # box and every parse-stage query runs at 1/8 utilization (measured:
        # sf0.1 full parse 3.2 s -> 1.2 s at 512k / 29 splits). At cluster
        # scale bytes-per-core dwarfs this floor, so the override is inert.
        .config("spark.sql.files.openCostInBytes", "524288")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_table(spark: SparkSession, rows, schema: StructType | str) -> DataFrame:
    """A constant table over driver-side rows, planned as a ``LocalRelation``.

    ``createDataFrame(list, schema)`` plans a ``LogicalRDD`` over pickled
    Python rows: a broadcast of it runs a job whose tasks wait on Python
    workers (about 0.3 s per broadcast on 4 cores) to hand back rows the
    driver already holds. An Arrow table under the local-relation threshold
    becomes a ``LocalTableScan`` instead; its broadcast still collects through
    a small job, but one that stays in the JVM and takes milliseconds.
    """
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)


def stop_spark() -> None:
    """Tear down the active session (needed between parallelism levels in bench)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
