"""spark-submit entry point for the full parse -> enrich -> route -> aggregate
pipeline with resumable checkpointing.

Cluster usage (north-rule deployment shape):

    spark-submit --py-files timberjack_spark.zip jobs/run_pipeline.py \\
        --input  <transcripts parquet, or text logs> \\
        --output <sink base path> \\
        --buckets 256 --pattern ERROR --level '' --mode auto

Local sandbox usage:

    python jobs/run_pipeline.py --input .fixtures/transcripts_sf0.01_v3.parquet \\
        --output /tmp/tj_out

Packaging: ``cd /root/repo && zip -r timberjack_spark.zip timberjack_spark``
(see tools/submit.sh). On a real cluster drop ``--local-cores`` and let
spark-submit's --master/--num-executors drive parallelism.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--pattern", default=None, help="--chop analog (literal or regex)")
    ap.add_argument("--level", default=None, help="--level analog")
    ap.add_argument("--field", action="append", default=[], help="-f k=v (repeatable)")
    ap.add_argument("--mode", default="auto", choices=["auto", "json", "generic", "detect"])
    ap.add_argument("--buckets", type=int, default=8, help="resume-ledger buckets")
    ap.add_argument("--local-cores", type=int, default=None, help="local[N] when not spark-submit")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from timberjack_spark.api import Timber
    from timberjack_spark.fixtures import dim_role_df, dim_tool_df
    from timberjack_spark.operators.analyze import collect_report
    from timberjack_spark.operators.enrich import enrich
    from timberjack_spark.operators.filters import parse_field_filters
    from timberjack_spark.operators.route import with_category
    from timberjack_spark.sources.checkpoint import run_resumable_fanout

    if args.local_cores:
        from timberjack_spark.session import get_spark

        spark = get_spark(cores=args.local_cores, app_name="timberjack_pipeline")
    else:
        spark = SparkSession.builder.appName("timberjack_pipeline").getOrCreate()

    t0 = time.time()
    t = Timber.read(spark, args.input, fmt=args.mode).trend().stats()
    if args.pattern:
        t = t.chop(args.pattern)
    if args.level:
        t = t.level(args.level)
    for key, value in parse_field_filters(args.field).items():
        t = t.field(key, value)

    # one cached spine feeds both the report and the fan-out: one source scan
    results = t.frames(cache=True)
    routed = with_category(results["matched"])
    enriched = enrich(routed, dim_role_df(spark), dim_tool_df(spark))
    fanout = run_resumable_fanout(enriched, args.output, n_buckets=args.buckets)
    report = collect_report(results, t.q)
    results["matched"].unpersist()

    summary = {
        "mode": t.q.mode,
        "total_count": report["total_count"],
        "sink_counts": fanout["counts"],
        "buckets_processed": fanout["processed"],
        "buckets_skipped": fanout["skipped"],
        "elapsed_sec": round(time.time() - t0, 2),
        "turns_per_sec": round(report["total_count"] / max(time.time() - t0, 1e-9), 1),
    }
    os.makedirs(args.output, exist_ok=True)
    with open(os.path.join(args.output, "run_summary.json"), "w") as fh:
        json.dump({"summary": summary, "report": report}, fh, default=str)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
