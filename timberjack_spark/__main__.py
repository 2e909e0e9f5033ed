"""``python -m timberjack_spark`` — CLI-parity entry point.

Mirrors the reference's ``timber`` flag surface (/root/reference/src/cli.rs:7-59)
so a reference user can switch binaries and keep their command lines:

    python -m timberjack_spark app.log --chop ERROR --stats --trend
    cat app.log | python -m timberjack_spark --count --level ERROR
    python -m timberjack_spark logs.parquet --json -f service=auth

Differences, all deliberate and visible:
  * ``--parallel`` / ``--sequential`` pick the local core count (Spark is
    always the execution engine; ``--sequential`` = local[1] for strictly
    ordered debugging, default = all cores). On a cluster you run the same
    program via spark-submit (tools/submit.sh) and these flags are inert.
  * ``--format apache|syslog`` is rejected with the same "declared but not
    implemented" status the reference ships (its LogFormat enum declares
    them; no parser registers — src/parser/mod.rs:28-34).
  * parquet inputs are first-class (the reference reads text only).
"""

from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="timberjack_spark",
        description="Timberjack on Spark: fell your logs fast (reference-parity CLI)",
    )
    p.add_argument("file", nargs="?", help="log file/parquet to analyze (omit to read stdin)")
    p.add_argument("-c", "--chop", help="pattern to search for (literal or regex)")
    p.add_argument("-l", "--level", help="filter by log level (ERROR, WARN, ...)")
    p.add_argument("--trend", action="store_true", help="show time-based trends")
    p.add_argument("--stats", action="store_true", help="show summary statistics")
    p.add_argument("--json", action="store_true", help="output results as JSON")
    p.add_argument("--top-errors", type=int, default=5, help="top error types to show")
    p.add_argument("--show-unique", action="store_true", help="list unique messages")
    p.add_argument("--parallel", action="store_true", help="force parallel (all cores; default)")
    p.add_argument("--sequential", action="store_true", help="force sequential (local[1])")
    p.add_argument("--count", action="store_true", help="only output the total count (fast mode)")
    p.add_argument("--format", default="auto", help="auto | json | generic | detect")
    p.add_argument("-f", "--field", action="append", default=[], help="field filter k=v (repeatable)")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if args.format in ("apache", "syslog"):
        # reference parity: the enum declares these formats but registers no
        # parser for them (src/parser/mod.rs:28-34) — fail loudly, not quietly
        print(f"Error: format {args.format!r} is declared but has no parser", file=sys.stderr)
        return 2
    if args.file is None and sys.stdin.isatty():
        print("Error: No input source. Provide a file or pipe data to stdin.", file=sys.stderr)
        return 1

    from .api import Timber
    from .operators.filters import parse_field_filters
    from .session import get_spark

    cores = 1 if args.sequential else None  # None -> all cores (see session.py)
    spark = get_spark(cores=cores, app_name="timberjack_cli")

    banner = not args.json and not args.count
    if args.file is None:
        if banner:
            print("\nWaking LumberJacks...Timberjack is chopping from stdin\n")
        lines = [(ln.rstrip("\n"),) for ln in sys.stdin]
        df = spark.createDataFrame(lines or [("",)], "text string")
        if not lines:
            df = df.limit(0)
        t = Timber.over(df, fmt=args.format)
    else:
        if banner:
            print(f"\nWaking LumberJacks...Timberjack is chopping: {args.file}\n")
        t = Timber.read(spark, args.file, fmt=args.format)

    if args.chop is not None:
        t = t.chop(args.chop)
    if args.level is not None:
        t = t.level(args.level)
    for key, value in parse_field_filters(args.field).items():
        t = t.field(key, value)
    t = t.trend(args.trend).stats(args.stats or args.show_unique, args.top_errors, args.show_unique)
    if banner:
        if args.chop:
            print(f"Searching for pattern: {args.chop}")
        if args.level:
            print(f"Filtering by level: {args.level}")
        if args.field:
            print(f"Filtering by fields: {args.field}")

    if args.count:
        print(t.count())
    elif args.json:
        print(json.dumps(t.report(), indent=2))
    else:
        print(t.report_text())
    return 0


if __name__ == "__main__":
    sys.exit(main())
