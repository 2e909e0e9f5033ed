"""Expected results computed by DuckDB over the same parquet files.

The SQL is built from the engine's own oracle fragments
(``timberjack_spark.plans.oracle``), so the reference tracks the parse and
routing semantics without sharing any Spark code path.
"""

from __future__ import annotations

import os
import tempfile

import duckdb

from timberjack_spark.functions.patterns import MAX_STORED_LINES
from timberjack_spark.plans.oracle import category_sql, parsed_cte


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
    con.execute("SET memory_limit = '1GB'")
    con.execute(f"SET temp_directory = '{tempfile.gettempdir()}'")
    return con


def _routed_sql(input_dir: str) -> str:
    src = f"SELECT * FROM read_parquet('{os.path.join(input_dir, '*.parquet')}')"
    return parsed_cte(src) + f", routed AS (SELECT *, {category_sql()} AS category FROM parsed)"


def route_counts(input_dir: str) -> dict[tuple[str, str], int]:
    """(category, level) -> rows: the route_scan result."""
    con = _con()
    sql = _routed_sql(input_dir) + " SELECT category, level, count(*) FROM routed GROUP BY ALL"
    return {(c, lv): n for c, lv, n in con.execute(sql).fetchall()}


def report(input_dir: str, top_errors: int = 5) -> dict:
    """The parts of ``Timber.report()`` and of the fan-out that are checked."""
    con = _con()
    con.execute(
        "CREATE TEMP TABLE m AS "
        + _routed_sql(input_dir)
        + " SELECT text, level, bucket, error_type, msg_key, category FROM routed"
        " WHERE length(text) > 0"
    )

    def rows(sql: str) -> list[tuple]:
        return con.execute(sql).fetchall()

    total, unique = rows("SELECT count(*), count(DISTINCT msg_key) FROM m")[0]
    return {
        "total_count": total,
        "matched_lines": rows(
            "SELECT text, count(*) AS cnt FROM m GROUP BY text "
            f"ORDER BY cnt DESC, text ASC LIMIT {MAX_STORED_LINES}"
        ),
        "time_trends": rows(
            "SELECT bucket, count(*) FROM m WHERE bucket <> '' GROUP BY bucket ORDER BY bucket"
        ),
        "log_levels": rows(
            "SELECT level, count(*) AS cnt FROM m GROUP BY level ORDER BY cnt DESC, level ASC"
        ),
        "error_types": rows(
            "SELECT error_type, count(*) AS cnt FROM m WHERE error_type <> '' "
            f"GROUP BY error_type ORDER BY cnt DESC, error_type ASC LIMIT {top_errors}"
        ),
        "unique_messages_count": unique,
        "unique_messages": [r[0] for r in rows("SELECT DISTINCT msg_key FROM m")],
        "sink_counts": dict(rows("SELECT category, count(*) FROM m GROUP BY category")),
    }
