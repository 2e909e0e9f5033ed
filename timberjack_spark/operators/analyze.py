"""The full analysis pipeline — the engine's equivalent of `timber [flags] FILE`.

``LogQuery`` is the declarative plan (the analog of the reference's configured
``LogAnalyzer``, /root/reference/src/analyzer.rs:86-208); :func:`matched` builds
the parse+filter spine as one codegen stage; :func:`analyze` hangs every
requested aggregate off that spine; :func:`collect_report` assembles the
reference's JSON document shape (/root/reference/src/formatter.rs:7-165) from
the collected aggregate rows — the only driver-side step, and it only ever
touches already-aggregated (small) data.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import extract
from ..functions.grok import with_parsed_pandas
from . import aggregates as agg
from .filters import field_filters_predicate, level_predicate, pattern_predicate


@dataclass(frozen=True)
class LogQuery:
    """Declarative query spec (mirrors the reference CLI surface)."""

    pattern: str | None = None          # --chop (literal fast path or regex, auto-detected)
    level: str | None = None            # --level
    field_filters: dict[str, str] = field(default_factory=dict)  # -f k=v (ANDed)
    mode: str = "auto"                  # format: generic | json | auto (per-row detect)
    trends: bool = True                 # --trend
    stats: bool = True                  # --stats
    top_errors: int = 5                 # --top-errors
    show_unique: bool = False           # --show-unique
    use_pandas_grok: bool = False       # route extraction through the Arrow UDF stage


def matched(df: DataFrame, q: LogQuery, text_col: str = "text") -> DataFrame:
    """Parse + filter spine: one projection, one conjunctive filter.

    Catalyst pushes the pattern predicate (a plain Contains/RLike on the raw
    text column) beneath the parse projection on its own; everything stays in a
    single WholeStageCodegen span with no shuffle.
    """
    # F7 — empty-line drop: the reference's line splitter never yields empty
    # lines (src/analyzer.rs:299); an empty text cell is "no line"
    df = df.filter(F.length(F.col(text_col)) > 0)
    if q.use_pandas_grok:
        parsed = with_parsed_pandas(df, text_col)
    else:
        parsed = extract.with_parsed(df, text_col, q.mode)
    pred = F.lit(True)
    if q.field_filters:
        pred = pred & field_filters_predicate(F.col(text_col), q.field_filters, q.mode)
    if q.level is not None:
        pred = pred & level_predicate(F.col("level"), q.level)
    if q.pattern is not None:
        pred = pred & pattern_predicate(F.col(text_col), q.pattern)
    return parsed.filter(pred)


def analyze(
    df: DataFrame, q: LogQuery, text_col: str = "text", cache: bool = False
) -> dict[str, DataFrame]:
    """Run the full analysis; returns lazily-evaluated aggregate DataFrames.

    With ``cache=True`` the matched spine is persisted so the N aggregate jobs
    scan the parsed data once instead of re-reading the source (the right call
    when the source is remote storage; for a single aggregate leave it off and
    let the scan stream).
    """
    m = matched(df, q, text_col)
    if cache:
        m = m.persist()
    out: dict[str, DataFrame] = {"matched": m, "total": agg.total_count(m)}
    out["line_counts"] = agg.matched_sample(m, text_col)
    if q.trends:
        out["trends"] = agg.time_trends(m)
    if q.stats:
        out["levels"] = agg.level_histogram(m)
        out["top_errors"] = agg.top_errors(m, q.top_errors)
        out["message_stats"] = agg.message_stats(m)
        if q.show_unique:
            out["unique_messages"] = agg.unique_messages(m)
    return out


def collect_report(results: dict[str, DataFrame], q: LogQuery) -> dict:
    """Driver-side assembly of the reference's JSON document
    (src/formatter.rs:7-48): all inputs are small aggregate results."""
    total = results["total"].collect()[0]["cnt"]
    doc: dict = {
        "matched_lines": [
            {"line": r["line"], "count": r["cnt"]} for r in results["line_counts"].collect()
        ],
        "total_count": total,
        "time_trends": None,
        "stats": None,
        "deduplicated": True,
    }
    if q.trends:
        doc["time_trends"] = [
            {"timestamp": r["bucket"], "count": r["cnt"]} for r in results["trends"].collect()
        ]
    if q.stats:
        ms = results["message_stats"].collect()[0]
        stats = {
            "log_levels": [
                {"level": r["level"], "count": r["cnt"]} for r in results["levels"].collect()
            ],
            "error_types": [
                {"error_type": r["error_type"], "count": r["cnt"], "rank": r["rank"]}
                for r in results["top_errors"].collect()
            ],
            "unique_messages_count": ms["unique_cnt"],
            "repetition_ratio": ms["repetition_ratio"],
            "unique_messages": None,
        }
        if q.show_unique:
            stats["unique_messages"] = [
                r["message"] for r in results["unique_messages"].collect()
            ]
        doc["stats"] = stats
    return doc


def render_text(doc: dict) -> str:
    """Text report (S4) — the reference's stdout rendering, reproduced from the
    same JSON document (src/formatter.rs:167-277)."""
    lines: list[str] = []
    for m in doc["matched_lines"]:
        suffix = f" [x{m['count']}]" if doc["deduplicated"] and m["count"] > 1 else ""
        lines.append(f"{m['line']}{suffix}")
    shown = sum(m["count"] for m in doc["matched_lines"])
    if doc["total_count"] > shown:
        lines.append(f"... and {doc['total_count'] - shown} more lines (total: {doc['total_count']})")
    lines.append("")
    lines.append(f"Felled: {doc['total_count']} logs")
    if doc.get("time_trends"):
        lines.append("")
        lines.append("Time trends:")
        for t in doc["time_trends"]:
            lines.append(f"  {t['timestamp']} - {t['count']} logs")
    if doc.get("stats"):
        st = doc["stats"]
        lines.append("")
        lines.append("Stats summary:")
        lines.append("")
        lines.append("Log levels:")
        for lv in st["log_levels"]:
            label = lv["level"] if lv["level"] else "(none)"
            lines.append(f"  {label}: {lv['count']} logs")
        if st["error_types"]:
            lines.append("")
            lines.append("Top error types:")
            for e in st["error_types"]:
                lines.append(f"  {e['rank']}. {e['error_type']}: {e['count']} occurrences")
        lines.append("")
        lines.append(f"Unique messages: {st['unique_messages_count']}")
        lines.append(f"Repetition ratio: {st['repetition_ratio']:.1f}%")
        if st.get("unique_messages"):
            lines.append("")
            lines.append("Unique messages:")
            for m in st["unique_messages"]:
                lines.append(f"  {m}")
    return "\n".join(lines)
