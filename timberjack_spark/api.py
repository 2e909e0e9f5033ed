"""Fluent user-facing API — the engine's equivalent of the reference CLI.

A timberjack user maps their invocation 1:1:

    timber --chop "ERROR" --level ERROR -f service=api --trend --stats --top-errors 5 app.log

    ->  (Timber.read(spark, "transcripts.parquet")
            .chop("ERROR").level("ERROR").field("service", "api")
            .stats(top_errors=5).report())

Each setter is pure (returns a new Timber); nothing executes until a terminal
call (`count`, `report`, `frames`, `route_to`). Reference CLI surface:
/root/reference/src/cli.rs:7-59.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession

from .functions.extract import MODES
from .operators.analyze import LogQuery, analyze, collect_report, matched, render_text
from .sources.detect import detect_format


@dataclass(frozen=True)
class Timber:
    """A source DataFrame plus the one :class:`LogQuery` the setters build.

    Unlike a bare ``LogQuery``, trends and stats start off, as they do in the
    reference CLI until ``--trend`` / ``--stats`` turn them on."""

    df: DataFrame
    q: LogQuery = LogQuery(trends=False, stats=False)
    text_col: str = "text"

    # ---- sources --------------------------------------------------------
    @staticmethod
    def read(spark: SparkSession, path: str, fmt: str | None = None, text_col: str = "text") -> "Timber":
        """Text logs (``.log``/``.txt``, gzip/bzip2 included, or a directory
        of them) or parquet; ``fmt`` as in :meth:`over`."""
        text_suffixes = (
            ".txt", ".log",
            ".txt.gz", ".log.gz", ".txt.bz2", ".log.bz2",  # Hadoop codecs decode transparently
        )
        is_text = path.endswith(text_suffixes)
        if not is_text:
            # a DIRECTORY of text logs must not silently take the parquet
            # path (it would fail with an opaque footer error, or worse,
            # half-read mixed content): sniff the member FILE suffixes, one
            # partition level deep (logs/2024-01-01/a.log layouts). Local
            # filesystem only — remote URIs (isdir False) keep the explicit
            # suffix/format contract.
            import os as _os

            if _os.path.isdir(path):
                def _files(d, depth=0):
                    for m in sorted(_os.listdir(d)):
                        if m.startswith(("_", ".")):
                            continue
                        p = _os.path.join(d, m)
                        if _os.path.isfile(p):
                            yield m
                        elif depth == 0 and _os.path.isdir(p):
                            yield from _files(p, 1)

                members = list(_files(path))
                has_text = any(m.endswith(text_suffixes) for m in members)
                has_parquet = any(m.endswith(".parquet") for m in members)
                if has_text and has_parquet:
                    raise ValueError(
                        f"directory {path!r} mixes text logs and parquet files; "
                        "point Timber.read at one format (or pass explicit globs)"
                    )
                is_text = has_text
        df = (
            spark.read.text(path).withColumnRenamed("value", text_col)
            if is_text
            else spark.read.parquet(path)
        )
        return Timber.over(df, text_col, fmt)

    @staticmethod
    def over(df: DataFrame, text_col: str = "text", fmt: str | None = None) -> "Timber":
        """fmt: 'json' | 'generic' | 'auto' | 'detect' (sampled probe, like the
        reference's automatic detection) | None -> 'auto' (per-row)."""
        t = Timber(df=df, text_col=text_col)
        return t.format(detect_format(df, text_col) if fmt == "detect" else fmt or "auto")

    # ---- filters (all pure) ----------------------------------------------
    def _with(self, **changes) -> "Timber":
        return replace(self, q=replace(self.q, **changes))

    def chop(self, pattern: str) -> "Timber":
        """--chop: literal substring fast path or regex, auto-routed."""
        return self._with(pattern=pattern)

    def level(self, level: str) -> "Timber":
        return self._with(level=level)

    def field(self, key: str, value: str) -> "Timber":
        """-f k=v (repeatable, ANDed)."""
        return self._with(field_filters={**self.q.field_filters, key: value})

    def format(self, mode: str) -> "Timber":
        """Fails here, like the reference CLI fails at parse time on an
        unknown --format (reference src/main.rs:134-136) — not lazily at the
        first action."""
        if mode not in MODES:
            raise ValueError(f"format must be one of {MODES}, got {mode!r}")
        return self._with(mode=mode)

    def trend(self, on: bool = True) -> "Timber":
        return self._with(trends=on)

    def stats(self, on: bool = True, top_errors: int = 5, show_unique: bool = False) -> "Timber":
        return self._with(stats=on, top_errors=top_errors, show_unique=show_unique)

    def pandas_grok(self, on: bool = True) -> "Timber":
        return self._with(use_pandas_grok=on)

    # ---- terminals --------------------------------------------------------
    def matched(self) -> DataFrame:
        """The parsed+filtered spine as a DataFrame (lazy)."""
        return matched(self.df, self.q, self.text_col)

    def frames(self, cache: bool = False) -> dict[str, DataFrame]:
        """Every requested aggregate as a lazy DataFrame."""
        return analyze(self.df, self.q, self.text_col, cache=cache)

    def count(self) -> int:
        """--count: Catalyst prunes everything but the count automatically."""
        return self.matched().count()

    def report(self) -> dict:
        """The reference's JSON document (formatter.rs:7-48)."""
        frames = self.frames(cache=True)
        try:
            return collect_report(frames, self.q)
        finally:
            frames["matched"].unpersist()

    def report_text(self) -> str:
        """The reference's stdout rendering."""
        return render_text(self.report())

    def route_to(self, base_path: str, n_buckets: int = 8) -> dict:
        """Enrich + route + resumable fan-out; returns per-sink counts."""
        from .fixtures import dim_role_df, dim_tool_df
        from .operators.enrich import enrich
        from .operators.route import with_category
        from .sources.checkpoint import run_resumable_fanout

        spark = self.df.sparkSession
        routed = with_category(self.matched())
        enriched = enrich(routed, dim_role_df(spark), dim_tool_df(spark))
        return run_resumable_fanout(enriched, base_path, n_buckets=n_buckets)
