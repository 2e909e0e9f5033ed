"""Fluent API == LogQuery pipeline equivalence + CLI-surface behaviors."""

import pytest

import oracle_ref
from timberjack_spark.api import Timber
from timberjack_spark.fixtures import transcripts_pandas, transcripts_path


@pytest.fixture(scope="module")
def corpus(spark):
    pdf = transcripts_pandas(2600)
    return pdf, spark.createDataFrame(pdf)


def test_chop_level_field_chain(spark, corpus):
    pdf, df = corpus
    t = Timber.over(df).chop("ERROR").level("ERROR").field("service", "api")
    expected = oracle_ref.analyze_lines(
        pdf["text"], pattern="ERROR", level="ERROR", fields={"service": "api"}
    )
    assert t.count() == expected["count"]


def test_report_shape(spark, corpus):
    _, df = corpus
    doc = Timber.over(df).chop("Cache").trend().stats(show_unique=True).report()
    assert set(doc) == {"matched_lines", "total_count", "time_trends", "stats", "deduplicated"}
    assert doc["stats"]["unique_messages"] == sorted(doc["stats"]["unique_messages"])
    text = Timber.over(df).chop("Cache").stats().report_text()
    assert f"Felled: {doc['total_count']} logs" in text


def test_immutability(spark, corpus):
    _, df = corpus
    base = Timber.over(df)
    a, b = base.chop("ERROR"), base.chop("WARN")
    assert a.q.pattern == "ERROR" and b.q.pattern == "WARN" and base.q.pattern is None


def test_read_and_detect(spark):
    t = Timber.read(spark, transcripts_path("sf0.001"), fmt="detect")
    assert t.q.mode == "generic"  # mixed corpus, ~1/13 JSON
    assert t.count() == 6000


def test_read_text_and_gzip_log(spark, corpus, tmp_path):
    """Raw .log and .log.gz files read through the text path (Hadoop codec
    decodes gzip transparently), like the reference reads plain log files."""
    import gzip

    pdf, _ = corpus
    lines = pdf["text"].head(200).tolist()
    plain = tmp_path / "app.log"
    plain.write_text("\n".join(lines))
    gz = tmp_path / "app.log.gz"
    with gzip.open(gz, "wt") as fh:
        fh.write("\n".join(lines))
    n_plain = Timber.read(spark, str(plain)).count()
    n_gz = Timber.read(spark, str(gz)).count()
    assert n_plain == n_gz == 200
    # same analysis result from both encodings
    c_plain = Timber.read(spark, str(plain)).chop("ERROR").count()
    c_gz = Timber.read(spark, str(gz)).chop("ERROR").count()
    assert c_plain == c_gz


def test_format_validation_fails_eagerly(spark, corpus):
    _, df = corpus
    with pytest.raises(ValueError, match="format must be one of"):
        Timber.over(df).format("apache")
    with pytest.raises(ValueError, match="format must be one of"):
        Timber.read(spark, transcripts_path("sf0.001"), fmt="syslog")


def test_route_to(spark, corpus, tmp_path):
    _, df = corpus
    out = Timber.over(df.drop("ts")).route_to(str(tmp_path / "sinks"), n_buckets=4)
    assert sum(out["counts"].values()) == 2600
    assert set(out["counts"]) == {"errors", "tool-calls", "anomalies", "dialogue"}


def test_read_routes_directory_of_text_logs(spark, tmp_path):
    d = tmp_path / "logdir"
    d.mkdir()
    (d / "a.log").write_text("x [ERROR] boom\nok line\n")
    (d / "b.log").write_text("y [ERROR] bam\n")
    assert Timber.read(spark, str(d)).chop("ERROR").count() == 2


def test_read_rejects_mixed_directory(spark, tmp_path):
    d = tmp_path / "mixed"
    d.mkdir()
    (d / "a.log").write_text("x\n")
    (d / "b.parquet").write_bytes(b"PAR1")
    with pytest.raises(ValueError, match="mixes text logs and parquet"):
        Timber.read(spark, str(d))


def test_cli_module_json_parity(spark, tmp_path):
    """python -m timberjack_spark must produce the SAME report document the
    library API assembles (one subprocess = one JVM, so one invocation
    covers flags + file input + JSON output)."""
    import json as _json
    import subprocess
    import sys

    from timberjack_spark.fixtures import transcripts_pandas
    from timberjack_spark.operators.analyze import LogQuery, analyze, collect_report

    pdf = transcripts_pandas(2000)
    log = tmp_path / "cli.log"
    log.write_text("\n".join(pdf["text"]))

    out = subprocess.run(
        [sys.executable, "-m", "timberjack_spark", str(log),
         "--chop", "ERROR", "--stats", "--trend", "--json"],
        capture_output=True, text=True, timeout=240,
        cwd="/root/repo",
    )
    assert out.returncode == 0, out.stderr[-2000:]
    got = _json.loads(out.stdout)

    df = spark.read.text(str(log)).withColumnRenamed("value", "text")
    q = LogQuery(pattern="ERROR", trends=True, stats=True)
    expected = collect_report(analyze(df, q), q)
    assert got == expected
    assert got["total_count"] > 0


def test_cli_main_count_and_stdin_detect(spark, corpus, tmp_path, monkeypatch, capsys):
    """``__main__.main`` in-process: ``--count`` on a file prints
    ``Timber.count()``, and stdin input resolves ``--format detect`` from its
    first lines before the query runs."""
    import io
    import json as _json
    import sys

    from timberjack_spark import __main__ as cli
    from timberjack_spark import session

    monkeypatch.setattr(session, "get_spark", lambda **kw: spark)
    pdf, _ = corpus
    log = tmp_path / "count.log"
    log.write_text("\n".join(pdf["text"]))
    assert cli.main([str(log), "--count", "--chop", "ERROR", "-f", "service=api"]) == 0
    want = Timber.read(spark, str(log)).chop("ERROR").field("service", "api").count()
    assert capsys.readouterr().out.strip() == str(want)

    # half the first ten lines are JSON log lines, so detection picks 'json'
    js = pdf["text"][pdf.index % 13 == 3].head(20).tolist()
    plain = pdf["text"][pdf.index % 13 == 0].head(20).tolist()
    lines = [x for pair in zip(js, plain) for x in pair]
    monkeypatch.setattr(sys, "stdin", io.StringIO("\n".join(lines) + "\n"))
    assert cli.main(["--format", "detect", "--stats", "--json"]) == 0
    got = _json.loads(capsys.readouterr().out)
    df = spark.createDataFrame([(x,) for x in lines], "text string")
    assert got == Timber.over(df, fmt="json").stats().report()
    assert got != Timber.over(df, fmt="generic").stats().report()


def test_cli_rejects_declared_formats(tmp_path):
    import subprocess
    import sys

    log = tmp_path / "x.log"
    log.write_text("line\n")
    out = subprocess.run(
        [sys.executable, "-m", "timberjack_spark", str(log), "--format", "apache"],
        capture_output=True, text=True, timeout=60, cwd="/root/repo",
    )
    assert out.returncode == 2
    assert "declared but has no parser" in out.stderr
