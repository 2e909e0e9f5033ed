"""The deterministic transcript corpus: generator equality + planted invariants."""

import numpy as np
import pandas as pd

from timberjack_spark.fixtures import (
    SPIKE_END,
    SPIKE_START,
    transcripts_df,
    transcripts_pandas,
)


def test_distributed_generator_matches_pandas(spark):
    n = 4000
    sdf = transcripts_df(spark, n).orderBy("ts").toPandas()
    pdf = transcripts_pandas(n)
    for c in ["conv_id", "turn_idx", "role", "text", "tool"]:
        assert (sdf[c].values == pdf[c].values).all(), c
    assert (sdf["ts"].astype("datetime64[us]").values == pdf["ts"].astype("datetime64[us]").values).all()


def test_skewed_conversation_owns_ten_percent():
    n = 10000
    pdf = transcripts_pandas(n)
    counts = pdf["conv_id"].value_counts()
    assert counts["conv-000000"] == n // 10
    rest = counts.drop("conv-000000")
    assert (rest == 20).all()


def test_error_spike_hour_is_all_error():
    pdf = transcripts_pandas(30000)
    spike = pdf.iloc[SPIKE_START:SPIKE_END]
    i = np.arange(SPIKE_START, SPIKE_END)
    # every line carrying a level in the spike hour carries ERROR
    # (malformed lines, i%13==11, have no level by design)
    assert spike["text"][i % 13 != 11].str.contains("ERROR").all()


def test_payload_form_mix():
    pdf = transcripts_pandas(1300)
    i = np.arange(1300)
    json_rows = pdf["text"][i % 13 == 3]
    assert json_rows.str.startswith("{").all()
    colon_rows = pdf["text"][i % 13 == 7]
    assert colon_rows.str.match(r"^[A-Z]+: ").all()
    malformed = pdf["text"][i % 13 == 11]
    assert malformed.str.startswith("plain text with nothing").all()


def test_json_rows_are_valid_json():
    import json

    pdf = transcripts_pandas(2600)
    for line in pdf["text"][pd.Series(np.arange(2600)) % 13 == 3]:
        obj = json.loads(line)
        assert {"timestamp", "level", "service", "message"} <= obj.keys()


def test_interrupted_fixture_writes_are_regenerated(tmp_path, monkeypatch):
    """A stream directory without its _SUCCESS marker and a parquet file
    without its footer are what an interrupted first write leaves behind;
    both must be rebuilt, not served."""
    import os

    import pyarrow.parquet as pq

    from timberjack_spark import fixtures

    monkeypatch.setattr(fixtures, "FIXTURE_DIR", str(tmp_path))
    n = fixtures.SF_ROWS["sf0.001"]
    v = fixtures.FIXTURE_VERSION

    stream = tmp_path / f"transcripts_stream_sf0.001_v{v}"
    stream.mkdir()
    pq.write_table(fixtures.transcripts_arrow(n).slice(0, 10), stream / "part-000.parquet")
    (stream / "part-001.parquet").write_bytes(b"PAR1 truncated")
    got = fixtures.transcripts_stream_dir("sf0.001")
    assert os.path.exists(os.path.join(got, "_SUCCESS"))
    parts = sorted(f for f in os.listdir(got) if f.endswith(".parquet"))
    assert len(parts) == fixtures.STREAM_PARTS
    assert sum(pq.read_metadata(os.path.join(got, f)).num_rows for f in parts) == n

    path = tmp_path / f"transcripts_sf0.001_v{v}.parquet"
    whole = path.with_suffix(".whole")
    pq.write_table(fixtures.transcripts_arrow(n), whole)
    path.write_bytes(whole.read_bytes()[: whole.stat().st_size // 2])
    assert fixtures.transcripts_path("sf0.001") == str(path)
    assert pq.read_table(path).num_rows == n
