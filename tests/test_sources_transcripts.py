"""Transcript source loading (sources/transcripts.py): parquet paths load
with the declared columns, and the Iceberg probe reads only a missing class
as "no Iceberg" — any other failure raises."""

from types import SimpleNamespace

import pytest

from open_parse_spark.data.synth import gen_transcripts
from open_parse_spark.sources.transcripts import (
    TRANSCRIPT_COLUMNS,
    iceberg_available,
    load_transcripts,
)


def test_parquet_path_loads_and_missing_columns_raise(spark, tmp_path):
    pdf = gen_transcripts(n_convs=3, avg_turns=2, seed=5)
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")  # Spark reads no NANOS
    full = tmp_path / "full"
    full.mkdir()
    pdf.to_parquet(full / "part-0.parquet")
    df = load_transcripts(spark, str(full))
    assert df.columns == TRANSCRIPT_COLUMNS
    assert df.count() == len(pdf)

    narrow = tmp_path / "narrow"
    narrow.mkdir()
    pdf.drop(columns=["tool", "ts"]).to_parquet(narrow / "part-0.parquet")
    with pytest.raises(ValueError, match=r"missing columns \['tool', 'ts'\]"):
        load_transcripts(spark, str(narrow))


def test_iceberg_absent_on_this_session(spark):
    # no Iceberg runtime jar on the test session's classpath: the JVM's
    # ClassNotFoundException is the one error that reads as "absent"
    assert iceberg_available(spark) is False


def test_iceberg_probe_raises_on_any_other_error():
    def for_name(_name):
        raise RuntimeError("gateway is gone")

    jvm = SimpleNamespace(
        java=SimpleNamespace(lang=SimpleNamespace(Class=SimpleNamespace(forName=for_name)))
    )
    with pytest.raises(RuntimeError, match="gateway is gone"):
        iceberg_available(SimpleNamespace(_jvm=jvm))
