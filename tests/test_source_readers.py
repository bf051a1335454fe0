"""Transcript source readers: every container lands on the TRANSCRIPTS
schema, round-trips byte-identically through the extraction pipeline, and
corrupt lines quarantine instead of vanishing."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from pdf_extractor_spark.operators.extract import extract_turns
from pdf_extractor_spark.schema import TRANSCRIPTS
from pdf_extractor_spark.sources.readers import read_transcripts, write_transcripts
from pdf_extractor_spark.sources.synth import generate_transcripts


@pytest.fixture(scope="module")
def corpus(spark):
    pdf = generate_transcripts(n_convs=20, seed=42)
    return spark.createDataFrame(pdf, schema=TRANSCRIPTS)


@pytest.mark.parametrize("fmt", ["parquet", "json", "csv"])
def test_roundtrip_preserves_extraction(spark, corpus, tmp_path, fmt):
    """Container choice must not change ONE byte of extracted output —
    multiline turn text, NBSP/nulls, timestamps all survive."""
    path = str(tmp_path / fmt)
    write_transcripts(corpus, path, fmt)
    loaded, quarantine = read_transcripts(spark, path, fmt)
    # same names and types; nullability flags are advisory and json/csv
    # scans mark everything nullable
    assert loaded.schema.simpleString() == TRANSCRIPTS.simpleString()
    assert quarantine.count() == 0

    key = ["conv_id", "turn_idx"]
    base = {
        tuple(r) for r in extract_turns(corpus).select(*key, "extracted_text").collect()
    }
    got = {
        tuple(r) for r in extract_turns(loaded).select(*key, "extracted_text").collect()
    }
    assert got == base


def test_json_corrupt_lines_quarantined(spark, tmp_path):
    path = tmp_path / "mixed"
    path.mkdir()
    (path / "part-0.json").write_text(
        '{"conv_id":"c1","turn_idx":0,"role":"user","text":"hello world",'
        '"tool":null,"ts":"2024-01-01T00:00:00"}\n'
        "this is not json at all\n"
        '{"conv_id":"c1","turn_idx":1,"role":"assistant","text":"hi",'
        '"tool":null,"ts":"2024-01-01T00:00:37"}\n'
    )
    good, quarantine = read_transcripts(spark, str(path), "json")
    assert good.count() == 2
    bad = [r.raw_line for r in quarantine.collect()]
    assert bad == ["this is not json at all"]
    assert good.where(F.col("conv_id").isNull()).count() == 0


def test_parquet_quarantine_is_empty_without_a_python_worker(spark, corpus, tmp_path, capsys):
    """Parquet has no corrupt lines, and saying so must not start a Python
    worker: ingest_job counts the quarantine frame on every parquet run, and
    a Python-RDD scan (ExistingRDD) costs ~1.3 s on a fresh context."""
    path = str(tmp_path / "pq")
    write_transcripts(corpus, path, "parquet")
    _, quarantine = read_transcripts(spark, path, "parquet")
    assert [(f.name, f.dataType.simpleString()) for f in quarantine.schema] == [
        ("raw_line", "string")
    ]
    assert quarantine.count() == 0
    capsys.readouterr()
    quarantine.explain()
    assert "ExistingRDD" not in capsys.readouterr().out


def test_unknown_format_rejected(spark):
    with pytest.raises(ValueError):
        read_transcripts(spark, "/tmp/x", "xlsx")


def test_ingest_job_end_to_end(spark, corpus, tmp_path):
    """jobs/ingest_job.py shape: dump (json, with a corrupt line) -> canonical
    parquet table + quarantine sidecar; the extract path then reads the
    canonical table with the strict schema."""
    import subprocess
    import sys
    from pathlib import Path

    dump = tmp_path / "dump"
    write_transcripts(corpus, str(dump), "json")
    # inject a corrupt line into one part file (and drop its checksum
    # sidecar — editing a Spark-written file invalidates the .crc)
    part = next(p for p in dump.iterdir() if p.name.endswith(".json"))
    part.write_text(part.read_text() + "corrupt trailing line\n")
    crc = part.parent / f".{part.name}.crc"
    if crc.exists():
        crc.unlink()
    repo = Path(__file__).parent.parent
    env = {**__import__("os").environ, "PYTHONPATH": str(repo)}
    out = subprocess.run(
        [
            sys.executable, str(repo / "jobs" / "ingest_job.py"),
            "--input", str(dump), "--format", "json",
            "--output", str(tmp_path / "table"),
            "--quarantine", str(tmp_path / "bad"),
        ],
        capture_output=True, text=True, check=True, env=env, cwd=str(repo),
    )
    import json as _json

    summary = _json.loads(out.stdout.strip().splitlines()[-1])
    assert summary["table_rows"] == corpus.count()
    assert summary["corrupt_lines"] == 1
    table = spark.read.parquet(str(tmp_path / "table"))
    assert table.count() == corpus.count()
    assert spark.read.parquet(str(tmp_path / "bad")).count() == 1
