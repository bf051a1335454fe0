"""Lineage/checkpoint + idempotent resume (operators/lineage.py, ST1-ST4).

Scenarios:
  1. fresh run processes every input file, output rows == input rows;
  2. immediate re-run is a no-op (nothing pending, no duplicate output);
  3. crash-before-commit (lineage row missing for one file) reprocesses ONLY
     that file and the final output is still exactly-once;
  4. lineage metrics reconcile with the output (row counts, valid counts);
  5. an unreadable lineage table fails the run instead of reading as empty.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pyspark.sql.types as T
import pytest

from pdf_extractor_spark.operators.extract import extract_turns
from pdf_extractor_spark.operators.lineage import (
    EXTRACTED_WITH_SRC,
    SRC_KEY,
    list_input_files,
    literal_frame,
    pending_files,
    read_commit_table,
    run_incremental,
    src_key_col,
)
from pdf_extractor_spark.rules.oracle import extract_turn
from pdf_extractor_spark.schema import LINEAGE, TRANSCRIPTS
from pdf_extractor_spark.sources.synth import generate_transcripts


@pytest.fixture(scope="module")
def dirs(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("lineage")
    input_dir = str(base / "input")
    pdf = generate_transcripts(n_convs=40, seed=42)
    spark.createDataFrame(pdf, schema=TRANSCRIPTS).repartition(4).write.parquet(input_dir)
    return {
        "input": input_dir,
        "output": str(base / "output"),
        "lineage": str(base / "lineage"),
        "n_rows": len(pdf),
        "pdf": pdf,
    }


def test_fresh_run_processes_all(spark, dirs):
    summary = run_incremental(
        spark, dirs["input"], dirs["output"], dirs["lineage"], run_id="r1"
    )
    assert summary["files"] == 4
    assert summary["rows"] == dirs["n_rows"]
    out = spark.read.parquet(dirs["output"])
    assert out.count() == dirs["n_rows"]
    # exactly one output row per input (conv_id, turn_idx)
    assert out.select("conv_id", "turn_idx").distinct().count() == dirs["n_rows"]
    # every committed field equals the scalar oracle on the same turn
    texts = {(r.conv_id, r.turn_idx): r.text for r in dirs["pdf"].itertuples()}
    for row in out.collect():
        want = extract_turn(texts[(row.conv_id, row.turn_idx)])
        got = (
            row.family,
            row.extracted_text,
            [(s.start, s.end, s.kind) for s in row.spans],
            row.rule_hits,
            row.n_records,
            row.valid,
            row.problem_reason,
        )
        assert got == (
            want.family,
            want.extracted_text,
            list(want.spans),
            want.rule_hits,
            want.n_records,
            want.valid,
            want.problem_reason,
        ), (row.conv_id, row.turn_idx)


def test_job_writes_the_declared_schema(spark, dirs):
    """The job's extraction is extract_turns carrying src_key through: its
    schema is the declared EXTRACTED_WITH_SRC."""
    scan = spark.read.parquet(dirs["input"]).withColumn("src_key", src_key_col())
    assert extract_turns(scan, passthrough=[SRC_KEY]).schema == EXTRACTED_WITH_SRC


def test_rerun_is_noop(spark, dirs):
    assert pending_files(spark, dirs["input"], dirs["lineage"]).count() == 0
    summary = run_incremental(
        spark, dirs["input"], dirs["output"], dirs["lineage"], run_id="r2"
    )
    assert summary == {"files": 0, "rows": 0}
    assert spark.read.parquet(dirs["output"]).count() == dirs["n_rows"]


def test_crash_resume_reprocesses_only_missing(spark, dirs):
    lin = spark.read.parquet(dirs["lineage"])
    victim = lin.select("partition_range").orderBy("partition_range").first()[0]
    survivors = lin.where(F.col("partition_range") != victim)
    # simulate crash-before-commit: rewrite lineage without the victim's row
    survivors.write.mode("overwrite").parquet(dirs["lineage"] + "_partial")
    pend = pending_files(spark, dirs["input"], dirs["lineage"] + "_partial")
    assert [r.src_key for r in pend.collect()] == [victim]
    victim_rows = (
        spark.read.parquet(dirs["output"]).where(F.col("src_key") == victim).count()
    )
    summary = run_incremental(
        spark, dirs["input"], dirs["output"], dirs["lineage"] + "_partial", run_id="r3"
    )
    assert summary["files"] == 1
    # the replay's reported rows must equal the replayed file's output —
    # a regression here once hid behind files-only assertions (the lineage
    # append used to invalidate the cached pending set before the summary agg)
    assert summary["rows"] == victim_rows
    # replay overwrote the victim's partition: still exactly-once overall
    out = spark.read.parquet(dirs["output"])
    assert out.count() == dirs["n_rows"]
    assert out.select("conv_id", "turn_idx").distinct().count() == dirs["n_rows"]


def test_lineage_metrics_reconcile(spark, dirs):
    lin = spark.read.parquet(dirs["lineage"])
    out = spark.read.parquet(dirs["output"])
    assert lin.agg(F.sum("row_count")).first()[0] == dirs["n_rows"]
    assert (
        lin.agg(F.sum("valid_count")).first()[0]
        == out.where("valid").count()
    )
    assert lin.where(F.col("status") != "done").count() == 0
    # per-rule hits in lineage == per-rule hits in output
    lin_hits = (
        lin.select(F.explode("rule_hit_metrics").alias("rule", "n"))
        .groupBy("rule")
        .agg(F.sum("n").alias("n"))
    )
    out_hits = (
        out.select(F.explode("rule_hits").alias("rule", "n"))
        .groupBy("rule")
        .agg(F.sum("n").cast("long").alias("n"))
    )
    assert sorted(map(tuple, lin_hits.collect())) == sorted(map(tuple, out_hits.collect()))


def test_new_files_processed_incrementally(spark, dirs):
    # files that appear AFTER a completed run are the only pending work
    extra = generate_transcripts(n_convs=5, seed=99)
    spark.createDataFrame(extra, schema=TRANSCRIPTS).coalesce(1).write.mode(
        "append"
    ).parquet(dirs["input"])
    summary = run_incremental(
        spark, dirs["input"], dirs["output"], dirs["lineage"], run_id="r4"
    )
    assert summary["files"] == 1
    assert summary["rows"] == len(extra)
    out = spark.read.parquet(dirs["output"])
    assert out.count() == dirs["n_rows"] + len(extra)
    assert pending_files(spark, dirs["input"], dirs["lineage"]).count() == 0


def test_auto_salt_defuses_whale_file(spark, tmp_path):
    """r4 VERDICT #5: the production entrypoint applies the salted skew
    defense WITHOUT hand-tuning. A whale conversation written as ONE parquet
    file yields one input split; salt_partitions='auto' must (a) detect the
    under-split scan, (b) spread extraction across tasks — observable as
    multiple part-files under the src_key partition dir — and (c) leave the
    extracted VALUES identical to the undefended run."""
    import pandas as pd

    n = 4000
    pdf = pd.DataFrame(
        {
            "conv_id": ["whale"] * n,
            "turn_idx": pd.array(range(n), dtype="int32"),
            "role": ["user"] * n,
            "text": [f"MEMO REF {i} payment {i % 97}.00" for i in range(n)],
            "tool": [None] * n,
            "ts": pd.Timestamp("2024-01-01"),
        }
    )
    inp = str(tmp_path / "input")
    spark.createDataFrame(pdf, schema=TRANSCRIPTS).coalesce(1).write.parquet(inp)

    outs = {}
    for mode, salt in (("off", None), ("auto", "auto")):
        out = str(tmp_path / f"out_{mode}")
        summary = run_incremental(
            spark, inp, out, str(tmp_path / f"lin_{mode}"), run_id="r1",
            salt_partitions=salt,
        )
        assert summary["rows"] == n
        part_dirs = [p for p in __import__("pathlib").Path(out).iterdir() if p.is_dir()]
        assert len(part_dirs) == 1  # one src_key partition
        n_files = len(list(part_dirs[0].glob("*.parquet")))
        outs[mode] = {
            "files": n_files,
            "rows": sorted(
                tuple(r) for r in spark.read.parquet(out)
                .select("conv_id", "turn_idx", "extracted_text", "valid")
                .collect()
            ),
        }
    assert outs["off"]["files"] == 1  # the pathology: one task wrote everything
    assert outs["auto"]["files"] > 1  # the defense: extraction spread over tasks
    assert outs["off"]["rows"] == outs["auto"]["rows"]  # values untouched


def test_auto_salt_fires_on_incremental_whale_after_committed_files(spark, tmp_path):
    """Round-5 review regression: the auto-salt gate must size the PENDING
    subset, not the whole directory. With enough small files already
    committed, a whole-scan split count is >= cores and a whole-scan gate
    would silently skip the defense when a new whale file lands — exactly
    the incremental scenario the defense exists for."""
    import pandas as pd

    cores = spark.sparkContext.defaultParallelism
    inp, out, lin = (str(tmp_path / d) for d in ("input", "out", "lin"))
    small = generate_transcripts(n_convs=max(40, 2 * cores), seed=9)
    spark.createDataFrame(small, schema=TRANSCRIPTS).repartition(
        2 * cores
    ).write.parquet(inp)
    run_incremental(spark, inp, out, lin, run_id="r1")

    n = 4000
    whale = pd.DataFrame(
        {
            "conv_id": ["whale2"] * n,
            "turn_idx": pd.array(range(n), dtype="int32"),
            "role": ["user"] * n,
            "text": [f"MEMO REF {i} late whale {i % 89}.00" for i in range(n)],
            "tool": [None] * n,
            "ts": pd.Timestamp("2024-02-01"),
        }
    )
    spark.createDataFrame(whale, schema=TRANSCRIPTS).coalesce(1).write.mode(
        "append"
    ).parquet(inp)
    summary = run_incremental(spark, inp, out, lin, run_id="r2")
    assert summary["files"] == 1 and summary["rows"] == n
    # the whale's partition dir: the one holding conv_id 'whale2' rows
    from pyspark.sql import functions as F

    whale_key = (
        spark.read.parquet(out)
        .where(F.col("conv_id") == "whale2")
        .select(F.input_file_name())
        .first()[0]
    )
    import pathlib

    part_dir = pathlib.Path(whale_key.replace("file://", "")).parent
    n_files = len(list(part_dir.glob("*.parquet")))
    assert n_files > 1, f"auto-salt skipped on incremental whale ({n_files} file)"


def test_corrupt_lineage_fails_loudly(spark, dirs, tmp_path):
    """A lineage directory that cannot be read must fail the run: reading it
    as "nothing committed" would silently reprocess every input file. An
    empty directory, by contrast, is a valid empty table."""
    empty = tmp_path / "lineage_empty"
    empty.mkdir()
    n_inputs = list_input_files(spark, dirs["input"]).count()
    assert pending_files(spark, dirs["input"], str(empty)).count() == n_inputs

    bad = tmp_path / "lineage_bad"
    bad.mkdir()
    (bad / "part-00000-garbage.snappy.parquet").write_bytes(b"not parquet" * 8)
    with pytest.raises(Exception, match="part-00000-garbage"):
        run_incremental(
            spark, dirs["input"], str(tmp_path / "out"), str(bad), run_id="r5"
        )
    assert not (tmp_path / "out").exists()


@pytest.mark.parametrize(
    "schema", [LINEAGE, "run_id string, rows_in long, ts double"], ids=["struct", "ddl"]
)
def test_missing_commit_table_reads_empty_without_a_python_worker(spark, tmp_path, capsys, schema):
    """A commit table that does not exist yet reads as zero rows with the
    declared column names and types, built on the JVM: a Python-RDD scan
    (ExistingRDD) would start a Python worker, ~1.3 s on a fresh context,
    on every first run of a job."""
    df = read_commit_table(spark, str(tmp_path / "absent"), schema)
    want = schema if not isinstance(schema, str) else T.StructType.fromDDL(schema)
    assert [(f.name, f.dataType) for f in df.schema] == [(f.name, f.dataType) for f in want]
    assert df.count() == 0
    capsys.readouterr()
    df.explain()
    plan = capsys.readouterr().out
    assert "Range" in plan and "ExistingRDD" not in plan


def test_literal_row_is_built_on_the_jvm(spark, capsys):
    """The curate ledger's commit row: one row with the declared types, and
    no Python-RDD scan (createDataFrame over local rows would start a
    Python worker to write it)."""
    df = literal_frame(spark, "run_id string, rows_in long, ts double", ("r1", 5, 1.5))
    assert [(f.name, f.dataType) for f in df.schema] == [
        ("run_id", T.StringType()), ("rows_in", T.LongType()), ("ts", T.DoubleType())
    ]
    assert [tuple(r) for r in df.collect()] == [("r1", 5, 1.5)]
    capsys.readouterr()
    df.explain()
    assert "ExistingRDD" not in capsys.readouterr().out
