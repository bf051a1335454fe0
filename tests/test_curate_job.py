"""End-to-end curation-job contract (round 4, jobs/curate_job.py): the
composed training-data ladder (PII redact -> quality filter -> exact dedup ->
MinHash near-dedup -> decontamination -> sequence packing) over the sf0.001
documents table, run as the spark-submit entry point in a subprocess.

Pins: kept + dropped reconciles exactly to the input (the P5 completeness
discipline applied to curation), each drop stage's counts are consistent
with the manifest parquet, the near-dedup stage actually fires on the
corpus's planted near-duplicates, packing output respects the budget, and
PII redaction leaves no raw email-shaped strings in the curated text."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
from pathlib import Path

import duckdb
import pytest

REPO = Path(__file__).resolve().parent.parent
SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def result(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("curate")
    out, man = tmp / "curated", tmp / "drops"
    proc = subprocess.run(
        [
            sys.executable,
            str(REPO / "jobs" / "curate_job.py"),
            "--input", f"{SF}/documents.parquet",
            "--output", str(out),
            "--manifest", str(man),
            "--pack-budget", "256",
        ],
        capture_output=True,
        text=True,
        cwd=str(REPO),
        timeout=600,
        # plain-python invocation stands in for spark-submit --py-files:
        # the package comes from PYTHONPATH (same stance as test_ingest_job)
        env={**os.environ, "PYTHONPATH": str(REPO)},
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    return summary, out, man


def test_summary_reconciles(result):
    summary, _, _ = result
    assert summary["complete"] is True
    assert summary["rows_in"] == summary["rows_out"] + summary["rows_dropped"]
    assert summary["rows_out"] > 0


def test_manifest_matches_summary(result):
    summary, _, man = result
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT stage || ':' || reason, count(*) FROM read_parquet('{man}/*.parquet') GROUP BY 1"
    ).fetchall()
    assert dict(rows) == summary["drops"]
    # every dropped doc appears exactly once (stages are sequential)
    n_ids, n_distinct = con.execute(
        f"SELECT count(doc_id), count(DISTINCT doc_id) FROM read_parquet('{man}/*.parquet')"
    ).fetchone()
    assert n_ids == n_distinct


def test_near_dedup_fires_on_planted_twins(result):
    summary, _, _ = result
    # the synthetic corpus plants near-duplicate docs for the dedup ladder;
    # a curation run that drops none of them is broken
    assert summary["drops"].get("near_dedup:near_duplicate", 0) > 0


def test_packing_and_redaction_invariants(result):
    _, out, _ = result
    con = duckdb.connect()
    # contiguous-layout contract: within a lang stratum ordered by doc_id,
    # each doc's (bin_id, bin_offset) encodes the running token sum of its
    # predecessors — recompute it in SQL and demand exact equality
    bad = con.execute(
        f"""
        WITH c AS (
          SELECT *, COALESCE(SUM(n_tokens) OVER
                   (PARTITION BY lang ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pos
          FROM read_parquet('{out}/*.parquet'))
        SELECT count(*) FROM c
        WHERE bin_id <> pos // 256 OR bin_offset <> pos % 256
        """
    ).fetchone()[0]
    assert bad == 0
    texts = [r[0] for r in con.execute(
        f"SELECT text FROM read_parquet('{out}/*.parquet')"
    ).fetchall()]
    email = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
    assert not any(email.search(t) for t in texts)


def test_null_text_docs_are_manifested_not_lost(spark):
    """Round-5 ADVICE fix: a NULL-text doc used to vanish at the quality
    stage (the word-metric inner join sees no exploded rows for NULL text)
    with no manifest entry, breaking kept+dropped==input. It must now land
    in the manifest as quality:null_text and the ladder must still
    reconcile exactly."""
    import sys

    sys.path.insert(0, str(REPO / "jobs"))
    from curate_job import curate

    words = lambda tag: " ".join(f"{tag}{i}" for i in range(12))  # noqa: E731
    docs = spark.createDataFrame(
        [(1, None, "en"), (2, words("alpha"), "en"), (3, words("beta"), "de")],
        "doc_id long, text string, lang string",
    )
    curated, manifest = curate(spark, docs, eval_mod=50, pack_budget=64)
    dropped = {(r.doc_id, r.stage, r.reason) for r in manifest.collect()}
    assert (1, "quality", "null_text") in dropped
    assert curated.count() + len(dropped) == 3


def test_curate_resume_is_idempotent(tmp_path):
    """Snapshot-atomic resume: with --lineage, a committed run is skipped
    outright on replay (run_id match), and the outputs from the first run
    survive untouched."""
    out, man, lin = tmp_path / "c", tmp_path / "m", tmp_path / "ledger"
    cmd = [
        sys.executable, str(REPO / "jobs" / "curate_job.py"),
        "--input", f"{SF}/documents.parquet",
        "--output", str(out), "--manifest", str(man),
        "--lineage", str(lin), "--pack-budget", "256",
    ]
    env = {**os.environ, "PYTHONPATH": str(REPO)}
    first = subprocess.run(cmd, capture_output=True, text=True, cwd=str(REPO), timeout=600, env=env)
    assert first.returncode == 0, first.stderr[-1500:]
    s1 = json.loads(first.stdout.strip().splitlines()[-1])
    assert s1["complete"] is True and "run_id" in s1

    second = subprocess.run(cmd, capture_output=True, text=True, cwd=str(REPO), timeout=600, env=env)
    assert second.returncode == 0, second.stderr[-1500:]
    s2 = json.loads(second.stdout.strip().splitlines()[-1])
    assert s2 == {"run_id": s1["run_id"], "skipped": True, "reason": "already_committed"}

    con = duckdb.connect()
    n = con.execute(f"SELECT count(*) FROM read_parquet('{out}/*.parquet')").fetchone()[0]
    assert n == s1["rows_out"]


def test_corrupt_ledger_fails_loudly(tmp_path):
    """An unreadable ledger must fail the job: reading it as "no run
    committed" would silently redo the whole curation."""
    out, lin = tmp_path / "c", tmp_path / "ledger"
    lin.mkdir()
    (lin / "part-00000-garbage.snappy.parquet").write_bytes(b"not parquet" * 8)
    proc = subprocess.run(
        [
            sys.executable, str(REPO / "jobs" / "curate_job.py"),
            "--input", f"{SF}/documents.parquet",
            "--output", str(out), "--lineage", str(lin),
        ],
        capture_output=True, text=True, cwd=str(REPO), timeout=600,
        env={**os.environ, "PYTHONPATH": str(REPO)},
    )
    assert proc.returncode != 0
    assert "part-00000-garbage" in proc.stderr
    assert not out.exists()


def test_manifest_write_reruns_no_stage(spark, tmp_path):
    """curate() runs stages 0-5 once, into two barriers; curated and the
    manifest both read them. Once curated is written, writing the manifest
    is a scan of the two barriers: at most two Spark jobs, where a manifest
    that re-derived the ladder (pairs, components rounds, decontamination)
    ran dozens."""
    from pyspark.sql import functions as F

    sys.path.insert(0, str(REPO / "jobs"))
    from curate_job import curate

    docs = spark.read.parquet(f"{SF}/documents.parquet").where(F.col("doc_id") < 200)
    curated, manifest = curate(spark, docs, pack_budget=256)
    curated.write.parquet(str(tmp_path / "curated"))
    sc = spark.sparkContext
    sc.setJobGroup("curate-manifest", "manifest write")
    try:
        manifest.write.parquet(str(tmp_path / "manifest"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("curate-manifest")) <= 2
    n_kept = spark.read.parquet(str(tmp_path / "curated")).count()
    n_dropped = spark.read.parquet(str(tmp_path / "manifest")).count()
    assert n_dropped > 0 and n_kept + n_dropped == docs.count()
