"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship extraction pipeline on sf0.001.
``queries()`` / ``oracle_sql()`` — the 50 DuckDB-checked operator gates, in
verification order: two views of the ``GATES`` table in pdf_extractor_spark/plans/
suites.py.
"""

from __future__ import annotations

import sys
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = Path(__file__).resolve().parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

from pdf_extractor_spark.plans.suites import oracle_sql, queries  # noqa: E402,F401


def _transcripts_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministically reshape the documents table into the transcript
    schema (input_hint): each document becomes a conversation of turns split
    from its text — no external data, derived from /root/testdata only."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.select(
            F.concat(F.lit("doc_"), F.col("doc_id").cast("string")).alias("conv_id"),
            F.posexplode(F.split(F.col("text"), r"\. ")).alias("turn_idx_l", "text"),
        )
        .select(
            "conv_id",
            F.col("turn_idx_l").cast("int").alias("turn_idx"),
            F.lit("assistant").alias("role"),
            "text",
            F.lit(None).cast("string").alias("tool"),
            F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
        )
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the extraction pipeline over a transcript table synthesized
    from sf0.001 plus the deterministic generator; returns extracted_turns."""
    from pdf_extractor_spark.operators.extract import extract_turns
    from pdf_extractor_spark.operators.order import stable_turn_order
    from pdf_extractor_spark.schema import TRANSCRIPTS
    from pdf_extractor_spark.sources.synth import generate_transcripts

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    synth = spark.createDataFrame(generate_transcripts(n_convs=50, seed=42), schema=TRANSCRIPTS)
    docs = _transcripts_from_documents(spark, "/root/testdata/sf0.001")
    transcripts = synth.unionByName(docs)
    return stable_turn_order(extract_turns(transcripts))

