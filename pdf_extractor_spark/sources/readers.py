"""Transcript-table source readers (SURVEY §2.1 S1/S4/S8 source surface).

The pipeline's canonical input is a parquet/Iceberg table, but transcript
dumps arrive in other containers too; these readers land any of them on the
SAME ``TRANSCRIPTS`` schema so everything downstream (extraction, lineage,
goldens) is source-agnostic:

  - parquet: schema-enforced scan (the production path)
  - json:    line-delimited, schema-projected, corrupt lines quarantined
  - csv:     header row, timestamp parsing, corrupt lines quarantined

Corrupt-record policy (the reference's defensive-repair stance,
normalize_api.py:117-127, done Spark-first): PERMISSIVE mode with a
``_corrupt_record`` column — bad lines become rows whose raw text is
preserved in the quarantine output instead of failing the job or silently
vanishing. ``read_transcripts`` returns (good, quarantine) so lineage can
count both.

Scale notes: all three paths are plain schema-projected scans — pushdown and
pruning work as usual; the corrupt-record split is a narrow filter, not a
shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.lineage import literal_frame
from ..schema import TRANSCRIPTS

_CORRUPT = "_corrupt_record"

# TRANSCRIPTS plus the permissive-mode capture column
_WITH_CORRUPT = T.StructType(
    [*TRANSCRIPTS.fields, T.StructField(_CORRUPT, T.StringType(), True)]
)


def _split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    # a corrupt line parses to all-null data columns + the raw line. The
    # cache is REQUIRED, not an optimization: Spark disallows filtering on
    # the corrupt-record column straight off a raw file scan
    # (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN) — materializing
    # the parsed relation first is the documented pattern.
    df = df.cache()
    good = df.where(F.col(_CORRUPT).isNull()).drop(_CORRUPT)
    quarantine = df.where(F.col(_CORRUPT).isNotNull()).select(
        F.col(_CORRUPT).alias("raw_line")
    )
    return good, quarantine


def read_transcripts(
    spark: SparkSession, path: str, format: str = "parquet"
) -> tuple[DataFrame, DataFrame]:
    """Read a transcript table in any supported container.

    Returns ``(transcripts, quarantine)`` — transcripts always carries the
    exact ``TRANSCRIPTS`` schema; quarantine is (raw_line) rows for inputs
    the container could not parse (always empty for parquet, which fails
    loudly on schema mismatch instead)."""
    if format == "parquet":
        df = spark.read.schema(TRANSCRIPTS).parquet(path)
        # built on the JVM: createDataFrame over no rows would still start a
        # Python worker when the caller counts it
        return df, literal_frame(spark, "raw_line string")
    if format == "json":
        df = (
            spark.read.schema(_WITH_CORRUPT)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", _CORRUPT)
            .json(path)
        )
        return _split_corrupt(df)
    if format == "csv":
        df = (
            spark.read.schema(_WITH_CORRUPT)
            .option("header", "true")
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", _CORRUPT)
            .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
            # multiline turn text survives the round trip via quoting
            .option("escape", '"')
            .option("multiLine", "true")
            .csv(path)
        )
        return _split_corrupt(df)
    raise ValueError(f"unsupported transcript source format: {format!r}")


def write_transcripts(df: DataFrame, path: str, format: str = "parquet") -> None:
    """Round-trip writer used by tests and export jobs (S7/S8 sink surface)."""
    w = df.write.mode("overwrite")
    if format == "parquet":
        w.parquet(path)
    elif format == "json":
        w.json(path)
    elif format == "csv":
        (
            w.option("header", "true")
            .option("escape", '"')
            .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
            .csv(path)
        )
    else:
        raise ValueError(f"unsupported transcript sink format: {format!r}")
