"""Validity split + observed metrics (SURVEY.md §2.3 P5, §2.6 A2).

The reference validates row-by-row and collects problem rows into a separate
frame (transaction_normalizer.py:273-284), counting totals as it goes
(chase_checking.py:170-254 counters). Spark shape: both branches are
filters over the same extracted relation, and `df.observe()` rides the valid
branch's action to collect the counters for free — no second job, no collect
of data rows.

Scale notes: nothing is cached; each branch re-derives from its input when
an action runs on it, so no executor memory is pinned. observe() metrics are
accumulator-style, constant size per task.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


@dataclass
class ValiditySplit:
    valid: DataFrame
    quarantine: DataFrame
    observation: Observation


def split_extracted(extracted: DataFrame) -> ValiditySplit:
    """Split extracted turns into valid / quarantine, observing counters on
    the valid branch: total rows, valid rows, records extracted, turns with
    at least one rule hit."""
    obs = Observation("extraction_metrics")
    observed = extracted.observe(
        obs,
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(F.col("valid").cast("long")).alias("n_valid"),
        F.sum(F.col("n_records").cast("long")).alias("n_records"),
        F.sum((F.size("rule_hits") > 0).cast("long")).alias("n_turns_with_hits"),
    )
    valid = observed.where(F.col("valid"))
    quarantine = extracted.where(~F.col("valid")).withColumn(
        "problem_reason", F.coalesce("problem_reason", F.lit("unknown"))
    )
    return ValiditySplit(valid=valid, quarantine=quarantine, observation=obs)
