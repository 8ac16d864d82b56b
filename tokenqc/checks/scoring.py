"""Scoring / report layer: graded verdicts and score roll-ups.

Engine analogue of the reference's JOSS criteria scoring
(/root/reference/bin/analyze_joss.py): per-criterion threshold verdicts
good/ok/needs-improvement at 0.9/0.7 (analyze_joss.py:47-49,322-335) and
the aggregate `total_score = Σ score`, `overall = total/len(criteria)`
(analyze_joss.py:505-508).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

GOOD_T = 0.9
OK_T = 0.7
# same score map as the reference (analyze_joss.py:42-45)
SCORE_GOOD = 1.0
SCORE_OK = 0.5
SCORE_NEEDS = 0.0


def graded_status(pass_rate_col) -> F.Column:
    """pass_rate → good / ok / needs_improvement (analyze_joss.py:322-335)."""
    return (
        F.when(pass_rate_col >= GOOD_T, F.lit("good"))
        .when(pass_rate_col >= OK_T, F.lit("ok"))
        .otherwise(F.lit("needs_improvement"))
    )


def grade_to_score(status_col) -> F.Column:
    return (
        F.when(status_col == "good", F.lit(SCORE_GOOD))
        .when(status_col == "ok", F.lit(SCORE_OK))
        .otherwise(F.lit(SCORE_NEEDS))
    )


def partition_report(verdict_counts: DataFrame) -> DataFrame:
    """Roll per-(partition, check) pass rates up to a scored report row
    per partition: one graded status per check → summed/normalized score
    (the analyze_joss.py:505-508 semantics).

    Input: (partition_id, check_name, n_rows, n_viol).
    Output: (partition_id, n_checks, total_score, overall_score).
    """
    rate = F.when(F.col("n_rows") > 0, 1.0 - F.col("n_viol") / F.col("n_rows")).otherwise(F.lit(1.0))
    graded = verdict_counts.select(
        "partition_id",
        "check_name",
        grade_to_score(graded_status(rate)).alias("score"),
    )
    return graded.groupBy("partition_id").agg(
        F.count(F.lit(1)).alias("n_checks"),
        F.sum("score").alias("total_score"),
        (F.sum("score") / F.count(F.lit(1))).alias("overall_score"),
    )
