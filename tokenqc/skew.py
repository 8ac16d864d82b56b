"""Skew helper: salted two-stage aggregation.

The north rule requires explicit handling of skewed source partitions
(the synthetic data makes `web` ~70% of rows). AQE skew-join splitting
(enabled in :mod:`tokenqc.session`) covers joins; `salted_count` covers
aggregations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, n_salt: int, col_name: str = "__salt") -> DataFrame:
    """Add a salt bucket in [0, n_salt) from the *input partition id*.

    The salt must differ across copies of the same hot key (hashing the
    key itself would send every copy to one reducer again — no spread).
    spark_partition_id is deterministic for a fixed input layout and
    avoids rand(), so a retried stage re-produces identical buckets —
    required for the exactly-once-ish resume story (SURVEY.md §7.3).
    A hot key spanning many input splits lands in many salt buckets.
    """
    return df.withColumn(
        col_name, F.pmod(F.spark_partition_id(), F.lit(n_salt)).cast("int")
    )


def salted_count(df: DataFrame, key: str, n_salt: int) -> DataFrame:
    """Two-stage count-by-key: groupBy(key, salt) then groupBy(key).

    Stage 1 spreads a hot key over `n_salt` reducers; stage 2 combines
    the (at most n_salt) partial rows per key. Output: (key, cnt).
    """
    salted = with_salt(df.select(key), n_salt)
    partial = salted.groupBy(key, "__salt").agg(F.count(F.lit(1)).alias("c"))
    return partial.groupBy(key).agg(F.sum("c").alias("cnt"))
