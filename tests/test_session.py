"""Session defaults that decide join strategies at scale."""

from __future__ import annotations


def test_join_confs_pinned(spark):
    """Shuffled-hash joins come only from AQE's runtime-stat threshold.
    The planner-side preferSortMergeJoin=false would choose them from
    size estimates, and an SHJ build side cannot spill."""
    conf = spark.conf
    assert conf.get("spark.sql.join.preferSortMergeJoin") == "true"
    assert conf.get("spark.sql.adaptive.enabled") == "true"
    assert conf.get("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold") == str(
        64 * 1024 * 1024
    )


def test_reader_batch_size_pinned(spark):
    """Parquet reader batches stay small: at the default 4096 rows a
    batch of token arrays is a multi-MB vector, a humongous object to G1."""
    assert spark.conf.get("spark.sql.parquet.columnarReaderBatchSize") == "256"
