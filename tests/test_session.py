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
