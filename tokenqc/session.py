"""SparkSession factory with scale-oriented defaults.

The same confs we would pass to ``spark-submit`` on a real cluster;
in this sandbox the master is ``local[N]``. AQE is always on (runtime
shuffle-partition coalescing + skew-join splitting are the cheap half of
the skew story; explicit salting in :mod:`tokenqc.skew` is the other).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "tokenqc",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the validation workload.

    On a real cluster these confs ride along unchanged; only ``master``
    and memory sizing differ. ``local[N]``: one JVM, N task threads.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    # Shuffle partitions sized to parallelism: on a 1000-executor cluster
    # this would be ~2-3x total cores; locally, match the thread count.
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else cpus
        shuffle_partitions = 32 if n == "*" else max(8, int(n))

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # shuffled-hash joins only where runtime stats show the build
        # side fits: AQE replans a sort-merge join as SHJ (skipping both
        # sort passes) when every post-shuffle partition measured under
        # 64 MB, so each task's hash map is bounded. The planner-side
        # spark.sql.join.preferSortMergeJoin=false is deliberately left
        # at its default: it picks SHJ from size estimates before any
        # data is seen, and an SHJ build side cannot spill.
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("TOKENQC_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
