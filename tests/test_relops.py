"""As-of join and range join: hand-checkable semantics + plan shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from corpusops import relops


def _events(spark):
    rows = [
        ("u1", "2026-01-01 00:00:05", 1),
        ("u1", "2026-01-01 00:00:30", 2),
        ("u1", "2026-01-01 00:10:00", 3),
        ("u2", "2026-01-01 00:00:01", 4),  # before u2's first snapshot
    ]
    return spark.createDataFrame(rows, "user_id string, ts string, ev int").withColumn(
        "ts", F.to_timestamp("ts")
    )


def _snaps(spark):
    rows = [
        ("u1", "2026-01-01 00:00:00", 10.0),
        ("u1", "2026-01-01 00:00:30", 20.0),  # exact-tie with an event
        ("u2", "2026-01-01 00:05:00", 30.0),
    ]
    return spark.createDataFrame(rows, "user_id string, ts string, snap double").withColumn(
        "ts", F.to_timestamp("ts")
    )


def test_asof_backward_semantics(spark):
    out = {
        (r.user_id, r.ev): r.snap
        for r in relops.asof_join(_events(spark), _snaps(spark), on="user_id").collect()
    }
    assert out[("u1", 1)] == 10.0   # latest prior
    assert out[("u1", 2)] == 20.0   # exact tie -> right row wins (backward inclusive)
    assert out[("u1", 3)] == 20.0   # carried forward
    assert out[("u2", 4)] is None   # no prior snapshot


def test_asof_hot_key_guard(spark):
    """asof_join must REFUSE a key whose combined history exceeds
    max_key_rows (the one-task-sorts-everything shape), pointing at the
    bucketed variant; max_key_rows=None skips the probe (r4 verdict #6,
    the pack.token_offsets guard pattern)."""
    import pytest

    ev, sn = _events(spark), _snaps(spark)
    with pytest.raises(ValueError, match="asof_join_bucketed"):
        relops.asof_join(ev, sn, on="user_id", max_key_rows=2)
    # at/above the hottest key's actual count it runs; None skips probe
    assert relops.asof_join(ev, sn, on="user_id", max_key_rows=5).count() == 4
    assert relops.asof_join(ev, sn, on="user_id", max_key_rows=None).count() == 4


def test_asof_tolerance(spark):
    out = {
        (r.user_id, r.ev): r.snap
        for r in relops.asof_join(
            _events(spark), _snaps(spark), on="user_id", tolerance_seconds=60
        ).collect()
    }
    assert out[("u1", 2)] == 20.0    # 0s old
    assert out[("u1", 3)] is None    # 570s old > tolerance


def test_asof_single_shuffle_window(spark):
    """The plan must be the union+window shape: one per-key window, no
    cartesian/theta join of the two sides."""
    plan = relops.asof_join(_events(spark), _snaps(spark), on="user_id")._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Window") >= 1 and "Union" in plan


def test_asof_bucketed_matches_plain(spark):
    """asof_join_bucketed must reproduce asof_join exactly — ties,
    carry across buckets, tolerance — for bucket widths smaller than,
    equal to, and larger than the data's time span, including a hot key
    whose history spans many buckets."""
    import random

    rnd = random.Random(3)
    base = 1_767_225_600  # fixed epoch, avoids wall-clock dependence
    left_rows = [
        ("hot" if i % 2 == 0 else f"u{i % 5}", base + rnd.randrange(0, 86_400), i)
        for i in range(400)
    ]
    right_rows = [
        ("hot" if i % 2 == 0 else f"u{i % 5}", base + rnd.randrange(0, 86_400), float(i))
        for i in range(120)
    ]
    left = (
        spark.createDataFrame(left_rows, "k string, sec long, ev int")
        .select("k", F.timestamp_seconds("sec").alias("ts"), "ev")
    )
    right = (
        spark.createDataFrame(right_rows, "k string, sec long, snap double")
        .groupBy("k", F.timestamp_seconds("sec").alias("ts"))
        .agg(F.max("snap").alias("snap"))  # unique per (k, ts) contract
    )
    for tol in (None, 3600):
        want = sorted(
            (r.k, r.ev, r.snap)
            for r in relops.asof_join(
                left, right, on="k", tolerance_seconds=tol
            ).collect()
        )
        for width in (600, 7200, 200_000):
            got = sorted(
                (r.k, r.ev, r.snap)
                for r in relops.asof_join_bucketed(
                    left, right, on="k", tolerance_seconds=tol, bucket_seconds=width
                ).collect()
            )
            assert got == want, f"width={width} tol={tol}"


def test_asof_bucketed_window_is_per_bucket(spark):
    """The main window must partition by (key, bucket) — the straggler
    bound — and the plan must contain no key-only data-sized window
    (the bucket-summary window in step 2 partitions by key but its
    input is one row per bucket)."""
    left = _events(spark)
    right = _snaps(spark)
    out = relops.asof_join_bucketed(left, right, on="user_id", bucket_seconds=60)
    jvm = out.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = out._jdf.queryExecution().explainString(mode)
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan
    # at least one spec over (user_id, __b); every data-sized pass uses it
    assert any("__b" in s for s in specs), specs


def test_range_bucket_join_exact(spark):
    facts = spark.createDataFrame([(i,) for i in range(0, 1000, 37)], "v long")
    ranges = spark.createDataFrame(
        [(1, 0, 99), (2, 50, 250), (3, 900, 999)], "rid int, lo long, hi long"
    )
    got = {
        (r.rid, r.v)
        for r in relops.range_bucket_join(facts, ranges, value_col="v").collect()
    }
    want = {
        (rid, v)
        for v in range(0, 1000, 37)
        for rid, lo, hi in [(1, 0, 99), (2, 50, 250), (3, 900, 999)]
        if lo <= v <= hi
    }
    assert got == want


def test_time_rollup_levels_consistent(spark):
    rows = [
        ("a", "2026-01-01 10:00:10", 1.0),
        ("a", "2026-01-01 10:00:50", 2.0),
        ("a", "2026-01-01 10:59:00", 3.0),
        ("a", "2026-01-02 00:00:00", 4.0),
        ("b", "2026-01-01 10:30:00", None),  # null value excluded
        ("b", "2026-01-01 10:30:00", 5.0),
    ]
    df = spark.createDataFrame(rows, "event_type string, ts string, value double").withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = relops.time_rollup(df)
    by = {(r.level, r.event_type, r.bucket_start): (r.n_rows, r.sum_value, r.min_value, r.max_value)
          for r in out.collect()}
    # minute: 10:00 bucket has two rows summing 3.0
    import datetime as dt
    m = int(dt.datetime(2026, 1, 1, 10, 0).timestamp())
    h = int(dt.datetime(2026, 1, 1, 10, 0).timestamp())
    d1 = int(dt.datetime(2026, 1, 1).timestamp())
    assert by[("minute", "a", m)] == (2, 3.0, 1.0, 2.0)
    # hour re-aggregates minute partials: 3 rows, sum 6.0
    assert by[("hour", "a", h)] == (3, 6.0, 1.0, 3.0)
    # day level covers both hours of Jan 1
    assert by[("day", "a", d1)] == (3, 6.0, 1.0, 3.0)
    assert by[("day", "b", d1)] == (1, 5.0, 5.0, 5.0)


def test_rate_spikes_semantics(spark):
    """Planted burst flags SPIKE; thin history is WARMUP (never graded);
    a zero-variance baseline is FLAT (no divide-through); steady traffic
    is OK; window validation raises."""
    import datetime as dt

    import pytest

    from corpusops import relops

    base = dt.datetime(2024, 1, 1)
    rows = []
    # 'a': 2/hour for 8 hours, then a 10-event burst in hour 8
    for h in range(8):
        rows += [(base + dt.timedelta(hours=h, minutes=m), "a") for m in (5, 35)]
    rows += [(base + dt.timedelta(hours=8, minutes=m), "a") for m in range(10)]
    # 'b': counts with real variance, no burst: 1,2,1,2,...
    for h in range(9):
        rows += [(base + dt.timedelta(hours=h, minutes=m), "b")
                 for m in range(1 + h % 2)]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string")
    out = {(r.event_type, r.bucket_ts.hour): r for r in
           relops.rate_spikes(df, window=6).collect()}
    a8 = out[("a", 8)]
    assert a8.status == "SPIKE" and a8.cnt == 10 and a8.z is None or a8.status == "FLAT"
    # constant 2/hour baseline has sd 0 -> the burst grades FLAT, not
    # SPIKE: zero variance is surfaced, never divided through
    assert a8.status == "FLAT" and a8.z is None
    assert out[("a", 3)].status == "WARMUP"
    b8 = out[("b", 8)]
    assert b8.status == "OK" and b8.z is not None
    with pytest.raises(ValueError):
        relops.rate_spikes(df, window=1)


def test_rate_spikes_variance_baseline_spike(spark):
    """With a non-degenerate baseline the burst actually grades SPIKE."""
    import datetime as dt

    from corpusops import relops

    base = dt.datetime(2024, 1, 1)
    rows = []
    counts = [2, 3, 2, 3, 2, 3, 20]
    for h, c in enumerate(counts):
        rows += [(base + dt.timedelta(hours=h, minutes=m), "a") for m in range(c)]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string")
    out = {r.bucket_ts.hour: r for r in relops.rate_spikes(df, window=6).collect()}
    assert out[6].status == "SPIKE" and out[6].z > 3


def test_funnel_counts_hand_computed(spark):
    """Strictly-after anchoring: a click BEFORE the first view doesn't
    count; a later one does; purchases need a qualifying click first;
    same-timestamp events don't satisfy 'after'."""
    import datetime as dt
    from corpusops import relops

    t = lambda s: dt.datetime(2026, 1, 1, 0, 0, s)
    rows = [
        # u1: full funnel in order
        (1, t(1), "view"), (1, t(2), "click"), (1, t(3), "purchase"),
        # u2: click precedes the first view -> stops at view
        (2, t(5), "click"), (2, t(6), "view"),
        # u3: view then purchase but NO click between -> stops at view
        (3, t(1), "view"), (3, t(2), "purchase"),
        # u4: click at the SAME second as view -> not strictly after
        (4, t(1), "view"), (4, t(1), "click"),
        # u5: never views
        (5, t(1), "purchase"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    out = {r["step"]: r for r in
           relops.funnel_counts(ev, steps=("view", "click", "purchase")).collect()}
    assert out[1]["n_users"] == 4 and out[1]["conv_ppm"] is None
    assert out[2]["n_users"] == 1
    assert out[2]["conv_ppm"] == 1 * 1_000_000 // 4
    assert out[3]["n_users"] == 1 and out[3]["conv_ppm"] == 1_000_000
    assert out[1]["event_type"] == "view" and out[3]["event_type"] == "purchase"

    import pytest
    with pytest.raises(ValueError):
        relops.funnel_counts(ev, steps=("view",))
