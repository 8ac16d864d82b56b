"""Uniqueness gate: `doc_id` must be unique across the table.

The reference implicitly relies on `repo_name` as a unique key for all
joins (/root/reference/main.nf:101-102); the engine makes that an
explicit, tested constraint (SURVEY.md section 2.5).

Scale plan: this is the engine's shuffle-heavy op. `groupBy(doc_id)
.count()` benefits from Catalyst's partial (map-side) aggregation — a
hot duplicated key is pre-combined to one row per map task before the
shuffle, so even a billion-row hot key moves at most one row per task.
For compound skew on top (hot key × wide rows) the runner can route
through :func:`tokenqc.skew.salted_count` — a two-stage salted
aggregation. Violations are emitted at key granularity (one row per
duplicated key, observed=count), which is what bounds output size at
10^12 rows; per-row enumeration is available via `enumerate_rows`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tokenqc.checks.base import CheckConfig, partition_id_col
from tokenqc.skew import salted_count

CHECK = "uniqueness"


def key_totals(df: DataFrame, cfg: CheckConfig) -> DataFrame:
    """(partition_id, dup_key, n): per lineage partition, the row count of
    each duplicated doc_id (dup_key) plus one row (dup_key NULL) summing
    every other row — at most P + dup-key rows.

    Both outputs of a run's uniqueness pass come from this one frame:
    its dup_key rows are the uniqueness violations (:func:`violations`
    with ``key_totals=``), and its per-partition sums are the row totals
    of the verdict grid. partition_id is a function of doc_id, so one
    linear plan — groupBy(doc_id), then a regroup by (partition_id,
    dup_key) — scans the input once for both. (Two groupBy(doc_id)
    branches unioned would not share the exchange: the optimizer pushes
    isnotnull(doc_id) below one of them, and the input is read twice.)
    NULL doc_ids count toward their partition's total, never as dups.
    """
    counts = df.select("doc_id").groupBy("doc_id").agg(F.count(F.lit(1)).alias("cnt"))
    return counts.groupBy(
        partition_id_col(cfg).alias("partition_id"),
        F.when(F.col("doc_id").isNotNull() & (F.col("cnt") > 1), F.col("doc_id")).alias(
            "dup_key"
        ),
    ).agg(F.sum("cnt").alias("n"))


def violations(
    df: DataFrame, cfg: CheckConfig, salt: int = 0, key_totals: DataFrame | None = None
) -> DataFrame:
    """(partition_id, doc_id, check_name, observed, expected) for dup keys.

    NULL doc_ids are excluded — they are completeness violations, not
    duplicates of one another. partition_id is derived from the key hash,
    so a duplicate group lands in exactly one verdict partition. Given
    `key_totals` (the :func:`key_totals` frame of `df`), the rows are
    read off it instead of aggregating `df` again.
    """
    if key_totals is not None:
        dups = key_totals.where(F.col("dup_key").isNotNull()).select(
            "partition_id", F.col("dup_key").alias("doc_id"), F.col("n").alias("cnt")
        )
    else:
        keyed = df.where(F.col("doc_id").isNotNull()).select("doc_id")
        counts = (
            salted_count(keyed, "doc_id", salt)
            if salt > 1
            else keyed.groupBy("doc_id").agg(F.count(F.lit(1)).alias("cnt"))
        )
        dups = counts.where(F.col("cnt") > 1).select(
            partition_id_col(cfg).alias("partition_id"), "doc_id", "cnt"
        )
    return dups.select(
        "partition_id",
        "doc_id",
        F.lit(CHECK).alias("check_name"),
        F.concat(F.lit("count="), F.col("cnt")).alias("observed"),
        F.lit("count == 1").alias("expected"),
    )


def enumerate_rows(df: DataFrame, cfg: CheckConfig) -> DataFrame:
    """Optional: every surplus row of each duplicate group (row_number>1
    over a hash-partitioned window) — used by reports wanting row-level
    dup listings; costs a full sort within key groups.

    **Skew warning**: the window moves EVERY row of a key to one task —
    a hot doc_id family (the north rule's skew case) becomes a single
    straggler holding 10%+ of the table. Use
    :func:`enumerate_rows_skewsafe` when the key distribution is not
    trusted; it emits the same (partition_id, doc_id) multiset without
    ever co-locating a key's rows (bench: BENCH/skew_result.json)."""
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy("__sig")
    return (
        df.where(F.col("doc_id").isNotNull())
        # project to (doc_id, sig) BEFORE the window: the shuffle moves
        # 16 bytes/row, not the token arrays
        .select("doc_id", F.xxhash64("tokens").alias("__sig"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") > 1)
        .select(partition_id_col(cfg).alias("partition_id"), "doc_id")
    )


#: Both explode levels stay <= 2^20 elements (~8 MB of longs) for
#: n_surplus <= 2^40 — past the 10^12-row north-rule target.
_EXPLODE_CHUNK = 1 << 20


def _surplus_counts(
    df: DataFrame, cfg: CheckConfig, broadcast_dups: bool = False
) -> DataFrame:
    """(partition_id, doc_id, n_surplus) per duplicate group, computed
    without ever shuffling the table BY KEY.

    Shape: aggregate per (doc_id, sig=xxhash64(tokens)) — the sig spreads
    a hot key's rows evenly across reducers — then per-key totals +
    representative (min sig), both partial-agg-bounded; the dup-key
    dimension (keys with total > 1) joins back onto the per-sig counts.
    By default the join carries NO broadcast hint: the dup-key
    cardinality is data-dependent (a corpus where most doc_ids are
    duplicated would blow an unconditional 8 GB broadcast); AQE upgrades
    the exchange to a broadcast at runtime when the actual size is
    small. A caller that has MEASURED the dup-key count (the auto
    dispatcher reads it off the bounded violations frame) may pass
    ``broadcast_dups=True`` to skip the fact-side shuffle entirely.
    """
    sig = F.xxhash64("tokens")
    keyed = df.where(F.col("doc_id").isNotNull()).select(
        "doc_id", sig.alias("__sig")
    )
    per_sig = keyed.groupBy("doc_id", "__sig").agg(F.count(F.lit(1)).alias("c"))
    reps = per_sig.groupBy("doc_id").agg(
        F.min("__sig").alias("__rep"), F.sum("c").alias("total")
    )
    dups = reps.where(F.col("total") > 1).select("doc_id", "__rep")
    if broadcast_dups:
        dups = F.broadcast(dups)
    return (
        per_sig.join(dups, "doc_id")
        .withColumn(
            "n_surplus",
            F.when(F.col("__sig") == F.col("__rep"), F.col("c") - 1).otherwise(F.col("c")),
        )
        .where(F.col("n_surplus") > 0)
        .select(
            partition_id_col(cfg).alias("partition_id"), "doc_id", "n_surplus"
        )
    )


def enumerate_counts(df: DataFrame, cfg: CheckConfig) -> DataFrame:
    """Surplus-row COUNTS per duplicate group — (partition_id, doc_id,
    n_surplus) — for consumers that only aggregate. At 10^12 rows an
    enumerated per-row listing is itself terabytes; this is the form a
    report/metric consumer should join against (sum(n_surplus) equals
    the enumerated row count exactly)."""
    return _surplus_counts(df, cfg)


def enumerate_rows_skewsafe(
    df: DataFrame, cfg: CheckConfig, broadcast_dups: bool = False
) -> DataFrame:
    """Surplus-row enumeration WITHOUT the per-key window — the
    formulation that survives a hot key at 10^12 rows.

    Output is the exact (partition_id, doc_id) multiset of
    :func:`enumerate_rows` — group size minus one row per duplicate
    group — but the table is never shuffled BY KEY at all, so there is
    no straggler to salt away (bench: BENCH/skew_result.json).

    The surplus multiplicity is exploded in bounded CHUNKS — two nested
    sequence/explode levels, each array capped at 2^20 elements — so an
    exact-duplicate hot key (ONE (doc_id, sig) group holding ~all rows)
    never materializes an O(group-size) array in a single row; the
    single-level `sequence(1, n_surplus)` allocated multi-GB arrays and
    hard-fails past 2^31 elements. Bounded for n_surplus ≤ 2^40, past
    the 10^12-row target. No exchange is added: for normal groups the
    outer sequence is a single element and both explodes pipeline in
    the join stage; a pathological huge group STREAMS its rows out of
    one task (bounded memory, serial generation) — a consumer that
    must spread the downstream work can `.repartition()` the output,
    and aggregate-only consumers should take :func:`enumerate_counts`
    instead.
    """
    K = _EXPLODE_CHUNK
    surplus = _surplus_counts(df, cfg, broadcast_dups)
    n_chunks_minus_1 = F.floor((F.col("n_surplus") - F.lit(1)) / F.lit(K)).cast("long")
    chunked = surplus.select(
        "partition_id",
        "doc_id",
        "n_surplus",
        F.explode(F.sequence(F.lit(0), n_chunks_minus_1)).alias("__chunk"),
    )
    chunk_len = F.least(
        F.lit(K).cast("long"), F.col("n_surplus") - F.col("__chunk") * F.lit(K)
    )
    return chunked.select(
        "partition_id",
        "doc_id",
        F.explode(F.sequence(F.lit(1), chunk_len)).alias("__i"),
    ).drop("__i")


def probe_hot_share(
    df: DataFrame,
    key: str = "doc_id",
    sample_fraction: float = 0.02,
    seed: int = 7,
) -> float:
    """Estimate the hottest key's row share with ONE sampled slim-column
    scan + partial-agg-robust groupBy (the count shape measured safe
    under the hot key itself — count_plain in BENCH/skew_result.json).
    Costs a pass over the key column (~1–2 s on 6 M local rows); at the
    10^12-row target this scan-only job is amortized against the
    enumeration's own scan + shuffle + sort. When per-key counts already
    exist (the runner always computes uniqueness.violations), prefer
    :func:`hot_share_from_violations` — zero extra scan."""
    probe = (
        df.where(F.col(key).isNotNull())
        .select(F.col(key))
        .sample(fraction=sample_fraction, seed=seed)
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.max("c").alias("mx"), F.sum("c").alias("tot"))
        .first()
    )
    tot = probe["tot"] or 0
    return (probe["mx"] / tot) if tot else 0.0


def hot_share_from_violations(violations: DataFrame, n_rows: int) -> float:
    """Hot-key share derived from an ALREADY-COMPUTED
    :func:`violations` output — the engine's free dispatch signal (the
    runner materializes uniqueness violations on every run, and their
    `observed` column carries each duplicate group's exact count as
    'count=N'). One aggregation over the bounded dup-key frame; no scan
    of the data at all."""
    if n_rows <= 0:
        return 0.0
    mx = (
        violations.where(F.col("check_name") == CHECK)
        .select(
            F.split(F.col("observed"), "=").getItem(1).cast("long").alias("c")
        )
        .agg(F.max("c").alias("mx"))
        .first()["mx"]
    )
    return (mx or 0) / n_rows


def enumerate_rows_auto(
    df: DataFrame,
    cfg: CheckConfig,
    hot_share_threshold: float = 0.2,
    violations_df: DataFrame | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Dispatch on measured key skew: the per-key window
    (:func:`enumerate_rows`, fastest on balanced keys) vs the
    no-key-shuffle formulation (:func:`enumerate_rows_skewsafe`).

    Dispatch signal, cheapest available first:
    - ``violations_df`` + ``n_rows`` (the engine flow — the runner has
      both on every run): :func:`hot_share_from_violations`, zero extra
      scan of the data;
    - else :func:`probe_hot_share`, one sampled slim-column scan.

    Calibration (BENCH/skew_result.json, 6 M rows, local[32]): at 10%
    hot mass the window wins wall (2.87 s vs 5.64 s) with bounded
    max/p50 task skew (~5.8×); at 50% hot its max/p50 hits 37× — the
    single-straggler shape a real cluster cannot absorb — while
    skewsafe bounds it at ≤4.7×. The 0.2 threshold sits between the
    two measured points; max-task ratio, not local wall, is the
    cluster predictor.
    """
    broadcast_dups = False
    if violations_df is not None and n_rows is not None:
        hot_share = hot_share_from_violations(violations_df, n_rows)
        # the violations frame IS the dup-key dimension: its measured
        # cardinality decides whether the skewsafe join-back can skip
        # the fact-side shuffle (~50 B/key ⇒ 1M keys ≈ 50 MB broadcast)
        n_dup_keys = violations_df.where(F.col("check_name") == CHECK).count()
        broadcast_dups = n_dup_keys <= 1_000_000
    else:
        hot_share = probe_hot_share(df, "doc_id")
    if hot_share >= hot_share_threshold:
        return enumerate_rows_skewsafe(df, cfg, broadcast_dups=broadcast_dups)
    return enumerate_rows(df, cfg)
