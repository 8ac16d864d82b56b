"""Incremental QC over a stream of sequences (Structured Streaming).

The reference is a pure batch DAG and the north rule's resumability is
batch-shaped (SURVEY.md §2.9), so streaming is an *extension*: the same
check operators applied per micro-batch via ``foreachBatch``, writing to
the same violations layout keyed by (run_id, epoch). Checkpointing rides
on Spark's streaming checkpoint (file-source offsets), composing with —
not replacing — the batch qc_state story.

Only row-level gates run per micro-batch (completeness, structural,
format, referential, and the opt-in token-array lints): they are
embarrassingly incremental. Global gates
(uniqueness, drift) need cross-batch state and stay in the batch runner;
a watermarked streaming-dedup variant is expressible with
``dropDuplicatesWithinWatermark`` when an event-time column exists.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tokenqc.checks import base as cb
from tokenqc.checks import completeness, format as format_check, referential, structural
from tokenqc.checks import tokens as token_lints
from tokenqc.schema import SEQUENCES

# Version suffix for the default stateful-operator checkpoint dir.
# Spark pins the stateStructType in the checkpoint and refuses to
# restart a query whose state schema changed (e.g. v1 was
# (n_rows, total_tokens); v2 added hist array<long>). Keying the
# DEFAULT checkpoint location by this version makes a schema change
# start a fresh, valid checkpoint instead of failing the restart —
# bump it whenever stateStructType changes. Callers pinning their own
# checkpoint_dir across an upgrade must discard it (or re-key it)
# themselves: there is no state migration.
STATE_SCHEMA_VERSION = 2


def _row_facets(cfg: cb.CheckConfig) -> list[cb.Facet]:
    fs = (
        completeness.facets(cfg)
        + structural.facets(cfg)
        + format_check.facets(cfg)
        + referential.facets(cfg)
    )
    # token-array lints are row-level and stateless, so they stream for
    # free; same opt-in contract as the batch runner ("tokens" listed in
    # cfg.checks AND at least one lint configured non-None)
    if "tokens" in cfg.checks:
        fs += token_lints.facets(cfg)
    return fs


def qc_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    allowed_sources: DataFrame,
    cfg: cb.CheckConfig | None = None,
    run_id: str = "stream",
    checkpoint_dir: str | None = None,
):
    """Start a file-source stream over `input_dir` parquet; each
    micro-batch flows through the fused row-level gate pass and appends
    violation rows under out_dir/violations_stream. Returns the
    StreamingQuery (caller stops it / awaits termination)."""
    cfg = cfg or cb.CheckConfig()
    checkpoint_dir = checkpoint_dir or os.path.join(out_dir, "_checkpoint")
    stream = spark.readStream.schema(SEQUENCES).parquet(input_dir)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        df = referential.attach(
            batch_df.withColumn("partition_id", cb.partition_id_col(cfg)), allowed_sources
        )
        viol = cb.assemble_violations(df, _row_facets(cfg))
        # the degenerate-content gate is row-level and stateless like the
        # lints, but Arrow-staged — it joins the batch as a second pass
        # under the same opt-in contract as the batch runner
        if "degenerate" in cfg.checks and (
            cfg.min_entropy is not None or cfg.max_dup_kgram_frac is not None
        ):
            from tokenqc.checks import degeneracy

            viol = viol.unionByName(degeneracy.violations(df, cfg))
        (
            viol.withColumn("run_id", F.lit(run_id))
            .withColumn("epoch", F.lit(epoch_id))
            .write.mode("append")
            .parquet(os.path.join(out_dir, "violations_stream"))
        )

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def running_source_stats(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str | None = None,
    bucket_width: int = 64,
    n_buckets: int = 32,
):
    """Custom stateful streaming operator (`applyInPandasWithState`):
    per-source running stats maintained in checkpointed state across
    micro-batches AND restarts — the streaming half of the drift gate.

    State per source = (n_rows, total_tokens, hist: array<long>) where
    hist[b] counts rows with b = min(n_tok // bucket_width, n_buckets-1)
    — the same fixed-width n_tok histogram the batch drift gate compares
    against its baseline, so the emitted running profile is directly
    chi2/KS-comparable. Each micro-batch folds its rows into the state
    (Python sees Arrow batches of (source, n_tok) pairs only — numpy
    bincount per batch, same vectorized discipline as the batch drift
    check) and emits the updated running profile. Output rows land under
    out_dir/source_stats keyed by the update time; the latest row per
    source is the current profile.

    State survives restarts ONLY while the state schema is unchanged:
    the default checkpoint dir is keyed by STATE_SCHEMA_VERSION, so an
    upgrade that changes stateStructType starts fresh (predictably)
    rather than failing Spark's state-schema compatibility check
    against an old checkpoint. An explicitly-passed checkpoint_dir is
    the caller's to invalidate across such upgrades.
    """
    updated = _stats_update_stream(spark, input_dir, bucket_width, n_buckets)
    checkpoint_dir = checkpoint_dir or os.path.join(
        out_dir, f"_stats_checkpoint_v{STATE_SCHEMA_VERSION}"
    )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.withColumn("epoch", F.lit(epoch_id)).write.mode("append").parquet(
            os.path.join(out_dir, "source_stats")
        )

    return (
        updated.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


def _stats_update_stream(
    spark: SparkSession, input_dir: str, bucket_width: int, n_buckets: int
):
    """The shared stateful core: per-source running (n_rows,
    total_tokens, hist) maintained across micro-batches via
    applyInPandasWithState — numpy bincount per Arrow batch, state is
    the same fixed-width n_tok histogram the batch drift gate uses."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = (
        spark.readStream.schema(SEQUENCES)
        .parquet(input_dir)
        .where(F.col("source").isNotNull() & (F.col("n_tok") > 0))
        .select("source", "n_tok")
    )

    def update(key: tuple, pdfs, state: GroupState):
        if state.exists:
            n_rows, total, hist = state.get
            hist = np.asarray(hist, dtype=np.int64)
        else:
            n_rows, total = 0, 0
            hist = np.zeros(n_buckets, dtype=np.int64)
        for pdf in pdfs:
            valid = pdf["n_tok"].dropna().to_numpy(dtype=np.int64)
            n_rows += int(valid.size)
            total += int(valid.sum())
            buckets = np.minimum(valid // bucket_width, n_buckets - 1)
            hist += np.bincount(buckets, minlength=n_buckets).astype(np.int64)
        state.update((n_rows, total, [int(x) for x in hist]))
        yield pd.DataFrame(
            [{
                "source": key[0],
                "n_rows": n_rows,
                "total_tokens": total,
                "hist": [int(x) for x in hist],
            }]
        )

    return stream.groupBy("source").applyInPandasWithState(
        update,
        outputStructType="source string, n_rows long, total_tokens long, hist array<long>",
        stateStructType="n_rows long, total_tokens long, hist array<long>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_drift(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    baseline_hist: DataFrame,
    checkpoint_dir: str | None = None,
    bucket_width: int = 64,
    n_buckets: int = 32,
    js_max: float = 0.1,
    stat: str = "js",
    psi_warn: float = 0.1,
    psi_fail: float = 0.25,
):
    """The streaming half of the drift GATE (not just the profile):
    every micro-batch folds into the same checkpointed per-source
    running histogram as running_source_stats, and each updated source
    is immediately graded against the static baseline with the batch
    gate's exact JS-divergence formula (drift.js_from_histograms — one
    shared implementation, so a stream that has seen rows X grades
    identically to a batch run over X's histograms). Verdict rows
    (source, n_rows, js_divergence, status, epoch) append under
    out_dir/drift_stream.

    Bucket-domain contract: the checkpointed state is a FIXED-width
    histogram, so everything at or past bucket n_buckets-1 clamps into
    that tail bucket. The baseline is clamped into the same domain here
    (tail mass summed — the standard binned-tail treatment), making the
    comparison apples-to-apples; a batch run over the same clamped
    histograms grades identically (pinned by
    tests/test_streaming.test_streaming_drift_matches_batch_gate).

    Scale shape: state and output are sources × n_buckets-bounded; the
    per-epoch grading explodes only the updated sources' histograms
    (≤ sources × n_buckets rows) and joins the baseline — a metadata
    join.

    ``stat`` selects the grading formula over the SAME state: "js"
    (drift.js_from_histograms, binary gate at `js_max`) or "psi"
    (corpusops.checks.psi_from_histograms, graded PASS/WARN/FAIL at
    `psi_warn`/`psi_fail`) — both shared with the batch gates, so
    stream and batch verdicts stay definitionally identical per
    statistic.
    """
    from corpusops import checks as co_checks
    from tokenqc.checks import drift as drift_mod

    if stat not in ("js", "psi"):
        raise ValueError("stat must be 'js' or 'psi'")

    updated = _stats_update_stream(spark, input_dir, bucket_width, n_buckets)
    checkpoint_dir = checkpoint_dir or os.path.join(
        out_dir, f"_drift_checkpoint_v{STATE_SCHEMA_VERSION}"
    )
    clamped_base = (
        baseline_hist.select(
            "source",
            F.least(F.col("bucket"), F.lit(n_buckets - 1)).alias("bucket"),
            "p",
        )
        .groupBy("source", "bucket")
        .agg(F.sum("p").alias("p"))
    )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        hist = batch_df.select(
            "source", F.posexplode("hist").alias("bucket", "cnt")
        ).where(F.col("cnt") > 0)
        if stat == "psi":
            verdicts = co_checks.psi_from_histograms(
                hist, clamped_base, psi_warn, psi_fail
            )
        else:
            verdicts = drift_mod.js_from_histograms(hist, clamped_base, js_max)
        verdicts.withColumn("epoch", F.lit(epoch_id)).write.mode("append").parquet(
            os.path.join(out_dir, "drift_stream")
        )

    return (
        updated.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


def streaming_token_drift(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    token_baseline: DataFrame,
    checkpoint_dir: str | None = None,
    n_buckets: int = 256,
    js_max: float = 0.1,
):
    """Streaming twin of the batch token-unigram drift gate
    (drift.token_js_divergence): per-source RUNNING token-id residue
    histograms maintained across micro-batches via
    applyInPandasWithState, each update graded against the static
    baseline with the same js_from_histograms formula — a stream that
    has consumed rows X grades identically to a batch run over X.
    Verdict rows (source, n_rows, js_divergence, status, epoch) append
    under out_dir/token_drift_stream; n_rows counts TOKENS.

    `n_buckets` must match how the baseline was built (residues are
    pmod(token, n_buckets) on both sides; numpy's % is floor-mod like
    Spark's pmod, so negative ids agree too). State and output are
    sources × n_buckets-bounded; per-batch Python work is one
    concatenate + bincount over the Arrow batch's token arrays.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from tokenqc.checks import drift as drift_mod

    stream = (
        spark.readStream.schema(SEQUENCES)
        .parquet(input_dir)
        .where(F.col("source").isNotNull() & F.col("tokens").isNotNull() & (F.size("tokens") > 0))
        .select("source", "tokens")
    )

    def update(key: tuple, pdfs, state: GroupState):
        if state.exists:
            (n_tokens, hist) = state.get
            hist = np.asarray(hist, dtype=np.int64)
        else:
            n_tokens = 0
            hist = np.zeros(n_buckets, dtype=np.int64)
        for pdf in pdfs:
            arrs = [np.asarray(t, dtype=np.int64) for t in pdf["tokens"] if t is not None and len(t)]
            if not arrs:
                continue
            flat = np.concatenate(arrs)
            n_tokens += int(flat.size)
            hist += np.bincount(flat % n_buckets, minlength=n_buckets).astype(np.int64)
        state.update((n_tokens, [int(x) for x in hist]))
        yield pd.DataFrame(
            [{"source": key[0], "n_tokens": n_tokens, "hist": [int(x) for x in hist]}]
        )

    updated = stream.groupBy("source").applyInPandasWithState(
        update,
        outputStructType="source string, n_tokens long, hist array<long>",
        stateStructType="n_tokens long, hist array<long>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    checkpoint_dir = checkpoint_dir or os.path.join(
        out_dir, f"_token_drift_checkpoint_v{STATE_SCHEMA_VERSION}"
    )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        hist = batch_df.select(
            "source", F.posexplode("hist").alias("bucket", "cnt")
        ).where(F.col("cnt") > 0)
        verdicts = drift_mod.js_from_histograms(hist, token_baseline, js_max)
        verdicts.withColumn("epoch", F.lit(epoch_id)).write.mode("append").parquet(
            os.path.join(out_dir, "token_drift_stream")
        )

    return (
        updated.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


def streaming_dedup(df: DataFrame, ts_col: str = "ts", key: str = "doc_id", watermark: str = "10 minutes") -> DataFrame:
    """Watermarked streaming dedup: keep the first row per key within the
    watermark horizon (`dropDuplicatesWithinWatermark`) — late duplicates
    beyond the horizon age out of state instead of growing it forever.
    Input must be a streaming DataFrame with an event-time column."""
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark([key])


def streaming_token_contamination(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    benchmark: DataFrame | None = None,
    bench_arr=None,
    k: int = 8,
    min_hits: int = 1,
    run_id: str = "stream",
    checkpoint_dir: str | None = None,
):
    """Streaming twin of `textqc.token_contamination_flags`: every
    micro-batch is flagged against the SAME pre-collected benchmark
    shingle set and appended to out_dir/contamination_stream — the
    decontamination gate for an ingest pipeline, where waiting for a
    batch re-scan means contaminated rows are already downstream.

    The benchmark set is static by definition (a held-out eval corpus),
    so it is collected ONCE here (or passed pre-collected via
    `bench_arr`) and broadcast ONCE — each micro-batch then runs the
    identical zero-shuffle Arrow flagging stage the batch gate uses
    (`textqc.flag_against_shingles`), so batch/stream verdicts cannot
    drift apart (same hash, same counts; pinned in
    test_streaming_token_contamination_matches_batch).
    """
    from corpusops.textops import textqc

    if bench_arr is None:
        if benchmark is None:
            raise ValueError("pass either `benchmark` (a DataFrame) or `bench_arr`")
        bench_arr = textqc.collect_benchmark_shingles(benchmark, k=k)
    bcast = spark.sparkContext.broadcast(bench_arr)
    checkpoint_dir = checkpoint_dir or os.path.join(out_dir, "_contam_checkpoint")
    stream = spark.readStream.schema(SEQUENCES).parquet(input_dir)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        flagged = textqc.flag_against_shingles(
            batch_df, bcast, k=k, min_hits=min_hits
        )
        (
            flagged.withColumn("run_id", F.lit(run_id))
            .withColumn("epoch", F.lit(epoch_id))
            .write.mode("append")
            .parquet(os.path.join(out_dir, "contamination_stream"))
        )

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_sessions(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    user_col: str = "user_id",
    ts_col: str = "ts",
    checkpoint_dir: str | None = None,
):
    """Streaming sessionization via the native `session_window`: per-user
    sessions split on inactivity gaps, finalized and APPENDED once the
    watermark passes a session's end — the streaming twin of the batch
    gaps-and-islands formulation (harness_text.q_events_sessions).

    Semantics notes: (a) append mode emits a session only after the
    watermark moves past it, so the LAST sessions of a bounded input
    stay in state until a later event (or wave) advances the watermark —
    that is the correctness contract, not a bug; the equivalence test
    flushes them with a far-future sentinel event. (b) boundary: the
    batch formulation keeps a gap of EXACTLY `gap` in one session
    (`gap > 1800`), `session_window` starts a new one (merge needs
    strictly-less); off-boundary data sessionizes identically (pinned).

    Output rows: (user_id, session_start, session_end, n_events).
    """
    checkpoint_dir = checkpoint_dir or os.path.join(out_dir, "_sessions_checkpoint")
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    stream = spark.readStream.schema(schema).parquet(input_dir)
    agg = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.col(user_col), F.session_window(F.col(ts_col), gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            user_col,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    return (
        agg.writeStream.format("parquet")
        .option("path", os.path.join(out_dir, "sessions_stream"))
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def streaming_incremental_dedup(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    schema: str = "doc_id long, text string",
    run_id: str = "stream",
    checkpoint_dir: str | None = None,
    seen_dir: str | None = None,
    max_files_per_trigger: int | None = None,
):
    """Streaming twin of `dedup.incremental_new_docs`: each micro-batch
    admits only FIRST-SEEN content — digest absent from the persistent
    seen-digest store and unique within the batch (min id wins) — and
    appends the admitted digests back to the store. The store is
    exactly the state table a batch ingest keeps (same layout, same
    anti-join), so a pipeline can alternate batch and streaming ingest
    over ONE seen-digest table.

    Semantics: ARRIVAL-ORDER dedup — the first batch containing a
    digest owns it. When ids arrive in increasing order (the common
    append-only ingest), the admitted rows are IDENTICAL to global
    batch dedup (min id over the whole corpus); with out-of-order ids
    the admitted digest SET still matches and only the winning id
    differs (both pinned in tests). Null-text rows: the store cannot
    retire a NULL digest (NULL never equi-matches), so each batch
    admits at most one null-text row — filter upstream if null means
    "absent".

    Delivery: admitted rows are written BEFORE the store append, so a
    crash between the two re-admits that batch on replay (duplicates,
    tagged by epoch — dedup downstream on text_hash) and never loses
    rows: the same at-least-once + epoch-column contract as the other
    foreachBatch sinks in this module.

    Scale shape per batch: one anti-join of the batch's digests against
    the store (sort-merge — the store is corpus-sized by design, never
    broadcast) and one partial-agg'd min; text never shuffles (it is
    digested in the scan projection).
    """
    from corpusops.textops import dedup as _dedup

    seen_path = seen_dir or os.path.join(out_dir, "seen_digests")
    admitted_path = os.path.join(out_dir, "admitted_stream")
    checkpoint_dir = checkpoint_dir or os.path.join(out_dir, "_incdedup_checkpoint")

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if os.path.isdir(seen_path) and any(
            f.endswith(".parquet") for f in os.listdir(seen_path)
        ):
            seen = spark.read.parquet(seen_path)
        else:
            seen = spark.createDataFrame([], "text_hash string")
        admitted = _dedup.incremental_new_docs(
            batch_df, seen, id_col=id_col, text_col=text_col
        ).persist()
        try:
            (
                admitted.withColumn("run_id", F.lit(run_id))
                .withColumn("epoch", F.lit(epoch_id))
                .write.mode("append")
                .parquet(admitted_path)
            )
            (
                admitted.select("text_hash")
                .where(F.col("text_hash").isNotNull())
                .write.mode("append")
                .parquet(seen_path)
            )
        finally:
            admitted.unpersist()

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)
    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_pack(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    cap: int = 2048,
    checkpoint_dir: str | None = None,
    stream_col: str | None = None,
):
    """Streaming sequence packing — the ingest-path twin of the batch
    `pack.pack_tokens` loader contract: tokens accumulate in arrival
    order into fixed-`cap` packs; every COMPLETED pack is emitted the
    micro-batch it fills, and the trailing partial pack lives in
    checkpointed state (ingest keeps packing across restarts instead
    of flushing a short batch).

    Semantics, stated honestly: packs are a function of ARRIVAL order
    (batch packing is a function of `order_cols`); within a micro-batch
    rows sort by doc_id for determinism. When rows arrive in doc_id
    order on one stream (e.g. maxFilesPerTrigger=1 over doc_id-sorted
    files), the emitted packs equal the batch `pack_tokens` output's
    complete packs BYTE-EXACTLY, with the batch run's final partial
    pack held in state — pinned in tests across a query restart. Out
    of order, packs remain valid (every pack exactly `cap` tokens,
    token-conserving — `pack.pack_audit` passes) but differ from the
    batch order; same contract as streaming_incremental_dedup's
    arrival-order note.

    State per stream key: the < cap leftover tokens + the running pack
    counter — O(cap) bounded per key, never corpus-sized. Per
    micro-batch Python work: one sort by doc_id (determinism within
    the batch), one concatenate, integer slicing. `stream_col` packs
    per key (the batch `pack_tokens(stream_col=...)` contract: packs
    never mix domains; NULL keys bucket to "_null"); default one
    global stream. Output rows append under out_dir/packs as
    (stream, pack_id, tokens, n_tokens, epoch); pack ids are dense
    PER STREAM.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if cap <= 0:
        raise ValueError(f"cap must be positive, got {cap}")

    key_expr = (
        F.coalesce(F.col(stream_col).cast("string"), F.lit("_null"))
        if stream_col is not None
        else F.lit("_all")
    )
    stream = (
        spark.readStream.schema(SEQUENCES)
        .parquet(input_dir)
        .where(F.col("tokens").isNotNull() & (F.size("tokens") > 0))
        .select(key_expr.alias("stream"), F.col("doc_id").alias("_ord"), "tokens")
    )

    def update(key: tuple, pdfs, state: GroupState):
        if state.exists:
            next_pack, buf = state.get
            parts = [np.asarray(buf, dtype=np.int64)]
        else:
            next_pack = 0
            parts = [np.empty(0, dtype=np.int64)]
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values("_ord")
            parts.extend(
                np.asarray(t, dtype=np.int64)
                for t in pdf["tokens"]
                if t is not None and len(t)
            )
        flat = np.concatenate(parts)
        n_full = int(flat.size // cap)
        rows = []
        for i in range(n_full):
            rows.append(
                {
                    "stream": key[0],
                    "pack_id": int(next_pack + i),
                    "tokens": [int(x) for x in flat[i * cap : (i + 1) * cap]],
                    "n_tokens": cap,
                }
            )
        rest = flat[n_full * cap :]
        state.update((int(next_pack + n_full), [int(x) for x in rest]))
        yield pd.DataFrame(
            rows,
            columns=["stream", "pack_id", "tokens", "n_tokens"],
        )

    packed = stream.groupBy("stream").applyInPandasWithState(
        update,
        outputStructType="stream string, pack_id long, tokens array<int>, n_tokens int",
        stateStructType="next_pack long, buf array<int>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    checkpoint_dir = checkpoint_dir or os.path.join(
        out_dir, f"_pack_checkpoint_v{STATE_SCHEMA_VERSION}"
    )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.withColumn("epoch", F.lit(epoch_id)).write.mode("append").parquet(
            os.path.join(out_dir, "packs")
        )

    return (
        packed.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def streaming_rate_spikes(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    window: int = 6,
    z_max: float = 3.0,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = None,
):
    """Streaming twin of the batch event-rate spike gate
    (relops.rate_spikes): per micro-batch, the batch's hourly counts
    MERGE into a persistent (event_type, bucket_ts, cnt) store —
    counts are the mergeable unit, so arrival order and batch
    boundaries cannot change the accumulated table — and the merged
    table is re-graded with the SAME `relops.grade_hourly` formula; a
    stream that has consumed rows X grades identically to a batch run
    over X (pinned across waves and a query restart). Verdicts append
    under out_dir/rate_spikes_stream tagged by epoch; the store is
    metadata-sized (types × observed hours), so the per-batch
    read-merge-overwrite is a bounded job, the incremental-dedup
    store pattern with aggregation instead of anti-join.
    """
    from corpusops import relops

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    store = os.path.join(out_dir, "hourly_store")
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_hourly = relops.hourly_counts(batch_df)
        try:
            prev = batch_df.sparkSession.read.parquet(store)
        except Exception:
            prev = None
        merged = (
            batch_hourly if prev is None else prev.unionByName(batch_hourly)
        ).groupBy("event_type", "bucket_ts").agg(F.sum("cnt").alias("cnt"))
        rows = merged.collect()  # metadata-sized: types x observed hours
        batch_df.sparkSession.createDataFrame(
            rows, "event_type string, bucket_ts timestamp, cnt long"
        ).write.mode("overwrite").parquet(store)
        verdicts = relops.grade_hourly(
            batch_df.sparkSession.read.parquet(store), window=window, z_max=z_max
        )
        verdicts.withColumn("epoch", F.lit(epoch_id)).write.mode("append").parquet(
            os.path.join(out_dir, "rate_spikes_stream")
        )

    checkpoint_dir = checkpoint_dir or os.path.join(out_dir, "_rate_spikes_checkpoint")
    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_funnel(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
    checkpoint_dir: str | None = None,
):
    """Stateful streaming twin of `relops.funnel_counts`: per-user
    funnel progress maintained in checkpointed state across
    micro-batches and restarts. State per user = (stage, anchor) — the
    number of completed steps and the epoch-second of the last
    qualifying event; each micro-batch sorts the user's new events by
    (ts, event_id) and advances greedily: at stage s, the first
    steps[s] event strictly after the anchor advances to s+1.

    Equivalence contract (the streaming_pack precedent, stated
    honestly): greedy first-in-time-order IS the batch gate's
    min-after-anchor, so with TIME-ORDERED arrival (later files carry
    later timestamps) the final per-user stages — and therefore the
    funnel counts — equal `funnel_counts` over the full input, pinned
    across a query restart. Out-of-order arrival stays valid and
    monotone (a user's stage never decreases) but can under-advance: a
    step event consumed before its predecessor arrived is not
    revisited (state is O(1) per user BY DESIGN — replaying would need
    the event log).

    Scale shape: state is two longs per user — never an event list;
    Python sees Arrow batches of (user_id, ts, event_id, event_type)
    only. Output rows (user_id, stage, anchor, epoch) append under
    out_dir/funnel_stream; the latest row per user is current, and the
    step-i user count is |{users: stage >= i}|.
    """
    import numpy as np  # noqa: F401  (parity with sibling operators)
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .parquet(input_dir)
        .where(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select(
            "user_id",
            F.unix_timestamp("ts").alias("ep"),
            "event_id",
            "event_type",
        )
    )
    step_of = {s: i for i, s in enumerate(steps)}

    def update(key: tuple, pdfs, state: GroupState):
        if state.exists:
            stage, anchor = state.get
        else:
            stage, anchor = 0, -1
        # concatenate ALL of the group's chunks before sorting: state
        # delivers a group's micro-batch rows split at arbitrary Arrow
        # chunk boundaries in shuffle order, so sorting each chunk
        # independently could process a >1-chunk user out of time order
        # and silently violate the batch-equivalence contract (r5 ADVICE)
        chunks = [c for c in pdfs if len(c)]
        batch = pd.concat(chunks) if chunks else pd.DataFrame()
        if len(batch):
            batch = batch.sort_values(["ep", "event_id"])
            for ep, etype in zip(batch["ep"].to_numpy(), batch["event_type"]):
                if stage < len(steps) and step_of.get(etype) == stage:
                    if stage == 0 or ep > anchor:
                        stage += 1
                        anchor = int(ep)
        state.update((int(stage), int(anchor)))
        yield pd.DataFrame(
            [{"user_id": key[0], "stage": int(stage), "anchor": int(anchor)}]
        )

    updated = stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, stage int, anchor long",
        stateStructType="stage int, anchor long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    checkpoint_dir = checkpoint_dir or os.path.join(
        out_dir, f"_funnel_checkpoint_v{STATE_SCHEMA_VERSION}"
    )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.withColumn("epoch", F.lit(epoch_id)).write.mode("append").parquet(
            os.path.join(out_dir, "funnel_stream")
        )

    return (
        updated.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
