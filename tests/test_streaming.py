"""Incremental (Structured Streaming) QC: micro-batches flow through the
same row-level gates; checkpoint makes re-runs skip consumed files."""

from __future__ import annotations

import pyarrow.parquet as pq

from corpusops import streaming

from tokenqc import synth
from tokenqc.checks.base import CheckConfig


def _allowed(spark):
    return spark.createDataFrame(
        [(s, True) for s in synth.SOURCES], "source string, active boolean"
    )


def test_qc_stream_end_to_end(spark, tmp_path, expected):
    inp = tmp_path / "stream_in"
    inp.mkdir()
    seq = synth.generate_sequences(2000, seed=42)
    pq.write_table(seq.slice(0, 1000), str(inp / "f1.parquet"))
    pq.write_table(seq.slice(1000, 1000), str(inp / "f2.parquet"))
    out = str(tmp_path / "stream_out")

    q = streaming.qc_stream(
        spark, str(inp), out, _allowed(spark), CheckConfig(n_partitions=8), run_id="s1"
    )
    assert q.awaitTermination(420), 'stream did not finish'

    viol = spark.read.parquet(f"{out}/violations_stream")
    exp2k = synth.plan_expected(2000)
    want = (
        len(exp2k.null_doc_id) + len(exp2k.null_tokens) + len(exp2k.empty_tokens)
        + len(exp2k.null_ntok) + len(exp2k.null_source) + len(exp2k.ntok_mismatch)
        + len(exp2k.bad_format) + len(exp2k.rogue_source)
    )
    assert viol.count() == want
    assert viol.select("epoch").distinct().count() >= 1

    # restart with the same checkpoint: no new files → no duplicate rows
    q2 = streaming.qc_stream(
        spark, str(inp), out, _allowed(spark), CheckConfig(n_partitions=8), run_id="s1"
    )
    assert q2.awaitTermination(420), 'stream did not finish'
    assert spark.read.parquet(f"{out}/violations_stream").count() == want


_MTIME_SEQ = [0]


def _write_ordered(table, path):
    """pq.write_table + an explicitly increasing mtime: FileStreamSource
    orders files by modification time, and two files written within the
    same timestamp tick tie — under suite load the tie occasionally
    resolves f2-before-f1, breaking arrival-order assertions (the one
    intermittent failure across r4/r5 suite runs). Monotonic mtimes
    make arrival order deterministic."""
    import os

    pq.write_table(table, path)
    _MTIME_SEQ[0] += 1
    t = 1_600_000_000 + _MTIME_SEQ[0] * 10
    os.utime(path, (t, t))


def test_incremental_file_arrival(spark, tmp_path):
    inp = tmp_path / "inc_in"
    inp.mkdir()
    out = str(tmp_path / "inc_out")
    seq = synth.generate_sequences(1000, seed=7)
    pq.write_table(seq, str(inp / "f1.parquet"))
    q = streaming.qc_stream(spark, str(inp), out, _allowed(spark), CheckConfig(n_partitions=8))
    assert q.awaitTermination(420), 'stream did not finish'
    n1 = spark.read.parquet(f"{out}/violations_stream").count()
    # a new file lands; only its rows are processed on the next trigger
    pq.write_table(seq, str(inp / "f2.parquet"))
    q2 = streaming.qc_stream(spark, str(inp), out, _allowed(spark), CheckConfig(n_partitions=8))
    assert q2.awaitTermination(420), 'stream did not finish'
    assert spark.read.parquet(f"{out}/violations_stream").count() == 2 * n1


def test_running_source_stats_stateful_across_restart(spark, tmp_path):
    """applyInPandasWithState: per-source running totals must accumulate
    across micro-batches AND across query restarts (checkpointed state)."""
    import pyspark.sql.functions as F

    inp = tmp_path / "st_in"
    inp.mkdir()
    out = str(tmp_path / "st_out")
    seq = synth.generate_sequences(1000, seed=42)
    pq.write_table(seq.slice(0, 500), str(inp / "f1.parquet"))

    q = streaming.running_source_stats(spark, str(inp), out)
    assert q.awaitTermination(420), 'stream did not finish'

    def latest(path):
        df = spark.read.parquet(path)
        mx = df.groupBy("source").agg(F.max("epoch").alias("epoch"))
        return {
            r.source: (r.n_rows, r.total_tokens)
            for r in df.join(F.broadcast(mx), ["source", "epoch"]).collect()
        }

    first = latest(f"{out}/source_stats")
    assert first and all(n > 0 for n, _ in first.values())

    # second wave arrives; restart resumes from checkpointed state
    pq.write_table(seq.slice(500, 500), str(inp / "f2.parquet"))
    q2 = streaming.running_source_stats(spark, str(inp), out)
    assert q2.awaitTermination(420), 'stream did not finish'
    second = latest(f"{out}/source_stats")

    # ground truth from a plain batch aggregate over both files
    batch = (
        spark.read.parquet(str(inp))
        .where("source is not null and n_tok > 0")
        .groupBy("source")
        .agg(F.count("*").alias("n"), F.sum("n_tok").alias("t"))
    )
    want = {r.source: (r.n, r.t) for r in batch.collect()}
    assert second == want
    # and the totals strictly grew for sources present in both waves
    for s in set(first) & set(second):
        assert second[s][0] >= first[s][0]

    # histogram state (ADVICE r2): per-bucket counts must equal the batch
    # histogram over both waves — state really carries the distribution
    df = spark.read.parquet(f"{out}/source_stats")
    mx = df.groupBy("source").agg(F.max("epoch").alias("epoch"))
    hists = {
        r.source: list(r.hist)
        for r in df.join(F.broadcast(mx), ["source", "epoch"]).collect()
    }
    bhist = (
        spark.read.parquet(str(inp))
        .where("source is not null and n_tok > 0")
        .groupBy("source", F.least(F.floor(F.col("n_tok") / 64), F.lit(31)).alias("b"))
        .count()
    )
    want_h: dict[str, list[int]] = {}
    for r in bhist.collect():
        want_h.setdefault(r.source, [0] * 32)[int(r.b)] = r["count"]
    assert hists == want_h
    for h in hists.values():
        assert sum(h) > 0


def test_streaming_drift_matches_batch_gate(spark, tmp_path):
    """The streaming JS gate must grade EXACTLY like the batch gate on
    the same rows' histograms (one shared js_from_histograms
    implementation, both sides clamped into the stream state's fixed
    bucket domain): after two file waves, the final-epoch verdicts
    equal the batch formula over the full static data — statuses AND
    js values — with UNKNOWN for a source missing from the baseline."""
    import pyspark.sql.functions as F

    from tokenqc.checks import drift
    from tokenqc.checks.base import CheckConfig

    inp = tmp_path / "dr_in"
    inp.mkdir()
    out = str(tmp_path / "dr_out")
    seq = synth.generate_sequences(1200, seed=11)
    pq.write_table(seq.slice(0, 600), str(inp / "f1.parquet"))
    pq.write_table(seq.slice(600, 600), str(inp / "f2.parquet"))

    cfg = CheckConfig()
    static = spark.createDataFrame(seq.to_pandas())
    # baseline: web's own observed shape (PASS), a flat wrong shape for
    # books (should FAIL at a tight js_max), nothing for the others
    hist = drift.observed_histogram(
        static.where(F.col("source").isNotNull() & (F.col("n_tok") > 0)), cfg
    )
    web_n = hist.where("source = 'web'").agg(F.sum("cnt")).first()[0]
    base = hist.where("source = 'web'").select(
        "source", "bucket", (F.col("cnt") / F.lit(float(web_n))).alias("p")
    ).unionByName(
        spark.createDataFrame(
            [("books", b, 1.0 / 32) for b in range(32)], "source string, bucket int, p double"
        )
    )

    q = streaming.streaming_drift(spark, str(inp), out, base, js_max=0.01)
    assert q.awaitTermination(420), 'stream did not finish'

    got_df = spark.read.parquet(f"{out}/drift_stream")
    last = got_df.agg(F.max("epoch")).first()[0]
    got = {
        r.source: (r.n_rows, r.js_divergence, r.status)
        for r in got_df.where(F.col("epoch") == last).collect()
    }
    def clamp_hist(h):
        return (
            h.select("source", F.least(F.col("bucket"), F.lit(31)).alias("bucket"), "cnt")
            .groupBy("source", "bucket").agg(F.sum("cnt").alias("cnt"))
        )

    def clamp_base(b):
        return (
            b.select("source", F.least(F.col("bucket"), F.lit(31)).alias("bucket"), "p")
            .groupBy("source", "bucket").agg(F.sum("p").alias("p"))
        )

    want = {
        r.source: (r.n_rows, r.js_divergence, r.status)
        for r in drift.js_from_histograms(
            clamp_hist(hist), clamp_base(base), js_max=0.01
        ).collect()
    }
    assert got == want
    assert got["web"][2] == "PASS" and got["books"][2] == "FAIL"
    assert all(v[2] == "UNKNOWN" for s, v in got.items() if s not in ("web", "books"))


def test_streaming_drift_psi_matches_batch_gate(spark, tmp_path):
    """stat='psi' grades the SAME stream state with the batch PSI
    formula (one shared psi_from_histograms): final-epoch verdicts —
    statuses AND psi values — equal a batch run over the clamped full
    histograms, including the graded WARN/FAIL bands and UNKNOWN."""
    import pyspark.sql.functions as F

    from tokenqc.checks import drift
    from tokenqc.checks.base import CheckConfig

    inp = tmp_path / "psi_in"
    inp.mkdir()
    out = str(tmp_path / "psi_out")
    seq = synth.generate_sequences(1200, seed=11)
    pq.write_table(seq.slice(0, 600), str(inp / "f1.parquet"))
    pq.write_table(seq.slice(600, 600), str(inp / "f2.parquet"))

    cfg = CheckConfig()
    static = spark.createDataFrame(seq.to_pandas())
    hist = drift.observed_histogram(
        static.where(F.col("source").isNotNull() & (F.col("n_tok") > 0)), cfg
    )
    web_n = hist.where("source = 'web'").agg(F.sum("cnt")).first()[0]
    base = hist.where("source = 'web'").select(
        "source", "bucket", (F.col("cnt") / F.lit(float(web_n))).alias("p")
    ).unionByName(
        spark.createDataFrame(
            [("books", b, 1.0 / 32) for b in range(32)],
            "source string, bucket int, p double",
        )
    )

    q = streaming.streaming_drift(
        spark, str(inp), out, base, stat="psi", psi_warn=0.01, psi_fail=10.0
    )
    assert q.awaitTermination(420), "stream did not finish"

    got_df = spark.read.parquet(f"{out}/drift_stream")
    last = got_df.agg(F.max("epoch")).first()[0]
    got = {
        r.source: (r.n_rows, r.psi, r.status)
        for r in got_df.where(F.col("epoch") == last).collect()
    }

    def clamp_hist(h):
        return (
            h.select("source", F.least(F.col("bucket"), F.lit(31)).alias("bucket"), "cnt")
            .groupBy("source", "bucket").agg(F.sum("cnt").alias("cnt"))
        )

    def clamp_base(b):
        return (
            b.select("source", F.least(F.col("bucket"), F.lit(31)).alias("bucket"), "p")
            .groupBy("source", "bucket").agg(F.sum("p").alias("p"))
        )

    want = {
        r.source: (r.n_rows, r.psi, r.status)
        for r in drift.psi_from_histograms(
            clamp_hist(hist), clamp_base(base), psi_warn=0.01, psi_fail=10.0
        ).collect()
    }
    assert got == want
    assert got["web"][2] == "PASS"
    # books vs a flat baseline is drifted but finite: the wide fail bar
    # keeps it in the graded WARN band
    assert got["books"][2] == "WARN"
    assert all(v[2] == "UNKNOWN" for s, v in got.items() if s not in ("web", "books"))

    import pytest

    with pytest.raises(ValueError):
        streaming.streaming_drift(spark, str(inp), out, base, stat="nope")


def test_streaming_drift_restart_under_domain_growth(spark, tmp_path):
    """Verdict stability when the live data GROWS out of the fixed
    bucket domain across a restart (r4 verdict #7): wave 1 is
    in-domain; after the query terminates, wave 2 lands with n_tok far
    past bucket n_buckets-1 (raw buckets ≥ 40 → tail-clamped to 31)
    and the query restarts on the same checkpoint. The final-epoch
    verdicts must STILL equal the batch formula over the clamped full
    histograms — the state clamp and the baseline tail-sum clamp keep
    grading identical to a batch run, restart or not — including a
    baseline whose own domain (buckets 0..99) exceeds the state's."""
    import pyarrow as pa
    import pyspark.sql.functions as F

    from tokenqc.checks import drift

    def tbl(rows):  # (doc_id, n_tok, source)
        return pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.string()),
                "tokens": pa.array([[1, 2] for _ in rows], pa.list_(pa.int32())),
                "n_tok": pa.array([r[1] for r in rows], pa.int32()),
                "source": pa.array([r[2] for r in rows], pa.string()),
            }
        )

    inp = tmp_path / "grow_in"
    inp.mkdir()
    out = str(tmp_path / "grow_out")
    # wave 1: in-domain (buckets 0..7); wave 2: half the web rows jump
    # to raw buckets 40..47 — outside the 32-bucket state domain
    wave1 = [(f"w{i}", 10 + 64 * (i % 8), "web") for i in range(300)] + [
        (f"b{i}", 10 + 64 * (i % 4), "books") for i in range(200)
    ]
    wave2 = [
        (f"W{i}", (64 * (40 + i % 8)) + 5 if i % 2 == 0 else 10 + 64 * (i % 8), "web")
        for i in range(300)
    ] + [(f"B{i}", 10 + 64 * (i % 4), "books") for i in range(200)]
    pq.write_table(tbl(wave1), str(inp / "f1.parquet"))

    full = spark.createDataFrame(tbl(wave1 + wave2).to_pandas())
    # raw domain really grows: max raw bucket far past the state's 31
    assert full.agg(F.max(F.floor(F.col("n_tok") / 64))).first()[0] > 39
    clamped_hist = (
        full.select(
            "source",
            F.least(F.floor(F.col("n_tok") / 64), F.lit(31)).cast("int").alias("bucket"),
        )
        .groupBy("source", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # baseline: web = the clamped full shape (PASS); books = flat over
    # 0..99, a domain the state cannot represent (tail-sum clamped, FAIL)
    web_n = clamped_hist.where("source = 'web'").agg(F.sum("cnt")).first()[0]
    base = clamped_hist.where("source = 'web'").select(
        "source", "bucket", (F.col("cnt") / F.lit(float(web_n))).alias("p")
    ).unionByName(
        spark.createDataFrame(
            [("books", b, 1.0 / 100) for b in range(100)],
            "source string, bucket int, p double",
        )
    )

    q1 = streaming.streaming_drift(spark, str(inp), out, base, js_max=0.02)
    assert q1.awaitTermination(420), 'stream did not finish'
    pq.write_table(tbl(wave2), str(inp / "f2.parquet"))
    q2 = streaming.streaming_drift(spark, str(inp), out, base, js_max=0.02)  # restart
    assert q2.awaitTermination(420), 'stream did not finish'

    got_df = spark.read.parquet(f"{out}/drift_stream")
    last = got_df.agg(F.max("epoch")).first()[0]
    got = {
        r.source: (r.n_rows, round(r.js_divergence, 9), r.status)
        for r in got_df.where(F.col("epoch") == last).collect()
    }
    clamped_base = (
        base.select("source", F.least(F.col("bucket"), F.lit(31)).alias("bucket"), "p")
        .groupBy("source", "bucket")
        .agg(F.sum("p").alias("p"))
    )
    want = {
        r.source: (r.n_rows, round(r.js_divergence, 9), r.status)
        for r in drift.js_from_histograms(clamped_hist, clamped_base, js_max=0.02).collect()
    }
    assert got == want
    assert got["web"][2] == "PASS" and got["books"][2] == "FAIL"


def test_streaming_dedup_within_watermark(spark, tmp_path):
    import pyspark.sql.functions as F

    inp = tmp_path / "dd_in"
    inp.mkdir()
    rows = [
        ("a", "2026-01-01 00:00:00"),
        ("a", "2026-01-01 00:00:10"),  # dup within watermark
        ("b", "2026-01-01 00:01:00"),
    ]
    import pyarrow as pa

    pq.write_table(
        pa.table({"doc_id": [r[0] for r in rows], "ts": [r[1] for r in rows]}),
        str(inp / "f1.parquet"),
    )
    stream = (
        spark.readStream.schema("doc_id string, ts string")
        .parquet(str(inp))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    deduped = streaming.streaming_dedup(stream, ts_col="ts", key="doc_id")
    out = str(tmp_path / "dd_out")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(420), 'stream did not finish'
    got = spark.read.parquet(out)
    assert got.count() == 2
    assert {r.doc_id for r in got.collect()} == {"a", "b"}


def test_streaming_token_lints_match_batch(spark, tmp_path):
    """Token-array lints ride the streaming row-gate pass (opt-in via the
    same CheckConfig contract as the batch runner) and produce EXACTLY
    the batch formula's violation rows across micro-batches."""
    import pyarrow as pa
    import pyspark.sql.functions as F

    from tokenqc.checks import base as cb
    from tokenqc.checks import referential

    inp = tmp_path / "tok_in"
    inp.mkdir()
    rows = [
        ("good", [1, 10, 11, 2]),          # clean: BOS first, EOS last
        ("oob", [1, 99999, 10, 2]),        # id outside [0, vocab)
        ("bos_mid", [1, 10, 1, 2]),        # interior BOS
        ("eos_mid", [1, 2, 10, 2]),        # interior EOS
        ("runny", [1, 7, 7, 7, 7, 2]),     # identical run >= max_token_run
        ("short", [5]),                    # 1-element: no layout slots flagged
    ]
    tbl = pa.table(
        {
            "doc_id": [r[0] for r in rows],
            "tokens": pa.array([r[1] for r in rows], pa.list_(pa.int32())),
            "n_tok": pa.array([len(r[1]) for r in rows], pa.int32()),
            "source": ["web"] * len(rows),
        }
    )
    # two files -> the lints must be correct per micro-batch, not just on
    # the union
    pq.write_table(tbl.slice(0, 3), str(inp / "f1.parquet"))
    pq.write_table(tbl.slice(3, 3), str(inp / "f2.parquet"))
    out = str(tmp_path / "tok_out")

    cfg = CheckConfig(
        n_partitions=4,
        vocab_size=50257,
        bos_id=1,
        eos_id=2,
        max_token_run=4,
        checks=CheckConfig().checks + ("tokens",),
    )
    allowed = spark.createDataFrame([("web", True)], "source string, active boolean")
    q = streaming.qc_stream(spark, str(inp), out, allowed, cfg, run_id="tok")
    assert q.awaitTermination(420), 'stream did not finish'

    def norm(df):
        # violation rows are (partition_id, doc_id, check_name,
        # observed="facet: value", expected)
        return sorted(
            (r.doc_id, r.check_name, r.observed, r.expected)
            for r in df.where(F.col("check_name") == "tokens").collect()
        )

    got = norm(spark.read.parquet(f"{out}/violations_stream"))
    # batch formula over the same static input, same cfg
    static = spark.createDataFrame(tbl.to_pandas(), schema=streaming.SEQUENCES)
    batch = cb.assemble_violations(
        referential.attach(
            static.withColumn("partition_id", cb.partition_id_col(cfg)), allowed
        ),
        streaming._row_facets(cfg),
    )
    want = norm(batch)
    assert got == want
    assert {(d, o.split(":")[0]) for d, _, o, _ in got} == {
        ("oob", "oob_token"),
        ("bos_mid", "bos_interior"),
        ("eos_mid", "eos_interior"),
        ("runny", "long_run"),
    }
    # unconfigured lints stay out of the stream: with every token id
    # None, facets() contributes nothing even when "tokens" is listed
    assert len(
        streaming._row_facets(
            CheckConfig(n_partitions=4, checks=CheckConfig().checks + ("tokens",))
        )
    ) == len(streaming._row_facets(CheckConfig(n_partitions=4)))


def test_streaming_token_drift_matches_batch_and_restarts(spark, tmp_path):
    """The streaming token-unigram gate must grade EXACTLY like the batch
    gate over the rows consumed so far (shared js_from_histograms), and
    its running residue histograms must survive a query restart: after a
    second wave lands and a fresh query resumes from the checkpoint, the
    final-epoch verdicts equal drift.token_js_divergence over BOTH waves
    — js values, statuses, and token counts."""
    import pyspark.sql.functions as F

    from tokenqc import synth as synth_mod
    from tokenqc.checks import drift

    inp = tmp_path / "td_in"
    inp.mkdir()
    out = str(tmp_path / "td_out")
    seq = synth.generate_sequences(1200, seed=5)
    pq.write_table(seq.slice(0, 600), str(inp / "f1.parquet"))

    base_pa = synth_mod.generate_token_baseline()
    base = spark.createDataFrame(base_pa.to_pandas())

    q = streaming.streaming_token_drift(spark, str(inp), out, base, js_max=0.05)
    assert q.awaitTermination(420), 'stream did not finish'

    # wave 2 + restart: state must resume, not recount wave 1
    pq.write_table(seq.slice(600, 600), str(inp / "f2.parquet"))
    q2 = streaming.streaming_token_drift(spark, str(inp), out, base, js_max=0.05)
    assert q2.awaitTermination(420), 'stream did not finish'

    got_df = spark.read.parquet(f"{out}/token_drift_stream")
    last = got_df.agg(F.max("epoch")).first()[0]
    got = {
        r.source: (r.n_rows, r.js_divergence, r.status)
        for r in got_df.where(F.col("epoch") == last).collect()
    }
    static = spark.createDataFrame(seq.to_pandas(), schema=streaming.SEQUENCES)
    want = {
        r.source: (r.n_rows, r.js_divergence, r.status)
        for r in drift.token_js_divergence(static, base, js_max=0.05, n_buckets=256).collect()
    }
    assert got == want
    # the planted baseline grades: code FAIL (even-only residues),
    # uniform sources PASS, rogue source UNKNOWN
    assert got["code"][2] == "FAIL"
    assert got["web"][2] == "PASS"
    assert got["spam9"][2] == "UNKNOWN"


def test_streaming_token_contamination_matches_batch(spark, tmp_path):
    """Every micro-batch is flagged against the same pre-collected
    benchmark shingle set and the union of stream output rows equals the
    batch gate's rows exactly (same hash, same counts, same flags)."""
    import pyarrow as pa
    import pyspark.sql.functions as F

    from corpusops.textops import textqc

    inp = tmp_path / "contam_in"
    inp.mkdir()
    k = 3
    rows = [
        ("hit_a", [1, 2, 3, 4]),     # shares (1,2,3),(2,3,4) with bench
        ("clean_a", [7, 8, 9, 10]),
        ("hit_b", [9, 2, 3, 4]),     # shares (2,3,4)
        ("clean_b", [5, 5, 6, 6]),
        ("short", [1, 2]),           # < k: excluded everywhere
    ]
    tbl = pa.table(
        {
            "doc_id": [r[0] for r in rows],
            "tokens": pa.array([r[1] for r in rows], pa.list_(pa.int32())),
            "n_tok": pa.array([len(r[1]) for r in rows], pa.int32()),
            "source": ["web"] * len(rows),
        }
    )
    # two files -> flagging must be correct per micro-batch
    pq.write_table(tbl.slice(0, 2), str(inp / "f1.parquet"))
    pq.write_table(tbl.slice(2, 3), str(inp / "f2.parquet"))
    out = str(tmp_path / "contam_out")

    bench = spark.createDataFrame(
        [("b1", [1, 2, 3, 4])], "doc_id string, tokens array<int>"
    )
    q = streaming.streaming_token_contamination(
        spark, str(inp), out, benchmark=bench, k=k, run_id="c1"
    )
    assert q.awaitTermination(420), 'stream did not finish'

    def norm(df):
        return sorted(
            (r.doc_id, r.n_shingles, r.n_contaminated, r.contaminated)
            for r in df.collect()
        )

    got = norm(
        spark.read.parquet(f"{out}/contamination_stream").drop("run_id", "epoch")
    )
    batch_input = spark.createDataFrame(
        [(r[0], r[1]) for r in rows], "doc_id string, tokens array<int>"
    )
    want = norm(textqc.token_contamination_flags(batch_input, bench, k=k))
    assert got == want
    assert ("hit_a", 2, 2, True) in got and ("clean_a", 2, 0, False) in got


def test_streaming_sessions_match_batch_formulation(spark, tmp_path):
    """Native session_window sessions equal the batch gaps-and-islands
    sessionization on off-boundary data, across two waves + the
    watermark-flush sentinel (the append contract: a session only emits
    once the watermark passes it)."""
    import datetime as dt

    import pyarrow as pa
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    inp = tmp_path / "sess_in"
    inp.mkdir()
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    def ev(eid, user, minutes):
        return (eid, t0 + dt.timedelta(minutes=minutes), user, "click", 1.0, "{}")

    wave1 = [ev(1, 7, 0), ev(2, 7, 10), ev(3, 7, 50),   # user 7: gap 40m splits
             ev(4, 8, 0)]
    wave2 = [ev(5, 7, 55), ev(6, 8, 200)]               # extends 7's 2nd session

    def write(rows, name):
        tbl = pa.table({
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": [r[3] for r in rows],
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": [r[5] for r in rows],
        })
        pq.write_table(tbl, str(inp / name))

    out = str(tmp_path / "sess_out")
    write(wave1, "w1.parquet")
    assert streaming.streaming_sessions(spark, str(inp), out).awaitTermination(420), 'stream did not finish'
    write(wave2, "w2.parquet")
    assert streaming.streaming_sessions(spark, str(inp), out).awaitTermination(420), 'stream did not finish'
    # flush: a far-future sentinel advances the watermark past everything
    sentinel = [ev(999, 99, 100000)]
    write(sentinel, "w3.parquet")
    assert streaming.streaming_sessions(spark, str(inp), out).awaitTermination(420), 'stream did not finish'

    got = sorted(
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.read.parquet(f"{out}/sessions_stream")
        .where(F.col("user_id") != 99).collect()
    )

    # batch twin: same events, session_window on a static frame must
    # agree with BOTH the stream output and gaps-and-islands counts
    all_rows = wave1 + wave2
    batch = spark.createDataFrame(
        all_rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    want = sorted(
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in batch.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"), "n_events")
        .collect()
    )
    assert got == want
    # user 7: events at 0,10 | 50,55 -> two sessions (2, 2); user 8: 1+1
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.unix_timestamp("ts")
    gapc = epoch - F.lag(epoch).over(w)
    sess = batch.withColumn(
        "sid",
        F.sum(F.when(gapc.isNull() | (gapc > 1800), 1).otherwise(0)).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    gi = {
        (r.user_id, r.sid): r.n
        for r in sess.groupBy("user_id", "sid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert sorted(gi.values()) == sorted(x[3] for x in got)
    assert [x[3] for x in got if x[0] == 7] == [2, 2]


def test_streaming_incremental_dedup_matches_batch_and_restarts(spark, tmp_path):
    """Arrival-order dedup across micro-batches AND a query restart:
    with increasing ids the admitted rows equal global batch dedup
    exactly; a restarted query resumes from the shared seen store and
    admits nothing already owned."""
    import pyarrow as pa

    from corpusops.textops import dedup

    inp = tmp_path / "inc_in"
    inp.mkdir()
    out = str(tmp_path / "inc_out")
    w1 = [(1, "alpha"), (2, "beta"), (3, "alpha"), (4, None)]
    w2 = [(5, "beta"), (6, "gamma"), (7, "gamma"), (8, None)]
    def tbl(rows):
        return pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
        })
    # wave 1 split across two files, one file per micro-batch: the
    # within-wave cross-batch path is exercised too
    _write_ordered(tbl(w1[:2]), str(inp / "f1.parquet"))
    _write_ordered(tbl(w1[2:]), str(inp / "f2.parquet"))
    q = streaming.streaming_incremental_dedup(
        spark, str(inp), out, max_files_per_trigger=1
    )
    assert q.awaitTermination(420), 'stream did not finish'
    got1 = {(r.doc_id, r.text_hash is not None) for r in
            spark.read.parquet(f"{out}/admitted_stream").collect()}
    # alpha owned by 1, beta by 2, one null-text row (4)
    assert got1 == {(1, True), (2, True), (4, False)}

    # restart: wave 2 lands, a NEW query on the same checkpoint + store
    _write_ordered(tbl(w2), str(inp / "f3.parquet"))
    q2 = streaming.streaming_incremental_dedup(
        spark, str(inp), out, max_files_per_trigger=1
    )
    assert q2.awaitTermination(420), 'stream did not finish'
    admitted = spark.read.parquet(f"{out}/admitted_stream")
    got = {(r.doc_id, r.text_hash is not None) for r in admitted.collect()}
    # beta NOT re-admitted; gamma owned by 6; null admitted once per batch
    assert got == {(1, True), (2, True), (4, False), (6, True), (8, False)}

    # ids arrive increasing -> identical to global batch dedup on the
    # full corpus (modulo the per-batch null rows, excluded both sides)
    full = spark.createDataFrame(w1 + w2, "doc_id long, text string").where(
        "text IS NOT NULL"
    )
    empty = spark.createDataFrame([], "text_hash string")
    want = {(r.doc_id, True) for r in
            dedup.incremental_new_docs(full, empty).collect()}
    assert {g for g in got if g[1]} == want
    # the seen store holds exactly the distinct non-null digests
    seen = spark.read.parquet(f"{out}/seen_digests")
    assert seen.distinct().count() == 3 and seen.count() == 3


def test_streaming_degenerate_gate_matches_batch(spark, tmp_path):
    """The degenerate-content gate runs per micro-batch under the same
    opt-in contract as the batch runner; union-of-stream violation rows
    equals the batch check exactly."""
    import pyarrow as pa

    from tokenqc.checks import degeneracy
    from tokenqc.checks import base as cb

    inp = tmp_path / "degen_in"
    inp.mkdir()
    rows = [
        ("doc-a", [1, 2, 3, 4] * 10),   # tiles -> repetitive + low entropy
        ("doc-b", list(range(60))),     # clean
        ("doc-c", [9] * 30),            # flood
        ("doc-d", list(range(40))),     # clean
    ]
    def tbl(rs):
        return pa.table({
            "doc_id": [r[0] for r in rs],
            "tokens": pa.array([r[1] for r in rs], pa.list_(pa.int32())),
            "n_tok": pa.array([len(r[1]) for r in rs], pa.int32()),
            "source": ["web"] * len(rs),
        })
    pq.write_table(tbl(rows[:2]), str(inp / "f1.parquet"))
    pq.write_table(tbl(rows[2:]), str(inp / "f2.parquet"))
    out = str(tmp_path / "degen_out")
    cfg = CheckConfig(
        n_partitions=4,
        checks=("completeness", "degenerate"),
        min_entropy=1.5,
        max_dup_kgram_frac=0.2,
    )
    q = streaming.qc_stream(spark, str(inp), out, _allowed(spark), cfg, run_id="sdg")
    assert q.awaitTermination(420), 'stream did not finish'
    got = sorted(
        (r.doc_id, r.observed, r.expected)
        for r in spark.read.parquet(f"{out}/violations_stream")
        .where("check_name = 'degenerate'")
        .collect()
    )
    batch_df = spark.createDataFrame(
        [(r[0], r[1]) for r in rows], "doc_id string, tokens array<int>"
    ).withColumn("partition_id", cb.partition_id_col(cfg))
    want = sorted(
        (r.doc_id, r.observed, r.expected)
        for r in degeneracy.violations(batch_df, cfg).collect()
    )
    assert got == want
    assert {g[0] for g in got} == {"doc-a", "doc-c"}


def test_streaming_pack_matches_batch_complete_packs(spark, tmp_path):
    """Streaming packing across micro-batches AND a query restart: with
    doc_id-ordered arrival the emitted packs equal batch pack_tokens'
    COMPLETE packs byte-exactly; the trailing partial pack stays in
    state; every emitted pack passes the batch pack audit's bounds."""
    import pyarrow as pa

    from pyspark.sql import functions as F

    from corpusops.textops import pack

    inp = tmp_path / "pack_in"
    inp.mkdir()
    out = str(tmp_path / "pack_out")
    cap = 16
    docs = [(f"doc-{i:04d}", list(range(i * 100, i * 100 + 3 + (i * 7) % 11)))
            for i in range(20)]

    def tbl(rows):
        return pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.string()),
            "tokens": pa.array([r[1] for r in rows], pa.list_(pa.int32())),
            "n_tok": pa.array([len(r[1]) for r in rows], pa.int32()),
            "source": pa.array(["web"] * len(rows), pa.string()),
        })

    # wave 1: two files -> two micro-batches (cross-batch carry)
    _write_ordered(tbl(docs[:7]), str(inp / "f1.parquet"))
    _write_ordered(tbl(docs[7:12]), str(inp / "f2.parquet"))
    q = streaming.streaming_pack(spark, str(inp), out, cap=cap)
    assert q.awaitTermination(420), 'stream did not finish'
    # wave 2 after a restart on the same checkpoint: state carries over
    _write_ordered(tbl(docs[12:]), str(inp / "f3.parquet"))
    q2 = streaming.streaming_pack(spark, str(inp), out, cap=cap)
    assert q2.awaitTermination(420), 'stream did not finish'

    got = spark.read.parquet(f"{out}/packs").orderBy("pack_id").collect()
    assert all(r.n_tokens == cap and len(r.tokens) == cap for r in got)
    assert [r.pack_id for r in got] == list(range(len(got)))

    batch_in = spark.createDataFrame(
        [(d, t, len(t)) for d, t in docs], "doc_id string, tokens array<int>, n_tok int"
    )
    want = (
        pack.pack_tokens(batch_in, cap=cap, order_cols=("doc_id",),
                         tokens_col="tokens", n_col="n_tok")
        .orderBy("pack_id").collect()
    )
    total = sum(len(t) for _, t in docs)
    n_complete = total // cap
    assert len(got) == n_complete
    # batch emits the trailing partial pack too; compare the complete ones
    for g, w in zip(got, want[:n_complete]):
        assert list(g.tokens) == list(w.tokens), g.pack_id
    # the remainder is exactly what state withholds
    assert total - n_complete * cap == sum(len(t) for _, t in docs) % cap


def test_streaming_pack_per_stream_keys(spark, tmp_path):
    """stream_col packing: packs never mix sources, per-stream pack ids
    are dense, and each stream's packs equal its own batch packing."""
    import pyarrow as pa

    from corpusops.textops import pack

    inp = tmp_path / "packk_in"
    inp.mkdir()
    out = str(tmp_path / "packk_out")
    cap = 8
    rows = [(f"doc-{i:03d}", list(range(i * 50, i * 50 + 3 + i % 5)),
             "web" if i % 2 == 0 else "code") for i in range(14)]

    def tbl(rs):
        return pa.table({
            "doc_id": pa.array([r[0] for r in rs], pa.string()),
            "tokens": pa.array([r[1] for r in rs], pa.list_(pa.int32())),
            "n_tok": pa.array([len(r[1]) for r in rs], pa.int32()),
            "source": pa.array([r[2] for r in rs], pa.string()),
        })

    pq.write_table(tbl(rows), str(inp / "f1.parquet"))
    q = streaming.streaming_pack(spark, str(inp), out, cap=cap, stream_col="source")
    assert q.awaitTermination(420), 'stream did not finish'
    got = spark.read.parquet(f"{out}/packs").collect()
    by_stream = {}
    for r in got:
        by_stream.setdefault(r.stream, []).append(r)
    assert set(by_stream) <= {"web", "code"}
    for src, packs in by_stream.items():
        packs.sort(key=lambda r: r.pack_id)
        assert [p.pack_id for p in packs] == list(range(len(packs)))
        assert all(p.n_tokens == cap for p in packs)
        sub = [(d, t) for d, t, s in rows if s == src]
        batch_in = spark.createDataFrame(
            [(d, t, len(t)) for d, t in sub],
            "doc_id string, tokens array<int>, n_tok int",
        )
        want = (pack.pack_tokens(batch_in, cap=cap, order_cols=("doc_id",),
                                 tokens_col="tokens", n_col="n_tok")
                .orderBy("pack_id").collect())
        total = sum(len(t) for _, t in sub)
        assert len(packs) == total // cap
        for g, w in zip(packs, want):
            assert list(g.tokens) == list(w.tokens), (src, g.pack_id)


def test_streaming_rate_spikes_matches_batch(spark, tmp_path):
    """The merged hourly store grades with the SAME formula as the
    batch gate: after all waves (including a query restart), the final
    epoch's verdicts equal relops.rate_spikes over the full input."""
    import datetime as dt

    import pyarrow as pa

    from pyspark.sql import functions as F

    from corpusops import relops

    inp = tmp_path / "spike_in"
    inp.mkdir()
    out = str(tmp_path / "spike_out")
    base = dt.datetime(2024, 1, 1)
    rows = []
    counts = [2, 3, 2, 3, 2, 3, 20, 2]
    for h, c in enumerate(counts):
        rows += [(base + dt.timedelta(hours=h, minutes=m), "a") for m in range(c)]
        rows += [(base + dt.timedelta(hours=h, minutes=m), "b") for m in range(2)]

    def tbl(rs):
        n = len(rs)
        return pa.table({
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array([r[0] for r in rs], pa.timestamp("us")),
            "user_id": pa.array([1] * n, pa.int64()),
            "event_type": pa.array([r[1] for r in rs], pa.string()),
            "value": pa.array([0.0] * n, pa.float64()),
            "props": pa.array(["{}"] * n, pa.string()),
        })

    half = len(rows) // 2
    _write_ordered(tbl(rows[:half]), str(inp / "f1.parquet"))
    q = streaming.streaming_rate_spikes(spark, str(inp), out)
    assert q.awaitTermination(420), 'stream did not finish'
    # second wave via a restarted query on the same checkpoint + store
    _write_ordered(tbl(rows[half:]), str(inp / "f2.parquet"))
    q2 = streaming.streaming_rate_spikes(spark, str(inp), out)
    assert q2.awaitTermination(420), 'stream did not finish'

    got_all = spark.read.parquet(f"{out}/rate_spikes_stream")
    last = got_all.agg(F.max("epoch")).collect()[0][0]
    got = {(r.event_type, r.bucket_ts, r.cnt, r.baseline_mean, r.baseline_sd,
            r.n_prev, r.z, r.status)
           for r in got_all.where(F.col("epoch") == last).collect()}
    batch = spark.createDataFrame(rows, "ts timestamp, event_type string")
    want = {(r.event_type, r.bucket_ts, r.cnt, r.baseline_mean, r.baseline_sd,
             r.n_prev, r.z, r.status)
            for r in relops.rate_spikes(batch).collect()}
    assert got == want
    spikes = {(t, b.hour) for t, b, *_, s in got if s == "SPIKE"}
    assert ("a", 6) in spikes and not any(t == "b" for t, _ in spikes)


def test_streaming_funnel_matches_batch_gate(spark, tmp_path):
    """Greedy first-in-time-order IS min-after-anchor: with time-ordered
    arrival (wave 2 strictly later than wave 1), final per-user stages
    — and the derived funnel counts — equal relops.funnel_counts over
    the full input, across a query restart. Planted users cover: full
    funnel split across waves, click-before-view, purchase-without-
    click, same-second tie (not 'strictly after'), and never-viewed."""
    import datetime as dt

    import pyarrow as pa
    import pyspark.sql.functions as F

    from corpusops import relops, streaming

    t0 = dt.datetime(2026, 1, 1)

    def ev(eid, sec, uid, etype):
        return {
            "event_id": eid, "ts": t0 + dt.timedelta(seconds=sec),
            "user_id": uid, "event_type": etype, "value": 1.0, "props": "{}",
        }

    wave1 = [
        ev(1, 1, 1, "view"), ev(2, 5, 1, "click"),        # u1 mid-funnel
        ev(3, 2, 2, "click"), ev(4, 6, 2, "view"),        # u2 click-first
        ev(5, 3, 3, "view"), ev(6, 4, 3, "purchase"),     # u3 skips click
        ev(7, 7, 4, "view"), ev(8, 7, 4, "click"),        # u4 same-second tie
        ev(9, 8, 5, "error"),                             # u5 never views
    ]
    wave2 = [
        ev(10, 100, 1, "purchase"),                        # u1 completes
        ev(11, 101, 2, "click"),                           # u2 now converts
        ev(12, 102, 3, "click"), ev(13, 103, 3, "purchase"),
        ev(14, 104, 4, "click"),                           # u4 click AFTER tie
        ev(15, 105, 5, "view"),
    ]
    schema = pa.schema([
        ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()), ("event_type", pa.string()),
        ("value", pa.float64()), ("props", pa.string()),
    ])
    inp = tmp_path / "fn_in"
    inp.mkdir()
    out = str(tmp_path / "fn_out")
    _write_ordered(pa.Table.from_pylist(wave1, schema=schema), str(inp / "w1.parquet"))

    q = streaming.streaming_funnel(spark, str(inp), out)
    assert q.awaitTermination(420), "stream did not finish"

    _write_ordered(pa.Table.from_pylist(wave2, schema=schema), str(inp / "w2.parquet"))
    q2 = streaming.streaming_funnel(spark, str(inp), out)  # restart
    assert q2.awaitTermination(420), "stream did not finish"

    got_df = spark.read.parquet(f"{out}/funnel_stream")
    mx = got_df.groupBy("user_id").agg(F.max("epoch").alias("epoch"))
    latest = {
        r["user_id"]: r["stage"]
        for r in got_df.join(F.broadcast(mx), ["user_id", "epoch"]).collect()
    }
    # hand-derived: u1 view@1,click@5,purchase@100 -> 3; u2 view@6,click@101 -> 2
    # u3 view@3, clicks@102, purchase@103 -> 3; u4 tie click@7 skipped,
    # click@104 -> 2; u5 view@105 -> 1
    assert latest == {1: 3, 2: 2, 3: 3, 4: 2, 5: 1}
    # counts equal the batch gate over the full static input
    static = spark.createDataFrame(
        [(e["event_id"], e["ts"], e["user_id"], e["event_type"]) for e in wave1 + wave2],
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    batch = {
        r["step"]: r["n_users"]
        for r in relops.funnel_counts(static, steps=("view", "click", "purchase")).collect()
    }
    stream_counts = {
        i: sum(1 for s in latest.values() if s >= i) for i in (1, 2, 3)
    }
    assert stream_counts == batch
