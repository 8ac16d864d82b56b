"""End-to-end runner: verdicts, violations, state, resume, error isolation.

Mirrors the reference test strategy (/root/reference/main.nf.test): a
happy-path run with exact expected counts, negative-config cases, and a
resume case (Nextflow `-resume` analogue)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tokenqc.checks.base import CheckConfig
from tokenqc.runner import QCRunner


def _total_expected_violations(expected):
    return (
        len(expected.null_doc_id)
        + len(expected.null_tokens)
        + len(expected.empty_tokens)
        + len(expected.null_ntok)
        + len(expected.null_source)
        + len(expected.ntok_mismatch)
        + len(expected.bad_format)
        + len(expected.rogue_source)
        + len(set(expected.dup_pairs.tolist()))  # one violation per dup key
        + len(expected.perturbed_ref)
    )


@pytest.fixture()
def runner(spark, tmp_path):
    return QCRunner(spark, CheckConfig(n_partitions=16), out_dir=str(tmp_path / "qc_out"))


def test_end_to_end(runner, tables, expected):
    res = runner.run(
        tables["sequences"],
        allowed_sources=tables["allowed_sources"],
        baseline_hist=tables["baseline_hist"],
        reference_tokens=tables["reference_tokens"],
        run_id="r1",
    )
    assert res.errors == {}
    assert res.violations.count() == _total_expected_violations(expected)
    # per-check violation totals are exact
    by_check = {
        r.check_name: r.c
        for r in res.violations.groupBy("check_name").agg(F.count("*").alias("c")).collect()
    }
    assert by_check["format"] == len(expected.bad_format)
    assert by_check["referential"] == len(expected.rogue_source)
    assert by_check["uniqueness"] == len(set(expected.dup_pairs.tolist()))
    assert by_check["invariant"] == len(expected.perturbed_ref)

    # every (partition, check) pair has a verdict; thresholds=0 ⇒ any
    # violation fails the partition
    verd = res.verdicts.where(F.col("partition_id") >= 0)
    assert verd.count() == 16 * 6  # 6 non-drift checks
    assert verd.where("status not in ('PASS','FAIL')").count() == 0
    fail_parts = {
        r.partition_id for r in verd.where("status = 'FAIL'").select("partition_id").distinct().collect()
    }
    viol_parts = {
        r.partition_id for r in res.violations.select("partition_id").distinct().collect()
    }
    assert fail_parts == viol_parts

    # drift verdicts present: code FAILs, web PASSes, spam9 UNKNOWN
    drift = {r.check_name: r.status for r in res.verdicts.where("partition_id = -1").collect()}
    assert drift["drift:code"] == "FAIL"
    assert drift["drift:web"] == "PASS"
    assert drift["drift:spam9"] == "UNKNOWN"

    # qc_state covers all partitions with consistent totals
    st = res.state
    assert st.select("partition_id").distinct().count() == 16
    assert st.agg(F.sum("n_rows")).first()[0] == 5000


def test_resume_skips_completed(runner, tables):
    r1 = runner.run(tables["sequences"], allowed_sources=tables["allowed_sources"], run_id="rr")
    assert r1.skipped_partitions == []
    r2 = runner.run(tables["sequences"], allowed_sources=tables["allowed_sources"], run_id="rr")
    assert r2.skipped_partitions == list(range(16))
    # idempotent: outputs unchanged after the no-op resume
    assert r2.violations.count() == r1.violations.count()


def test_partial_resume(spark, tables, tmp_path):
    """Seed state for partitions 0..7, assert only 8..15 get re-validated."""
    out = str(tmp_path / "qc_out")
    runner = QCRunner(spark, CheckConfig(n_partitions=16), out_dir=out)
    full = runner.run(tables["sequences"], run_id="full")

    import shutil

    # simulate an interrupted run: copy only a state slice for partitions 0..7
    seeded = full.state.where("partition_id < 8").select(
        "partition_id", "status", "n_rows", "n_viol", "wall_ms", "finished_at"
    )
    seeded.write.mode("overwrite").parquet(f"{out}/qc_state/run_id=part/batch=0")
    r = runner.run(tables["sequences"], run_id="part")
    assert r.skipped_partitions == list(range(8))
    done = {x.partition_id for x in r.violations.select("partition_id").distinct().collect()}
    assert done <= set(range(8, 16))


def test_threshold_tolerance(spark, tables, tmp_path):
    """With a generous threshold every partition passes despite violations."""
    cfg = CheckConfig(n_partitions=16, default_threshold=0.5, checks=("completeness", "format"))
    runner = QCRunner(spark, cfg, out_dir=str(tmp_path / "qc2"))
    res = runner.run(tables["sequences"], run_id="tol")
    verd = res.verdicts.where("partition_id >= 0")
    assert verd.where("status = 'FAIL'").count() == 0
    assert res.violations.count() > 0


def test_missing_baseline_is_unknown(spark, tables, tmp_path):
    runner = QCRunner(spark, CheckConfig(n_partitions=4, checks=("drift",)), out_dir=str(tmp_path / "qc3"))
    res = runner.run(tables["sequences"], run_id="nb")
    row = res.verdicts.where("check_name = 'drift'").first()
    assert row.status == "UNKNOWN"


def test_bad_config_rejected():
    with pytest.raises(ValueError):
        CheckConfig(n_partitions=0)
    with pytest.raises(ValueError):
        CheckConfig(default_threshold=1.5)
    with pytest.raises(ValueError):
        CheckConfig(thresholds={"format": -0.1})
    with pytest.raises(ValueError):
        CheckConfig(checks=("nonsense",))


def test_report_scores(runner, tables):
    runner.run(tables["sequences"], allowed_sources=tables["allowed_sources"], run_id="rep")
    rep = runner.report("rep")
    rows = rep.collect()
    assert len(rows) == 16
    for r in rows:
        assert 0.0 <= r.overall_score <= 1.0
        assert r.n_checks == 5  # completeness, structural, format, uniqueness, referential


# ---------------------------------------------------------------------------
# round-2 regressions: error→UNKNOWN grading, resume batch numbering,
# run-level drift, once-per-run uniqueness, missing-input UNKNOWNs
# ---------------------------------------------------------------------------
def test_no_allowed_sources_runs_clean(spark, tables, tmp_path):
    """Without allowed_sources the row-level pass must still run (no
    AnalysisException) and referential must be UNKNOWN at run level."""
    runner = QCRunner(spark, CheckConfig(n_partitions=16), out_dir=str(tmp_path / "q"))
    res = runner.run(tables["sequences"], run_id="na")
    assert res.errors == {}
    # completeness/structural/format violations are really found
    checks = {r.check_name for r in res.violations.select("check_name").distinct().collect()}
    assert {"completeness", "structural", "format"} <= checks
    # referential: one run-level UNKNOWN row, not a silent PASS
    ref = res.verdicts.where("check_name = 'referential'").collect()
    assert len(ref) == 1 and ref[0].status == "UNKNOWN" and ref[0].partition_id == -1
    # invariant + drift missing inputs are likewise UNKNOWN at run level
    inv = res.verdicts.where("check_name = 'invariant'").collect()
    assert len(inv) == 1 and inv[0].status == "UNKNOWN"
    # partitions still complete (missing input is not an error)
    assert res.state.where("status not in ('PASS','FAIL')").count() == 0


def test_errored_family_unknown_and_revalidated(spark, tables, tmp_path, monkeypatch):
    """A check family that errors must grade UNKNOWN (never PASS) and its
    partitions must NOT be marked complete — resume re-validates them."""
    from tokenqc.checks import uniqueness

    out = str(tmp_path / "qerr")
    runner = QCRunner(spark, CheckConfig(n_partitions=16), out_dir=out)

    def boom(*a, **k):
        raise RuntimeError("uniqueness exploded")

    monkeypatch.setattr(uniqueness, "violations", boom)
    res = runner.run(tables["sequences"], allowed_sources=tables["allowed_sources"], run_id="er")
    assert "uniqueness" in res.errors
    uv = res.verdicts.where("check_name = 'uniqueness'")
    assert uv.where("status != 'UNKNOWN'").count() == 0
    assert uv.where("partition_id >= 0").count() == 16  # per-partition, not -1
    # every partition carries the UNKNOWN → none are complete
    assert res.state.where("status = 'UNKNOWN'").count() == 16

    monkeypatch.undo()
    res2 = runner.run(tables["sequences"], allowed_sources=tables["allowed_sources"], run_id="er")
    assert res2.skipped_partitions == []  # re-validated, not skipped
    assert res2.errors == {}
    assert res2.verdicts.where("check_name = 'uniqueness' and status = 'UNKNOWN'").count() == 0
    assert res2.state.where("status = 'UNKNOWN'").count() == 0


def test_resume_does_not_clobber_completed_batches(spark, tables, tmp_path):
    """Crash mid-batch-1 of a 2-batch run: resume must continue numbering
    from the committed batch, drop the orphaned slices, and end with the
    same totals as an uninterrupted run (ADVICE r1: 132→76 regression)."""
    import shutil

    from tokenqc import io as qio

    out = str(tmp_path / "qcl")
    runner = QCRunner(spark, CheckConfig(n_partitions=16), out_dir=out, n_batches=2)
    ref = runner.run(tables["sequences"], allowed_sources=tables["allowed_sources"], run_id="ok")
    full_viol = ref.violations.count()
    full_verd = ref.verdicts.where("partition_id >= 0").count()

    r1 = runner.run(tables["sequences"], allowed_sources=tables["allowed_sources"], run_id="cr")
    batch0_parts = sorted(
        r.partition_id for r in r1.state.where("batch = 0").select("partition_id").collect()
    )
    # simulate a crash during batch 1: its state commit never happened
    shutil.rmtree(f"{out}/qc_state/run_id=cr/batch=1")
    assert qio.list_batches(spark, out, "violations", "cr") == [0, 1]

    r2 = runner.run(tables["sequences"], allowed_sources=tables["allowed_sources"], run_id="cr")
    assert r2.skipped_partitions == batch0_parts
    assert r2.violations.count() == full_viol
    assert r2.verdicts.where("partition_id >= 0").count() == full_verd
    assert r2.state.select("partition_id").distinct().count() == 16
    # numbering continued past the committed batch (orphan 1 was dropped,
    # the 8 pending partitions re-ran as batches 1 and 2) and every
    # written slice is committed (violations/verdicts/state agree)
    committed = qio.list_batches(spark, out, "qc_state", "cr")
    assert committed == [0, 1, 2]
    assert qio.list_batches(spark, out, "violations", "cr") == committed
    assert qio.list_batches(spark, out, "verdicts", "cr") == committed


def test_drift_once_per_run_with_batches(spark, tables, tmp_path):
    """n_batches > 1 must produce ONE drift verdict set computed on the
    full input, not per-batch partial histograms."""
    out = str(tmp_path / "qdr")
    runner = QCRunner(spark, CheckConfig(n_partitions=16), out_dir=out, n_batches=4)
    res = runner.run(
        tables["sequences"],
        allowed_sources=tables["allowed_sources"],
        baseline_hist=tables["baseline_hist"],
        run_id="dr",
    )
    drift_rows = res.verdicts.where("partition_id = -1 and check_name like 'drift:%'")
    per_source = drift_rows.groupBy("check_name").count().collect()
    assert all(r["count"] == 1 for r in per_source)  # no duplicates
    # identical statuses to a single-batch run (full-input statistics)
    single = QCRunner(spark, CheckConfig(n_partitions=16), out_dir=str(tmp_path / "qdr1")).run(
        tables["sequences"],
        allowed_sources=tables["allowed_sources"],
        baseline_hist=tables["baseline_hist"],
        run_id="dr1",
    )
    got = {r.check_name: r.status for r in drift_rows.collect()}
    want = {
        r.check_name: r.status
        for r in single.verdicts.where("partition_id = -1 and check_name like 'drift:%'").collect()
    }
    assert got == want


def test_uniqueness_planned_once_per_run(spark, tables, tmp_path, monkeypatch):
    """The dup-count shuffle is planned once per run, not once per batch."""
    from tokenqc.checks import uniqueness

    calls = []
    real = uniqueness.violations

    def counting(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(uniqueness, "violations", counting)
    runner = QCRunner(spark, CheckConfig(n_partitions=16), out_dir=str(tmp_path / "qu"), n_batches=4)
    runner.run(tables["sequences"], allowed_sources=tables["allowed_sources"], run_id="u1")
    assert len(calls) == 1


def test_token_drift_verdicts(spark, tables, tmp_path):
    """Token-unigram drift as a first-class runner check: source-level
    token_drift:<source> verdict rows at partition -1 — the planted
    even-residue baseline FAILs code, uniform sources PASS, the rogue
    source (absent from the baseline) is UNKNOWN; details carries the
    JS value."""
    import json

    cfg = CheckConfig(
        n_partitions=4, checks=("completeness", "token_drift"), token_js_max=0.05
    )
    runner = QCRunner(spark, cfg, out_dir=str(tmp_path / "qtd"))
    res = runner.run(
        tables["sequences"],
        run_id="td1",
        token_baseline_hist=tables["token_baseline"],
    )
    assert res.errors == {}
    rows = {
        r.check_name: r
        for r in res.verdicts.where(
            "partition_id = -1 and check_name like 'token_drift:%'"
        ).collect()
    }
    assert rows["token_drift:code"].status == "FAIL"
    for s in ("web", "books", "wiki"):
        assert rows[f"token_drift:{s}"].status == "PASS"
    assert rows["token_drift:spam9"].status == "UNKNOWN"
    # n_rows counts tokens, details carries the JS divergence
    assert rows["token_drift:web"].n_rows > 0
    js = json.loads(rows["token_drift:code"].details)["js_divergence"]
    assert js > 0.05


def test_token_drift_missing_baseline_is_unknown(spark, tables, tmp_path):
    cfg = CheckConfig(n_partitions=4, checks=("token_drift",))
    runner = QCRunner(spark, cfg, out_dir=str(tmp_path / "qtd2"))
    res = runner.run(tables["sequences"], run_id="td2")
    row = res.verdicts.where("check_name = 'token_drift'").first()
    assert row.status == "UNKNOWN" and row.partition_id == -1


def test_degenerate_gate_end_to_end(spark, tmp_path):
    """The degenerate-content gate as an engine check: planted
    entropy-collapse and tiling rows land as violation rows with the
    standard shape, the verdict grid grows a 'degenerate' row per
    partition, and both violation values equal the standalone ops'."""
    rows = [
        ("doc-0000000%d" % i, list(range(50 + i)), "web") for i in range(6)
    ] + [
        ("doc-deg-flood", [7] * 40, "web"),           # entropy 0 + tiling
        ("doc-deg-tile", [1, 2, 3, 4] * 12, "web"),   # entropy ln(4), tiles
        ("doc-short", [1, 2], "web"),                 # < k: entropy only
    ]
    seq = spark.createDataFrame(rows, "doc_id string, tokens array<int>, source string").withColumn(
        "n_tok", F.size("tokens")
    )
    cfg = CheckConfig(
        n_partitions=4,
        checks=("completeness", "degenerate"),
        min_entropy=1.5,
        max_dup_kgram_frac=0.2,
    )
    runner = QCRunner(spark, cfg, out_dir=str(tmp_path / "degen_out"))
    res = runner.run(seq, run_id="dg1")
    assert res.errors == {}
    viol = res.violations.where("check_name = 'degenerate'").collect()
    by_doc = {}
    for r in viol:
        by_doc.setdefault(r.doc_id, set()).add(r.observed.split(":")[0])
    assert by_doc["doc-deg-flood"] == {"low_entropy", "repetitive"}
    # ln(4) ~ 1.386 < 1.5: the tile row trips BOTH facets too
    assert by_doc["doc-deg-tile"] == {"low_entropy", "repetitive"}
    # the short row has no k-gram stat and healthy-enough entropy ln(2)?
    # ln(2) ~ 0.693 < 1.5 -> low_entropy only, never 'repetitive'
    assert by_doc["doc-short"] == {"low_entropy"}
    assert set(by_doc) == {"doc-deg-flood", "doc-deg-tile", "doc-short"}
    # verdict grid: a degenerate row per partition, FAIL where planted
    dverd = res.verdicts.where("check_name = 'degenerate'")
    assert dverd.count() == 4
    assert dverd.where("status = 'FAIL'").count() >= 1
    assert res.verdicts.where("check_name = 'completeness'").count() == 4


@pytest.mark.parametrize("run_id", ["000123", "1e5"])
def test_run_id_reads_back_as_written(spark, tables, tmp_path, run_id):
    """The run_id layout column reads back as the string the run was given,
    on the run and on its resume. Inferred from the directory names,
    "000123" came back as the integer 123 and "1e5" as decimal 100000."""
    cfg = CheckConfig(n_partitions=4, checks=("completeness", "uniqueness"))
    runner = QCRunner(spark, cfg, out_dir=str(tmp_path / "q"))
    first = runner.run(tables["sequences"], run_id=run_id)
    resumed = runner.run(tables["sequences"], run_id=run_id)
    assert resumed.skipped_partitions == [0, 1, 2, 3]
    for res in (first, resumed):
        for frame in (res.verdicts, res.violations, res.state):
            assert dict(frame.dtypes)["run_id"] == "string"
            assert [r.run_id for r in frame.select("run_id").distinct().collect()] == [run_id]


def test_read_back_runs_no_spark_job(spark, tables, tmp_path):
    """The result tables are read back with pinned schemas: opening the
    run's current view of all three starts no (schema-inference) job."""
    from tokenqc import io as qio
    from tokenqc.runner import TABLES

    out = str(tmp_path / "q")
    cfg = CheckConfig(n_partitions=4, checks=("completeness", "uniqueness"))
    QCRunner(spark, cfg, out_dir=out).run(tables["sequences"], run_id="rb")
    sc = spark.sparkContext
    sc.setJobGroup("read-back-probe", "read-back-probe")
    try:
        frames = [qio.read_current(spark, out, t, "rb") for t in TABLES]
        assert list(sc.statusTracker().getJobIdsForGroup("read-back-probe")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert all(f is not None for f in frames)


def test_default_checks_start_no_python_worker(spark, tables, tmp_path, monkeypatch):
    """A default-check run never goes through a grouped pandas apply (drift
    is graded on the driver): with applyInPandas made to raise, the run
    has no errors and the verdicts of an unpatched run. Its timings cover
    the resume point and the read-back too."""
    from pyspark.sql.group import GroupedData

    cfg = CheckConfig(n_partitions=8)
    inputs = dict(
        sequences=tables["sequences"],
        allowed_sources=tables["allowed_sources"],
        baseline_hist=tables["baseline_hist"],
        reference_tokens=tables["reference_tokens"],
    )
    want = QCRunner(spark, cfg, out_dir=str(tmp_path / "a")).run(**inputs, run_id="py")

    def no_pandas_apply(*a, **k):
        raise AssertionError("applyInPandas called")

    monkeypatch.setattr(GroupedData, "applyInPandas", no_pandas_apply)
    got = QCRunner(spark, cfg, out_dir=str(tmp_path / "b")).run(**inputs, run_id="py")
    assert got.errors == {}

    def rows(res):
        return sorted(
            (
                tuple(r) for r in res.verdicts.select(
                    "partition_id", "check_name", "status", "n_rows", "n_viol", "details"
                ).collect()
            ),
            key=str,
        )

    assert rows(got) == rows(want)
    assert any(r[1].startswith("drift:") for r in rows(got))
    assert {"resume_point", "run_plans", "read_back"} <= set(got.timings)


def test_repeated_reference_doc_id_counts_once(spark, tmp_path):
    """The fused invariant join reads a reference that repeats a doc_id as
    one row: identical copies neither multiply the row's violation rows
    nor count as a mismatch, and conflicting copies are one mismatch. A
    3x copy once graded a 2-row partition at n_viol=5 (rate 250 %)."""
    seq = spark.createDataFrame(
        [("a", [1, 2, 3], 4, "web"), ("b", [4, 5], 2, "web"), ("c", [6], 1, "web")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    ref = spark.createDataFrame(
        [("a", [1, 2, 3])] * 3 + [("b", [4, 5]), ("b", [4, 6]), ("c", [6])],
        "doc_id string, tokens_ref array<int>",
    )
    cfg = CheckConfig(n_partitions=1, checks=("structural", "invariant"))
    res = QCRunner(spark, cfg, out_dir=str(tmp_path / "q")).run(
        seq, reference_tokens=ref, run_id="dup"
    )
    assert res.errors == {}
    assert sorted((r.doc_id, r.check_name) for r in res.violations.collect()) == [
        ("a", "structural"), ("b", "invariant"),
    ]
    assert sorted(
        (r.check_name, r.n_rows, r.n_viol) for r in res.verdicts.collect()
    ) == [("invariant", 3, 1), ("structural", 3, 1)]


def _outputs(res):
    """Batch-independent view of a run: the violations multiset, the
    per-partition verdict rows and each partition's qc_state status."""
    viol = sorted(
        (tuple(r) for r in res.violations.select(
            "partition_id", "doc_id", "check_name", "observed", "expected"
        ).collect()),
        key=str,
    )
    verd = sorted(
        (tuple(r) for r in res.verdicts.where("partition_id >= 0").select(
            "partition_id", "check_name", "status", "n_rows", "n_viol"
        ).collect()),
        key=str,
    )
    state = sorted((r.partition_id, r.status) for r in res.state.collect())
    return viol, verd, state


def test_outputs_do_not_depend_on_batching(spark, tables, tmp_path):
    """1, 3 and 4 batches over 16 partitions write the same rows, also
    after a crash that loses the last qc_state commit and a resume."""
    import shutil

    from tokenqc import io as qio

    inputs = dict(
        sequences=tables["sequences"],
        allowed_sources=tables["allowed_sources"],
        reference_tokens=tables["reference_tokens"],
    )
    cfg = CheckConfig(n_partitions=16)
    want = None
    for n in (1, 3, 4):
        out = str(tmp_path / f"b{n}")
        runner = QCRunner(spark, cfg, out_dir=out, n_batches=n)
        got = _outputs(runner.run(**inputs, run_id="bi"))
        if want is None:
            want = got
            assert want[0] and {s for _, s in want[2]} <= {"PASS", "FAIL"}
        assert got == want, f"n_batches={n}"
        if n > 1:
            last = qio.list_batches(spark, out, "qc_state", "bi")[-1]
            assert last == n - 1
            shutil.rmtree(f"{out}/qc_state/run_id=bi/batch={last}")
            resumed = runner.run(**inputs, run_id="bi")
            # 3 batches are 6+6+4 partitions and 4 are 4 each: the last has 4
            assert resumed.skipped_partitions == list(range(12))
            assert _outputs(resumed) == want, f"n_batches={n}, resumed"


def test_one_scan_per_run_whatever_the_batches(spark, tables, tmp_path, monkeypatch):
    """A batch is a commit, not a scan: a 4-batch run plans the row-gate
    projection once, and starts at most 2 more Spark jobs per extra batch
    than a 1-batch run (a per-batch scan, join and verdict grid cost ~9)."""
    from tokenqc.checks import base as cb

    calls = []
    real = cb.project_facets

    def counting(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(cb, "project_facets", counting)
    inputs = dict(
        sequences=tables["sequences"],
        allowed_sources=tables["allowed_sources"],
        baseline_hist=tables["baseline_hist"],
        reference_tokens=tables["reference_tokens"],
    )
    tracker = spark.sparkContext.statusTracker()
    jobs = {}
    for n in (1, 4):
        runner = QCRunner(spark, CheckConfig(n_partitions=16), out_dir=str(tmp_path / f"j{n}"),
                          n_batches=n)
        calls.clear()
        before = set(tracker.getJobIdsForGroup(None))
        res = runner.run(**inputs, run_id="j")
        jobs[n] = len(set(tracker.getJobIdsForGroup(None)) - before)
        assert res.errors == {} and len(calls) == 1, f"n_batches={n}"
    assert jobs[4] <= jobs[1] + 2 * 3, jobs


def test_jobs_named_by_phase(spark, tables, tmp_path, monkeypatch):
    """Each phase's jobs carry `tokenqc <run_id> batch=<b> <phase>`, the
    side thread names its own, and the caller's description is restored."""
    from tokenqc import io as qio
    from tokenqc.checks import drift

    sc = spark.sparkContext
    seen = []

    def recording(name, real):
        def wrapper(*a, **k):
            seen.append((name, sc.getLocalProperty("spark.job.description")))
            return real(*a, **k)
        return wrapper

    monkeypatch.setattr(qio, "write_batch", recording("write_batch", qio.write_batch))
    monkeypatch.setattr(drift, "verdicts", recording("drift", drift.verdicts))
    runner = QCRunner(spark, CheckConfig(n_partitions=16), out_dir=str(tmp_path / "jd"),
                      n_batches=4)
    sc.setJobDescription("caller")
    try:
        runner.run(
            tables["sequences"],
            allowed_sources=tables["allowed_sources"],
            baseline_hist=tables["baseline_hist"],
            run_id="jd",
        )
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setJobDescription(None)
    assert sorted(seen) == [("drift", "tokenqc jd batch=0 drift")] + [
        ("write_batch", f"tokenqc jd batch={b} violations") for b in range(4)
    ]


def test_null_source_baseline_verdict_reads_back(spark, tables, tmp_path):
    """A baseline row with a NULL source is graded like any source, and
    its run-level verdict survives the read-back as `drift:NULL`: with a
    NULL check_name it never matched the run-level semi-join and was
    dropped."""
    base = tables["baseline_hist"].unionByName(
        spark.createDataFrame([(None, 0, 1.0)], "source string, bucket int, p double")
    )
    cfg = CheckConfig(n_partitions=4, checks=("drift",))
    res = QCRunner(spark, cfg, out_dir=str(tmp_path / "qn")).run(
        tables["sequences"], baseline_hist=base, run_id="ns"
    )
    got = {r.check_name: r.status for r in res.verdicts.collect()}
    assert got["drift:NULL"] == "UNKNOWN"
    assert got["drift:web"] == "PASS"
    assert None not in got


def test_invariant_rows_do_not_depend_on_other_checks(spark, tmp_path):
    """An invariant-only run takes the fused path every other run takes:
    the same invariant violation rows (observed included) and verdicts,
    on identical and conflicting reference copies, a NULL doc_id, a NULL
    token array and a doc_id the reference lacks."""
    seq = spark.createDataFrame(
        [
            ("a", [1, 2, 3], 3, "web"), ("b", [4, 5], 2, "web"), ("c", [6], 1, "web"),
            (None, [8], 1, "web"), ("d", None, 0, "web"), ("e", [1], 1, "web"),
        ],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    ref = spark.createDataFrame(
        [("a", [1, 2, 3])] * 2 + [("b", [4, 5]), ("b", [4, 6]), ("c", [7]), ("d", [9]),
                                  (None, [8])],
        "doc_id string, tokens_ref array<int>",
    )

    def invariant_rows(checks, name):
        cfg = CheckConfig(n_partitions=2, checks=checks)
        res = QCRunner(spark, cfg, out_dir=str(tmp_path / name)).run(
            seq, reference_tokens=ref, run_id=name
        )
        assert res.errors == {}
        viol = sorted(
            (tuple(r) for r in res.violations.where("check_name = 'invariant'").select(
                "partition_id", "doc_id", "observed", "expected"
            ).collect()),
            key=str,
        )
        verd = sorted(
            tuple(r) for r in res.verdicts.where("check_name = 'invariant'").select(
                "partition_id", "status", "n_rows", "n_viol"
            ).collect()
        )
        return viol, verd

    alone = invariant_rows(("invariant",), "inv")
    assert sorted(d for _, d, _, _ in alone[0]) == ["b", "c", "d"]
    assert {o for _, _, o, _ in alone[0]} == {
        "tokens_mismatch: hash(tokens) != hash(tokens_ref)"
    }
    assert alone == invariant_rows(("completeness", "invariant"), "inv2")


def test_traced_timing_keys_survive(spark, tables, tmp_path):
    """Every runner timing key the benchmark's traced run reads is set by
    a default-check, 1-batch run."""
    from qcbench.tracing import RUNNER_PHASES

    res = QCRunner(spark, CheckConfig(n_partitions=16), out_dir=str(tmp_path / "qt")).run(
        tables["sequences"],
        allowed_sources=tables["allowed_sources"],
        baseline_hist=tables["baseline_hist"],
        reference_tokens=tables["reference_tokens"],
        run_id="tk",
    )
    assert set(RUNNER_PHASES) <= set(res.timings), sorted(res.timings)


def test_input_types_checked_before_any_job(spark, tables, tmp_path):
    """The checks assume the input column types: xxhash64 hashes the same
    ids as int and as bigint apart, so `tokens` cast to array<bigint>
    once made every row an invariant violation with errors == {}. A
    wrong or missing column of any input table is now a ValueError
    naming it, raised before any Spark job; nullability and extra columns
    are fine."""
    import os

    out = str(tmp_path / "ty")
    runner = QCRunner(spark, CheckConfig(n_partitions=4), out_dir=out)
    seq, ref = tables["sequences"], tables["reference_tokens"]
    as_long = F.col("tokens").cast("array<bigint>")
    sc = spark.sparkContext
    sc.setJobGroup("type-probe", "type-probe")
    try:
        with pytest.raises(
            ValueError, match=r"^sequences\.tokens: found array<bigint>, expected array<int>$"
        ):
            runner.run(seq.withColumn("tokens", as_long), reference_tokens=ref, run_id="ty")
        with pytest.raises(
            ValueError, match=r"^sequences\.n_tok: found no such column, expected int$"
        ):
            runner.run(seq.drop("n_tok"), run_id="ty")
        with pytest.raises(
            ValueError,
            match=r"^reference_tokens\.tokens_ref: found array<bigint>, expected array<int>$",
        ):
            runner.run(seq, reference_tokens=ref.withColumn("tokens_ref", F.col("tokens_ref").cast(
                "array<bigint>")), run_id="ty")
        base, tok_base = tables["baseline_hist"], tables["token_baseline"]
        for kwargs, message in (
            (
                {"allowed_sources": tables["allowed_sources"].withColumn(
                    "active", F.col("active").cast("string"))},
                r"^allowed_sources\.active: found string, expected boolean$",
            ),
            (
                {"allowed_sources": tables["allowed_sources"].drop("active")},
                r"^allowed_sources\.active: found no such column, expected boolean$",
            ),
            (
                {"baseline_hist": base.withColumn("bucket", F.col("bucket").cast("bigint"))},
                r"^baseline_hist\.bucket: found bigint, expected int$",
            ),
            (
                {"baseline_hist": base.withColumn("p", F.col("p").cast("float"))},
                r"^baseline_hist\.p: found float, expected double$",
            ),
            (
                {"token_baseline_hist": tok_base.withColumnRenamed("source", "src")},
                r"^token_baseline_hist\.source: found no such column, expected string$",
            ),
            (
                {"token_baseline_hist": tok_base.withColumn("p", F.col("p").cast("string"))},
                r"^token_baseline_hist\.p: found string, expected double$",
            ),
        ):
            with pytest.raises(ValueError, match=message):
                runner.run(seq, reference_tokens=ref, run_id="ty", **kwargs)
        assert list(sc.statusTracker().getJobIdsForGroup("type-probe")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert not os.path.exists(out)

    # an extra column, and array elements that may be NULL
    extra = seq.withColumn("extra", F.lit(1)).withColumn(
        "tokens", F.col("tokens").cast("array<int>")
    )
    cfg = CheckConfig(n_partitions=4, checks=("structural",))
    res = QCRunner(spark, cfg, out_dir=out).run(
        extra, run_id="ok",
        allowed_sources=tables["allowed_sources"].withColumn("extra", F.lit(1)),
        baseline_hist=tables["baseline_hist"], token_baseline_hist=tables["token_baseline"],
    )
    assert res.errors == {}
