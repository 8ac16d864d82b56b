"""I/O layer: FS-agnostic probes, Iceberg routing, batch listing, and the
HTML report artifact."""

from __future__ import annotations

import pytest

from tokenqc import io as qio


def test_read_table_absent_returns_none(spark, tmp_path):
    assert qio.read_table(spark, str(tmp_path / "nope"), "verdicts") is None
    assert qio.read_table(spark, str(tmp_path / "nope"), "verdicts", "r1") is None


def test_read_table_absent_never_reaches_reader(spark, tmp_path, monkeypatch):
    """Every fresh run reads tables it has not written yet: absence is
    decided before the parquet reader, which would log a WARN and a
    FileNotFoundException stack trace for the missing path."""
    calls: list = []
    cls = type(spark)
    real = cls.read
    monkeypatch.setattr(cls, "read", property(lambda s: calls.append(1) or real.fget(s)))
    assert qio.read_table(spark, str(tmp_path / "nope"), "verdicts") is None
    assert qio.read_table(spark, str(tmp_path / "nope"), "verdicts", "r1") is None
    assert calls == []
    # a directory that exists but holds no parquet schema: the reader
    # runs and its AnalysisException still reads as absent
    (tmp_path / "t" / "run_id=r1").mkdir(parents=True)
    assert qio.read_table(spark, str(tmp_path), "t", "r1") is None
    assert calls


def test_write_then_read_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    qio.write_batch(df, str(tmp_path), "t", "r1", 0)
    back = qio.read_table(spark, str(tmp_path), "t", "r1")
    # partition columns surface from the directory layout
    assert {r.k for r in back.collect()} == {1, 2}
    assert back.select("batch").distinct().first().batch == 0
    assert qio.list_batches(spark, str(tmp_path), "t", "r1") == [0]


def test_overwrite_batch_is_idempotent(spark, tmp_path):
    df1 = spark.createDataFrame([(i,) for i in range(10)], "k int")
    df2 = spark.createDataFrame([(99,)], "k int")
    qio.write_batch(df1, str(tmp_path), "t", "r", 0)
    qio.write_batch(df2, str(tmp_path), "t", "r", 0)  # retry replaces
    assert qio.read_table(spark, str(tmp_path), "t", "r").count() == 1


def test_local_file_path_resolution(spark, tmp_path):
    """ADVICE r3: local-vs-remote routing must resolve the scheme via the
    Hadoop FS API, not string-sniffing. file:-scheme (explicit or via
    the local defaultFS) resolves to a POSIX path; remote schemes don't."""
    p = str(tmp_path)
    assert qio._local_file_path(spark, p) == p
    assert qio._local_file_path(spark, f"file:{p}") == p
    assert qio._local_file_path(spark, f"file://{p}") == p
    assert qio._local_file_path(spark, "s3a://bucket/prefix") is None


def test_write_batch_rows_atomic_and_clean(spark, tmp_path):
    """The pyarrow fast path commits via temp-file + os.replace: after a
    write no .inprogress temp remains, and a leftover temp from a
    crashed writer is invisible to readers (dotfile) and replaced by the
    next idempotent overwrite. The table's schema comes from
    TABLE_SCHEMAS, and the rows read back through it as written."""
    import os

    out = str(tmp_path)
    rows = [(0, "format", "PASS", 10, 0, None), (1, "format", "FAIL", 10, 2, None)]
    path = qio.write_batch_rows(spark, rows, out, "verdicts", "r", 0)
    files = os.listdir(path)
    assert files == ["part-00000.parquet"]
    back = qio.read_table(spark, out, "verdicts", "r")
    assert sorted(tuple(r)[:6] for r in back.collect()) == rows
    # plant a torn temp (simulated crash mid-write) — readers must not see it
    torn = os.path.join(path, ".part-00000.parquet.inprogress")
    with open(torn, "wb") as f:
        f.write(b"not parquet")
    assert qio.read_table(spark, out, "verdicts", "r").count() == 2
    # idempotent retry replaces the slice and clears the temp
    qio.write_batch_rows(spark, [(2, "format", "PASS", 5, 0, None)], out, "verdicts", "r", 0)
    assert os.listdir(path) == ["part-00000.parquet"]
    assert qio.read_table(spark, out, "verdicts", "r").count() == 1


def test_drop_orphan_batches(spark, tmp_path):
    df = spark.createDataFrame([(1,)], "k int")
    for b in (0, 1, 2):
        qio.write_batch(df, str(tmp_path), "t", "r", b)
    dropped = qio.drop_orphan_batches(spark, str(tmp_path), ["t"], "r", keep={0, 2})
    assert dropped == [("t", 1)]
    assert qio.list_batches(spark, str(tmp_path), "t", "r") == [0, 2]


def test_use_iceberg_false_without_namespace(spark):
    # this image has no Iceberg jar AND no namespace conf: both gates hold
    assert qio.iceberg_namespace(spark) is None
    assert qio.use_iceberg(spark) is False


class _Recorder:
    """Minimal writeTo(...) surface: records the chosen Iceberg verbs."""

    def __init__(self, log: list) -> None:
        self.log = log

    def partitionedBy(self, *cols):
        self.log.append(("partitionedBy", cols))
        return self

    def create(self):
        self.log.append(("create",))

    def overwritePartitions(self):
        self.log.append(("overwritePartitions",))


class _FakeCatalog:
    def __init__(self, existing: set[str]) -> None:
        self.existing = existing

    def tableExists(self, ident: str) -> bool:
        return ident in self.existing


class _FakeConf:
    def get(self, key, default=None):
        return "cat.ns" if key == "spark.tokenqc.iceberg.namespace" else default


class _FakeSpark:
    def __init__(self, existing: set[str]) -> None:
        self.catalog = _FakeCatalog(existing)
        self.conf = _FakeConf()


class _FakeDF:
    def __init__(self, spark, log: list) -> None:
        self.sparkSession = spark
        self.log = log

    def withColumn(self, name, col):
        self.log.append(("withColumn", name))
        return self

    def writeTo(self, ident):
        self.log.append(("writeTo", ident))
        return _Recorder(self.log)


def test_iceberg_write_routing(monkeypatch):
    """With an Iceberg catalog available, write_batch must route through
    writeTo: create-partitioned for a new table, overwritePartitions for
    an existing one (the idempotent retry verb)."""
    monkeypatch.setattr(qio, "use_iceberg", lambda spark: True)

    log: list = []
    fresh = _FakeDF(_FakeSpark(existing=set()), log)
    ident = qio.write_batch(fresh, "ignored", "violations", "r1", 3)
    assert ident == "cat.ns.violations"
    assert ("writeTo", "cat.ns.violations") in log
    assert ("partitionedBy", ("run_id", "batch")) in log
    assert ("create",) in log
    assert ("withColumn", "run_id") in log and ("withColumn", "batch") in log

    log2: list = []
    existing = _FakeDF(_FakeSpark(existing={"cat.ns.violations"}), log2)
    qio.write_batch(existing, "ignored", "violations", "r1", 4)
    assert ("overwritePartitions",) in log2
    assert not any(e[0] == "create" for e in log2)


def test_iceberg_read_absent_table(monkeypatch):
    monkeypatch.setattr(qio, "use_iceberg", lambda spark: True)
    assert qio.read_table(_FakeSpark(existing=set()), "x", "verdicts") is None


@pytest.mark.skipif(True, reason="no Iceberg runtime jar in this image; "
                    "set spark.tokenqc.iceberg.namespace + add the jar to run")
def test_iceberg_end_to_end(spark, tmp_path):  # pragma: no cover
    df = spark.createDataFrame([(1,)], "k int")
    qio.write_batch(df, str(tmp_path), "t", "r", 0)
    assert qio.read_table(spark, str(tmp_path), "t", "r").count() == 1


def test_html_report_artifact(spark, tmp_path, tables):
    from tokenqc import report
    from tokenqc.checks.base import CheckConfig
    from tokenqc.runner import QCRunner

    cfg = CheckConfig(n_partitions=8)
    runner = QCRunner(spark, cfg, out_dir=str(tmp_path / "q"))
    runner.run(
        tables["sequences"],
        allowed_sources=tables["allowed_sources"],
        baseline_hist=tables["baseline_hist"],
        run_id="rep1",
    )
    path = runner.write_report("rep1")
    with open(path) as f:
        html = f.read()
    assert "tokenqc QC report" in html and "rep1" in html
    assert "Per-partition scores" in html
    assert "Verdict rollup" in html
    assert "Run-level verdicts" in html
    assert "Top violation examples" in html
    assert 'class="FAIL"' in html  # planted violations show up graded
    assert "drift:" in html  # run-level drift verdicts present
    assert "Scale evidence" not in html
    bare = report.render_html("x", None, None, None)
    assert "Per-partition scores" not in bare and "</body></html>" in bare
    assert runner.write_report("never-ran") is None
    # snapshot-diff section (cli --prev-input --report path): the run
    # artifact carries the structural diff vs the previous version
    from pyspark.sql import functions as F

    from tokenqc.checks import snapshot

    seq = tables["sequences"]
    prev = seq.where(F.col("source").isNull() | (F.col("source") != "books"))
    tdiff = snapshot.table_diff(seq, prev)
    path2 = runner.write_report("rep1", snapshot_diff=tdiff)
    with open(path2) as f:
        html2 = f.read()
    assert "Snapshot diff vs previous table version" in html2
    assert "NEW_KEY" in html2 and "keys STABLE" in html2
    assert "Snapshot diff" not in html  # absent without --prev-input


def test_diff_runs_classifies_changes(spark, tmp_path):
    from tokenqc import report

    ddl = (
        "partition_id int, check_name string, status string, "
        "n_rows long, n_viol long, details string"
    )
    run_a = [
        (0, "completeness", "PASS", 100, 0, None),
        (1, "completeness", "FAIL", 100, 9, None),   # -> PASS   (IMPROVED)
        (2, "completeness", "PASS", 100, 2, None),   # n_viol up (REGRESSED)
        (3, "format", "PASS", 100, 0, None),         # unchanged (absent)
        (4, "format", "PASS", 100, 0, None),         # gone in b (GONE)
        (6, "drift", "FAIL", 100, 3, None),          # -> UNKNOWN: lost coverage (REGRESSED)
        (7, "drift", "UNKNOWN", 0, 0, None),         # -> FAIL: coverage regained (IMPROVED)
        (8, "drift", "UNKNOWN", 0, 0, None),         # UNKNOWN both sides (absent)
    ]
    run_b = [
        (0, "completeness", "FAIL", 100, 5, None),   # PASS->FAIL (REGRESSED)
        (1, "completeness", "PASS", 100, 0, None),
        (2, "completeness", "PASS", 100, 7, None),
        (3, "format", "PASS", 100, 0, None),
        (5, "format", "UNKNOWN", 0, 0, None),        # new in b (NEW)
        (6, "drift", "UNKNOWN", 0, 0, None),
        (7, "drift", "FAIL", 100, 3, None),
        (8, "drift", "UNKNOWN", 0, 0, None),
    ]
    out = str(tmp_path)
    qio.write_batch(spark.createDataFrame(run_a, ddl), out, "verdicts", "ra", 0)
    qio.write_batch(spark.createDataFrame(run_b, ddl), out, "verdicts", "rb", 0)
    got = {
        (r.partition_id, r.check_name): r.change
        for r in report.diff_runs(spark, out, "ra", "rb").collect()
    }
    assert got == {
        (0, "completeness"): "REGRESSED",
        (1, "completeness"): "IMPROVED",
        (2, "completeness"): "REGRESSED",
        (4, "format"): "GONE",
        (5, "format"): "NEW",
        (6, "drift"): "REGRESSED",
        (7, "drift"): "IMPROVED",
    }
    with pytest.raises(ValueError, match="no verdicts"):
        report.diff_runs(spark, out, "ra", "nope")


def test_diff_runs_uses_latest_batch_view(spark, tables, tmp_path, monkeypatch):
    """Resume-then-diff (VERDICT r3 #1): a resumed run keeps superseded
    batch-0 rows on disk next to the batch-1 re-validation; diff_runs
    must read the latest-committed-batch view so every cell appears once
    and a run whose final state equals the baseline diffs EMPTY."""
    from tokenqc import report
    from tokenqc.checks import uniqueness
    from tokenqc.checks.base import CheckConfig
    from tokenqc.runner import QCRunner

    out = str(tmp_path / "q")
    runner = QCRunner(spark, CheckConfig(n_partitions=8), out_dir=out)
    runner.run(tables["sequences"], allowed_sources=tables["allowed_sources"], run_id="base")

    def boom(*a, **k):
        raise RuntimeError("uniqueness exploded")

    # run 'res': batch 0 grades every partition UNKNOWN (family error) ...
    monkeypatch.setattr(uniqueness, "violations", boom)
    runner.run(tables["sequences"], allowed_sources=tables["allowed_sources"], run_id="res")
    monkeypatch.undo()
    # ... then the resume re-validates them all into batch 1
    runner.run(tables["sequences"], allowed_sources=tables["allowed_sources"], run_id="res")

    # raw verdicts really do hold both batches (the trap diff_runs must dodge)
    raw = qio.read_table(spark, out, "verdicts", "res")
    assert raw.select("batch").distinct().count() == 2

    rows = report.diff_runs(spark, out, "base", "res").collect()
    keys = [(r.partition_id, r.check_name) for r in rows]
    assert len(keys) == len(set(keys)), "duplicate diff cells from stale batches"
    assert rows == [], f"spurious changes from superseded rows: {rows[:5]}"
