"""The reference digest store: the invariant's reference side (one row
per reference doc_id, the least and greatest hash of its copies) is
built once per reference snapshot under spark.sql.warehouse.dir and read
back by every run whose reference key still matches. Stored and inline
digests must give the same rows."""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tokenqc import io as qio
from tokenqc.checks import invariant
from tokenqc.checks.base import CheckConfig
from tokenqc.runner import QCRunner

REF_SCHEMA = "doc_id string, tokens_ref array<int>"
SEQ = [
    ("a", [1, 2, 3], 3, "web"), ("b", [4, 5], 2, "web"), ("c", [6], 1, "web"),
    ("d", None, 0, "web"), ("e", [], 0, "web"), ("f", [7], 1, "web"),
    (None, [8], 1, "web"), ("g", [9], 1, "web"), ("h", [10], 1, "web"),
]
# two reference files: identical copies of a, conflicting copies of b,
# NULL and empty arrays, a NULL doc_id, a mismatch (f) and a doc_id the
# input lacks (z); g and h are not in the reference at all
REF_FILES = (
    [("a", [1, 2, 3]), ("a", [1, 2, 3]), ("b", [4, 5]), ("d", None), ("z", [0])],
    [("b", [4, 6]), ("c", [6]), ("e", []), (None, [8]), ("f", [70])],
)


def _write_ref_file(path: str, rows) -> None:
    pq.write_table(
        pa.table({
            "doc_id": pa.array([d for d, _ in rows], pa.string()),
            "tokens_ref": pa.array([t for _, t in rows], pa.list_(pa.int32())),
        }),
        path,
    )


def _ref_dir(tmp_path, files=REF_FILES) -> str:
    d = tmp_path / "reference.parquet"
    d.mkdir()
    for i, rows in enumerate(files):
        _write_ref_file(str(d / f"part-{i}.parquet"), rows)
    return str(d)


def _run(spark, out: str, reference, run_id: str = "r"):
    """An invariant-only run. Returns (result, descriptions of its jobs)."""
    seq = spark.createDataFrame(SEQ, "doc_id string, tokens array<int>, n_tok int, source string")
    cfg = CheckConfig(n_partitions=2, checks=("invariant",))
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    res = QCRunner(spark, cfg, out_dir=out).run(seq, reference_tokens=reference, run_id=run_id)
    return res, _descriptions(spark, set(tracker.getJobIdsForGroup(None)) - before)


def _descriptions(spark, jobs: set[int]) -> list[str]:
    """The descriptions of `jobs`, from the driver's status store."""
    store = spark.sparkContext._jsc.sc().statusStore()  # noqa: SLF001
    deadline = time.monotonic() + 10
    while True:
        listed = store.jobsList(None)
        found = {}
        for i in range(listed.size()):
            j = listed.apply(i)
            if j.jobId() in jobs:
                d = j.description()
                found[j.jobId()] = d.get() if d.isDefined() else None
        if len(found) == len(jobs) or time.monotonic() > deadline:
            return sorted(str(d) for d in found.values())
        time.sleep(0.05)


def _rows(res):
    viol = sorted(
        (tuple(r) for r in res.violations.select(
            "partition_id", "doc_id", "check_name", "observed", "expected"
        ).collect()),
        key=str,
    )
    verd = sorted(
        (tuple(r) for r in res.verdicts.select(
            "partition_id", "check_name", "status", "n_rows", "n_viol"
        ).collect()),
        key=str,
    )
    return viol, verd


def _inline_rows(spark, tmp_path, files, name: str):
    """The rows of a run over an in-memory copy of `files`: the inline path."""
    ref = spark.createDataFrame([r for rows in files for r in rows], REF_SCHEMA)
    res, jobs = _run(spark, str(tmp_path / name), ref)
    assert res.errors == {} and not any("reference_digest" in d for d in jobs)
    return _rows(res)


def _store(spark, ref) -> str:
    """The local directory of `ref`'s digest store."""
    store, _ = qio.digest_snapshot(ref)
    return qio._local_file_path(spark, store)  # noqa: SLF001


def _committed(store: str) -> list[str]:
    """The digests in `store` that carry their key's marker."""
    return sorted(
        d for d in os.listdir(store) if os.path.exists(os.path.join(store, d, "_TOKENQC_KEY"))
    )


def test_stored_digest_equals_inline_cold_and_warm(spark, tmp_path):
    """A cold run builds the digest in jobs described `reference_digest`,
    a warm run starts none; both give the inline path's violation and
    verdict rows on repeated and conflicting reference doc_ids, NULL and
    empty arrays and a NULL-doc_id reference row."""
    path = _ref_dir(tmp_path)
    want = _inline_rows(spark, tmp_path, REF_FILES, "inline")
    assert sorted(d for _, d, *_ in want[0]) == ["b", "f"]

    cold, cold_jobs = _run(spark, str(tmp_path / "cold"), spark.read.parquet(path), "cold")
    assert cold.errors == {}
    assert "tokenqc cold batch=- reference_digest" in cold_jobs
    assert _rows(cold) == want
    assert os.listdir(_store(spark, spark.read.parquet(path)))

    warm, warm_jobs = _run(spark, str(tmp_path / "warm"), spark.read.parquet(path), "warm")
    assert warm.errors == {}
    assert not any("reference_digest" in d for d in warm_jobs), warm_jobs
    assert len(warm_jobs) < len(cold_jobs)
    assert _rows(warm) == want
    assert "reference_digest" in cold.timings and "reference_digest" in warm.timings


def test_warm_run_never_scans_tokens_ref(spark, tmp_path, monkeypatch):
    """On a warm run the final AQE plan of the violation frame reads the
    stored digest: no FileScan in it reads `tokens_ref`."""
    path = _ref_dir(tmp_path)
    _run(spark, str(tmp_path / "cold"), spark.read.parquet(path))
    plans = []
    real = qio.write_batch

    def capturing(df, *a, **k):
        out = real(df, *a, **k)
        plans.append(df._jdf.queryExecution().executedPlan().toString())  # noqa: SLF001
        return out

    monkeypatch.setattr(qio, "write_batch", capturing)
    res, _ = _run(spark, str(tmp_path / "warm"), spark.read.parquet(path))
    assert res.errors == {}
    final = plans[-1].split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    scans = [ln for ln in final.splitlines() if "FileScan" in ln]
    assert any("_rmin" in ln for ln in scans), final
    assert not any("tokens_ref" in ln for ln in scans), scans


def test_rewritten_reference_file_invalidates_digest(spark, tmp_path):
    """Rewriting one reference file in place changes the key: the next
    run rebuilds, its invariant rows equal the inline path's on the new
    content, and the location keeps one digest."""
    path = _ref_dir(tmp_path)
    res, _ = _run(spark, str(tmp_path / "first"), spark.read.parquet(path))
    assert sorted(r.doc_id for r in res.violations.collect()) == ["b", "f"]

    # f now matches, c no longer does
    new = (REF_FILES[0], [("b", [4, 6]), ("c", [60]), ("e", []), (None, [8]), ("f", [7])])
    part = os.path.join(path, "part-1.parquet")
    mtime = os.stat(part).st_mtime
    _write_ref_file(part, new[1])
    os.utime(part, (mtime + 5, mtime + 5))

    res, jobs = _run(spark, str(tmp_path / "second"), spark.read.parquet(path), "second")
    assert res.errors == {}
    assert "tokenqc second batch=- reference_digest" in jobs
    assert _rows(res) == _inline_rows(spark, tmp_path, new, "inline")
    assert sorted(r.doc_id for r in res.violations.collect()) == ["b", "c"]
    # the new digest, and the one it replaced (a run may still scan it)
    store = _store(spark, spark.read.parquet(path))
    assert len(_committed(store)) == 2 and sorted(os.listdir(store)) == _committed(store)


@pytest.mark.parametrize("renamed", [False, True], ids=["before_rename", "before_marker"])
def test_crashed_build_is_never_used(spark, tmp_path, monkeypatch, renamed):
    """A build whose commit raises, after its temp directory is written
    (and, `renamed`, moved into place without its marker), leaves no
    digest a run uses: the failing run digests inline and records a
    warning, not an error, the next run rebuilds, and both give the
    inline rows."""
    path = _ref_dir(tmp_path)
    want = _inline_rows(spark, tmp_path, REF_FILES, "inline")

    def crashing(spark_, store, key, tmp):
        if renamed:
            fs, jtmp = qio._hadoop_fs(spark_, tmp)  # noqa: SLF001
            _, jfinal = qio._hadoop_fs(spark_, qio._key_dir(store, key))  # noqa: SLF001
            assert fs.rename(jtmp, jfinal)
        raise OSError("crash mid-commit")

    with monkeypatch.context() as m:
        m.setattr(qio, "_commit_digest", crashing)
        res, _ = _run(spark, str(tmp_path / "crash"), spark.read.parquet(path))
    assert res.errors == {}
    assert "crash mid-commit" in res.warnings["reference_digest"]
    assert _rows(res) == want
    store = _store(spark, spark.read.parquet(path))
    assert os.listdir(store) and not _committed(store)  # the half build, unmarked

    res, jobs = _run(spark, str(tmp_path / "next"), spark.read.parquet(path), "next")
    assert res.errors == {} and res.warnings == {}
    assert "tokenqc next batch=- reference_digest" in jobs
    assert _rows(res) == want
    assert len(_committed(store)) == 1


def test_replaced_digest_outlives_the_run_scanning_it(spark, tmp_path, monkeypatch):
    """A run that found its digest current still scans it after another
    run commits a newer digest of the same location: a commit keeps the
    digest it replaces, so the run's rows equal the inline path's. The
    commit after that deletes the oldest digest; a build directory without
    a marker goes only once it is a day old."""
    path = _ref_dir(tmp_path)
    want = _inline_rows(spark, tmp_path, REF_FILES, "inline")
    _run(spark, str(tmp_path / "cold"), spark.read.parquet(path), "cold")
    store = _store(spark, spark.read.parquet(path))
    first = _committed(store)
    real = invariant.stored_digest

    def replaced_meanwhile(reference):
        found = real(reference)  # warm: the digest under the current key
        # another run sees one more reference file and commits its digest
        _write_ref_file(os.path.join(path, "part-2.parquet"), [("y", [1])])
        assert real(spark.read.parquet(path)) is not None
        return found

    with monkeypatch.context() as m:
        m.setattr(invariant, "stored_digest", replaced_meanwhile)
        res, _ = _run(spark, str(tmp_path / "warm"), spark.read.parquet(path), "warm")
    assert res.errors == {} and res.warnings == {}
    assert _rows(res) == want
    second = _committed(store)
    assert len(second) == 2 and set(first) < set(second)

    # a stale build directory and one still being written, then one more
    # commit: the oldest digest and the stale directory go
    day = time.time() - 25 * 3600
    os.makedirs(os.path.join(store, "_tmp-stale"))
    os.utime(os.path.join(store, "_tmp-stale"), (day, day))
    os.makedirs(os.path.join(store, "_tmp-running"))
    part = os.path.join(path, "part-2.parquet")
    _write_ref_file(part, [("y", [2])])
    os.utime(part, (os.stat(part).st_mtime + 5,) * 2)
    assert invariant.stored_digest(spark.read.parquet(path)) is not None
    third = _committed(store)
    assert len(third) == 2 and set(second) - set(first) < set(third)
    assert sorted(os.listdir(store)) == sorted(third + ["_tmp-running"])


def test_derived_and_in_memory_references_are_digested_inline(spark, tmp_path):
    """Only a bare file scan (a column projection at most) is keyed: a
    filtered or derived frame over the same files and an in-memory frame
    never reuse the stored digest, and their rows follow their own
    content."""
    path = _ref_dir(tmp_path)
    ref = spark.read.parquet(path)
    _run(spark, str(tmp_path / "cold"), ref)
    store = _store(spark, ref)
    committed = sorted(os.listdir(store))
    assert qio.digest_snapshot(ref.select("tokens_ref", "doc_id")) == qio.digest_snapshot(ref)

    filtered = ref.where(F.col("doc_id") != "f")
    derived = ref.withColumn("tokens_ref", F.reverse("tokens_ref"))
    in_memory = spark.createDataFrame(
        [("b", [4, 5]), ("c", [60]), ("f", [7])], REF_SCHEMA
    )
    frames = {"filtered": filtered, "derived": derived, "in_memory": in_memory}
    got = {}
    for name, frame in frames.items():
        assert qio.digest_snapshot(frame) is None
        assert invariant.stored_digest(frame) is None
        res, jobs = _run(spark, str(tmp_path / name), frame, name)
        assert res.errors == {} and not any("reference_digest" in d for d in jobs)
        got[name] = sorted(r.doc_id for r in res.violations.collect())
    assert got == {"filtered": ["b"], "derived": ["a", "b", "f"], "in_memory": ["c"]}
    assert sorted(os.listdir(store)) == committed
