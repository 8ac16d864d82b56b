"""Scoring semantics parity with the reference thresholds
(analyze_joss.py:42-49, 288-298, 322-335, 505-508)."""

from __future__ import annotations

from tokenqc.checks import scoring
from corpusops.textops import textqc


def test_graded_status_thresholds(spark):
    df = spark.createDataFrame(
        [(0.95,), (0.9,), (0.89,), (0.7,), (0.69,), (0.0,)], "r double"
    )
    out = [r[0] for r in df.select(scoring.graded_status(df.r)).collect()]
    assert out == ["good", "good", "ok", "ok", "needs_improvement", "needs_improvement"]


def test_best_status_per_group(spark):
    rows = [
        ("a", "needs_improvement"), ("a", "ok"), ("a", "good"),
        ("b", "ok"), ("b", "needs_improvement"),
        ("c", "needs_improvement"),
    ]
    df = spark.createDataFrame(rows, "grp string, status string")
    out = {r.grp: r.overall_status for r in scoring.best_status_per_group(df, ["grp"]).collect()}
    assert out == {"a": "good", "b": "ok", "c": "needs_improvement"}


def test_outcome_counts_semantics(spark):
    # the reference's include/exclude pairs: PASSED but not XPASS etc.
    rows = [
        (1, "collected 10 items ... PASSED PASSED PASSED XPASS FAILED FAILED XFAIL SKIPPED"),
        (2, "no totals here PASSED PASSED FAILED"),
        (3, "nothing at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in textqc.outcome_counts(df).collect()}
    r1 = out[1]
    assert (r1.passed, r1.failed, r1.skipped, r1.xfail, r1.xpass) == (2, 1, 1, 1, 1)
    assert r1.total == 10  # regex-extracted, not summed
    r2 = out[2]
    assert (r2.passed, r2.failed, r2.total) == (2, 1, 3)  # fallback = sum
    assert out[3].total == 0


def test_content_flags_any_all(spark):
    df = spark.createDataFrame(
        [(1, "this has a JOIN and a stream"), (2, "only a join"), (3, "zzz")],
        "doc_id long, text string",
    )
    flags = textqc.content_flags(df, {"j": ["join"], "s": ["stream", "batch"]})
    out = {r.doc_id: (r.has_j, r.has_s, r.has_all) for r in flags.collect()}
    assert out == {1: (True, True, True), 2: (True, False, False), 3: (False, False, False)}
