"""Human-readable run report: one HTML artifact per run.

Engine analogue of the reference's published analysis page
(/root/reference/test-results/POT_ai_analysis.html — title, summary
sections, scored findings): per-partition scores, per-check verdict
rollups, drift verdicts, and the top violation examples, rendered from
the run's result tables. Everything collected here is driver-bounded:
n_partitions score rows, checks × partitions verdict rows, and top-k
violation examples per check — never raw violations.
"""

from __future__ import annotations

import html as _html

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_STYLE = """
body { font-family: Arial, sans-serif; line-height: 1.5; margin: 24px; }
h1 { font-size: 26px; color: #333; }
h2 { font-size: 20px; color: #333; border-bottom: 1px solid #ddd; }
table { border-collapse: collapse; margin-bottom: 18px; }
th, td { border: 1px solid #ccc; padding: 4px 10px; font-size: 13px; }
th { background: #f2f2f2; text-align: left; }
.PASS { color: #1a7f37; font-weight: bold; }
.FAIL { color: #b91c1c; font-weight: bold; }
.UNKNOWN { color: #92610a; font-weight: bold; }
.score { font-weight: bold; }
"""


def _table(rows: list[dict], columns: list[str]) -> str:
    head = "".join(f"<th>{_html.escape(c)}</th>" for c in columns)
    body = []
    for r in rows:
        cells = []
        for c in columns:
            v = r.get(c)
            txt = "" if v is None else str(v)
            cls = f' class="{txt}"' if c == "status" and txt in ("PASS", "FAIL", "UNKNOWN") else ""
            cells.append(f"<td{cls}>{_html.escape(txt)}</td>")
        body.append("<tr>" + "".join(cells) + "</tr>")
    return f"<table><tr>{head}</tr>" + "".join(body) + "</table>"


def top_violation_examples(violations: DataFrame, k: int = 3) -> DataFrame:
    """Top-k example violation rows per check (window top-k, bounded)."""
    w = Window.partitionBy("check_name").orderBy(F.desc("doc_id"))
    return (
        violations.select("check_name", "doc_id", "observed", "expected")
        .where(F.col("doc_id").isNotNull())
        .distinct()
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .drop("rk")
    )


def render_html(
    run_id: str,
    report: DataFrame | None,
    verdicts: DataFrame | None,
    violations: DataFrame | None,
    snapshot_diff: DataFrame | None = None,
) -> str:
    """Assemble the report page from the run's result frames, plus a
    snapshot-diff section when `snapshot_diff` (a snapshot.table_diff
    output) is given."""
    parts = [
        "<html><head><title>tokenqc run report</title>",
        f"<style>{_STYLE}</style></head><body>",
        f"<h1>tokenqc QC report — run <code>{_html.escape(run_id)}</code></h1>",
    ]
    if report is not None:
        rows = [r.asDict() for r in report.orderBy("partition_id").collect()]
        # count from the RAW float: a partition at 0.9996 renders as
        # "1.000" but is NOT at full score (ADVICE r2)
        fails = sum(1 for r in rows if r["overall_score"] < 1.0)
        for r in rows:
            r["overall_score"] = f"{r['overall_score']:.3f}"
        parts.append("<h2>Per-partition scores</h2>")
        parts.append(_table(rows, ["partition_id", "n_checks", "total_score", "overall_score"]))
        parts.append(
            f'<p><span class="score">{len(rows) - fails}/{len(rows)}</span> '
            "partitions at full score.</p>"
        )
    if verdicts is not None:
        rollup = (
            verdicts.groupBy("check_name", "status")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("n_viol").alias("n_viol"))
            .orderBy("check_name", "status")
        )
        parts.append("<h2>Verdict rollup (check × status)</h2>")
        parts.append(
            _table([r.asDict() for r in rollup.collect()], ["check_name", "status", "n", "n_viol"])
        )
        drift_rows = [
            r.asDict()
            for r in verdicts.where("partition_id < 0").orderBy("check_name").collect()
        ]
        if drift_rows:
            parts.append("<h2>Run-level verdicts (drift, missing inputs)</h2>")
            parts.append(_table(drift_rows, ["check_name", "status", "n_rows", "details"]))
    if violations is not None:
        ex = [r.asDict() for r in top_violation_examples(violations).orderBy("check_name", F.desc("doc_id")).collect()]
        parts.append("<h2>Top violation examples per check</h2>")
        parts.append(_table(ex, ["check_name", "doc_id", "observed", "expected"]))
    if snapshot_diff is not None:
        rows = [r.asDict() for r in snapshot_diff.orderBy("key").collect()]
        bad = sum(1 for r in rows if r["verdict"] not in ("STABLE",))
        parts.append("<h2>Snapshot diff vs previous table version</h2>")
        parts.append(
            _table(rows, ["key", "n_cur", "n_base", "delta", "delta_ppm", "verdict"])
        )
        parts.append(
            f'<p><span class="score">{len(rows) - bad}/{len(rows)}</span> '
            "keys STABLE.</p>"
        )
    parts.append("</body></html>")
    return "\n".join(parts)


def write_text(spark: SparkSession, path: str, text: str) -> str:
    """Write a small text artifact through the Hadoop FileSystem API, so
    report publication works for file://, hdfs:// and s3a:// out dirs."""
    from tokenqc.io import _hadoop_fs

    fs, jpath = _hadoop_fs(spark, path)
    fs.mkdirs(jpath.getParent())
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    return path


def diff_runs(
    spark: SparkSession, out_dir: str, run_a: str, run_b: str
) -> DataFrame:
    """QC regression detection between two runs of the same input
    family: full-outer-join the two runs' (partition_id, check_name)
    verdicts and emit one row per cell whose status or violation count
    changed, with a `change` classification ordered by status severity
    PASS < FAIL < UNKNOWN (UNKNOWN is *worst*: the check lost coverage
    there, which is more alarming than a measured FAIL):

    - REGRESSED  — severity rose (PASS→FAIL, PASS→UNKNOWN, FAIL→UNKNOWN),
                   or same status and n_viol grew
    - IMPROVED   — severity fell (UNKNOWN→FAIL counts: coverage regained;
                   FAIL→PASS, UNKNOWN→PASS), or same status and n_viol shrank
    - NEW/GONE   — the check/partition exists in only one run

    n_viol deltas are only compared when NEITHER side is UNKNOWN —
    UNKNOWN rows carry n_viol=0 by construction, not a measurement
    (ADVICE r3: FAIL→UNKNOWN previously fell through to the n_viol
    branch and mis-read lost coverage as IMPROVED).

    Each run's verdicts are read through io.read_current — the
    latest-committed-batch view — so a resumed run (a partition graded
    UNKNOWN in batch 0, re-validated in batch 1; both slices on disk)
    contributes exactly one row per (partition_id, check_name) and no
    spurious duplicate-key pairings (VERDICT r3 #1).

    Both verdict frames are bounded (n_partitions × checks rows), so the
    join is trivially broadcastable at any data scale — this is a
    metadata diff, never a data diff. The engine analogue of comparing
    two of the reference's QC report pages run-over-run
    (/root/reference/README.md:143-147).
    """
    from tokenqc import io as qio
    from tokenqc.schema import FAIL, PASS, UNKNOWN

    a = qio.read_current(spark, out_dir, "verdicts", run_a)
    b = qio.read_current(spark, out_dir, "verdicts", run_b)
    if a is None or b is None:
        missing = run_a if a is None else run_b
        raise ValueError(f"run '{missing}' has no verdicts under {out_dir}")
    key = ["partition_id", "check_name"]
    a = a.select(*key, F.col("status").alias("status_a"), F.col("n_viol").alias("n_viol_a"))
    b = b.select(*key, F.col("status").alias("status_b"), F.col("n_viol").alias("n_viol_b"))
    j = a.join(b, key, "full_outer")

    def sev(col: str):
        return (
            F.when(F.col(col) == PASS, F.lit(0))
            .when(F.col(col) == FAIL, F.lit(1))
            .when(F.col(col) == UNKNOWN, F.lit(2))
        )

    either_unknown = (F.col("status_a") == UNKNOWN) | (F.col("status_b") == UNKNOWN)
    change = (
        F.when(F.col("status_a").isNull(), F.lit("NEW"))
        .when(F.col("status_b").isNull(), F.lit("GONE"))
        .when(sev("status_b") > sev("status_a"), F.lit("REGRESSED"))
        .when(sev("status_b") < sev("status_a"), F.lit("IMPROVED"))
        .when(either_unknown, F.lit(None))  # equal-UNKNOWN: n_viol meaningless
        .when(F.col("n_viol_b") > F.col("n_viol_a"), F.lit("REGRESSED"))
        .when(F.col("n_viol_b") < F.col("n_viol_a"), F.lit("IMPROVED"))
    )
    return (
        j.withColumn("change", change)
        .where(F.col("change").isNotNull())
        .select(*key, "status_a", "status_b", "n_viol_a", "n_viol_b", "change")
    )
