"""spark-submit entry point.

Cluster usage (the north rule's packaging contract):

    python scripts/make_pyfiles.py                       # -> dist/tokenqc.zip
    spark-submit --py-files dist/tokenqc.zip \\
        --master spark://... --deploy-mode cluster \\
        cli.py --input /data/sequences --out /data/qc_out \\
        --allowed-sources /data/allowed.parquet \\
        --baseline-hist /data/baseline.parquet \\
        --reference-tokens /data/ref.parquet \\
        --run-id nightly-2026-08-16 --partitions 4096

Config errors are rejected up front with specific messages (the
reference's param guards, /root/reference/main.nf:49-59); data problems
never throw — they become violation rows and FAIL verdicts.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# direct-path invocation (`spark-submit .../tokenqc/cli.py` without
# --py-files, or `python tokenqc/cli.py` from another cwd) must still
# find the package next to this file
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(prog="tokenqc")
    ap.add_argument("--input", required=True, help="sequences table path (parquet dir or Iceberg name)")
    ap.add_argument("--out", required=True, help="output base dir (verdicts/violations/qc_state)")
    ap.add_argument("--allowed-sources", default=None)
    ap.add_argument("--baseline-hist", default=None)
    ap.add_argument("--reference-tokens", default=None)
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--partitions", type=int, default=64)
    ap.add_argument(
        "--batches", type=int, default=1,
        help="commit units per run: the input is scanned once, and each batch commits "
        "its partitions' violations, verdicts and qc_state (the resume unit)",
    )
    ap.add_argument("--checks", default=None, help="comma-separated subset of checks")
    ap.add_argument("--threshold", type=float, default=0.0)
    ap.add_argument("--master", default=None)
    ap.add_argument(
        "--report", action="store_true",
        help="also render the human-readable HTML report artifact",
    )
    ap.add_argument(
        "--enumerate-dups", action="store_true",
        help="also write the row-level duplicate listing (out/dup_rows). "
        "Dispatches window vs skew-safe formulation from a sampled "
        "hot-key probe (uniqueness.enumerate_rows_auto)",
    )
    ap.add_argument(
        "--vocab-size", type=int, default=None,
        help="enable the tokens.oob_token lint: every id must be in [0, V)",
    )
    ap.add_argument(
        "--bos-id", type=int, default=None,
        help="enable tokens.bos_interior: this id may appear only at position 0",
    )
    ap.add_argument(
        "--eos-id", type=int, default=None,
        help="enable tokens.eos_interior: this id may appear only last",
    )
    ap.add_argument(
        "--max-token-run", type=int, default=None,
        help="enable tokens.long_run: flag rows with >= K identical consecutive ids",
    )
    ap.add_argument(
        "--min-entropy", type=float, default=None,
        help="enable degenerate.low_entropy: flag docs whose token "
        "unigram entropy (nats) is below this",
    )
    ap.add_argument(
        "--max-dup-kgram-frac", type=float, default=None,
        help="enable degenerate.repetitive: flag docs whose duplicated "
        "k-gram fraction exceeds this",
    )
    ap.add_argument(
        "--kgram-k", type=int, default=8,
        help="window length for --max-dup-kgram-frac (default 8)",
    )
    ap.add_argument(
        "--token-baseline", default=None, metavar="PATH",
        help="enable the token-unigram drift gate: parquet of expected "
        "(source, bucket, p) token-id residue probabilities; per-source "
        "JS verdicts land as token_drift:<source> rows",
    )
    ap.add_argument(
        "--token-drift-buckets", type=int, default=256,
        help="residue bucket count for --token-baseline (must match how "
        "the baseline was built)",
    )
    ap.add_argument(
        "--token-js-max", type=float, default=0.1,
        help="FAIL threshold on the token-unigram JS divergence",
    )
    ap.add_argument(
        "--prev-input", default=None, metavar="PATH",
        help="previous snapshot of the SAME table: run the structural "
        "snapshot diff (per-source row inventory, row-identity churn, "
        "schema diff) alongside the QC gates; writes out/snapshot_diff "
        "+ out/snapshot_row_diff and adds a summary block",
    )
    ap.add_argument(
        "--diff-against", default=None, metavar="RUN_ID",
        help="after the run, diff this run's verdicts against a previous "
        "run's (REGRESSED/IMPROVED/NEW/GONE) and include the counts + "
        "regressed cells in the summary JSON",
    )
    args = ap.parse_args(argv)
    if args.partitions <= 0:
        ap.error("--partitions must be positive")
    if not 0.0 <= args.threshold <= 1.0:
        ap.error("--threshold must be in [0, 1]")
    return args


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    from tokenqc.checks.base import CheckConfig
    from tokenqc.runner import QCRunner
    from tokenqc.session import get_spark

    kw = {}
    if args.checks:
        kw["checks"] = tuple(args.checks.split(","))
    token_kw = {
        "vocab_size": args.vocab_size,
        "bos_id": args.bos_id,
        "eos_id": args.eos_id,
        "max_token_run": args.max_token_run,
    }
    if any(v is not None for v in token_kw.values()):
        kw.update(token_kw)
        # the lint flags imply the check unless --checks explicitly set
        if "checks" not in kw:
            kw["checks"] = CheckConfig().checks + ("tokens",)
    if args.min_entropy is not None or args.max_dup_kgram_frac is not None:
        kw["min_entropy"] = args.min_entropy
        kw["max_dup_kgram_frac"] = args.max_dup_kgram_frac
        kw["degen_kgram_k"] = args.kgram_k
        # the degeneracy flags imply the check unless --checks was given
        if "checks" not in kw:
            kw["checks"] = CheckConfig().checks
        if "degenerate" not in kw["checks"]:
            kw["checks"] = tuple(kw["checks"]) + ("degenerate",)
    if args.token_baseline is not None:
        kw["token_drift_buckets"] = args.token_drift_buckets
        kw["token_js_max"] = args.token_js_max
        if "checks" not in kw:
            kw["checks"] = CheckConfig().checks
        if "token_drift" not in kw["checks"]:
            kw["checks"] = tuple(kw["checks"]) + ("token_drift",)
    cfg = CheckConfig(
        n_partitions=args.partitions, default_threshold=args.threshold, **kw
    )
    spark = get_spark("tokenqc", master=args.master)

    from pyspark.errors import AnalysisException

    # a missing/unreadable table path is a user error, not a stack trace
    tables = {}
    for flag in ("input", "prev_input", "allowed_sources", "baseline_hist",
                 "reference_tokens", "token_baseline"):
        path = getattr(args, flag)
        try:
            tables[flag] = spark.read.parquet(path) if path else None
        except AnalysisException as e:
            cond = e.getCondition() if hasattr(e, "getCondition") else e.getErrorClass()
            name = flag.replace("_", "-")
            print(f"tokenqc: error: cannot read --{name} {path}: {cond or e}", file=sys.stderr)
            return 2
    seq, prev = tables["input"], tables["prev_input"]
    runner = QCRunner(spark, cfg, out_dir=args.out, n_batches=args.batches)
    try:
        res = runner.run(
            seq,
            allowed_sources=tables["allowed_sources"],
            baseline_hist=tables["baseline_hist"],
            reference_tokens=tables["reference_tokens"],
            run_id=args.run_id,
            token_baseline_hist=tables["token_baseline"],
        )
    except ValueError as e:
        # an input column of the wrong type is a user error too
        print(f"tokenqc: error: {e}", file=sys.stderr)
        return 2
    dup_rows = None
    if args.enumerate_dups:
        from tokenqc import io as qio
        from tokenqc.checks import uniqueness

        # engine flow: dispatch on the run's own uniqueness violations
        # (per-dup-key counts) — zero extra scan of the input
        dups = uniqueness.enumerate_rows_auto(
            seq, cfg, violations_df=res.violations, n_rows=seq.count()
        )
        qio.write_batch(dups, args.out, "dup_rows", res.run_id, 0)
        dup_rows = dups.count()
    snap_summary = None
    tdiff = None
    if prev is not None:
        from pyspark.sql import functions as F

        from tokenqc import io as qio
        from tokenqc.checks import snapshot as snap

        tdiff = snap.table_diff(seq, prev)
        # row identity = hash of the business key + payload, so an
        # in-place token rewrite counts as remove+add, not "kept"
        dg = F.xxhash64("doc_id", "tokens")
        rdiff = snap.row_diff(
            seq.withColumn("_dg", dg), prev.withColumn("_dg", dg), digest_col="_dg"
        )
        sdiff = snap.schema_diff(seq, prev)
        qio.write_batch(tdiff, args.out, "snapshot_diff", res.run_id, 0)
        qio.write_batch(rdiff, args.out, "snapshot_row_diff", res.run_id, 0)
        by_verdict = {
            r["verdict"]: r["n"]
            for r in tdiff.groupBy("verdict").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        snap_summary = {
            "by_verdict": by_verdict,
            "schema_changes": sdiff.count(),
            "max_churn_ppm": rdiff.agg(F.max("churn_ppm")).first()[0],
        }
    report_path = (
        runner.write_report(res.run_id, snapshot_diff=tdiff) if args.report else None
    )
    summary = {
        "run_id": res.run_id,
        **({"report": report_path} if report_path else {}),
        "skipped_partitions": len(res.skipped_partitions),
        "verdicts": res.verdicts.count(),
        "violations": res.violations.count(),
        **({"dup_rows": dup_rows} if dup_rows is not None else {}),
        **({"snapshot": snap_summary} if snap_summary is not None else {}),
        "failed_partitions": res.state.where("status = 'FAIL'").count(),
        "errors": res.errors,
        **({"warnings": res.warnings} if res.warnings else {}),
    }
    if args.diff_against:
        from pyspark.sql import functions as F

        from tokenqc import report as qreport

        try:
            diff = qreport.diff_runs(spark, args.out, args.diff_against, res.run_id)
            by_change = {
                r["change"]: r["n"]
                for r in diff.groupBy("change").agg(F.count(F.lit(1)).alias("n")).collect()
            }
            regressed = [
                f"{r.partition_id}/{r.check_name}"
                for r in diff.where(F.col("change") == "REGRESSED")
                .orderBy("partition_id", "check_name")
                .limit(20)
                .collect()
            ]
            summary["diff"] = {"against": args.diff_against, "counts": by_change,
                               "regressed": regressed}
        except ValueError as e:
            summary["diff"] = {"against": args.diff_against, "error": str(e)}
    print(json.dumps(summary))
    return 0 if not res.errors else 1


if __name__ == "__main__":
    sys.exit(main())
