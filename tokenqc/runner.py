"""The resumable validation runner.

Orchestration semantics carried over from the reference (SURVEY.md §2.8):

- **fan-out**: all checks compose over one scan; Spark tasks are the
  parallel unit (the reference fans one OS process per item,
  /root/reference/main.nf:91-137).
- **errorStrategy 'ignore'** (/root/reference/modules/ProcessRepo.nf:19):
  a failing check family must not kill the run. Two distinct paths:
  * *missing input* (no allowed_sources / reference_tokens /
    baseline_hist): the check is skipped and ONE run-level UNKNOWN
    verdict row (partition_id = -1) records why — partitions still
    complete, since re-running without the input reproduces the UNKNOWN
    (mirrors the reference's missing-input default,
    bin/analyze_joss.py:96-105).
  * *check-family error* (exception while building the family's plan):
    per-partition UNKNOWN verdict rows for the family's check names,
    and those partitions' qc_state rows are UNKNOWN — they are NOT
    marked complete, so resume re-validates them.
- **resume** (/root/reference/nextflow.config:14 workDir caching): a
  `qc_state` table records per-partition lineage; a re-run with the same
  run_id skips completed (PASS/FAIL) partitions. Batch numbering
  continues from the highest *committed* batch (max(batch)+1 from
  qc_state), so resumed batches never clobber completed output; slices
  from a crashed batch (violations/verdicts written, qc_state commit
  missing) are dropped up front.

Execution shape (scale-first): the input is scanned once per run, and a
batch is a commit unit, not a compute unit.

1. ONE violation frame per run, over the pending partitions: one narrow
   pass over the fact table computes every row-level facet
   (completeness, structural, format, referential-via-broadcast) with
   the invariant hash join fused in in every configuration, an
   invariant-only run included, so an invariant row reads the same
   whatever else runs. The join's other side is the reference digest
   (one row per doc_id: the least and greatest hash of its copies).
   For a reference that is a bare file scan it comes from the digest
   store under spark.sql.warehouse.dir, keyed by the reference's file
   listing: a warm run reads it and never scans tokens_ref, a cold run
   (no digest under the current key) builds and commits it first, in
   jobs described `reference_digest`, while the side thread (point 4)
   already runs. A store that cannot be used costs only time: the run
   digests inline and records it in `RunResult.warnings`, not `errors`.
   Any other reference is digested inline. The frame is unioned with
   the uniqueness and degeneracy rows and clustered by partition_id
   into one persisted frame. It holds
   violation rows only, never input rows, and spills like any cached
   frame;
2. uniqueness is planned as one linear, persisted aggregate:
   groupBy(doc_id) counts, regrouped by (partition_id, dup_key). Its
   dup-key rows are the uniqueness violations, and its per-partition
   sums are the row totals, so the input is scanned once for both;
3. each batch writes its slice of the persisted frame, then its verdict
   rows, then its qc_state rows. The first batch's write materializes
   the whole run's violation rows; later batches only filter the cache.
   The verdict grid is graded on the driver from one bounded collect
   per run: per-(partition, check) violation counts, at most P × checks
   rows, and the per-partition row totals (without uniqueness in the
   check set, a doc_id-only totals scan overlaps the first write);
4. drift runs ONCE per run on the full input, on a side thread that
   overlaps a cold run's digest build and the first violations write: the 64-buckets-per-source
   histogram joined to the baseline is collected and graded on the
   driver, and its verdict rows are appended to the first batch's
   verdict slice in Python — per-batch drift would compute chi2/KS on
   partial histograms, and a run with the default checks starts no
   Python worker;
5. qc_state rows are written per batch (idempotent overwrite-by-batch),
   last: a crash before a batch's qc_state commit leaves orphan
   violation/verdict slices, which the next run drops before it starts.

Every Spark job a run starts carries the description
`tokenqc <run_id> batch=<b> <phase>` (batch `-` outside any batch).
"""

from __future__ import annotations

import json
import logging
import os
import threading
import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tokenqc import io as qio
from tokenqc.checks import base as cb
from tokenqc.checks import (
    completeness,
    drift,
    format as format_check,
    invariant,
    referential,
    scoring,
    uniqueness,
)
from tokenqc.schema import (
    ALLOWED_SOURCES, BASELINE_HIST, FAIL, PASS, REFERENCE_TOKENS, SEQUENCES, UNKNOWN,
)

TABLES = ("violations", "verdicts", "qc_state")

_log = logging.getLogger(__name__)

_VerdictRow = Row("partition_id", "check_name", "status", "n_rows", "n_viol", "details")


@dataclass
class RunResult:
    run_id: str
    verdicts: DataFrame
    violations: DataFrame
    state: DataFrame
    skipped_partitions: list[int] = field(default_factory=list)
    errors: dict[str, str] = field(default_factory=dict)
    timings: dict[str, float] = field(default_factory=dict)
    # failures that cost only time: the results are complete (a digest
    # store that cannot be written, say)
    warnings: dict[str, str] = field(default_factory=dict)


def _mark_timing(timings: dict[str, float], name: str, start: float) -> float:
    """Add the seconds since `start` to timings[name]; returns now."""
    now = time.monotonic()
    timings[name] = timings.get(name, 0.0) + round(now - start, 3)
    return now


def _source_verdicts(family: str, frame: DataFrame, stats: tuple[str, ...]) -> list[Row]:
    """Run-level verdict rows (partition_id = -1) of a per-source table,
    one per source, named `<family>:<source>` (a NULL source renders as
    `NULL`, as in violation rows: a NULL check_name would never match the
    read-back's run-level semi-join). `details` holds the `stats` columns
    as JSON and leaves NULL ones out, as Spark's to_json does."""
    return [
        _VerdictRow(
            -1,
            f"{family}:{'NULL' if r['source'] is None else r['source']}",
            r["status"],
            r["n_rows"],
            0,
            json.dumps({k: r[k] for k in stats if r[k] is not None}, separators=(",", ":")),
        )
        for r in frame.collect()
    ]


def _check_input_types(name: str, df: DataFrame, want: list[T.StructField]) -> None:
    """Raise ValueError unless `df` has every column of `want` with its
    type. Nullability and containsNull are ignored (simpleString omits
    them), and extra columns are allowed. The checks assume these types:
    xxhash64, for one, hashes the same ids as int and as bigint apart."""
    have = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    for f in want:
        expected, found = f.dataType.simpleString(), have.get(f.name)
        if found != expected:
            raise ValueError(
                f"{name}.{f.name}: found {found or 'no such column'}, expected {expected}"
            )


def _row_level_facets(cfg: cb.CheckConfig, with_referential: bool) -> list[cb.Facet]:
    from tokenqc.checks import structural

    fs: list[cb.Facet] = []
    if "completeness" in cfg.checks:
        fs += completeness.facets(cfg)
    if "structural" in cfg.checks:
        fs += structural.facets(cfg)
    if "format" in cfg.checks:
        fs += format_check.facets(cfg)
    if "referential" in cfg.checks and with_referential:
        fs += referential.facets(cfg)
    if "tokens" in cfg.checks:
        from tokenqc.checks import tokens as token_lints

        fs += token_lints.facets(cfg)
    return fs


class QCRunner:
    def __init__(
        self,
        spark: SparkSession,
        cfg: cb.CheckConfig | None = None,
        out_dir: str = "qc_out",
        n_batches: int = 1,
    ) -> None:
        if n_batches < 1:
            raise ValueError("n_batches must be >= 1")
        self.spark = spark
        self.cfg = cfg or cb.CheckConfig()
        self.out_dir = out_dir
        self.n_batches = n_batches

    # ------------------------------------------------------------------
    def run(
        self,
        sequences: DataFrame,
        allowed_sources: DataFrame | None = None,
        baseline_hist: DataFrame | None = None,
        reference_tokens: DataFrame | None = None,
        run_id: str | None = None,
        token_baseline_hist: DataFrame | None = None,
    ) -> RunResult:
        for name, df, want in (
            ("sequences", sequences, SEQUENCES.fields),
            ("reference_tokens", reference_tokens, [REFERENCE_TOKENS["tokens_ref"]]),
            ("allowed_sources", allowed_sources, ALLOWED_SOURCES.fields),
            ("baseline_hist", baseline_hist, BASELINE_HIST.fields),
            ("token_baseline_hist", token_baseline_hist, BASELINE_HIST.fields),
        ):
            if df is not None:
                _check_input_types(name, df, want)
        cfg = self.cfg
        run_id = run_id or uuid.uuid4().hex[:12]
        spark = self.spark
        sc = spark.sparkContext
        errors: dict[str, str] = {}
        warnings: dict[str, str] = {}
        timings: dict[str, float] = {}

        def phase(batch: int | str, name: str) -> None:
            # a local property: it names the jobs of the calling thread only
            sc.setJobDescription(f"tokenqc {run_id} batch={batch} {name}")

        caller_description = sc.getLocalProperty("spark.job.description")
        key_totals: DataFrame | None = None
        viol_all: DataFrame | None = None
        try:
            t = time.monotonic()
            phase("-", "resume_point")
            completed, committed_batches = self._resume_point(run_id)
            # slices written by a crashed batch (no qc_state commit) would
            # double-count on read-back — drop them before doing anything
            qio.drop_orphan_batches(spark, self.out_dir, list(TABLES), run_id, committed_batches)
            t = _mark_timing(timings, "resume_point", t)
            batch_start = (max(committed_batches) + 1) if committed_batches else 0
            pending = [p for p in range(cfg.n_partitions) if p not in completed]
            batches = self._plan_batches(pending)
            if not batches:
                phase("-", "read_back")
                return self._result(run_id, completed, errors, timings, warnings)

            def pending_only(frame: DataFrame) -> DataFrame:
                if len(pending) == cfg.n_partitions:
                    return frame
                return frame.where(F.col("partition_id").isin(pending))

            df = sequences.withColumn("partition_id", cb.partition_id_col(cfg))
            has_ref_dim = allowed_sources is not None
            if "referential" in cfg.checks and has_ref_dim:
                df = referential.attach(df, allowed_sources)
            pdf = pending_only(df)
            # the once-per-run uniqueness and drift frames read `sequences`,
            # not `df`: the whitelist join adds only a marker column to the
            # same rows, yet the optimizer keeps it (a dimension scan,
            # shuffle and broadcast per plan) where no plan reads the marker

            # missing-input UNKNOWNs: recorded once, at run level (partition -1)
            missing: list[tuple[str, str]] = []
            if "referential" in cfg.checks and not has_ref_dim:
                missing.append(("referential", "no allowed_sources provided"))
            if "invariant" in cfg.checks and reference_tokens is None:
                missing.append(("invariant", "no reference_tokens provided"))
            if "drift" in cfg.checks and baseline_hist is None:
                missing.append(("drift", "no baseline_hist provided"))
            if "token_drift" in cfg.checks and token_baseline_hist is None:
                missing.append(("token_drift", "no token_baseline_hist provided"))

            # --- the run's ONE violation frame over the pending partitions.
            # A family whose plan fails is recorded once here and graded
            # UNKNOWN per partition in every batch.
            failed: dict[str, str] = {}  # check_name -> error detail
            viol_parts: list[DataFrame] = []
            # global (cross-partition) check: the dup counts need every
            # row, so the aggregate reads the whole input
            if "uniqueness" in cfg.checks:
                try:
                    key_totals = uniqueness.key_totals(sequences, cfg).persist()
                    viol_parts.append(pending_only(
                        uniqueness.violations(sequences, cfg, key_totals=key_totals)
                    ))
                except Exception as e:  # errorStrategy 'ignore'
                    errors["uniqueness"] = failed["uniqueness"] = repr(e)
                    if key_totals is not None:
                        key_totals.unpersist()
                        key_totals = None
            # degenerate-content gate: row-level but Arrow-staged (it
            # cannot fuse into the JVM row scan)
            if "degenerate" in cfg.checks:
                try:
                    from tokenqc.checks import degeneracy

                    viol_parts.append(degeneracy.violations(pdf, cfg))
                except Exception as e:  # errorStrategy 'ignore'
                    errors["degenerate"] = failed["degenerate"] = repr(e)
            # source-level families: bounded tables, computed once per run on
            # the side thread and appended to the first batch's verdicts
            source_checks: list[tuple[str, Callable[[], list[Row]]]] = []
            if "drift" in cfg.checks and baseline_hist is not None:
                source_checks.append((
                    "drift",
                    lambda: _source_verdicts(
                        "drift", drift.verdicts(sequences, baseline_hist, cfg),
                        ("chi2", "chi2_p", "ks_d", "ks_p"),
                    ),
                ))
            if "token_drift" in cfg.checks and token_baseline_hist is not None:
                source_checks.append((
                    "token_drift",
                    lambda: _source_verdicts(
                        "token_drift",
                        drift.token_js_divergence(
                            sequences, token_baseline_hist,
                            js_max=cfg.token_js_max, n_buckets=cfg.token_drift_buckets,
                        ),
                        ("js_divergence",),
                    ),
                ))
            t = _mark_timing(timings, "run_plans", t)

            # --- overlap independent side jobs with the reference digest
            # build and the first violations write: the source-level
            # families (histogram shuffle, then a driver-side grade) and,
            # without uniqueness, the totals scan (doc_id only) share no
            # lineage with either, so a second driver thread runs them
            # while the build or the scan/join/write saturates the
            # executors — Spark's scheduler interleaves jobs from
            # concurrent threads (FIFO within cores). With uniqueness, the
            # totals are sums over the persisted key_totals frame, which
            # the first write materializes: no second scan of the input.
            source_rows: list[Row] = []
            row_totals: dict[int, int] = {}

            def materialize_side() -> None:
                try:
                    if key_totals is None:
                        phase(batch_start, "row_totals")
                        try:
                            row_totals.update(
                                (r["partition_id"], r["n_rows"])
                                for r in pdf.groupBy("partition_id")
                                .agg(F.count(F.lit(1)).alias("n_rows"))
                                .collect()
                            )
                        except Exception as e:  # errorStrategy 'ignore'
                            errors["side_jobs"] = repr(e)
                    for family, verdict_rows_of in source_checks:
                        phase(batch_start, family)
                        try:
                            source_rows.extend(verdict_rows_of())
                        except Exception as e:  # errorStrategy 'ignore'
                            errors[family] = repr(e)
                finally:
                    sc.setJobDescription(None)

            side_thread = threading.Thread(target=materialize_side, daemon=True)
            side_thread.start()

            # the reference digest, from the store when the reference is a
            # bare file scan: a warm run only checks the key and never
            # reads tokens_ref; a cold run's build jobs are named here
            want_invariant = "invariant" in cfg.checks and reference_tokens is not None
            digest: DataFrame | None = None
            if want_invariant:
                phase("-", "reference_digest")
                try:
                    digest = invariant.stored_digest(reference_tokens)
                except Exception as e:
                    # the store only saves work: digest inline, results
                    # complete, so a warning rather than an error
                    warnings["reference_digest"] = repr(e)
                    _log.warning("reference digest store unusable, digesting inline: %r", e)
                t = _mark_timing(timings, "reference_digest", t)

            # ONE narrow scan for all row-level gates, with the invariant
            # fused in (tokens hashed once, 8-byte hashes joined to the
            # reference digest — the input's tokens column is read exactly
            # once across the whole run)
            facets = _row_level_facets(cfg, with_referential=has_ref_dim)
            if facets or want_invariant:
                try:
                    extra = (
                        [F.xxhash64("tokens").alias("__tok_hash")] if want_invariant else []
                    )
                    narrow = cb.project_facets(pdf, facets, extra)
                    all_facets = list(facets)
                    if want_invariant:
                        if digest is None:
                            digest = invariant.reference_digest(reference_tokens)
                        narrow = narrow.join(digest, on="doc_id", how="left")
                        inv = cb.Facet(
                            invariant.CHECK,
                            "tokens_mismatch",
                            F.col("_rmin").isNotNull() & invariant.mismatch(F.col("__tok_hash")),
                            F.lit("hash(tokens) != hash(tokens_ref)"),
                            "tokens == tokens_ref",
                        )
                        i = len(all_facets)
                        narrow = narrow.withColumn(f"__c{i}", inv.cond).withColumn(
                            f"__o{i}", F.when(inv.cond, inv.observed)
                        )
                        all_facets.append(inv)
                    viol_parts.append(cb.explode_flags(narrow, all_facets))
                except Exception as e:  # errorStrategy 'ignore'
                    errors["row_level"] = repr(e)
                    for c in sorted({f.check for f in facets}) + (
                        ["invariant"] if want_invariant else []
                    ):
                        failed[c] = repr(e)
            if not viol_parts:
                viol_parts.append(spark.createDataFrame([], qio.TABLE_SCHEMAS["violations"]))
            viol_all = viol_parts[0]
            for part in viol_parts[1:]:
                viol_all = viol_all.unionByName(part)
            # cluster the (sparse) violation rows by lineage partition
            # before the sink: one small shuffle (AQE-coalesced) instead of
            # one tiny output file per scan task; persisted, so every
            # batch's write and the verdict counts read the computed rows
            viol_all = viol_all.repartition("partition_id").persist()
            t = _mark_timing(timings, "build_plan", t)

            n_viol: dict[tuple[int, str], int] = {}
            # missing-input checks → one run-level UNKNOWN row each (-1);
            # the first batch commits them with the source-level verdicts
            run_level = [_VerdictRow(-1, c, UNKNOWN, 0, 0, why) for c, why in missing]
            # the checks graded per partition: not source-level, not
            # missing their input, not errored
            skip = {"drift", "token_drift", *dict(missing), *failed}
            active = [c for c in cfg.checks if c not in skip]
            for i, parts in enumerate(batches):
                batch = batch_start + i
                t0 = t = time.monotonic()
                phase(batch, "violations")
                viol = viol_all if len(batches) == 1 else viol_all.where(
                    F.col("partition_id").isin(parts)
                )
                qio.write_batch(viol, self.out_dir, "violations", run_id, batch)
                t = _mark_timing(timings, "violations_compute_write", t)
                if i == 0:
                    side_thread.join()
                    t = _mark_timing(timings, "side_jobs_join", t)
                    # the verdict grid's inputs, collected once per run in
                    # one bounded frame: (partition, check, n_viol) rows,
                    # at most P × checks, and, with uniqueness,
                    # (partition, NULL, n_rows) rows summed off key_totals
                    phase(batch, "verdict_counts")
                    grid = viol_all.groupBy("partition_id", "check_name").agg(
                        F.count(F.lit(1)).alias("n")
                    )
                    if key_totals is not None:
                        grid = grid.unionByName(key_totals.groupBy("partition_id").agg(
                            F.lit(None).cast("string").alias("check_name"),
                            F.sum("n").alias("n"),
                        ))
                    for r in grid.collect():
                        if r["check_name"] is None:
                            row_totals[r["partition_id"]] = r["n"]
                        else:
                            n_viol[(r["partition_id"], r["check_name"])] = r["n"]
                    t = _mark_timing(timings, "verdicts_collect", t)
                self._commit_batch(
                    parts, batch, run_id, active, n_viol, row_totals, failed,
                    run_level=(run_level + source_rows) if i == 0 else [],
                    timings=timings,
                    t0=t0,
                )

            phase("-", "read_back")
            return self._result(run_id, completed, errors, timings, warnings)
        finally:
            sc.setJobDescription(caller_description)
            if viol_all is not None:
                viol_all.unpersist()
            if key_totals is not None:
                key_totals.unpersist()

    def _result(
        self, run_id: str, completed: set[int], errors: dict[str, str],
        timings: dict[str, float], warnings: dict[str, str],
    ) -> RunResult:
        """The run's result: the current view of its three tables."""
        t = time.monotonic()
        frames = {}
        for table in TABLES:
            cur = qio.read_current(self.spark, self.out_dir, table, run_id)
            frames[table] = cur if cur is not None else self.spark.createDataFrame(
                [], f"{qio.TABLE_SCHEMAS[table]}, {qio.PARTITION_SCHEMA}"
            )
        _mark_timing(timings, "read_back", t)
        return RunResult(
            run_id=run_id,
            verdicts=frames["verdicts"],
            violations=frames["violations"],
            state=frames["qc_state"],
            skipped_partitions=sorted(completed),
            errors=errors,
            timings=timings,
            warnings=warnings,
        )

    # ------------------------------------------------------------------
    def _resume_point(self, run_id: str) -> tuple[set[int], set[int]]:
        """(completed partitions, committed batches) from qc_state.

        Only PASS/FAIL state rows mark a partition complete — an UNKNOWN
        row (a check family errored there) is re-validated on resume."""
        state = qio.read_table(self.spark, self.out_dir, "qc_state", run_id)
        if state is None:
            return set(), set()
        rows = state.select("partition_id", "status", "batch").collect()
        completed = {r.partition_id for r in rows if r.status in (PASS, FAIL)}
        committed = {int(r.batch) for r in rows}
        return completed, committed

    def _plan_batches(self, pending: list[int]) -> list[list[int]]:
        if not pending:
            return []
        nb = min(self.n_batches, len(pending))
        size = -(-len(pending) // nb)
        return [pending[i : i + size] for i in range(0, len(pending), size)]

    # ------------------------------------------------------------------
    def _commit_batch(
        self,
        parts: list[int],
        batch: int,
        run_id: str,
        active: list[str],
        n_viol: dict[tuple[int, str], int],
        row_totals: dict[int, int],
        failed: dict[str, str],
        run_level: list[Row],
        timings: dict[str, float],
        t0: float,
    ) -> None:
        """Grade one batch's partitions on the driver and commit their
        verdict rows, then their qc_state rows. `n_viol` and `row_totals`
        are the run's per-(partition, check) violation counts and
        per-partition row totals; `run_level` holds the partition -1 rows
        this batch carries (the first batch carries the run's)."""
        t = time.monotonic()
        # a partition with no input rows has no totals and gets no rows
        verdict_rows = []
        for pid in parts:
            n_rows = row_totals.get(pid)
            if n_rows is None:
                continue
            for c in active:
                n = n_viol.get((pid, c), 0)
                rate = n / n_rows if n_rows > 0 else 0.0
                status = PASS if rate <= self.cfg.threshold(c) else FAIL
                verdict_rows.append(_VerdictRow(pid, c, status, n_rows, n, None))
        # errored check families → per-partition UNKNOWN rows: the
        # partition is NOT graded PASS (no silent fillna(0)), and its
        # qc_state row below becomes UNKNOWN so resume re-validates it
        verdict_rows += [
            _VerdictRow(pid, check, UNKNOWN, 0, 0, detail)
            for check, detail in sorted(failed.items())
            for pid in parts
        ]
        verdict_rows += run_level
        t = _mark_timing(timings, "verdicts_plan", t)
        qio.write_batch_rows(self.spark, verdict_rows, self.out_dir, "verdicts", run_id, batch)
        t = _mark_timing(timings, "verdicts_write", t)

        # --- qc_state lineage rows (written LAST: a state row for a
        # partition implies its violations/verdicts committed) ------------
        wall_ms = int((time.monotonic() - t0) * 1000)
        per_part: dict[int, dict] = {}
        for r in verdict_rows:
            pid = r["partition_id"]
            if pid is None or pid < 0:
                continue
            s = per_part.setdefault(
                pid, {"any_fail": False, "any_unknown": False, "n_rows": 0, "n_viol": 0}
            )
            s["any_fail"] = s["any_fail"] or r["status"] == FAIL
            s["any_unknown"] = s["any_unknown"] or r["status"] == UNKNOWN
            s["n_rows"] = max(s["n_rows"], r["n_rows"] or 0)
            s["n_viol"] += r["n_viol"] or 0
        # timezone-aware so the pyarrow fast path stores the same
        # UTC-adjusted instant Spark's session-local write would
        now = datetime.now().astimezone()
        state_rows = [
            (
                pid,
                UNKNOWN if s["any_unknown"] else (FAIL if s["any_fail"] else PASS),
                s["n_rows"],
                s["n_viol"],
                wall_ms,
                now,
            )
            for pid, s in sorted(per_part.items())
        ]
        qio.write_batch_rows(self.spark, state_rows, self.out_dir, "qc_state", run_id, batch)
        _mark_timing(timings, "state_write", t)

    # ------------------------------------------------------------------
    def report(self, run_id: str) -> DataFrame | None:
        """Scored per-partition report (analyze_joss.py:505-508 semantics)."""
        verd = qio.read_current(self.spark, self.out_dir, "verdicts", run_id)
        if verd is None:
            return None
        return scoring.partition_report(
            verd.where(F.col("partition_id") >= 0).select(
                "partition_id", "check_name", "n_rows", "n_viol"
            )
        )

    def write_report(self, run_id: str, snapshot_diff: DataFrame | None = None) -> str | None:
        """Render the run's human-readable HTML artifact (reference
        analogue: test-results/POT_ai_analysis.html) to
        <out_dir>/reports/run_id=<id>/report.html; None if nothing ran.
        `snapshot_diff` (a snapshot.table_diff frame) adds its section."""
        from tokenqc import report as qreport

        rep = self.report(run_id)
        if rep is None:
            return None
        verd = qio.read_current(self.spark, self.out_dir, "verdicts", run_id)
        viol = qio.read_current(self.spark, self.out_dir, "violations", run_id)
        html = qreport.render_html(run_id, rep, verd, viol, snapshot_diff=snapshot_diff)
        path = os.path.join(self.out_dir, "reports", f"run_id={run_id}", "report.html")
        return qreport.write_text(self.spark, path, html)
