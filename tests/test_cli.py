"""CLI arg validation + end-to-end spark-submit-style invocation."""

from __future__ import annotations

import json

import pytest

from tokenqc import cli


def test_bad_args_rejected(capsys):
    with pytest.raises(SystemExit):
        cli.parse_args(["--input", "x", "--out", "y", "--partitions", "0"])
    with pytest.raises(SystemExit):
        cli.parse_args(["--input", "x", "--out", "y", "--threshold", "2"])
    with pytest.raises(SystemExit):
        cli.parse_args(["--out", "y"])  # missing --input


def test_cli_end_to_end(spark, synth_dir, tmp_path, capsys):
    rc = cli.main(
        [
            "--input", f"{synth_dir}/sequences.parquet",
            "--out", str(tmp_path / "out"),
            "--allowed-sources", f"{synth_dir}/allowed_sources.parquet",
            "--baseline-hist", f"{synth_dir}/baseline_hist.parquet",
            "--reference-tokens", f"{synth_dir}/reference_tokens.parquet",
            "--run-id", "cli-test",
            "--partitions", "8",
        ]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["run_id"] == "cli-test"
    assert out["violations"] > 0
    assert out["errors"] == {}


def test_cli_enumerate_dups(spark, synth_dir, tmp_path, capsys):
    """--enumerate-dups writes the row-level duplicate listing through
    the adaptive dispatcher (uniqueness.enumerate_rows_auto) and its
    count matches sum(count-1) over the duplicated keys — the engine,
    not the caller, picks the skew formulation (r4 verdict #1/'wrong')."""
    import pyspark.sql.functions as F

    rc = cli.main(
        [
            "--input", f"{synth_dir}/sequences.parquet",
            "--out", str(tmp_path / "out"),
            "--run-id", "dup-test",
            "--partitions", "8",
            "--enumerate-dups",
        ]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    seq = spark.read.parquet(f"{synth_dir}/sequences.parquet")
    want = (
        seq.where("doc_id is not null").groupBy("doc_id").count()
        .where("count > 1").agg(F.sum(F.col("count") - 1)).first()[0]
    )
    assert out["dup_rows"] == want and want > 0
    listed = spark.read.parquet(str(tmp_path / "out" / "dup_rows"))
    assert listed.count() == want
    assert {"partition_id", "doc_id"} <= set(listed.columns)


ENGINE_MODULES = sorted(
    [
        "tokenqc/__init__.py",
        "tokenqc/checks/__init__.py",
        "tokenqc/checks/base.py",
        "tokenqc/checks/completeness.py",
        "tokenqc/checks/degeneracy.py",
        "tokenqc/checks/drift.py",
        "tokenqc/checks/format.py",
        "tokenqc/checks/invariant.py",
        "tokenqc/checks/referential.py",
        "tokenqc/checks/scoring.py",
        "tokenqc/checks/snapshot.py",
        "tokenqc/checks/stats.py",
        "tokenqc/checks/structural.py",
        "tokenqc/checks/tokens.py",
        "tokenqc/checks/uniqueness.py",
        "tokenqc/cli.py",
        "tokenqc/io.py",
        "tokenqc/report.py",
        "tokenqc/runner.py",
        "tokenqc/schema.py",
        "tokenqc/session.py",
        "tokenqc/skew.py",
        "tokenqc/synth.py",
    ]
)


def test_pyfiles_zip(tmp_path):
    """The --py-files zip ships exactly the engine, and every tokenqc
    import in it (function-local ones included) resolves inside the zip:
    a cluster executor has nothing else to import from."""
    import ast
    import subprocess
    import sys
    import zipfile
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    subprocess.run([sys.executable, str(root / "scripts" / "make_pyfiles.py")], check=True)
    z = zipfile.ZipFile(root / "dist" / "tokenqc.zip")
    names = sorted(z.namelist())
    assert names == ENGINE_MODULES

    def module_path(mod: str) -> str | None:
        base = mod.replace(".", "/")
        for cand in (f"{base}.py", f"{base}/__init__.py"):
            if cand in names:
                return cand
        return None

    trees = {n: ast.parse(z.read(n).decode(), filename=n) for n in names}

    def top_level_names(path: str) -> set[str]:
        out: set[str] = set()
        for node in trees[path].body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                out.add(node.name)
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                out |= {t.id for t in targets if isinstance(t, ast.Name)}
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                out |= {(a.asname or a.name).split(".")[0] for a in node.names}
        return out

    unresolved = []
    for path, tree in trees.items():
        pkg = path.rsplit("/", 1)[0].replace("/", ".")
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                mods = [(a.name, None) for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                mod = node.module or ""
                if node.level:
                    parts = pkg.split(".")[: len(pkg.split(".")) - node.level + 1]
                    mod = ".".join(parts + ([mod] if mod else []))
                mods = [(mod, a.name) for a in node.names]
            else:
                continue
            for mod, attr in mods:
                if mod.split(".")[0] != "tokenqc":
                    assert mod.split(".")[0] != "corpusops", (path, mod)
                    continue
                target = module_path(mod)
                ok = target is not None and (
                    attr is None
                    or module_path(f"{mod}.{attr}") is not None
                    or attr in top_level_names(target)
                )
                if not ok:
                    unresolved.append((path, node.lineno, mod, attr))
    assert not unresolved, unresolved


def test_missing_input_clean_error(capsys):
    from tokenqc import cli

    rc = cli.main(["--input", "/nonexistent/nope.parquet", "--out", "/tmp/x_out"])
    assert rc == 2
    err = capsys.readouterr().err
    assert "cannot read --input" in err and "PATH_NOT_FOUND" in err


def test_cli_diff_against(spark, synth_dir, tmp_path, capsys):
    out_dir = str(tmp_path / "out")
    base = [
        "--input", f"{synth_dir}/sequences.parquet",
        "--out", out_dir,
        "--allowed-sources", f"{synth_dir}/allowed_sources.parquet",
        "--partitions", "8",
    ]
    assert cli.main(base + ["--run-id", "runA"]) == 0
    # identical second run: diff against runA must report no changes
    assert cli.main(base + ["--run-id", "runB", "--diff-against", "runA"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["diff"]["against"] == "runA"
    assert out["diff"]["counts"] == {} and out["diff"]["regressed"] == []
    # unknown run id: clean error field, not a crash
    assert cli.main(base + ["--run-id", "runC", "--diff-against", "nope"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "no verdicts" in out["diff"]["error"]


def test_cli_token_lints(spark, synth_dir, tmp_path, capsys):
    """Token-lint flags drive the facets end-to-end through the runner;
    the summary's violation count equals an independent per-facet count
    computed directly on the input (a row flagged by N facets yields N
    long-format violation rows)."""
    rc = cli.main(
        [
            "--input", f"{synth_dir}/sequences.parquet",
            "--out", str(tmp_path / "out"),
            "--run-id", "tok-lint",
            "--partitions", "8",
            "--checks", "tokens",
            "--vocab-size", "1000",
            "--max-token-run", "2",
        ]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    seq = spark.read.parquet(f"{synth_dir}/sequences.parquet")
    n_oob = seq.where(
        "exists(tokens, t -> t IS NULL OR t < 0 OR t >= 1000)"
    ).count()
    n_run = seq.where(
        "exists(transform(tokens, (t, i) -> i > 0 AND t = tokens[i-1]), b -> b)"
    ).count()
    assert n_oob > 0  # synth ids are uniform over [0, 50257) — must fire
    assert out["violations"] == n_oob + n_run


def test_cli_token_drift(spark, synth_dir, tmp_path, capsys):
    """--token-baseline turns on the token-unigram drift gate: per-source
    token_drift:<source> verdict rows land in the run output, graded by
    --token-js-max."""
    rc = cli.main(
        [
            "--input", f"{synth_dir}/sequences.parquet",
            "--out", str(tmp_path / "out_td"),
            "--token-baseline", f"{synth_dir}/token_baseline.parquet",
            "--token-js-max", "0.05",
            "--run-id", "cli-td",
            "--partitions", "8",
        ]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["errors"] == {}
    verd = spark.read.parquet(str(tmp_path / "out_td" / "verdicts"))
    rows = {
        r.check_name: r.status
        for r in verd.where("check_name like 'token_drift:%'").collect()
    }
    assert rows["token_drift:code"] == "FAIL"
    assert rows["token_drift:web"] == "PASS"
    assert rows["token_drift:spam9"] == "UNKNOWN"


def test_cli_degenerate_gate(spark, synth_dir, tmp_path, capsys):
    """The degeneracy flags imply the check and drive the fused Arrow
    pass end-to-end; the summary's degenerate violation count equals an
    independent per-row recomputation on the input."""
    import math

    rc = cli.main(
        [
            "--input", f"{synth_dir}/sequences.parquet",
            "--out", str(tmp_path / "out"),
            "--run-id", "degen1",
            "--partitions", "8",
            "--checks", "degenerate",
            "--min-entropy", "3.0",
            "--max-dup-kgram-frac", "0.2",
        ]
    )
    assert rc == 0
    json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    viol = spark.read.parquet(str(tmp_path / "out" / "violations")).where(
        "check_name = 'degenerate'"
    )
    got_low = viol.where("observed like 'low_entropy%'").count()
    # independent recomputation: entropy per row in python
    import numpy as np

    rows = spark.read.parquet(f"{synth_dir}/sequences.parquet").select(
        "tokens"
    ).collect()
    want_low = 0
    for r in rows:
        if r.tokens is None or not len(r.tokens):
            continue
        _, c = np.unique(np.asarray(r.tokens), return_counts=True)
        p = c / len(r.tokens)
        ent = float(np.floor(-(p * np.log(p)).sum() * 1e6 + 0.5) / 1e6)
        if ent < 3.0:
            want_low += 1
    assert got_low == want_low and got_low > 0


def test_cli_prev_input_snapshot_diff(spark, synth_dir, tmp_path, capsys):
    """--prev-input runs the structural snapshot diff alongside the QC
    gates: a previous snapshot missing one source and trimmed 10% shows
    NEW_KEY + growth verdicts, churn, and zero schema changes; outputs
    land under out/snapshot_diff and out/snapshot_row_diff."""
    import pyspark.sql.functions as F

    seq = spark.read.parquet(f"{synth_dir}/sequences.parquet")
    prev_dir = str(tmp_path / "prev")
    prev = seq.where(
        (F.col("source").isNull() | (F.col("source") != "books"))
        & (F.pmod(F.xxhash64("doc_id"), F.lit(10)) != 0)
    )
    prev.write.parquet(prev_dir)

    rc = cli.main(
        [
            "--input", f"{synth_dir}/sequences.parquet",
            "--out", str(tmp_path / "out"),
            "--run-id", "snap-test",
            "--partitions", "8",
            "--prev-input", prev_dir,
        ]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    snap = out["snapshot"]
    assert snap["by_verdict"].get("NEW_KEY", 0) >= 1  # books reappeared
    assert snap["schema_changes"] == 0
    assert snap["max_churn_ppm"] is not None and snap["max_churn_ppm"] > 0
    tdiff = spark.read.parquet(str(tmp_path / "out" / "snapshot_diff"))
    assert {"key", "n_cur", "n_base", "delta", "delta_ppm", "verdict"} <= set(tdiff.columns)
    books = tdiff.where("key = 'books'").first()
    assert books["verdict"] == "NEW_KEY"
    rdiff = spark.read.parquet(str(tmp_path / "out" / "snapshot_row_diff"))
    # removed rows can only come from identity hashing, never negative
    assert rdiff.where("n_removed < 0").count() == 0
    # a missing --prev-input path is a clean user error
    rc2 = cli.main(
        [
            "--input", f"{synth_dir}/sequences.parquet",
            "--out", str(tmp_path / "out2"),
            "--prev-input", str(tmp_path / "nope"),
        ]
    )
    assert rc2 == 2
    # --report + --prev-input: the HTML artifact carries the section
    rc3 = cli.main(
        [
            "--input", f"{synth_dir}/sequences.parquet",
            "--out", str(tmp_path / "out3"),
            "--run-id", "snap-rep",
            "--partitions", "8",
            "--prev-input", prev_dir,
            "--report",
        ]
    )
    assert rc3 == 0
    out3 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    with open(out3["report"]) as f:
        html = f.read()
    assert "Snapshot diff vs previous table version" in html
