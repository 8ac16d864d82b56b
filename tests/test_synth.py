"""The generator must be deterministic and plant exactly the expected rows."""

from __future__ import annotations

import numpy as np

from tokenqc import synth


def test_deterministic():
    a = synth.generate_sequences(500, seed=7)
    b = synth.generate_sequences(500, seed=7)
    assert a.equals(b)


def test_planted_rules(seq_pa, expected):
    ids = seq_pa.column("doc_id").to_pylist()
    toks = seq_pa.column("tokens").to_pylist()
    ntok = seq_pa.column("n_tok").to_pylist()
    src = seq_pa.column("source").to_pylist()

    assert all(ids[i] is None for i in expected.null_doc_id)
    assert all(ids[i] is not None and ids[i].startswith("BAD_") for i in expected.bad_format)
    assert all(ids[i] == ids[i - 1] and ids[i] is not None for i in expected.dup_pairs)
    assert all(src[i] == "spam9" for i in expected.rogue_source)
    assert all(src[i] is None for i in expected.null_source)
    assert all(toks[i] is None for i in expected.null_tokens)
    assert all(toks[i] == [] for i in expected.empty_tokens)
    assert all(ntok[i] is None for i in expected.null_ntok)
    for i in expected.ntok_mismatch:
        assert toks[i] is not None and ntok[i] is not None
        assert ntok[i] != len(toks[i])
    # rows NOT hit by any n_tok rule are consistent
    bad = set()
    for f in ["null_tokens", "empty_tokens", "ntok_mismatch", "null_ntok"]:
        bad.update(getattr(expected, f).tolist())
    ok = [i for i in range(len(ids)) if i not in bad][:200]
    for i in ok:
        assert ntok[i] == len(toks[i])


def test_reference_tokens_perturbation(seq_pa, expected, synth_dir):
    import pyarrow.parquet as pq

    ref = pq.read_table(f"{synth_dir}/reference_tokens.parquet")
    ref_map = dict(zip(ref.column("doc_id").to_pylist(), ref.column("tokens_ref").to_pylist()))
    ids = seq_pa.column("doc_id").to_pylist()
    toks = seq_pa.column("tokens").to_pylist()
    perturbed = set(expected.perturbed_ref.tolist())
    mismatches = {
        i
        for i, (d, t) in enumerate(zip(ids, toks))
        if d is not None and d in ref_map and ref_map[d] != t
    }
    assert mismatches == perturbed
    # reference is unique by doc_id
    assert len(ref_map) == ref.num_rows


def test_source_skew(seq_pa):
    src = [s for s in seq_pa.column("source").to_pylist() if s == "web"]
    assert 0.6 < len(src) / seq_pa.num_rows < 0.8  # web is the hot key


def test_baseline_hist_sums_to_one():
    bh = synth.generate_baseline_hist(n_sample=50_000)
    import collections

    sums = collections.defaultdict(float)
    for s, p in zip(bh.column("source").to_pylist(), bh.column("p").to_pylist()):
        sums[s] += p
    for s, total in sums.items():
        assert abs(total - 1.0) < 1e-9, s
    assert set(sums) == set(synth.SOURCES)


def test_reference_citations_exist():
    """Every /root/reference/... path cited in tokenqc docstrings and
    comments must exist on disk (r5 VERDICT #1: two invented paths —
    bin/check_tool.py, bin/analyze_almanack.py — poisoned the audit
    trail; this pins the whole citation surface)."""
    import os
    import re
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    pat = re.compile(r"/root/reference/[A-Za-z0-9_./-]+")
    missing = []
    if not os.path.isdir("/root/reference"):
        import pytest

        pytest.skip("reference repo not mounted")
    for py in (p for pkg in ("tokenqc", "corpusops") for p in (repo / pkg).rglob("*.py")):
        text = py.read_text()
        for m in pat.findall(text):
            path = m.rstrip(".,)")
            # strip a trailing :line[-line] citation
            path = re.sub(r":[0-9-]+$", "", path)
            if not os.path.exists(path):
                missing.append(f"{py.name}: {m}")
    assert not missing, missing
