"""Deterministic synthetic `sequences` data with planted violations.

The reference pins correctness with known-good / known-bad live items and
an expected-status table (/root/reference/README.md, tests/fixtures/
example-input.csv); the engine's analogue is a seed-fixed generator that
plants *exactly known* bad rows so tests can assert the precise verdict
and violation sets (FIXTURES.md).

Planted-violation rules are **modular, not sampled**, so the expected
outcome is computable in closed form (and in plain SQL for oracles):

    row i (0-based):
      doc_id        = 'doc-%08d' % i          ; NULL       if i % 211 == 0
                                              ; malformed  if i % 223 == 1
                                              ; dup of i-1 if i % 197 == 3 and i > 0
      source        = skewed {web .70, books .12, code .10, wiki .08}
                                              ; 'spam9'    if i % 181 == 2
                                              ; NULL       if i % 191 == 4
      tokens        = seeded uniform ints [0, 50257), len ~ per-source normal
                                              ; NULL       if i % 233 == 5
                                              ; empty      if i % 239 == 6
      n_tok         = len(tokens)             ; +1 mismatch if i % 193 == 7
                                              ; NULL       if i % 251 == 8

Generation is numpy + pyarrow (no Spark dependency), so pytest fixtures
are fast and the benchmark (qcbench/) can synthesize any scale up front.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50257
SOURCES = ["web", "books", "code", "wiki"]
SOURCE_CUM = [0.70, 0.82, 0.92, 1.00]  # skew: web is the hot key
LEN_PARAMS = {  # mean, std of n_tok per source
    "web": (512.0, 128.0),
    "books": (2048.0, 256.0),
    "code": (1024.0, 512.0),
    "wiki": (768.0, 128.0),
}
DRIFTED_LEN_PARAMS = {**LEN_PARAMS, "code": (1536.0, 512.0)}  # baseline for drift FAIL
MAX_TOK = 4096
BUCKET_W = 64
N_BUCKETS = MAX_TOK // BUCKET_W

# modular planting rules (i % M == R)
RULE_NULL_ID = (211, 0)
RULE_BAD_ID = (223, 1)
RULE_DUP_ID = (197, 3)
RULE_ROGUE_SRC = (181, 2)
RULE_NULL_SRC = (191, 4)
RULE_NULL_TOK = (233, 5)
RULE_EMPTY_TOK = (239, 6)
RULE_MISMATCH = (193, 7)
RULE_NULL_NTOK = (251, 8)
RULE_PERTURB_REF = (503, 9)  # reference_tokens perturbation


def _hits(n: int, rule: tuple[int, int], lo: int = 0) -> np.ndarray:
    m, r = rule
    first = r if r >= lo else r + m * math.ceil((lo - r) / m)
    return np.arange(first, n, m, dtype=np.int64)


@dataclass
class Expected:
    """Closed-form expected violation row indices per check."""

    null_doc_id: np.ndarray
    bad_format: np.ndarray
    dup_pairs: np.ndarray  # indices i where row i duplicates row i-1
    rogue_source: np.ndarray
    null_source: np.ndarray
    null_tokens: np.ndarray
    empty_tokens: np.ndarray
    ntok_mismatch: np.ndarray
    null_ntok: np.ndarray
    perturbed_ref: np.ndarray = field(default_factory=lambda: np.array([], dtype=np.int64))


def _is(idx: np.ndarray, rule: tuple[int, int]) -> np.ndarray:
    return idx % rule[0] == rule[1]


def plan_expected(n: int) -> Expected:
    """Closed-form expected outcomes. doc_id rule precedence: NULL > dup > BAD.

    A dup row i copies row i-1's id only when row i-1 kept its canonical
    id (i-1 not NULL-ruled, not BAD-ruled; i-1 is never dup-ruled since
    dup hits are 197 apart).
    """
    i = np.arange(n, dtype=np.int64)
    nulled = _is(i, RULE_NULL_ID)
    dup_raw = _is(i, RULE_DUP_ID) & (i > 0)
    prev_canonical = np.zeros(n, dtype=bool)
    prev_canonical[1:] = ~(nulled[:-1] | _is(i[:-1], RULE_BAD_ID))
    dup_eff = dup_raw & ~nulled & prev_canonical
    bad_eff = _is(i, RULE_BAD_ID) & ~nulled & ~dup_eff

    # rows whose doc_id is shared with another row are excluded from the
    # reference table (it is unique by doc_id), hence from the invariant
    dup_touched = dup_eff.copy()
    dup_touched[:-1] |= dup_eff[1:]
    perturb = _hits(n, RULE_PERTURB_REF)
    tok_ok = (
        ~(_is(perturb, RULE_NULL_TOK) | _is(perturb, RULE_EMPTY_TOK))
        & ~nulled[perturb]
        & ~dup_touched[perturb]
    )
    mism = _hits(n, RULE_MISMATCH)
    mism_eff = mism[~(_is(mism, RULE_NULL_TOK) | _is(mism, RULE_NULL_NTOK))]
    return Expected(
        null_doc_id=i[nulled],
        bad_format=i[bad_eff],
        dup_pairs=i[dup_eff],
        rogue_source=_hits(n, RULE_ROGUE_SRC),
        null_source=_hits(n, RULE_NULL_SRC),
        null_tokens=_hits(n, RULE_NULL_TOK),
        empty_tokens=_hits(n, RULE_EMPTY_TOK),
        ntok_mismatch=mism_eff,
        null_ntok=_hits(n, RULE_NULL_NTOK),
        perturbed_ref=perturb[tok_ok],
    )


def _source_idx(i: np.ndarray, seed: int) -> np.ndarray:
    """Deterministic skewed source assignment from the row index."""
    rng = np.random.default_rng(seed ^ 0x5EED)
    u = rng.random(len(i))
    out = np.full(len(i), 0, dtype=np.int64)
    lo = 0.0
    for k, hi in enumerate(SOURCE_CUM):
        out[(u >= lo) & (u < hi)] = k
        lo = hi
    return out


def _lengths(src_idx: np.ndarray, seed: int, params: dict[str, tuple[float, float]]) -> np.ndarray:
    rng = np.random.default_rng(seed ^ 0x1E46)
    z = rng.standard_normal(len(src_idx))
    mean = np.array([params[s][0] for s in SOURCES])[src_idx]
    std = np.array([params[s][1] for s in SOURCES])[src_idx]
    return np.clip((mean + std * z).astype(np.int64), 1, MAX_TOK - 1)


def generate_sequences(n: int, seed: int = 42) -> pa.Table:
    """Build the `sequences` table as a pyarrow Table (see module doc)."""
    i = np.arange(n, dtype=np.int64)
    exp = plan_expected(n)

    # --- doc_id (precedence NULL > dup > BAD; see plan_expected) ---
    ids = np.array([f"doc-{k:08d}" for k in i], dtype=object)
    ids[exp.bad_format] = [f"BAD_{k}" for k in exp.bad_format]
    for k in exp.dup_pairs:
        ids[k] = ids[k - 1]
    id_mask = np.zeros(n, dtype=bool)
    id_mask[exp.null_doc_id] = True
    ids_arr = pa.array([None if id_mask[k] else ids[k] for k in i], type=pa.string())

    # --- source ---
    src_idx = _source_idx(i, seed)
    src = np.array(SOURCES, dtype=object)[src_idx]
    src[exp.rogue_source] = "spam9"
    src_arr = pa.array(
        [None if k % RULE_NULL_SRC[0] == RULE_NULL_SRC[1] else src[k] for k in i],
        type=pa.string(),
    )

    # --- tokens (flat buffer + offsets → ListArray, no per-row Python loops) ---
    lens = _lengths(src_idx, seed, LEN_PARAMS)
    lens[exp.empty_tokens] = 0
    null_tok = np.zeros(n, dtype=bool)
    null_tok[exp.null_tokens] = True
    lens_eff = np.where(null_tok, 0, lens)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens_eff, out=offsets[1:])
    rng = np.random.default_rng(seed ^ 0x70CE)
    flat = rng.integers(0, VOCAB, size=int(offsets[-1]), dtype=np.int32)
    tok_arr = pa.LargeListArray.from_arrays(
        pa.array(offsets), pa.array(flat), mask=pa.array(null_tok)
    ).cast(pa.list_(pa.int32()))

    # --- n_tok ---
    ntok = lens_eff.copy()
    ntok[exp.ntok_mismatch] = ntok[exp.ntok_mismatch] + 1
    ntok_arr = pa.array(
        [None if k % RULE_NULL_NTOK[0] == RULE_NULL_NTOK[1] else int(ntok[k]) for k in i],
        type=pa.int32(),
    )

    return pa.table(
        {"doc_id": ids_arr, "tokens": tok_arr, "n_tok": ntok_arr, "source": src_arr}
    )


def generate_reference_tokens(seq: pa.Table, seed: int = 42) -> pa.Table:
    """Copy of (doc_id, tokens) with ~1/503 rows perturbed by one element.

    The per-row invariant check must flag exactly the perturbed rows
    (engine analogue of the reference re-running each repo's own tests,
    /root/reference/bin/run_tests.py:109-125).
    """
    n = seq.num_rows
    ids = seq.column("doc_id").to_pylist()
    toks = seq.column("tokens").to_pylist()
    exp = plan_expected(n)
    rng = np.random.default_rng(seed ^ 0x9EF5)
    for k in exp.perturbed_ref:
        t = toks[k]
        if t:
            j = int(rng.integers(0, len(t)))
            t[j] = int((t[j] + 1) % VOCAB)
    # reference table is unique by doc_id: drop nulls and duplicated ids
    from collections import Counter

    counts = Counter(d for d in ids if d is not None)
    keep = [(d, t) for d, t in zip(ids, toks) if d is not None and counts[d] == 1]
    return pa.table(
        {
            "doc_id": pa.array([d for d, _ in keep], type=pa.string()),
            "tokens_ref": pa.array([t for _, t in keep], type=pa.list_(pa.int32())),
        }
    )


def generate_allowed_sources() -> pa.Table:
    return pa.table(
        {
            "source": pa.array(SOURCES, type=pa.string()),
            "active": pa.array([True] * len(SOURCES)),
        }
    )


def generate_baseline_hist(
    seed: int = 42, n_sample: int = 200_000, drift_source: str | None = "code"
) -> pa.Table:
    """Expected n_tok bucket probabilities per source.

    Drawn from the *same* length distributions as the data for all
    sources except ``drift_source``, which uses a shifted distribution —
    so the drift check must FAIL exactly that source (FIXTURES.md T3).
    """
    params = dict(LEN_PARAMS)
    if drift_source:
        params[drift_source] = DRIFTED_LEN_PARAMS[drift_source]
    rng = np.random.default_rng(seed ^ 0xBA5E)
    rows_s, rows_b, rows_p = [], [], []
    for s in SOURCES:
        mean, std = params[s]
        lens = np.clip((mean + std * rng.standard_normal(n_sample)).astype(np.int64), 1, MAX_TOK - 1)
        buckets = lens // BUCKET_W
        counts = np.bincount(buckets, minlength=N_BUCKETS).astype(np.float64)
        p = counts / counts.sum()
        for b in range(N_BUCKETS):
            rows_s.append(s)
            rows_b.append(b)
            rows_p.append(float(p[b]))
    return pa.table(
        {
            "source": pa.array(rows_s, type=pa.string()),
            "bucket": pa.array(rows_b, type=pa.int32()),
            "p": pa.array(rows_p, type=pa.float64()),
        }
    )


def generate_token_baseline(
    n_buckets: int = 256, drift_source: str | None = "code"
) -> pa.Table:
    """Expected TOKEN-ID residue probabilities per source, for the
    token-unigram drift gate (drift.token_js_divergence).

    The generator draws token ids uniformly over [0, VOCAB), so the true
    residue distribution is uniform for every source: all sources except
    ``drift_source`` get the uniform baseline (PASS), while
    ``drift_source`` gets a baseline concentrated on EVEN residues — the
    live uniform stream then shows mass where the baseline has none, so
    the gate must FAIL exactly that source. spam9 (the rogue source) is
    absent on purpose: it must grade UNKNOWN.
    """
    rows_s, rows_b, rows_p = [], [], []
    for s in SOURCES:
        if s == drift_source:
            probs = [2.0 / n_buckets if b % 2 == 0 else 0.0 for b in range(n_buckets)]
        else:
            probs = [1.0 / n_buckets] * n_buckets
        for b in range(n_buckets):
            rows_s.append(s)
            rows_b.append(b)
            rows_p.append(probs[b])
    return pa.table(
        {
            "source": pa.array(rows_s, type=pa.string()),
            "bucket": pa.array(rows_b, type=pa.int32()),
            "p": pa.array(rows_p, type=pa.float64()),
        }
    )


def write_bench_dataset(
    out_dir: str, n: int, seed: int = 42, n_files: int = 64
) -> dict[str, str]:
    """Bench-scale variant: sequences + reference_tokens written as
    `n_files` parquet parts each, so the Spark scan parallelizes across
    the full executor pool (one small file per task bucket; pair with
    spark.sql.files.maxPartitionBytes to control packing). Generation is
    chunked so peak memory stays ~1/n_files of the table.

    Global planting rules stay index-based: chunk c covers rows
    [c*chunk, ...) with the same modular rules as generate_sequences, so
    expected totals are identical to a single-shot generation.
    """
    import os
    import shutil

    for sub in ("sequences", "reference_tokens"):
        shutil.rmtree(os.path.join(out_dir, sub), ignore_errors=True)
        os.makedirs(os.path.join(out_dir, sub), exist_ok=True)
    chunk = -(-n // n_files)
    jobs = [
        (out_dir, c, c * chunk, min(n, (c + 1) * chunk), seed)
        for c in range(n_files)
        if c * chunk < n
    ]
    from concurrent.futures import ProcessPoolExecutor

    with ProcessPoolExecutor(max_workers=min(len(jobs), os.cpu_count() or 8)) as ex:
        list(ex.map(_write_chunk, jobs))
    paths = {
        "sequences": os.path.join(out_dir, "sequences"),
        "reference_tokens": os.path.join(out_dir, "reference_tokens"),
    }
    for name, gen in [
        ("allowed_sources", generate_allowed_sources()),
        ("baseline_hist", generate_baseline_hist(seed)),
        ("token_baseline", generate_token_baseline()),
    ]:
        p = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(gen, p)
        paths[name] = p
    return paths


def _write_chunk(job: tuple) -> None:
    """One (sequences, reference_tokens) chunk — process-pool worker."""
    import os

    out_dir, c, lo, hi, seed = job
    tbl, internals = _generate_slice(lo, hi, seed, return_internals=True)
    pq.write_table(tbl, os.path.join(out_dir, "sequences", f"part-{c:05d}.parquet"))
    ref = _reference_slice_from_internals(lo, hi, seed, internals)
    pq.write_table(ref, os.path.join(out_dir, "reference_tokens", f"part-{c:05d}.parquet"))


def _generate_slice(lo: int, hi: int, seed: int, return_internals: bool = False):
    """generate_sequences for global rows [lo, hi) — same rules keyed on
    the global index, per-chunk RNG streams seeded by (seed, lo)."""
    import pandas as pd

    n = hi - lo
    i = np.arange(lo, hi, dtype=np.int64)

    # vectorized id construction (pandas C string kernels, no row loop)
    digits = pd.Series(i).astype(str).str.zfill(8)
    ids = ("doc-" + digits).to_numpy(dtype=object)
    bad = _is(i, RULE_BAD_ID)
    ids[bad] = ("BAD_" + pd.Series(i[bad]).astype(str)).to_numpy(dtype=object)
    # dup rule: global precedence NULL > dup > BAD; prev row may live in
    # the previous chunk — recompute its candidate id directly
    dup = _is(i, RULE_DUP_ID) & (i > 0)
    nulled = _is(i, RULE_NULL_ID)
    dup_idx = np.nonzero(dup & ~nulled)[0]
    prev = i[dup_idx] - 1
    ok_prev = ~(_is(prev, RULE_NULL_ID) | _is(prev, RULE_BAD_ID))
    dup_idx = dup_idx[ok_prev]
    ids[dup_idx] = ("doc-" + pd.Series(i[dup_idx] - 1).astype(str).str.zfill(8)).to_numpy(
        dtype=object
    )
    ids[nulled] = None
    ids_arr = pa.array(ids, type=pa.string())

    src_rng = np.random.default_rng((seed ^ 0x5EED) + lo)
    u = src_rng.random(n)
    src_idx = np.zeros(n, dtype=np.int64)
    lo_p = 0.0
    for kk, hi_p in enumerate(SOURCE_CUM):
        src_idx[(u >= lo_p) & (u < hi_p)] = kk
        lo_p = hi_p
    src = np.array(SOURCES, dtype=object)[src_idx]
    src[_is(i, RULE_ROGUE_SRC)] = "spam9"
    src[_is(i, RULE_NULL_SRC)] = None
    src_arr = pa.array(src, type=pa.string())

    len_rng = np.random.default_rng((seed ^ 0x1E46) + lo)
    z = len_rng.standard_normal(n)
    mean = np.array([LEN_PARAMS[s][0] for s in SOURCES])[src_idx]
    std = np.array([LEN_PARAMS[s][1] for s in SOURCES])[src_idx]
    lens = np.clip((mean + std * z).astype(np.int64), 1, MAX_TOK - 1)
    lens[_is(i, RULE_EMPTY_TOK)] = 0
    null_tok = _is(i, RULE_NULL_TOK)
    lens_eff = np.where(null_tok, 0, lens)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens_eff, out=offsets[1:])
    tok_rng = np.random.default_rng((seed ^ 0x70CE) + lo)
    flat = tok_rng.integers(0, VOCAB, size=int(offsets[-1]), dtype=np.int32)
    tok_arr = pa.LargeListArray.from_arrays(
        pa.array(offsets), pa.array(flat), mask=pa.array(null_tok)
    ).cast(pa.list_(pa.int32()))

    ntok = lens_eff.copy()
    mism = _is(i, RULE_MISMATCH)
    ntok[mism] = ntok[mism] + 1
    null_ntok = _is(i, RULE_NULL_NTOK)
    ntok_arr = pa.array(ntok.astype(np.int32), mask=null_ntok)
    tbl = pa.table({"doc_id": ids_arr, "tokens": tok_arr, "n_tok": ntok_arr, "source": src_arr})
    if return_internals:
        return tbl, (ids_arr, offsets, flat, null_tok)
    return tbl


def _reference_slice_from_internals(lo: int, hi: int, seed: int, internals) -> pa.Table:
    """Vectorized reference slice: reuse the chunk's flat token buffer,
    perturb one element of each rule-hit row, drop null-id rows.
    (Duplicate-id rows are a ~0.5% minority left in at bench scale; the
    invariant hash join tolerates them.)"""
    ids_arr, offsets, flat, null_tok = internals
    i = np.arange(lo, hi, dtype=np.int64)
    flat2 = flat.copy()
    rng = np.random.default_rng((seed ^ 0x9EF5) + lo)
    hit = np.nonzero(_is(i, RULE_PERTURB_REF))[0]
    for k in hit:
        a, b = int(offsets[k]), int(offsets[k + 1])
        if b > a:
            j = a + int(rng.integers(0, b - a))
            flat2[j] = np.int32((int(flat2[j]) + 1) % VOCAB)
    tok_arr = pa.LargeListArray.from_arrays(
        pa.array(offsets), pa.array(flat2), mask=pa.array(null_tok)
    ).cast(pa.list_(pa.int32()))
    tbl = pa.table({"doc_id": ids_arr, "tokens_ref": tok_arr})
    import pyarrow.compute as pc

    return tbl.filter(pc.is_valid(tbl.column("doc_id")))


def write_dataset(out_dir: str, n: int, seed: int = 42) -> dict[str, str]:
    """Materialize all synthetic tables to ``out_dir`` as parquet."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    seq = generate_sequences(n, seed)
    paths = {}
    for name, tbl in [
        ("sequences", seq),
        ("reference_tokens", generate_reference_tokens(seq, seed)),
        ("allowed_sources", generate_allowed_sources()),
        ("baseline_hist", generate_baseline_hist(seed)),
        ("token_baseline", generate_token_baseline()),
    ]:
        p = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, p)
        paths[name] = p
    return paths
