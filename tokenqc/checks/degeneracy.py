"""Degenerate-content gate: per-document token entropy + duplicated
k-gram fraction as first-class engine checks — the payload-quality twin
of the token-array lints (checks/tokens.py). The reference grades each
tool's *content* fields beyond mere presence
(/root/reference/bin/analyze_joss.py:199-266); for a pre-tokenized corpus
the content questions are "is this text degenerate?" (entropy collapse:
padding floods, single-token spam) and "does it tile?" (boilerplate
loops, decoding stutter — healthy entropy, duplicated k-grams).

Both statistics are within-row, so they cannot ride the fused JVM row
scan (they need the Arrow stage). The fusion question was re-measured
each round as the Arrow formulation changed:

- r5 (mapInPandas, per-row object arrays): one fused pass computing
  both was 5.3 s vs 4.0 s for two independent passes at sf0.01 — the
  doubled per-worker OBJECT working set cost more than the saved
  transfer; two passes shipped.
- r6 (mapInArrow over the raw list buffers, token_degen_stats):
  the verdict FLIPS — the working set is two flat int64 arrays and the
  saved second scan + Arrow transfer dominates, but ONLY with the
  no-copy fast path for all-rows->=k batches: the first fused cut
  masked the payload per batch (flat[np.repeat(ok, sizes)]) and
  measured 11.6 s vs 7.8 s for the two unioned passes (interleaved
  min-of-6, sf0.1 noop — the union overlaps both Arrow stages in one
  128-task job, so it is NOT the sum of the standalone walls); with
  the copy skipped the fused pass measured 7.3 s vs 9.1 s
  (interleaved min-of-8). Fused ships for the both-facets case; the
  single-facet configs still run exactly the one standalone op.

The standalone operators remain the oracle-verified extras
(seq_token_entropy / seq_token_kgram_rep); the fused pass shares their
formulas (all three Arrow kernels live in this module) and its violation
rows are built JVM-side from the same rounded values, so all three emit
identical statistics. Like the
token lints, each facet is opt-in via config: `min_entropy` /
`max_dup_kgram_frac` of None disables it (and its work) even when
"degenerate" is listed in checks.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tokenqc.checks import base as cb

CHECK = "degenerate"

_EMPTY = (
    "partition_id int, doc_id string, check_name string, "
    "observed string, expected string"
)


def _rows(stats: DataFrame, cond, facet: str, observed, expected: str) -> DataFrame:
    flagged = stats.where(F.coalesce(cond, F.lit(False)))
    return flagged.select(
        "partition_id",
        "doc_id",
        F.lit(CHECK).alias("check_name"),
        F.concat(F.lit(f"{facet}: "), observed.cast("string")).alias("observed"),
        F.lit(expected).alias("expected"),
    )


def violations(df: DataFrame, cfg: cb.CheckConfig) -> DataFrame:
    """Violation rows for the enabled degeneracy facets, in the
    engine's standard (partition_id, doc_id, check_name, observed,
    expected) shape. `df` must carry partition_id (the runner attaches
    it). Both facets enabled -> ONE fused zero-shuffle Arrow pass
    (token_degen_stats; the corpus is read once); a single
    enabled facet runs exactly its standalone op; a disabled facet
    costs nothing (measurement history in the module docstring).
    """
    if cfg.min_entropy is not None and cfg.max_dup_kgram_frac is not None:
        stats = token_degen_stats(
            df,
            id_col="doc_id",
            k=cfg.degen_kgram_k,
            carry_cols=("partition_id",),
        )
        min_ent = float(cfg.min_entropy)
        max_frac = float(cfg.max_dup_kgram_frac)
        ent_row = F.when(
            F.coalesce(F.col("entropy") < min_ent, F.lit(False)),
            F.struct(
                F.concat(
                    F.lit("low_entropy: "), F.col("entropy").cast("string")
                ).alias("observed"),
                F.lit(f"token unigram entropy >= {cfg.min_entropy}").alias(
                    "expected"
                ),
            ),
        )
        rep_row = F.when(
            F.coalesce(F.col("dup_kgram_frac") > max_frac, F.lit(False)),
            F.struct(
                F.concat(
                    F.lit("repetitive: "), F.col("dup_kgram_frac").cast("string")
                ).alias("observed"),
                F.lit(
                    f"duplicated {cfg.degen_kgram_k}-gram fraction <= "
                    f"{cfg.max_dup_kgram_frac}"
                ).alias("expected"),
            ),
        )
        return stats.select(
            "partition_id",
            "doc_id",
            F.explode(F.array_compact(F.array(ent_row, rep_row))).alias("_v"),
        ).select(
            "partition_id",
            "doc_id",
            F.lit(CHECK).alias("check_name"),
            F.col("_v.observed").alias("observed"),
            F.col("_v.expected").alias("expected"),
        )

    parts: list[DataFrame] = []
    if cfg.min_entropy is not None:
        ent = token_entropy(
            df,
            id_col="doc_id",
            min_entropy=float(cfg.min_entropy),
            carry_cols=("partition_id",),
        )
        parts.append(
            _rows(
                ent,
                F.col("low_entropy"),
                "low_entropy",
                F.col("entropy"),
                f"token unigram entropy >= {cfg.min_entropy}",
            )
        )
    if cfg.max_dup_kgram_frac is not None:
        rep = token_kgram_repetition(
            df,
            id_col="doc_id",
            k=cfg.degen_kgram_k,
            max_dup_frac=float(cfg.max_dup_kgram_frac),
            carry_cols=("partition_id",),
        )
        parts.append(
            _rows(
                rep,
                F.col("repetitive"),
                "repetitive",
                F.col("dup_kgram_frac"),
                f"duplicated {cfg.degen_kgram_k}-gram fraction <= "
                f"{cfg.max_dup_kgram_frac}",
            )
        )
    if not parts:
        return df.sparkSession.createDataFrame([], _EMPTY)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _list_flat(arr):
    """Flat values + relative int64 offsets of a pyarrow ListArray whose
    entries are non-null (callers filter null arrays upstream): zero-copy
    views of the Arrow buffers — a list column IS one contiguous values
    buffer plus an offsets array, so no per-row ndarray is
    ever materialized (the mapInPandas path allocated one object per row
    plus a concatenate copy — the measured bulk of every token pass)."""
    import numpy as np

    offs = np.asarray(arr.offsets)  # int32, len n+1, absolute into values
    vals = arr.values
    if vals.null_count:
        raise ValueError("null token elements are not supported")
    v = vals.to_numpy(zero_copy_only=True)
    lo = int(offs[0])
    return v[lo : int(offs[-1])], offs.astype(np.int64) - lo


def _sort_segments(a, bounds) -> None:
    """In-place ascending sort of each contiguous segment
    a[bounds[i]:bounds[i+1]]. Replaces the global np.lexsort((a, row_of))
    the per-row run-length passes used: segments are already contiguous
    in row order, so per-segment quicksort does sum(n_i log n_i) work
    with no stable-argsort indirection — measured 18x faster at 5M
    elements / 10k rows per batch (0.09 s vs 1.69 s); the Python loop
    costs ~1 µs per segment."""
    for i in range(bounds.size - 1):
        a[bounds[i] : bounds[i + 1]].sort()


def token_entropy(
    df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    min_entropy: float = 1.5,
    carry_cols: Iterable[str] = (),
) -> DataFrame:
    """Per-document token unigram entropy (nats) — the degenerate-text
    detector a perplexity gate misses: a document of ONE ultra-common
    token scores a fine unigram_logprob but has entropy 0. Flags
    low-entropy docs (loops, padding floods, single-token spam); also
    emits the distinct-token ratio, the standard "diversity" signal
    (reference analogue: the per-field domain lints of
    bin/analyze_joss.py:199-266, see the module docstring, re-expressed
    over the payload).

    Scale shape: one Arrow mapInArrow stage over a slim (id, tokens)
    projection, ONE output row per input row, ZERO shuffles — entropy is
    a within-row statistic, so unlike unigram_logprob no corpus-wide
    model or explode is needed. Each batch's token column is consumed
    as the raw Arrow buffers — one flat values array + offsets, zero
    copies — and the per-row distributions come from
    per-row segment sorts (`_sort_segments`) plus one adjacent-equality
    run-length pass (no per-row Python allocation at all).
    Empty/null-token rows are excluded (completeness violations
    upstream).

    Output: (id, carry..., n_tok, n_distinct, entropy, distinct_ratio,
    low_entropy). Entropy/ratio round to 6 decimals: sums of <=1e3
    float64 terms agree across engines to ~1e-12. `carry_cols` pass
    through the Arrow stage untouched (the engine carries partition_id
    for its violation rows).
    """
    import numpy as np
    import pyarrow as pa

    carry_cols = list(carry_cols)
    tok_idx = 1 + len(carry_cols)

    def ent_op(it):
        for batch in it:
            n = batch.num_rows
            if not n:
                continue
            flat, offs = _list_flat(batch.column(tok_idx))
            sizes = np.diff(offs)
            # per-row in-place sorts (_sort_segments) + one adjacent-eq
            # run-length pass over the sorted stream
            s = flat.astype(np.int64)  # writable copy off the Arrow buffer
            _sort_segments(s, offs)
            eq = np.zeros(s.size, dtype=bool)
            eq[1:] = s[1:] == s[:-1]
            eq[offs[1:-1]] = False  # a row boundary always starts a run
            starts = np.flatnonzero(~eq)
            counts = np.diff(np.append(starts, s.size))
            grp_row = np.searchsorted(offs, starts, side="right") - 1
            p = counts / sizes[grp_row]
            terms = -p * np.log(p)
            row_starts = np.flatnonzero(np.r_[True, grp_row[1:] != grp_row[:-1]])
            ent = np.add.reduceat(terms, row_starts)
            ndist = np.diff(np.append(row_starts, grp_row.shape[0]))
            # half-away-from-zero on non-negative values (np.round is
            # half-to-even: 1/640 -> 0.001562 vs every SQL engine's
            # 0.001563) and +0.0 (np keeps -0.0 from -1*log(1))
            r6 = lambda x: np.floor(x * 1e6 + 0.5) / 1e6
            yield pa.RecordBatch.from_arrays(
                [batch.column(i) for i in range(tok_idx)]
                + [
                    pa.array(sizes.astype(np.int32)),
                    pa.array(ndist.astype(np.int32)),
                    pa.array(r6(ent)),
                    pa.array(r6(ndist / sizes)),
                ],
                names=[id_col, *carry_cols, "n_tok", "n_distinct",
                       "entropy", "distinct_ratio"],
            )

    dtypes = dict(df.dtypes)
    carry_schema = "".join(f", {c} {dtypes[c]}" for c in carry_cols)
    out = (
        df.where(F.col(tokens_col).isNotNull() & (F.size(tokens_col) > 0))
        .select(id_col, *carry_cols, tokens_col)
        .mapInArrow(
            ent_op,
            schema=(
                f"{id_col} {dtypes[id_col]}{carry_schema}, n_tok int, "
                "n_distinct int, entropy double, distinct_ratio double"
            ),
        )
    )
    return out.withColumn("low_entropy", F.col("entropy") < F.lit(float(min_entropy)))


def token_kgram_repetition(
    df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    k: int = 8,
    max_dup_frac: float = 0.2,
    carry_cols: Iterable[str] = (),
) -> DataFrame:
    """Within-document duplicated k-gram fraction — the Gopher /
    MassiveText "repeated n-gram" quality rule re-expressed over the
    token payload (reference analogue: the per-field content lints of
    bin/analyze_joss.py:199-266): a document whose k-grams repeat
    (boilerplate tiling, copy-paste loops, decoding stutter) is flagged
    even when its unigram entropy looks healthy — a 4-token cycle
    repeated 100× has entropy ln(4) but dup_kgram_frac → 1.

    Scale shape: ONE Arrow mapInArrow stage over a slim (id, tokens)
    projection, one output row per input row, ZERO shuffles (the
    statistic is within-row, plan-pinned). Each batch's token column is
    consumed as the raw Arrow buffers — one flat values array + offsets,
    zero copies; every k-window 64-bit polynomial hash
    comes from the k shifted multiply-accumulate passes of
    `_flat_window_hashes` (O(n) extra memory), and per-row distinct
    counts from per-row segment sorts + one run-length pass — no
    per-row Python allocation. Distinctness is over the 64-bit window
    hash: a row with
    w windows has collision odds ~w²/2^65 (a 10k-token doc: ~3e-12),
    documented rather than paid for with exact window comparison. Rows
    with fewer than k tokens are excluded — no window exists
    (completeness gates catch empty/null upstream).

    Output: (id, carry..., n_tok, n_kgrams, n_distinct_kgrams,
    dup_kgram_frac, repetitive). dup_kgram_frac rounds 6dp
    half-away-from-zero (the token_entropy cross-engine portability
    rule); `carry_cols` pass through the Arrow stage untouched.
    """
    import numpy as np
    import pyarrow as pa

    if k < 1:
        raise ValueError("k must be >= 1")
    carry_cols = list(carry_cols)
    powers = _shingle_powers(k)
    tok_idx = 1 + len(carry_cols)

    def rep_op(it):
        for batch in it:
            n = batch.num_rows
            if not n:
                continue
            flat, offs = _list_flat(batch.column(tok_idx))
            sizes = np.diff(offs)
            h, n_sh, sh_offs = _flat_window_hashes(
                flat.astype(np.uint64, copy=False), sizes, k, powers
            )
            # per-row segment sorts + adjacent-eq run starts: distinct
            # window hashes per row without a global lexsort
            bounds = np.append(sh_offs, h.size)
            _sort_segments(h, bounds)
            eq = np.zeros(h.size, dtype=bool)
            eq[1:] = h[1:] == h[:-1]
            eq[sh_offs[1:]] = False  # a row boundary always starts a run
            ndist = np.add.reduceat(~eq, sh_offs)
            frac = 1.0 - ndist / n_sh
            r6 = lambda x: np.floor(x * 1e6 + 0.5) / 1e6
            yield pa.RecordBatch.from_arrays(
                [batch.column(i) for i in range(tok_idx)]
                + [
                    pa.array(sizes.astype(np.int32)),
                    pa.array(n_sh.astype(np.int32)),
                    pa.array(ndist.astype(np.int32)),
                    pa.array(r6(frac)),
                ],
                names=[id_col, *carry_cols, "n_tok", "n_kgrams",
                       "n_distinct_kgrams", "dup_kgram_frac"],
            )

    dtypes = dict(df.dtypes)
    carry_schema = "".join(f", {c} {dtypes[c]}" for c in carry_cols)
    toks = F.col(tokens_col)
    out = (
        df.where(toks.isNotNull() & (F.size(toks) >= k))
        .select(id_col, *carry_cols, tokens_col)
        .mapInArrow(
            rep_op,
            schema=(
                f"{id_col} {dtypes[id_col]}{carry_schema}, n_tok int, "
                "n_kgrams int, n_distinct_kgrams int, dup_kgram_frac double"
            ),
        )
    )
    return out.withColumn(
        "repetitive", F.col("dup_kgram_frac") > F.lit(float(max_dup_frac))
    )


def token_degen_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    k: int = 8,
    carry_cols: Iterable[str] = (),
) -> DataFrame:
    """Fused per-document degeneracy statistics — entropy AND duplicated
    k-gram fraction from ONE Arrow pass over one scan, for callers that
    need both (the engine's degenerate gate): the corpus is read once
    and crosses Arrow once instead of twice. Same math, rounding and
    row domains as `token_entropy` / `token_kgram_repetition`: every
    row with >= 1 token gets entropy; rows shorter than k get a NULL
    dup_kgram_frac (no window exists).

    r5 measured a fused PANDAS pass slower than two passes (the
    per-worker object working set doubled); with the Arrow-buffer
    formulation the verdict flips — the working set is two flat int64
    arrays, and the saved scan + transfer dominates (re-measured r6,
    see checks/degeneracy.py).

    Output: (id, carry..., n_tok int, entropy double,
    dup_kgram_frac double nullable).
    """
    import numpy as np
    import pyarrow as pa

    if k < 1:
        raise ValueError("k must be >= 1")
    carry_cols = list(carry_cols)
    powers = _shingle_powers(k)
    tok_idx = 1 + len(carry_cols)

    def degen_op(it):
        r6 = lambda x: np.floor(x * 1e6 + 0.5) / 1e6  # noqa: E731
        for batch in it:
            n = batch.num_rows
            if not n:
                continue
            flat, offs = _list_flat(batch.column(tok_idx))
            sizes = np.diff(offs)
            # --- entropy half (token_entropy's exact pass) ---
            s = flat.astype(np.int64)
            _sort_segments(s, offs)
            eq = np.zeros(s.size, dtype=bool)
            eq[1:] = s[1:] == s[:-1]
            eq[offs[1:-1]] = False
            starts = np.flatnonzero(~eq)
            counts = np.diff(np.append(starts, s.size))
            grp_row = np.searchsorted(offs, starts, side="right") - 1
            p = counts / sizes[grp_row]
            terms = -p * np.log(p)
            row_starts = np.flatnonzero(np.r_[True, grp_row[1:] != grp_row[:-1]])
            ent = np.add.reduceat(terms, row_starts)
            del s, eq, starts, counts, grp_row, p, terms
            # --- k-gram half on the rows long enough for a window ---
            ok = sizes >= k
            frac = np.zeros(n, dtype=np.float64)
            if ok.any():
                if ok.all():  # common case: no mask copy of the payload
                    flat_ok = flat.astype(np.uint64, copy=False)
                    lens_ok = sizes
                else:
                    flat_ok = flat[np.repeat(ok, sizes)].astype(np.uint64)
                    lens_ok = sizes[ok]
                h, n_sh, sh_offs = _flat_window_hashes(flat_ok, lens_ok, k, powers)
                bounds = np.append(sh_offs, h.size)
                _sort_segments(h, bounds)
                heq = np.zeros(h.size, dtype=bool)
                heq[1:] = h[1:] == h[:-1]
                heq[sh_offs[1:]] = False
                ndist = np.add.reduceat(~heq, sh_offs)
                frac[ok] = r6(1.0 - ndist / n_sh)
            yield pa.RecordBatch.from_arrays(
                [batch.column(i) for i in range(tok_idx)]
                + [
                    pa.array(sizes.astype(np.int32)),
                    pa.array(r6(ent)),
                    pa.array(frac, mask=~ok),
                ],
                names=[id_col, *carry_cols, "n_tok", "entropy",
                       "dup_kgram_frac"],
            )

    dtypes = dict(df.dtypes)
    carry_schema = "".join(f", {c} {dtypes[c]}" for c in carry_cols)
    return (
        df.where(F.col(tokens_col).isNotNull() & (F.size(tokens_col) > 0))
        .select(id_col, *carry_cols, tokens_col)
        .mapInArrow(
            degen_op,
            schema=(
                f"{id_col} {dtypes[id_col]}{carry_schema}, n_tok int, "
                "entropy double, dup_kgram_frac double"
            ),
        )
    )


def _shingle_powers(k: int):
    """Power vector for the 64-bit polynomial window hash: B odd =>
    multiplication is invertible mod 2^64, so the hash keeps full
    positional sensitivity (a permuted window hashes differently)."""
    import numpy as np

    b = 0x9E3779B97F4A7C15
    pw, acc = [1], 1
    for _ in range(k - 1):
        acc = (acc * b) & 0xFFFFFFFFFFFFFFFF  # mod 2^64
        pw.append(acc)
    return np.array(pw[::-1], dtype=np.uint64)


def _flat_window_hashes(flat, lens, k: int, powers):
    """All k-window hashes over the concatenation of rows with lengths
    `lens` (each >= k): slide once over the flat uint64 array, drop the
    k-1 window starts that straddle a row boundary. Returns (h_all
    int64, n_sh per row, flat shingle index per row start) — no per-row
    Python loop. The flat core so Arrow callers can feed the list
    column's values buffer directly (zero copies)."""
    import numpy as np

    # k shifted multiply-accumulate passes, O(n) extra memory — NOT
    # sliding_window_view * powers, which materializes an (n, k) uint64
    # product array (n·k·8 bytes per batch: ~200 MB at k=50)
    n_win = flat.size - (k - 1)
    h_flat = np.zeros(n_win, dtype=np.uint64)
    for j in range(k):
        h_flat += flat[j : j + n_win] * powers[j]
    h_flat = h_flat.view(np.int64)
    n_sh = lens - (k - 1)  # >= 1: short rows filtered upstream
    offs = np.concatenate(([0], np.cumsum(lens)[:-1]))
    sh_offs = np.cumsum(n_sh) - n_sh
    row_of = np.repeat(np.arange(lens.size), n_sh)
    pos = np.arange(int(n_sh.sum())) - sh_offs[row_of]
    return h_flat[offs[row_of] + pos], n_sh, sh_offs
