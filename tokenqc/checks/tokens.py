"""Token-array lints: id domain, special-token layout, repetition runs.

The reference validates each tool's *payload fields* against their legal
domain and layout — URL fields must parse, identifiers must match their
scheme (/root/reference/main.nf:62-66, bin/analyze_joss.py:199-266) — before any content
check runs. For a pre-tokenized corpus the payload is the token array,
and the analogous gates are:

- **oob_token**: every id must fall in the tokenizer's domain
  ``[0, vocab_size)``. An out-of-range id crashes or silently corrupts
  embedding lookup at train time — the exact failure class the
  reference's format gates exist to stop upstream.
- **bos_interior** / **eos_interior**: template layout. A BOS id may
  appear only at position 0; an EOS id only at the final position.
  Mid-sequence control tokens mean a packing or concatenation bug.
- **long_run**: a run of >= ``max_token_run`` identical consecutive ids
  is degenerate repetition (decoder loops, extraction artifacts).

All four are row-level predicates over the array, evaluated JVM-side
(higher-order functions, no Python), so they ride the engine's single
narrow scan via base.project_facets like every other row gate: at 10^12
rows they add zero scans, zero shuffles, and a few flag bytes per row.

Every facet is opt-in by config (``vocab_size`` etc. default to None)
because the ids are tokenizer-specific; ``"tokens"`` must also be listed
in ``CheckConfig.checks``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from tokenqc.checks.base import CheckConfig, Facet

CHECK = "tokens"


def max_run_col(tokens: Column) -> Column:
    """Length of the longest run of identical consecutive elements.
    NULL elements never extend a run (NULL != NULL); empty/NULL arrays
    give 0.

    Two-tier evaluation, because higher-order functions are
    CodegenFallback (interpreted): the exact O(n) fold allocates a
    3-field struct per element and measured ~10 s over 30 M elements at
    sf0.01 — 25× the whole fused row-gate pass — so it runs only behind
    a cheap screen. The screen (`zip_with` adjacent-equality + `exists`,
    simple int lambdas) is an exact superset: any run of length ≥ 2
    contains an adjacent equal non-null pair. On run-free data (the
    healthy-corpus common case) the fold evaluates on ~0 rows and the
    lint costs the same as the other array facets (~0.3 s at sf0.01);
    worst case (every row degenerate) pays the full fold — the lint's
    cost then scales with how broken the corpus is, not its size."""
    n = F.size(tokens)
    tail = F.slice(tokens, 2, F.greatest(n - 1, F.lit(0)))
    has_pair = F.exists(
        F.zip_with(tokens, tail, lambda a, b: a.isNotNull() & a.eqNullSafe(b)),
        lambda x: x,
    )

    init = F.struct(
        F.lit(0).cast("int").alias("run"),
        F.lit(0).cast("int").alias("mx"),
        F.lit(None).cast("int").alias("prev"),
    )

    def step(acc: Column, x: Column) -> Column:
        run = (
            F.when(acc["prev"].isNotNull() & (x == acc["prev"]), acc["run"] + 1)
            .otherwise(F.lit(1))
        )
        return F.struct(
            run.alias("run"), F.greatest(acc["mx"], run).alias("mx"), x.alias("prev")
        )

    fold = F.aggregate(tokens, init, step, lambda acc: acc["mx"])
    no_run = F.when(n >= 1, F.lit(1)).otherwise(F.lit(0))
    return F.coalesce(F.when(has_pair, fold).otherwise(no_run), F.lit(0))


def _interior(tokens: Column, head_off: int, tail_off: int) -> Column:
    """Slice of `tokens` excluding `head_off` leading and `tail_off`
    trailing elements (1-indexed F.slice; empty when the array is
    shorter than the offsets)."""
    n = F.size(tokens)
    return F.slice(
        tokens, 1 + head_off, F.greatest(F.lit(0), n - head_off - tail_off)
    )


def facets(cfg: CheckConfig) -> list[Facet]:
    enabled = (cfg.vocab_size, cfg.bos_id, cfg.eos_id, cfg.max_token_run)
    if all(v is None for v in enabled):
        # nothing configured — avoid building Column expressions (which
        # require an active session) for a no-op check
        return []
    toks = F.col("tokens")
    present = toks.isNotNull()
    fs: list[Facet] = []
    if cfg.vocab_size is not None:
        v = int(cfg.vocab_size)
        bad = F.filter(toks, lambda t: t.isNull() | (t < 0) | (t >= F.lit(v)))
        fs.append(
            Facet(
                CHECK,
                "oob_token",
                present & (F.size(bad) > 0),
                # bounded observed string: offender count + first 3 ids
                F.concat_ws(
                    "@", F.size(bad).cast("string"),
                    F.concat_ws(",", F.transform(F.slice(bad, 1, 3),
                                                 lambda t: t.cast("string"))),
                ),
                f"all tokens in [0, {v})",
            )
        )
    if cfg.bos_id is not None:
        b = int(cfg.bos_id)
        interior = _interior(toks, 1, 0)  # everything after position 0
        fs.append(
            Facet(
                CHECK,
                "bos_interior",
                present & F.array_contains(interior, b),
                # 1-indexed absolute position of the first interior BOS
                (F.array_position(interior, b) + 1),
                f"bos id {b} only at position 0",
            )
        )
    if cfg.eos_id is not None:
        e = int(cfg.eos_id)
        interior = _interior(toks, 0, 1)  # everything before the last slot
        fs.append(
            Facet(
                CHECK,
                "eos_interior",
                present & F.array_contains(interior, e),
                F.array_position(interior, e),
                f"eos id {e} only at final position",
            )
        )
    if cfg.max_token_run is not None:
        k = int(cfg.max_token_run)
        mr = max_run_col(toks)
        fs.append(
            Facet(
                CHECK,
                "long_run",
                present & (mr >= k),
                mr,
                f"max identical-token run < {k}",
            )
        )
    return fs
