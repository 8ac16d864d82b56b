"""Deduplication operators over a (doc_id, text) corpus.

Four tiers, all Spark-first:

- **exact**: hash-groupBy on a content digest — one shuffle of 16-byte
  digests, never of text.
- **n-gram Jaccard**: exact pairwise set similarity via an inverted
  shingle index (explode → self-equi-join on shingle → count/sizes).
  Quadratic in bucket sizes; the honest baseline for verification.
- **MinHash + LSH**: the 100-TB path. Per doc: shingle-hash array →
  k affine min-hashes (JVM-side `transform`/`array_min`, no Python) →
  band buckets → candidate pairs only within equal (band, bucket) —
  replaces the all-pairs join with a near-linear bucket join; verified
  with exact Jaccard on candidates only.
- **SimHash**: 64-bit per-doc signature via per-bit majority vote over
  word hashes; near-dups = signatures at small Hamming distance found
  via chunk buckets (pigeonhole: d ≤ 3 ⇒ some 16-bit chunk equal).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# Mersenne prime 2^31-1: affine permutation family for minhash. Kept at
# 31 bits so h*a+b stays < 2^62 (no long overflow under ANSI arithmetic).
_P = (1 << 31) - 1


def exact_duplicates(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Groups of byte-identical documents: (text_hash, cnt) with cnt > 1."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") > 1)
    )


def _shingles(text_col: str, n: int = 3) -> F.Column:
    """Distinct word n-gram shingles of a text column (JVM-side only).

    Formed by zipping n shifted slices of the word array — NOT a
    `transform(idx, i -> concat_ws(slice(words, i+1, n)))` lambda:
    higher-order functions are interpreted and re-evaluate argument
    subtrees per element, so the slice-in-lambda form re-ran the whole
    split PER SHINGLE — O(words²) per document. Here each slice is an
    argument expression (evaluated once per row) and the lambda is
    O(1) per shingle; `arrays_zip` pads the tail slices with NULLs,
    which `concat_ws` skips — byte-identical grams to the slice form
    (including the short trailing grams of docs with < n words)."""
    words = F.split(F.col(text_col), " ")
    m = F.greatest(F.size(words) - n, F.lit(0)) + 1  # gram count
    shifted = [F.slice(words, j + 1, m).alias(f"w{j}") for j in range(n)]
    grams = F.transform(
        F.arrays_zip(*shifted),
        lambda x: F.concat_ws(" ", *[x[f"w{j}"] for j in range(n)]),
    )
    return F.array_distinct(grams)


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    n: int = 3, threshold: float = 0.6, max_shingle_df: int | None = None,
) -> DataFrame:
    """All pairs with word-n-gram Jaccard >= threshold: (id_a, id_b, jaccard).

    Inverted-index join: |pairs| is bounded by shingle co-occurrence, not
    |docs|². The self-join is quadratic in per-shingle document frequency
    — one boilerplate shingle shared by 10^6 docs would create 10^12
    candidate rows — so `max_shingle_df` caps it (standard df-pruning):
    shingles hotter than the cap are dropped from *candidate generation*
    only; the Jaccard itself is then verified exactly on the full shingle
    sets, so reported similarities are never approximated. With the cap,
    pairs that co-occur ONLY under hotter-than-cap shingles are skipped —
    choose the cap so that is noise (a shingle shared by >max_df docs
    carries ~no similarity signal). None = exact/uncapped (verification
    baseline; the LSH variant below is the 100-TB candidate pruner).
    """
    sh = df.select(F.col(id_col).alias("id"), F.explode(_shingles(text_col, n)).alias("s"))
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    idx = sh
    if max_shingle_df is not None:
        hot = (
            sh.groupBy("s")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > max_shingle_df)
            .select("s")
        )
        idx = sh.join(hot, on="s", how="left_anti")
    a = idx.alias("a")
    b = idx.alias("b")
    cand = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # exact intersection over FULL shingle sets (the cap never skews j)
    full = df.select(F.col(id_col).alias("id"), _shingles(text_col, n).alias("sh"))
    verified = (
        cand.join(full.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(full.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .withColumn("i", F.size(F.array_intersect("sh_a", "sh_b")))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    j = F.col("i") / (F.col("sz_a") + F.col("sz_b") - F.col("i"))
    return (
        verified.join(sa, "id_a")
        .join(sb, "id_b")
        .where(j >= threshold)
        .select("id_a", "id_b", F.round(j, 6).alias("jaccard"))
    )


def minhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    n: int = 3, k: int = 64, seed: int = 7,
) -> DataFrame:
    """(id, sig: array<long>[k]) — k affine min-hash values per doc.

    All JVM-side, no Python: shingles hashed once via xxhash64, exploded,
    then k partial-aggregated mins (one shuffle of k longs per doc).
    Deterministic (fixed a/b parameters from seed).
    """
    import random

    rnd = random.Random(seed)
    params = [(rnd.randrange(1, _P), rnd.randrange(0, _P)) for _ in range(k)]
    # classic explode + min-aggregate formulation: each shingle hash is
    # computed ONCE (higher-order array functions are interpreted, so
    # per-permutation transforms over the array would recompute the
    # shingles k times — measured 15x slower), then k partial-aggregated
    # mins reduce map-side before a shuffle of k longs per doc.
    hashed = F.transform(_shingles(text_col, n), lambda s: F.abs(F.xxhash64(s)) % _P)
    exploded = df.select(F.col(id_col).alias("id"), F.explode(hashed).alias("h"))
    mins = [F.min((F.col("h") * a + b) % _P).alias(f"m{j}") for j, (a, b) in enumerate(params)]
    agg = exploded.groupBy("id").agg(*mins)
    return agg.select("id", F.array(*[F.col(f"m{j}") for j in range(k)]).alias("sig"))


def minhash_lsh_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    n: int = 3, k: int = 64, bands: int = 16, threshold: float = 0.6, seed: int = 7,
    cache: bool = True,
) -> DataFrame:
    """Candidate pairs via banded LSH, verified with exact Jaccard.

    bands=16 × rows=4 over k=64 → S-curve threshold ≈ (1/16)^(1/4) ≈ 0.5.
    The band bucket join shuffles (band, bucket_hash, id) triples only.

    `cache=True` persists the bucket frame before the self-join: Spark
    aliases the two sides, so without it each side re-derives the whole
    shingle→minhash pipeline — doubling the corpus's most expensive
    stage (verified in the physical plan). At 10^12 docs, write the
    signature table out once and self-join the stored table instead.
    """
    rows = k // bands
    sigs = minhash_signatures(df, id_col, text_col, n, k, seed)
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(F.slice("sig", b * rows + 1, rows)).alias("bh"),
            )
            for b in range(bands)
        ]
    )
    buckets = sigs.select("id", F.explode(band_arr).alias("bb")).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    )
    if cache:
        buckets = buckets.persist()
    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # verify candidates with exact jaccard (join back to shingle sets)
    sh = df.select(F.col(id_col).alias("id"), _shingles(text_col, n).alias("sh"))
    verified = (
        cand.join(sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .withColumn("i", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("u", F.size("sh_a") + F.size("sh_b") - F.col("i"))
        .where(F.col("i") / F.col("u") >= threshold)
    )
    return verified.select(
        "id_a", "id_b", F.round(F.col("i") / F.col("u"), 6).alias("jaccard")
    )


def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64
) -> DataFrame:
    """64-bit SimHash per doc: per-bit majority vote over word hashes.

    Vote for bit j = Σ_words (2·bit_j(h) − 1); sign → bit. Expressed as
    one aggregate over the word-hash array per row (aggregate + shiftright
    — JVM expressions, no Python, no shuffle).
    """
    # one pass over the word-hash array; SQL-expression form because the
    # Python functions API only takes literal ints for shift amounts,
    # while the SQL ShiftLeft/ShiftRight accept full expressions
    sig = F.expr(
        f"""
        aggregate(
          zip_with(
            aggregate(
              transform(split({text_col}, ' '), w -> xxhash64(w)),
              array_repeat(cast(0 as bigint), {bits}),
              (acc, h) -> zip_with(
                acc,
                transform(sequence(0, {bits - 1}),
                          j -> (shiftright(h, j) & cast(1 as bigint)) * 2 - 1),
                (a, v) -> a + v)),
            sequence(0, {bits - 1}),
            (v, j) -> if(v > 0, shiftleft(cast(1 as bigint), cast(j as int)),
                         cast(0 as bigint))),
          cast(0 as bigint), (acc, x) -> acc | x)
        """
    )
    return df.select(F.col(id_col).alias("id"), sig.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", max_hamming: int = 3,
    cache: bool = True,
) -> DataFrame:
    """Pairs with Hamming(simhash) <= max_hamming via bit-chunk buckets.

    The chunk count is derived from the radius: splitting 64 bits into
    (max_hamming + 1) chunks guarantees (pigeonhole) that any pair within
    the radius shares at least one identical chunk — full recall at every
    radius, unlike a fixed 4x16 split which silently drops d > 3 pairs.
    Tradeoff made explicit: a larger radius means narrower chunks, so
    buckets get hotter (width w bits ⇒ expected bucket size n/2^w); past
    max_hamming ≈ 15 (4-bit chunks) prefer multi-chunk combination
    tables before running this at corpus scale.

    max_hamming = 0 is rejected: Hamming distance 0 means identical
    signatures, which is a plain equality groupBy (exact_duplicates on
    the signature), not a chunk-bucket search — and the single 64-bit
    "chunk" it would imply has no LongType-representable full mask.
    """
    if not 1 <= max_hamming < 64:
        raise ValueError(
            f"max_hamming must be in [1, 64), got {max_hamming} "
            "(for exact signature equality use a plain groupBy/exact_duplicates)"
        )
    n_chunks = max_hamming + 1
    base_w, extra = divmod(64, n_chunks)
    widths = [base_w + (1 if c < extra else 0) for c in range(n_chunks)]
    offsets = [sum(widths[:c]) for c in range(n_chunks)]
    sigs = simhash_signatures(df, id_col, text_col)
    chunk_structs = [
        F.struct(
            F.lit(c).alias("chunk"),
            F.shiftright("simhash", offsets[c])
            .bitwiseAND(F.lit((1 << widths[c]) - 1))
            .alias("cv"),
        )
        for c in range(n_chunks)
    ]
    chunks = sigs.select(
        "id", "simhash", F.explode(F.array(*chunk_structs)).alias("cc")
    ).select("id", "simhash", F.col("cc.chunk").alias("chunk"), F.col("cc.cv").alias("cv"))
    if cache:  # same double-compute trap as minhash: see minhash_lsh_pairs
        chunks = chunks.persist()
    a = chunks.alias("a")
    b = chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sa"),
            F.col("b.simhash").alias("sb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return cand.where(ham <= max_hamming).select("id_a", "id_b", ham.alias("hamming"))


def embedding_near_pairs(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    threshold: float = 0.9, mode: str = "auto",
    n_planes: int = 16, n_tables: int = 8, seed: int = 11, dim: int = 64,
) -> DataFrame:
    """Near-duplicate vectors by cosine >= threshold.

    - ``exact``: all-pairs theta join — quadratic; the verification
      baseline and the right plan at LOW thresholds.
    - ``lsh``: the 100-TB path for near-dup thresholds — candidates are
      pairs sharing a bucket in ANY of `n_tables` random-hyperplane sign
      signatures (OR-amplified), then verified with the exact cosine
      in-bucket only, so the output is never approximate — LSH can only
      *miss* pairs, with probability (1 - p^planes)^tables per pair
      where p = 1 - theta/pi.
    - ``auto``: lsh iff threshold >= 0.7. Below ~0.7 the per-plane
      collision probability is so high that bucket candidates approach
      all-pairs and the exact join is the better plan; above it the
      bucket join is near-linear.
    """
    from corpusops.textops.simsearch import cosine_expr, hyperplane_lsh_bucket

    use_lsh = mode == "lsh" or (mode == "auto" and threshold >= 0.7)
    cos = cosine_expr(F.col("va"), F.col("vb"))
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    if not use_lsh:
        pairs = va.join(vb, F.col("id_a") < F.col("id_b"))
        return pairs.where(cos >= threshold).select(
            "id_a", "id_b", F.round(cos, 6).alias("cosine")
        )
    tables = [
        hyperplane_lsh_bucket(df, n_planes, seed + 1000 * t, id_col, vec_col, dim)
        .select("id", F.lit(t).alias("tbl"), "bucket")
        for t in range(n_tables)
    ]
    buckets = tables[0]
    for t in tables[1:]:
        buckets = buckets.unionByName(t)
    # persist: the self-join would otherwise recompute all n_tables
    # signature scans for each side (2T scans of the vector column)
    buckets = buckets.persist()
    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    verified = cand.join(va, "id_a").join(vb, "id_b")
    return verified.where(cos >= threshold).select(
        "id_a", "id_b", F.round(cos, 6).alias("cosine")
    )


def connected_components(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b", max_iter: int = 25
) -> DataFrame:
    """Duplicate-cluster labeling: connected components over the near-dup
    pair graph, so each duplicate group gets one canonical id (its
    minimum member) — the step that turns pairwise dedup output into
    keep/drop decisions.

    Iterative min-label propagation (the classic Spark formulation):
    every node starts labeled with itself; each round, labels flow across
    edges and every node keeps the minimum seen. Rounds needed = graph
    diameter — near-dup clusters are small and dense, so a handful; each
    round is one broadcast-free join + partial-aggregated min. The
    fixpoint test rides on sum(xxhash64(component)): labels only change
    by strictly decreasing per id, so an unchanged label multiset IS
    convergence, and the hash-sum detects any change regardless of the
    label TYPE (string doc_ids included — a plain sum(component) only
    works for numeric labels and throws CAST_INVALID_INPUT under ANSI
    for the engine's own `doc_id: string` domain). Collision odds of a
    changed round hashing to the same sum are ~2^-64 per round. One tiny
    driver-side row per round.

    Lineage is truncated per round with ``localCheckpoint(eager=True)``
    — NOT persist(): measured on Spark 4 + AQE, a persist/unpersist
    chain did not stop round N+1 from re-executing the whole recursive
    lineage, so per-round cost grew ~3.5x per round (52 s by round 7 on
    a 13-node graph; flat ~0.5 s/round after the change). Trade-off:
    localCheckpoint blocks live on executors, so a lost executor fails
    the job instead of recomputing — acceptable for a driver-side
    iterative loop that simply reruns; switch to reliable
    ``checkpoint()`` with a checkpoint dir when executor churn is
    expected. For adversarial long-chain graphs, swap in
    large-star/small-star (same join shape, O(log n) rounds).

    Raises RuntimeError if `max_iter` rounds pass without reaching the
    fixpoint (graph diameter > max_iter): returning the unconverged
    labels would silently split duplicate clusters downstream.

    Output: (id, component) for every node that appears in `pairs`.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = edges.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("component")
    ).localCheckpoint(eager=True)
    # decimal(38,0) accumulator: a long sum of 64-bit hashes overflows
    # (and throws) under ANSI after a handful of rows
    label_sum = lambda df: df.agg(  # noqa: E731
        F.sum(F.xxhash64("component").cast("decimal(38,0)"))
    ).first()[0]
    prev_sum = label_sum(labels)
    converged = False
    for _ in range(max_iter):
        msgs = edges.join(
            labels.withColumnRenamed("id", "src"), on="src"
        ).select(F.col("dst").alias("id"), "component")
        # eager localCheckpoint: materializes AND severs the recursive
        # lineage, so every round costs one fixed-size job (see docstring)
        new_labels = (
            labels.unionByName(msgs)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=True)
        )
        new_sum = label_sum(new_labels)
        labels = new_labels
        if new_sum == prev_sum:  # per-id labels only decrease: fixpoint
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds (graph diameter exceeds the budget); raise max_iter or use "
            "a large-star/small-star formulation for long-chain graphs"
        )
    return labels


def cluster_representatives(
    labels: DataFrame,
    scores: DataFrame,
    id_col: str = "id",
    score_col: str = "quality_score",
) -> DataFrame:
    """One representative per duplicate cluster: the member with the
    highest score, ties broken by the smallest id — the curation step
    that turns `connected_components` labels plus a quality signal into
    keep/drop decisions (keep the representative, drop the rest).

    Scale shape: argmax is an ordinary aggregation — `min` over the
    orderable struct (-score, id), which Spark partial-aggregates
    map-side — NOT a per-cluster window. A degenerate corpus where one
    boilerplate page yields a 10^9-member cluster collapses to one
    struct per map task here, where row_number() would sort the whole
    cluster inside a single task. `scores` joins on `id_col` (an inner
    join: unscored members can never be chosen, and n_members counts
    scored members). NaN scores sort ABOVE every real number in Spark's
    ordering, so a NaN-scored member loses to any real-scored one
    (min picks the smallest struct); clean scores upstream if NaN means
    "unscorable" rather than "worst".

    Output: (component, rep_id, rep_score, n_members).
    """
    j = labels.join(scores.select(id_col, score_col), on=id_col)
    return (
        j.groupBy("component")
        .agg(
            # lexicographic struct min == (max score, then min id)
            F.min(
                F.struct(
                    (-F.col(score_col)).alias("ns"), F.col(id_col).alias("i")
                )
            ).alias("b"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .select(
            "component",
            F.col("b.i").alias("rep_id"),
            (-F.col("b.ns")).alias("rep_score"),
            "n_members",
        )
    )


def incremental_new_docs(
    batch: DataFrame,
    seen_digests: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    digest_col: str = "text_hash",
) -> DataFrame:
    """Delta dedup for an append-only corpus: admit only the batch docs
    whose content digest is (a) absent from the existing corpus and
    (b) unique within the batch itself (smallest id wins) — the
    incremental twin of `exact_duplicates` for the ingest path, where
    re-running global dedup per batch would rescan the whole corpus.

    Scale shape: both sides reduce to 16-byte digests before any
    exchange (text never shuffles); the anti-join sort-merges on the
    digest — correct when `seen_digests` is itself corpus-sized
    (billions of rows: broadcasting is impossible and unnecessary) —
    and the within-batch min(id) partial-aggregates map-side.

    Null-text rows: md5(NULL) is NULL, a NULL digest never equi-matches
    the seen side, and all NULL digests group together — so at most ONE
    null-text row (min id) is admitted per batch, with text_hash NULL.
    Filter nulls upstream if they mean "absent", not "empty document".

    Output: (doc_id, text_hash) — the rows to append, one per new digest.
    """
    d = batch.select(F.col(id_col), F.md5(F.col(text_col)).alias(digest_col))
    fresh = d.join(seen_digests.select(digest_col), on=digest_col, how="left_anti")
    return (
        fresh.groupBy(digest_col)
        .agg(F.min(id_col).alias(id_col))
        .select(id_col, digest_col)
    )


def chunk_dup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 20,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document duplicate-chunk ratio: sub-document dedup evidence
    (the paragraph-dedup stage of web-corpus pipelines, expressed over
    fixed word windows so it also works on paragraph-free text).

    Each doc is cut into consecutive `chunk_words`-word windows (last
    window may be short); a chunk is *duplicated* when its content
    occurs in >= `min_docs` distinct documents. Every occurrence of a
    duplicated chunk counts toward its doc's numerator, so a doc that
    repeats a cross-doc-duplicated chunk is penalised per occurrence.

    Scale shape: the text column is hashed to 16-byte md5 digests in
    the scan pass — only (doc_id, digest) rows ever shuffle, never
    text. The duplicated-digest dimension is data-dependent (a corpus
    of near-identical boilerplate could make it huge), so the join-back
    carries NO broadcast hint; AQE upgrades it at runtime when small.
    Both aggregations partial-aggregate map-side.

    Reference analogue: the reference grades each repo once per check
    (bin/analyze_joss.py:302-345); this is the corpus-level sibling where the
    unit of grading is a sub-document span.

    Output: (doc_id, n_chunks, n_dup_chunks, dup_chunk_ratio) — ratio
    rounded to 6dp; docs with no duplicated chunk report 0.0.
    """
    # words materialize ONCE per row behind a projection boundary: the
    # slice inside the interpreted transform lambda would otherwise
    # re-run the whole split per chunk — O(words²/chunk) per document
    # (the _shingles/dsir lesson; CollapseProject keeps the boundary
    # because split is not a cheap expression)
    w = F.col("__w")
    n_chunks = F.ceil(F.size(w) / F.lit(float(chunk_words))).cast("int")
    idx = F.sequence(F.lit(0), n_chunks - 1)
    chunks = F.transform(
        idx,
        lambda i: F.md5(F.concat_ws(" ", F.slice(w, i * chunk_words + 1, chunk_words))),
    )
    hashed = df.select(
        F.col(id_col), F.split(F.trim(F.col(text_col)), r"\s+").alias("__w")
    ).select(F.col(id_col), F.explode(chunks).alias("chash"))
    dups = (
        hashed.groupBy("chash")
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
        .select("chash")
    )
    per_doc = hashed.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_chunks"))
    dup_per_doc = (
        hashed.join(dups, "chash")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_dup"))
    )
    return per_doc.join(dup_per_doc, id_col, "left").select(
        F.col(id_col),
        F.col("n_chunks"),
        F.coalesce(F.col("n_dup"), F.lit(0)).cast("long").alias("n_dup_chunks"),
        F.round(
            F.coalesce(F.col("n_dup"), F.lit(0)) / F.col("n_chunks").cast("double"), 6
        ).alias("dup_chunk_ratio"),
    )


def dup_span_coverage(
    df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicated-SPAN coverage over the token payload —
    the per-document measurement behind exact-substring training-data
    dedup (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better"): what fraction of a document's tokens sits inside
    at least one k-gram that also occurs in >= `min_docs` distinct
    documents. `token_kgram_repetition` grades WITHIN-doc repetition;
    this grades BETWEEN-doc duplication at sub-document granularity,
    where whole-doc digests and shingle Jaccard both under-report
    (a unique page quoting a viral paragraph scores 0 on both).

    Scale shape: one Arrow stage projects each doc to its window-hash
    array (`_dup_window_rows` — the vectorized multiply-accumulate over
    the list column's flat buffer; the token array itself never leaves
    the scan stage), then posexplodes to slim (id, n_tok, p, h) rows.
    Three keyed exchanges, all on 8-byte-hash/numeric rows: the per-h
    min/max(id) partial agg for the >=2-distinct-docs test, the
    h-equi-join back (no broadcast hint — the dup-hash dimension is
    data-dependent; AQE upgrades and skew-splits at runtime), and the
    per-doc interval sweep, a window partitioned BY DOCUMENT so its
    group size is bounded by n_tok — never by corpus-wide key
    popularity. Coverage = classic sorted sweep: contribution of
    window [p, p+k) is the part past the running max end of earlier
    windows, so overlapping spans are merged without materializing
    per-token rows.

    Output: (id, n_tok, n_dup_kgrams, covered_tokens, dup_span_ppm)
    for docs with at least one duplicated window; dup_span_ppm is
    integer (covered * 10^6 DIV n_tok) — exact cross-engine. Docs
    shorter than k have no window and are excluded.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    dup_wins = _dup_window_rows(df, id_col, tokens_col, k, min_docs)
    w = Window.partitionBy(id_col).orderBy("p")
    prev_end = F.max(F.col("p") + k).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    contrib = F.greatest(
        F.lit(0),
        F.col("p") + k - F.greatest(F.col("p"), F.coalesce(prev_end, F.lit(0))),
    )
    return (
        dup_wins.withColumn("_c", contrib)
        .groupBy(id_col, "n_tok")
        .agg(
            F.count(F.lit(1)).alias("n_dup_kgrams"),
            F.sum("_c").alias("covered_tokens"),
        )
        .withColumn(
            "dup_span_ppm", F.expr("covered_tokens * 1000000L DIV n_tok")
        )
    )


def _dup_window_rows(
    df: DataFrame, id_col: str, tokens_col: str, k: int, min_docs: int
) -> DataFrame:
    """Shared front half of the exact-substring dedup pair
    (`dup_span_coverage` / `dup_span_scrub`): slim (id, n_tok, p, h)
    rows for every k-gram window whose 64-bit window hash occurs in
    >= `min_docs` distinct documents.

    Window hashing runs in ONE Arrow mapInArrow stage (the textqc
    shifted multiply-accumulate over the list column's flat values
    buffer, zero copies) — NOT the JVM `transform(sequence, p ->
    xxhash64(slice(toks, p, k)))` formulation: higher-order functions
    are CodegenFallback-interpreted and allocate a k-slice per window
    (the measured 15-22 s trap documented at
    textqc.token_contamination_flags; swapping this stage measured
    ~2.4x on the whole operator). Equal windows still hash equal and
    the 64-bit collision odds (~n²/2⁶⁵ corpus-wide) are the same class
    as xxhash64's — the hash never appears in any output. The stage
    emits one hash ARRAY row per doc; the JVM posexplodes, so only
    8-byte-hash rows shuffle.

    The duplicated-hash dimension: at the default min_docs=2 the test
    "appears in >= 2 distinct docs" is exactly min(id) != max(id),
    which plain partial-aggregates map-side — no count_distinct
    (whose rewrite shuffles the deduped (h, id) pairs through a second
    exchange). General min_docs keeps the count_distinct path. No
    broadcast hint on the join back: the dup-hash cardinality is
    data-dependent, AQE upgrades/skew-splits at runtime."""
    import numpy as np
    import pyarrow as pa

    from tokenqc.checks.degeneracy import (
        _flat_window_hashes,
        _list_flat,
        _shingle_powers,
    )

    powers = _shingle_powers(k)

    def hash_op(it):
        for batch in it:
            if not batch.num_rows:
                continue
            flat, offs = _list_flat(batch.column(1))
            lens = np.diff(offs)
            h, n_sh, _ = _flat_window_hashes(
                flat.astype(np.uint64, copy=False), lens, k, powers
            )
            h_offs = np.concatenate(([0], np.cumsum(n_sh)))
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    pa.array(lens.astype(np.int32)),
                    pa.ListArray.from_arrays(
                        pa.array(h_offs.astype(np.int32)), pa.array(h)
                    ),
                ],
                names=[id_col, "n_tok", "_hs"],
            )

    toks = F.col(tokens_col)
    dtypes = dict(df.dtypes)
    hashed = (
        df.where(toks.isNotNull() & (F.size(toks) >= k))
        .select(id_col, tokens_col)
        .mapInArrow(
            hash_op,
            schema=f"{id_col} {dtypes[id_col]}, n_tok int, _hs array<bigint>",
        )
    )
    wins = hashed.select(id_col, "n_tok", F.posexplode("_hs").alias("p", "h"))
    if min_docs == 2:
        duph = (
            wins.groupBy("h")
            .agg(F.min(id_col).alias("_lo"), F.max(id_col).alias("_hi"))
            .where(F.col("_lo") != F.col("_hi"))
            .select("h")
        )
    else:
        duph = (
            wins.groupBy("h")
            .agg(F.count_distinct(id_col).alias("n_docs"))
            .where(F.col("n_docs") >= min_docs)
            .select("h")
        )
    return wins.join(duph, "h")


def dup_span_scrub(
    df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Exact-substring dedup REMOVAL (the action `dup_span_coverage`
    measures): drop every token that sits inside a k-gram shared by
    >= `min_docs` distinct documents — the Lee et al. 2022 scrub that
    removes the viral paragraph from every page quoting it while
    keeping each page's unique prose. Rows whose tokens are shorter
    than k (or carry no duplicated window) pass through untouched;
    null-token rows pass through with a null clean array.

    Scale shape: shares `_dup_window_rows` (in-row window hashing, slim
    8-byte exchanges). Duplicated windows merge into disjoint intervals
    per doc via gaps-and-islands — BOTH windows partition BY DOCUMENT
    and order by position, so group size is bounded by n_tok, never by
    corpus-wide window popularity (the viral paragraph adds interval
    rows to every quoting doc's own group, not to one hot group). The
    interval lists then join back onto the intact doc rows — the ONE
    exchange the token arrays cross (no broadcast hint: the interval
    side is data-dependent; AQE upgrades it when small) — and the scrub
    itself is an in-row positional `filter` over the merged-interval
    array: O(n_tok * n_islands) per row, with n_islands <= n_tok/(k+1)+1
    by disjointness.

    Output: df's id column + (n_tok, n_kept, tokens_clean).
    Reference analogue: the scrubbing half of the reference's
    fix-what-you-flag loop (/root/reference/bin/analyze_joss.py flags;
    here the flagged spans are removed, not just counted)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    dup_wins = _dup_window_rows(df, id_col, tokens_col, k, min_docs)
    w = Window.partitionBy(id_col).orderBy("p")
    prev_end = F.max(F.col("p") + k).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    is_new = F.when(
        F.col("p") > F.coalesce(prev_end, F.lit(-1)), F.lit(1)
    ).otherwise(F.lit(0))
    islands = (
        dup_wins.withColumn("_new", is_new)
        .withColumn(
            "_isl", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
        .groupBy(id_col, "_isl")
        .agg(F.min("p").alias("s"), (F.max("p") + k).alias("e"))
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list(F.struct("s", "e"))).alias("_ivs"))
    )
    toks = F.col(tokens_col)
    clean = F.when(F.col("_ivs").isNull(), toks).otherwise(
        F.filter(
            toks,
            lambda t, i: ~F.exists(
                F.col("_ivs"), lambda iv: (i >= iv["s"]) & (i < iv["e"])
            ),
        )
    )
    return (
        df.join(islands, on=id_col, how="left")
        .withColumn("tokens_clean", clean)
        .select(
            id_col,
            F.size(toks).cast("int").alias("n_tok"),
            F.size("tokens_clean").cast("int").alias("n_kept"),
            "tokens_clean",
        )
    )


def cross_source_dup_matrix(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Pairwise source-leakage matrix on exact content digests: for
    every pair of sources that share at least one identical document
    text, the number of distinct shared digests — the first question a
    split/leakage audit asks ("is my eval slice inside the web crawl?",
    "do these two dumps overlap?") before any per-pair dedup runs.

    Scale shape: the text column collapses to a 16-byte md5 in the
    scan pass, then (digest, source) distinct — one partial-agg'd
    exchange, never text. The self-join is keyed on the digest; both
    sides are the SAME frame, so the second exchange is a
    ReusedExchange, and per-digest fan-out is bounded by the source
    vocabulary (≤ |sources| choose 2 pairs per digest), never by corpus
    size. Output ≤ |sources|² rows — report-sized. NO broadcast hint:
    the distinct-digest dimension is corpus-sized by design.

    Reference analogue: the reference's cross-tool consistency join
    (/root/reference/bin/analyze_joss.py:199-266 keyed across sources)
    lifted to content identity across corpus slices.

    Output: (source_a, source_b, n_shared) with source_a < source_b.
    """
    d = (
        df.where(F.col(text_col).isNotNull() & F.col(source_col).isNotNull())
        .select(
            F.md5(F.col(text_col)).alias("text_hash"),
            F.col(source_col).alias("source"),
        )
        .distinct()
    )
    a, b = d.alias("a"), d.alias("b")
    return (
        a.join(b, "text_hash")
        .where(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def cluster_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    weights: dict | None = None,
    salt: str = "split-v1",
    max_iter: int = 25,
) -> DataFrame:
    """Leakage-free train/val/test split: assign every document by the
    md5 bucket of its near-dup CLUSTER's canonical id, not its own id —
    the step a naive `deterministic_split` misses: two near-identical
    docs hash to independent buckets, so ~2·p_test of every dup cluster
    straddles the train/test boundary and the eval set leaks. Splitting
    AFTER clustering makes the whole cluster move together.

    Composition, not new machinery: `connected_components` labels the
    pair graph (min-id canonical per cluster), the label joins back
    (left — singleton docs without any near-dup pair form their own
    group, so their assignment is IDENTICAL to plain
    `deterministic_split`, an invariant pinned in tests), and
    `textqc.deterministic_split` hashes the group id. The label
    dimension is the pair-graph node set — a data-dependent fraction
    of the corpus, so the join carries NO broadcast hint (AQE upgrades
    when the dup set is small).

    Output: input columns + group_id (the cluster canonical or the
    doc's own id) + (bucket, split). Reference analogue: the
    reference's per-tool fan-out keyed on the derived canonical
    (/root/reference/main.nf:91-116) — grouping before grading.
    """
    from corpusops.textops import textqc

    labels = connected_components(pairs, max_iter=max_iter)
    joined = df.join(
        labels.withColumnRenamed("id", id_col), id_col, "left"
    ).withColumn("group_id", F.coalesce(F.col("component"), F.col(id_col)))
    out = textqc.deterministic_split(
        joined.drop("component"), id_col="group_id", weights=weights, salt=salt
    )
    return out


# ---------------------------------------------------------------------------
# Winnowing fingerprints (MOSS): local-overlap detection robust to edits
# ---------------------------------------------------------------------------
def _winnow_powers(k: int, mod_p: int):
    """Power vector B^(k-1-j) mod P for the mod-P polynomial window
    hash. P < 2^31 keeps every product tok*pw < 2^62 (exact in int64 /
    uint64 AND in a float64 mantissa), so the identical hash is
    computable in any engine with 64-bit integers — the property the
    winnowing oracle relies on. B odd and coprime to P preserves
    positional sensitivity (permuted windows hash differently)."""
    import numpy as np

    b = 1000003 % mod_p
    pw, acc = [1], 1
    for _ in range(k - 1):
        acc = (acc * b) % mod_p
        pw.append(acc)
    return np.array(pw[::-1], dtype=np.uint64)


def _sliding_min(a, w: int):
    """O(n) sliding-window minimum (block prefix/suffix method): for a
    window of width w starting at i, min = min(suffix-min of i's block
    from i, prefix-min of (i+w-1)'s block to i+w-1), with block size w.
    Fully vectorized — no per-window loop, no (n, w) window view."""
    import numpy as np

    if w == 1:
        return a
    n = a.size
    nw = n - w + 1
    nb = -(-n // w)
    pad = nb * w - n
    ap = np.concatenate([a, np.full(pad, np.iinfo(a.dtype).max, a.dtype)])
    blk = ap.reshape(nb, w)
    pref = np.minimum.accumulate(blk, axis=1).ravel()
    suff = np.minimum.accumulate(blk[:, ::-1], axis=1)[:, ::-1].ravel()
    return np.minimum(suff[:nw], pref[w - 1 : w - 1 + nw])


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    k: int = 8,
    w: int = 8,
    mod_p: int = _P,
) -> DataFrame:
    """Winnowed document fingerprints (Schleimer/Wilkerson/Aiken MOSS):
    the min k-gram hash of every window of `w` consecutive k-grams, the
    standard LOCAL-overlap detector the corpus-level tiers above lack —
    MinHash grades whole-document similarity; winnowing finds a shared
    PASSAGE (license boilerplate, quoted answer keys, copy-pasted
    functions) inside otherwise unrelated documents, with the guarantee
    that any shared run of >= w + k - 1 tokens yields at least one
    shared fingerprint in both documents.

    Scale shape: ONE Arrow mapInArrow stage over a slim (id, tokens)
    projection — each batch's token column is consumed as the raw Arrow
    buffers (flat values + offsets, zero copies — guide §4.2), window
    hashes come from k shifted multiply-accumulate passes mod P (O(n)
    memory, exact), the winnow minimum from an O(n) block prefix/suffix
    pass (never an (n, w) view), per-row dedup from per-row segment
    sorts + one adjacent-equality pass. One fps ARRAY row per document
    crosses Arrow back (~2/(w+1) of the token volume); the JVM explodes
    it to (id, fp) rows, so only 16-byte rows ever reach an exchange.
    Zero shuffles inside this operator (plan-pinned).

    The hash is a k-term polynomial mod P < 2^31 — replayable exactly
    in plain 64-bit integer SQL, which is what the oracle does (no
    hash mocking). Fingerprint collisions run at ~n_fp^2/2P corpus-wide;
    they are deterministic, identical across engines, and filtered out
    downstream by `winnow_overlap_pairs(min_shared=...)`. Token ids
    must be non-negative (the token-lint oob gate enforces upstream).

    Rows with fewer than k + w - 1 tokens have no winnow window and are
    excluded. Output: (id_col, fp) — distinct per document.

    Reference analogue: the content-overlap lint family of
    /root/reference/bin/analyze_joss.py:199-266, re-expressed as passage
    fingerprints over the token payload.
    """
    import numpy as np
    import pyarrow as pa

    if k < 1 or w < 1:
        raise ValueError("k and w must be >= 1")
    if not (1 < mod_p <= (1 << 31)):
        raise ValueError("mod_p must fit 31 bits")
    powers = _winnow_powers(k, mod_p)
    min_len = k + w - 1

    def winnow_op(it):
        from tokenqc.checks.degeneracy import _list_flat, _sort_segments

        for batch in it:
            if not batch.num_rows:
                continue
            flat, l_offs = _list_flat(batch.column(1))
            flat = flat.astype(np.uint64, copy=False)
            lens = np.diff(l_offs)
            n_win = flat.size - (k - 1)
            h_flat = np.zeros(n_win, dtype=np.uint64)
            for j in range(k):
                h_flat = (h_flat + flat[j : j + n_win] * powers[j]) % mod_p
            # per-row valid hash windows (drop row-straddling starts)
            n_sh = lens - (k - 1)
            offs = np.concatenate(([0], np.cumsum(lens)[:-1]))
            sh_offs = np.cumsum(n_sh) - n_sh
            row_of = np.repeat(np.arange(lens.size), n_sh)
            pos = np.arange(int(n_sh.sum())) - sh_offs[row_of]
            hv = h_flat[offs[row_of] + pos].view(np.int64)
            # winnow: min over each window of w consecutive same-row hashes
            smin = _sliding_min(hv, w)
            nwf = smin.size
            valid = pos[:nwf] <= (n_sh[row_of[:nwf]] - w)
            sel = smin[valid]
            # distinct (row, fp) via per-row segment sorts + one
            # adjacent-eq pass (degeneracy._sort_segments — measured ~18x
            # over the global lexsort this replaced); rows stay
            # contiguous under the valid mask, with n_sh - w + 1
            # winnow positions each
            cnt_w = n_sh - (w - 1)
            wb = np.concatenate(([0], np.cumsum(cnt_w)))
            _sort_segments(sel, wb)
            eq = np.zeros(sel.size, dtype=bool)
            eq[1:] = sel[1:] == sel[:-1]
            eq[wb[1:-1]] = False
            keep = ~eq
            s = sel[keep]
            # ONE fps ARRAY row per doc — the id explodes JVM-side:
            # emitting pre-exploded (id, fp) rows repeated the string id
            # per fingerprint through Arrow (~2.5x the bytes; measured a
            # 1.75x operator regression before this was reverted)
            cnt = np.add.reduceat(keep, wb[:-1])
            f_offs = np.concatenate(([0], np.cumsum(cnt)))
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    pa.ListArray.from_arrays(
                        pa.array(f_offs.astype(np.int32)), pa.array(s)
                    ),
                ],
                names=[id_col, "fps"],
            )

    dtypes = dict(df.dtypes)
    toks = F.col(tokens_col)
    out = (
        df.where(toks.isNotNull() & (F.size(toks) >= min_len))
        .select(id_col, tokens_col)
        .mapInArrow(winnow_op, schema=f"{id_col} {dtypes[id_col]}, fps array<bigint>")
    )
    return out.select(id_col, F.explode("fps").alias("fp"))


def winnow_overlap_pairs(
    fps: DataFrame,
    id_col: str = "doc_id",
    min_shared: int = 3,
    max_fp_df: int | None = 1000,
) -> DataFrame:
    """Document pairs sharing >= min_shared winnowed fingerprints:
    (id_a, id_b, n_shared) — the passage-overlap report over
    `winnow_fingerprints` output (which is distinct per doc, so the
    pair count IS the distinct shared-fingerprint count).

    The self-join fans out quadratically per fingerprint document
    frequency — one license header winnowed into 10^6 docs is a 10^12
    row bucket — so `max_fp_df` prunes hotter-than-cap fingerprints
    from candidate generation (the `ngram_jaccard_pairs` df-cap rule):
    a fingerprint shared by more docs than the cap identifies
    boilerplate, not a pair. None = exact/uncapped. `min_shared`
    additionally suppresses the deterministic mod-P collision floor
    (~1 shared fp between unrelated docs at corpus scale)."""
    idx = fps
    if max_fp_df is not None:
        hot = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > max_fp_df)
            .select("fp")
        )
        idx = fps.join(hot, "fp", "left_anti")
    a, b = idx.alias("a"), idx.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def split_leakage_audit(
    split_df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    split_col: str = "split",
) -> DataFrame:
    """Split-leakage matrix: for every near-dup pair, which splits do
    its two members land in? Output (split_a, split_b, n_pairs) with
    the pair canonicalized (split_a <= split_b) — the off-diagonal
    rows ARE the leaked eval pairs; a leakage-free split has only
    diagonal rows. This is the VERIFICATION half of `cluster_split`:
    run it against any splitter and the matrix is the evidence.

    Two broadcast-eligible joins of the (id, split) dimension onto the
    pair list (pairs are report-sized relative to the corpus; no hint —
    AQE decides), then one partial-agg'd count on ≤ splits² keys.
    """
    s = split_df.select(F.col(id_col), F.col(split_col))
    sa = s.select(F.col(id_col).alias("id_a"), F.col(split_col).alias("_sa"))
    sb = s.select(F.col(id_col).alias("id_b"), F.col(split_col).alias("_sb"))
    joined = pairs.select("id_a", "id_b").join(sa, "id_a").join(sb, "id_b")
    return (
        joined.select(
            F.least("_sa", "_sb").alias("split_a"),
            F.greatest("_sa", "_sb").alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
