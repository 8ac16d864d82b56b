"""End-to-end corpus curation: the composition a training-data pipeline
actually runs, built entirely from the engine's operators.

Stages (each row gets the FIRST reason that drops it, or survives):

1. **language gate** — keep documents whose predicted language is in
   `allowed_langs` (textqc.lang_id).
2. **quality gate** — keep documents with quality_score >= min_quality
   (textqc.quality_score).
3. **exact dedup** — one canonical document (minimum doc_id) per
   byte-identical text group (md5 grouping; only 16-byte digests
   shuffle).
4. **near-dup dedup** — among remaining docs, connected components over
   the n-gram-Jaccard pair graph; only each cluster's minimum id
   survives (dedup.ngram_jaccard_pairs + dedup.connected_components).
5. **split** — survivors get a leakage-safe train/val/test assignment
   (textqc.deterministic_split).

Scale shape: stages 1-2 are one narrow scan; stage 3 shuffles digests;
stage 4 runs the pair generation only over gate survivors (at corpus
scale swap ngram_jaccard_pairs for minhash_lsh_pairs — same contract);
stage 5 is a projection. Output is the full audit frame: every input
row with (lang_pred, quality_score, drop_reason, kept, split).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from corpusops.textops import dedup, textqc


def curate(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    allowed_langs: tuple[str, ...] = ("en",),
    min_quality: float = 0.5,
    jaccard_threshold: float = 0.6,
    shingle_n: int = 3,
    use_lsh: bool = False,
    keep: str = "min_id",
) -> DataFrame:
    """Audit frame for the whole curation flow: one row per input doc
    with (doc_id, lang_pred, quality_score, drop_reason, kept, split);
    split is NULL for dropped rows. `use_lsh=True` generates near-dup
    pairs through MinHash-LSH banding instead of the exact inverted
    index — the corpus-scale path (same output contract; candidates are
    still exact-Jaccard-verified, LSH only bounds candidate generation).

    `keep` picks the near-dup-cluster survivor: "min_id" (default,
    deterministic canonical id) or "best" (highest quality_score,
    min-id tie-break, via dedup.cluster_representatives — the map-side
    aggregation argmax, no per-cluster window). Exact-dup groups are
    unaffected: byte-identical texts share one quality score, so
    "best" degenerates to the same min-id choice there."""
    if keep not in ("min_id", "best"):
        raise ValueError(f"keep must be 'min_id' or 'best', got {keep!r}")
    base = docs.select(F.col(id_col), F.col(text_col))
    lang = textqc.lang_id(base, id_col, text_col)
    qual = textqc.quality_score(base, id_col, text_col).select(
        id_col, "quality_score"
    )
    ann = (
        base.join(lang, id_col)
        .join(qual, id_col)
        .withColumn("__lang_ok", F.col("lang_pred").isin(*allowed_langs))
        .withColumn("__qual_ok", F.col("quality_score") >= min_quality)
    )

    # stage 3: canonical = min id per md5(text) among gate survivors
    gate_ok = ann.where(F.col("__lang_ok") & F.col("__qual_ok"))
    w = Window.partitionBy(F.md5(F.col(text_col)))
    exact_keep = gate_ok.withColumn("__min_id", F.min(id_col).over(w)).withColumn(
        "__exact_ok", F.col(id_col) == F.col("__min_id")
    )

    # stage 4: near-dup components among exact survivors; min id survives
    survivors = exact_keep.where(F.col("__exact_ok")).select(id_col, text_col)
    pair_fn = dedup.minhash_lsh_pairs if use_lsh else dedup.ngram_jaccard_pairs
    pairs = pair_fn(
        survivors, id_col, text_col, n=shingle_n, threshold=jaccard_threshold
    )
    comps = dedup.connected_components(pairs).withColumnRenamed("id", id_col)
    if keep == "best":
        reps = dedup.cluster_representatives(
            comps, qual, id_col=id_col, score_col="quality_score"
        ).select("component", F.col("rep_id").alias("__rep"))
        near_dropped = (
            comps.join(reps, on="component")
            .where(F.col(id_col) != F.col("__rep"))
            .select(F.col(id_col), F.lit(True).alias("__near_dup"))
        )
    else:
        near_dropped = comps.where(F.col(id_col) != F.col("component")).select(
            F.col(id_col), F.lit(True).alias("__near_dup")
        )

    audited = (
        ann.join(
            exact_keep.select(id_col, "__exact_ok"), on=id_col, how="left"
        )
        .join(near_dropped, on=id_col, how="left")
        .withColumn(
            "drop_reason",
            F.when(~F.col("__lang_ok"), "lang")
            .when(~F.col("__qual_ok"), "quality")
            .when(~F.coalesce(F.col("__exact_ok"), F.lit(True)), "exact_dup")
            .when(F.col("__near_dup"), "near_dup"),
        )
        .withColumn("kept", F.col("drop_reason").isNull())
    )
    split = textqc.deterministic_split(audited.select(id_col), id_col).select(
        id_col, "split"
    )
    return (
        audited.join(split, on=id_col)
        .select(
            id_col,
            "lang_pred",
            "quality_score",
            "drop_reason",
            "kept",
            F.when(F.col("kept"), F.col("split")).alias("split"),
        )
    )
