"""Statistic operators used only by the corpusops harness and its
streaming jobs, not by the validation engine: the PSI histogram gate,
embedding-snapshot drift and the Tukey-fence length-outlier gate. They
lived in tokenqc until the engine was trimmed to what QCRunner runs."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def psi_from_histograms(
    hist: DataFrame,
    baseline_hist: DataFrame,
    psi_warn: float = 0.1,
    psi_fail: float = 0.25,
    eps: float = 1e-6,
) -> DataFrame:
    """PSI over ALREADY-AGGREGATED (source, bucket, cnt) observations
    vs a (source, bucket, p) baseline — same shared-core shape as
    `js_from_histograms` (sources x buckets rows, one full-outer join,
    entirely JVM-side). Zero-mass buckets on either side are clamped to
    `eps` (the standard convention: a vanished or new bucket
    contributes a large-but-FINITE term where raw KL would explode).

    Output: (source, n_rows, psi, status) — status PASS below
    `psi_warn`, WARN in [psi_warn, psi_fail), FAIL at >= psi_fail
    (graded on the 6-decimal-rounded value, so the verdict is exactly
    reproducible), UNKNOWN for sources with no baseline."""
    tot = hist.groupBy("source").agg(F.sum("cnt").alias("n"))
    obs = hist.join(tot, "source").select(
        "source", "bucket", "n", (F.col("cnt") / F.col("n")).alias("q")
    )
    bsum = baseline_hist.groupBy("source").agg(F.sum("p").alias("psum"))
    base = baseline_hist.join(bsum, "source").select(
        "source", "bucket", (F.col("p") / F.col("psum")).alias("p")
    )
    j = obs.join(base, ["source", "bucket"], "full_outer")
    p = F.greatest(F.coalesce(F.col("p"), F.lit(0.0)), F.lit(eps))
    q = F.greatest(F.coalesce(F.col("q"), F.lit(0.0)), F.lit(eps))
    term = (q - p) * F.log(q / p)
    agg = j.groupBy("source").agg(
        F.max("n").alias("n_rows"),
        F.sum(term).alias("psi_raw"),
        F.max(F.col("p").isNotNull().cast("int")).alias("has_base"),
    )
    psi6 = F.round("psi_raw", 6)
    return agg.select(
        "source",
        F.coalesce(F.col("n_rows"), F.lit(0)).cast("long").alias("n_rows"),
        psi6.alias("psi"),
        F.when(F.col("has_base") == 0, F.lit("UNKNOWN"))
        .when(psi6 >= psi_fail, F.lit("FAIL"))
        .when(psi6 >= psi_warn, F.lit("WARN"))
        .otherwise(F.lit("PASS"))
        .alias("status"),
    )


def embedding_drift(
    cur: DataFrame,
    base: DataFrame,
    vec_col: str = "embedding",
    z_max: float = 3.0,
    eps: float = 1e-12,
) -> DataFrame:
    """Embedding-snapshot drift: per-DIMENSION mean shift of the vector
    store between two table versions, graded against the baseline's own
    spread — the vector-payload member of the snapshot family
    (`snapshot.table_diff` grades row inventory, `psi/js/chi2` grade
    scalar histograms; an embedding model swap or a re-normalization
    bug moves MEANS while leaving row counts and n_tok distributions
    untouched).

        z_d = |mean_cur(d) - mean_base(d)| / sqrt(var_base(d) + eps)

    Variance via the explicit avg(v^2) - avg(v)^2 form (no stddev
    builtin — sample-vs-population conventions differ across engines);
    z rounds to 6 decimals and the verdict grades on the rounded value,
    so Spark and any SQL replay agree exactly.

    Scale shape: each side is ONE posexplode pass partial-aggregated to
    dim-bounded (dim, n, sum, sumsq) rows — the exchange carries at
    most tasks x ndim rows; the join and grading run on the ndim-row
    tables. Null/NaN/empty vectors are excluded (embed_profile owns
    those). Dimensions present on only one side grade NEW_DIM /
    DROPPED_DIM (a width change is a schema event, surfaced here too).

    Output: (dim, n_cur, n_base, mean_cur, mean_base, z, status).
    """
    def side(df: DataFrame, tag: str) -> DataFrame:
        vec = F.col(vec_col)
        no_nan = ~F.exists(vec, lambda x: F.isnan(x))
        return (
            df.where(vec.isNotNull() & (F.size(vec) > 0) & no_nan)
            .select(F.posexplode(vec).alias("dim", "v"))
            .groupBy("dim")
            .agg(
                F.count(F.lit(1)).alias(f"n_{tag}"),
                F.sum(F.col("v").cast("double")).alias(f"s_{tag}"),
                F.sum(
                    F.col("v").cast("double") * F.col("v").cast("double")
                ).alias(f"q_{tag}"),
            )
        )

    j = side(cur, "cur").join(side(base, "base"), "dim", "full_outer")
    mean_c = F.col("s_cur") / F.col("n_cur")
    mean_b = F.col("s_base") / F.col("n_base")
    # clamp: avg(v^2) - mean^2 can come out slightly NEGATIVE from float
    # cancellation on large-magnitude dimensions; sqrt(negative + eps)
    # is NaN and NaN > z_max is false, silently grading a shifted
    # dimension OK (r5 ADVICE). greatest(_, 0) keeps the genuinely-
    # constant-dimension case loud (z explodes on any mean shift).
    var_b = F.greatest(
        F.col("q_base") / F.col("n_base") - mean_b * mean_b, F.lit(0.0)
    )
    z = F.round(F.abs(mean_c - mean_b) / F.sqrt(var_b + F.lit(eps)), 6)
    status = (
        F.when(F.col("n_base").isNull(), F.lit("NEW_DIM"))
        .when(F.col("n_cur").isNull(), F.lit("DROPPED_DIM"))
        .when(z > z_max, F.lit("SHIFTED"))
        .otherwise(F.lit("OK"))
    )
    return j.select(
        "dim",
        "n_cur",
        "n_base",
        F.round(mean_c, 6).alias("mean_cur"),
        F.round(mean_b, 6).alias("mean_base"),
        z.alias("z"),
        status.alias("status"),
    )


def robust_outliers(
    df: DataFrame,
    id_col: str = "doc_id",
    value_col: str = "n_tok",
    by: str = "source",
    k: float = 3.0,
) -> DataFrame:
    """Per-group Tukey-fence outlier gate on DISCRETE quantiles: flag
    rows whose `value_col` falls outside [q1 − k·IQR, q3 + k·IQR],
    where q1/q3 are the smallest values whose per-group cumulative
    count reaches ceil(0.25·n)/ceil(0.75·n) — the robust-stats length
    gate ("this 50k-token row is not like the others from this
    source") the mean/stddev profile misses under heavy tails.

    Discrete, not interpolated, quantiles on purpose: every quantity
    is integer arithmetic (counts and values), so the fence — and
    therefore ROW MEMBERSHIP of the flagged set — is bit-identical in
    any engine; interpolated percentiles differ in final-ulp float ops
    across engines and would flip boundary rows.

    Scale shape: one partial-agg'd (group, value) count — the only
    data-sized pass; the quantile walk is a window over that HISTOGRAM
    (groups × distinct values rows, e.g. sources × max_len — metadata-
    sized for bounded domains like token lengths; bucket a genuinely
    unbounded domain first). Fences broadcast back; the flag filter is
    codegen'd in the join projection.

    Reference analogue: the reference's numeric threshold gates over
    almanack metrics (/root/reference/bin/analyze_joss.py:302-345),
    made distribution-relative.

    Output: flagged rows (id, group, value, q1, q3, lo, hi).
    """
    v, g = F.col(value_col), F.col(by)
    base = df.where(v.isNotNull() & g.isNotNull())
    hist = base.groupBy(by, value_col).agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy(by).orderBy(value_col)
    wg = Window.partitionBy(by)
    cum = (
        hist.withColumn("cum", F.sum("c").over(w))
        .withColumn("n_s", F.sum("c").over(wg))
    )
    qv = lambda p: F.min(  # noqa: E731
        F.when(F.col("cum") >= F.ceil(F.col("n_s") * p), v)
    )
    fences = (
        cum.groupBy(by)
        .agg(qv(0.25).alias("q1"), qv(0.75).alias("q3"))
        .withColumn("lo", F.col("q1") - k * (F.col("q3") - F.col("q1")))
        .withColumn("hi", F.col("q3") + k * (F.col("q3") - F.col("q1")))
    )
    return (
        base.join(F.broadcast(fences), by)
        .where((v < F.col("lo")) | (v > F.col("hi")))
        .select(id_col, by, value_col, "q1", "q3", "lo", "hi")
    )
